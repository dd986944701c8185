"""Corpus-wide n-gram relations and corpus preparation: bigram LMs,
winnowing, collocations, decontamination. The heavy half of the text
split (see ``text``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.operators import text
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _GREATEST, _NORM, _STOP_HITS, _TOKS, _logreg_oracle_sql, _marker_hits, _shingle_cte,
)
from breweries_etl_spark.sources.tables import load_table

query = family("textgrams")


@query(oracle=f"""
WITH norm AS (SELECT source, string_split({_NORM}, ' ') AS w FROM documents),
g AS (
  SELECT source,
    unnest(list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
  FROM norm
)
SELECT source, CAST(count(*) AS BIGINT) AS total_ngrams,
  CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
  round(count(DISTINCT g) / CAST(count(*) AS DOUBLE), 6) AS diversity
FROM g GROUP BY source
""")
def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 3-gram type/token diversity — the cross-document
    repetitiveness signal for boilerplate-heavy sources."""
    return text.ngram_diversity(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH norm AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
), g AS (
  SELECT doc_id,
    list_transform(range(1, len(w) - 2),
      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS grams
  FROM norm
), h AS (
  SELECT doc_id,
    list_transform(grams,
      s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)) AS hs
  FROM g
), f AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, greatest(len(hs) - 4, 0) + 1),
      j -> list_min(hs[j:j+4]))) AS fps
  FROM h
)
SELECT doc_id, unnest(fps) AS fingerprint FROM f WHERE len(fps) > 0
""")
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint index (k=4 word-grams, window 5): the
    MOSS-style local-similarity detector; md5-derived hashes replay
    exactly in SQL."""
    return text.winnowing_fingerprints(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH base AS (
  SELECT regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks FROM documents
), uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS tok FROM base) GROUP BY tok
), n_tok AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
bg AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2, CAST(count(*) AS BIGINT) AS c_ab
  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM base)
  GROUP BY 1, 2
), n_bg AS (SELECT CAST(sum(c_ab) AS BIGINT) AS b FROM bg)
SELECT w1, w2, c_ab,
  round(ln((CAST(c_ab AS DOUBLE) * n * n)
           / (CAST(b AS DOUBLE) * ca.c * cb.c)), 6) AS pmi
FROM bg
JOIN uni ca ON bg.w1 = ca.tok
JOIN uni cb ON bg.w2 = cb.tok
CROSS JOIN n_tok CROSS JOIN n_bg
WHERE c_ab >= 5
ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20
""")
def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token collocations by PMI (min bigram count 5,
    broadcast unigram joins, single-expression double arithmetic)."""
    return text.collocation_pmi(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
  FROM documents
), d2 AS (
  SELECT doc_id, toks FROM docs WHERE len(toks) >= 2
), idx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM d2
), big AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM idx
), bc AS (
  SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2
), uc AS (
  SELECT w1, sum(c2) AS c1 FROM bc GROUP BY 1
), vocab AS (
  SELECT count(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM docs) u
), scored AS (
  SELECT b.doc_id,
    CAST(round(ln((bc.c2 + 0.5) / (uc.c1 + 0.5 * vocab.v)) * 1e6, 0)
         AS BIGINT) AS lp_micro
  FROM big b JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
  JOIN uc ON b.w1 = uc.w1 CROSS JOIN vocab
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
    round(sum(lp_micro) / (CAST(count(*) AS DOUBLE) * 1e6), 6)
      AS avg_logprob
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_logprob,
  round(exp(-avg_logprob), 3) AS ppl
FROM agg
""")
def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram-LM perplexity per document (CCNet-style
    quality signal): corpus bigram/unigram counts + vocabulary, add-0.5
    smoothing, mean per-bigram log-prob rounded before averaging."""
    return text.bigram_lm_scores(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH docs AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
  FROM documents
), d2 AS (
  SELECT doc_id, toks FROM docs WHERE len(toks) >= 2
), idx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM d2
), big AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM idx
), bc AS (
  SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2
), uc AS (
  SELECT w1, sum(c2) AS c1 FROM bc GROUP BY 1
), vocab AS (
  SELECT count(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM docs) u
), scored AS (
  SELECT b.doc_id,
    CAST(round(ln((bc.c2 + 0.5) / (uc.c1 + 0.5 * vocab.v)) * 1e6, 0)
         AS BIGINT) AS lp_micro
  FROM big b JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
  JOIN uc ON b.w1 = uc.w1 CROSS JOIN vocab
), agg AS (
  SELECT doc_id,
    round(sum(lp_micro) / (CAST(count(*) AS DOUBLE) * 1e6), 6)
      AS avg_logprob
  FROM scored GROUP BY doc_id
), ppls AS (
  SELECT d.doc_id, d.lang, round(exp(-a.avg_logprob), 3) AS ppl
  FROM documents d JOIN agg a ON d.doc_id = a.doc_id
), cut AS (
  SELECT doc_id, lang, ppl,
    CAST(ntile(3) OVER (PARTITION BY lang ORDER BY ppl ASC, doc_id ASC)
         AS BIGINT) AS bucket
  FROM ppls
)
SELECT doc_id, lang, ppl, bucket,
  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              ELSE 'tail' END AS slice
FROM cut
""")
def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail: per-language perplexity terciles over the
    bigram-LM scores; ntile over the total order (ppl, doc_id) is
    deterministic, so DuckDB replays the assignment exactly."""
    return text.perplexity_buckets(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH {_shingle_cte(3)},
sh_ok AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
b AS (
  SELECT doc_id,
    CAST('0x' || substring(md5(CAST(doc_id AS STRING)), 1, 4) AS BIGINT) AS bucket
  FROM documents
),
test_sh AS (
  SELECT sh_ok.doc_id, unnest(s) AS sg
  FROM sh_ok JOIN b ON sh_ok.doc_id = b.doc_id WHERE bucket < 6553
),
train_vocab AS (
  SELECT DISTINCT unnest(s) AS sg
  FROM sh_ok JOIN b ON sh_ok.doc_id = b.doc_id WHERE bucket >= 6553
),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM test_sh GROUP BY doc_id),
hit AS (
  SELECT doc_id, count(*) AS n_overlap FROM test_sh
  WHERE sg IN (SELECT sg FROM train_vocab) GROUP BY doc_id
)
SELECT t.doc_id, t.n_shingles,
  COALESCE(h.n_overlap, 0) AS n_overlap,
  round(COALESCE(h.n_overlap, 0) / t.n_shingles, 6) AS contamination
FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
""")
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination signal: for each test-split document,
    the fraction of its distinct trigram shingles present anywhere in
    the train split (hash-keyed 90/10 split, so membership is
    engine-invariant and the oracle can reproduce it)."""
    from breweries_etl_spark.operators.corpus import contamination_check
    from breweries_etl_spark.operators.sampling import train_test_split

    docs = load_table(spark, sf_dir, "documents")
    train, test = train_test_split(docs, "doc_id", test_fraction=0.1)
    return contamination_check(train, test, n=3)


@query(oracle=f"""
WITH {_shingle_cte(3)},
sh_ok AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
b AS (
  SELECT doc_id,
    CAST('0x' || substring(md5(CAST(doc_id AS STRING)), 1, 4) AS BIGINT) AS bucket
  FROM documents
),
train_sh AS (
  SELECT sh_ok.doc_id, unnest(s) AS sg
  FROM sh_ok JOIN b ON sh_ok.doc_id = b.doc_id WHERE bucket >= 6553
),
test_vocab AS (
  SELECT DISTINCT unnest(s) AS sg
  FROM sh_ok JOIN b ON sh_ok.doc_id = b.doc_id WHERE bucket < 6553
),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM train_sh GROUP BY doc_id),
hit AS (
  SELECT doc_id, count(*) AS n_overlap FROM train_sh
  WHERE sg IN (SELECT sg FROM test_vocab) GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id,
    CAST(COALESCE(t.n_shingles, 0) AS BIGINT) AS n_shingles,
    CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
    round(COALESCE(h.n_overlap, 0)
          / greatest(COALESCE(t.n_shingles, 0), 1), 6) AS contamination
  FROM documents d
  JOIN b ON d.doc_id = b.doc_id
  LEFT JOIN tot t ON d.doc_id = t.doc_id
  LEFT JOIN hit h ON d.doc_id = h.doc_id
  WHERE b.bucket >= 6553
)
SELECT doc_id, n_shingles, n_overlap, contamination,
  contamination <= 0.2 AS keep
FROM scored
""")
def q_decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TRAIN-doc overlap vs the TEST shingle vocabulary with the
    removal flag (GPT-3-style decontamination, actionable form). Same
    hash split as contamination_check, roles reversed."""
    from breweries_etl_spark.operators.corpus import decontaminate_train
    from breweries_etl_spark.operators.sampling import train_test_split

    docs = load_table(spark, sf_dir, "documents")
    train, test_split = train_test_split(docs, "doc_id", 0.1)
    return decontaminate_train(train, test_split)


@query(oracle=_logreg_oracle_sql())
def q_logreg_train_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression TRAINING (5 full-batch GD
    iterations, hashed bag-of-words, en-vs-rest label). Gradients
    accumulate in integer micro-units so the whole training run is
    order-independent and replays bit-for-bit in SQL."""
    from breweries_etl_spark.operators.mltrain import train_logreg_hashed

    docs = load_table(spark, sf_dir, "documents")
    return train_logreg_hashed(docs, F.col("lang") == "en")


@query(bench=False, oracle=f"""
WITH hits AS (
  SELECT doc_id, text,
    {_marker_hits("en")} AS h_en,
    {_marker_hits("es")} AS h_es,
    {_marker_hits("de")} AS h_de,
    {_marker_hits("fr")} AS h_fr
  FROM documents
), base AS (
  SELECT doc_id,
    CASE WHEN len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh'
         WHEN {_GREATEST} = 0 THEN 'unknown'
         WHEN h_en = {_GREATEST} THEN 'en'
         WHEN h_es = {_GREATEST} THEN 'es'
         WHEN h_de = {_GREATEST} THEN 'de'
         ELSE 'fr' END AS lang_pred,
    round(
      0.5 * least(1.0, CAST(len({_TOKS}) AS DOUBLE) / 100.0)
      + 0.3 * (CASE WHEN len({_TOKS}) > 0
          THEN CAST({_STOP_HITS} AS DOUBLE)
               / CAST(len({_TOKS}) AS DOUBLE) ELSE 0.0 END)
      + 0.2 * (1.0 - CASE WHEN len({_TOKS}) > 0
          THEN least(1.0, CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                          / CAST(len({_TOKS}) AS DOUBLE)) ELSE 0.0 END)
    , 6) AS q,
    CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
    md5({_NORM}) AS content_key,
    CAST('0x' || substring(md5(CAST(doc_id AS STRING)), 1, 4) AS BIGINT) AS bucket
  FROM hits
), filtered AS (
  SELECT * FROM base WHERE lang_pred = 'en' AND q >= 0.5
), keepers AS (
  SELECT content_key, min(doc_id) AS doc_id FROM filtered GROUP BY content_key
)
SELECT CASE WHEN bucket < 6553 THEN 'test' ELSE 'train' END AS split,
  count(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  round(CAST(SUM(CAST(q AS DECIMAL(10,6))) AS DOUBLE) / count(*), 6) AS avg_quality
FROM filtered f
JOIN keepers k ON f.doc_id = k.doc_id
GROUP BY split ORDER BY split
""")
def q_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite corpus-prep pipeline (operators/corpus.py): lang filter →
    quality floor → exact dedup → hash split → per-split accounting, all
    signals computed in one scan."""
    from breweries_etl_spark.operators.corpus import training_data_prep

    return training_data_prep(load_table(spark, sf_dir, "documents"))


@query(bench=False, oracle=f"""
WITH RECURSIVE {_shingle_cte(3)},
sh_ok AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh_ok),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
j AS (
  SELECT id_a, id_b,
    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE) AS jac
  FROM cand JOIN sh_ok x ON x.doc_id = id_a JOIN sh_ok y ON y.doc_id = id_b
),
pairs AS (SELECT id_a, id_b FROM j WHERE round(jac, 6) >= 0.5),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.dst AS node, rr.r FROM reach rr JOIN edges e ON e.src = rr.node
),
clusters AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
lab AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
)
SELECT doc_id, cluster_id,
  CASE WHEN CAST('0x' || substring(md5(CAST(cluster_id AS STRING)), 1, 4) AS BIGINT) < 6553
       THEN 'test' ELSE 'train' END AS split
FROM lab
""")
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware train/test split: same-cluster docs land
    on the same side (hash of the cluster id, not the doc id)."""
    from breweries_etl_spark.operators.corpus import leakage_safe_split

    return leakage_safe_split(load_table(spark, sf_dir, "documents"))


# Lee et al. 2022 positional substring dedup: k=8 token windows hashed
# to a 16-hex md5 prefix; a window is duplicated iff its hash occurs
# >= 2 times corpus-wide; spans merge via lead() over per-doc starts
# (sorted starts s_1..s_m cover sum(min(k, s_{i+1}-s_i)) + k tokens).
@query(bench=False, oracle=f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
tt AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) >= 8 AND w[1] <> ''),
idx AS (SELECT doc_id, w, unnest(generate_series(0, n - 8)) AS start FROM tt),
win AS (SELECT doc_id, start,
        substring(md5(array_to_string(w[start+1:start+8], ' ')), 1, 16) AS h
        FROM idx),
duph AS (SELECT h FROM win GROUP BY h HAVING count(*) >= 2),
d AS (SELECT doc_id, start FROM win JOIN duph USING (h)),
sp AS (SELECT doc_id, start,
       lead(start) OVER (PARTITION BY doc_id ORDER BY start) AS nxt FROM d),
agg AS (SELECT doc_id,
        CAST(count(*) AS BIGINT) AS n_dup_windows,
        CAST(sum(CASE WHEN nxt IS NULL OR nxt - start >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
        CAST(sum(CASE WHEN nxt IS NULL THEN 8 ELSE least(8, nxt - start) END) AS BIGINT) AS removed_tokens
        FROM sp GROUP BY doc_id)
SELECT tt.doc_id, CAST(tt.n AS BIGINT) AS n_tokens,
  coalesce(a.n_dup_windows, 0) AS n_dup_windows,
  coalesce(a.n_spans, 0) AS n_spans,
  coalesce(a.removed_tokens, 0) AS removed_tokens,
  round(coalesce(a.removed_tokens, 0) / CAST(tt.n AS DOUBLE), 6) AS removed_fraction
FROM tt LEFT JOIN agg a USING (doc_id)
""")
def q_duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional exact-substring duplication spans (Lee et al. 2022
    arXiv:2107.06499) — per-doc duplicated-window, merged-span, and
    removable-token stats at k=8 tokens."""
    from breweries_etl_spark.operators.corpus import duplicate_span_stats

    return duplicate_span_stats(load_table(spark, sf_dir, "documents"))


# DSIR (Xie et al. 2023): hashed-unigram log-likelihood ratio, portable
# md5 bucket, per-bucket log-ratio rounded to 6dp, per-doc sum as
# integer-count x 6dp-decimal (order-independent).
@query(bench=False, oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
),
tk AS (SELECT doc_id, lang,
       CAST('0x' || substring(md5(tok), 1, 4) AS BIGINT) % 256 AS b
       FROM toks WHERE tok <> ''),
dc AS (SELECT doc_id, b, count(*) AS c FROM tk GROUP BY 1, 2),
raw AS (SELECT b, count(*) AS cr FROM tk GROUP BY 1),
tgt AS (SELECT b, count(*) AS ct FROM tk WHERE lang = 'en' GROUP BY 1),
nr AS (SELECT sum(cr) AS nr FROM raw),
nt AS (SELECT sum(ct) AS nt FROM tgt),
lr AS (SELECT raw.b,
       round(ln((coalesce(tgt.ct, 0) + 1) / CAST(nt.nt + 256 AS DOUBLE))
             - ln((raw.cr + 1) / CAST(nr.nr + 256 AS DOUBLE)), 6) AS lr
       FROM raw LEFT JOIN tgt USING (b), nr, nt)
SELECT dc.doc_id,
  CAST(sum(dc.c) AS BIGINT) AS n_tokens,
  CAST(sum(CAST(dc.c * lr.lr AS DECIMAL(24,6))) AS DOUBLE) AS log_weight
FROM dc JOIN lr USING (b)
GROUP BY dc.doc_id
""")
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights (Xie et al. 2023
    arXiv:2302.03169): hashed-unigram log-likelihood ratio of the
    target-language slice vs the raw corpus, per document."""
    from breweries_etl_spark.operators.corpus import dsir_importance_weights

    return dsir_importance_weights(load_table(spark, sf_dir, "documents"))


@query(bench=False, oracle=f"""
WITH base AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks), 48)) AS start
  FROM base WHERE len(toks) > 0 AND toks[1] <> ''
)
SELECT doc_id,
  CAST((start - 1) // 48 AS BIGINT) AS chunk_idx,
  CAST(start AS BIGINT) AS start_token,
  CAST(len(toks[start:start + 63]) AS BIGINT) AS n_chunk_tokens,
  md5(array_to_string(toks[start:start + 63], ' ')) AS chunk_md5
FROM s
""")
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token chunking (64-token windows, stride 48):
    sequence+posexplode in-row, chunk content as md5 so the output stays
    narrow."""
    from breweries_etl_spark.operators.corpus import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )
