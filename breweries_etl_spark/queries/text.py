"""Per-document text operators: stats, quality flags, fingerprints and
UDTFs.

The text family is split: with 17 queries in one JVM the gram-relation
heavyweights at the tail ran about 2x slow (winnowing 1.6 s fresh vs
4.0 s in-family), so they bench apart as ``textgrams``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.operators import multimodal, text
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _CLF_WEIGHTS, _GREATEST, _NORM, _REPETITION_CTE, _STOP_HITS, _TOKS, _marker_hits,
    _shingle_cte,
)
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("text")


@query(oracle=f"""
SELECT doc_id,
  length(text) AS n_chars_actual,
  len({_TOKS}) AS n_tokens,
  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
  length(regexp_replace(text, '[^A-Za-z0-9_]', '', 'g')) AS n_alnum_chars,
  round(CASE WHEN len({_TOKS}) > 0
    THEN CAST(length(regexp_replace(text, '[^A-Za-z0-9_]', '', 'g')) AS DOUBLE)
         / CAST(len({_TOKS}) AS DOUBLE)
    ELSE 0.0 END, 6) AS avg_token_len,
  round(CASE WHEN len({_TOKS}) > 0
    THEN CAST({_STOP_HITS} AS DOUBLE)
         / CAST(len({_TOKS}) AS DOUBLE)
    ELSE 0.0 END, 6) AS stopword_ratio
FROM documents
""")
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH t AS (
  SELECT doc_id,
    list_transform(regexp_extract_all(lower(coalesce(text, '')), '[A-Za-z0-9_]+'),
      tok -> ({_CLF_WEIGHTS})[
        (CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % 256 + 1)::INTEGER
      ]) AS ws
  FROM documents
), z AS (
  SELECT doc_id, CASE WHEN len(ws) > 0
    THEN round(1.0 / (1.0 + exp(-(list_sum(ws) / len(ws)))), 6)
    ELSE 0.5 END AS quality_score
  FROM t
)
SELECT doc_id, quality_score, quality_score >= 0.5 AS keep FROM z
""")
def q_classifier_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear quality-classifier score (fasttext-filter shape) —
    pure per-row expressions, weight vector as plan literals, no
    shuffle; oracled by replaying the md5 bucket arithmetic and the
    same literal weights in SQL."""
    from breweries_etl_spark.operators.filtering import classifier_quality_score

    return classifier_quality_score(load_table(spark, sf_dir, "documents"))


@query(oracle="""
SELECT event_type, count(*) AS n,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
""")
def q_json_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: parse the JSON props string with
    a DECLARED schema (from_json) and aggregate the extracted field —
    stays fully JVM-side."""
    ev = load_events(spark, sf_dir)
    k = F.from_json(F.col("props"), "k BIGINT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(oracle=f"""
WITH {_shingle_cte(5)}
SELECT doc_id,
  coalesce(list_aggregate([md5(x) FOR x IN s], 'min'), md5(nt)) AS fingerprint,
  md5(nt) AS content_md5
FROM sh
""")
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH {_REPETITION_CTE}, scal AS (
  SELECT doc_id,
    round(CAST(l_norm - (n_words_sc - 1) AS DOUBLE) / n_words_sc, 6)
      AS mean_word_len,
    round((hash_count + ellipsis_count) / n_words_sc, 6) AS symbol_ratio,
    stop_hits AS stopword_hits
  FROM (
    SELECT doc_id,
      CASE WHEN len(norm) = 0 THEN 0
           ELSE len(string_split(norm, ' ')) END AS n_words_sc,
      len(norm) AS l_norm,
      len(text) - len(replace(text, '#', '')) AS hash_count,
      (len(text) - len(replace(text, '...', ''))) / 3 AS ellipsis_count,
      CAST({_STOP_HITS} AS BIGINT) AS stop_hits
    FROM (SELECT doc_id, text, {_NORM} AS norm FROM documents)
  )
), flagged AS (
  SELECT r.doc_id, r.n_words, s.mean_word_len, s.symbol_ratio,
    s.stopword_hits, r.dup_word_fraction, r.top_bigram_fraction,
    (r.n_words >= 50 AND r.n_words <= 100000) AS ok_word_count,
    (s.mean_word_len >= 3.0 AND s.mean_word_len <= 10.0) AS ok_mean_word_len,
    (s.symbol_ratio <= 0.1) AS ok_symbol_ratio,
    (s.stopword_hits >= 2) AS ok_stopwords,
    (r.top_bigram_fraction <= 0.2) AS ok_repetition
  FROM reps r JOIN scal s USING (doc_id)
)
SELECT *, (ok_word_count AND ok_mean_word_len AND ok_symbol_ratio
           AND ok_stopwords AND ok_repetition) AS keep
FROM flagged
""")
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table-A1 keep/drop flags (word count, mean word length,
    symbol ratio, stopword floor, bigram repetition cap) with the numeric
    signals behind them; `keep` is the conjunction."""
    from breweries_etl_spark.operators.filtering import gopher_quality_flags

    return gopher_quality_flags(load_table(spark, sf_dir, "documents"))


@query(oracle="""
SELECT doc_id,
  CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % 1024 AS feature_idx,
  count(*) AS n
FROM (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS tok
  FROM documents
)
GROUP BY doc_id, feature_idx
""")
def q_feature_hash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick sparse featurization of the document corpus
    (1024-dim md5 buckets, no vocabulary join)."""
    from breweries_etl_spark.operators.text import feature_hash_counts

    return feature_hash_counts(load_table(spark, sf_dir, "documents"), dim=1024)


@query(oracle=f"""
WITH base AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
             || ' ' || w[i+4])) AS grams
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
), sh AS (
  SELECT doc_id, unnest(grams) AS s FROM base
), wf AS (
  SELECT doc_id, count(*) OVER (PARTITION BY s) AS doc_freq FROM sh
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
  CAST(count(*) FILTER (doc_freq >= 2) AS BIGINT) AS n_shared,
  round(count(*) FILTER (doc_freq >= 2) / CAST(count(*) AS DOUBLE), 6)
    AS shared_fraction
FROM wf GROUP BY doc_id
""")
def q_corpus_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of distinct 5-gram shingles shared with at
    least one other document — window-count doc frequency, no self-join,
    no pair blowup."""
    from breweries_etl_spark.operators.filtering import ngram_dup_fraction

    return ngram_dup_fraction(load_table(spark, sf_dir, "documents"), n=5)


@query(oracle="""
WITH split AS (
  SELECT doc_id,
    list_filter(
      list_transform(string_split_regex(text, '[.!?]+'),
                     x -> regexp_replace(x, '^[ \\t\\n\\r]+|[ \\t\\n\\r]+$', '', 'g')),
      x -> x <> '') AS sents
  FROM documents WHERE text IS NOT NULL
), idx AS (
  SELECT doc_id, sents, unnest(generate_series(1, len(sents))) AS i FROM split
)
SELECT doc_id, CAST(i - 1 AS INTEGER) AS sent_idx, sents[i] AS sentence,
  CAST(length(sents[i]) AS BIGINT) AS sent_chars
FROM idx
""")
def q_split_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table-function API) applied via LATERAL:
    one row per non-empty sentence with index and length. Regex-simple
    semantics so DuckDB list algebra replays them exactly."""
    from breweries_etl_spark.operators.udtfs import register_udtfs

    register_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence,
               CAST(s.n_chars AS BIGINT) AS sent_chars
        FROM __udtf_docs d, LATERAL split_sentences(d.text) s
        """
    )


@query(oracle="""
WITH a AS (
  SELECT doc_id AS asset_id, text FROM documents
  WHERE text IS NOT NULL AND len(text) >= 2
), off AS (
  SELECT asset_id, text,
    unnest(generate_series(0, len(text) // 2 * 2 - 2, 2)) AS o
  FROM a
), samp AS (
  SELECT asset_id, o // 2 AS i,
    ascii(substring(text, o + 1, 1))
      + 256 * ascii(substring(text, o + 2, 1)) AS v
  FROM off
), fr AS (
  SELECT asset_id, i // 256 AS frame_idx, i, v FROM samp
), st AS (
  SELECT asset_id, frame_idx, count(*) AS n,
    sum(v * v) AS ss, sum(v) AS sv
  FROM fr GROUP BY 1, 2
), zc AS (
  SELECT f1.asset_id, f1.frame_idx,
    count(*) FILTER (
      (f1.v * st.n - st.sv) * (f2.v * st.n - st.sv) < 0
    ) AS zcr
  FROM fr f1
  JOIN fr f2 ON f2.asset_id = f1.asset_id AND f2.i = f1.i + 1
    AND f2.i // 256 = f1.frame_idx
  JOIN st ON st.asset_id = f1.asset_id AND st.frame_idx = f1.frame_idx
  GROUP BY 1, 2
)
SELECT st.asset_id, CAST(st.frame_idx AS BIGINT) AS frame_idx,
  CAST(st.n AS BIGINT) AS n_samples,
  round(sqrt(st.ss / CAST(st.n AS DOUBLE)), 6) AS rms,
  CAST(coalesce(zc.zcr, 0) AS BIGINT) AS zcr
FROM st LEFT JOIN zc
  ON zc.asset_id = st.asset_id AND zc.frame_idx = st.frame_idx
""")
def q_audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio plumbing over the asset table: payload bytes as 16-bit LE
    PCM → 256-sample frames → exact-integer RMS + mean-centered
    zero-crossing count per frame. The corpus is ASCII (verified), so
    the DuckDB oracle's character arithmetic equals Spark's byte view."""
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.assets_from_documents(docs)
    return multimodal.audio_frame_features(assets)


@query(bench=False, oracle="""
WITH injected AS (
  SELECT doc_id,
    substring(text, 1, 40) || ' contact user' || CAST(doc_id AS STRING)
      || '@example.com or +1 (555) 000-' || CAST(doc_id AS STRING) || ' now' AS text
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
FROM injected
""")
def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over text with deterministic injected email/phone."""
    from breweries_etl_spark.operators.text import redact_pii

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 000-"),
            F.col("doc_id").cast("string"),
            F.lit(" now"),
        ).alias("text"),
    )
    return redact_pii(docs).select("doc_id", F.col("text").alias("redacted"))


@query(bench=False, oracle="""
SELECT event_type, count(*) AS n,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k
FROM events GROUP BY event_type
""")
def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless semi-structured handling via Spark 4's VARIANT type:
    ``parse_json`` once into a binary variant, then typed path extraction
    (``try_variant_get``) — the scale posture for ragged JSON where a
    declared from_json schema would drop unknown fields. Shares its
    oracle semantics with json_extract_stats but exercises the variant
    codepath; quantile-free aggregates keep it engine-portable."""
    ev = load_events(spark, sf_dir)
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
        )
    )


@query(bench=False, oracle="""
SELECT c_custkey,
  substring(c_name, 1, 8) AS name8,
  lpad(CAST(c_custkey AS STRING), 8, '0') AS padded,
  replace(c_name, 'Customer', 'Cust') AS swapped,
  reverse(substring(c_name, 1, 8)) AS rev8,
  split_part(c_name, '#', 2) AS num_part,
  lower(c_mktsegment) AS segment_lc
FROM customer
""")
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface (substring/lpad/replace/reverse/
    split_part/lower) — one pass, all codegen."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.substring("c_name", 1, 8).alias("name8"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("swapped"),
        F.reverse(F.substring("c_name", 1, 8)).alias("rev8"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("num_part"),
        F.lower(F.col("c_mktsegment")).alias("segment_lc"),
    )


@query(bench=False, oracle=f"""
SELECT doc_id, round(
  0.5 * least(1.0, CAST(len({_TOKS}) AS DOUBLE) / 100.0)
  + 0.3 * (CASE WHEN len({_TOKS}) > 0
      THEN CAST({_STOP_HITS} AS DOUBLE)
           / CAST(len({_TOKS}) AS DOUBLE) ELSE 0.0 END)
  + 0.2 * (1.0 - CASE WHEN len({_TOKS}) > 0
      THEN least(1.0, CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                      / CAST(len({_TOKS}) AS DOUBLE)) ELSE 0.0 END)
, 6) AS quality_score
FROM documents
""")
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(load_table(spark, sf_dir, "documents"))


@query(bench=False, oracle=f"""
WITH hits AS (
  SELECT doc_id, text,
    {_marker_hits("en")} AS h_en,
    {_marker_hits("es")} AS h_es,
    {_marker_hits("de")} AS h_de,
    {_marker_hits("fr")} AS h_fr
  FROM documents
)
SELECT doc_id,
  CASE WHEN len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh'
       WHEN {_GREATEST} = 0 THEN 'unknown'
       WHEN h_en = {_GREATEST} THEN 'en'
       WHEN h_es = {_GREATEST} THEN 'es'
       WHEN h_de = {_GREATEST} THEN 'de'
       ELSE 'fr' END AS lang_pred
FROM hits
""")
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(load_table(spark, sf_dir, "documents"))


@query(bench=False, oracle="""
SELECT doc_id,
  CASE WHEN trim(text) = '' THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS n_word_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS n_bpe_tokens
FROM documents
""")
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_counts(load_table(spark, sf_dir, "documents"))


@query(bench=False, oracle=f"""
SELECT doc_id,
  CASE WHEN {_NORM} IS NULL THEN NULL ELSE
  list_reduce(
    list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) FOR c IN string_split({_NORM}, '')]),
    (acc, c) -> (acc * 31 + c) % 1000000007
  ) END AS rolling_hash
FROM documents
""")
def q_text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.rolling_hash(load_table(spark, sf_dir, "documents"))


@query(bench=False, oracle="""
WITH tokens AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term
), docfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
    round(tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1.0), 6) AS tfidf
  FROM tf JOIN docfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
""")
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf, deterministic
    tie-breaks)."""
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


@query(bench=False, oracle="""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents
), counts AS (
  SELECT source, term, count(*) AS n FROM toks GROUP BY source, term
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY n DESC, term ASC) AS rank
  FROM counts
)
SELECT source, term, n, rank FROM ranked WHERE rank <= 5
""")
def q_top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term-frequency: top-5 word tokens per source (explode →
    count → ranking window)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9_]+"), 0)).alias(
            "term"
        ),
    )
    counts = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("source", "term", "n", "rank")
    )


@query(bench=False, oracle="""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS tok
  FROM documents
), counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok
), totals AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM counts
), top AS (
  SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rank
  FROM counts ORDER BY c DESC, tok ASC LIMIT 100
), pts AS (
  SELECT tok, c, rank, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
  FROM top
), fit AS (
  SELECT
    max(CASE WHEN rank = 1 THEN tok END) AS top_token,
    max(CASE WHEN rank = 1 THEN c END) AS top_count,
    round((count(*) * sum(x*y) - sum(x) * sum(y))
          / (count(*) * sum(x*x) - sum(x) * sum(x)), 6) AS zipf_slope
  FROM pts
)
SELECT n_tokens, n_distinct, top_token, top_count, zipf_slope
FROM totals, fit
""")
def q_token_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency profile + Zipf exponent (log-log OLS over
    the top-100 tokens) — TakeOrderedAndProject top-k, exact-sums fit."""
    return text.token_zipf_stats(load_table(spark, sf_dir, "documents"))


@query(bench=False, oracle=f"""
WITH {_REPETITION_CTE}
SELECT doc_id, n_words, n_distinct_words, dup_word_fraction,
  top_word_fraction, n_bigrams, top_bigram_fraction
FROM reps
""")
def q_text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition signals (word / distinct-word
    counts, duplicate-word and top-word/top-bigram fractions) — one
    tagged explode, two hash aggregations."""
    from breweries_etl_spark.operators.filtering import repetition_stats

    return repetition_stats(load_table(spark, sf_dir, "documents"))
