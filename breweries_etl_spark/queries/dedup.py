"""Exact and near-duplicate detection and record linkage. The minhash
and incremental-Jaccard pipelines bench alone (see ``dedup_minhash``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.functions import lifecycle
from breweries_etl_spark.functions.synthetic import ENTITY_RAW_SQL
from breweries_etl_spark.operators import dedup
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import _NORM, _capped_collapse_cte, _shingle_cte
from breweries_etl_spark.sources.tables import load_table

query = family("dedup")


@query(oracle=f"""
SELECT md5({_NORM}) AS content_key, min(doc_id) AS doc_id
FROM documents GROUP BY 1
""")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH base AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks), 20)) AS start
  FROM base WHERE len(toks) > 0 AND toks[1] <> ''
), p AS (
  SELECT doc_id, CAST((start - 1) // 20 AS BIGINT) AS pidx,
    array_to_string(toks[start:start + 19], ' ') AS para
  FROM s
), r AS (
  SELECT doc_id, pidx, para,
    row_number() OVER (PARTITION BY para ORDER BY doc_id, pidx) AS rn
  FROM p
), tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras FROM p GROUP BY doc_id
), k AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
    string_agg(para, ' ' ORDER BY pidx ASC) AS new_text
  FROM r WHERE rn = 1 GROUP BY doc_id
)
SELECT t.doc_id, t.n_paras,
  COALESCE(k.n_kept, 0) AS n_kept,
  COALESCE(k.new_text, '') AS new_text
FROM tot t LEFT JOIN k ON t.doc_id = k.doc_id
""")
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup (RefinedWeb/Dolma-style): fixed 20-word
    paragraphs, global first occurrence kept, text reconstructed."""
    from breweries_etl_spark.operators.corpus import paragraph_dedup

    return paragraph_dedup(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
SELECT content_key, -(b.neg_id) AS doc_id, b.s AS n_chars, n_copies
FROM (
  SELECT md5({_NORM}) AS content_key,
    max(struct_pack(s := n_chars, neg_id := -doc_id)) AS b,
    CAST(count(*) AS BIGINT) AS n_copies
  FROM documents GROUP BY 1
)
""")
def q_dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the highest-quality copy per content group
    (score = n_chars, ties → min id) — argmax as one map-side-combinable
    struct-max aggregate."""
    return dedup.dedup_exact_keep_best(load_table(spark, sf_dir, "documents"))


@query(oracle="""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
FROM documents a
JOIN documents b
  ON a.source = b.source
 AND a.doc_id < b.doc_id
 AND abs(length(a.text) - length(b.text)) <= 16
WHERE levenshtein(a.text, b.text) <= 16
""")
def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Levenshtein near-dup pairs (dist ≤ 16) under provably
    lossless length-bucket blocking (pairs within edit distance d differ
    ≤ d in length ⇒ same/adjacent bucket of width ≥ d)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.edit_distance_pairs(
        docs, text_col="text", id_col="doc_id", block_col="source",
        max_dist=16, bucket_width=32,
    )
    return pairs.select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))


# Capped mirror of the engine scale path (see dedup_ngram_jaccard note):
# identical max_df algorithm, direction swap on id reorder, within-group
# full containment.
@query(oracle=f"""
{_capped_collapse_cte(3, 1000)},
vp AS (
  SELECT xa.gk AS ka, xb.gk AS kb,
    round(CAST(len(list_intersect(xa.rs, xb.rs)) AS DOUBLE) / len(xa.rs), 6) AS c_ab,
    round(CAST(len(list_intersect(xa.rs, xb.rs)) AS DOUBLE) / len(xb.rs), 6) AS c_ba
  FROM cand JOIN rep xa ON xa.rid = cand.ra JOIN rep xb ON xb.rid = cand.rb
),
ver AS (SELECT * FROM vp WHERE c_ab >= 0.8 OR c_ba >= 0.8),
cross_p AS (
  SELECT least(ma.doc_id, mb.doc_id) AS id_a,
         greatest(ma.doc_id, mb.doc_id) AS id_b,
         CASE WHEN ma.doc_id < mb.doc_id THEN c_ab ELSE c_ba END AS containment_ab,
         CASE WHEN ma.doc_id < mb.doc_id THEN c_ba ELSE c_ab END AS containment_ba
  FROM ver JOIN g ma ON ma.gk = ver.ka JOIN g mb ON mb.gk = ver.kb
),
within AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         1.0 AS containment_ab, 1.0 AS containment_ba
  FROM g a JOIN g b ON a.gk = b.gk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, containment_ab, containment_ba FROM cross_p
UNION ALL SELECT id_a, id_b, containment_ab, containment_ba FROM within
""")
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment (quote/excerpt) pairs at 0.8 — catches
    subset documents Jaccard misses; candidate machinery shared with
    the exact n-gram path (df-capped inverted index)."""
    return dedup.containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.8
    )


@query(oracle=f"""
WITH norm AS (
  SELECT source, {_NORM} AS nt FROM documents
), words AS (
  SELECT source, string_split(nt, ' ') AS w FROM norm
), sh AS (
  SELECT DISTINCT source,
    unnest(list_distinct(list_transform(range(1, len(w) - 1),
      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
  FROM words
), tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY source
), shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
    CAST(count(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared,
  round(n_shared / CAST(ta.n_sh + tb.n_sh - n_shared AS DOUBLE), 6) AS jaccard
FROM shared
JOIN tot ta ON shared.source_a = ta.source
JOIN tot tb ON shared.source_b = tb.source
""")
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shared-shingle counts + Jaccard between sources — the
    corpus-health matrix (per-shingle pair blow-up bounded by the source
    count, never document frequency)."""
    from breweries_etl_spark.operators.corpus import source_overlap_matrix

    return source_overlap_matrix(load_table(spark, sf_dir, "documents"))


@query(bench=False, oracle=f"""
WITH keyed AS (SELECT doc_id, md5({_NORM}) AS content_key FROM documents),
base AS (SELECT content_key, min(doc_id) AS base_id FROM keyed GROUP BY content_key),
incoming AS (SELECT doc_id + 1000000 AS incoming_id, content_key
             FROM keyed WHERE doc_id % 5 = 0)
SELECT incoming_id, base_id FROM incoming JOIN base USING (content_key)
""")
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: synthetic incoming batch (every 5th
    doc re-sent under a new id) checked against the base corpus index."""
    from breweries_etl_spark.operators.dedup import dedup_incremental

    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return dedup_incremental(docs, incoming).select("incoming_id", "base_id")


@query(bench=False, oracle=f"""
WITH {_shingle_cte(3)},
inv AS (SELECT unnest(s) AS shingle FROM sh WHERE len(s) > 0)
SELECT count(DISTINCT shingle) AS n_distinct_shingles, count(*) AS n_shingles
FROM inv
""")
@lifecycle.operator(release=False)
def q_explode_shingle_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode (lateral view) over per-document shingle arrays → corpus
    vocabulary stats."""
    from breweries_etl_spark.operators.dedup import shingle_sets

    # cache barrier matters: without it the Generate (explode) inlines the
    # interpreted shingle transform and re-evaluates it per OUTPUT row
    sh = shingle_sets(load_table(spark, sf_dir, "documents"))
    inv = sh.select(F.explode("shingles").alias("shingle"))
    return inv.agg(
        F.count_distinct("shingle").alias("n_distinct_shingles"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


# Capped mirror of the engine's default scale path (max_df=1000 over
# DISTINCT shingle sets, set-group collapse, within-group jaccard=1):
# same algorithm on both sides, not a coincidence on current data.
@query(bench=False, oracle=f"""
{_capped_collapse_cte(3, 1000)},
vp AS (
  SELECT xa.gk AS ka, xb.gk AS kb,
    round(CAST(len(list_intersect(xa.rs, xb.rs)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(xa.rs, xb.rs))) AS DOUBLE), 6) AS jaccard
  FROM cand JOIN rep xa ON xa.rid = cand.ra JOIN rep xb ON xb.rid = cand.rb
),
ver AS (SELECT * FROM vp WHERE jaccard >= 0.5),
cross_p AS (
  SELECT least(ma.doc_id, mb.doc_id) AS id_a,
         greatest(ma.doc_id, mb.doc_id) AS id_b, ver.jaccard
  FROM ver JOIN g ma ON ma.gk = ver.ka JOIN g mb ON mb.gk = ver.kb
),
within AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0 AS jaccard
  FROM g a JOIN g b ON a.gk = b.gk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM cross_p
UNION ALL SELECT id_a, id_b, jaccard FROM within
""")
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


# Uncapped inverted-index ground truth — the oracle for the
# prefix-filter (AllPairs) query, which is provably exact.
@query(bench=False, oracle=f"""
WITH {_shingle_cte(3)},
sh_ok AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh_ok),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
j AS (
  SELECT id_a, id_b,
    round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE), 6) AS jaccard
  FROM cand JOIN sh_ok x ON x.doc_id = id_a JOIN sh_ok y ON y.doc_id = id_b
)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
""")
def q_dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllPairs/PPJoin prefix-filtered EXACT Jaccard pairs — provably
    the same pair set as ground truth, so it shares the exact-Jaccard
    oracle shape (candidate strategy differs, result set cannot)."""
    return dedup.prefix_filtered_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


# dedup_simhash_pairs: the Arrow-batched bit-vote is just md5 arithmetic,
# so DuckDB replays it — per-token digest bits (numpy unpackbits is
# MSB-first within each byte), +1/-1 votes, sign-bit wrap to signed
# BIGINT at j=63, then brute-force Hamming<=3 pairs (the Spark side's
# 4x16-bit pigeonhole banding is exact for radius 3, so the pair sets
# are identical by construction).
@query(bench=False, oracle="""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                       t -> t <> '')) AS tok
  FROM documents
), th AS (
  SELECT doc_id, md5(tok) AS h FROM toks
), votes AS (
  SELECT doc_id, j,
    sum(CASE WHEN ((('0x' || substr(h, (j // 8) * 2 + 1, 2))::BIGINT
                    >> (7 - (j % 8))) & 1) = 1 THEN 1 ELSE -1 END) AS v
  FROM th, range(64) r(j) GROUP BY doc_id, j
), sig0 AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN v > 0 THEN
               CASE WHEN j = 63 THEN -9223372036854775808
                    ELSE (1::BIGINT << j) END
             ELSE 0 END) AS BIGINT) AS sig
  FROM votes GROUP BY doc_id
), sigs AS (
  SELECT d.doc_id, coalesce(s.sig, 0) AS sig
  FROM documents d LEFT JOIN sig0 s USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
""")
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-≤3 pairs (Pandas-UDF signatures); the md5
    bit-vote is deterministic, so the DuckDB oracle replays it exactly
    and brute-forces the radius-3 pairs (identical to the pigeonhole
    banding by its exactness guarantee)."""
    return dedup.simhash_near_duplicates(load_table(spark, sf_dir, "documents"))


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
)
SELECT node AS doc_id, min(r) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id
""")
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact n-gram Jaccard pair list
    (operators/graph.py): iterative min-label propagation; oracled
    against a DuckDB recursive-CTE reachability closure."""
    from breweries_etl_spark.operators.graph import connected_components

    # the scope frees the pair caches once the components are checkpointed
    with lifecycle.scope():
        pairs = dedup.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"), threshold=0.5
        )
        return connected_components(pairs)


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
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT cluster_id, count(*) AS cluster_size,
  count(*) - 1 AS n_to_drop
FROM cc GROUP BY cluster_id ORDER BY cluster_id
""")
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster canonical summary (cluster sizes, docs to drop)."""
    from breweries_etl_spark.operators.graph import dedup_cluster_canonical

    # the scope frees the pair caches once the components are checkpointed
    with lifecycle.scope():
        pairs = dedup.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"), threshold=0.5
        )
        return dedup_cluster_canonical(pairs)


@query(bench=False, oracle=f"""
WITH RECURSIVE recs AS ({ENTITY_RAW_SQL}),
cand AS (
  SELECT a.record_id AS id_a, b.record_id AS id_b
  FROM recs a JOIN recs b ON a.block = b.block AND a.record_id < b.record_id
  WHERE levenshtein(a.name, b.name) <= 1
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.dst AS node, rr.r FROM reach rr JOIN edges e ON e.src = rr.node
),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT recs.record_id, COALESCE(cc.cluster_id, recs.record_id) AS entity_id
FROM recs LEFT JOIN cc ON recs.record_id = cc.node
""")
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage over a shared-SQL dirty-customer-record relation:
    block → levenshtein ≤ 1 → connected components; singletons keep
    their own id. Block sizes here are ~100× below the 1000 cap, so
    Spark's capped candidate generation and the uncapped oracle see
    identical pairs."""
    from breweries_etl_spark.functions.synthetic import entity_raw
    from breweries_etl_spark.operators.entity import resolve_entities

    return resolve_entities(entity_raw(spark, sf_dir))
