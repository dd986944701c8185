"""Embedding similarity, vector search, clustering and mixture weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.operators import similarity
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _CLUSTER_ASSIGN_CTE, _SIMILARITY_TOPK_SQL, _kmeans_oracle_sql, _lsh_topk_oracle,
)
from breweries_etl_spark.sources.tables import load_table

query = family("vector")


@query(oracle=_SIMILARITY_TOPK_SQL)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(oracle=_SIMILARITY_TOPK_SQL)
def q_similarity_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy physical strategy for the same exact top-k (same
    oracle as similarity_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk_pandas(emb.filter(F.col("vec_id") < 10), emb, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(oracle=f"""
WITH {_CLUSTER_ASSIGN_CTE}
SELECT vec_id, cluster_id, sim FROM best WHERE rn = 1
""")
def q_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment of every embedding to the 8
    lowest-id seed vectors (cosine, ties to smallest cluster) — the
    deterministic coarse-quantizer step of semantic dedup."""
    from breweries_etl_spark.operators.clustering import (
        centroid_assign,
        leading_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_assign(emb, leading_centroids(emb, 8))


@query(oracle="""
WITH RECURSIVE t AS (
  SELECT doc_id,
    CAST('0x' || substring(md5(CAST(doc_id AS STRING)), 1, 4) AS BIGINT) % 16
      AS shard,
    CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS BIGINT) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, shard, n_tokens,
    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM t
), packed AS (
  SELECT doc_id, shard, n_tokens, rn,
    CAST(0 AS BIGINT) AS bin_idx, n_tokens AS cum
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.shard, o.n_tokens, o.rn,
    CASE WHEN p.cum + o.n_tokens > 512 THEN p.bin_idx + 1 ELSE p.bin_idx END,
    CASE WHEN p.cum + o.n_tokens > 512 THEN o.n_tokens
         ELSE p.cum + o.n_tokens END
  FROM packed p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT doc_id, shard, n_tokens, bin_idx FROM packed
""")
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sequence packing over the document corpus
    (16 hash shards, 512-token bins); the DuckDB oracle replays the
    sequential first-fit decision per shard with a recursive CTE."""
    from breweries_etl_spark.operators.corpus import pack_sequences

    return pack_sequences(
        load_table(spark, sf_dir, "documents"), budget=512, n_shards=16
    )


@query(oracle=f"""
WITH {{cluster_cte}},
assign AS (SELECT vec_id, cluster_id FROM best WHERE rn = 1),
pv AS (
  SELECT a.vec_id, a.cluster_id, e.embedding
  FROM assign a JOIN embeddings e USING (vec_id)
), pp AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
    unnest(x.embedding)::DOUBLE AS px, unnest(y.embedding)::DOUBLE AS py
  FROM pv x JOIN pv y
    ON x.cluster_id = y.cluster_id AND x.vec_id > y.vec_id
), ps AS (
  SELECT id_a, id_b,
    round(sum(px * py) / sqrt(sum(px * px) * sum(py * py)), 6) AS sim
  FROM pp GROUP BY id_a, id_b
), dropped AS (
  SELECT DISTINCT id_a AS vec_id FROM ps WHERE sim >= 0.35
)
SELECT a.vec_id, CAST(a.cluster_id AS BIGINT) AS cluster_id,
  (d.vec_id IS NULL) AS keep
FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
""".replace("{cluster_cte}", _CLUSTER_ASSIGN_CTE))
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: nearest-centroid clustering (8 leading centroids) +
    within-cluster cosine ≥ 0.35 drops all but the smallest-id member
    of each similarity neighborhood. Threshold calibrated to the
    synthetic embeddings (production uses ≈0.95+ — see operator doc)."""
    from breweries_etl_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    cents = clustering.leading_centroids(emb, 8)
    return clustering.semantic_dedup(emb, cents, 0.35)


@query(oracle=_kmeans_oracle_sql())
def q_kmeans_train_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-arithmetic KMeans training (3 Lloyd iterations on the
    integer micro-lattice): zero floats inside the loop, so the full
    clustering run replays bit-for-bit in SQL."""
    from breweries_etl_spark.operators.mltrain import kmeans_train_exact

    return kmeans_train_exact(load_table(spark, sf_dir, "embeddings"))


@query(oracle="""
WITH norms AS (
  SELECT vec_id, len(embedding) AS dim,
    round(sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM unnest(embedding) AS t(x))), 6) AS nrm
  FROM embeddings
),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vectors,
    CAST(max(dim) AS INTEGER) AS dim,
    round(CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
      AS mean_norm,
    min(nrm) AS min_norm, max(nrm) AS max_norm
  FROM norms
),
dims AS (
  SELECT i,
    round(CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(28,8)))
               AS DOUBLE), 6)
      AS s,
    CAST(count(*) AS BIGINT) AS n
  FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS t(i)
  GROUP BY i
),
mv AS (
  SELECT round(sqrt(CAST(SUM(CAST(round((s / n) * (s / n), 8)
                                  AS DECIMAL(28,8))) AS DOUBLE)), 6)
           AS mean_vector_norm
  FROM dims
)
SELECT base.*, mv.mean_vector_norm FROM base CROSS JOIN mv
""")
def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-quality profile: norm spread + mean-vector norm
    (anisotropy smell test); decimal-carried sums, round-6 stable."""
    from breweries_etl_spark.operators.profiling import embedding_norm_stats

    return embedding_norm_stats(load_table(spark, sf_dir, "embeddings"))


@query(bench=False)
def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (KMeans-partitioned) approximate top-k → rows-only (KMeans
    init is seed-deterministic but not SQL-expressible)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


@query(bench=False, oracle="""
WITH p AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
    unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
), d AS (
  SELECT ia, ib, sum(x*y) AS dp, sum(x*x) AS na, sum(y*y) AS nb
  FROM p GROUP BY ia, ib
)
SELECT ia AS id_a, ib AS id_b, round(dp / sqrt(na * nb), 6) AS cosine
FROM d WHERE round(dp / sqrt(na * nb), 6) >= 0.35
""")
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_duplicates(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35
    )


@query(bench=False, oracle="""
WITH s AS (
  SELECT vec_id, embedding,
    CAST(list_max([abs(x) FOR x IN embedding]) AS DOUBLE) / 127.0 AS scale
  FROM embeddings
), u AS (
  SELECT vec_id, scale,
    unnest(range(1, len(embedding) + 1)) AS i,
    unnest(embedding) AS x
  FROM s
)
SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
  CAST(CASE WHEN scale = 0 THEN 0
       WHEN CAST(x AS DOUBLE) / scale >= 0
         THEN floor(CAST(x AS DOUBLE) / scale + 0.5)
       ELSE ceil(CAST(x AS DOUBLE) / scale - 0.5) END AS BIGINT) AS qval,
  round(scale, 6) AS scale
FROM u
""")
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embeddings table,
    exploded to (vec_id, pos, qval, scale) so codes hash-compare
    exactly against the DuckDB list formulation."""
    from breweries_etl_spark.operators.similarity import quantize_int8

    return quantize_int8(load_table(spark, sf_dir, "embeddings"))


@query(bench=False, oracle=_lsh_topk_oracle())
def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k — seeded hyperplanes are
    deterministic, so the DuckDB oracle replays signatures, multi-probe
    fan-out, and the cosine rank exactly (literal plane arrays)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.lsh_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(bench=False, oracle=f"""
WITH {_CLUSTER_ASSIGN_CTE}, ranked AS (
  SELECT vec_id, cluster_id,
    row_number() OVER (PARTITION BY cluster_id ORDER BY
      CAST('0x' || substring(md5(CAST(vec_id AS STRING)), 1, 4) AS BIGINT)
        ASC, vec_id ASC) AS sample_rank
  FROM best WHERE rn = 1
)
SELECT vec_id, cluster_id, CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= 40
""")
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-ordered quota sample of at most 40 members per centroid
    cluster — the data-mixing primitive that flattens over-represented
    domains; reproducible on any partitioning."""
    from breweries_etl_spark.operators.clustering import (
        centroid_assign,
        cluster_balanced_sample,
        leading_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = centroid_assign(emb, leading_centroids(emb, 8))
    return cluster_balanced_sample(assigned, 40)


@query(bench=False, oracle="""
WITH t AS (
  SELECT lang, CAST(target_share AS DOUBLE) AS target_share
  FROM (VALUES ('de', 0.15), ('en', 0.4), ('es', 0.15),
               ('fr', 0.15), ('zh', 0.15)) AS v(lang, target_share)
), c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), s AS (
  SELECT lang, n_docs,
    round(n_docs / CAST((SELECT sum(n_docs) FROM c) AS DOUBLE), 6) AS share
  FROM c
)
SELECT s.lang, s.n_docs, s.share, t.target_share,
  round(t.target_share / s.share, 6) AS weight
FROM s JOIN t USING (lang)
""")
def q_corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language resampling weights to hit a target mixture (observed
    share vs target share, multiplier = target/observed)."""
    from breweries_etl_spark.operators.clustering import mixture_weights

    return mixture_weights(
        load_table(spark, sf_dir, "documents"),
        "lang",
        {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15},
    )


@query(bench=False, oracle="""
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), s AS (
  SELECT lang, n_docs,
    n_docs / CAST((SELECT sum(n_docs) FROM c) AS DOUBLE) AS share_raw
  FROM c
), r AS (
  SELECT lang, n_docs, share_raw, 1.0 / sqrt(share_raw) AS raw FROM s
)
SELECT lang, n_docs, round(share_raw, 6) AS share,
  round(raw / (SELECT max(raw) FROM r), 6) AS temp_weight
FROM r
""")
def q_temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-2 sampling weights per language (share^(1/T) rule,
    max-normalized so no cross-group float sums)."""
    from breweries_etl_spark.operators.clustering import temperature_mix_weights

    return temperature_mix_weights(
        load_table(spark, sf_dir, "documents"), "lang"
    )
