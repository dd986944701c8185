"""The heavier image and ML queries; PCA's scatter join dominates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.operators import multimodal
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _OLS_COV, _OLS_SLOPE, _OLS_VARX, _OLS_VARY, _mm_vals, _pca_oracle,
)
from breweries_etl_spark.sources.tables import load_table

query = family("mlx")


@query(oracle="""
WITH norm AS (
  SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
              ' +', ' ', 'g')) AS nt
  FROM documents
), wrds AS (
  SELECT unnest(string_split(nt, ' ')) AS w FROM norm
), prs AS (
  SELECT unnest([substring(w, i, 2) FOR i IN range(1, greatest(len(w), 1))]) AS pair
  FROM wrds
), c AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS n
  FROM prs WHERE length(pair) = 2 GROUP BY 1
), r AS (
  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair ASC) AS rank FROM c
)
SELECT pair, n, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 20
""")
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 within-word character-pair frequencies — the first BPE
    merge candidate table."""
    from breweries_etl_spark.operators.text import bpe_pair_counts

    return bpe_pair_counts(load_table(spark, sf_dir, "documents"))


# The synthetic-image pipeline's pixel function is closed-form
# ((doc_id*31 + 7x + 13y) mod 256), so the REAL encode->PNG->decode
# round trip reduces to an exactly replayable integer sum.
@query(oracle="""
WITH px AS (
  SELECT d.doc_id, (d.doc_id * 31 + xs.x * 7 + ys.y * 13) % 256 AS v
  FROM documents d,
       (SELECT unnest(range(0, 16)) AS x) xs,
       (SELECT unnest(range(0, 16)) AS y) ys
)
SELECT doc_id AS asset_id,
  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS channels,
  CAST(SUM(v) AS BIGINT) AS sum_pixels,
  round(CAST(SUM(v) AS DOUBLE) / 256, 6) AS mean_pixel
FROM px GROUP BY doc_id
""")
def q_multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image pipeline end-to-end: per-document deterministic
    grayscale PNG (pixel = (doc_id·31 + 7x + 13y) mod 256) encoded by
    the pure-stdlib codec, then decoded back and reduced to exact
    integer pixel stats — the closed-form pixel function makes the
    decode output SQL-replayable (functions/pngcodec.py)."""
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthetic_image_assets(docs, width=16, height=16)
    return multimodal.image_stats(assets)


# Nearest-neighbor 16->8: source index floor(dst*16/8) = even coords.
@query(oracle="""
WITH px AS (
  SELECT d.doc_id, (d.doc_id * 31 + xs.x * 7 + ys.y * 13) % 256 AS v
  FROM documents d,
       (SELECT unnest(range(0, 16, 2)) AS x) xs,
       (SELECT unnest(range(0, 16, 2)) AS y) ys
)
SELECT doc_id AS asset_id,
  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
  CAST(1 AS INTEGER) AS channels,
  CAST(SUM(v) AS BIGINT) AS sum_pixels,
  round(CAST(SUM(v) AS DOUBLE) / 64, 6) AS mean_pixel
FROM px GROUP BY doc_id
""")
def q_multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode → nearest-neighbor resample to 8×8 → stats. Source pixel
    selection is floor(dst·src/dst) = even coordinates, so the oracle
    sums the pixel function over x,y ∈ {0,2,…,14} exactly."""
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthetic_image_assets(docs, width=16, height=16)
    return multimodal.image_stats(assets, resize_to=(8, 8))


@query(oracle="""
WITH d AS (
  SELECT label, i,
    round(CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(28,8)))
               AS DOUBLE) / count(*), 6) AS m
  FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS t(i)
  GROUP BY label, i
), norms AS (
  SELECT label,
    CAST(SUM(CAST(round(m * m, 8) AS DECIMAL(28,8))) AS DOUBLE) AS sq
  FROM d GROUP BY label
), dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
    CAST(SUM(CAST(round(a.m * b.m, 8) AS DECIMAL(28,8))) AS DOUBLE) AS dot
  FROM d a JOIN d b ON a.i = b.i AND a.label < b.label
  GROUP BY 1, 2
)
SELECT label_a, label_b,
  round(dot / (sqrt(na.sq) * sqrt(nb.sq)), 6) AS cosine
FROM dots
JOIN norms na ON na.label = label_a
JOIN norms nb ON nb.label = label_b
""")
def q_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids (45 pairs
    over 10 labels) — order-independent decimal term sums."""
    from breweries_etl_spark.operators.similarity import label_centroid_similarity

    return label_centroid_similarity(load_table(spark, sf_dir, "embeddings"))


@query(oracle=f"""
WITH s AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
    SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy,
    SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
  CASE WHEN {_OLS_VARX} > 0 THEN round({_OLS_SLOPE}, 6) END AS slope,
  CASE WHEN {_OLS_VARX} > 0 THEN
    round((CAST(sy AS DOUBLE) - {_OLS_SLOPE} * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)))
          / CAST(n AS DOUBLE), 6) END AS intercept,
  CASE WHEN {_OLS_VARX} > 0 AND {_OLS_VARY} > 0 THEN
    round(({_OLS_COV} * {_OLS_COV}) / ({_OLS_VARX} * {_OLS_VARY}), 6)
  END AS r2
FROM s
""")
def q_ols_price_on_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form per-flag OLS of extended price on quantity (normal
    equations from exact decimal component sums)."""
    from breweries_etl_spark.operators.mltrain import ols_fit

    return ols_fit(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
    )


@query(oracle=_pca_oracle())
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (top component, 3 power iterations) with the
    bit-exact-replay discipline: rounded decimal term sums throughout,
    iterations run as Spark joins over the d×d scatter frame."""
    from breweries_etl_spark.operators.mltrain import pca_top_component

    return pca_top_component(load_table(spark, sf_dir, "embeddings"))


# frame_sample salts the payload with the 4-byte big-endian frame index;
# frame_idx < 4 makes that salt chr(0)*3 || chr(i) byte-for-byte.
@query(bench=False, oracle=f"""
WITH f AS (
  SELECT doc_id AS asset_id, CAST(i AS INTEGER) AS frame_idx,
    md5(coalesce(text, '') || chr(0) || chr(0) || chr(0) || chr(CAST(i AS INTEGER)))
      AS hx
  FROM documents, (SELECT unnest(range(4)) AS i)
), v AS (
  SELECT asset_id, frame_idx, [{_mm_vals("hx")}] AS vs FROM f
)
SELECT asset_id, frame_idx,
  round(list_sum(list_transform(vs,
    x -> round(x / sqrt(list_sum(list_transform(vs, y -> y * y))), 6))), 6)
    AS feature_sum
FROM v
""")
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame feature rows from the (stub-decoded) video sampler —
    the md5-derived fake features are deterministic, so DuckDB replays
    them exactly via hex arithmetic (oracle below)."""
    assets = multimodal.assets_from_documents(load_table(spark, sf_dir, "documents"))
    frames = multimodal.frame_sample(assets)
    return frames.select(
        "asset_id",
        "frame_idx",
        F.round(
            F.aggregate(F.col("features"), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("feature_sum"),
    )


@query(bench=False, oracle="""
-- GROUP BY the constant mime: the engine side is a real groupBy that
-- yields ZERO rows on an empty corpus; a bare global aggregate here
-- fabricated one (empty-table sweep r10)
SELECT 'text/plain' AS mime, count(*) AS n_assets,
  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
  CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
FROM documents GROUP BY 1
""")
def q_multimodal_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.assets_from_documents(load_table(spark, sf_dir, "documents"))
    return multimodal.asset_metadata_stats(assets)


# aHash near-dup image pairs: 8x8 nearest resample of the closed-form
# 16x16 pixel field picks source (2y, 2x) -> v = (d*31 + 14x + 26y) % 256;
# bit = 1 iff v*64 >= sum (exact integer mean threshold), row-major.
# The engine routes pairs through the shared bounded-bucket machinery
# (max_bucket=10000), so the oracle mirrors the cap: hash groups above
# it emit NO pairs. The synthetic aHash depends only on doc_id % 256,
# so bucket sizes grow linearly with corpus size and the cap WILL bind
# at a large enough SF — without the mirrored HAVING the replay would
# silently diverge there (ADVICE r5). Cap-binding parity is proven on a
# fixture in tests/test_ahash_cap_parity.py.
@query(bench=False, oracle="""
WITH px AS (
  SELECT d.doc_id, ys.y, xs.x,
         (d.doc_id * 31 + xs.x * 14 + ys.y * 26) % 256 AS v
  FROM documents d,
       (SELECT unnest(range(0, 8)) AS x) xs,
       (SELECT unnest(range(0, 8)) AS y) ys
),
tot AS (SELECT doc_id, sum(v) AS t FROM px GROUP BY doc_id),
bits AS (
  SELECT px.doc_id,
    string_agg(CASE WHEN v * 64 >= t THEN '1' ELSE '0' END, '' ORDER BY y, x) AS ahash
  FROM px JOIN tot USING (doc_id) GROUP BY px.doc_id
),
kept AS (SELECT ahash FROM bits GROUP BY ahash HAVING count(*) <= 10000)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ahash
FROM bits a JOIN bits b ON a.ahash = b.ahash AND a.doc_id < b.doc_id
JOIN kept ON a.ahash = kept.ahash
""")
def q_image_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup image pairs over the REAL PNG decode path:
    aHash (8x8 nearest resample, exact-integer mean threshold) grouped
    through the shared bounded-bucket pair machinery. The synthetic
    closed-form pixel function (multimodal.synthetic_image_assets) makes
    the hash — and hence the pair set — SQL-replayable."""
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthetic_image_assets(docs, width=16, height=16)
    return multimodal.image_ahash_dup_pairs(assets)


@query(bench=False, oracle=f"""
WITH h AS (
  SELECT doc_id AS asset_id, md5(coalesce(text, '')) AS hx FROM documents
), v AS (
  SELECT asset_id, [{_mm_vals("hx")}] AS vs FROM h
)
SELECT asset_id,
  round(list_sum(list_transform(vs,
    x -> round(x / sqrt(list_sum(list_transform(vs, y -> y * y))), 6))), 6)
    AS feature_sum
FROM v
""")
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode→feature plumbing (deterministic fake extractor) —
    md5-derived features replayed exactly by the DuckDB oracle."""
    assets = multimodal.assets_from_documents(load_table(spark, sf_dir, "documents"))
    feats = multimodal.fake_feature_extractor(assets)
    return feats.select(
        "asset_id",
        F.round(
            F.aggregate(F.col("features"), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("feature_sum"),
    )


@query(bench=False, oracle="""
WITH toks AS (
  SELECT lang AS label,
    unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
  FROM documents
), c AS (
  SELECT label, tok, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY label, tok
), tot AS (
  SELECT label, CAST(count(*) AS BIGINT) AS total FROM toks GROUP BY label
), vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM toks)
SELECT label, tok, c,
  CAST(floor(ln(CAST(c + 1 AS DOUBLE) / CAST(total + v AS DOUBLE)) * 1000000)
       AS BIGINT) AS logprob_micro
FROM c JOIN tot USING (label) CROSS JOIN vocab
""")
def q_naive_bayes_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes training over (lang, token) counts:
    add-1 smoothed log-likelihoods in integer micro-nats."""
    from breweries_etl_spark.operators.mltrain import train_naive_bayes

    return train_naive_bayes(load_table(spark, sf_dir, "documents"))
