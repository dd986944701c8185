"""Merge, diff, state and sampling pipelines split off ``core``:
cache-heavy and multi-action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.functions import lifecycle
from breweries_etl_spark.functions.exact import sql_disc_price
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import _GOLD_CUTOFF
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("corestate")


@query(oracle=f"""
SELECT o_orderstatus, o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY o_orderstatus, o_orderpriority
""")
def q_gold_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: gold counts/revenue by (status,
    priority) built from orders before the cutoff, then incrementally
    merged with the post-cutoff delta — NEVER recomputed from scratch.
    The oracle is the full recompute, so the hash match IS the
    incremental-equals-batch equivalence proof."""
    from breweries_etl_spark.operators import incremental

    orders = load_table(spark, sf_dir, "orders")
    keys = ["o_orderstatus", "o_orderpriority"]
    measures = {"n_orders": "count"}
    base_rows = orders.filter(F.col("o_orderdate") < F.lit(_GOLD_CUTOFF))
    delta_rows = orders.filter(F.col("o_orderdate") >= F.lit(_GOLD_CUTOFF))

    def state(rows: DataFrame) -> DataFrame:
        return rows.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("__rev"),
        )

    base = state(base_rows)
    delta = state(delta_rows)
    merged = incremental.merge_aggregate_state(
        base.withColumn("__rev", F.col("__rev").cast("decimal(14,2)")),
        delta.withColumn("__rev", F.col("__rev").cast("decimal(14,2)")),
        keys,
        {"n_orders": "sum", "__rev": "sum"},
    )
    return merged.select(
        *keys,
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("__rev").cast("double").alias("revenue"),
    )


@query(oracle=f"""
SELECT CAST(s.s_nationkey AS BIGINT) AS nationkey,
  CAST(count(*) AS BIGINT) AS n_lineitems,
  CAST(sum({sql_disc_price()}) AS DOUBLE) AS revenue
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
""")
@lifecycle.operator(release=False)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key salted join of lineitem (l_suppkey is the engineered
    skew key: 100 keys, heaviest ≈11× uniform) against supplier, then
    revenue per supplier nation. Salting is result-invariant — the
    oracle runs the PLAIN join — while the salted plan bounds any
    task's share of a hot key to 1/8. force_shuffle pins the
    shuffle-hash path so the salted exchange is what executes here
    (a broadcastable dim needs no salting; the 100 TB dim isn't)."""
    from breweries_etl_spark.operators.skewjoin import salted_join
    from breweries_etl_spark.functions.exact import disc_price

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    joined = salted_join(
        li,
        sup,
        "l_suppkey",
        "s_suppkey",
        n_salts=8,
        heat_factor=4.0,
        salt_on="l_orderkey",
        force_shuffle=True,
    )
    return joined.groupBy(F.col("s_nationkey").cast("long").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.sum(disc_price()).cast("double").alias("revenue"),
    )


@query(oracle="""
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
    ln((CAST('0x' || substring(md5(CAST(doc_id AS STRING)), 1, 15) AS BIGINT) + 1)
       / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS aes_key
  FROM documents WHERE n_chars > 0
) ORDER BY aes_key DESC, doc_id ASC LIMIT 50
""")
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES
    keys over a content-hash uniform): k=50 docs, inclusion ∝ n_chars.
    Deterministic membership ⇒ exact oracle twin."""
    from breweries_etl_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", k=50).select(
        "doc_id", "lang", "n_chars"
    )


@query(oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
""")
def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter pre-filtered semi-join: lineitem rows whose
    order is a high-value order (o_totalprice > 400k). The bloom filter
    prunes the fact-side shuffle; the trailing exact semi-join removes
    false positives, so the result — asserted by the oracle — is
    EXACTLY the plain semi-join aggregate."""
    from breweries_etl_spark.operators.bloomjoin import bloom_semi_join

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    kept = bloom_semi_join(lineitem, orders, "l_orderkey", "o_orderkey")
    return kept.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY user_id HAVING count(*) >= 75
""")
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch candidate phase + exact verify: users with ≥75
    events. Bounded-state sketch build (depth×width cells regardless of
    key cardinality) — the CMS over-counts, never under-counts, so the
    verified output equals the direct GROUP BY/HAVING the oracle runs."""
    from breweries_etl_spark.operators.profiling import cms_heavy_hitters

    events = load_events(spark, sf_dir)
    return cms_heavy_hitters(events, "user_id", threshold=75)


@query(oracle="""
WITH bounds AS (
  SELECT l_returnflag,
         quantile_disc(l_extendedprice, 0.05) AS p_lo,
         quantile_disc(l_extendedprice, 0.95) AS p_hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
  CAST(CAST(min(b.p_lo) AS DECIMAL(14,2)) AS DOUBLE) AS p_lo,
  CAST(CAST(min(b.p_hi) AS DECIMAL(14,2)) AS DOUBLE) AS p_hi,
  CAST(SUM(CAST(greatest(b.p_lo, least(b.p_hi, l.l_extendedprice)) AS DECIMAL(14,2))) AS DOUBLE) AS sum_clipped,
  CAST(SUM(CASE WHEN l.l_extendedprice < b.p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
  CAST(SUM(CASE WHEN l.l_extendedprice > b.p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high
FROM lineitem l JOIN bounds b USING (l_returnflag)
GROUP BY l.l_returnflag
""")
def q_winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag winsorized price statistics: percentile_disc clip
    bounds (actual data elements — engine-identical), decimal clipped
    sum (order-independent), and clip tallies."""
    from breweries_etl_spark.operators.profiling import winsorized_stats

    lineitem = load_table(spark, sf_dir, "lineitem")
    out = winsorized_stats(
        lineitem, "l_extendedprice", "l_returnflag", lo_p=0.05, hi_p=0.95
    )
    return out.select(
        "l_returnflag",
        F.col("p_lo").cast("double").alias("p_lo"),
        F.col("p_hi").cast("double").alias("p_hi"),
        F.col("sum_clipped").cast("double").alias("sum_clipped"),
        "n_clipped_low",
        "n_clipped_high",
    )


@query(oracle="""
WITH med AS (
  SELECT o_orderpriority,
         CAST(quantile_disc(o_totalprice, 0.5) AS DECIMAL(14,2)) AS med
  FROM orders GROUP BY o_orderpriority
),
mad AS (
  SELECT o.o_orderpriority,
         quantile_disc(abs(CAST(o.o_totalprice AS DECIMAL(14,2)) - m.med), 0.5) AS mad
  FROM orders o JOIN med m USING (o_orderpriority)
  GROUP BY o.o_orderpriority
)
SELECT o.o_orderpriority,
  CAST(count(*) AS BIGINT) AS n,
  CAST(min(m.med) AS DOUBLE) AS med,
  CAST(min(d.mad) AS DOUBLE) AS mad,
  CAST(SUM(CASE WHEN abs(CAST(o.o_totalprice AS DECIMAL(14,2)) - m.med) * 10 > d.mad * 30
                 AND d.mad > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM orders o JOIN med m USING (o_orderpriority) JOIN mad d USING (o_orderpriority)
GROUP BY o.o_orderpriority
""")
def q_robust_scale_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority median/MAD robust scaling stats with exact-decimal
    outlier tally (percentile_disc picks, no interpolation)."""
    from breweries_etl_spark.operators.profiling import robust_scale_stats

    orders = load_table(spark, sf_dir, "orders")
    return robust_scale_stats(orders, "o_totalprice", "o_orderpriority", z_cut=3.0)


@query(oracle="""
WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
chg AS (
  SELECT c_custkey, 2 AS version, 'U' AS op, c_name,
         CAST(c_acctbal + 100 AS DOUBLE) AS c_acctbal
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, 1, 'U', c_name, CAST(c_acctbal + 999 AS DOUBLE)
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, 3, 'D', c_name, c_acctbal
  FROM customer WHERE c_custkey % 13 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 1, 'I', c_name, CAST(0.0 AS DOUBLE)
  FROM customer WHERE c_custkey % 11 = 0
),
latest AS (
  SELECT * FROM (
    SELECT c_custkey, op, c_name, c_acctbal,
           row_number() OVER (PARTITION BY c_custkey ORDER BY version DESC) AS rn
    FROM chg
  ) WHERE rn = 1
)
SELECT b.c_custkey, b.c_name, b.c_acctbal FROM base b
WHERE b.c_custkey NOT IN (SELECT c_custkey FROM latest)
UNION ALL
SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op <> 'D'
""")
def q_cdc_apply_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent CDC changelog apply (I/U/D + out-of-order
    versions): the synthetic feed carries a stale version-1 update that
    must LOSE to version 2, and deletes at version 3 that must beat
    both. Unique (key, version) pairs by construction, so the argmax
    tiebreak never fires and the SQL row_number replay is exact."""
    from breweries_etl_spark.operators.merge import cdc_apply

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    upd2 = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit(2).alias("version"),
        F.lit("U").alias("op"),
        "c_name",
        (F.col("c_acctbal") + 100).cast("double").alias("c_acctbal"),
    )
    upd1 = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit(1).alias("version"),
        F.lit("U").alias("op"),
        "c_name",
        (F.col("c_acctbal") + 999).cast("double").alias("c_acctbal"),
    )
    dels = cust.filter(F.col("c_custkey") % 13 == 0).select(
        "c_custkey",
        F.lit(3).alias("version"),
        F.lit("D").alias("op"),
        "c_name",
        F.col("c_acctbal").cast("double"),
    )
    ins = cust.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit(1).alias("version"),
        F.lit("I").alias("op"),
        "c_name",
        F.lit(0.0).alias("c_acctbal"),
    )
    changelog = upd2.unionByName(upd1).unionByName(dels).unionByName(ins)
    return cdc_apply(cust, changelog, "c_custkey")


@query(oracle="""
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
new AS (
  SELECT o_orderkey, o_orderstatus,
    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 17 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 19 = 0
)
SELECT status, CAST(count(*) AS BIGINT) AS n_keys FROM (
  SELECT CASE
    WHEN o.o_orderkey IS NULL THEN 'added'
    WHEN n.o_orderkey IS NULL THEN 'removed'
    WHEN o.o_orderstatus <> n.o_orderstatus
      OR o.o_totalprice <> n.o_totalprice THEN 'changed'
    ELSE 'unchanged' END AS status
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
) GROUP BY status
""")
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash snapshot diff between orders and a perturbed copy
    (removed %17, price-changed %5, added %19 with offset keys) —
    digests shuffle, payloads don't."""
    from breweries_etl_spark.operators.merge import snapshot_diff

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changed = orders.filter(F.col("o_orderkey") % 17 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    added = orders.filter(F.col("o_orderkey") % 19 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    new = changed.unionByName(added)
    return snapshot_diff(orders, new, "o_orderkey")


@query(bench=False, oracle="""
SELECT event_type, count(*) AS count FROM events GROUP BY event_type
""")
def q_salted_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation — must equal the plain group count
    (same oracle as value_counts_events)."""
    from breweries_etl_spark.operators.merge import salted_group_count

    ev = load_events(spark, sf_dir)
    return salted_group_count(ev, "event_type", "count")


@query(bench=False, oracle="""
SELECT CASE WHEN n_nationkey % 2 = 0 THEN 'micro' ELSE 'taproom' END AS brewery_type,
  count(*) AS n
FROM nation GROUP BY 1
""")
def q_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource: page-partitioned REST source read in
    offline fixture mode (pages derived deterministically from nation)."""
    import json
    import os
    import tempfile

    from breweries_etl_spark.sources.brewery_datasource import BreweryDataSource

    nations = load_table(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    records = [
        {
            "id": str(r["n_nationkey"]),
            "name": r["n_name"],
            "brewery_type": "micro" if r["n_nationkey"] % 2 == 0 else "taproom",
            "country": r["n_name"],
        }
        for r in nations
    ]
    pages = [records[:20], records[20:]]
    fixture = os.path.join(
        tempfile.mkdtemp(prefix="brewery_fixture_"), "pages.json"
    )
    with open(fixture, "w", encoding="utf-8") as f:
        json.dump(pages, f)

    try:
        spark.dataSource.register(BreweryDataSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("openbrewerydb")
        .option("fixture_json", fixture)
        .load()
    )
    return df.groupBy("brewery_type").agg(F.count(F.lit(1)).alias("n"))


@query(bench=False, oracle="""
SELECT doc_id, lang FROM documents
WHERE CAST('0x' || substring(md5(CAST(doc_id AS STRING)), 1, 4) AS BIGINT) < 13107
""")
def q_hash_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 20% corpus subsample keyed by content hash (identical
    membership on any partitioning/engine)."""
    from breweries_etl_spark.operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.2).select("doc_id", "lang")


@query(bench=False, oracle="""
WITH b AS (
  SELECT lang,
    CAST('0x' || substring(md5(CAST(doc_id AS STRING)), 1, 4) AS BIGINT) AS bucket
  FROM documents
)
SELECT lang, count(*) AS n, 'train' AS split FROM b WHERE bucket >= 6553 GROUP BY lang
UNION ALL
SELECT lang, count(*) AS n, 'test' AS split FROM b WHERE bucket < 6553 GROUP BY lang
""")
def q_train_test_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed train/test split: per-language row counts of both
    sides (rows can never migrate between splits across reruns)."""
    from breweries_etl_spark.operators.sampling import train_test_split

    docs = load_table(spark, sf_dir, "documents")
    train, test = train_test_split(docs, "doc_id", test_fraction=0.1)
    return (
        train.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).withColumn(
            "split", F.lit("train")
        )
        .unionByName(
            test.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).withColumn(
                "split", F.lit("test")
            )
        )
    )


@query(bench=False, oracle="""
SELECT doc_id, lang FROM documents
WHERE CAST('0x' || substring(md5(CAST(doc_id AS STRING)), 1, 4) AS BIGINT) <
  CASE lang WHEN 'en' THEN 32768 WHEN 'de' THEN 65536 WHEN 'fr' THEN 16384
            WHEN 'es' THEN 16384 WHEN 'zh' THEN 6553 ELSE 0 END
""")
def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language hash-stratified sample (deterministic sampleBy):
    en 50%, de 100%, fr/es 25%, zh 10% — membership is content-hash
    keyed, so the sample is identical on any partitioning/engine."""
    from breweries_etl_spark.operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs,
        "doc_id",
        "lang",
        {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.25, "zh": 0.1},
    ).select("doc_id", "lang")
