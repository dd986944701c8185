"""Contract, quality and profiling scans split off ``core``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.config import KEY_FIELDS
from breweries_etl_spark.functions.synthetic import BREWERY_RAW_SQL, brewery_raw
from breweries_etl_spark.operators import quality
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _PROFILE_COLS, _SILVER_CTE, _VALID_FILTER, _silver_df,
)
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("coreprofile")


@query(oracle="""
SELECT 'not_null' AS "constraint", 'o_orderkey' AS "column",
       CAST(count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'not_null', 'o_custkey',
       CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'unique', 'o_orderkey',
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
FROM (SELECT count(*) AS n FROM orders WHERE o_orderkey IS NOT NULL
      GROUP BY o_orderkey HAVING count(*) > 1)
UNION ALL
SELECT 'accepted_values', 'o_orderstatus',
       CAST(count(CASE WHEN o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'references', 'o_custkey', CAST(count(*) AS BIGINT)
FROM orders o
WHERE o.o_custkey IS NOT NULL
  AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)
""")
def q_contract_check_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract gate on orders: not-null keys, unique
    primary key, accepted status values, customer FK — one union plan,
    violation counts per constraint (zeros kept for completeness)."""
    from breweries_etl_spark.operators.quality import contract_violations

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return contract_violations(
        orders,
        not_null=["o_orderkey", "o_custkey"],
        unique=["o_orderkey"],
        accepted_values={"o_orderstatus": ["O", "F", "P"]},
        references=[("o_custkey", customer, "c_custkey")],
    )


@query(oracle="""
WITH a AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_a FROM documents
  WHERE CAST('0x' || substring(md5(CAST(doc_id AS STRING)), 1, 4) AS BIGINT) < 32768
  GROUP BY lang
),
b AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_b FROM documents
  WHERE CAST('0x' || substring(md5(CAST(doc_id AS STRING)), 1, 4) AS BIGINT) >= 32768
  GROUP BY lang
),
cats AS (
  SELECT COALESCE(a.lang, b.lang) AS lang,
         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
  FROM a FULL OUTER JOIN b ON a.lang = b.lang
),
tot AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb,
         CAST(count(*) AS BIGINT) AS k
  FROM cats
),
terms AS (
  SELECT c.lang, c.n_a, c.n_b,
    round(CAST(c.n_a + 1 AS DOUBLE) / (t.ta + t.k), 6) AS p_a,
    round(CAST(c.n_b + 1 AS DOUBLE) / (t.tb + t.k), 6) AS p_b,
    round((CAST(c.n_a + 1 AS DOUBLE) / (t.ta + t.k))
          * ln((CAST(c.n_a + 1 AS DOUBLE) / (t.ta + t.k))
               / (CAST(c.n_b + 1 AS DOUBLE) / (t.tb + t.k))), 6) AS kl_term,
    round(abs(CAST(c.n_a + 1 AS DOUBLE) / (t.ta + t.k)
              - CAST(c.n_b + 1 AS DOUBLE) / (t.tb + t.k)) / 2, 6) AS tv_term
  FROM cats c CROSS JOIN tot t
),
sums AS (
  SELECT CAST(SUM(CAST(kl_term AS DECIMAL(18,6))) AS DOUBLE) AS total_kl,
         CAST(SUM(CAST(tv_term AS DECIMAL(18,6))) AS DOUBLE) AS total_tv
  FROM terms
)
SELECT terms.*, sums.total_kl, sums.total_tv FROM terms CROSS JOIN sums
""")
def q_lang_distribution_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix drift between the two md5-hash halves of the corpus:
    smoothed per-lang probabilities, KL contributions, decimal-summed
    totals — all fixed-order double arithmetic, round-6 stable."""
    from breweries_etl_spark.operators.profiling import distribution_shift
    from breweries_etl_spark.operators.sampling import hash_bucket_expr

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket_expr(F.col("doc_id"))
    return distribution_shift(
        docs.filter(bucket < 32768), docs.filter(bucket >= 32768), "lang"
    )


@query(oracle="""
WITH c AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(5 AS BIGINT) AS k,
  CAST(count(*) AS BIGINT) AS n_classes,
  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_unsafe_classes,
  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
  CAST(min(n) AS BIGINT) AS min_class_size
FROM c
""")
def q_k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification audit on (nation, market segment) quasi-
    identifiers at k=5: class counts and rows-at-risk, one hash agg."""
    from breweries_etl_spark.operators.quality import k_anonymity_check

    return k_anonymity_check(
        load_table(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        k=5,
    )


@query(oracle="""
WITH pairs AS (
  SELECT 'o_orderstatus' AS col_name,
         COALESCE(CAST(o_orderstatus AS STRING), chr(0) || 'null') AS val
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', COALESCE(CAST(o_orderpriority AS STRING), chr(0) || 'null')
  FROM orders
),
counts AS (
  SELECT col_name, val, CAST(count(*) AS BIGINT) AS n
  FROM pairs GROUP BY col_name, val
),
totals AS (
  SELECT col_name, CAST(SUM(n) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM counts GROUP BY col_name
)
SELECT c.col_name, t.n_distinct,
  CAST(SUM(CAST(round(-(CAST(c.n AS DOUBLE) / t.total)
                      * log2(CAST(c.n AS DOUBLE) / t.total), 6)
                AS DECIMAL(18,6))) AS DOUBLE) AS entropy_bits
FROM counts c JOIN totals t USING (col_name)
GROUP BY c.col_name, t.n_distinct
""")
def q_column_entropy_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column Shannon entropy (status + priority) from one shared
    groupBy pass; round-6 terms decimal-summed for order independence."""
    from breweries_etl_spark.operators.profiling import categorical_entropy

    return categorical_entropy(
        load_table(spark, sf_dir, "orders"), ["o_orderstatus", "o_orderpriority"]
    )


@query(oracle="""
WITH lc AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS nl
            FROM orders GROUP BY o_orderkey),
rc AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nr
       FROM lineitem GROUP BY l_orderkey),
pk AS (SELECT lc.k, nl * nr AS o FROM lc JOIN rc USING (k))
SELECT CAST(COALESCE(SUM(o), 0) AS BIGINT) AS n_join_rows,
  CAST(count(*) AS BIGINT) AS n_matching_keys,
  CAST(COALESCE(MAX(o), 0) AS BIGINT) AS max_key_rows,
  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_left,
  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_right
FROM pk
""")
def q_join_size_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact orders⋈lineitem output cardinality WITHOUT running the
    join — key-count relations only."""
    from breweries_etl_spark.operators.profiling import join_size_estimate

    return join_size_estimate(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        "o_orderkey",
        "l_orderkey",
    )


@query(bench=False, oracle=f"""
WITH raw AS ({BREWERY_RAW_SQL})
SELECT id, name, brewery_type, state, city, country
FROM raw WHERE {_VALID_FILTER}
""")
def q_quarantine_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = brewery_raw(spark, sf_dir)
    valid, _ = quality.split_invalid_records(raw)
    return valid.select("id", "name", "brewery_type", "state", "city", "country")


@query(bench=False, oracle=f"""
WITH raw AS ({BREWERY_RAW_SQL})
SELECT name, id, country, 'missing_key_values' AS quarantine_reason
FROM raw WHERE NOT ({_VALID_FILTER})
""")
def q_quarantine_rejected(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = brewery_raw(spark, sf_dir)
    _, rejected = quality.split_invalid_records(raw)
    # quarantine_timestamp is wall-clock → excluded from the compared frame
    return rejected.select("name", "id", "country", "quarantine_reason")


@query(bench=False, oracle=f"""
WITH raw AS ({BREWERY_RAW_SQL})
SELECT
  {", ".join(f"count(CASE WHEN {c} IS NULL THEN 1 END) AS {c}_nulls" for c in KEY_FIELDS)}
FROM raw
""")
def q_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = brewery_raw(spark, sf_dir)
    return quality.null_counts(raw, KEY_FIELDS)


@query(bench=False, oracle=_SILVER_CTE
    + "SELECT count(DISTINCT location) AS location_distinct FROM silver")
def q_count_distinct_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    silver = _silver_df(spark, sf_dir)
    return quality.count_distinct(silver, "location")


@query(bench=False, oracle="""
SELECT CAST(coalesce(sum(CASE WHEN cnt > 1 THEN cnt - 1 END), 0) AS BIGINT) AS duplicate_count
FROM (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey)
""")
def q_duplicate_key_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return quality.count_duplicate_ids(li, "l_orderkey")


@query(bench=False, oracle="\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name, count({c}) AS n_nonnull,
  count(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
  count(DISTINCT {c}) AS n_distinct,
  CAST(min({c}) AS STRING) AS min_value, CAST(max({c}) AS STRING) AS max_value
FROM orders"""
        for c in _PROFILE_COLS
    ))
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile (nulls/distinct/min/max per column)."""
    from breweries_etl_spark.operators.profiling import profile_table

    return profile_table(load_table(spark, sf_dir, "orders"), _PROFILE_COLS)


@query(bench=False)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct (deterministic sketch; no SQL oracle —
    DuckDB's approx sketch differs) → rows-only."""
    ev = load_events(spark, sf_dir)
    return ev.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.approx_count_distinct("event_id").alias("approx_events"),
    )


@query(bench=False, oracle="""
WITH stats AS (
  SELECT o_orderpriority, count(*) AS n,
    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS s,
    SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2))
             * CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(38,4))) AS ss
  FROM orders GROUP BY o_orderpriority
), d AS (
  SELECT o_orderpriority, n, CAST(s AS DOUBLE) AS sd, CAST(ss AS DOUBLE) AS ssd
  FROM stats
)
SELECT o_orderkey, o.o_orderpriority,
  round((CAST(o_totalprice AS DOUBLE) - sd / n)
        / sqrt((ssd - sd * sd / n) / n), 6) AS zscore
FROM orders o JOIN d ON o.o_orderpriority = d.o_orderpriority
WHERE (ssd - sd * sd / n) / n > 0
  AND abs(round((CAST(o_totalprice AS DOUBLE) - sd / n)
        / sqrt((ssd - sd * sd / n) / n), 6)) > 1.5
""")
def q_order_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority z-score outliers of order totalprice, with the mean
    and variance derived from exact decimal sums so the z values
    themselves hash-match the oracle."""
    from breweries_etl_spark.operators.profiling import zscore_outliers_exact

    return zscore_outliers_exact(
        load_table(spark, sf_dir, "orders"),
        "o_totalprice",
        "o_orderkey",
        "o_orderpriority",
        z=1.5,
    )


@query(bench=False, oracle="""
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_events
FROM events
""")
def q_distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twin of ``approx_distinct_users`` (count distinct vs HLL
    sketch) — gives the distinct-count operator a hash-matched row while
    the sketch variant stays rows-only."""
    ev = load_events(spark, sf_dir)
    return ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_id").alias("n_events"),
    )


@query(bench=False, oracle="""
WITH st AS (
  SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
), b AS (
  SELECT CASE WHEN mx = mn THEN 1
              ELSE least(20, CAST(floor(((o_totalprice - mn) / (mx - mn)) * 20)
                                 AS BIGINT) + 1) END AS bucket,
         mn, mx
  FROM orders, st
)
SELECT bucket,
  round(mn + (bucket - 1) * (mx - mn) / 20, 6) AS lo,
  round(mn + bucket * (mx - mn) / 20, 6) AS hi,
  CAST(count(*) AS BIGINT) AS cnt
FROM b GROUP BY bucket, mn, mx
""")
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of o_totalprice — single-row
    min/max broadcast back, fixed-order IEEE bucket arithmetic so edges
    and assignment hash-match any engine."""
    from breweries_etl_spark.operators.profiling import equi_width_histogram

    return equi_width_histogram(load_table(spark, sf_dir, "orders"), "o_totalprice", 20)


@query(bench=False, oracle="""
WITH c AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_suppkey
), t AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS nkeys FROM c
)
SELECT l_suppkey, cnt,
  round(cnt / CAST(total AS DOUBLE), 6) AS share,
  round(cnt * nkeys / CAST(total AS DOUBLE), 6) AS heat
FROM c, t
ORDER BY cnt DESC, l_suppkey ASC LIMIT 20
""")
def q_skew_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heaviest l_suppkey join keys with row share and heat factor
    (cnt / uniform-key average) — the pre-join skew diagnostic."""
    from breweries_etl_spark.operators.profiling import key_skew_profile

    return key_skew_profile(load_table(spark, sf_dir, "lineitem"), "l_suppkey", 20)
