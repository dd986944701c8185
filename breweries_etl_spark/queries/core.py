"""The paper's gold aggregation and silver chain, and the relational
and TPC-H surface of ``plans/analytics.py``, registered here in bench
order among the ``q_`` builders.

Core is one of three JVMs the original 27-query family was split into
at the merge/diff boundary (``corestate``, ``coreprofile``): in one
shared JVM the tail queries (asof, robust_scale, cdc, snapshot) showed
1.4-2.4x phantom deltas in unchanged code, the same intra-family
interference that split the text family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.functions.exact import (
    sql_charge, sql_disc_price, sql_sum_money,
)
from breweries_etl_spark.functions.synthetic import BREWERY_RAW_SQL, brewery_raw
from breweries_etl_spark.operators import standardize
from breweries_etl_spark.operators import aggregate as agg_ops
from breweries_etl_spark.plans import analytics
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import _CANON, _SILVER_CTE, _silver_df
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("core")


@query(oracle=_SILVER_CTE
    + """
SELECT brewery_type, location, state, city, count(*) AS brewery_count
FROM silver GROUP BY brewery_type, location, state, city
""")
def q_gold_by_type_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 — THE gold aggregation over the standardized silver frame."""
    silver = _silver_df(spark, sf_dir)
    return agg_ops.create_aggregation(
        silver, ["brewery_type", "location", "state", "city"], "brewery_count"
    )


@query(oracle=_SILVER_CTE + "SELECT * FROM silver")
def q_silver_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _silver_df(spark, sf_dir)


query(oracle=f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  {sql_sum_money('l_extendedprice', 'sum_base_price')},
  CAST(SUM({sql_disc_price()}) AS DOUBLE) AS sum_disc_price,
  CAST(SUM({sql_charge()}) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")(analytics.tpch_q1)


query(oracle=f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM({sql_disc_price()}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1998-03-15'
  AND l_shipdate > DATE '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""")(analytics.tpch_q3)


query(oracle=f"""
SELECT n_name, CAST(SUM({sql_disc_price()}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""")(analytics.tpch_q5)


query(oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
""")(analytics.tpch_q6)


query(oracle=f"""
SELECT c_custkey, c_name, n_name, CAST(SUM({sql_disc_price()}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""")(analytics.tpch_q10)


query(oracle="""
WITH avg_qty AS (
  SELECT l_partkey AS pk,
    (CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*)) * 0.2 AS qty_threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_qty ON l_partkey = pk
WHERE p_brand = 'Brand#3' AND l_quantity < qty_threshold
""")(analytics.tpch_q17_small_quantity)


query(oracle="""
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 150
)
SELECT c_custkey, c_name, l_orderkey, o_totalprice, sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
""")(analytics.tpch_q18_large_orders)


query(oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rank_in_customer
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
      AS rank_in_customer
  FROM orders
)
WHERE rank_in_customer <= 3
""")(analytics.topk_orders_per_customer)


@query(oracle="""
SELECT o_custkey, o_orderkey,
  lag(o_totalprice) OVER w AS prev_price,
  lead(o_totalprice) OVER w AS next_price,
  first_value(o_orderkey) OVER w AS first_order,
  round(percent_rank() OVER w, 6) AS pct_rank,
  round(cume_dist() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
""")
def q_window_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function breadth in one pass per customer order history:
    lag/lead, first_value, percent_rank, cume_dist — all over a single
    window partitioning (one shuffle)."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


query(oracle="""
-- Spark grouping-sets DEVIATION, mirrored deliberately: the SQL
-- standard (and DuckDB) emit the grand-total () grouping-set row even
-- for an EMPTY table; Spark emits nothing. The EXISTS guard reproduces
-- Spark's behavior exactly and is a no-op on any non-empty input
-- (empty-table sweep r10).
WITH __r AS (
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
  grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS grouping_level
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
) SELECT * FROM __r WHERE EXISTS (SELECT 1 FROM orders)
""")(analytics.rollup_orders)


query(oracle="""
SELECT user_id,
  count(*) FILTER (event_type = 'click') AS n_click,
  count(*) FILTER (event_type = 'error') AS n_error,
  count(*) FILTER (event_type = 'purchase') AS n_purchase,
  count(*) FILTER (event_type = 'signup') AS n_signup,
  count(*) FILTER (event_type = 'view') AS n_view
FROM events GROUP BY user_id
""")(analytics.pivot_events)


@query(bench=False, oracle=_SILVER_CTE
    + """
SELECT location, state, city, count(*) AS brewery_count
FROM silver GROUP BY location, state, city
""")
def q_gold_by_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    silver = _silver_df(spark, sf_dir)
    return agg_ops.gold_aggregations(silver)["by_location"]


@query(bench=False, oracle=f"""
WITH raw AS ({BREWERY_RAW_SQL})
SELECT name,
  CASE
    WHEN brewery_type IS NULL THEN 'unknown'
    WHEN lower(trim(brewery_type)) IN {_CANON} THEN lower(trim(brewery_type))
    ELSE 'other'
  END AS brewery_type_std
FROM raw
""")
def q_brewery_type_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 in isolation, applied pre-split so the NULL→'unknown' branch is
    exercised (the pipeline quarantines NULL keys before recode)."""
    raw = brewery_raw(spark, sf_dir)
    return raw.select(
        F.col("name"),
        standardize.brewery_type_expr(F.col("brewery_type")).alias("brewery_type_std"),
    )


@query(bench=False, oracle="""
SELECT event_type, count(*) AS count FROM events GROUP BY event_type
""")
def q_value_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return agg_ops.value_counts(ev, "event_type", "count")


@query(bench=False, oracle="SELECT count(*) AS n_rows FROM lineitem")
def q_row_count_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.row_count(load_table(spark, sf_dir, "lineitem"))


@query(bench=False, oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 1
""")
def q_union_fanin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — unionByName fan-in of two disjoint slices (the reference's
    manual partition-concat, obsolete under native partition discovery)."""
    orders = load_table(spark, sf_dir, "orders")
    lo = orders.filter(F.col("o_orderkey") % 2 == 0)
    hi = orders.filter(F.col("o_orderkey") % 2 == 1)
    return lo.unionByName(hi).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(bench=False, oracle="""
SELECT c_name FROM customer WHERE c_name IS NOT NULL ORDER BY c_name LIMIT 3
""")
def q_sample_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — deterministic limit-n diagnostic sample (reference uses
    head(3); ordered here so the result is stable)."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.select("c_name")
        .na.drop()
        .orderBy("c_name")
        .limit(3)
    )


@query(bench=False, oracle=f"""
WITH raw AS (
  SELECT
    CASE WHEN n_nationkey % 7 = 0 THEN NULL ELSE CAST(n_nationkey AS STRING) END AS id,
    CASE n_nationkey % 4 WHEN 0 THEN ' Micro ' WHEN 1 THEN 'NANO'
      WHEN 2 THEN 'taproom' ELSE NULL END AS brewery_type,
    lower(n_name) AS state,
    'city_' || CAST(n_nationkey % 5 AS STRING) AS city,
    'country_' || CAST(n_regionkey AS STRING) AS country
  FROM nation
), valid AS (
  SELECT * FROM raw
  WHERE id IS NOT NULL AND brewery_type IS NOT NULL AND state IS NOT NULL
    AND city IS NOT NULL AND country IS NOT NULL
), silver AS (
  SELECT
    CASE WHEN lower(trim(brewery_type)) IN {_CANON}
         THEN lower(trim(brewery_type)) ELSE 'other' END AS brewery_type,
    upper(country) AS location, upper(state) AS state, upper(city) AS city
  FROM valid
)
SELECT brewery_type, location, state, city, count(*) AS brewery_count
FROM silver GROUP BY brewery_type, location, state, city
""")
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE medallion pipeline as one contract query: deterministic
    landing JSON built from nation rows (incl. quarantine and recode edge
    cases) → bronze → silver(+quarantine) → gold; returns the gold
    by_type_location table. The oracle replicates the full chain in SQL.
    """
    import json
    import os
    import tempfile

    from breweries_etl_spark.config import MedallionPaths
    from breweries_etl_spark.plans.pipeline import run_pipeline
    from breweries_etl_spark.sinks.writers import prepare_landing_directory

    nations = load_table(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    records = [
        {
            "id": None if r["n_nationkey"] % 7 == 0 else str(r["n_nationkey"]),
            "name": r["n_name"],
            "brewery_type": [" Micro ", "NANO", "taproom", None][r["n_nationkey"] % 4],
            "state": r["n_name"].lower(),
            "city": f"city_{r['n_nationkey'] % 5}",
            "country": f"country_{r['n_regionkey']}",
            "website_url": ["", "www.x.io", "https://y.io", None][r["n_nationkey"] % 4],
        }
        for r in nations
    ]
    # mkdtemp: concurrent drivers must not collide on a shared path
    root = tempfile.mkdtemp(prefix="medallion_e2e_")
    paths = MedallionPaths(root)
    prepare_landing_directory(paths.landing)
    with open(os.path.join(paths.landing, "page1.json"), "w", encoding="utf-8") as f:
        json.dump(records, f)
    run_pipeline(spark, paths, retries=1)
    gold = spark.read.parquet(paths.gold_table("by_type_location"))
    return gold.select("brewery_type", "location", "state", "city", "brewery_count")


@query(bench=False, oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders WHERE o_totalprice > 300000
""")
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): BUILDING-segment customers who also placed a
    300k+ order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.intersect(b)


@query(bench=False, oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT o_custkey FROM orders WHERE o_totalprice > 300000
""")
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): BUILDING-segment customers with no 300k+ order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.subtract(b)


@query(bench=False, oracle="""
SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS value FROM orders
UNION ALL
SELECT o_orderkey, 'custkey_num' AS metric, CAST(o_custkey AS DOUBLE) AS value FROM orders
""")
def q_unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-order metrics to long (metric, value)
    rows — the inverse of pivot, via the native unpivot API."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey_num"),
    )
    return wide.unpivot(
        ids=["o_orderkey"],
        values=["totalprice", "custkey_num"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(bench=False, oracle="""
-- Spark grouping-sets DEVIATION, mirrored deliberately: the SQL
-- standard (and DuckDB) emit the grand-total () grouping-set row even
-- for an EMPTY table; Spark emits nothing. The EXISTS guard reproduces
-- Spark's behavior exactly and is a no-op on any non-empty input
-- (empty-table sweep r10).
WITH __r AS (
SELECT o_orderstatus, o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
) SELECT * FROM __r WHERE EXISTS (SELECT 1 FROM orders)
""")
def q_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((status, priority), (status), ()) with
    grouping_id — the finer/coarser/global rollup in ONE aggregation pass
    (Spark expands sets in a single Expand+HashAggregate, no re-scan)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().alias("gid"),
        )
        .select("o_orderstatus", "o_orderpriority", "n_orders", F.col("gid").cast("long").alias("gid"))
    )


@query(bench=False, oracle="""
SELECT o_orderkey,
  CAST(year(o_orderdate) AS BIGINT) AS yr,
  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
  last_day(o_orderdate) AS eom,
  CAST(isodow(o_orderdate) AS BIGINT) AS isodow,
  CAST(weekofyear(o_orderdate) AS BIGINT) AS isoweek,
  CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
    AS days_since_92
FROM orders
""")
def q_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar datetime-function surface over o_orderdate: truncation,
    month arithmetic, last-day, ISO weekday/week, day difference from the
    epoch of the dataset — one pass, all codegen, dialect-portable."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
        F.add_months(F.col("o_orderdate"), 3).alias("plus3m"),
        F.last_day(F.col("o_orderdate")).alias("eom"),
        (F.weekday(F.col("o_orderdate")) + 1).cast("long").alias("isodow"),
        F.weekofyear(F.col("o_orderdate")).cast("long").alias("isoweek"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("days_since_92"),
    )


@query(bench=False, oracle="""
WITH a AS (
  SELECT l_orderkey, list_sort(list(l_linenumber)) AS arr
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
  CAST(len(arr) AS BIGINT) AS n_lines,
  CAST(list_sum(arr[1:3]) AS BIGINT) AS sum_first3,
  CAST(list_max(arr) AS BIGINT) AS max_line,
  CAST(list_min(arr) AS BIGINT) AS min_line,
  list_contains(arr, 4) AS has_line4,
  CAST(coalesce(list_position(arr, 2), 0) AS BIGINT) AS pos_line2
FROM a
""")
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface: per-order sorted line-number array derived
    scalars (size, sliced sum, min/max, membership, position) — the
    collect_list is made deterministic by sort_array before anything
    reads element order."""
    li = load_table(spark, sf_dir, "lineitem")
    arr = F.sort_array(F.collect_list("l_linenumber"))
    return (
        li.groupBy("l_orderkey")
        .agg(arr.alias("arr"))
        .select(
            "l_orderkey",
            F.size("arr").cast("long").alias("n_lines"),
            F.aggregate(
                F.slice("arr", 1, 3), F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("sum_first3"),
            F.array_max("arr").cast("long").alias("max_line"),
            F.array_min("arr").cast("long").alias("min_line"),
            F.array_contains("arr", F.lit(4)).alias("has_line4"),
            F.array_position("arr", F.lit(2)).cast("long").alias("pos_line2"),
        )
    )


query(bench=False, oracle="""
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""")(analytics.semi_join_customers)


query(bench=False, oracle=f"""
SELECT round(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {sql_disc_price()} ELSE 0 END) AS DOUBLE)
  / CAST(SUM({sql_disc_price()}) AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1996-03-01' AND l_shipdate < DATE '1996-04-01'
""")(analytics.tpch_q14_promo)


query(bench=False, oracle=f"""
SELECT CAST(SUM({sql_disc_price()}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 35)
""")(analytics.tpch_q19_brand_quantity)


query(bench=False, oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""")(analytics.tpch_q13_order_distribution)


query(bench=False, oracle=f"""
WITH revenue AS (
  SELECT l_suppkey, CAST(SUM({sql_disc_price()}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""")(analytics.tpch_q15_top_supplier)


query(bench=False, oracle="""
-- Spark grouping-sets DEVIATION, mirrored deliberately: the SQL
-- standard (and DuckDB) emit the grand-total () grouping-set row even
-- for an EMPTY table; Spark emits nothing. The EXISTS guard reproduces
-- Spark's behavior exactly and is a no-op on any non-empty input
-- (empty-table sweep r10).
WITH __r AS (
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
  grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS grouping_level
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
) SELECT * FROM __r WHERE EXISTS (SELECT 1 FROM orders)
""")(analytics.cube_orders)


query(bench=False, oracle="""
SELECT round(quantile_cont(l_extendedprice, 0.25), 6) AS q25,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS q50,
       round(quantile_cont(l_extendedprice, 0.75), 6) AS q75
FROM lineitem
""")(analytics.price_quantiles)


query(bench=False, oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
    CAST(value AS DECIMAL(12,2)) AS v
  FROM events
)
SELECT event_id, user_id, ts_us,
  CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
  CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
    / count(*) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS avg_last3
FROM e
""")(analytics.running_aggregates)


query(bench=False, oracle="""
WITH na AS (
  SELECT c_nationkey,
    CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS nation_avg
  FROM customer GROUP BY c_nationkey
)
SELECT c_custkey, c_acctbal, round(nation_avg, 6) AS nation_avg
FROM customer JOIN na USING (c_nationkey)
WHERE c_acctbal > nation_avg
""")(analytics.customers_above_nation_avg)


query(bench=False, oracle=f"""
SELECT supp_nation, cust_nation, l_year, CAST(SUM(dp) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
    year(l_shipdate) AS l_year, {sql_disc_price()} AS dp
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
""")(analytics.tpch_q7_nation_volume)


query(bench=False, oracle="""
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS window_start,
    event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n DESC,
                                        event_type ASC NULLS LAST) AS rank
  FROM hourly
)
SELECT window_start, event_type, n, rank FROM ranked WHERE rank <= 2
""")(analytics.hourly_heavy_hitters)


query(bench=False, oracle="""
WITH c AS (
  SELECT c_nationkey AS nationkey, count(*) AS n_customers
  FROM customer GROUP BY c_nationkey
), s AS (
  SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
  FROM supplier GROUP BY s_nationkey
)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
  coalesce(n_customers, 0) AS n_customers,
  coalesce(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
""")(analytics.full_outer_nation_counts)


query(bench=False, oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderdate >= DATE '2000-01-01'
)
""")(analytics.anti_join_customers)


query(bench=False, oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority ORDER BY o_orderpriority
""")(analytics.tpch_q4_priority)


query(bench=False, oracle=f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
  round(
    CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END) AS DOUBLE)
      / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT o_orderdate, n1.n_name AS supp_nation, {sql_disc_price()} AS volume,
    n2.n_regionkey AS c_rk
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE p_type = 'PROMO'
    AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
)
JOIN region ON c_rk = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY o_year ORDER BY o_year
""")(analytics.tpch_q8_market_share)


query(bench=False, oracle=f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
  CAST(SUM({sql_disc_price()}
    - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.60 AS DECIMAL(3,2))
      * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year ORDER BY n_name, o_year DESC
""")(analytics.tpch_q9_nation_profit)


query(bench=False, oracle="""
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
    AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
    AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus ORDER BY l_linestatus
""")(analytics.tpch_q12_late_priority)


query(bench=False, oracle="""
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT s_name, count(*) AS numwait
FROM lo l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.late
  AND EXISTS (
    SELECT 1 FROM lo l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lo l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.late
  )
GROUP BY s_name ORDER BY numwait DESC, s_name
""")(analytics.tpch_q21_waiting_supplier)


query(bench=False, oracle="""
SELECT c_mktsegment, count(*) AS numcust,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
    FROM customer WHERE c_acctbal > 0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= DATE '1999-01-01'
  )
GROUP BY c_mktsegment ORDER BY c_mktsegment
""")(analytics.tpch_q22_dormant_customers)


query(bench=False, oracle="""
WITH bridge AS (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem),
cand AS (
  SELECT ps_partkey, s_acctbal, s_name, n_name, p_partkey, p_name
  FROM bridge
  JOIN part ON ps_partkey = p_partkey
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_type = 'LARGE' AND p_size >= 25 AND r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM cand c1
WHERE s_acctbal = (SELECT max(s_acctbal) FROM cand c2 WHERE c2.ps_partkey = c1.ps_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
""")(analytics.tpch_q2_best_supplier)


query(bench=False, oracle="""
WITH national AS (
  SELECT l_partkey AS ps_partkey,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT ps_partkey, round(value, 6) AS value
FROM national
WHERE value > (SELECT SUM(value) / 1000.0 FROM national)
ORDER BY value DESC, ps_partkey
""")(analytics.tpch_q11_important_stock)


query(bench=False, oracle="""
WITH bridge AS (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
FROM bridge JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (10, 20, 30, 40, 49)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""")(analytics.tpch_q16_supplier_count)


query(bench=False, oracle="""
WITH heavy AS (
  SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS shipped_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%blue%'
    AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  GROUP BY l_suppkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 100
)
SELECT s_suppkey, s_name, shipped_qty
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN heavy ON s_suppkey = l_suppkey
WHERE n_name = 'NATION_5'
ORDER BY s_name
""")(analytics.tpch_q20_part_shippers)
