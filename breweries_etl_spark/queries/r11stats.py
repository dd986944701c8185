"""Iterative outlier rounds, Hill numbers and Quade's test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import _DAILY_EVENTS, _ESD_BRANCH, _ddw
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("r11stats")


@query(oracle=f"""
WITH base AS (
  SELECT CAST(CASE WHEN o_totalprice < 0 THEN -1.0 ELSE 1.0 END
         * floor(abs(CAST(o_totalprice AS DOUBLE)) * 100.0 + 0.5)
         AS HUGEINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL
), m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         COALESCE(SUM(c), 0) AS s, COALESCE(SUM(c * c), 0) AS q
  FROM base
), tops AS (
  SELECT list(c ORDER BY c DESC) AS t
  FROM (SELECT c FROM base ORDER BY c DESC LIMIT 3)
), bots AS (
  SELECT list(c ORDER BY c ASC) AS b
  FROM (SELECT c FROM base ORDER BY c ASC LIMIT 3)
), st0 AS (
  SELECT n, s, q, t, b, 1 AS ti, 1 AS bi
  FROM m CROSS JOIN tops CROSS JOIN bots
), r1 AS (
  SELECT st0.*, CASE WHEN n >= 3 AND q * n - s * s > 0 THEN
    CASE WHEN {_ESD_BRANCH} THEN t[ti] ELSE b[bi] END END AS x
  FROM st0
), o1 AS (
  SELECT CAST(1 AS BIGINT) AS round, CAST(n AS BIGINT) AS n_before,
    round(CAST(x AS DOUBLE) / 100.0, 6) AS removed_value,
    round((CAST(abs(x * n - s) AS DOUBLE) / CAST(n AS DOUBLE))
      / sqrt(CAST(q * n - s * s AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE)), 6) AS r_stat
  FROM r1 WHERE x IS NOT NULL
), st1 AS (
  SELECT n - 1 AS n, s - x AS s, q - x * x AS q, t, b,
    CASE WHEN {_ESD_BRANCH} THEN ti + 1 ELSE ti END AS ti,
    CASE WHEN {_ESD_BRANCH} THEN bi ELSE bi + 1 END AS bi
  FROM r1 WHERE x IS NOT NULL
), r2 AS (
  SELECT st1.*, CASE WHEN n >= 3 AND q * n - s * s > 0 THEN
    CASE WHEN {_ESD_BRANCH} THEN t[ti] ELSE b[bi] END END AS x
  FROM st1
), o2 AS (
  SELECT CAST(2 AS BIGINT) AS round, CAST(n AS BIGINT) AS n_before,
    round(CAST(x AS DOUBLE) / 100.0, 6) AS removed_value,
    round((CAST(abs(x * n - s) AS DOUBLE) / CAST(n AS DOUBLE))
      / sqrt(CAST(q * n - s * s AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE)), 6) AS r_stat
  FROM r2 WHERE x IS NOT NULL
), st2 AS (
  SELECT n - 1 AS n, s - x AS s, q - x * x AS q, t, b,
    CASE WHEN {_ESD_BRANCH} THEN ti + 1 ELSE ti END AS ti,
    CASE WHEN {_ESD_BRANCH} THEN bi ELSE bi + 1 END AS bi
  FROM r2 WHERE x IS NOT NULL
), r3 AS (
  SELECT st2.*, CASE WHEN n >= 3 AND q * n - s * s > 0 THEN
    CASE WHEN {_ESD_BRANCH} THEN t[ti] ELSE b[bi] END END AS x
  FROM st2
), o3 AS (
  SELECT CAST(3 AS BIGINT) AS round, CAST(n AS BIGINT) AS n_before,
    round(CAST(x AS DOUBLE) / 100.0, 6) AS removed_value,
    round((CAST(abs(x * n - s) AS DOUBLE) / CAST(n AS DOUBLE))
      / sqrt(CAST(q * n - s * s AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE)), 6) AS r_stat
  FROM r3 WHERE x IS NOT NULL
)
SELECT * FROM o1 UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3
""")
def q_generalized_esd_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rosner generalized-ESD rounds on o_totalprice — the iterative
    multi-outlier screen; R_i statistics for 3 removal rounds
    (operators/hypotests.py:generalized_esd_rounds)."""
    from breweries_etl_spark.operators.hypotests import generalized_esd_rounds

    return generalized_esd_rounds(
        load_table(spark, sf_dir, "orders"), "o_totalprice", k=3
    )


@query(oracle="""
WITH counts AS (
  SELECT source AS cat, count(*) AS c FROM documents GROUP BY source
), tot AS (SELECT SUM(c) AS n FROM counts),
folded AS (
  SELECT max(n) AS n, count(*) AS k,
    SUM(CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        AS DECIMAL(18,6))) AS h,
    SUM(CAST(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))
        AS DECIMAL(38,0))) AS sc2,
    max(c) AS cmax
  FROM counts CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS hill_d0,
  CASE WHEN n > 0 THEN round(exp(CAST(h AS DOUBLE)), 6) END AS hill_d1,
  CASE WHEN n > 0 THEN
    round((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(sc2 AS DOUBLE), 6)
  END AS hill_d2,
  CASE WHEN n > 0 THEN
    round(CAST(n AS DOUBLE) / CAST(cmax AS DOUBLE), 6) END AS hill_dinf
FROM folded
""")
def q_hill_diversity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill-number diversity profile (q = 0, 1, 2, ∞) of the document
    source mix (operators/corpus.py:hill_diversity_profile)."""
    from breweries_etl_spark.operators.corpus import hill_diversity_profile

    return hill_diversity_profile(
        load_table(spark, sf_dir, "documents"), "source"
    )


@query(oracle="""
WITH cells AS (
  SELECT c.c_nationkey AS blk, o.o_orderpriority AS trt,
    SUM(CAST((CASE WHEN o.o_totalprice < 0 THEN -1.0 ELSE 1.0 END
        * floor(abs(CAST(o.o_totalprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0
        AS DECIMAL(18,2))) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_nationkey IS NOT NULL AND o.o_orderpriority IS NOT NULL
    AND o.o_totalprice IS NOT NULL
  GROUP BY 1, 2
), kk AS (SELECT count(DISTINCT trt) AS kt FROM cells),
comp AS (
  SELECT blk, trt, y FROM (
    SELECT cells.*, count(*) OVER (PARTITION BY blk) AS kb,
           (SELECT kt FROM kk) AS kt
    FROM cells
  ) WHERE kb = kt
), ranked AS (
  SELECT blk, trt,
    CAST(2 * rank() OVER (PARTITION BY blk ORDER BY y)
         + count(*) OVER (PARTITION BY blk, y) - 1 AS BIGINT) AS m2
  FROM comp
), ranges AS (
  SELECT blk, max(y) - min(y) AS rng FROM comp GROUP BY blk
), q2t AS (
  SELECT blk,
    CAST(2 * rank() OVER (ORDER BY rng)
         + count(*) OVER (PARTITION BY rng) - 1 AS BIGINT) AS q2
  FROM ranges
), s4 AS (
  SELECT r.trt,
    CAST(CAST(q.q2 AS DECIMAL(19,0))
         * CAST(r.m2 - (SELECT kt FROM kk) - 1 AS DECIMAL(19,0))
         AS DECIMAL(38,0)) AS s4
  FROM ranked r JOIN q2t q ON r.blk = q.blk
), per_t AS (
  SELECT trt, SUM(s4) AS s4j FROM s4 GROUP BY trt
), folded AS (
  SELECT
    (SELECT count(*) FROM ranges) AS b,
    (SELECT kt FROM kk) AS kt,
    (SELECT SUM(CAST(CAST(s4 AS DECIMAL(19,0)) * CAST(s4 AS DECIMAL(19,0))
                AS DECIMAL(38,0))) FROM s4) AS a16,
    (SELECT SUM(CAST(CAST(s4j AS DECIMAL(19,0)) * CAST(s4j AS DECIMAL(19,0))
                AS DECIMAL(38,0))) FROM per_t) AS b16
)
SELECT
  CASE WHEN kt >= 2 THEN CAST(b AS BIGINT) ELSE 0 END AS n_blocks,
  CAST(kt AS BIGINT) AS k_treatments,
  CASE WHEN kt >= 2 AND b > 1
       AND CAST(b AS DECIMAL(19,0)) * a16 - b16 > 0 THEN
    round(CAST(CAST((CAST(b AS DECIMAL(19,0)) - 1) * b16 AS DECIMAL(38,0))
               AS DOUBLE)
          / CAST(CAST(CAST(b AS DECIMAL(19,0)) * a16 AS DECIMAL(38,0)) - b16
                 AS DOUBLE), 6)
  END AS quade_stat,
  CASE WHEN kt >= 2 AND b > 0 THEN CAST(kt - 1 AS BIGINT) END AS df1,
  CASE WHEN kt >= 2 AND b > 0
       THEN CAST((b - 1) * (kt - 1) AS BIGINT) END AS df2
FROM folded
""")
def q_quade_nation_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade blocked-rank test: does order priority shift revenue,
    blocking by customer nation — blocks weighted by their within-block
    range rank (operators/hypotests.py:quade_test)."""
    from breweries_etl_spark.operators.hypotests import quade_test

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        c.c_nationkey.alias("blk"),
        o.o_orderpriority.alias("trt"),
        o.o_totalprice.alias("v"),
    )
    return quade_test(j, "blk", "trt", "v")


@query(oracle=f"""
WITH {_DAILY_EVENTS},
base AS (SELECT day, CAST(y * 100 AS HUGEINT) AS c FROM daily),
tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, COALESCE(SUM(c), 0) AS s,
         COALESCE(SUM(c * c), 0) AS ss
  FROM base
), stepped AS (
  SELECT day, CAST(row_number() OVER (ORDER BY day) AS HUGEINT) AS k,
    SUM(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum, n, s, ss
  FROM base CROSS JOIN tot
), vals AS (
  SELECT day, k, n,
    (n * cum - k * s) * (n * cum - k * s) AS d,
    n * ss - s * s AS den
  FROM stepped WHERE k < n
), tq AS (
  SELECT day, n, k, d, den,
    CAST(floor((({_ddw('n * d')})
      / ((CAST(k AS DOUBLE) * CAST(n - k AS DOUBLE)) * ({_ddw('den')})))
      * 1e9) AS BIGINT) AS tq
  FROM vals WHERE den > 0
), arg AS (
  SELECT day, n AS nw, k, d, den FROM tq ORDER BY tq DESC, day ASC LIMIT 1
)
SELECT CAST(t.n AS BIGINT) AS n_days,
  CASE WHEN a.day IS NOT NULL THEN
    round(({_ddw('a.nw * a.d')})
      / ((CAST(a.k AS DOUBLE) * CAST(a.nw - a.k AS DOUBLE))
         * ({_ddw('a.den')})), 6)
  END AS t_stat,
  CAST(a.day AS BIGINT) AS change_day
FROM tot t LEFT JOIN arg a ON TRUE
""")
def q_snht_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alexandersson SNHT standardized-mean changepoint on the daily
    value series — completes the pettitt (rank) / buishand (range)
    family (operators/temporal.py:snht_daily_value)."""
    from breweries_etl_spark.operators.temporal import snht_daily_value

    return snht_daily_value(load_events(spark, sf_dir))


@query(oracle=f"""
WITH daily2 AS MATERIALIZED (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS HUGEINT) AS yc,
    CAST(count(*) AS HUGEINT) AS m
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
), pairs AS (
  SELECT a.day AS da, b.day AS db,
    abs(a.yc - b.yc) AS av, abs(a.m - b.m) AS bv
  FROM daily2 a CROSS JOIN daily2 b
), rows_ AS (
  SELECT da AS day, SUM(av) AS ra, SUM(bv) AS rb FROM pairs GROUP BY da
), tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, SUM(ra) AS ga, SUM(rb) AS gb
  FROM rows_
), guard AS (
  -- exact digit-count overflow guard, identical to the engine's
  -- (temporal.py:distance_correlation_daily): su2 <= 16*n^6*R^2 must
  -- fit HUGEINT, else BOTH engines NULL the stats
  SELECT (2 + 6 * length(CAST(count(*) AS VARCHAR))
        + 2 * greatest(
            length(CAST(COALESCE(max(yc) - min(yc), 0) AS VARCHAR)),
            length(CAST(COALESCE(max(m) - min(m), 0) AS VARCHAR))))
        <= 38 AS fits
  FROM daily2
), folded AS (
  SELECT SUM(u * v) AS suv, SUM(u * u) AS su2, SUM(v * v) AS sv2
  FROM (
    SELECT
      t.n * t.n * p.av - t.n * ja.ra - t.n * jb.ra + t.ga AS u,
      t.n * t.n * p.bv - t.n * ja.rb - t.n * jb.rb + t.gb AS v
    FROM pairs p
    JOIN rows_ ja ON p.da = ja.day
    JOIN rows_ jb ON p.db = jb.day
    CROSS JOIN tot t
    CROSS JOIN guard g
    WHERE g.fits
  )
)
SELECT CAST((SELECT count(*) FROM daily2) AS BIGINT) AS n_days,
  CASE WHEN su2 > 0 AND sv2 > 0 THEN
    round(({_ddw('suv')}) / sqrt(({_ddw('su2')}) * ({_ddw('sv2')})), 6)
  END AS dcor2,
  CASE WHEN su2 > 0 AND sv2 > 0 THEN
    round(sqrt(({_ddw('suv')}) / sqrt(({_ddw('su2')}) * ({_ddw('sv2')}))), 6)
  END AS dcor
FROM folded
""")
def q_dcor_daily_value_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Székely distance correlation between daily total value and
    daily event count — zero iff independent
    (operators/temporal.py:distance_correlation_daily)."""
    from breweries_etl_spark.operators.temporal import (
        distance_correlation_daily,
    )

    return distance_correlation_daily(load_events(spark, sf_dir))
