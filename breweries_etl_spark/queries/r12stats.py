"""Dispersion ranks, circular uniformity, characteristic-function
normality and aligned-rank blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import _DAILY_EVENTS, _ddw, _ddwf, _qm8
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("r12stats")


@query(oracle=f"""
WITH pos AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ga,
    l_extendedprice AS v,
    row_number() OVER (ORDER BY l_extendedprice) AS p,
    count(*) OVER () AS n
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), st AS (
  -- published zig-zag pattern incl. middle -> N when N odd
  SELECT v, ga, n, CASE
    WHEN p <= n // 2 THEN 2 * p - (p % 2)
    WHEN n % 2 = 1 AND p = n // 2 + 1 THEN n
    ELSE 2 * (n + 1 - p) - 1 + ((n + 1 - p) % 2) END AS r
  FROM pos
), byv AS MATERIALIZED (
  SELECT v, count(*) AS c, CAST(SUM(r) AS DECIMAL(38,0)) AS t,
    SUM(ga) AS ca, max(n) AS nn
  FROM st GROUP BY v
), folded AS (
  SELECT max(nn) AS nn, SUM(ca) AS n_a,
    SUM(CAST(floor(1e6 * CAST(ca AS DOUBLE)
                   * (({_ddw('t')}) / CAST(c AS DOUBLE)))
             AS DECIMAL(38,0))) AS w_fp,
    SUM(t) AS s_sum,
    SUM(CAST(floor(1e6 * ({_ddw('t')})
                   * (({_ddw('t')}) / CAST(c AS DOUBLE)))
             AS DECIMAL(38,0))) AS aa_fp
  FROM byv
), d AS (
  SELECT n_a, nn - n_a AS n_b, nn,
    CAST(n_a AS DOUBLE) AS na, CAST(nn - n_a AS DOUBLE) AS nb,
    CAST(nn AS DOUBLE) AS n,
    {_ddw('w_fp')} / 1e6 AS w,
    {_ddw('s_sum')} AS sa,
    {_ddw('aa_fp')} / 1e6 AS saa
  FROM folded
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  round(w, 6) AS st_stat,
  CASE WHEN n_a > 0 AND n_b > 0 AND
    na * nb * (n * saa - sa * sa) / (n * n * (n - 1.0)) > 0 THEN
    round((w - na * (sa / n))
          / sqrt(na * nb * (n * saa - sa * sa) / (n * n * (n - 1.0))), 6)
  END AS z_score
FROM d
""")
def q_siegel_tukey_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel–Tukey zig-zag-rank dispersion test of price, returned vs
    other (operators/hypotests.py:siegel_tukey)."""
    from breweries_etl_spark.operators.hypotests import siegel_tukey

    return siegel_tukey(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle=f"""
WITH base AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g,
    {_qm8('l_extendedprice')} AS v
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), means AS (
  SELECT g, count(*) AS n, SUM(CAST(v AS DECIMAL(38,2))) AS s
  FROM base GROUP BY g
), mu AS (
  SELECT g, ({_ddwf('s')}) / CAST(n AS DOUBLE) AS mu FROM means
), dev AS (
  SELECT base.g,
    CAST(floor(abs(CAST(v AS DOUBLE) - mu) * 100.0) AS HUGEINT) AS u
  FROM base JOIN mu ON base.g = mu.g
), vc AS MATERIALIZED (
  SELECT u, SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN g = 1 THEN 0 ELSE 1 END) AS cb
  FROM dev GROUP BY u
), cum AS (
  SELECT u, ca, cb,
    SUM(ca + cb) OVER (ORDER BY u ROWS UNBOUNDED PRECEDING) AS cum
  FROM vc
), tot AS (
  SELECT SUM(ca) AS n_a, SUM(cb) AS n_b, SUM(ca + cb) AS nn FROM vc
), geom AS (
  SELECT ca, CAST(ca + cb AS HUGEINT) AS c, n_a, n_b, nn,
    CAST(2 * cum - (ca + cb) + 1 AS HUGEINT) AS m2
  FROM cum CROSS JOIN tot
), split AS (
  SELECT ca, c, n_a, n_b, nn, m2 * m2 AS m2sq,
    (m2 * m2) // 1000000000 AS a_hi,
    (m2 * m2) % 1000000000 AS b_lo
  FROM geom
), split2 AS (
  SELECT ca, c, n_a, n_b, nn, m2sq, a_hi, b_lo,
    (2 * a_hi * b_lo) * 1000000000 + b_lo * b_lo AS crs
  FROM split
), split3 AS (
  SELECT ca, c, n_a, n_b, nn, m2sq,
    a_hi * a_hi + crs // 1000000000000000000 AS q_hi,
    crs % 1000000000000000000 AS c_lo
  FROM split2
), folded AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b, max(nn) AS nn,
    SUM(CAST(ca AS HUGEINT) * m2sq) AS t4,
    SUM(c * m2sq) AS s4,
    SUM(c * q_hi) AS q16_hi,
    SUM(c * c_lo) AS q16_lo
  FROM split3
), d AS (
  SELECT n_a, n_b, nn,
    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
    CAST(nn AS DOUBLE) AS n,
    {_ddw('t4')} / 4.0 AS t_stat,
    {_ddw('s4')} / 4.0 AS sa,
    ({_ddw('q16_hi')} * 1e18 + {_ddw('q16_lo')}) / 16.0 AS saa
  FROM folded
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  round(t_stat, 6) AS t_stat,
  CASE WHEN n_a > 0 AND n_b > 0 AND
    na * nb * (n * saa - sa * sa) / (n * n * (n - 1.0)) > 0 THEN
    round((t_stat - na * (sa / n))
          / sqrt(na * nb * (n * saa - sa * sa) / (n * n * (n - 1.0))), 6)
  END AS z_score
FROM d
""")
def q_conover_sqranks_price_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conover squared-ranks variance test of price, returned vs other —
    own-group-mean centering, no equal-median assumption
    (operators/hypotests.py:conover_squared_ranks)."""
    from breweries_etl_spark.operators.hypotests import (
        conover_squared_ranks,
    )

    return conover_squared_ranks(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle=f"""
WITH base AS (
  SELECT ((epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000)
          + 86400000000) % 86400000000 // 60000000 AS m
  FROM events WHERE ts IS NOT NULL
), pos AS (
  SELECT CAST(m AS HUGEINT) AS m,
    CAST(row_number() OVER (ORDER BY m) AS HUGEINT) AS i,
    CAST(count(*) OVER () AS HUGEINT) AS n
  FROM base
), tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
    CAST(COALESCE(SUM(m), 0) AS HUGEINT) AS sa
  FROM base
), p3 AS (
  SELECT SUM(3 * d * d) AS p3 FROM (
    SELECT 2 * n * m - (2 * i - 1) * 1440 AS d FROM pos
  )
), t AS (
  SELECT tot.n AS n, p3.p3 AS p3,
    2 * tot.sa - tot.n * 1440 AS dv
  FROM tot CROSS JOIN p3
)
SELECT CAST(n AS BIGINT) AS n,
  CASE WHEN n > 0 THEN
    round(({_ddw('p3 - 3 * n * (dv * dv) + n * 1440 * 1440')})
          / (12.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 2073600.0), 6)
  END AS u2_stat
FROM t
""")
def q_watson_u2_minute_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watson's U² circular-uniformity test of event minute-of-day —
    rotation-invariant; catches the bimodal load patterns Rayleigh
    calls uniform (operators/temporal.py:watson_u2_minute)."""
    from breweries_etl_spark.operators.temporal import watson_u2_minute

    return watson_u2_minute(load_events(spark, sf_dir))


@query(oracle=f"""
WITH {_DAILY_EVENTS},
base AS (SELECT day, CAST(y * 100 AS HUGEINT) AS c FROM daily),
tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, COALESCE(SUM(c), 0) AS s,
    COALESCE(SUM(c * c), 0) AS ss
  FROM base
), ys AS (
  SELECT ({_ddw('(t.n * b.c - t.s)')})
    / sqrt({_ddw('(t.n * t.ss - t.s * t.s)')}) AS y
  FROM base b CROSS JOIN tot t WHERE t.n * t.ss - t.s * t.s > 0
), s1 AS (
  SELECT COALESCE(SUM(CAST(round(
      exp((a.y - b.y) * (a.y - b.y) / -2.0), 6) AS DECIMAL(8,6))),
      0) AS s1
  FROM ys a CROSS JOIN ys b
), s2 AS (
  SELECT COALESCE(SUM(CAST(round(exp(y * y / -4.0), 6)
      AS DECIMAL(8,6))), 0) AS s2
  FROM ys
)
SELECT CAST(t.n AS BIGINT) AS n_days,
  CASE WHEN t.n > 0 AND t.n * t.ss - t.s * t.s > 0 THEN
    round(({_ddwf('s1.s1')}) / CAST(t.n AS DOUBLE)
          - sqrt(2.0) * ({_ddwf('s2.s2')})
          + CAST(t.n AS DOUBLE) / sqrt(3.0), 6)
  END AS tep_stat
FROM tot t CROSS JOIN s1 CROSS JOIN s2
""")
def q_epps_pulley_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epps–Pulley / BHEP(β=1) characteristic-function normality test
    of the daily value series (operators/temporal.py:epps_pulley_daily)."""
    from breweries_etl_spark.operators.temporal import epps_pulley_daily

    return epps_pulley_daily(load_events(spark, sf_dir))


@query(oracle=f"""
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
), blks AS (
  SELECT blk, SUM(y) AS sj FROM comp GROUP BY blk
), align AS (
  SELECT c.blk, c.trt,
    CAST((SELECT kt FROM kk) AS HUGEINT) * CAST(c.y * 100 AS HUGEINT)
      - CAST(b.sj * 100 AS HUGEINT) AS a
  FROM comp c JOIN blks b ON c.blk = b.blk
), rk AS (
  SELECT blk, trt,
    CAST(2 * rank() OVER (ORDER BY a)
         + count(*) OVER (PARTITION BY a) - 1 AS HUGEINT) AS m2
  FROM align
), dt AS (SELECT trt, SUM(m2) AS d FROM rk GROUP BY trt),
db AS (SELECT blk, SUM(m2) AS d FROM rk GROUP BY blk),
f AS (
  SELECT (SELECT kt FROM kk) AS kt,
    (SELECT count(*) FROM db) AS b,
    (SELECT SUM(d * d) FROM dt) AS sdt2,
    (SELECT SUM(d * d) FROM db) AS sdb2
), g AS (
  SELECT kt, b, sdt2, sdb2,
    CAST(kt AS HUGEINT) * CAST(b AS HUGEINT) AS nkb
  FROM f
), h AS (
  SELECT kt, b,
    CAST(kt AS HUGEINT) * sdt2
      - (CAST(kt AS HUGEINT) * kt * b * b) * ((nkb + 1) * (nkb + 1))
      AS numer,
    CAST(kt AS HUGEINT)
      * ((2 * nkb * (nkb + 1) * (2 * nkb + 1)) // 3)
      - sdb2 AS denom
  FROM g
)
SELECT
  CASE WHEN kt >= 2 THEN CAST(b AS BIGINT) ELSE 0 END AS n_blocks,
  CAST(kt AS BIGINT) AS k_treatments,
  CASE WHEN kt >= 2 AND b > 0 AND denom > 0 THEN
    round((CAST(kt - 1 AS DOUBLE) * ({_ddw('numer')}))
          / ({_ddw('denom')}), 6)
  END AS aligned_stat,
  CASE WHEN kt >= 2 AND b > 0 THEN CAST(kt - 1 AS BIGINT) END AS df
FROM h
""")
def q_aligned_ranks_nation_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Friedman ALIGNED-ranks test of order priority effect on revenue,
    blocked by customer nation — pooled cross-block ranking after
    removing block means
    (operators/hypotests.py:friedman_aligned_ranks)."""
    from breweries_etl_spark.operators.hypotests import (
        friedman_aligned_ranks,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        c.c_nationkey.alias("blk"),
        o.o_orderpriority.alias("trt"),
        o.o_totalprice.alias("v"),
    )
    return friedman_aligned_ranks(j, "blk", "trt", "v")
