"""Rank and moment statistics. This family and ``r7graph``,
``r7docs`` and ``r7series`` are split by cost profile from the start,
after the 27-query shared-JVM bleed in ``core``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _AB_S2V, _B, _BOOT_W, _BTL_VARG, _D, _FRD_CHI2, _KS_VC, _KUIPER_SIGNED, _YD_A,
    _YD_B, _YH_A, _YH_B, _YTM_A, _YTM_B, _ddw, _ddwf, _empty_anchored, _yuen_side,
)
from breweries_etl_spark.sources.tables import load_table

query = family("r7stats")


@query(oracle=f"""
WITH per_g AS (
  SELECT l_returnflag AS g, count(*) AS n_g,
    SUM(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))) AS s_g,
    SUM(CAST(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
             * CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS q_g
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
  GROUP BY 1
), s AS (
  SELECT SUM(n_g) AS n, count(*) AS k,
    SUM(CASE WHEN n_g < 2 OR NOT ({_BTL_VARG} > 0) THEN 1 ELSE 0 END) AS n_bad,
    SUM(CASE WHEN n_g >= 2 AND {_BTL_VARG} > 0 THEN
      CAST(floor({_BTL_VARG} * (CAST(n_g AS DOUBLE) - 1.0) * 100.0)
           AS DECIMAL(38,0)) END) AS ss,
    SUM(CASE WHEN n_g >= 2 AND {_BTL_VARG} > 0 THEN
      CAST(CAST(floor(ln({_BTL_VARG}) * 1e12) AS DECIMAL(38,0))
           * CAST(n_g - 1 AS DECIMAL(19,0)) AS DECIMAL(38,0)) END) AS lnsum,
    SUM(CASE WHEN n_g >= 2 AND {_BTL_VARG} > 0 THEN
      CAST(floor(1e12 / (CAST(n_g AS DOUBLE) - 1.0)) AS DECIMAL(38,0))
      END) AS invsum
  FROM per_g
), d AS (
  SELECT n, k, n_bad,
    (({_ddw('ss')} / 100.0) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS sp2,
    {_ddw('lnsum')} / 1e12 AS lns,
    {_ddw('invsum')} / 1e12 AS invs
  FROM s
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  CASE WHEN n_bad = 0 AND k > 1 AND sp2 > 0 THEN round(sp2, 6) END
    AS pooled_var,
  CASE WHEN n_bad = 0 AND k > 1 AND sp2 > 0 THEN
    round(((CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) * ln(sp2) - lns)
          / (1.0 + (invs - 1.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
                   / (3.0 * (CAST(k AS DOUBLE) - 1.0))), 6)
  END AS bartlett_stat
FROM d
""")
def q_bartlett_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett equal-variance test of price across return flags — the
    likelihood-ratio member of the levene/brown_forsythe trio
    (operators/hypotests.py:bartlett_test)."""
    from breweries_etl_spark.operators.hypotests import bartlett_test

    return bartlett_test(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


@query(oracle=f"""
WITH blocks AS (
  SELECT o_custkey,
    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS xa,
    SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS xb,
    SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS xc
  FROM orders GROUP BY o_custkey
), r AS (
  SELECT
    2 + 2 * (CASE WHEN xb < xa THEN 1 ELSE 0 END
             + CASE WHEN xc < xa THEN 1 ELSE 0 END)
      + (CASE WHEN xb = xa THEN 1 ELSE 0 END
         + CASE WHEN xc = xa THEN 1 ELSE 0 END) AS ra,
    2 + 2 * (CASE WHEN xa < xb THEN 1 ELSE 0 END
             + CASE WHEN xc < xb THEN 1 ELSE 0 END)
      + (CASE WHEN xa = xb THEN 1 ELSE 0 END
         + CASE WHEN xc = xb THEN 1 ELSE 0 END) AS rb,
    2 + 2 * (CASE WHEN xa < xc THEN 1 ELSE 0 END
             + CASE WHEN xb < xc THEN 1 ELSE 0 END)
      + (CASE WHEN xa = xc THEN 1 ELSE 0 END
         + CASE WHEN xb = xc THEN 1 ELSE 0 END) AS rc
  FROM blocks
), s AS (
  SELECT count(*) AS n,
    SUM(CAST(ra AS DECIMAL(19,0))) AS sa,
    SUM(CAST(rb AS DECIMAL(19,0))) AS sb,
    SUM(CAST(rc AS DECIMAL(19,0))) AS sc
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_blocks,
  CAST(sa AS BIGINT) AS rank2_sum_a,
  CAST(sb AS BIGINT) AS rank2_sum_b,
  CAST(sc AS BIGINT) AS rank2_sum_c,
  CASE WHEN n > 0 THEN
    round({_FRD_CHI2}, 6)
  END AS friedman_chi2,
  CASE WHEN n > 0 THEN
    round({_FRD_CHI2} / (2.0 * CAST(n AS DOUBLE)), 6)
  END AS kendalls_w
FROM s
""")
def q_friedman_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman paired-rank test of the three order-status counts per
    customer block (operators/hypotests.py:friedman_3)."""
    from breweries_etl_spark.operators.hypotests import friedman_3

    o = load_table(spark, sf_dir, "orders")
    blocks = o.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("xa"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("xb"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("xc"),
    )
    return friedman_3(blocks, "o_custkey", F.col("xa"), F.col("xb"), F.col("xc"))


@query(oracle=f"""
WITH cells AS MATERIALIZED (
  SELECT l_linestatus AS a, l_returnflag AS b, count(*) AS o
  FROM lineitem
  WHERE l_linestatus IS NOT NULL AND l_returnflag IS NOT NULL
  GROUP BY 1, 2
), ra AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY a),
cb AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY b),
tot AS (
  SELECT SUM(o) AS n, count(DISTINCT a) AS ka, count(DISTINCT b) AS kb
  FROM cells
), g AS (
  SELECT SUM(CAST(floor(2.0 * CAST(o AS DOUBLE)
    * ln(CAST(o AS DOUBLE)
         / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(tot.n AS DOUBLE)))
    * 1e6) AS DECIMAL(38,0))) AS g_fp
  FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n, CAST(ka AS BIGINT) AS n_cat_a,
  CAST(kb AS BIGINT) AS n_cat_b,
  CAST((ka - 1) * (kb - 1) AS BIGINT) AS dof,
  CASE WHEN (ka - 1) * (kb - 1) > 0 THEN
    round({_ddw('g_fp')} / 1e6, 4)
  END AS g_stat
FROM tot CROSS JOIN g
""")
def q_g_test_status_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Likelihood-ratio G test of linestatus x returnflag independence
    — the log-linear dual of cramers_v_status_flag
    (operators/hypotests.py:g_test_contingency)."""
    from breweries_etl_spark.operators.hypotests import g_test_contingency

    return g_test_contingency(
        load_table(spark, sf_dir, "lineitem"), "l_linestatus", "l_returnflag"
    )


@query(oracle=f"""
WITH cells AS MATERIALIZED (
  SELECT l_quantity AS x, l_discount AS y, count(*) AS c
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
  GROUP BY 1, 2
), pairs AS (
  SELECT
    SUM(CASE WHEN a.y < b.y THEN
      CAST(CAST(a.c AS DECIMAL(19,0)) * CAST(b.c AS DECIMAL(19,0))
           AS DECIMAL(38,0)) END) AS nc0,
    SUM(CASE WHEN a.y > b.y THEN
      CAST(CAST(a.c AS DECIMAL(19,0)) * CAST(b.c AS DECIMAL(19,0))
           AS DECIMAL(38,0)) END) AS nd0
  FROM cells a JOIN cells b ON a.x < b.x
), tx AS (SELECT x, SUM(c) AS t FROM cells GROUP BY x),
ty AS (SELECT y, SUM(c) AS t FROM cells GROUP BY y),
tiex AS (
  SELECT SUM(CAST(CAST(t AS DECIMAL(19,0)) * (CAST(t AS DECIMAL(19,0)) - 1)
                  AS DECIMAL(38,0))) AS tie2x FROM tx
), tiey AS (
  SELECT SUM(CAST(CAST(t AS DECIMAL(19,0)) * (CAST(t AS DECIMAL(19,0)) - 1)
                  AS DECIMAL(38,0))) AS tie2y FROM ty
), tot AS (SELECT SUM(c) AS n, count(*) AS n_cells FROM cells),
f AS (
  SELECT n, n_cells,
    {_ddw("coalesce(nc0, CAST(0 AS DECIMAL(38,0)))")} AS ncd,
    {_ddw("coalesce(nd0, CAST(0 AS DECIMAL(38,0)))")} AS ndd,
    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
      - {_ddw('tie2x')} AS den_yx,
    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
      - {_ddw('tie2y')} AS den_xy
  FROM tot CROSS JOIN pairs CROSS JOIN tiex CROSS JOIN tiey
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_cells AS BIGINT) AS n_cells,
  CASE WHEN ncd + ndd > 0 THEN round((ncd - ndd) / (ncd + ndd), 6) END
    AS gamma,
  CASE WHEN den_yx > 0 THEN round(2.0 * (ncd - ndd) / den_yx, 6) END
    AS somers_dyx,
  CASE WHEN den_xy > 0 THEN round(2.0 * (ncd - ndd) / den_xy, 6) END
    AS somers_dxy
FROM f
""")
def q_ordinal_assoc_qty_discount(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goodman-Kruskal gamma + both Somers' D directions for quantity
    vs discount — the tie-handling family around kendall_tau_b
    (operators/hypotests.py:ordinal_association)."""
    from breweries_etl_spark.operators.hypotests import ordinal_association

    return ordinal_association(
        load_table(spark, sf_dir, "lineitem"), "l_quantity", "l_discount"
    )


@query(oracle=f"""
WITH vc AS MATERIALIZED (
  SELECT l_extendedprice AS v,
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS cb
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
    SUM(ca + cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM vc
), tot AS (
  SELECT SUM(ca) AS n_a, SUM(cb) AS n_b, SUM(ca + cb) AS nn FROM vc
), geom AS (
  SELECT ca, cb, n_a, n_b, nn,
    CAST(ca + cb AS DECIMAL(19,0)) AS c,
    CAST(cum AS DECIMAL(19,0)) - CAST(ca + cb AS DECIMAL(19,0)) + 1 AS lo,
    CAST(cum AS DECIMAL(19,0)) AS hi,
    CAST((nn + 1) // 2 AS DECIMAL(19,0)) AS t,
    CAST(nn + 1 AS DECIMAL(19,0)) AS np1
  FROM cum CROSS JOIN tot
), series AS (
  SELECT ca, n_a, n_b, nn, c, lo, hi, np1,
    least(hi, t) AS b1,
    greatest(least(hi, t) - lo + 1, CAST(0 AS DECIMAL(19,0))) AS len1,
    greatest(lo, t + 1) AS a2,
    greatest(hi - greatest(lo, t + 1) + 1, CAST(0 AS DECIMAL(19,0))) AS len2
  FROM geom
), folded AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b, max(nn) AS nn,
    SUM(CAST(floor(1e6 * CAST(ca AS DOUBLE)
                   * (({_ddw(_AB_S2V)} / 2.0) / CAST(c AS DOUBLE)))
             AS DECIMAL(38,0))) AS w_fp,
    SUM({_AB_S2V}) AS s2_sum,
    SUM(CAST(floor(1e6 * ({_ddw(_AB_S2V)} / 2.0)
                   * (({_ddw(_AB_S2V)} / 2.0) / CAST(c AS DOUBLE)))
             AS DECIMAL(38,0))) AS aa_fp
  FROM series
), d AS (
  SELECT n_a, n_b, nn,
    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
    CAST(nn AS DOUBLE) AS n,
    {_ddw('w_fp')} / 1e6 AS w,
    {_ddw('s2_sum')} / 2.0 AS sa,
    {_ddw('aa_fp')} / 1e6 AS saa
  FROM folded
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  round(w, 6) AS ab_stat,
  CASE WHEN n_a > 0 AND n_b > 0 AND
    na * nb * (n * saa - sa * sa) / (n * n * (n - 1.0)) > 0 THEN
    round((w - na * (sa / n))
          / sqrt(na * nb * (n * saa - sa * sa) / (n * n * (n - 1.0))), 6)
  END AS z_score
FROM d
""")
def q_ansari_bradley_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley dispersion test of price, returned vs other —
    both-ends rank scores off the prefix-count primitive
    (operators/hypotests.py:ansari_bradley)."""
    from breweries_etl_spark.operators.hypotests import ansari_bradley

    return ansari_bradley(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle=f"""
WITH vc AS MATERIALIZED (
  -- explicit half-up integer cents (the _batch_cents discipline)
  SELECT CAST(CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END
              * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)
              AS BIGINT) AS v,
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca0,
    SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS cb0
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), cum0 AS (
  SELECT v,
    CAST(v AS DECIMAL(19,0)) AS vi,
    CAST(ca0 AS DECIMAL(19,0)) AS ca, CAST(cb0 AS DECIMAL(19,0)) AS cb,
    CAST(SUM(ca0) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         AS DECIMAL(19,0)) AS cum_a,
    CAST(SUM(cb0) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         AS DECIMAL(19,0)) AS cum_b
  FROM vc
), tot AS (SELECT SUM(ca0) AS n_a, SUM(cb0) AS n_b FROM vc),
folded AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b,
{_yuen_side("a")},
{_yuen_side("b")}
  FROM cum0 CROSS JOIN tot
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST({_YH_A} AS BIGINT) AS h_a,
  CAST({_YH_B} AS BIGINT) AS h_b,
  round({_YTM_A}, 6) AS tmean_a,
  round({_YTM_B}, 6) AS tmean_b,
  CASE WHEN {_YH_A} > 1 AND {_YH_B} > 1 AND {_YD_A} + {_YD_B} > 0 THEN
    round(({_YTM_A} - {_YTM_B}) / sqrt({_YD_A} + {_YD_B}), 6)
  END AS yuen_t,
  CASE WHEN {_YH_A} > 1 AND {_YH_B} > 1 AND {_YD_A} + {_YD_B} > 0 THEN
    round(({_YD_A} + {_YD_B}) * ({_YD_A} + {_YD_B})
          / ({_YD_A} * {_YD_A} / ({_YH_A} - 1.0)
             + {_YD_B} * {_YD_B} / ({_YH_B} - 1.0)), 6)
  END AS df
FROM folded
""")
def q_yuen_trimmed_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen 20%-trimmed-mean robust t of price, returned vs other —
    trimmed/winsorized moments in integer cents off the prefix-count
    primitive (operators/hypotests.py:yuen_trimmed_t)."""
    from breweries_etl_spark.operators.hypotests import yuen_trimmed_t

    return yuen_trimmed_t(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle="""
WITH vc AS MATERIALIZED (
  SELECT o_totalprice AS v,
    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS cb
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb, ca + cb AS c,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
    SUM(ca + cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM vc
), tot AS (SELECT SUM(ca) AS n_pos, SUM(ca + cb) AS n FROM vc),
grid AS (
  SELECT k, v, ca, cum_a, c, cum, n_pos, n
  FROM cum CROSS JOIN tot
  CROSS JOIN (SELECT unnest(range(1, 10)) AS k)
  WHERE 10 * cum >= k * n AND 10 * (cum - c) < k * n
)
SELECT CAST(k AS BIGINT) AS decile,
  CAST(v AS DOUBLE) AS threshold,
  CAST(n - (cum - c) AS BIGINT) AS n_pred_pos,
  CAST(n_pos - (cum_a - ca) AS BIGINT) AS tp,
  round(CAST(n_pos - (cum_a - ca) AS DOUBLE) / CAST(n - (cum - c) AS DOUBLE),
        6) AS precision,
  CASE WHEN n_pos > 0 THEN
    round(CAST(n_pos - (cum_a - ca) AS DOUBLE) / CAST(n_pos AS DOUBLE), 6)
  END AS recall,
  CASE WHEN n_pos > 0 AND
    CAST(n_pos - (cum_a - ca) AS DOUBLE) / CAST(n - (cum - c) AS DOUBLE)
    + CAST(n_pos - (cum_a - ca) AS DOUBLE) / CAST(n_pos AS DOUBLE) > 0 THEN
    round(2.0 * (CAST(n_pos - (cum_a - ca) AS DOUBLE)
                 / CAST(n - (cum - c) AS DOUBLE))
              * (CAST(n_pos - (cum_a - ca) AS DOUBLE) / CAST(n_pos AS DOUBLE))
          / (CAST(n_pos - (cum_a - ca) AS DOUBLE)
             / CAST(n - (cum - c) AS DOUBLE)
             + CAST(n_pos - (cum_a - ca) AS DOUBLE) / CAST(n_pos AS DOUBLE)),
          6)
  END AS f1
FROM grid
""")
def q_pr_curve_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at price-decile thresholds for finished
    status — the threshold-sweep companion to roc_auc_order_status
    (operators/hypotests.py:pr_curve_points)."""
    from breweries_etl_spark.operators.hypotests import pr_curve_points

    return pr_curve_points(
        load_table(spark, sf_dir, "orders"),
        "o_totalprice",
        F.col("o_orderstatus") == "F",
    )


@query(oracle=f"""
WITH vc AS MATERIALIZED (
  SELECT o_totalprice AS v,
    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS cb
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb, ca + cb AS c,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
    SUM(ca + cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM vc
), tot AS (SELECT SUM(ca) AS n_pos, SUM(ca + cb) AS n FROM vc),
folded AS (
  SELECT max(n_pos) AS n_pos, max(n) AS n,
    SUM(CAST(floor(1e6 * CAST(ca AS DOUBLE)
      * (CAST(n_pos - (cum_a - ca) AS DOUBLE)
         / CAST(n - (cum - c) AS DOUBLE))) AS DECIMAL(38,0))) AS ap_fp
  FROM cum CROSS JOIN tot
)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
  CAST(n - n_pos AS BIGINT) AS n_neg,
  CASE WHEN n_pos > 0 THEN
    round({_ddw('ap_fp')} / 1e6 / CAST(n_pos AS DOUBLE), 6)
  END AS average_precision
FROM folded
""")
def q_average_precision_order_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact tie-atomic average precision of price vs finished status —
    the imbalance-honest ranking score beside roc_auc_order_status
    (operators/hypotests.py:average_precision)."""
    from breweries_etl_spark.operators.hypotests import average_precision

    return average_precision(
        load_table(spark, sf_dir, "orders"),
        "o_totalprice",
        F.col("o_orderstatus") == "F",
    )


@query(oracle=_empty_anchored(f"""
WITH {_KS_VC},
tot AS (SELECT SUM(ca) AS n_a, SUM(cb) AS n_b FROM vc),
m AS (
  SELECT n_a, n_b,
    greatest(max(CAST({_KUIPER_SIGNED} AS DECIMAL(38,0))),
             CAST(0 AS DECIMAL(38,0))) AS dp_int,
    greatest(max(CAST(-{_KUIPER_SIGNED} AS DECIMAL(38,0))),
             CAST(0 AS DECIMAL(38,0))) AS dm_int
  FROM cum CROSS JOIN tot GROUP BY n_a, n_b
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  round({_ddw('dp_int')}
        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d_plus,
  round({_ddw('dm_int')}
        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d_minus,
  round({_ddw('dp_int')}
        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        + {_ddw('dm_int')}
        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS kuiper_v
FROM m
""", (
    f"SELECT {_B} AS n_a, {_B} AS n_b, {_D} AS d_plus, "
    f"{_D} AS d_minus, {_D} AS kuiper_v"
)))
def q_kuiper_test_price_returnflag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Kuiper V of extended price, returned vs other — the
    tail-sensitive rotation-invariant sibling of the KS drift test
    (operators/hypotests.py:kuiper_test_2samp)."""
    from breweries_etl_spark.operators.hypotests import kuiper_test_2samp

    return kuiper_test_2samp(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle=f"""
WITH full_ AS (
  SELECT count(*) AS n_rows,
    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,2))) AS s
  FROM orders WHERE o_totalprice IS NOT NULL
), reps AS (
  SELECT b, {_BOOT_W} AS w, CAST(o_totalprice AS DECIMAL(18,2)) AS v
  FROM orders CROSS JOIN (SELECT unnest(range(0, 32)) AS b)
  WHERE o_totalprice IS NOT NULL
), per_rep AS (
  SELECT b, SUM(w) AS nw,
    SUM(CAST(v * CAST(w AS DECIMAL(3,0)) AS DECIMAL(38,2))) AS sw
  FROM reps GROUP BY b
), means AS (
  SELECT {_ddwf('sw')} / CAST(nw AS DOUBLE) AS m
  FROM per_rep WHERE nw > 0
), ci AS (
  SELECT count(*) AS n_reps,
    quantile_disc(m, 0.025) AS lo, quantile_disc(m, 0.975) AS hi
  FROM means
)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
  CAST(n_reps AS BIGINT) AS n_replicates,
  round({_ddwf('s')} / CAST(n_rows AS DOUBLE), 6) AS mean_full,
  round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi
FROM full_ CROSS JOIN ci
""")
def q_bootstrap_mean_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap percentile CI for the mean order price — the
    Chamandy-style one-pass distributed bootstrap, hash-deterministic
    (operators/sampling.py:bootstrap_mean_ci)."""
    from breweries_etl_spark.operators.sampling import bootstrap_mean_ci

    return bootstrap_mean_ci(
        load_table(spark, sf_dir, "orders"), "o_orderkey", "o_totalprice"
    )
