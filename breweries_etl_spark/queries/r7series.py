"""Daily-series and interval operators (see ``r7stats`` for the split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _B, _D, _DAILY_EVENTS, _DW_SLOPE, _SW_E, _SW_EFFECT_COLS, _ddw, _ddwf,
    _empty_anchored,
)
from breweries_etl_spark.sources.tables import load_events

query = family("r7series")


@query(oracle=f"""
WITH {_DAILY_EVENTS},
pairs AS (
  SELECT CAST(a.y AS DECIMAL(18,2)) AS y, CAST(b.y AS DECIMAL(18,2)) AS yp
  FROM daily a JOIN daily b ON a.day = b.day + 1
), mom AS (
  SELECT count(*) AS n,
    SUM(CAST(CAST(y - yp AS DECIMAL(18,2)) * CAST(y - yp AS DECIMAL(18,2))
             AS DECIMAL(38,4))) AS sdd,
    SUM(CAST(y * y AS DECIMAL(38,4))) AS syy,
    SUM(CAST(yp * yp AS DECIMAL(38,4))) AS spp
  FROM pairs
)
SELECT CAST(n AS BIGINT) AS n_pairs,
  CASE WHEN sqrt({_ddwf('syy')} / CAST(n AS DOUBLE))
            + sqrt({_ddwf('spp')} / CAST(n AS DOUBLE)) > 0 THEN
    round(sqrt({_ddwf('sdd')} / CAST(n AS DOUBLE))
          / (sqrt({_ddwf('syy')} / CAST(n AS DOUBLE))
             + sqrt({_ddwf('spp')} / CAST(n AS DOUBLE))), 6)
  END AS theil_u
FROM mom
""")
def q_theil_u_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U1 naive-forecastability of the daily event-value series
    (operators/temporal.py:theil_u_daily)."""
    from breweries_etl_spark.operators.temporal import theil_u_daily

    return theil_u_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y, count(*) AS c
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
), pairs AS (
  SELECT CAST(a.y AS DECIMAL(18,2)) AS y, b.c AS cp
  FROM daily a JOIN daily b ON a.day = b.day + 1
), mom AS (
  SELECT count(*) AS n,
    SUM(CAST(y AS DECIMAL(38,2))) AS sy,
    SUM(CAST(cp AS DECIMAL(38,0))) AS sc,
    SUM(CAST(y * y AS DECIMAL(38,4))) AS syy,
    SUM(CAST(CAST(cp AS DECIMAL(19,0)) * CAST(cp AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS scc,
    SUM(CAST(y * CAST(cp AS DECIMAL(19,0)) AS DECIMAL(38,2))) AS syc
  FROM pairs
), d AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    {_ddwf('sy')} AS syd, {_ddw('sc')} AS scd,
    {_ddwf('syy')} AS syyd, {_ddw('scc')} AS sccd,
    {_ddwf('syc')} AS sycd
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_pairs, CAST(1 AS BIGINT) AS lag,
  CASE WHEN (nd * syyd - syd * syd) > 0 AND (nd * sccd - scd * scd) > 0 THEN
    round((nd * sycd - syd * scd)
          / sqrt((nd * syyd - syd * syd) * (nd * sccd - scd * scd)), 6)
  END AS xcorr
FROM d
""")
def q_lagged_xcorr_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 cross-correlation between daily event count and next-day
    total value (operators/temporal.py:lagged_xcorr_daily)."""
    from breweries_etl_spark.operators.temporal import lagged_xcorr_daily

    return lagged_xcorr_daily(load_events(spark, sf_dir))


@query(oracle=_empty_anchored(f"""
WITH {_DAILY_EVENTS},
pre AS (
  SELECT day,
    count(*) OVER w AS nl,
    SUM(CAST(CAST(y AS DECIMAL(18,2)) AS DECIMAL(38,2))) OVER w AS sl,
    SUM(CAST(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))
             AS DECIMAL(38,4))) OVER w AS ql
  FROM daily
  WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
), tot AS (
  SELECT count(*) AS n,
    SUM(CAST(CAST(y AS DECIMAL(18,2)) AS DECIMAL(38,2))) AS s,
    SUM(CAST(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))
             AS DECIMAL(38,4))) AS q
  FROM daily
), scored AS (
  SELECT day, n, s, q,
    ({_ddwf('ql')} - {_ddwf('sl')} * {_ddwf('sl')} / CAST(nl AS DOUBLE))
    + (({_ddwf('q')} - {_ddwf('ql')})
       - ({_ddwf('s')} - {_ddwf('sl')}) * ({_ddwf('s')} - {_ddwf('sl')})
         / CAST(n - nl AS DOUBLE)) AS sse
  FROM pre CROSS JOIN tot WHERE nl < n
), ranked AS (
  SELECT n, s, q, day,
    CAST(floor(sse * 100.0) AS DECIMAL(38,0)) AS sse_fp,
    row_number() OVER (
      ORDER BY CAST(floor(sse * 100.0) AS DECIMAL(38,0)), day
    ) AS rn
  FROM scored
), best AS (
  SELECT n, s, q, day, sse_fp FROM ranked WHERE rn = 1
)
SELECT CAST(n AS BIGINT) AS n_days,
  CAST(day AS BIGINT) AS split_day,
  floor(({_ddwf('q')} - {_ddwf('s')} * {_ddwf('s')} / CAST(n AS DOUBLE))
        * 100.0) / 100.0 AS sse_total,
  {_ddw('sse_fp')} / 100.0 AS sse_split,
  floor((({_ddwf('q')} - {_ddwf('s')} * {_ddwf('s')} / CAST(n AS DOUBLE))
         - {_ddw('sse_fp')} / 100.0) * 100.0) / 100.0 AS gain
FROM best
""", (
    f"SELECT {_B} AS n_days, {_B} AS split_day, {_D} AS sse_total, "
    f"{_D} AS sse_split, {_D} AS gain"
)))
def q_changepoint_binseg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single change point (binary segmentation SSE split) of the
    daily event-value series
    (operators/temporal.py:changepoint_binseg_daily)."""
    from breweries_etl_spark.operators.temporal import changepoint_binseg_daily

    return changepoint_binseg_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH {_DAILY_EVENTS},
mn AS (SELECT min(day) AS d0 FROM daily),
based AS (
  SELECT day, y, CAST(day - d0 AS BIGINT) AS x,
    CAST((day + 3) % 7 AS INTEGER) AS dow
  FROM daily CROSS JOIN mn
), mom AS (
  SELECT count(*) AS n,
    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
    SUM(CAST(y AS DECIMAL(38,2))) AS sy,
    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
    SUM(CAST(CAST(y AS DECIMAL(24,2)) * x AS DECIMAL(38,4))) AS sxy
  FROM based
), resid AS MATERIALIZED (
  SELECT dow,
    CAST(floor({_SW_E} * 1e6) AS DECIMAL(38,0)) AS e_fp,
    {_DW_SLOPE} AS b
  FROM based CROSS JOIN mom
), per_dow AS MATERIALIZED (
  SELECT dow, count(*) AS n_w, SUM(e_fp) AS se_fp, max(b) AS b
  FROM resid GROUP BY dow
), effects AS (
  SELECT SUM(n_w) AS n_days, round(max(b), 6) AS slope,
    {_SW_EFFECT_COLS}
  FROM per_dow
), de AS (
  SELECT {_ddw('r.e_fp')} / 1e6 AS ev,
    {_ddw('r.e_fp')} / 1e6
      - ({_ddw('p.se_fp')} / 1e6 / CAST(p.n_w AS DOUBLE)) AS dv
  FROM resid r JOIN per_dow p ON r.dow = p.dow
), var_fold AS (
  SELECT count(*) AS nn,
    SUM(CAST(floor(ev * 1e6) AS DECIMAL(38,0))) AS s_e,
    SUM(CAST(floor(ev * ev * 1e6) AS DECIMAL(38,0))) AS q_e,
    SUM(CAST(floor(dv * 1e6) AS DECIMAL(38,0))) AS s_d,
    SUM(CAST(floor(dv * dv * 1e6) AS DECIMAL(38,0))) AS q_d
  FROM de
), strength AS (
  SELECT CASE WHEN
      ({_ddw('q_e')} / 1e6 / CAST(nn AS DOUBLE)
       - ({_ddw('s_e')} / 1e6 / CAST(nn AS DOUBLE))
         * ({_ddw('s_e')} / 1e6 / CAST(nn AS DOUBLE))) > 0 THEN
    round(greatest(0.0, 1.0 -
      ({_ddw('q_d')} / 1e6 / CAST(nn AS DOUBLE)
       - ({_ddw('s_d')} / 1e6 / CAST(nn AS DOUBLE))
         * ({_ddw('s_d')} / 1e6 / CAST(nn AS DOUBLE)))
      / ({_ddw('q_e')} / 1e6 / CAST(nn AS DOUBLE)
         - ({_ddw('s_e')} / 1e6 / CAST(nn AS DOUBLE))
           * ({_ddw('s_e')} / 1e6 / CAST(nn AS DOUBLE)))), 6)
    END AS seasonal_strength
  FROM var_fold
)
SELECT CAST(n_days AS BIGINT) AS n_days, slope,
  effect_0, effect_1, effect_2, effect_3, effect_4, effect_5, effect_6,
  seasonal_strength
FROM effects CROSS JOIN strength
""")
def q_seasonal_weekday_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend + weekday-effect decomposition with seasonal strength of
    the daily event-value series
    (operators/temporal.py:seasonal_decompose_weekday)."""
    from breweries_etl_spark.operators.temporal import seasonal_decompose_weekday

    return seasonal_decompose_weekday(load_events(spark, sf_dir))


@query(oracle="""
WITH o AS (
  SELECT event_type AS g, value,
    lag(value) OVER (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS prev
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL
), per AS (
  SELECT g, count(*) AS n_rows,
    SUM(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS n_pairs,
    SUM(CASE WHEN prev IS NOT NULL AND value < prev THEN 1 ELSE 0 END)
      AS n_violations
  FROM o GROUP BY g
)
SELECT g AS event_type, CAST(n_rows AS BIGINT) AS n_rows,
  CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST(n_violations AS BIGINT) AS n_violations,
  CASE WHEN n_pairs > 0 THEN
    round(CAST(n_violations AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6)
  END AS violation_rate
FROM per
""")
def q_monotonicity_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type monotonicity audit of each user's value sequence
    (operators/quality.py:monotonicity_violations)."""
    from breweries_etl_spark.operators.quality import monotonicity_violations

    return monotonicity_violations(load_events(spark, sf_dir))


@query(oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
    lag(epoch_us(CAST(ts AS TIMESTAMP)))
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                 THEN 1 ELSE 0 END AS brk
  FROM e
), sess AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), s AS (
  SELECT user_id, min(us) AS s_us, max(us) AS e_us
  FROM sess GROUP BY user_id, session_id
), p AS (
  SELECT a.s_us AS ls, a.e_us AS le, b.s_us AS rs, b.e_us AS re_
  FROM s a JOIN s b
    ON a.user_id < b.user_id AND a.s_us <= b.e_us AND b.s_us <= a.e_us
)
SELECT CASE
    WHEN ls = rs AND le = re_ THEN 'equals'
    WHEN ls = rs THEN 'starts'
    WHEN le = re_ THEN 'finishes'
    WHEN ls < rs AND re_ < le THEN 'contains'
    WHEN rs < ls AND le < re_ THEN 'contains'
    ELSE 'overlaps' END AS relation,
  CAST(count(*) AS BIGINT) AS n_pairs
FROM p GROUP BY 1
""")
def q_allen_session_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen-algebra relation profile of cross-user concurrent session
    pairs (operators/rangejoin.py:allen_relation_counts)."""
    from breweries_etl_spark.operators.rangejoin import allen_relation_counts

    return allen_relation_counts(load_events(spark, sf_dir))
