"""Event-time windows, sessions, behaviour funnels and daily series.

Split from ``temporal_state`` at the same merge/diff boundary as
``core``: asof_purchase_view showed a 2.37x phantom delta riding 16
queries deep in one JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.operators import temporal
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _D, _SESSION_WINDOW_SQL, _SLIDING_SQL, _TUMBLING_SQL, _USER_VALUE_TREND_SQL,
    _empty_anchored,
)
from breweries_etl_spark.sources.tables import load_events

query = family("temporal")


@query(oracle="""
WITH e AS (
  SELECT user_id, event_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
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
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  count(*) AS n_events, min(us) AS start_us, max(us) AS end_us,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, session_id
""")
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temporal.sessionize(load_events(spark, sf_dir))


@query(oracle="""
WITH o AS (
  SELECT user_id, event_id, epoch_us(ts) AS t, value,
    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      AS prev_t
  FROM events
), g AS (
  SELECT *, CAST(sum(CASE WHEN prev_t IS NULL OR t - prev_t > 1800000000
                          THEN 1 ELSE 0 END)
    OVER (PARTITION BY user_id ORDER BY t ASC, event_id ASC) AS BIGINT)
    AS gap_session
  FROM o
), s AS (
  SELECT *, CAST((t - min(t) OVER (PARTITION BY user_id, gap_session))
                 // 14400000000 AS BIGINT) AS sub_session
  FROM g
)
SELECT user_id, gap_session, sub_session,
  CAST(count(*) AS BIGINT) AS n_events,
  min(t) AS start_us, max(t) AS end_us,
  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM s GROUP BY 1, 2, 3
""")
def q_events_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GA-style dual-rule sessions: 30-min idle gap plus a 4-hour
    duration cap (sub-split anchored at the gap-session start); both
    window passes share one user_id shuffle."""
    return temporal.sessionize_capped(load_events(spark, sf_dir))


@query(oracle=_SESSION_WINDOW_SQL)
def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window aggregation — oracle derives the same
    sessions via the lag+cumsum formulation (independent algorithms must
    agree on the boundaries)."""
    return temporal.session_window_agg(load_events(spark, sf_dir))


@query(oracle="""
WITH b AS (
  SELECT user_id, epoch_us(ts) // 60000000 AS bucket,
         epoch_us(ts) AS ts_us, event_id
  FROM events
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, bucket
                               ORDER BY ts_us ASC, event_id ASC) AS rn,
         count(*) OVER (PARTITION BY user_id, bucket) AS n
  FROM b
)
SELECT user_id, bucket, event_id, ts_us,
       CAST(n - 1 AS BIGINT) AS n_dropped
FROM r WHERE rn = 1
""")
def q_downsample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each user's earliest event per minute (argmin struct, no
    window over raw rows)."""
    from breweries_etl_spark.operators.temporal import (
        downsample_first_per_bucket,
    )

    return downsample_first_per_bucket(load_events(spark, sf_dir))


@query(oracle=_empty_anchored("""
WITH t AS (
  SELECT CAST('0x' || substring(md5(CAST(user_id AS STRING)), 1, 4) AS BIGINT) % 2
           AS arm_raw,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE user_id IS NOT NULL
),
per AS (
  SELECT arm_raw AS arm, CAST(count(*) AS BIGINT) AS n,
         SUM(v) AS s, SUM(CAST(v * v AS DECIMAL(38,4))) AS ss
  FROM t GROUP BY arm_raw
),
stats AS (
  SELECT arm, n,
    round(CAST(s AS DOUBLE) / n, 6) AS mean,
    round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
          / (n - 1), 6) AS var
  FROM per
),
z AS (
  SELECT round((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n), 6) AS z,
         abs((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n)) >= 1.96
           AS significant
  FROM stats a, stats b WHERE a.arm = 0 AND b.arm = 1
)
SELECT s.arm, s.n, s.mean, s.var, z.z, z.significant FROM stats s, z
""", (
    f"SELECT CAST(0 AS BIGINT) AS arm, CAST(0 AS BIGINT) AS n, "
    f"{_D} AS mean, {_D} AS var, {_D} AS z, "
    f"CAST(NULL AS BOOLEAN) AS significant "
    f"UNION ALL SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), "
    f"{_D}, {_D}, {_D}, CAST(NULL AS BOOLEAN)"
)))
def q_ab_test_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm experiment readout over a portable md5 hash split:
    exact-decimal component sums → fixed-sequence double z-statistic."""
    from breweries_etl_spark.operators.behavior import ab_test_stats

    return ab_test_stats(load_events(spark, sf_dir))


@query(oracle="""
WITH f AS (
  SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
  WHERE event_type = 'click' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(epoch_us(e.ts) - f.t0) AS latency_us
  FROM events e JOIN f USING (user_id)
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= f.t0
  GROUP BY e.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
  quantile_disc(latency_us, 0.5) AS p50_us,
  quantile_disc(latency_us, 0.9) AS p90_us,
  quantile_disc(latency_us, 0.99) AS p99_us
FROM c
""")
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-click→first-purchase latency percentiles (disc picks over
    integer microsecond deltas)."""
    from breweries_etl_spark.operators.behavior import (
        conversion_latency_percentiles,
    )

    return conversion_latency_percentiles(load_events(spark, sf_dir))


@query(oracle="""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events
            WHERE user_id IS NOT NULL),
nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_type FROM ut GROUP BY event_type),
pc AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2 HAVING count(*) >= 5
)
SELECT pc.type_a, pc.type_b, pc.n_both,
  round(CAST(pc.n_both AS DOUBLE) * CAST(nu.n_users AS DOUBLE)
        / (CAST(ta.n_type AS DOUBLE) * CAST(tb.n_type AS DOUBLE)), 6) AS lift
FROM pc
JOIN tc ta ON ta.event_type = pc.type_a
JOIN tc tb ON tb.event_type = pc.type_b
CROSS JOIN nu
""")
def q_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event types at user granularity over
    the collapsed (user, type) relation."""
    from breweries_etl_spark.operators.behavior import event_cooccurrence_lift

    return event_cooccurrence_lift(load_events(spark, sf_dir))


@query(oracle="""
WITH g AS (
  SELECT user_id, epoch_us(ts) AS us,
    epoch_us(ts) - lag(epoch_us(ts)) OVER
      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
  max(gap_us) AS max_gap_us,
  CAST(SUM(CASE WHEN gap_us > 86400000000 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_large_gaps,
  max(us) - min(us) AS span_us
FROM g GROUP BY user_id
""")
def q_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user max silence / large-gap count / activity span — dead
    sensor detection from the data itself (integer µs deltas)."""
    from breweries_etl_spark.operators.temporal import event_gap_stats

    return event_gap_stats(load_events(spark, sf_dir), gap_threshold_s=86_400)


@query(oracle="""
WITH f AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
    CASE WHEN row_number() OVER
      (PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id) = 1
      THEN 1 ELSE 0 END AS is_new
  FROM events
)
SELECT event_id, user_id,
  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS n_types_seen
FROM f
""")
def q_user_event_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-event-type count per user (exploration curve)."""
    from breweries_etl_spark.operators.behavior import user_event_novelty

    return user_event_novelty(load_events(spark, sf_dir))


@query(bench=False, oracle=_TUMBLING_SQL)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temporal.tumbling_counts(load_events(spark, sf_dir))


@query(bench=False, oracle=_SLIDING_SQL)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temporal.sliding_counts(load_events(spark, sf_dir))


@query(bench=False, oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
  WHERE user_id IS NOT NULL
), t1 AS (
  SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, min(us) AS t2 FROM e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.us >= t1.t1 GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, min(us) AS t3 FROM e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.us >= t2.t2 GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM t1) AS n_step1,
       (SELECT count(*) FROM t2) AS n_step2,
       (SELECT count(*) FROM t3) AS n_step3
""")
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel via chained conditional-min
    aggregations on one shuffle key."""
    from breweries_etl_spark.operators.behavior import funnel_steps

    return funnel_steps(load_events(spark, sf_dir))


@query(bench=False, oracle="""
WITH a AS (
  SELECT DISTINCT user_id,
    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS active_day
  FROM events
), c AS (
  SELECT user_id, min(active_day) AS cohort_day FROM a GROUP BY user_id
)
SELECT cohort_day, active_day - cohort_day AS day_offset,
  count(DISTINCT a.user_id) AS n_active_users
FROM a JOIN c ON a.user_id = c.user_id
WHERE active_day - cohort_day <= 30
GROUP BY cohort_day, day_offset
""")
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention on epoch-day integers (first-active day ×
    day offset × distinct actives)."""
    from breweries_etl_spark.operators.behavior import retention_cohorts

    return retention_cohorts(load_events(spark, sf_dir))


@query(bench=False, oracle="""
WITH e AS (
  SELECT user_id, event_type, event_id,
    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
    lag(event_type) OVER (
      PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
    ) AS prev
  FROM events
), ch AS (
  SELECT user_id, event_type, us, event_id FROM e
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type AS state, us AS valid_from_us,
  lead(us) OVER w AS valid_to_us,
  row_number() OVER w AS version,
  lead(us) OVER w IS NULL AS is_current
FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
""")
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build from the event change-log: one validity row
    per (user, event_type run) with version numbers and current flag."""
    from breweries_etl_spark.operators.temporal import scd2_history

    out = scd2_history(load_events(spark, sf_dir))
    return out.withColumn("version", F.col("version").cast("long"))


@query(bench=False, oracle="""
WITH base AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
    epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS e
  FROM events
), flagged AS (
  SELECT user_id, s, e,
    CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              IS NULL
      OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    THEN 1 ELSE 0 END AS new_island
  FROM base
), numbered AS (
  SELECT user_id, s, e,
    sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), islands AS (
  SELECT user_id, island, count(*) AS n_intervals,
    min(s) AS island_s, max(e) AS island_e
  FROM numbered GROUP BY user_id, island
)
SELECT user_id, CAST(SUM(n_intervals) AS BIGINT) AS n_intervals,
  count(*) AS n_islands,
  CAST(SUM(island_e - island_s) AS BIGINT) AS covered_us
FROM islands GROUP BY user_id
""")
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping 10-minute event intervals per user
    (gaps-and-islands) and report island counts + covered time."""
    from breweries_etl_spark.operators.temporal import interval_coverage

    return interval_coverage(load_events(spark, sf_dir))


@query(bench=False, oracle="""
WITH e AS (
  SELECT user_id, event_type,
    lag(event_type) OVER (
      PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
    ) AS from_state
  FROM events
)
SELECT from_state, event_type AS to_state,
  count(*) AS n_transitions, count(DISTINCT user_id) AS n_users
FROM e WHERE from_state IS NOT NULL
GROUP BY from_state, to_state
""")
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between event types."""
    from breweries_etl_spark.operators.temporal import transition_counts

    return transition_counts(load_events(spark, sf_dir))


@query(bench=False, oracle=_USER_VALUE_TREND_SQL)
def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS value slope from exact component sums (native)."""
    from breweries_etl_spark.operators.behavior import value_trend

    return value_trend(load_events(spark, sf_dir))


@query(bench=False, oracle=_USER_VALUE_TREND_SQL)
def q_user_value_trend_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas twin — same oracle as user_value_trend."""
    from breweries_etl_spark.operators.behavior import value_trend_pandas

    return value_trend_pandas(load_events(spark, sf_dir))
