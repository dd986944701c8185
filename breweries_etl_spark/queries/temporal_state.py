"""As-of and range joins, streaming state, sketch merges and upserts
over events: the cache-heavy half of the temporal split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.operators import temporal
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _SESSION_WINDOW_SQL, _SLIDING_SQL, _TUMBLING_SQL, _customer_updates,
)
from breweries_etl_spark.sources.tables import load_events, load_table
from breweries_etl_spark.streaming.events import run_tumbling_once

query = family("temporal_state")


@query(oracle="""
WITH p AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
  FROM events WHERE event_type = 'view'
)
SELECT p.user_id, p.ts_us, p.event_id,
  v.value AS asof_value, v.ts_us AS asof_ts_us
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts_us <= p.ts_us
""")
def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the user's most recent view
    event at or before it (operators/asof.py union-window composition)."""
    from breweries_etl_spark.operators.asof import asof_join_backward

    ev = load_events(spark, sf_dir).withColumn(
        "ts_us", F.unix_micros(F.col("ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", "event_id"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts_us", "value"
    )
    return asof_join_backward(
        purchases, views, by="user_id", on="ts_us",
        left_cols=["event_id"], right_cols=["value"],
    )


@query(oracle="""
WITH updates AS (
  SELECT c_custkey, c_name || '_u' AS c_name,
    round(c_acctbal + 100.0, 2) AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
)
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
UNION ALL
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM updates
""")
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from breweries_etl_spark.operators.merge import merge_upsert

    cust = load_table(spark, sf_dir, "customer")
    merged = merge_upsert(cust, _customer_updates(spark, sf_dir), "c_custkey")
    return merged.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


@query(oracle="""
WITH err AS (
  SELECT event_id AS err_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
    epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS e
  FROM events WHERE event_type = 'error'
), pts AS (
  SELECT event_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events WHERE event_type <> 'error'
)
SELECT err_id, count(*) AS n_covered,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM err JOIN pts ON us >= s AND us < e
GROUP BY err_id
""")
def q_range_join_error_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-bucketed point-in-interval join with no equi-key: non-error
    events landing inside each error's 10-minute incident window."""
    from breweries_etl_spark.operators.rangejoin import error_window_coverage

    return error_window_coverage(load_events(spark, sf_dir))


@query(oracle="""
-- n_groups counts the NULL group too (it is a real sketch bucket in
-- the groupBy), which count(DISTINCT ...) would silently drop
SELECT (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT DISTINCT event_type FROM events)) AS n_groups,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
  TRUE AS est_ok
FROM events
""")
def q_distinct_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct count: one HLL sketch per event_type,
    union-merged to a global users estimate, asserted within 5% of the
    exact count. The estimate itself is Datasketches-implementation-
    defined; the contract (merge ≍ exact) is the oracle-stable output."""
    from breweries_etl_spark.operators.profiling import (
        mergeable_distinct_sketches,
    )

    return mergeable_distinct_sketches(
        load_events(spark, sf_dir), "user_id", "event_type"
    )


@query(oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
""")
def q_streaming_gold_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-aggregate maintenance over the events
    table in 4 micro-batches: per-(event_type) count + exact-decimal
    value sum merged into a snapshot table per epoch. Monoid merges of
    exact sums make the final snapshot independent of the batch split,
    so a plain batch GROUP BY oracles the stream end-to-end."""
    import os
    import tempfile

    from breweries_etl_spark.streaming.merge_sink import (
        read_latest_snapshot,
        streaming_aggregate_merge_sink,
    )

    events = load_events(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="spark_gold_merge_")
    src = os.path.join(work, "src")
    tbl = os.path.join(work, "table")
    projected = events.select("event_type", "value")
    projected.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(projected.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_aggregate_merge_sink(
        stream, tbl, ["event_type"], count_col="n_events",
        sum_col="total_value", sum_src="value", query_name="gold_merge_q",
    )
    q.awaitTermination()
    snap = read_latest_snapshot(spark, tbl)
    return snap.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
    )


@query(oracle="""
SELECT user_id, event_id,
  value + 0.5 * COALESCE(lag(value, 1) OVER w, 0)
        + 0.25 * COALESCE(lag(value, 2) OVER w, 0)
        + 0.125 * COALESCE(lag(value, 3) OVER w, 0) AS decayed_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
""")
def q_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-EWMA recency feature per event (alpha 0.5, depth 4):
    fixed lag-chain with binary-exact weights ⇒ bit-identical on any
    engine/partitioning, one window shuffle."""
    return temporal.decayed_user_value(load_events(spark, sf_dir))


@query(oracle="""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
  CAST(count(*) OVER w AS BIGINT) AS n_trailing,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""")
def q_rolling_hour_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1h RANGE-frame velocity features per user (microsecond-
    exact frame boundaries; tie-safe by RANGE-peer semantics)."""
    from breweries_etl_spark.operators.temporal import rolling_time_window

    return rolling_time_window(load_events(spark, sf_dir), window_seconds=3600)


# Scale-safe RFM twin: per-metric quantile_disc thresholds, bucket 1 =
# top quantile, ties land in the better bucket — mirrors
# operators/behavior.py:rfm_segments_scalable.
# Final streaming state == the batch aggregate (exact-cents state makes
# this batching-independent; see q_stateful_user_profiles).
@query(bench=False, oracle="""
SELECT user_id,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
  max(epoch_us(ts)) AS last_ts_us
FROM events GROUP BY user_id
""")
def q_stateful_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState),
    projected to the FINAL state per user — promoted from rows-only to
    hash-matched (VERDICT r4 #6): the state now accumulates exact
    integer cents (streaming/stateful.py:_batch_cents), so the final
    per-user profile is independent of micro-batch boundaries and
    replayable as a plain SQL aggregate. Update-mode intermediate
    emissions remain covered by tests/test_merge_datasource_stateful.py.

    The memory sink holds one row per (user, emitting micro-batch);
    n_events strictly increases across a user's emissions, so max_by on
    n_events is a deterministic final-state pick."""
    from breweries_etl_spark.streaming.stateful import run_user_profiles_once

    emissions = run_user_profiles_once(spark, sf_dir)
    return emissions.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.expr("max_by(total_value, n_events)").alias("total_value"),
        F.max("last_ts_us").alias("last_ts_us"),
    )


@query(bench=False, oracle=_TUMBLING_SQL)
def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of events_tumbling — same oracle."""
    return run_tumbling_once(spark, sf_dir)


@query(bench=False, oracle=_SLIDING_SQL)
def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of events_sliding — same oracle."""
    from breweries_etl_spark.streaming.events import run_sliding_once

    return run_sliding_once(spark, sf_dir)


@query(bench=False, oracle=_SESSION_WINDOW_SQL)
def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming session_window driven to completion — same
    session boundaries as the batch lag+cumsum oracle."""
    from breweries_etl_spark.streaming.events import run_session_window_once

    return run_session_window_once(spark, sf_dir)


@query(bench=False, oracle="""
WITH c AS (
  SELECT event_id AS click_id, user_id,
    epoch_us(CAST(ts AS TIMESTAMP)) AS c_us
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id,
    epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
  FROM events WHERE event_type = 'purchase'
)
SELECT click_id, purchase_id, p.user_id,
  (p_us // 1000000) - (c_us // 1000000) AS gap_seconds
FROM p JOIN c ON p.user_id = c.user_id
  AND p_us >= c_us AND p_us <= c_us + 1800000000
""")
def q_streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click → purchase attribution) driven
    to completion over the static events table; oracled against the
    equivalent batch range join."""
    from breweries_etl_spark.streaming.events import run_click_attribution_once

    return run_click_attribution_once(spark, sf_dir)


@query(bench=False, oracle="""
WITH e AS (
  SELECT user_id, event_type, value,
    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
    row_number() OVER (
      PARTITION BY user_id
      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC
    ) AS rn
  FROM events
)
SELECT user_id, event_type AS last_event_type, us AS last_us,
  value AS last_value
FROM e WHERE rn = 1
""")
def q_streaming_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming foreachBatch MERGE sink driven over the events table in
    4 micro-batches (maxFilesPerTrigger=1): final snapshot is the latest
    event per user under the total order (us, event_id) — deterministic
    for ANY batch split, so the streaming sink itself is oracle-checked
    (argmax window in DuckDB), not just its batch twin."""
    import os
    import tempfile

    from breweries_etl_spark.streaming.merge_sink import (
        read_latest_snapshot,
        streaming_latest_merge_sink,
    )

    events = load_events(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="spark_merge_sink_")
    src = os.path.join(work, "src")
    tbl = os.path.join(work, "table")
    projected = events.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "user_id",
        "event_type",
        "value",
    )
    projected.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(projected.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_latest_merge_sink(
        stream, tbl, "user_id", ["us", "event_id"], query_name="latest_state_q"
    )
    q.awaitTermination()
    snap = read_latest_snapshot(spark, tbl)
    return snap.select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("us").alias("last_us"),
        F.col("value").alias("last_value"),
    )


@query(bench=False, oracle="""
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
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
  count(*) AS n_session_pairs,
  CAST(SUM(least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us)) AS BIGINT)
    AS total_overlap_us
FROM s a JOIN s b
  ON a.user_id < b.user_id AND a.s_us <= b.e_us AND b.s_us <= a.e_us
GROUP BY user_a, user_b
""")
def q_range_join_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-bucketed interval-overlap join: concurrent sessions across
    different users, exactly-once via the later-start-bin rule."""
    from breweries_etl_spark.operators.rangejoin import session_overlap_pairs

    return session_overlap_pairs(load_events(spark, sf_dir))


@query(bench=False, oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1
""")
def q_streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under doubled (at-least-once) delivery —
    per-type totals must equal the clean batch aggregate."""
    from breweries_etl_spark.streaming.events import run_streaming_dedup_once

    return run_streaming_dedup_once(spark, sf_dir)
