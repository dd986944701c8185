"""Light scan and aggregate profiling queries, ending with the
scale-safe twins of the global-sort window forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.operators import aggregate as agg_ops
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _DECAY_FRAC, _PSI_CUTS_SQL, _corr_matrix_oracle,
)
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("profile")


@query(oracle="""
SELECT CAST(length(printf('%b', length(text))) - 1 AS BIGINT) AS len_bucket,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
  round(CAST(SUM(length(text)) AS DOUBLE) / count(*), 6) AS mean_chars,
  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_words
FROM documents WHERE length(text) > 0
GROUP BY 1
""")
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length histogram; bucket index via integer base-2
    digit count (never floor(log2(double)) — boundary-exact)."""
    from breweries_etl_spark.operators.text import length_histogram

    return length_histogram(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH per AS (
  SELECT source, length(text) AS n,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS a,
    length(regexp_replace(text, '[^0-9]', '', 'g')) AS d,
    length(regexp_replace(text, '[^ ]', '', 'g')) AS s
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(SUM(n) AS BIGINT) AS total_chars,
  round(CAST(SUM(a) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS alpha_ratio,
  round(CAST(SUM(d) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS digit_ratio,
  round(CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS space_ratio,
  round(CAST(SUM(n) - SUM(a) - SUM(d) - SUM(s) AS DOUBLE)
        / CAST(SUM(n) AS DOUBLE), 6) AS other_ratio
FROM per GROUP BY source
""")
def q_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source char-class composition (alpha/digit/space/other) from
    exact integer counts — corpus-drift tripwire."""
    from breweries_etl_spark.operators.text import char_class_profile

    return char_class_profile(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH per AS (
  SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour,
    CAST(count(*) AS BIGINT) AS n_events,
    SUM(CAST(value AS DECIMAL(12,2))) AS sm
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour, n_events,
  CAST(sm AS DOUBLE) AS total_value,
  round(CAST(n_events AS DOUBLE)
        / CAST(SUM(n_events) OVER (PARTITION BY event_type) AS DOUBLE), 6)
    AS hour_share
FROM per
""")
def q_seasonal_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality per event type with per-type traffic
    share."""
    from breweries_etl_spark.operators.temporal import seasonal_hour_profile

    return seasonal_hour_profile(load_events(spark, sf_dir))


@query(oracle="""
WITH daily AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), win AS (
  SELECT user_id, day, n,
    count(n) OVER w AS n7, SUM(n) OVER w AS s7, SUM(n * n) OVER w AS ss7
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, day, n,
  CAST(n7 AS BIGINT) AS n_trailing_days,
  CASE WHEN n7 >= 1 THEN round(CAST(s7 AS DOUBLE) / n7, 6) END AS trailing_mean,
  CASE WHEN n7 >= 2
        AND (CAST(ss7 AS DOUBLE)
             - CAST(s7 AS DOUBLE) * CAST(s7 AS DOUBLE) / n7) / (n7 - 1) > 0
       THEN round((n - CAST(s7 AS DOUBLE) / n7)
                  / sqrt((CAST(ss7 AS DOUBLE)
                          - CAST(s7 AS DOUBLE) * CAST(s7 AS DOUBLE) / n7)
                         / (n7 - 1)), 6)
  END AS z
FROM win
""")
def q_rolling_count_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily-volume z-score vs the trailing 7 observed days
    (exact integer window sums; NULL z until the history supports a
    scale)."""
    from breweries_etl_spark.operators.temporal import rolling_count_anomaly

    return rolling_count_anomaly(load_events(spark, sf_dir))


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
), per AS (
  SELECT user_id, session_id, count(*) AS n_events FROM sess GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
  round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*), 6) AS bounce_rate,
  round(CAST(SUM(n_events) AS DOUBLE) / count(*), 6) AS mean_events_per_session
FROM per
""")
def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-event-session rate over the gap-sessionized stream."""
    from breweries_etl_spark.operators.behavior import session_bounce_rate

    return session_bounce_rate(load_events(spark, sf_dir))


@query(oracle="""
WITH c AS (
  SELECT user_id, event_type AS value, count(*) AS cnt
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
), r AS (
  SELECT user_id, value, cnt,
    row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, value ASC) AS rn
  FROM c
)
SELECT user_id, value AS mode_value, CAST(cnt AS BIGINT) AS mode_count
FROM r WHERE rn = 1
""")
def q_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exact modal event type (tie → smallest value), two
    map-side-combinable aggregates, no window over the pair relation."""
    from breweries_etl_spark.operators.aggregate import exact_mode

    return exact_mode(load_events(spark, sf_dir), "user_id", "event_type")


@query(oracle="""
WITH pv AS (
  SELECT l_returnflag, l_extendedprice AS value,
    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS vw
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2
), win AS (
  SELECT l_returnflag, value,
    SUM(vw) OVER (PARTITION BY l_returnflag ORDER BY value
                  ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(vw) OVER (PARTITION BY l_returnflag) AS total
  FROM pv
)
SELECT l_returnflag, min(value) AS weighted_median,
  CAST(max(total) AS DOUBLE) AS total_weight
FROM win WHERE cum * 2 >= total
GROUP BY l_returnflag
""")
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted lower-median extended price per return flag —
    exact decimal cumulative weights, boundary compared as 2·cum ≥ tot."""
    from breweries_etl_spark.operators.aggregate import weighted_median

    return weighted_median(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
    )


@query(oracle="""
WITH b AS (
  SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
                        1, 1) AS INTEGER) AS digit,
         count(*) AS n
  FROM orders WHERE o_totalprice >= 1 GROUP BY 1
), t AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM b)
SELECT digit, CAST(n AS BIGINT) AS n,
  round(CAST(n AS DOUBLE) / tot, 6) AS observed_freq,
  round(log10(1 + 1.0 / digit), 6) AS benford_freq,
  round(CAST(n AS DOUBLE) / tot - log10(1 + 1.0 / digit), 6) AS deviation
FROM b CROSS JOIN t
""")
def q_benford_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of order totals vs Benford expectation."""
    from breweries_etl_spark.operators.quality import benford_first_digit

    return benford_first_digit(load_table(spark, sf_dir, "orders"), "o_totalprice")


@query(oracle="""
WITH pairs AS (
  SELECT DISTINCT o_custkey,
    CASE WHEN o_orderpriority IS NULL THEN chr(0) || 'null'
         ELSE 'v' || o_orderpriority END AS y
  FROM orders
), per AS (
  SELECT o_custkey, count(*) AS n_values FROM pairs GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
  CAST(SUM(CASE WHEN n_values > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_violating_keys,
  round(CAST(SUM(CASE WHEN n_values > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*), 6) AS violation_rate
FROM per
""")
def q_fd_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit o_custkey → o_orderpriority (expected
    violated — measures how far)."""
    from breweries_etl_spark.operators.quality import fd_violation_stats

    return fd_violation_stats(
        load_table(spark, sf_dir, "orders"), ["o_custkey"], "o_orderpriority"
    )


@query(oracle="""
WITH pairs AS (
  SELECT l_extendedprice AS x, l_quantity AS y, CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2
), win AS (
  SELECT x, y, n_rows,
    max(y) OVER (ORDER BY x ASC, y DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
  FROM pairs
)
SELECT x, y, n_rows FROM win WHERE cm IS NULL OR y > cm
""")
def q_skyline_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier: min extended price, max quantity — bucketed
    prefilter, exact strict-dominance window over survivors only."""
    from breweries_etl_spark.operators.aggregate import skyline_2d

    return skyline_2d(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice", "l_quantity"
    )


@query(oracle="""
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
    CAST(value AS DECIMAL(12,2)) AS v,
    lead(epoch_us(CAST(ts AS TIMESTAMP)))
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
), s AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    max(us) - min(us) AS span_us,
    SUM(v * (nxt - us)) AS svdt, SUM(nxt - us) AS sdt
  FROM e GROUP BY 1
)
SELECT user_id, n_events, span_us,
  CASE WHEN span_us > 0 THEN round(CAST(svdt AS DOUBLE) / sdt, 6) END AS twap
FROM s
""")
def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TWAP with exact integer-microsecond durations and
    decimal v·Δt sums."""
    from breweries_etl_spark.operators.temporal import time_weighted_value

    return time_weighted_value(load_events(spark, sf_dir))


@query(oracle="""
WITH days AS (
  SELECT DISTINCT user_id,
    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
  FROM events
), isl AS (
  SELECT user_id, day,
    day - dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS island
  FROM days
), per AS (
  SELECT user_id, island, CAST(count(*) AS BIGINT) AS len,
    min(day) AS start_day
  FROM isl GROUP BY 1, 2
), r AS (
  SELECT user_id, len, start_day,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY len DESC, start_day ASC) AS rn,
    count(*) OVER (PARTITION BY user_id) AS n_streaks,
    SUM(len) OVER (PARTITION BY user_id) AS n_active
  FROM per
)
SELECT user_id, CAST(n_streaks AS BIGINT) AS n_streaks,
  CAST(n_active AS BIGINT) AS n_active_days,
  len AS max_streak_days, start_day AS max_streak_start_day
FROM r WHERE rn = 1
""")
def q_user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands consecutive-day streaks per user (count, longest,
    earliest start of the longest)."""
    from breweries_etl_spark.operators.temporal import user_activity_streaks

    return user_activity_streaks(load_events(spark, sf_dir))


@query(oracle="""
WITH h AS (
  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
), r AS (
  SELECT source, doc_id,
    row_number() OVER (PARTITION BY source ORDER BY hx, doc_id) AS rk
  FROM h
)
SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5
""")
def q_reservoir_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-source deterministic sample via md5 ranking."""
    from breweries_etl_spark.operators.sampling import reservoir_sample_per_group

    return reservoir_sample_per_group(
        load_table(spark, sf_dir, "documents"), "source", "doc_id", k=5
    )


@query(oracle="""
WITH daily AS (
  SELECT user_id AS key,
    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), sc AS (
  SELECT key, day, n,
    count(*) OVER (PARTITION BY key) AS n_days,
    SUM(n) OVER (PARTITION BY key) AS total
  FROM daily
), cs AS (
  SELECT key, day, n_days,
    SUM(n * n_days - total) OVER (PARTITION BY key ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) AS cusum_scaled
  FROM sc
), r AS (
  SELECT key, day, n_days, cusum_scaled,
    row_number() OVER (PARTITION BY key
                       ORDER BY abs(cusum_scaled) DESC, day ASC) AS rn
  FROM cs
)
SELECT key AS user_id, day AS changepoint_day,
  CAST(n_days AS BIGINT) AS n_days,
  CAST(abs(cusum_scaled) AS BIGINT) AS peak_abs_cusum_scaled,
  round(CAST(cusum_scaled AS DOUBLE) / n_days, 6) AS peak_cusum
FROM r WHERE rn = 1
""")
def q_cusum_changepoint_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM change-point day over daily counts — integer
    scaled deviations, no float mean inside the cumulative sum."""
    from breweries_etl_spark.operators.temporal import cusum_changepoint

    return cusum_changepoint(load_events(spark, sf_dir))


@query(oracle="""
WITH pk AS (
  SELECT l_partkey AS key, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS kv
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT key, kv,
    SUM(kv) OVER (ORDER BY kv DESC, key ASC ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(kv) OVER () AS total
  FROM pk
), cl AS (
  SELECT key, kv,
    CASE WHEN CAST(cum AS DOUBLE) <= 0.8 * CAST(total AS DOUBLE) THEN 'A'
         WHEN CAST(cum AS DOUBLE) <= 0.95 * CAST(total AS DOUBLE) THEN 'B'
         ELSE 'C' END AS abc_class
  FROM cum
)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_keys,
  CAST(SUM(kv) AS DOUBLE) AS class_value
FROM cl GROUP BY 1
""")
def q_abc_parts_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC classification of parts by revenue (80/95 cumulative
    share cuts), per-class counts and totals."""
    from breweries_etl_spark.operators.aggregate import abc_classification

    return abc_classification(
        load_table(spark, sf_dir, "lineitem"), "l_partkey", "l_extendedprice"
    )


@query(oracle="""
SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY 1
""")
def q_incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-then-aggregate materialized view maintained from a fact
    delta (orders ≡ 0 mod 7) without rescanning the base; the oracle is
    the full recompute the maintained state must equal."""
    from breweries_etl_spark.operators.incremental import maintain_join_aggregate

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return maintain_join_aggregate(
        orders.filter(F.col("o_orderkey") % 7 != 0),
        orders.filter(F.col("o_orderkey") % 7 == 0),
        customer,
        "o_custkey",
        "c_custkey",
        "c_nationkey",
        "o_totalprice",
    )


@query(oracle="""
WITH b AS (
  SELECT min(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) AS lo,
         max(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) AS hi
  FROM events
), grid AS (
  SELECT unnest(range(lo, hi + 1)) AS h FROM b
), obs AS (
  SELECT DISTINCT event_type,
    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h
  FROM events
), types AS (SELECT DISTINCT event_type FROM events),
dense AS (SELECT t.event_type, g.h FROM types t CROSS JOIN grid g),
miss AS (
  SELECT d.event_type, d.h
  FROM dense d LEFT JOIN obs o
    ON o.event_type IS NOT DISTINCT FROM d.event_type AND o.h = d.h
  WHERE o.h IS NULL
), pm AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS missing_hours,
    min(h) AS first_missing_hour
  FROM miss GROUP BY 1
), tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS total_hours
  FROM dense GROUP BY 1
)
SELECT tot.event_type, tot.total_hours,
  COALESCE(pm.missing_hours, 0) AS missing_hours, pm.first_missing_hour
FROM tot LEFT JOIN pm
  ON pm.event_type IS NOT DISTINCT FROM tot.event_type
""")
def q_hourly_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid zero-event hour audit per event type."""
    from breweries_etl_spark.operators.temporal import hourly_coverage_gaps

    return hourly_coverage_gaps(load_events(spark, sf_dir))


@query(oracle="""
WITH w AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
    SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      OVER (PARTITION BY o_orderpriority) AS s,
    count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderkey, o_orderpriority,
  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
  CASE WHEN n > 1 THEN
    round(CAST(s - CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) / (n - 1), 6)
  END AS loo_mean
FROM w
""")
def q_loo_encoding_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority by total price —
    leakage-free categorical feature, NULL for singleton groups."""
    from breweries_etl_spark.operators.profiling import loo_target_encoding

    return loo_target_encoding(
        load_table(spark, sf_dir, "orders"),
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
    )


@query(oracle="""
WITH cells AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y,
    CAST(count(*) AS BIGINT) AS nxy
  FROM orders GROUP BY 1, 2
), xm AS (SELECT x, SUM(nxy) AS nx FROM cells GROUP BY 1),
ym AS (SELECT y, SUM(nxy) AS ny FROM cells GROUP BY 1),
tot AS (SELECT SUM(nxy) AS n FROM cells),
j AS (
  SELECT c.nxy, xm.nx, ym.ny, tot.n
  FROM cells c
  JOIN xm ON c.x IS NOT DISTINCT FROM xm.x
  JOIN ym ON c.y IS NOT DISTINCT FROM ym.y
  CROSS JOIN tot
)
SELECT CAST(max(n) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_cells,
  CAST(SUM(CAST(round(
    (nxy / CAST(n AS DOUBLE))
    * ln((CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE))
         / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 6)
    AS DECIMAL(18,6))) AS DOUBLE) AS mi_nats
FROM j
""")
def q_mutual_information_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI(o_orderpriority; o_orderstatus) in nats via rounded decimal
    term sums."""
    from breweries_etl_spark.operators.profiling import mutual_information

    return mutual_information(
        load_table(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    )


@query(oracle="""
WITH cells AS (
  SELECT event_type AS t,
    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 2 AS INTEGER) AS p,
    CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), tm AS (SELECT t, SUM(c) AS ct FROM cells GROUP BY 1),
pm AS (SELECT p, SUM(c) AS cp FROM cells GROUP BY 1),
tot AS (SELECT SUM(c) AS n FROM cells),
j AS (
  SELECT c.c, tm.ct, pm.cp, tot.n
  FROM cells c
  JOIN tm ON c.t IS NOT DISTINCT FROM tm.t
  JOIN pm ON c.p IS NOT DISTINCT FROM pm.p
  CROSS JOIN tot
)
SELECT CAST(max(n) AS BIGINT) AS n_events, CAST(count(*) AS BIGINT) AS n_cells,
  CAST(SUM(CAST(round(
    (c - CAST(ct AS DOUBLE) * CAST(cp AS DOUBLE) / CAST(n AS DOUBLE))
    * (c - CAST(ct AS DOUBLE) * CAST(cp AS DOUBLE) / CAST(n AS DOUBLE))
    / (CAST(ct AS DOUBLE) * CAST(cp AS DOUBLE) / CAST(n AS DOUBLE)), 6)
    AS DECIMAL(18,6))) AS DOUBLE) AS chi2
FROM j
""")
def q_chi2_day_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square homogeneity between even/odd-day event-type mixes."""
    from breweries_etl_spark.operators.profiling import chi2_drift

    return chi2_drift(load_events(spark, sf_dir))


@query(oracle="""
WITH t AS (
  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
    max(epoch_us(CAST(ts AS TIMESTAMP)))
      OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
  FROM events
), lt AS (
  SELECT event_type,
    CASE WHEN runmax > us THEN runmax - us ELSE 0 END AS late
  FROM t
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
  round(CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*), 6) AS late_share,
  CAST(max(late) AS BIGINT) AS max_lateness_us,
  round(CAST(SUM(late) AS DOUBLE) / count(*), 6) AS mean_lateness_us
FROM lt GROUP BY 1
""")
def q_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival profile per event type (arrival order =
    event_id) — the watermark-picking measurement."""
    from breweries_etl_spark.operators.temporal import lateness_profile

    return lateness_profile(load_events(spark, sf_dir))


@query(oracle="""
WITH weekly AS (
  SELECT event_type,
    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 // 7 AS week,
    CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, week, n_events,
  CASE WHEN lag(n_events) OVER w IS NOT NULL THEN
    round(CAST(n_events - lag(n_events) OVER w AS DOUBLE)
          / lag(n_events) OVER w, 6)
  END AS pct_change
FROM weekly WINDOW w AS (PARTITION BY event_type ORDER BY week)
""")
def q_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly per-type volumes with percent change vs previous observed
    week."""
    from breweries_etl_spark.operators.temporal import week_over_week_change

    return week_over_week_change(load_events(spark, sf_dir))


@query(oracle="""
WITH sla AS (
  SELECT o.o_orderpriority,
    epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) // 86400000000
      - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 86400000000 AS days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
  CAST(quantile_disc(days, 0.5) AS BIGINT) AS p50_days,
  CAST(quantile_disc(days, 0.9) AS BIGINT) AS p90_days,
  CAST(max(days) AS BIGINT) AS max_days,
  round(CAST(SUM(CASE WHEN days > 90 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*), 6) AS late_share
FROM sla GROUP BY 1
""")
def q_shipping_sla_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship day deltas per priority: count, disc percentiles,
    max, late share."""
    from breweries_etl_spark.operators.profiling import shipping_sla_report

    return shipping_sla_report(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@query(oracle="""
WITH ev AS (
  SELECT user_id,
    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 // 7 AS wk,
    CAST(value AS DECIMAL(12,2)) AS v
  FROM events
), fw AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1),
sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
  FROM fw GROUP BY 1
), cells AS (
  SELECT f.cohort_week, e.wk - f.cohort_week AS age_weeks,
    CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active_users,
    SUM(e.v) AS revenue
  FROM ev e JOIN fw f USING (user_id) GROUP BY 1, 2
), cum AS (
  SELECT cohort_week, age_weeks, n_active_users, revenue,
    SUM(revenue) OVER (PARTITION BY cohort_week ORDER BY age_weeks
                       ROWS UNBOUNDED PRECEDING) AS cumrev
  FROM cells
)
SELECT c.cohort_week, c.age_weeks, c.n_active_users,
  CAST(c.revenue AS DOUBLE) AS revenue,
  round(CAST(c.cumrev AS DOUBLE) / s.cohort_size, 6)
    AS cum_revenue_per_member
FROM cum c JOIN sizes s USING (cohort_week)
""")
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-cohort LTV accumulation: active users, revenue, and
    running revenue per cohort member."""
    from breweries_etl_spark.operators.behavior import cohort_ltv

    return cohort_ltv(load_events(spark, sf_dir))


@query(oracle=_corr_matrix_oracle())
def q_numeric_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairwise Pearson correlations over four lineitem measures in
    one scan (exact decimal component sums)."""
    from breweries_etl_spark.operators.profiling import numeric_corr_matrix

    return numeric_corr_matrix(
        load_table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


# Mirrors the engine's max_basket_size=10000 cap (aggregate.py:
# frequent_item_pairs): oversized baskets are excluded from PAIR
# GENERATION only — supports and the nb denominator still see every
# basket. Same algorithm on both sides even when the cap binds
# (tests/test_round5_wave.py proves it on a cap-binding fixture).
@query(oracle="""
WITH items AS (
  SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb FROM items),
sup AS (SELECT i, CAST(count(*) AS BIGINT) AS ni FROM items GROUP BY 1),
ok_b AS (SELECT b FROM items GROUP BY b HAVING count(*) <= 10000),
pairs AS (
  SELECT a.i AS item_a, b2.i AS item_b, CAST(count(*) AS BIGINT) AS n_both
  FROM items a JOIN ok_b USING (b) JOIN items b2 ON a.b = b2.b AND a.i < b2.i
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p.item_a, p.item_b, p.n_both,
  round(p.n_both / CAST(nb.nb AS DOUBLE), 6) AS support,
  round((p.n_both / CAST(nb.nb AS DOUBLE))
        / ((sa.ni / CAST(nb.nb AS DOUBLE)) * (sb.ni / CAST(nb.nb AS DOUBLE))),
        6) AS lift
FROM pairs p
JOIN sup sa ON sa.i = p.item_a
JOIN sup sb ON sb.i = p.item_b
CROSS JOIN nb
""")
def q_frequent_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: brand pairs co-bought within an order, with
    support and lift (pair blowup bounded by basket size)."""
    from breweries_etl_spark.operators.aggregate import frequent_item_pairs

    baskets = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(
            load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
        ),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return frequent_item_pairs(baskets, "l_orderkey", "p_brand", min_count=2)


@query(oracle="""
SELECT o_orderkey, o_orderpriority,
  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
  round(percent_rank() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice NULLS LAST), 6) AS pr
FROM orders
""")
def q_price_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECDF feature: percent_rank of each order's total within its
    priority class."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window as _W

    # explicit NULLS LAST: Spark's ASC default is NULLS FIRST, DuckDB's
    # is NULLS LAST — a NULL price would shift every percent_rank in
    # its partition (degen sweep r10)
    w = _W.partitionBy("o_orderpriority").orderBy(
        F.asc_nulls_last("o_totalprice")
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


@query(oracle="""
WITH base AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
    min(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS first_day,
    max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS last_day
  FROM events GROUP BY 1
), e AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
    lag(epoch_us(CAST(ts AS TIMESTAMP)))
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                 THEN 1 ELSE 0 END AS brk
  FROM e
), sess AS (
  SELECT user_id, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), sessions AS (
  SELECT user_id, CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions
  FROM sess GROUP BY 1
), days AS (
  SELECT DISTINCT user_id,
    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
  FROM events
), isl AS (
  SELECT user_id, day,
    day - dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS island
  FROM days
), per_isl AS (
  SELECT user_id, island, CAST(count(*) AS BIGINT) AS len FROM isl GROUP BY 1, 2
), streaks AS (
  SELECT user_id, SUM(len) AS n_active_days, max(len) AS max_streak_days
  FROM per_isl GROUP BY 1
), tw AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
    CAST(value AS DECIMAL(12,2)) AS v,
    lead(epoch_us(CAST(ts AS TIMESTAMP)))
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
), twagg AS (
  SELECT user_id, max(us) - min(us) AS span_us,
    SUM(v * (nxt - us)) AS svdt, SUM(nxt - us) AS sdt
  FROM tw GROUP BY 1
), twap AS (
  SELECT user_id,
    CASE WHEN span_us > 0 THEN round(CAST(svdt AS DOUBLE) / sdt, 6) END AS twap
  FROM twagg
), mc AS (
  SELECT user_id, event_type AS value, count(*) AS cnt
  FROM events GROUP BY 1, 2
), mr AS (
  SELECT user_id, value,
    row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, value ASC) AS rn
  FROM mc
), md AS (SELECT user_id, value AS top_event_type FROM mr WHERE rn = 1)
SELECT b.user_id, b.n_events, b.total_value, b.first_day, b.last_day,
  s.n_sessions, CAST(st.n_active_days AS BIGINT) AS n_active_days,
  CAST(st.max_streak_days AS BIGINT) AS max_streak_days, t.twap,
  m.top_event_type
FROM base b
JOIN sessions s USING (user_id)
JOIN streaks st USING (user_id)
JOIN twap t USING (user_id)
JOIN md m USING (user_id)
""")
def q_user_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite per-user feature frame (volume, sessions, streaks,
    TWAP, modal type, activity span) — the wide table an ML job
    consumes; all components share the user-hash partitioning."""
    from breweries_etl_spark.operators.features import user_feature_store

    return user_feature_store(load_events(spark, sf_dir))


@query(oracle=f"""
WITH cuts AS (SELECT [{_PSI_CUTS_SQL}] AS cuts FROM events),
t AS (
  SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 2 AS INTEGER)
           AS p,
         CAST(value AS DOUBLE) AS v
  FROM events
), binned AS (
  SELECT p, len(list_filter(c.cuts, x -> t.v > x)) AS bin FROM t, cuts c
), cells AS (
  SELECT p, bin, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY 1, 2
), tot AS (SELECT p, SUM(c) AS tp FROM cells GROUP BY 1),
a AS (SELECT bin, c AS c0 FROM cells WHERE p = 0),
b AS (SELECT bin, c AS c1 FROM cells WHERE p = 1),
ta AS (SELECT tp AS ta FROM tot WHERE p = 0),
tb AS (SELECT tp AS tb FROM tot WHERE p = 1),
j AS (SELECT a.bin, a.c0, b.c1 FROM a JOIN b USING (bin))
SELECT CAST(count(*) AS BIGINT) AS n_bins_used,
  CAST(SUM(CAST(round(
    (CAST(c0 AS DOUBLE) / ta - CAST(c1 AS DOUBLE) / tb)
    * ln((CAST(c0 AS DOUBLE) / ta) / (CAST(c1 AS DOUBLE) / tb)), 6)
    AS DECIMAL(18,6))) AS DOUBLE) AS psi
FROM j CROSS JOIN ta CROSS JOIN tb
""")
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between even/odd-day value
    distributions over global exact-decile bins."""
    from breweries_etl_spark.operators.profiling import psi_value_drift

    return psi_value_drift(load_events(spark, sf_dir))


@query(oracle=f"""
WITH mx AS (
  SELECT max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS mxd FROM events
), t AS (
  SELECT event_type,
    mx.mxd - epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS age
  FROM events CROSS JOIN mx
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(round(
    pow(0.5, CAST((age - age % 7) / 7 AS DOUBLE))
    * ([{", ".join(str(x) for x in _DECAY_FRAC)}])[CAST(age % 7 AS INTEGER) + 1],
    8) AS DECIMAL(20,8))) AS DOUBLE) AS decayed_count
FROM t GROUP BY 1
""")
def q_decayed_type_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed popularity per event type (engine-exact dyadic
    weight decomposition)."""
    from breweries_etl_spark.operators.temporal import decayed_type_popularity

    return decayed_type_popularity(load_events(spark, sf_dir))


# scale-safe twins of the global-sort window forms
# Scale-safe twin: percentile_disc boundaries + scan-local range
# assignment — mirrors operators/corpus.py:curriculum_stages_scalable
# (ties at a boundary land in the LOWER stage on both sides).
@query(oracle="""
WITH s AS (SELECT CAST(n_chars AS BIGINT) AS sc FROM documents),
b AS (SELECT quantile_disc(sc, [0.25, 0.5, 0.75]) AS bs FROM s)
SELECT CAST(1 + len(list_filter(b.bs, x -> s.sc > x)) AS BIGINT) AS stage,
  CAST(count(*) AS BIGINT) AS n_docs,
  min(sc) AS min_score, max(sc) AS max_score,
  CAST(SUM(sc) AS DOUBLE) / count(*) AS mean_score
FROM s, b GROUP BY 1
""")
def q_curriculum_stages_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of curriculum_stages: percentile_disc stage
    boundaries broadcast as a range filter — no global sort, no window
    (VERDICT r4 #6). Tie mass at a boundary lands in the lower stage,
    so stage populations differ from the ntile twin only at ties."""
    from breweries_etl_spark.operators.corpus import curriculum_stages_scalable

    return curriculum_stages_scalable(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH per_user AS (
  SELECT user_id,
    max(epoch_us(ts)) AS last_purchase_us,
    CAST(count(*) AS BIGINT) AS frequency,
    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
th AS (
  SELECT quantile_disc(last_purchase_us, [0.25, 0.5, 0.75]) AS tr,
         quantile_disc(frequency, [0.25, 0.5, 0.75]) AS tf,
         quantile_disc(monetary, [0.25, 0.5, 0.75]) AS tm
  FROM per_user
),
b AS (
  SELECT user_id, frequency, monetary,
    CAST(4 - len(list_filter(th.tr, t -> per_user.last_purchase_us >= t)) AS BIGINT) AS r_bucket,
    CAST(4 - len(list_filter(th.tf, t -> per_user.frequency >= t)) AS BIGINT) AS f_bucket,
    CAST(4 - len(list_filter(th.tm, t -> per_user.monetary >= t)) AS BIGINT) AS m_bucket
  FROM per_user, th
)
SELECT user_id, frequency, monetary, r_bucket, f_bucket, m_bucket,
  CAST(r_bucket AS VARCHAR) || '-' || CAST(f_bucket AS VARCHAR)
    || '-' || CAST(m_bucket AS VARCHAR) AS segment
FROM b
""")
def q_rfm_segments_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of rfm_segments: per-metric percentile_disc
    thresholds broadcast back for scan-local bucketing — no triple
    global-sort ntile window (VERDICT r4 #6)."""
    from breweries_etl_spark.operators.behavior import rfm_segments_scalable

    return rfm_segments_scalable(load_events(spark, sf_dir))


@query(bench=False, oracle="""
WITH d AS (
  SELECT o_totalprice,
    ntile(10) OVER (ORDER BY o_totalprice ASC NULLS LAST,
                    o_orderkey ASC) AS decile
  FROM orders
)
SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM d GROUP BY decile
""")
def q_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(10) decile assignment over a total order (value, key) —
    per-decile counts and exact-decimal sums."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    # explicit NULLS LAST (Spark ASC = NULLS FIRST, DuckDB = NULLS
    # LAST: a NULL price rotated every ntile boundary; degen sweep r10)
    w = W.orderBy(
        F.asc_nulls_last("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("total"),
        )
    )


@query(bench=False, oracle="""
WITH s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
  FROM lineitem
)
SELECT round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
  AS qty_price_corr
FROM s
""")
def q_price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation computed from EXACT decimal component sums
    (n, Σx, Σy, Σxy, Σx², Σy²) with the final arithmetic in double —
    reproducible at any parallelism, unlike streaming corr aggregates
    whose update order varies."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    agg = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(F.round(corr, 6).alias("qty_price_corr"))


@query(bench=False, oracle="""
SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS window_start,
  count(DISTINCT user_id) AS unique_users
FROM events GROUP BY 1
""")
def q_hourly_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per tumbling hour (windowed count-distinct)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count_distinct("user_id").alias("unique_users"))
        .select(
            F.col("w.start").cast("long").alias("window_start"), "unique_users"
        )
    )


@query(bench=False)
def q_approx_order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (percentile_approx / KLL-style) — the
    100 TB path where exact sort-based quantiles are a full shuffle.
    Rows-only for the driver (sketch internals differ from DuckDB's);
    tests bound the error vs the exact quantiles instead."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        *[
            F.percentile_approx("o_totalprice", p, 10_000).alias(f"p{int(p * 100)}")
            for p in (0.5, 0.9, 0.99)
        ]
    )


@query(bench=False, oracle="""
SELECT quantile_disc(o_totalprice, 0.5) AS p50,
       quantile_disc(o_totalprice, 0.9) AS p90,
       quantile_disc(o_totalprice, 0.99) AS p99
FROM orders
""")
def q_order_percentiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twin of ``approx_order_percentiles``: percentile_disc picks
    an ACTUAL element (no interpolation arithmetic), so Spark and DuckDB
    agree bit-for-bit and the sketch-based operator gets a hash-matched
    sibling in the driver gate."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias(f"p{int(p * 100)}")
            for p in (0.5, 0.9, 0.99)
        ]
    )


@query(bench=False, oracle="""
WITH lm AS (
  SELECT o_orderpriority, round(avg(ln(o_totalprice)), 6) AS log_mean
  FROM orders WHERE o_totalprice > 0
  GROUP BY o_orderpriority
)
SELECT o_orderpriority, log_mean, round(exp(log_mean), 3) AS geo_mean
FROM lm
""")
def q_geo_mean_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas GROUPED_AGG UDAF surface: per-priority geometric mean of
    order totals (log-mean rounded before exponentiation on both
    engines)."""
    return agg_ops.geometric_mean_by(
        load_table(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )


@query(bench=False, oracle="""
WITH tri AS (
  SELECT event_type AS s1,
    lead(event_type, 1) OVER w AS s2,
    lead(event_type, 2) OVER w AS s3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT s1 || ' > ' || s2 || ' > ' || s3 AS path,
  CAST(count(*) AS BIGINT) AS n_paths
FROM tri WHERE s3 IS NOT NULL
GROUP BY s1, s2, s3
ORDER BY n_paths DESC, path ASC LIMIT 20
""")
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step behavior paths (per-user event-type trigrams,
    global top-20, path-text tiebreak)."""
    from breweries_etl_spark.operators.behavior import top_event_paths

    return top_event_paths(load_events(spark, sf_dir))


@query(bench=False, oracle="""
WITH per_user AS (
  SELECT user_id,
    max(epoch_us(ts)) AS last_purchase_us,
    CAST(count(*) AS BIGINT) AS frequency,
    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id, frequency, monetary,
  CAST(ntile(4) OVER (ORDER BY last_purchase_us DESC NULLS LAST,
                      user_id ASC NULLS LAST) AS BIGINT) AS r_bucket,
  CAST(ntile(4) OVER (ORDER BY frequency DESC NULLS LAST,
                      user_id ASC NULLS LAST) AS BIGINT) AS f_bucket,
  CAST(ntile(4) OVER (ORDER BY monetary DESC NULLS LAST,
                      user_id ASC NULLS LAST) AS BIGINT) AS m_bucket,
  CAST(ntile(4) OVER (ORDER BY last_purchase_us DESC NULLS LAST,
                      user_id ASC NULLS LAST) AS VARCHAR)
    || '-' || CAST(ntile(4) OVER (ORDER BY frequency DESC NULLS LAST,
                      user_id ASC NULLS LAST) AS VARCHAR)
    || '-' || CAST(ntile(4) OVER (ORDER BY monetary DESC NULLS LAST,
                      user_id ASC NULLS LAST) AS VARCHAR)
    AS segment
FROM per_user
""")
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation of purchasers (deterministic ntile
    tiebreaks; exact decimal spend)."""
    from breweries_etl_spark.operators.behavior import rfm_segments

    return rfm_segments(load_events(spark, sf_dir))


@query(bench=False, oracle="""
WITH s AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS sc,
         ntile(4) OVER (ORDER BY n_chars ASC, doc_id ASC) AS stage
  FROM documents
)
SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
  min(sc) AS min_score, max(sc) AS max_score,
  CAST(SUM(sc) AS DOUBLE) / count(*) AS mean_score
FROM s GROUP BY stage
""")
def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning stage cuts (deterministic ntile over a
    (score, id) total order) with per-stage summary."""
    from breweries_etl_spark.operators.corpus import curriculum_buckets

    return curriculum_buckets(load_table(spark, sf_dir, "documents"))
