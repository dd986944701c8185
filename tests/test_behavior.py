"""Behavioral analytics: funnel ordering semantics, cohort retention
invariants, and approximate-percentile error bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from breweries_etl_spark.operators.behavior import funnel_steps, retention_cohorts
from breweries_etl_spark.sources.tables import load_events


def test_funnel_is_monotone_and_ordered(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    row = funnel_steps(ev).first()
    assert row.n_step1 >= row.n_step2 >= row.n_step3
    assert row.n_step1 > 0


def test_funnel_respects_event_order(spark):
    # u1 completes in order; u2 purchased BEFORE clicking -> not step3;
    # u3 clicked before viewing -> not step2.
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 1.0, None),
        (2, "2024-01-01 00:10:00", 1, "click", 1.0, None),
        (3, "2024-01-01 00:20:00", 1, "purchase", 1.0, None),
        (4, "2024-01-01 00:00:00", 2, "purchase", 1.0, None),
        (5, "2024-01-01 00:10:00", 2, "view", 1.0, None),
        (6, "2024-01-01 00:20:00", 2, "click", 1.0, None),
        (7, "2024-01-01 00:00:00", 3, "click", 1.0, None),
        (8, "2024-01-01 00:10:00", 3, "view", 1.0, None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    row = funnel_steps(ev).first()
    assert (row.n_step1, row.n_step2, row.n_step3) == (3, 2, 1)


def test_retention_day_zero_covers_every_user(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    ret = retention_cohorts(ev)
    day0 = ret.where(F.col("day_offset") == 0).agg(
        F.sum("n_active_users").alias("n")
    ).first()["n"]
    n_users = ev.select("user_id").distinct().count()
    assert day0 == n_users
    assert ret.where(F.col("day_offset") < 0).count() == 0


def test_value_trend_strategies_agree(spark, sf_dir):
    from breweries_etl_spark.operators.behavior import value_trend, value_trend_pandas

    ev = load_events(spark, sf_dir)
    native = {(r.user_id): (r.slope_per_hour, r.n_events) for r in value_trend(ev).collect()}
    arrow = {
        (r.user_id): (r.slope_per_hour, r.n_events)
        for r in value_trend_pandas(ev).collect()
    }
    assert native == arrow and len(native) > 0


def test_value_trend_known_slope(spark):
    # value rises exactly 2.0 per hour for one user -> slope 2.0
    rows = [
        (i, f"2024-01-01 0{i}:00:00", 7, "view", 10.0 + 2.0 * i, None)
        for i in range(5)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    from breweries_etl_spark.operators.behavior import value_trend

    r = value_trend(ev).first()
    assert r.slope_per_hour == 2.0 and r.n_events == 5


def test_approx_percentiles_within_tolerance(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    approx = orders.agg(
        *[
            F.percentile_approx("o_totalprice", p, 10_000).alias(f"p{int(p * 100)}")
            for p in (0.5, 0.9, 0.99)
        ]
    ).first()
    exact = orders.agg(
        *[
            F.expr(f"percentile(o_totalprice, {p})").alias(f"p{int(p * 100)}")
            for p in (0.5, 0.9, 0.99)
        ]
    ).first()
    for k in ("p50", "p90", "p99"):
        assert abs(approx[k] - exact[k]) / exact[k] < 0.01


def test_top_event_paths_orders_and_ties(spark):
    import datetime as dt

    from pyspark.sql import Row

    from breweries_etl_spark.operators.behavior import top_event_paths

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user 1 and 2: view > click > purchase ; user 3: view > view > view
    for uid, seq in [(1, "vcp"), (2, "vcp"), (3, "vvv")]:
        for i, c in enumerate(seq):
            name = {"v": "view", "c": "click", "p": "purchase"}[c]
            rows.append(
                Row(event_id=eid, user_id=uid, ts=t0 + dt.timedelta(minutes=i),
                    event_type=name)
            )
            eid += 1
    out = top_event_paths(spark.createDataFrame(rows), k=5).collect()
    assert out[0]["path"] == "view > click > purchase" and out[0]["n_paths"] == 2
    assert out[1]["path"] == "view > view > view" and out[1]["n_paths"] == 1
    # trigrams never cross users
    assert len(out) == 2


def test_rfm_segments_buckets_deterministic(spark, sf_dir):
    from breweries_etl_spark.operators.behavior import rfm_segments

    from breweries_etl_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    a = sorted(map(tuple, rfm_segments(ev).collect()))
    b = sorted(map(tuple, rfm_segments(ev.repartition(7)).collect()))
    assert a == b
    buckets = {r[3] for r in a} | {r[4] for r in a} | {r[5] for r in a}
    assert buckets <= {1, 2, 3, 4}


def test_temperature_weights_upsample_rare(spark):
    from pyspark.sql import Row

    from breweries_etl_spark.operators.clustering import temperature_mix_weights

    df = spark.createDataFrame(
        [Row(doc_id=i, lang="en" if i < 90 else "zh") for i in range(100)]
    )
    rows = {r["lang"]: r for r in temperature_mix_weights(df, "lang").collect()}
    # rare group gets the max (=1.0) weight; common group < 1
    assert rows["zh"]["temp_weight"] == 1.0
    assert 0 < rows["en"]["temp_weight"] < 1
    # T=2 ratio: w_en/w_zh = sqrt(share_zh/share_en) = sqrt(1/9) = 1/3
    assert abs(rows["en"]["temp_weight"] - round(1 / 3, 6)) < 1e-6


def test_ab_test_stats_exact_components(spark):
    from breweries_etl_spark.operators.behavior import ab_test_stats

    # assignment is content-hashed; just verify the statistical identity
    # against numpy on whatever split the hash produces
    import numpy as np

    rows = [(i, float(v)) for i, v in enumerate([10, 12, 9, 11, 30, 31, 29, 32] * 4)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    out = ab_test_stats(df, assign_col="user_id").collect()
    assert len(out) == 2
    by_arm = {r["arm"]: r for r in out}
    # recompute the same md5 split in python
    import hashlib

    def arm_of(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:4], 16) % 2

    for arm in (0, 1):
        vals = np.array([v for (u, v) in rows if arm_of(u) == arm])
        assert by_arm[arm]["n"] == len(vals)
        assert abs(float(by_arm[arm]["mean"]) - vals.mean()) < 1e-6
        assert abs(float(by_arm[arm]["var"]) - vals.var(ddof=1)) < 1e-5
    # z consistent across both rows
    assert out[0]["z"] == out[1]["z"]


def test_conversion_latency_first_to_first_after(spark):
    from breweries_etl_spark.operators.behavior import (
        conversion_latency_percentiles,
    )
    import pyspark.sql.functions as F

    rows = [
        (1, 1, "purchase", "2024-01-01 09:00:00"),  # BEFORE first click: ignored
        (2, 1, "click", "2024-01-01 10:00:00"),
        (3, 1, "purchase", "2024-01-01 10:30:00"),  # +30min — the one kept
        (4, 1, "purchase", "2024-01-01 11:00:00"),
        (5, 2, "click", "2024-01-01 10:00:00"),     # never converts
        (6, 3, "purchase", "2024-01-01 10:00:00"),  # no click at all
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    row = conversion_latency_percentiles(df).collect()[0]
    assert row["n_converted"] == 1
    assert row["p50_us"] == 30 * 60 * 1_000_000


def test_event_cooccurrence_lift_values(spark):
    from breweries_etl_spark.functions import lifecycle
    from breweries_etl_spark.operators.behavior import event_cooccurrence_lift

    # 10 users: all do A; users 0-4 also do B -> lift(A,B)=10*5/(10*5)=1.0
    rows = [(u, "A") for u in range(10)] + [(u, "B") for u in range(5)]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    lift = event_cooccurrence_lift(df)
    out = {(r["type_a"], r["type_b"]): r for r in lift.collect()}
    lifecycle.release(lift)
    assert set(out) == {("A", "B")}
    r = out[("A", "B")]
    assert r["n_both"] == 5 and abs(float(r["lift"]) - 1.0) < 1e-9


def test_user_event_novelty_counts_first_occurrences(spark):
    import pyspark.sql.functions as F

    from breweries_etl_spark.operators.behavior import user_event_novelty

    rows = [
        (1, 1, "view", "2024-01-01 10:00:00"),
        (2, 1, "view", "2024-01-01 10:01:00"),   # repeat: still 1 type
        (3, 1, "click", "2024-01-01 10:02:00"),  # 2 types
        (4, 1, "view", "2024-01-01 10:03:00"),   # still 2
        (5, 2, "purchase", "2024-01-01 10:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r["event_id"]: r["n_types_seen"] for r in user_event_novelty(df).collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_conversion_ab_ztest_counts_and_sign(spark):
    import hashlib

    from pyspark.sql import Row

    from breweries_etl_spark.operators.behavior import conversion_ab_ztest

    def arm(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:4], 16) % 2

    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # users 1..40: every arm-1 user converts, no arm-0 user does
    for uid in range(1, 41):
        t = "purchase" if arm(uid) == 1 else "view"
        rows.append(Row(user_id=uid, ts=base, event_type=t))
    df = spark.createDataFrame(rows)
    r = conversion_ab_ztest(df).collect()[0]
    n_b = sum(1 for u in range(1, 41) if arm(u) == 1)
    assert r["n_a"] == 40 - n_b and r["n_b"] == n_b
    assert r["conv_a"] == 0 and r["conv_b"] == n_b
    assert r["rate_a"] == 0.0 and r["rate_b"] == 1.0
    assert r["z_score"] > 0 and r["significant"] is True


def test_kaplan_meier_hand_computed_curve(spark):
    import datetime

    from pyspark.sql import Row

    from breweries_etl_spark.operators.behavior import kaplan_meier_retention

    d = lambda k: datetime.datetime(2024, 1, 1) + datetime.timedelta(days=k)
    rows = (
        [Row(user_id=1, ts=d(0)), Row(user_id=1, ts=d(1))]   # lifetime 1, churn
        + [Row(user_id=2, ts=d(0))]                          # lifetime 0, churn
        + [Row(user_id=3, ts=d(0)), Row(user_id=3, ts=d(2))] # lifetime 2, churn
        + [Row(user_id=4, ts=d(0)), Row(user_id=4, ts=d(30))]# lifetime 30, censored
    )
    out = {r["day"]: r for r in kaplan_meier_retention(spark.createDataFrame(rows)).collect()}
    assert out[0]["n_at_risk"] == 4 and out[0]["n_churned"] == 1
    assert abs(out[0]["survival"] - 0.75) < 1e-4
    assert out[1]["n_at_risk"] == 3 and abs(out[1]["survival"] - 0.5) < 1e-4
    assert out[2]["n_at_risk"] == 2 and abs(out[2]["survival"] - 0.25) < 1e-4
    # censored user: at risk on day 30, not churned, survival unchanged
    assert out[30]["n_churned"] == 0 and abs(out[30]["survival"] - 0.25) < 1e-4
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_value_trend_pandas_exact_in_large_product_regime(spark):
    """ADVICE r10 (low): the grouped-map twin's cross sum must stay
    EXACT when per-element products (span-seconds x cents) breach 2^53
    — a float64 fold silently rounds there and can flip the 6th
    decimal vs the JVM decimal path. 2033-era timestamps (x ~ 3e8 s
    from the 2024 base) x ~1e9 cents puts every product near 3e17;
    NULL value / NULL ts rows ride along to keep the mask path under
    test."""
    import random

    from breweries_etl_spark.operators.behavior import (
        value_trend,
        value_trend_pandas,
    )

    random.seed(42)
    rows = []
    for i in range(200):
        ts = f"2033-06-{(i % 28) + 1:02d} {i % 24:02d}:{i % 60:02d}:{(i * 7) % 60:02d}"
        val = round(random.uniform(8_000_000.0, 9_999_999.99), 2)
        rows.append((i, ts, 1, "view", val, None))
    rows.append((200, "2033-06-15 12:00:00", 1, "view", None, None))  # NULL value
    rows.append((201, None, 1, "view", 1234.56, None))  # NULL ts
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    native = value_trend(ev).first()
    arrow = value_trend_pandas(ev).first()
    assert native.n_events == arrow.n_events == 202
    assert float(native.slope_per_hour) == float(arrow.slope_per_hour)
