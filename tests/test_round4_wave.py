"""Round-4 profiling wave: length histogram, char-class profile,
seasonality, rolling anomaly, bounce rate — hand-computed micro
fixtures (the SF oracles cover the corpus-scale behavior)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from breweries_etl_spark.operators.behavior import session_bounce_rate
from breweries_etl_spark.operators.temporal import (
    rolling_count_anomaly,
    seasonal_hour_profile,
)
from breweries_etl_spark.operators.text import char_class_profile, length_histogram


def test_length_histogram_power_boundaries(spark):
    # lengths 1,2,4,8 sit on exact power-of-two boundaries: bucket = k
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="x" * n) for i, n in enumerate([1, 2, 3, 4, 7, 8])]
    )
    hist = {r["len_bucket"]: r["n_docs"] for r in length_histogram(docs).collect()}
    assert hist == {0: 1, 1: 2, 2: 2, 3: 1}


def test_char_class_profile_exact_ratios(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, source="s", text="ab 12!?")]  # 2 alpha, 2 digit, 1 space, 2 other
    )
    r = char_class_profile(docs).collect()[0]
    assert r["total_chars"] == 7
    assert r["alpha_ratio"] == round(2 / 7, 6)
    assert r["digit_ratio"] == round(2 / 7, 6)
    assert r["space_ratio"] == round(1 / 7, 6)
    assert r["other_ratio"] == round(2 / 7, 6)


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            Row(event_id=i, user_id=u, event_type=t, ts=ts, value=v)
            for i, (u, t, ts, v) in enumerate(rows)
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_seasonal_hour_profile_shares(spark):
    ev = _ev(
        spark,
        [
            (1, "click", "2024-01-01 09:10:00", 1.0),
            (1, "click", "2024-01-02 09:50:00", 2.0),
            (1, "click", "2024-01-01 17:00:00", 3.0),
            (2, "view", "2024-01-01 09:00:00", 4.0),
        ],
    )
    rows = {(r["event_type"], r["hour"]): r for r in seasonal_hour_profile(ev).collect()}
    assert rows[("click", 9)]["n_events"] == 2
    assert rows[("click", 9)]["hour_share"] == round(2 / 3, 6)
    assert rows[("click", 17)]["total_value"] == 3.0
    assert rows[("view", 9)]["hour_share"] == 1.0


def test_rolling_count_anomaly_z(spark):
    # user 1: counts 2,2,2,8 over four days -> day 4 scored against
    # trailing mean 2, var 0 -> z NULL (constant history); then make
    # history varied: counts 1,3,2 -> day 4 z = (8-2)/1
    rows = []
    for day, cnt in [(1, 1), (2, 3), (3, 2), (4, 8)]:
        for i in range(cnt):
            rows.append((1, "e", f"2024-01-0{day} 00:0{i}:00", 1.0))
    out = {
        r["day"]: r for r in rolling_count_anomaly(_ev(spark, rows)).collect()
    }
    days = sorted(out)
    first, last = out[days[0]], out[days[-1]]
    assert first["n_trailing_days"] == 0 and first["z"] is None
    # trailing {1,3,2}: mean 2, var ((1+9+4) - 36/3)/2 = 1 -> z = 6
    assert last["n_trailing_days"] == 3
    assert last["trailing_mean"] == 2.0
    assert last["z"] == 6.0


def test_session_bounce_rate_counts(spark):
    ev = _ev(
        spark,
        [
            (1, "a", "2024-01-01 00:00:00", 1.0),
            (1, "a", "2024-01-01 00:10:00", 1.0),  # same session
            (1, "a", "2024-01-01 03:00:00", 1.0),  # bounce
            (2, "a", "2024-01-01 00:00:00", 1.0),  # bounce
        ],
    )
    r = session_bounce_rate(ev).collect()[0]
    assert r["n_sessions"] == 3
    assert r["n_bounces"] == 2
    assert r["bounce_rate"] == round(2 / 3, 6)
    assert r["mean_events_per_session"] == round(4 / 3, 6)


def test_exact_mode_tie_rule(spark):
    from breweries_etl_spark.operators.aggregate import exact_mode

    df = spark.createDataFrame(
        [Row(g=1, v="b"), Row(g=1, v="a"), Row(g=1, v="b"), Row(g=1, v="a"),
         Row(g=2, v="z")]
    )
    out = {r["g"]: r for r in exact_mode(df, "g", "v").collect()}
    assert out[1]["mode_value"] == "a" and out[1]["mode_count"] == 2  # tie -> smallest
    assert out[2]["mode_value"] == "z" and out[2]["mode_count"] == 1


def test_weighted_median_boundary(spark):
    from breweries_etl_spark.operators.aggregate import weighted_median

    # weights 1,1,2 on values 10,20,30: total 4, cum at 20 is 2 -> 2*2>=4
    df = spark.createDataFrame(
        [Row(g="a", v=10.0, w=1.0), Row(g="a", v=20.0, w=1.0), Row(g="a", v=30.0, w=2.0)]
    )
    r = weighted_median(df, "g", "v", "w").collect()[0]
    assert r["weighted_median"] == 20.0
    assert r["total_weight"] == 4.0


def test_fd_violation_stats_null_is_a_value(spark):
    from breweries_etl_spark.operators.quality import fd_violation_stats

    df = spark.createDataFrame(
        [Row(k=1, y="x"), Row(k=1, y=None), Row(k=2, y="x"), Row(k=2, y="x")]
    )
    r = fd_violation_stats(df, ["k"], "y").collect()[0]
    assert r["n_keys"] == 2 and r["n_violating_keys"] == 1
    assert r["violation_rate"] == 0.5


def test_benford_first_digit_counts(spark):
    from breweries_etl_spark.operators.quality import benford_first_digit

    df = spark.createDataFrame(
        [Row(v=float(x)) for x in [1.2, 19, 150, 2.5, 900, 0.4]]  # <1 dropped
    )
    out = {r["digit"]: r for r in benford_first_digit(df, "v").collect()}
    assert out[1]["n"] == 3 and out[2]["n"] == 1 and out[9]["n"] == 1
    assert out[1]["observed_freq"] == 0.6
    assert out[1]["benford_freq"] == round(__import__("math").log10(2), 6)


def test_ols_fit_known_line(spark):
    from breweries_etl_spark.operators.mltrain import ols_fit

    # y = 3x + 2 exactly -> slope 3, intercept 2, r2 = 1
    df = spark.createDataFrame([Row(g="a", x=float(x), y=3.0 * x + 2) for x in range(5)])
    r = ols_fit(df, "g", "x", "y").collect()[0]
    assert r["slope"] == 3.0 and r["intercept"] == 2.0 and r["r2"] == 1.0
    # constant x -> NULLs, not division artifacts
    df2 = spark.createDataFrame([Row(g="b", x=1.0, y=float(y)) for y in range(3)])
    r2 = ols_fit(df2, "g", "x", "y").collect()[0]
    assert r2["slope"] is None and r2["intercept"] is None and r2["r2"] is None


def test_label_centroid_similarity_identical_labels(spark):
    from breweries_etl_spark.operators.similarity import label_centroid_similarity

    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 0.0], label=0),
         Row(vec_id=2, embedding=[1.0, 0.0], label=1),
         Row(vec_id=3, embedding=[0.0, 2.0], label=2)]
    )
    out = {(r["label_a"], r["label_b"]): r["cosine"]
           for r in label_centroid_similarity(df).collect()}
    assert out[(0, 1)] == 1.0
    assert out[(0, 2)] == 0.0 and out[(1, 2)] == 0.0


def test_skyline_2d_dominance(spark):
    from breweries_etl_spark.operators.aggregate import skyline_2d

    # min x, max y. (1,5) and (3,9) on frontier; (2,4) dominated by (1,5);
    # (3,5) dominated by (1,5); (4,9) dominated by (3,9); duplicate (1,5)
    # collapses with n_rows=2.
    rows = [(1.0, 5.0), (1.0, 5.0), (2.0, 4.0), (3.0, 9.0), (3.0, 5.0), (4.0, 9.0)]
    df = spark.createDataFrame([Row(x=x, y=y) for x, y in rows])
    for width in (0.5, 1000.0):  # prefilter exactness is width-independent
        got = {(r["x"], r["y"]): r["n_rows"]
               for r in skyline_2d(df, "x", "y", x_bucket_width=width).collect()}
        assert got == {(1.0, 5.0): 2, (3.0, 9.0): 1}


def test_time_weighted_value_step_function(spark):
    from breweries_etl_spark.operators.temporal import time_weighted_value

    # value 10 held 30s, value 2 held 10s, last event zero-weight
    ev = _ev(
        spark,
        [
            (1, "a", "2024-01-01 00:00:00", 10.0),
            (1, "a", "2024-01-01 00:00:30", 2.0),
            (1, "a", "2024-01-01 00:00:40", 99.0),
            (2, "a", "2024-01-01 00:00:00", 5.0),  # single event -> NULL
        ],
    )
    out = {r["user_id"]: r for r in time_weighted_value(ev).collect()}
    assert out[1]["twap"] == round((10 * 30 + 2 * 10) / 40, 6)
    assert out[2]["twap"] is None and out[2]["span_us"] == 0


def test_user_activity_streaks_islands(spark):
    from breweries_etl_spark.operators.temporal import user_activity_streaks

    # user 1 active days: 1,2,3, 5,6, 9 -> streaks [3,2,1]
    rows = [(1, "a", f"2024-01-0{d} 12:00:00", 1.0) for d in (1, 2, 3, 5, 6, 9)]
    # two events same day must not double-count
    rows.append((1, "a", "2024-01-02 18:00:00", 1.0))
    out = user_activity_streaks(_ev(spark, rows)).collect()[0]
    assert out["n_streaks"] == 3
    assert out["n_active_days"] == 6
    assert out["max_streak_days"] == 3


def test_reservoir_sample_exact_k(spark):
    from breweries_etl_spark.operators.sampling import reservoir_sample_per_group

    df = spark.createDataFrame(
        [Row(g="a", k=i) for i in range(20)] + [Row(g="b", k=i) for i in range(3)]
    )
    out = reservoir_sample_per_group(df, "g", "k", k=5).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["k"])
    assert len(by_g["a"]) == 5          # exactly k
    assert sorted(by_g["b"]) == [0, 1, 2]  # min(k, n) for small groups
    # determinism: same input -> same picks
    again = reservoir_sample_per_group(df, "g", "k", k=5).collect()
    assert sorted((r["g"], r["k"]) for r in again) == sorted(
        (r["g"], r["k"]) for r in out
    )


def test_cusum_changepoint_planted_shift(spark):
    from breweries_etl_spark.operators.temporal import cusum_changepoint

    # 1 event/day for 5 days then 5/day for 5 days: the cusum of
    # deviations peaks (most negative) on the last low day (day index 4)
    rows = []
    for d in range(1, 6):
        rows.append((1, "e", f"2024-01-{d:02d} 01:00:00", 1.0))
    for d in range(6, 11):
        for i in range(5):
            rows.append((1, "e", f"2024-01-{d:02d} 0{i+1}:00:00", 1.0))
    out = cusum_changepoint(_ev(spark, rows)).collect()[0]
    day0 = out["changepoint_day"] - 4  # absolute epoch day of 2024-01-01
    assert out["n_days"] == 10
    # deviations scaled by n_days=10: low days contribute 1*10-30=-20 each
    assert out["peak_abs_cusum_scaled"] == 100
    assert out["peak_cusum"] == -10.0
    assert (out["changepoint_day"] - day0) == 4


def test_abc_classification_shares(spark):
    from breweries_etl_spark.operators.aggregate import abc_classification

    # values 80, 15, 4, 1 -> A={80}, B={15}, C={4, 1}
    df = spark.createDataFrame(
        [Row(k="p1", v=80.0), Row(k="p2", v=15.0), Row(k="p3", v=4.0), Row(k="p4", v=1.0)]
    )
    out = {r["abc_class"]: r for r in abc_classification(df, "k", "v").collect()}
    assert out["A"]["n_keys"] == 1 and out["A"]["class_value"] == 80.0
    assert out["B"]["n_keys"] == 1 and out["B"]["class_value"] == 15.0
    assert out["C"]["n_keys"] == 2 and out["C"]["class_value"] == 5.0


def test_maintain_join_aggregate_equals_full_recompute(spark):
    from breweries_etl_spark.operators.incremental import maintain_join_aggregate

    facts = spark.createDataFrame(
        [Row(fk=i % 4 + 1, v=float(i)) for i in range(20)]
    )
    dim = spark.createDataFrame(
        [Row(dk=i, grp="g" + str(i % 2)) for i in range(1, 5)]
    )
    base = facts.filter(F.col("v") < 15)
    delta = facts.filter(F.col("v") >= 15)
    maintained = {
        r["grp"]: (r["n_rows"], r["total_value"])
        for r in maintain_join_aggregate(
            base, delta, dim, "fk", "dk", "grp", "v"
        ).collect()
    }
    full = {
        r["grp"]: (r["n"], r["t"])
        for r in facts.join(dim, facts.fk == dim.dk)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("t"),
        )
        .collect()
    }
    assert maintained == full


def test_bpe_pair_counts_hand_corpus(spark):
    from breweries_etl_spark.operators.text import bpe_pair_counts

    docs = spark.createDataFrame([Row(doc_id=1, text="abab ab"), Row(doc_id=2, text="Ba!")])
    out = {r["pair"]: r["n"] for r in bpe_pair_counts(docs, k=10).collect()}
    # "abab": ab,ba,ab ; "ab": ab ; "ba": ba  -> ab:3, ba:2
    assert out == {"ab": 3, "ba": 2}


def test_hourly_coverage_gaps_planted_hole(spark):
    from breweries_etl_spark.operators.temporal import hourly_coverage_gaps

    ev = _ev(
        spark,
        [
            (1, "click", "2024-01-01 00:10:00", 1.0),
            (1, "click", "2024-01-01 02:10:00", 1.0),  # hour 1 missing
            (1, "view", "2024-01-01 01:10:00", 1.0),
        ],
    )
    out = {r["event_type"]: r for r in hourly_coverage_gaps(ev).collect()}
    assert out["click"]["total_hours"] == 3
    assert out["click"]["missing_hours"] == 1
    assert out["view"]["missing_hours"] == 2  # hours 0 and 2


def test_loo_target_encoding_excludes_self(spark):
    from breweries_etl_spark.operators.profiling import loo_target_encoding

    df = spark.createDataFrame(
        [Row(k=1, g="a", v=10.0), Row(k=2, g="a", v=20.0), Row(k=3, g="a", v=30.0),
         Row(k=4, g="b", v=7.0)]
    )
    out = {r["k"]: r["loo_mean"] for r in loo_target_encoding(df, "k", "g", "v").collect()}
    assert out[1] == 25.0 and out[2] == 20.0 and out[3] == 15.0
    assert out[4] is None  # singleton group


def test_mutual_information_extremes(spark):
    import math

    from breweries_etl_spark.operators.profiling import mutual_information

    # independent 2x2 uniform -> MI = 0
    indep = spark.createDataFrame(
        [Row(x=x, y=y) for x in "ab" for y in "cd" for _ in range(5)]
    )
    assert mutual_information(indep, "x", "y").collect()[0]["mi_nats"] == 0.0
    # perfectly dependent binary -> MI = ln(2)
    dep = spark.createDataFrame(
        [Row(x="a", y="c")] * 5 + [Row(x="b", y="d")] * 5
    )
    got = mutual_information(dep, "x", "y").collect()[0]["mi_nats"]
    assert abs(got - math.log(2)) < 1e-5


def test_chi2_drift_identical_mix_is_zero(spark):
    from breweries_etl_spark.operators.profiling import chi2_drift

    # same type mix on an even day (01-02) and an odd day (01-01 epoch
    # day 19723 odd? parity differs between the two days is all that
    # matters) -> expected == observed -> chi2 = 0
    rows = []
    for day in ("2024-01-01", "2024-01-02"):
        rows += [(1, "click", f"{day} 01:00:00", 1.0)] * 3
        rows += [(1, "view", f"{day} 02:00:00", 1.0)] * 2
    out = chi2_drift(_ev(spark, rows)).collect()[0]
    assert out["chi2"] == 0.0
    assert out["n_events"] == 10


def test_lateness_profile_detects_out_of_order(spark):
    from breweries_etl_spark.operators.temporal import lateness_profile

    # arrival order (event_id): ts goes 10:00, 09:00 (1h late), 11:00
    ev = _ev(
        spark,
        [
            (1, "click", "2024-01-01 10:00:00", 1.0),
            (1, "click", "2024-01-01 09:00:00", 1.0),
            (1, "click", "2024-01-01 11:00:00", 1.0),
        ],
    )
    r = lateness_profile(ev).collect()[0]
    assert r["n_late"] == 1
    assert r["max_lateness_us"] == 3600 * 1_000_000
    assert r["late_share"] == round(1 / 3, 6)


def test_week_over_week_change(spark):
    from breweries_etl_spark.operators.temporal import week_over_week_change

    rows = []
    for d in range(1, 8):
        rows.append((1, "click", f"2024-01-{d:02d} 12:00:00", 1.0))  # wk A: 7
    for d in range(8, 15):
        rows += [(1, "click", f"2024-01-{d:02d} 12:00:00", 1.0)] * 2  # wk B: 14
    out = sorted(
        week_over_week_change(_ev(spark, rows)).collect(), key=lambda r: r["week"]
    )
    # epoch-week boundaries need not align with Jan 1; assert on the
    # totals and that exactly the first observed week has NULL change
    assert sum(r["n_events"] for r in out) == 21
    assert out[0]["pct_change"] is None
    assert all(r["pct_change"] is not None for r in out[1:])


def test_numeric_corr_matrix_known_values(spark):
    from breweries_etl_spark.operators.profiling import numeric_corr_matrix

    df = spark.createDataFrame(
        [Row(a=float(x), b=2.0 * x + 1, c=-1.0 * x, d=5.0) for x in range(10)]
    )
    out = {(r["col_a"], r["col_b"]): r["corr"]
           for r in numeric_corr_matrix(df, ["a", "b", "c", "d"]).collect()}
    assert out[("a", "b")] == 1.0       # perfect positive
    assert out[("a", "c")] == -1.0      # perfect negative
    assert out[("a", "d")] is None      # constant column -> NULL
    assert len(out) == 6


def test_cohort_ltv_accumulates(spark):
    from breweries_etl_spark.operators.behavior import cohort_ltv

    # two users in one cohort week; revenue 10 at age 0, 20 at age 1
    rows = [
        (1, "buy", "2024-01-01 00:00:00", 4.0),
        (2, "buy", "2024-01-02 00:00:00", 6.0),
        (1, "buy", "2024-01-09 00:00:00", 20.0),
    ]
    out = sorted(cohort_ltv(_ev(spark, rows)).collect(), key=lambda r: r["age_weeks"])
    assert [r["age_weeks"] for r in out] == [0, 1]
    assert out[0]["revenue"] == 10.0 and out[0]["n_active_users"] == 2
    assert out[1]["cum_revenue_per_member"] == 15.0  # (10+20)/2


def test_shipping_sla_report_exact_days(spark):
    from breweries_etl_spark.operators.profiling import shipping_sla_report

    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_orderdate="2024-01-01 00:00:00", o_orderpriority="1-URGENT")]
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    lineitem = spark.createDataFrame(
        [Row(l_orderkey=1, l_shipdate=d) for d in
         ("2024-01-03 00:00:00", "2024-01-11 00:00:00", "2024-05-01 00:00:00")]
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    r = shipping_sla_report(orders, lineitem).collect()[0]
    assert r["n_lines"] == 3
    assert r["p50_days"] == 10
    assert r["max_days"] == 121
    assert r["late_share"] == round(1 / 3, 6)


def test_frequent_item_pairs_support_and_lift(spark):
    from breweries_etl_spark.functions import lifecycle
    from breweries_etl_spark.operators.aggregate import frequent_item_pairs

    # 4 baskets: {x,y} {x,y} {x} {y,z} -> (x,y): n_both=2, support=.5,
    # lift = .5/(.75*.75); (y,z) below min_count=2
    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (4, "y"), (4, "z")]
    df = spark.createDataFrame([Row(b=b, i=i) for b, i in rows])
    pairs = frequent_item_pairs(df, "b", "i", min_count=2)
    out = pairs.collect()
    lifecycle.release(pairs)
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["n_both"]) == ("x", "y", 2)
    assert r["support"] == 0.5
    assert r["lift"] == round(0.5 / (0.75 * 0.75), 6)


def test_user_feature_store_composition(spark):
    from breweries_etl_spark.operators.features import user_feature_store

    ev = _ev(
        spark,
        [
            (1, "click", "2024-01-01 00:00:00", 10.0),
            (1, "click", "2024-01-01 00:10:00", 2.0),
            (1, "view", "2024-01-02 03:00:00", 5.0),
        ],
    )
    r = user_feature_store(ev).collect()[0]
    assert r["n_events"] == 3 and r["total_value"] == 17.0
    assert r["n_sessions"] == 2
    assert r["n_active_days"] == 2 and r["max_streak_days"] == 2
    assert r["top_event_type"] == "click"
    assert r["last_day"] - r["first_day"] == 1
    assert r["twap"] is not None


def test_psi_identical_distributions_zero(spark):
    from breweries_etl_spark.operators.profiling import psi_value_drift

    # same values on an even and an odd day -> every used bin has
    # p_a == p_b -> PSI 0
    rows = []
    for day in ("2024-01-01", "2024-01-02"):
        for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]):
            rows.append((1, "e", f"{day} 00:{i:02d}:00", v))
    r = psi_value_drift(_ev(spark, rows)).collect()[0]
    assert r["psi"] == 0.0
    assert r["n_bins_used"] >= 5


def test_decayed_type_popularity_halves_per_week(spark):
    from breweries_etl_spark.operators.temporal import decayed_type_popularity

    rows = [
        (1, "new", "2024-01-15 00:00:00", 1.0),   # age 0 -> weight 1
        (1, "old", "2024-01-08 00:00:00", 1.0),   # age 7 -> weight 0.5
        (1, "older", "2024-01-01 00:00:00", 1.0), # age 14 -> weight 0.25
    ]
    out = {r["event_type"]: r["decayed_count"]
           for r in decayed_type_popularity(_ev(spark, rows)).collect()}
    assert out == {"new": 1.0, "old": 0.5, "older": 0.25}
