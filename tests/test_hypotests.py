"""Sortless hypothesis tests / concentration measures
(operators/hypotests.py): exact statistics from bucketed distributed
prefix counts — no global data-sized sort anywhere."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _two_group_df(spark, a_vals, b_vals, n_parts=7):
    rows = [(float(v), "A") for v in a_vals] + [(float(v), "B") for v in b_vals]
    return spark.createDataFrame(rows, schema="v double, g string").repartition(
        n_parts
    )


def test_prefix_counts_match_sorted_cumulative(spark):
    import random

    from breweries_etl_spark.operators.hypotests import (
        grouped_value_prefix_counts,
    )

    rng = random.Random(7)
    a = [rng.randint(0, 30) for _ in range(200)]
    b = [rng.randint(10, 40) for _ in range(150)]
    df = _two_group_df(spark, a, b)
    try:
        pc = grouped_value_prefix_counts(df, "v", F.col("g") == "A", n_buckets=8)
        got = {r["v"]: (r["cum_a"], r["cum_b"]) for r in pc.collect()}
        for v, (ca, cb) in got.items():
            assert ca == sum(1 for x in a if x <= v)
            assert cb == sum(1 for x in b if x <= v)
    finally:
        spark.catalog.clearCache()


def test_ks_disjoint_and_identical(spark):
    from breweries_etl_spark.operators.hypotests import ks_test_2samp

    disjoint = _two_group_df(spark, [1, 2, 3], [4, 5, 6])
    r = ks_test_2samp(disjoint, "v", F.col("g") == "A", n_buckets=4).collect()[0]
    assert r["n_a"] == 3 and r["n_b"] == 3
    assert r["ks_stat"] == 1.0

    same = _two_group_df(spark, [1, 2, 3, 4], [1, 2, 3, 4])
    r = ks_test_2samp(same, "v", F.col("g") == "A", n_buckets=4).collect()[0]
    assert r["ks_stat"] == 0.0


def test_mann_whitney_known_value(spark):
    from breweries_etl_spark.operators.hypotests import mann_whitney_u

    # A entirely above B: U = n_a*n_b = 4; no ties, n = 4:
    # mean = 2, var = (2*2/12)*(4+1) = 5/3, z = 2/sqrt(5/3) = 1.549193
    df = _two_group_df(spark, [3, 4], [1, 2])
    r = mann_whitney_u(df, "v", F.col("g") == "A", n_buckets=2).collect()[0]
    assert r["u_stat"] == 4.0
    assert abs(r["z_score"] - 1.549193) < 1e-6

    # symmetric: A entirely below B -> U = 0, z negated
    df = _two_group_df(spark, [1, 2], [3, 4])
    r = mann_whitney_u(df, "v", F.col("g") == "A", n_buckets=2).collect()[0]
    assert r["u_stat"] == 0.0
    assert abs(r["z_score"] + 1.549193) < 1e-6


def test_mann_whitney_all_tied_null_z(spark):
    from breweries_etl_spark.operators.hypotests import mann_whitney_u

    # every observation identical: U = n_a*n_b/2 exactly, variance 0
    df = _two_group_df(spark, [5, 5, 5], [5, 5])
    r = mann_whitney_u(df, "v", F.col("g") == "A", n_buckets=2).collect()[0]
    assert r["u_stat"] == 3.0
    assert r["z_score"] is None


def test_gini_uniform_and_total_concentration(spark):
    from breweries_etl_spark.operators.hypotests import gini_concentration

    uniform = spark.createDataFrame(
        [(k, 25.0) for k in range(1, 5)], schema="k long, x double"
    )
    r = gini_concentration(uniform, "k", "x").collect()[0]
    assert r["n_keys"] == 4
    assert r["gini"] == 0.0
    assert r["hhi"] == 0.25

    concentrated = spark.createDataFrame(
        [(1, 100.0), (2, 0.0), (3, 0.0), (4, 0.0)], schema="k long, x double"
    )
    r = gini_concentration(concentrated, "k", "x").collect()[0]
    # max inequality with n=4: (n-1)/n = 0.75; HHI = 1
    assert r["gini"] == 0.75
    assert r["hhi"] == 1.0


def test_gini_aggregates_multiple_rows_per_key(spark):
    from breweries_etl_spark.operators.hypotests import gini_concentration

    # two rows per key summing to the uniform case above
    df = spark.createDataFrame(
        [(k, 10.0) for k in range(1, 5)] + [(k, 15.0) for k in range(1, 5)],
        schema="k long, x double",
    )
    r = gini_concentration(df, "k", "x").collect()[0]
    assert r["gini"] == 0.0 and r["total_value"] == 100.0


def test_no_leaked_caches_after_release(spark):
    from breweries_etl_spark.operators.hypotests import ks_test_2samp

    df = _two_group_df(spark, [1, 2, 3], [4, 5, 6])
    ks_test_2samp(df, "v", F.col("g") == "A", n_buckets=4).collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_global_ecdf_matches_python(spark):
    from breweries_etl_spark.operators.hypotests import global_ecdf

    data = [1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 10.0]
    df = spark.createDataFrame([(v,) for v in data], schema="x double").repartition(5)
    rows = {r["v"]: r for r in global_ecdf(df, "x", n_buckets=4).collect()}
    n = len(data)
    for v in set(data):
        below = sum(1 for x in data if x <= v)
        strictly_below = sum(1 for x in data if x < v)
        r = rows[v]
        assert r["n_rows"] == data.count(v)
        assert r["cum_n"] == below
        assert abs(r["ecdf"] - round(below / n, 6)) < 1e-9
        assert abs(r["percent_rank"] - round(strictly_below / (n - 1), 6)) < 1e-9
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_theil_equality_and_concentration(spark):
    import math

    from breweries_etl_spark.operators.hypotests import theil_index

    uniform = spark.createDataFrame(
        [(k, 25.0) for k in range(1, 5)], schema="k long, x double"
    )
    r = theil_index(uniform, "k", "x").collect()[0]
    assert r["n_keys"] == 4 and r["theil_t"] == 0.0

    concentrated = spark.createDataFrame(
        [(1, 100.0), (2, 0.0), (3, 0.0), (4, 0.0)], schema="k long, x double"
    )
    r = theil_index(concentrated, "k", "x").collect()[0]
    # one key holds everything: T = ln(n) = ln 4
    assert abs(r["theil_t"] - math.log(4)) < 1e-5
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_lorenz_deciles_known_shares(spark):
    from breweries_etl_spark.operators.hypotests import lorenz_deciles

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], schema="k long, x double"
    )
    rows = sorted(lorenz_deciles(df, "k", "x").collect(), key=lambda r: r["decile"])
    # 4 keys -> positions 1..4 land in deciles 0,2,5,7
    assert [r["decile"] for r in rows] == [0, 2, 5, 7]
    assert [r["cum_pop_share"] for r in rows] == [0.25, 0.5, 0.75, 1.0]
    assert [r["cum_value_share"] for r in rows] == [0.1, 0.3, 0.6, 1.0]
    # curve must be convex-ish: value share <= pop share everywhere
    for r in rows:
        assert r["cum_value_share"] <= r["cum_pop_share"] + 1e-9
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_quantile_normalize_equalizes_marginals(spark):
    from breweries_etl_spark.operators.hypotests import quantile_normalize

    # group A uniform 1..10, group B uniform 101..110: after mapping to
    # the pooled decile grid, both groups' normalized multisets must be
    # IDENTICAL (that is the definition of quantile normalization)
    rows = [("A", float(v)) for v in range(1, 11)] + [
        ("B", float(v)) for v in range(101, 111)
    ]
    df = spark.createDataFrame(rows, schema="g string, x double").repartition(5)
    out = quantile_normalize(df, "g", "x", n_grid=10, n_buckets=4).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["g"], []).append((r["k"], r["normalized"]))
    assert sorted(by_group["A"]) == sorted(by_group["B"])
    # each group spans all 10 grid points exactly once
    assert sorted(k for k, _ in by_group["A"]) == list(range(1, 11))
    # pooled deciles: k-th point is the ceil(k*20/10)-th smallest pooled
    # value -> k=1 -> 2nd smallest = 2.0; k=10 -> 20th = 110.0
    grid = dict(by_group["A"])
    assert grid[1] == 2.0 and grid[10] == 110.0
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_pinball_loss_past_group_cap_matches_collected_path(spark, monkeypatch):
    """Past PINBALL_MAX_COLLECT_GROUPS the k-row percentile relation
    stays in the plan instead of on the driver; the rows are the same."""
    from breweries_etl_spark.operators import hypotests

    rows = [(g, float(v)) for g in ("a", "b", "c") for v in range(1, 6 + ord(g) % 5)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(3)

    def plan(out):
        return out._jdf.queryExecution().optimizedPlan().toString()

    default = hypotests.pinball_loss(df, "g", "v")
    assert "percentile_disc" not in plan(default)  # the groups came back as rows
    collected = sorted(default.collect())
    monkeypatch.setattr(hypotests, "PINBALL_MAX_COLLECT_GROUPS", 1)
    planned = hypotests.pinball_loss(df, "g", "v")
    assert "percentile_disc" in plan(planned)
    assert sorted(planned.collect()) == collected
    assert {r["k_groups"] for r in collected} == {3}


# Degenerate inputs for the two-sample tests built on the prefix-count
# primitive: no rows, one group only, every value tied, and a NULL value
# plus NULL groups (a NULL group counts as group B). The B-only frame
# runs for the operators that divide by both group sizes.
_DEGENERATE_FRAMES = {
    "empty": [],
    "only_a": [(v, "A") for v in (1.0, 2.0, 2.0, 3.0, 5.0, 8.0)],
    "only_b": [(v, "B") for v in (1.0, 2.0, 2.0, 3.0, 5.0, 8.0)],
    "all_tied": [(4.0, "A")] * 4 + [(4.0, "B")] * 3,
    "nulls": [
        (1.0, "A"), (3.0, "A"), (None, "A"), (7.0, "A"), (2.0, "B"),
        (3.0, "B"), (6.0, "B"), (5.0, None), (4.0, None),
    ],
}

# Exact output rows per operator and frame, sorted by repr. A one-sided
# frame gives NULL statistics where a statistic divides by the other
# group's size, as the DuckDB twins do.
_DEGENERATE_ROWS = {
    "ks_test_2samp": {
        "empty": [(None, None, None)],
        "only_a": [(6, 0, None)],
        "only_b": [(0, 6, None)],
        "all_tied": [(4, 3, 0.0)],
        "nulls": [(3, 5, 0.333333)],
    },
    "mann_whitney_u": {
        "empty": [(None, None, None, None)],
        "only_a": [(6, 0, 0.0, None)],
        "all_tied": [(4, 3, 6.0, None)],
        "nulls": [(3, 5, 6.5, -0.299933)],
    },
    "kuiper_test_2samp": {
        "empty": [(None, None, None, None, None)],
        "only_a": [(6, 0, None, None, None)],
        "only_b": [(0, 6, None, None, None)],
        "all_tied": [(4, 3, 0.0, 0.0, 0.0)],
        "nulls": [(3, 5, 0.333333, 0.333333, 0.666667)],
    },
    "cvm_test_2samp": {
        "empty": [(None, None, None)],
        "only_a": [(6, 0, None)],
        "only_b": [(0, 6, None)],
        "all_tied": [(4, 3, 0.0)],
        "nulls": [(3, 5, 0.094792)],
    },
    "anderson_darling_2samp": {
        "empty": [(None, None, None)],
        "only_a": [(6, 0, None)],
        "only_b": [(0, 6, None)],
        "all_tied": [(4, 3, None)],
        "nulls": [(3, 5, 0.658413)],
    },
    "wasserstein_1": {
        "empty": [(None, None, None)],
        "only_a": [(6, 0, None)],
        "all_tied": [(4, 3, 0.0)],
        "nulls": [(3, 5, 1.266667)],
    },
    "qq_fit": {
        "empty": [(None, None, 9, None, None, None)],
        "only_a": [(6, 0, 9, None, None, None)],
        "all_tied": [(4, 3, 9, None, None, None)],
        "nulls": [(3, 5, 9, 1.757143, -2.971429, 0.857653)],
    },
    "bws_test": {
        "empty": [(None, None, None, None, None)],
        "only_a": [(6, None, None, None, None)],
        "only_b": [(None, 6, None, None, None)],
        "all_tied": [(4, 3, 4.544891, 2.306878, 3.425885)],
        "nulls": [(3, 5, 0.706481, 0.401542, 0.554012)],
    },
    "cliffs_delta": {
        "empty": [(None, None, None, None, None)],
        "only_a": [(6, 0, 0, 0, None)],
        "all_tied": [(4, 3, 0, 0, 0.0)],
        "nulls": [(3, 5, 6, 8, -0.133333)],
    },
    "ansari_bradley": {
        "empty": [(None, None, None, None)],
        "only_a": [(6, 0, 12.0, None)],
        "all_tied": [(4, 3, 9.142857, None)],
        "nulls": [(3, 5, 5.5, -1.253766)],
    },
    "siegel_tukey": {
        "empty": [(None, None, None, None)],
        "only_a": [(6, 0, 21.0, None)],
        "all_tied": [(4, 3, 16.0, None)],
        "nulls": [(3, 5, 9.5, -1.262097)],
    },
    "conover_squared_ranks": {
        "empty": [(None, None, None, None)],
        "only_a": [(6, 0, 89.0, None)],
        "all_tied": [(4, 3, 64.0, None)],
        "nulls": [(3, 5, 117.0, 1.336285)],
    },
    "lepage_test": {
        "empty": [(None, None, None, None, None, None)],
        "only_a": [(6, 0, None, None, None, None)],
        "all_tied": [(4, 3, None, None, None, None)],
        "nulls": [(3, 5, -0.299933, -1.253766, 1.66189, 0.435637)],
    },
    "mood_dispersion": {
        "empty": [(None, None, None, None, None)],
        "only_a": [(6, 0, 0.472222, 0.472222, None)],
        "all_tied": [(4, 3, 0.0, 0.0, None)],
        "nulls": [(3, 5, 0.398438, 0.243164, 1.472249)],
    },
    "cucconi_test": {
        "empty": [(None, None, None, None, None)],
        "only_a": [(6, 0, None, None, None)],
        "only_b": [(0, 6, None, None, None)],
        "all_tied": [(4, 3, -0.691095, -0.691095, 5.333333)],
        "nulls": [(3, 5, 0.024254, 0.606339, 1.100694)],
    },
    "pr_curve_points": {
        "empty": [],
        "only_a": [
            (1, 1.0, 6, 6, 1.0, 1.0, 1.0),
            (2, 2.0, 5, 5, 1.0, 0.833333, 0.909091),
            (3, 2.0, 5, 5, 1.0, 0.833333, 0.909091),
            (4, 2.0, 5, 5, 1.0, 0.833333, 0.909091),
            (5, 2.0, 5, 5, 1.0, 0.833333, 0.909091),
            (6, 3.0, 3, 3, 1.0, 0.5, 0.666667),
            (7, 5.0, 2, 2, 1.0, 0.333333, 0.5),
            (8, 5.0, 2, 2, 1.0, 0.333333, 0.5),
            (9, 8.0, 1, 1, 1.0, 0.166667, 0.285714),
        ],
        "all_tied": [
            (1, 4.0, 7, 4, 0.571429, 1.0, 0.727273),
            (2, 4.0, 7, 4, 0.571429, 1.0, 0.727273),
            (3, 4.0, 7, 4, 0.571429, 1.0, 0.727273),
            (4, 4.0, 7, 4, 0.571429, 1.0, 0.727273),
            (5, 4.0, 7, 4, 0.571429, 1.0, 0.727273),
            (6, 4.0, 7, 4, 0.571429, 1.0, 0.727273),
            (7, 4.0, 7, 4, 0.571429, 1.0, 0.727273),
            (8, 4.0, 7, 4, 0.571429, 1.0, 0.727273),
            (9, 4.0, 7, 4, 0.571429, 1.0, 0.727273),
        ],
        "nulls": [
            (1, 1.0, 8, 3, 0.375, 1.0, 0.545455),
            (2, 2.0, 7, 2, 0.285714, 0.666667, 0.4),
            (3, 3.0, 6, 2, 0.333333, 0.666667, 0.444444),
            (4, 3.0, 6, 2, 0.333333, 0.666667, 0.444444),
            (5, 3.0, 6, 2, 0.333333, 0.666667, 0.444444),
            (6, 4.0, 4, 1, 0.25, 0.333333, 0.285714),
            (7, 5.0, 3, 1, 0.333333, 0.333333, 0.333333),
            (8, 6.0, 2, 1, 0.5, 0.333333, 0.4),
            (9, 7.0, 1, 1, 1.0, 0.333333, 0.5),
        ],
    },
    "average_precision": {
        "empty": [(None, None, None)],
        "only_a": [(6, 0, 1.0)],
        "all_tied": [(4, 3, 0.571429)],
        "nulls": [(3, 5, 0.569444)],
    },
    "youden_j": {
        "empty": [(None, None, None, None, None, None)],
        "only_a": [(6, 0, 1.0, 0.833333, None, None)],
        "all_tied": [(4, 3, 4.0, 0.0, 0.0, 0.0)],
        "nulls": [(3, 5, 6.0, 0.333333, 0.0, 0.333333)],
    },
}


@pytest.fixture(scope="module")
def degenerate_frames(spark):
    return {
        name: spark.createDataFrame(rows, schema="v double, g string")
        for name, rows in _DEGENERATE_FRAMES.items()
    }


@pytest.mark.parametrize(
    "op,frame",
    [(op, frame) for op, by_frame in _DEGENERATE_ROWS.items() for frame in by_frame],
)
def test_two_sample_degenerate_frames_exact_rows(degenerate_frames, op, frame):
    from breweries_etl_spark.operators import hypotests

    out = getattr(hypotests, op)(degenerate_frames[frame], "v", F.col("g") == "A")
    rows = sorted((tuple(r) for r in out.collect()), key=repr)
    assert rows == _DEGENERATE_ROWS[op][frame]
