"""Sortless hypothesis tests / concentration measures
(operators/hypotests.py): exact statistics from bucketed distributed
prefix counts — no global data-sized sort anywhere."""

from __future__ import annotations

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
