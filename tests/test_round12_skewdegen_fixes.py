"""Pin the 8 latent bugs the new STANDING skew⊕degen axis caught in
its first sf0.01-scale sweep (r12): hot-key groups that are
simultaneously NULL-ridden reach paths none of the four independent
axes exercised.

1. merge_aggregate_state: sum-monoid coalesced two NULL states to 0,
   diverging incremental from batch (SUM over all-NULL = NULL).
2/3. winsorized_stats / robust_scale_stats: all-NULL group → NULL clip
   bounds/med/mad → the tally summed NULL comparisons to NULL where
   the SQL twin's CASE…ELSE 0 gives 0.
4/5. mantel_haenszel_or / breslow_day: an empty stratum (every row's
   predicate NULL) divided by n_k = 0 → ANSI DIVIDE_BY_ZERO crash;
   now a NULL term the fold skips (DuckDB's div-by-zero→NULL).
6. cms_heavy_hitters: equality semi-join dropped a HEAVY NULL-key
   group that SQL GROUP BY keeps.
7. wilson_ci_by_group: at p̂ = 0 the bound is exactly 0 but the float
   lands at ±ε and round keeps the sign → 0.0 vs −0.0 across engines;
   normalized with + 0.0.
8. decision_stump: round(sse, 6) at Σy² magnitudes crosses the double
   tie grid (|x|·1e6 spacing 0.5) where DuckDB half-away diverges from
   Spark's exact BigDecimal; replaced with 2-dp floor fixed point.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F


def test_merge_sum_keeps_null_when_both_states_null(spark):
    from breweries_etl_spark.operators.incremental import (
        merge_aggregate_state,
    )

    base = spark.createDataFrame(
        [("k1", 2, None), ("k2", 1, Decimal("5.00"))],
        "k string, n long, rev decimal(14,2)",
    )
    delta = spark.createDataFrame(
        [("k1", 1, None), ("k3", 1, None)],
        "k string, n long, rev decimal(14,2)",
    )
    out = {
        r["k"]: (r["n"], r["rev"])
        for r in merge_aggregate_state(
            base, delta, ["k"], {"n": "sum", "rev": "sum"}
        ).collect()
    }
    assert out["k1"] == (3, None)  # both NULL -> NULL, not 0
    assert out["k2"] == (1, Decimal("5.00"))
    assert out["k3"] == (1, None)  # absent base + NULL delta -> NULL


def test_winsorized_all_null_group_counts_zero(spark):
    from breweries_etl_spark.operators.profiling import winsorized_stats

    df = spark.createDataFrame(
        [("g1", 1.0), ("g1", 2.0), ("g1", 3.0), ("gx", None), ("gx", None)],
        "g string, v double",
    )
    out = {r["g"]: r for r in winsorized_stats(df, "v", "g").collect()}
    gx = out["gx"]
    assert gx["p_lo"] is None and gx["p_hi"] is None
    assert gx["n_clipped_low"] == 0 and gx["n_clipped_high"] == 0


def test_robust_scale_all_null_group_counts_zero(spark):
    from breweries_etl_spark.functions import lifecycle
    from breweries_etl_spark.operators.profiling import robust_scale_stats

    df = spark.createDataFrame(
        [("g1", 1.0), ("g1", 2.0), ("g1", 50.0), ("gx", None)],
        "g string, v double",
    )
    stats = robust_scale_stats(df, "v", "g")
    out = {r["g"]: r for r in stats.collect()}
    lifecycle.release(stats)
    assert out["gx"]["mad"] is None
    assert out["gx"]["n_outliers"] == 0


def test_mantel_haenszel_empty_stratum_no_crash(spark):
    """A stratum whose every exposure/outcome predicate is NULL has all
    four cells 0 — previously ANSI DIVIDE_BY_ZERO; now it contributes
    nothing and the pooled OR over the healthy strata survives."""
    from breweries_etl_spark.operators.hypotests import mantel_haenszel_or

    rows = (
        [("s1", "E", "Y")] * 12 + [("s1", "E", "N")] * 3
        + [("s1", "C", "Y")] * 5 + [("s1", "C", "N")] * 10
        + [("sx", None, None)] * 4
    )
    df = spark.createDataFrame(rows, "s string, e string, y string")
    r = mantel_haenszel_or(
        df, "s", F.col("e") == "E", F.col("y") == "Y"
    ).collect()[0]
    assert r["k_strata"] == 2
    assert r["or_mh"] is not None and float(r["or_mh"]) == 8.0


def test_breslow_day_empty_stratum_no_crash(spark):
    from breweries_etl_spark.operators.hypotests import breslow_day

    rows = (
        [("s1", "E", "Y")] * 12 + [("s1", "E", "N")] * 3
        + [("s1", "C", "Y")] * 5 + [("s1", "C", "N")] * 10
        + [("s2", "E", "Y")] * 6 + [("s2", "E", "N")] * 6
        + [("s2", "C", "Y")] * 4 + [("s2", "C", "N")] * 9
        + [("sx", None, None)] * 4
    )
    df = spark.createDataFrame(rows, "s string, e string, y string")
    r = breslow_day(
        df, "s", F.col("e") == "E", F.col("y") == "Y"
    ).collect()[0]
    assert r["k_strata"] == 3
    assert r["or_mh"] is not None and r["bd_chi2"] is not None


def test_cms_null_key_heavy_group_survives(spark):
    from breweries_etl_spark.operators.profiling import cms_heavy_hitters

    rows = [("u1",)] * 100 + [(None,)] * 90 + [("u2",)] * 10
    df = spark.createDataFrame(rows, "k string")
    out = {
        r["k"]: r["cnt"]
        for r in cms_heavy_hitters(df, "k", threshold=75).collect()
    }
    assert out == {"u1": 100, None: 90}


def test_wilson_zero_rate_bound_is_positive_zero(spark):
    from breweries_etl_spark.operators.profiling import wilson_ci_by_group

    df = spark.createDataFrame([("g", 0)], "g string, s int")
    r = wilson_ci_by_group(df, "g", F.col("s") == 1).collect()[0]
    lo = float(r["ci_low"])
    assert lo == 0.0
    # repr distinguishes -0.0 — the actual regression
    assert repr(lo) == "0.0"


def test_decision_stump_sse_on_cent_grid(spark):
    """sse_reduction is now 2-dp fixed point — exactly representable
    on the cent grid and unchanged for the obvious-split fixture."""
    from breweries_etl_spark.operators.mltrain import decision_stump

    rows = [("g", 1, 10.0)] * 5 + [("g", 2, 100.0)] * 5
    df = spark.createDataFrame(rows, "grp string, x int, y double")
    r = decision_stump(df, "grp", "x", "y").collect()[0]
    assert r["threshold"] == 1
    assert float(r["sse_reduction"]) == 2 * 5 * 45.0**2
    assert (float(r["sse_reduction"]) * 100) == int(
        float(r["sse_reduction"]) * 100
    )
