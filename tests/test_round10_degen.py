"""Round-10 degen-sweep regressions: NULL-path bugs found by running
the full Spark-vs-DuckDB registry compare on the adversarial dataset
(tools/make_degen.py) — NULL keys/values on paths the clean testdata
never exercises."""

from __future__ import annotations

from pyspark.sql import functions as F

from breweries_etl_spark.functions import lifecycle
from breweries_etl_spark.operators.aggregate import (
    skyline_2d,
    weighted_median,
)
from breweries_etl_spark.operators.asof import asof_join_backward
from breweries_etl_spark.operators.behavior import funnel_steps
from breweries_etl_spark.operators.hypotests import (
    grouped_value_prefix_counts,
)
from breweries_etl_spark.operators.incremental import merge_aggregate_state


def test_merge_aggregate_state_null_key_merges(spark):
    """A NULL grouping key must MERGE across increments, not fork into
    one fresh state row per delta (the USING-join never matched
    NULL = NULL)."""
    base = spark.createDataFrame(
        [(None, 2, 10.0), ("a", 1, 5.0)], "k string, n long, t double"
    )
    delta = spark.createDataFrame(
        [(None, 3, 7.0), ("b", 1, 1.0)], "k string, n long, t double"
    )
    out = merge_aggregate_state(base, delta, ["k"], {"n": "sum", "t": "sum"})
    rows = {r["k"]: (r["n"], r["t"]) for r in out.collect()}
    assert len(rows) == 3, f"NULL key forked: {sorted(rows)}"
    assert rows[None] == (5, 17.0)
    assert rows["a"] == (1, 5.0) and rows["b"] == (1, 1.0)


def test_asof_null_key_never_matches(spark):
    """Right rows with NULL key/ts can never match (SQL join
    semantics); left rows with NULL key/ts are kept with NULL payload."""
    left = spark.createDataFrame(
        [(1, 100, "p1"), (None, 100, "p2"), (1, None, "p3")],
        "u long, ts long, pid string",
    )
    right = spark.createDataFrame(
        [(1, 50, 9.0), (None, 10, 666.0), (2, None, 777.0)],
        "u long, ts long, v double",
    )
    out = asof_join_backward(
        left, right, by="u", on="ts", left_cols=["pid"], right_cols=["v"]
    )
    got = {r["pid"]: r["asof_v"] for r in out.collect()}
    assert got == {"p1": 9.0, "p2": None, "p3": None}, got


def test_funnel_excludes_null_user(spark):
    rows = [
        (1, "view", "2024-01-01 00:00:00"),
        (1, "click", "2024-01-01 01:00:00"),
        (None, "view", "2024-01-01 00:00:00"),
        (None, "click", "2024-01-01 01:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).select("user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
    r = funnel_steps(df).collect()[0]
    assert (r["n_step1"], r["n_step2"], r["n_step3"]) == (1, 1, 0)


def test_weighted_median_ignores_null_value_and_weight(spark):
    rows = [
        ("g", 1.0, 1.0),
        ("g", 2.0, 1.0),
        ("g", 3.0, 1.0),
        ("g", None, 100.0),  # NULL value: not a candidate, no mass
        ("g", 9.0, None),  # NULL weight: no mass
    ]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    r = weighted_median(df, "g", "v", "w").collect()[0]
    assert r["weighted_median"] == 2.0
    assert r["total_weight"] == 3.0


def test_skyline_ignores_null_coordinates(spark):
    rows = [(1.0, 5.0), (2.0, 9.0), (None, 100.0), (3.0, None)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = sorted(
        (r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect()
    )
    assert got == [(1.0, 5.0), (2.0, 9.0)], got


def test_prefix_counts_null_predicate_lands_in_group_b(spark):
    """A NULL group predicate maps to group B (the SQL CASE-ELSE),
    not to a NULL ca/cb that silently drops the value."""
    df = spark.createDataFrame(
        [("en", 5.0), (None, 5.0), (None, 7.0), ("de", 7.0)],
        "lang string, v double",
    )
    pc = grouped_value_prefix_counts(df, "v", F.col("lang") == "en")
    rows = {float(r["v"]): (r["ca"], r["cb"]) for r in pc.collect()}
    lifecycle.release(pc)
    assert rows == {5.0: (1, 1), 7.0: (0, 2)}, rows
