"""Round-3 continuation operators: bloom pre-filter join, CMS-verified
exact heavy hitters, Levenshtein near-dup pairs, winsorized stats."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from breweries_etl_spark.functions import lifecycle
from breweries_etl_spark.operators.bloomjoin import (
    bloom_prefilter,
    bloom_semi_join,
    build_bloom_bitmap,
)
from breweries_etl_spark.operators.dedup import edit_distance_pairs
from breweries_etl_spark.operators.profiling import (
    cms_heavy_hitters,
    winsorized_stats,
)
from breweries_etl_spark.sources.tables import load_table


# ---------------------------------------------------------------- bloom


def test_bloom_prefilter_no_false_negatives(spark):
    """Every key of the build side MUST pass the probe filter."""
    build = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    bitmap = build_bloom_bitmap(build, "k", n_bits=1 << 16, n_hashes=5)
    probe = spark.range(0, 3500).select(F.col("id").alias("k"))
    kept = bloom_prefilter(probe, "k", bitmap, n_bits=1 << 16, n_hashes=5)
    kept_ids = {r["k"] for r in kept.collect()}
    assert {i * 7 for i in range(500)} <= kept_ids


def test_bloom_prefilter_prunes_most_nonmembers(spark):
    """With sane sizing the filter actually filters (fp rate ≪ 50%)."""
    build = spark.range(0, 200).select(F.col("id").alias("k"))
    bitmap = build_bloom_bitmap(build, "k", n_bits=1 << 16, n_hashes=5)
    probe = spark.range(10_000, 30_000).select(F.col("id").alias("k"))
    n_pass = bloom_prefilter(
        probe, "k", bitmap, n_bits=1 << 16, n_hashes=5
    ).count()
    assert n_pass < 2000  # 20k true negatives, expect ~0 at this sizing


def test_bloom_semi_join_equals_plain_semi_join(spark, sf_dir):
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    )
    got = bloom_semi_join(
        lineitem, orders, "l_orderkey", "o_orderkey", n_bits=1 << 16
    )
    want = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"], "left_semi"
    )
    assert got.count() == want.count()
    assert (
        got.select("l_orderkey", "l_linenumber")
        .exceptAll(want.select("l_orderkey", "l_linenumber"))
        .isEmpty()
    )


# ------------------------------------------------------------------ cms


def test_cms_heavy_hitters_exact(spark):
    rows = [("hot", None)] * 120 + [("warm", None)] * 60 + [
        (f"cold{i}", None) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k string, pad string")
    got = {
        r["k"]: r["cnt"]
        for r in cms_heavy_hitters(df, "k", threshold=50, width=64).collect()
    }
    assert got == {"hot": 120, "warm": 60}


def test_cms_heavy_hitters_matches_direct_groupby(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    got = cms_heavy_hitters(events, "user_id", threshold=5)
    want = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


# ---------------------------------------------------------- levenshtein


def test_edit_distance_pairs_finds_planted_neardups(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "a"),
            (2, "the quick brown fox jumps over the lazy cat", "a"),  # d=3
            (3, "a completely different document body here!!", "a"),
            (4, "the quick brown fox jumps over the lazy dog", "b"),  # other block
        ],
        "doc_id long, text string, source string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(docs, max_dist=4, bucket_width=8).collect()
    }
    assert pairs == {(1, 2): 3}  # (1,4) blocked apart by source; 3 too far


def test_edit_distance_pairs_blocking_is_lossless(spark):
    """Bucket blocking must find the same pairs as the brute-force
    quadratic join (within the same block column)."""
    docs = spark.createDataFrame(
        [(i, "x" * (20 + i % 7) + "abc"[: i % 3], "s") for i in range(40)],
        "doc_id long, text string, source string",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in edit_distance_pairs(docs, max_dist=6, bucket_width=8).collect()
    }
    a, b = docs.alias("a"), docs.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.levenshtein(F.col("a.text"), F.col("b.text")).alias("d"),
        )
        .filter(F.col("d") <= 6)
    )
    want = {(r["id_a"], r["id_b"]) for r in brute.collect()}
    assert got == want


def test_edit_distance_rejects_narrow_buckets(spark):
    docs = spark.createDataFrame(
        [(1, "abc", "s")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError, match="bucket_width"):
        edit_distance_pairs(docs, max_dist=16, bucket_width=8)


# ------------------------------------------------------------ winsorize


def test_winsorized_stats_clips_at_disc_percentiles(spark):
    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 101)], "g string, v double"
    )
    row = winsorized_stats(df, "v", "g", lo_p=0.05, hi_p=0.95).collect()[0]
    assert float(row["p_lo"]) == 5.0 and float(row["p_hi"]) == 95.0
    assert row["n_clipped_low"] == 4 and row["n_clipped_high"] == 5
    # sum: 4 rows clipped up to 5, 5 rows clipped down to 95
    expected = sum(min(95, max(5, v)) for v in range(1, 101))
    assert float(row["sum_clipped"]) == float(expected)


# ----------------------------------------------------------- containment


def test_containment_catches_subset_doc(spark):
    from breweries_etl_spark.operators.dedup import containment_pairs

    filler = " ".join(f"x{i}" for i in range(100))
    sub = "alpha beta gamma delta epsilon zeta eta theta"
    big = filler + " " + sub  # sub embedded verbatim at the end
    docs = spark.createDataFrame(
        [(1, big), (2, sub), (3, "totally different words here entirely")],
        "doc_id long, text string",
    )
    pairs = containment_pairs(docs, threshold=0.9)
    rows = pairs.collect()
    lifecycle.release(pairs)
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    r = rows[0]
    # every shingle of the subset doc appears in the big doc
    assert float(r["containment_ba"]) == 1.0
    assert float(r["containment_ab"]) < 0.5  # big doc is NOT inside sub


def test_containment_vs_jaccard_asymmetry(spark):
    """The pair found by containment must be invisible to Jaccard at the
    same bar — that asymmetry is the operator's reason to exist."""
    from breweries_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    big = " ".join(f"w{i}" for i in range(120))
    sub = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, big), (2, sub)], "doc_id long, text string"
    )
    cont_df = containment_pairs(docs, threshold=0.9)
    jac_df = ngram_jaccard_pairs(docs, threshold=0.5)
    cont, jac = cont_df.collect(), jac_df.collect()
    lifecycle.release(cont_df)
    lifecycle.release(jac_df)
    assert len(cont) == 1 and len(jac) == 0


# ---------------------------------------------------------- robust scale


def test_robust_scale_stats_median_mad(spark):
    from breweries_etl_spark.operators.profiling import robust_scale_stats

    vals = [10.0] * 5 + [12.0] * 5 + [1000.0]  # one wild outlier
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    stats = robust_scale_stats(df, "v", "g", z_cut=3.0)
    row = stats.collect()[0]
    lifecycle.release(stats)
    # percentile_disc(0.5) picks the 6th of 11 sorted values
    assert float(row["med"]) == 12.0
    # deviations sorted: 0 x5, 2 x5, 988 -> disc median = 6th = 2
    assert float(row["mad"]) == 2.0
    assert row["n_outliers"] == 1  # only the wild 1000 exceeds 3*mad
    assert row["n"] == 11


def test_robust_scale_flags_outlier_when_mad_positive(spark):
    from breweries_etl_spark.operators.profiling import robust_scale_stats

    vals = [float(v) for v in range(1, 12)] + [500.0]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    stats = robust_scale_stats(df, "v", "g", z_cut=3.0)
    row = stats.collect()[0]
    lifecycle.release(stats)
    med, mad = float(row["med"]), float(row["mad"])
    expected = sum(1 for v in vals if abs(v - med) > 3.0 * mad)
    assert row["n_outliers"] == expected and row["n_outliers"] >= 1


# ------------------------------------------------- rolling / downsample


def test_rolling_time_window_trailing_hour(spark):
    from breweries_etl_spark.operators.temporal import rolling_time_window

    rows = [
        (1, 100, "2024-01-01 10:00:00", 1.0),
        (2, 100, "2024-01-01 10:30:00", 2.0),
        (3, 100, "2024-01-01 11:00:00", 4.0),   # 10:00 still inside (inclusive)
        (4, 100, "2024-01-01 12:30:00", 8.0),   # everything else aged out
        (5, 200, "2024-01-01 10:30:00", 16.0),  # other key untouched
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["event_id"]: (r["n_trailing"], float(r["sum_trailing"]))
        for r in rolling_time_window(df).collect()
    }
    assert got == {
        1: (1, 1.0),
        2: (2, 3.0),
        3: (3, 7.0),
        4: (1, 8.0),
        5: (1, 16.0),
    }


def test_rolling_time_window_ties_are_peers(spark):
    from breweries_etl_spark.operators.temporal import rolling_time_window

    rows = [
        (1, 1, "2024-01-01 10:00:00", 1.0),
        (2, 1, "2024-01-01 10:00:00", 2.0),  # same instant: RANGE peers
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r["event_id"]: r["n_trailing"] for r in rolling_time_window(df).collect()}
    assert got == {1: 2, 2: 2}  # both see both — deterministic under ties


def test_downsample_keeps_earliest_per_bucket(spark):
    from breweries_etl_spark.operators.temporal import (
        downsample_first_per_bucket,
    )

    rows = [
        (10, 1, "2024-01-01 10:00:05"),
        (11, 1, "2024-01-01 10:00:40"),  # same minute -> dropped
        (12, 1, "2024-01-01 10:01:10"),  # next minute kept
        (13, 2, "2024-01-01 10:00:59"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r["user_id"], r["bucket"]): (r["event_id"], r["n_dropped"])
        for r in downsample_first_per_bucket(df).collect()
    }
    assert len(got) == 3
    kept = {v[0] for v in got.values()}
    assert kept == {10, 12, 13}
    assert sum(v[1] for v in got.values()) == 1  # exactly one row dropped


def test_curriculum_buckets_equal_stages(spark):
    from breweries_etl_spark.operators.corpus import curriculum_buckets

    docs = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 9)], "doc_id long, n_chars long"
    )
    rows = {r["stage"]: r for r in curriculum_buckets(docs, n_stages=4).collect()}
    assert [rows[s]["n_docs"] for s in (1, 2, 3, 4)] == [2, 2, 2, 2]
    assert rows[1]["min_score"] == 10 and rows[4]["max_score"] == 80
    assert float(rows[1]["mean_score"]) == 15.0


# -------------------------------------------------- cdc / snapshot diff


def test_cdc_apply_out_of_order_and_delete(spark):
    from breweries_etl_spark.operators.merge import cdc_apply

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, payload string"
    )
    # arrives out of order: stale v1 for key 1 AFTER v2; delete for key 2;
    # insert for key 9
    chg = spark.createDataFrame(
        [
            (1, 2, "U", "a2"),
            (1, 1, "U", "a1-stale"),
            (2, 1, "D", "b"),
            (9, 1, "I", "new"),
        ],
        "k long, version long, op string, payload string",
    )
    got = {r["k"]: r["payload"] for r in cdc_apply(base, chg, "k").collect()}
    assert got == {1: "a2", 3: "c", 9: "new"}


def test_cdc_apply_is_order_independent(spark):
    from breweries_etl_spark.operators.merge import cdc_apply

    base = spark.createDataFrame([(1, "x")], "k long, payload string")
    rows = [(1, v, "U", f"p{v}") for v in (3, 1, 2)]
    fwd = spark.createDataFrame(rows, "k long, version long, op string, payload string")
    rev = spark.createDataFrame(rows[::-1], "k long, version long, op string, payload string")
    a = cdc_apply(base, fwd, "k").collect()
    b = cdc_apply(base, rev, "k").collect()
    assert a == b and a[0]["payload"] == "p3"


def test_snapshot_diff_classifies(spark):
    from breweries_etl_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, payload string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "k long, payload string"
    )
    got = {r["status"]: r["n_keys"] for r in snapshot_diff(old, new, "k").collect()}
    assert got == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}


def test_snapshot_diff_null_payloads_differ_from_sentinel(spark):
    from breweries_etl_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame([(1, None)], "k long, payload string")
    new = spark.createDataFrame([(1, "\x00")], "k long, payload string")
    got = {r["status"]: r["n_keys"] for r in snapshot_diff(old, new, "k").collect()}
    assert got == {"changed": 1}
