"""Round-7 wave unit tests: known-value fixtures for the new
variance/rank/paired tests, classifier diagnostics, bootstrap,
daily-series decomposition, and graph/corpus additions."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F


def _days(vals, start=datetime.datetime(2024, 1, 1)):
    return [
        (start + datetime.timedelta(days=i), float(v))
        for i, v in enumerate(vals)
    ]


def test_bartlett_known_value(spark):
    """Two groups with clearly different spreads; replay the textbook
    formula in plain Python on the same cents-exact inputs."""
    from breweries_etl_spark.operators.hypotests import bartlett_test

    a = [10.0, 12.0, 11.0, 13.0, 9.0, 11.5]
    b = [5.0, 25.0, 1.0, 30.0, 12.0, 18.0]
    df = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in b], "g string, v double"
    )
    r = bartlett_test(df, "g", "v").collect()[0]
    groups = {"a": a, "b": b}
    n = sum(len(x) for x in groups.values())
    k = len(groups)
    var = {
        g: (sum(v * v for v in x) - sum(x) ** 2 / len(x)) / (len(x) - 1)
        for g, x in groups.items()
    }
    sp2 = sum((len(x) - 1) * var[g] for g, x in groups.items()) / (n - k)
    bb = (n - k) * math.log(sp2) - sum(
        (len(x) - 1) * math.log(var[g]) for g, x in groups.items()
    )
    cc = 1 + (sum(1 / (len(x) - 1) for x in groups.values()) - 1 / (n - k)) / (
        3 * (k - 1)
    )
    assert r["n"] == 12 and r["k_groups"] == 2
    # the pooled-SS floor(.*100) fixed point costs up to ~1e-2 on a
    # small-n SS, i.e. ~2e-4 on the statistic here; exact at scale
    assert r["bartlett_stat"] == pytest.approx(bb / cc, abs=1e-3)
    assert r["pooled_var"] == pytest.approx(sp2, rel=1e-3)


def test_bartlett_zero_variance_group_is_null(spark):
    from breweries_etl_spark.operators.hypotests import bartlett_test

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 2.0)],
        "g string, v double",
    )
    r = bartlett_test(df, "g", "v").collect()[0]
    assert r["bartlett_stat"] is None


def test_friedman_known_value(spark):
    """3 blocks, clear treatment ordering: scipy.stats.friedmanchisquare
    on the same table gives 6.0 (perfect ordering, n=3, k=3)."""
    from breweries_etl_spark.operators.hypotests import friedman_3

    df = spark.createDataFrame(
        [(1, 1.0, 2.0, 3.0), (2, 1.0, 2.0, 3.0), (3, 1.0, 2.0, 3.0)],
        "b long, xa double, xb double, xc double",
    )
    r = friedman_3(
        df, "b", F.col("xa"), F.col("xb"), F.col("xc")
    ).collect()[0]
    # ranks always (1,2,3): S = 2*rank sums = (6,12,18);
    # chi2 = (36+144+324)/(4*3) - 36 = 42 - 36 = 6
    assert r["n_blocks"] == 3
    assert (r["rank2_sum_a"], r["rank2_sum_b"], r["rank2_sum_c"]) == (6, 12, 18)
    assert r["friedman_chi2"] == pytest.approx(6.0)
    # ties: all equal -> every 2*rank = 2 + 0 + 2 = 4, chi2 = 0
    df2 = spark.createDataFrame(
        [(1, 5.0, 5.0, 5.0), (2, 7.0, 7.0, 7.0)],
        "b long, xa double, xb double, xc double",
    )
    r2 = friedman_3(
        df2, "b", F.col("xa"), F.col("xb"), F.col("xc")
    ).collect()[0]
    assert r2["rank2_sum_a"] == r2["rank2_sum_b"] == r2["rank2_sum_c"] == 8
    assert r2["friedman_chi2"] == pytest.approx(0.0)


def test_ansari_bradley_known_scores(spark):
    """n=5 distinct values: scores are 1,2,3,2,1; sample A holds the
    two extremes (scores 1+1=2). scipy.stats.ansari AB statistic for
    A=[1,9], B=[4,5,6] is 2.0."""
    from breweries_etl_spark.operators.hypotests import ansari_bradley

    df = spark.createDataFrame(
        [("A", 1.0), ("A", 9.0), ("B", 4.0), ("B", 5.0), ("B", 6.0)],
        "g string, v double",
    )
    r = ansari_bradley(df, "v", F.col("g") == "A").collect()[0]
    assert r["n_a"] == 2 and r["n_b"] == 3
    assert float(r["ab_stat"]) == pytest.approx(2.0)


def test_ansari_bradley_ties_average_scores(spark):
    """Tied block across the middle: scores average within the block.
    Values 1,2,2,3 -> positions 1..4, scores 1,2,2,1; the tied 2s
    occupy positions 2-3 with average score 2."""
    from breweries_etl_spark.operators.hypotests import ansari_bradley

    df = spark.createDataFrame(
        [("A", 2.0), ("B", 1.0), ("B", 2.0), ("B", 3.0)],
        "g string, v double",
    )
    r = ansari_bradley(df, "v", F.col("g") == "A").collect()[0]
    assert float(r["ab_stat"]) == pytest.approx(2.0)


def test_pr_curve_monotone_recall(spark):
    """Recall must fall (weakly) as the threshold decile rises, and
    precision/recall at each point must replay from raw counts."""
    from breweries_etl_spark.operators.hypotests import pr_curve_points

    rows = [(float(i), i >= 60) for i in range(100)]
    df = spark.createDataFrame(rows, "score double, pos boolean")
    out = (
        pr_curve_points(df, "score", F.col("pos"))
        .orderBy("decile")
        .collect()
    )
    assert len(out) == 9
    recalls = [r["recall"] for r in out]
    assert recalls == sorted(recalls, reverse=True)
    # decile 5: the exact lower quantile of scores 0..99 is v=49
    # (min v with 10*cum >= 5*100), so predicted-pos = scores >= 49
    # (51 rows), tp = 40 -> precision 40/51, recall 1.0
    d5 = [r for r in out if r["decile"] == 5][0]
    assert d5["n_pred_pos"] == 51 and d5["tp"] == 40
    assert d5["precision"] == pytest.approx(40 / 51, abs=1e-6)
    assert d5["recall"] == pytest.approx(1.0)


def test_brier_decomposition_perfect_and_flat(spark):
    from breweries_etl_spark.operators.hypotests import brier_decomposition

    # perfect forecasts: brier 0, reliability 0
    df = spark.createDataFrame(
        [(1.0, True)] * 5 + [(0.0, False)] * 5, "p double, y boolean"
    )
    r = brier_decomposition(df, F.col("p"), F.col("y")).collect()[0]
    assert r["brier"] == pytest.approx(0.0)
    assert r["reliability"] == pytest.approx(0.0)
    assert r["uncertainty"] == pytest.approx(0.25)
    # constant 0.5 on a 50/50 outcome: brier .25, resolution 0
    df2 = spark.createDataFrame(
        [(0.5, True)] * 5 + [(0.5, False)] * 5, "p double, y boolean"
    )
    r2 = brier_decomposition(df2, F.col("p"), F.col("y")).collect()[0]
    assert r2["brier"] == pytest.approx(0.25)
    assert r2["resolution"] == pytest.approx(0.0)


def test_seasonal_decompose_recovers_weekday_effect(spark):
    """Pure weekday signal, no trend: effects recover the pattern and
    strength is ~1."""
    from breweries_etl_spark.operators.temporal import (
        seasonal_decompose_weekday,
    )

    effects = [0.0, 10.0, 20.0, 30.0, 40.0, 50.0, 60.0]  # by dow
    rows = []
    start = datetime.datetime(2024, 1, 1)  # a Monday -> dow 0
    for i in range(70):
        ts = start + datetime.timedelta(days=i)
        dow = (i % 7)
        rows.append((ts, 100.0 + effects[dow]))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = seasonal_decompose_weekday(df).collect()[0]
    assert r["n_days"] == 70
    # not exactly 1: within-week day positions correlate with the
    # effect pattern, so the OLS trend absorbs a small tilt and the
    # constant-per-dow effects leave a tiny within-dow residual
    assert r["seasonal_strength"] > 0.95
    # effect differences match the injected pattern (effects are
    # residual means, so only differences are identified)
    diffs = [r[f"effect_{w}"] - r["effect_0"] for w in range(7)]
    for w in range(7):
        assert diffs[w] == pytest.approx(effects[w], abs=1.0)


def test_lagged_xcorr_detects_lagged_coupling(spark):
    """Value today = 10 * yesterday's event count, exactly."""
    from breweries_etl_spark.operators.temporal import lagged_xcorr_daily

    rows = []
    start = datetime.datetime(2024, 1, 1)
    counts = [1, 3, 2, 5, 4, 7, 6, 2, 8, 1]
    for i, c in enumerate(counts):
        day = start + datetime.timedelta(days=i)
        nxt = start + datetime.timedelta(days=i + 1)
        for j in range(c):
            rows.append((day + datetime.timedelta(minutes=j), 1.0))
        # next-day value rows summing to 10*c (single row)
        rows.append((nxt + datetime.timedelta(hours=12), 10.0 * c - 1.0))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = lagged_xcorr_daily(df).collect()[0]
    assert r["xcorr"] is not None
    assert r["xcorr"] > 0.9


def test_changepoint_binseg_finds_step(spark):
    from breweries_etl_spark.operators.temporal import (
        changepoint_binseg_daily,
    )

    vals = [10.0] * 15 + [50.0] * 15
    df = spark.createDataFrame(_days(vals), "ts timestamp, value double")
    r = changepoint_binseg_daily(df).collect()[0]
    d0 = int(
        datetime.datetime(
            2024, 1, 1, tzinfo=datetime.timezone.utc
        ).timestamp()
        // 86400
    )
    assert r["split_day"] == d0 + 14  # last day of the low regime
    assert r["sse_split"] == pytest.approx(0.0)
    assert r["gain"] == pytest.approx(float(r["sse_total"]), abs=0.05)


def test_theil_u_constant_series_is_zero(spark):
    from breweries_etl_spark.operators.temporal import theil_u_daily

    df = spark.createDataFrame(
        _days([42.0] * 10), "ts timestamp, value double"
    )
    r = theil_u_daily(df).collect()[0]
    assert r["n_pairs"] == 9
    assert r["theil_u"] == pytest.approx(0.0)


def test_partition_modularity_two_cliques(spark):
    """Two disjoint triangles with matching communities: classic
    Q = 1/2 for two equal modules with no cross edges."""
    from breweries_etl_spark.operators.graph import partition_modularity

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    comm = spark.createDataFrame(
        [(n, "x" if n <= 3 else "y") for n in range(1, 7)],
        "node long, comm string",
    )
    r = partition_modularity(df, comm).collect()[0]
    assert r["n_edges"] == 6 and r["n_communities"] == 2
    assert r["modularity"] == pytest.approx(0.5)
    # everything in ONE community: Q = 0 by construction
    comm1 = spark.createDataFrame(
        [(n, "z") for n in range(1, 7)], "node long, comm string"
    )
    r1 = partition_modularity(df, comm1).collect()[0]
    assert r1["modularity"] == pytest.approx(0.0)


def test_harmonic_centrality_path_graph(spark):
    """Path 1-2-3-4 from seed 1: H = 1/1 + 1/2 + 1/3."""
    from breweries_etl_spark.operators.graph import harmonic_centrality_from

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    r = harmonic_centrality_from(df, seeds).collect()[0]
    assert r["n_reached"] == 3 and r["max_level"] == 3
    assert r["harmonic_centrality"] == pytest.approx(1 + 0.5 + 1 / 3, abs=1e-5)


def test_pair_cosine_histogram_identical_vectors(spark):
    from breweries_etl_spark.operators.similarity import pair_cosine_histogram

    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    out = pair_cosine_histogram(df).collect()
    assert len(out) == 1
    assert out[0]["bin"] == 19 and out[0]["cnt"] == 4  # cosine 1 -> top bin


def test_source_char_ngram_cosine_identical_sources(spark):
    from breweries_etl_spark.operators.text import source_char_ngram_cosine

    df = spark.createDataFrame(
        [(1, "the quick brown fox", "a"), (2, "the quick brown fox", "b"),
         (3, "zzz yyy xxx www", "c")],
        "doc_id long, text string, source string",
    )
    rows = {
        (r["source_a"], r["source_b"]): r["cosine"]
        for r in source_char_ngram_cosine(df).collect()
    }
    assert rows[("a", "b")] == pytest.approx(1.0)
    assert ("a", "c") not in rows or rows[("a", "c")] < 0.2


def test_pii_density_counts(spark):
    from breweries_etl_spark.operators.text import pii_density_by_source

    df = spark.createDataFrame(
        [
            (1, "mail me at bob@example.com or +1 (555) 123-4567 now", "s1"),
            (2, "clean text with no pii at all", "s1"),
        ],
        "doc_id long, text string, source string",
    )
    r = pii_density_by_source(df).collect()[0]
    assert r["n_emails"] == 1 and r["n_phones"] == 1
    assert r["n_docs"] == 2


def test_token_budget_mix_shares_sum_to_one(spark):
    from breweries_etl_spark.operators.corpus import token_budget_mix

    df = spark.createDataFrame(
        [(i, "tok " * (10 * (i % 3 + 1)), f"s{i % 3}") for i in range(30)],
        "doc_id long, text string, source string",
    )
    out = token_budget_mix(df, 10_000).collect()
    assert len(out) == 3
    assert sum(r["share"] for r in out) == pytest.approx(1.0, abs=1e-4)
    for r in out:
        assert r["epochs"] <= 4.0
        assert r["alloc_tokens"] <= 4 * r["n_tokens"]


def test_bootstrap_mean_ci_brackets_mean(spark):
    from breweries_etl_spark.operators.sampling import bootstrap_mean_ci

    df = spark.createDataFrame(
        [(i, 100.0 + (i % 7)) for i in range(500)], "k long, v double"
    )
    r = bootstrap_mean_ci(df, "k", "v").collect()[0]
    assert r["n_rows"] == 500 and r["n_replicates"] == 32
    assert r["ci_lo"] <= r["mean_full"] <= r["ci_hi"]
    # low-variance data -> tight interval
    assert r["ci_hi"] - r["ci_lo"] < 2.0
    # determinism: same inputs, same interval
    r2 = bootstrap_mean_ci(df, "k", "v").collect()[0]
    assert (r["ci_lo"], r["ci_hi"]) == (r2["ci_lo"], r2["ci_hi"])


def test_poisson1_weights_distribution(spark):
    """Weight frequencies over many draws approximate Poisson(1):
    P(0) ~ .368, P(1) ~ .368, mean ~ 1."""
    from breweries_etl_spark.operators.sampling import poisson1_weight_expr

    df = spark.range(20000).select(
        poisson1_weight_expr(F.col("id"), F.lit(0)).alias("w")
    )
    rows = {r["w"]: r["c"] for r in df.groupBy("w").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    n = sum(rows.values())
    assert rows[0] / n == pytest.approx(0.3679, abs=0.02)
    assert rows[1] / n == pytest.approx(0.3679, abs=0.02)
    mean = sum(k * v for k, v in rows.items()) / n
    assert mean == pytest.approx(1.0, abs=0.05)


def test_average_precision_perfect_ranking(spark):
    """All positives outscore all negatives: AP = 1. Reversed: AP =
    n_pos-weighted harmonic-ish sum < 0.5."""
    from breweries_etl_spark.operators.hypotests import average_precision

    rows = [(float(i), i >= 50) for i in range(100)]
    df = spark.createDataFrame(rows, "score double, pos boolean")
    r = average_precision(df, "score", F.col("pos")).collect()[0]
    assert r["n_pos"] == 50 and r["n_neg"] == 50
    assert r["average_precision"] == pytest.approx(1.0)
    rev = spark.createDataFrame(
        [(float(i), i < 50) for i in range(100)], "score double, pos boolean"
    )
    r2 = average_precision(rev, "score", F.col("pos")).collect()[0]
    assert r2["average_precision"] < 0.5


def test_average_precision_tie_atomic(spark):
    """One tied block, half positive: AP = precision of the block."""
    from breweries_etl_spark.operators.hypotests import average_precision

    df = spark.createDataFrame(
        [(1.0, True), (1.0, False), (1.0, True), (1.0, False)],
        "score double, pos boolean",
    )
    r = average_precision(df, "score", F.col("pos")).collect()[0]
    assert r["average_precision"] == pytest.approx(0.5)


def test_kendalls_w_range(spark):
    from breweries_etl_spark.operators.hypotests import friedman_3

    # perfect concordance: W = 1
    df = spark.createDataFrame(
        [(i, 1.0, 2.0, 3.0) for i in range(5)],
        "b long, xa double, xb double, xc double",
    )
    r = friedman_3(df, "b", F.col("xa"), F.col("xb"), F.col("xc")).collect()[0]
    assert r["kendalls_w"] == pytest.approx(1.0)


def test_rich_club_star_vs_clique(spark):
    """A 5-clique: every node has degree 4, so phi(2) = 1 (all edges
    among deg>2 nodes, complete)."""
    from breweries_etl_spark.operators.graph import rich_club_coefficients

    clique = [(i, j) for i in range(1, 6) for j in range(i + 1, 6)]
    df = spark.createDataFrame(clique, "src long, dst long")
    rows = {r["k"]: r for r in rich_club_coefficients(df, ks=(2, 4)).collect()}
    assert rows[2]["n_nodes_above"] == 5
    assert rows[2]["rich_club_phi"] == pytest.approx(1.0)
    assert rows[4]["n_nodes_above"] == 0


def test_avg_neighbor_degree_star(spark):
    """Star graph: center degree 4 (bucket 2) has avg-neighbor-degree
    1; each leaf (bucket 0) sees the center's 4."""
    from breweries_etl_spark.operators.graph import avg_neighbor_degree_curve

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src long, dst long"
    )
    rows = {r["deg_bucket"]: r for r in avg_neighbor_degree_curve(df).collect()}
    assert rows[2]["n_nodes"] == 1
    assert rows[2]["avg_neighbor_degree"] == pytest.approx(1.0)
    assert rows[0]["n_nodes"] == 4
    assert rows[0]["avg_neighbor_degree"] == pytest.approx(4.0)


def test_ece_perfectly_calibrated(spark):
    """Synthetic text fixture where the scan runs; just pin the
    identity ECE <= MCE and the row count."""
    from breweries_etl_spark.operators.filtering import ece_summary

    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog. " * (i % 5 + 1))
         for i in range(40)],
        "doc_id long, text string",
    )
    r = ece_summary(df).collect()[0]
    assert r["n"] == 40
    assert 0.0 <= r["ece"] <= r["mce"] <= 1.0


def test_readability_simple_vs_complex(spark):
    """Short simple sentences score higher FRE than polysyllabic runs."""
    from breweries_etl_spark.operators.text import readability_by_source

    simple = "The cat sat. The dog ran. It is fun. We go now."
    complx = (
        "Extraordinarily sophisticated representational methodologies "
        "necessitate unambiguously comprehensive institutional "
        "reorganization."
    )
    df = spark.createDataFrame(
        [(1, simple, "simple"), (2, complx, "complex")],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in readability_by_source(df).collect()}
    assert rows["simple"]["flesch_reading_ease"] > 80
    assert rows["complex"]["flesch_reading_ease"] < 0
    assert rows["simple"]["n_sentences"] == 4


def test_g_test_known_table(spark):
    """2x2 table replayed with plain math: G = 2*sum(o*ln(o/e))."""
    from breweries_etl_spark.operators.hypotests import g_test_contingency

    rows = (
        [("x", "p")] * 30 + [("x", "q")] * 10
        + [("y", "p")] * 15 + [("y", "q")] * 45
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = g_test_contingency(df, "a", "b").collect()[0]
    n = 100
    o = {("x", "p"): 30, ("x", "q"): 10, ("y", "p"): 15, ("y", "q"): 45}
    ra = {"x": 40, "y": 60}
    cb = {"p": 45, "q": 55}
    g = 2 * sum(
        v * math.log(v / (ra[a] * cb[b] / n)) for (a, b), v in o.items()
    )
    assert r["n"] == 100 and r["dof"] == 1
    assert r["g_stat"] == pytest.approx(g, abs=1e-3)


def test_ordinal_association_known_values(spark):
    """No ties, perfect concordance: gamma = somers = 1. With y-ties
    only, D_yx < gamma (penalized), D_xy == gamma's denominator n0."""
    from breweries_etl_spark.operators.hypotests import ordinal_association

    df = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 4)], "x int, y int"
    )
    r = ordinal_association(df, "x", "y").collect()[0]
    assert r["gamma"] == pytest.approx(1.0)
    assert r["somers_dyx"] == pytest.approx(1.0)
    assert r["somers_dxy"] == pytest.approx(1.0)
    # x = 1,2,3,4 ; y = 1,1,2,2: nc = 4, nd = 0, y-ties 2 pairs
    df2 = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 2)], "x int, y int"
    )
    r2 = ordinal_association(df2, "x", "y").collect()[0]
    assert r2["gamma"] == pytest.approx(1.0)  # ignores ties entirely
    # D_xy (x predicted from y): penalizes x-ties -> none, so n0 den:
    # 2*(4-0)/(4*3 - 0) = 8/12
    assert r2["somers_dxy"] == pytest.approx(2 * 4 / (12 - 4), abs=1e-6)
    assert r2["somers_dyx"] == pytest.approx(8 / 12, abs=1e-6)


def test_yuen_trimmed_t_outlier_robust(spark):
    """A wild outlier in group B barely moves the trimmed statistic:
    trimmed means compare the central 60%."""
    from breweries_etl_spark.operators.hypotests import yuen_trimmed_t

    a = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    b = [30.0, 31.0, 32.0, 33.0, 34.0, 35.0, 36.0, 37.0, 38.0, 1e6]
    df = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in b], "g string, v double"
    )
    r = yuen_trimmed_t(df, "v", F.col("g") == "a").collect()[0]
    # g = floor(10*0.2) = 2, h = 6: trimmed mean of a = mean(12..17)
    assert r["h_a"] == 6 and r["h_b"] == 6
    assert r["tmean_a"] == pytest.approx(14.5)
    # the outlier 1e6 is trimmed away: tmean_b = mean(32..37)
    assert r["tmean_b"] == pytest.approx(34.5)
    assert r["yuen_t"] < -10  # strong, finite separation


def test_yuen_matches_untrimmed_welch_at_zero_trim(spark):
    from breweries_etl_spark.operators.hypotests import (
        welch_t_test,
        yuen_trimmed_t,
    )

    rows = [("a", float(v)) for v in [10, 12, 14, 16]] + [
        ("b", float(v)) for v in [1, 3, 5, 7]
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    y = yuen_trimmed_t(df, "v", F.col("g") == "a", trim=0.0).collect()[0]
    w = welch_t_test(df, "v", F.col("g") == "a").collect()[0]
    assert y["tmean_a"] == pytest.approx(w["mean_a"])
    assert y["yuen_t"] == pytest.approx(w["t_stat"], abs=1e-4)
    assert y["df"] == pytest.approx(w["df"], abs=1e-3)


def test_allen_relations_fixture(spark):
    """Three users, engineered session topology: A [0,100] contains
    B [10,50]; C [0,100] equals A's span."""
    from breweries_etl_spark.operators.rangejoin import allen_relation_counts

    def ev(uid, sec, eid):
        return (
            eid,
            uid,
            "view",
            1.0,
            datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=sec),
        )

    rows = [
        ev(1, 0, 1), ev(1, 100, 2),
        ev(2, 10, 3), ev(2, 50, 4),
        ev(3, 0, 5), ev(3, 100, 6),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
        "value double, ts timestamp"
    )
    out = {r["relation"]: r["n_pairs"] for r in allen_relation_counts(df).collect()}
    assert out.get("equals") == 1        # (1,3)
    assert out.get("contains") == 2      # (1,2) and (2,3)


def test_monotonicity_violations_counts(spark):
    from breweries_etl_spark.operators.quality import monotonicity_violations

    def ev(uid, sec, val, eid, typ="view"):
        return (
            eid, uid, typ, float(val),
            datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=sec),
        )

    rows = [
        ev(1, 0, 1, 1), ev(1, 10, 2, 2), ev(1, 20, 1, 3),  # one decrease
        ev(2, 0, 5, 4), ev(2, 10, 5, 5), ev(2, 20, 6, 6),  # none (equal ok)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
        "value double, ts timestamp"
    )
    r = monotonicity_violations(df).collect()[0]
    assert r["n_rows"] == 6 and r["n_pairs"] == 4
    assert r["n_violations"] == 1
    assert r["violation_rate"] == pytest.approx(0.25)


def test_kuiper_vs_ks_relation(spark):
    """V = D+ + D-; when one sample stochastically dominates, one side
    is 0 and V == KS. A location-shift fixture checks both numbers."""
    from breweries_etl_spark.operators.hypotests import (
        ks_test_2samp,
        kuiper_test_2samp,
    )

    rows = [("a", float(v)) for v in range(10)] + [
        ("b", float(v) + 5.0) for v in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    k = kuiper_test_2samp(df, "v", F.col("g") == "a").collect()[0]
    ks = ks_test_2samp(df, "v", F.col("g") == "a").collect()[0]
    assert k["d_minus"] == pytest.approx(0.0)
    assert k["d_plus"] == pytest.approx(0.5)  # shift of 5 over 10 values
    assert k["kuiper_v"] == pytest.approx(ks["ks_stat"])
    # a scale difference (b straddles a) engages BOTH sides: V > KS
    rows2 = [("a", float(v)) for v in range(10, 20)] + [
        ("b", float(v) * 3) for v in range(10)
    ]
    df2 = spark.createDataFrame(rows2, "g string, v double")
    k2 = kuiper_test_2samp(df2, "v", F.col("g") == "a").collect()[0]
    ks2 = ks_test_2samp(df2, "v", F.col("g") == "a").collect()[0]
    assert k2["d_plus"] > 0 and k2["d_minus"] > 0
    assert k2["kuiper_v"] > ks2["ks_stat"]
