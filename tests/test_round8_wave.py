"""Round-8 wave: independent small-fixture checks for the new
operators (the oracle sweep covers engine-vs-DuckDB parity; these pin
the MATH against hand-computed references)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_jonckheere_known_ordered_sample(spark):
    """Textbook JT: groups g1=[1,2], g2=[3,4], g3=[5,6] perfectly
    ordered -> JT = sum of all cross-pair counts = 3 pairs * 4 = 12
    (every low-group value below every high-group value)."""
    from breweries_etl_spark.operators.hypotests import jonckheere_terpstra

    rows = [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0),
            ("c", 5.0), ("c", 6.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = jonckheere_terpstra(df, "g", "v", ["a", "b", "c"]).collect()[0]
    assert out["jt_stat"] == 12.0
    assert out["n"] == 6 and out["k_groups"] == 3
    # E = (36 - 12)/4 = 6; Var = (36*15 - 3*4*7)/72 = 6.333...
    assert abs(out["z_score"] - (12 - 6) / math.sqrt((36 * 15 - 84) / 72)) < 1e-5


def test_dunn_mean_ranks_sum_identity(spark):
    """Mean ranks weighted by group sizes must average to (N+1)/2."""
    from breweries_etl_spark.operators.hypotests import dunn_pairwise_z

    rows = [("a", v) for v in [1.0, 5.0, 9.0]] + [
        ("b", v) for v in [2.0, 5.0, 8.0]
    ] + [("c", v) for v in [3.0, 5.0, 7.0]]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = dunn_pairwise_z(df, "g", "v").collect()
    assert len(out) == 3
    # reconstruct weighted mean of mean-ranks over the pair rows
    seen = {}
    for r in out:
        seen[r["group_a"]] = (r["n_a"], r["mean_rank_a"])
        seen[r["group_b"]] = (r["n_b"], r["mean_rank_b"])
    n = sum(v[0] for v in seen.values())
    wavg = sum(v[0] * v[1] for v in seen.values()) / n
    assert abs(wavg - (n + 1) / 2) < 1e-6


def test_hodges_lehmann_exact_shift(spark):
    """Pure shift fixture: B = A + 3 -> HL estimator exactly 3."""
    from breweries_etl_spark.operators.hypotests import hodges_lehmann_shift

    a = [1.0, 2.0, 3.0, 4.0]
    rows = [(v + 3, True) for v in a] + [(v, False) for v in a]
    df = spark.createDataFrame(rows, ["v", "in_a"])
    out = hodges_lehmann_shift(df, "v", F.col("in_a")).collect()[0]
    assert out["hl_shift"] == 3.0


def test_lin_ccc_perfect_agreement(spark):
    """y = x gives CCC = 1 and zero shifts."""
    from breweries_etl_spark.operators.hypotests import lin_ccc

    df = spark.createDataFrame(
        [(float(i), float(i)) for i in range(1, 21)], ["x", "y"]
    )
    out = lin_ccc(df, "x", "y").collect()[0]
    assert out["ccc"] == 1.0 and out["pearson_r"] == 1.0
    assert out["scale_shift"] == 1.0 and out["location_shift"] == 0.0


def test_page_trend_perfect_order(spark):
    """va < vb < vc in every block -> L = n*(1*1 + 2*2 + 3*3) = 14n,
    z = (14n - 12n)/sqrt(2n) = sqrt(2n)."""
    from breweries_etl_spark.operators.hypotests import page_trend_3

    df = spark.createDataFrame(
        [(b, 1.0, 2.0, 3.0) for b in range(8)], ["blk", "a", "b", "c"]
    )
    out = page_trend_3(
        df, "blk", F.col("a"), F.col("b"), F.col("c")
    ).collect()[0]
    assert out["page_l"] == 14.0 * 8
    assert abs(out["z_score"] - math.sqrt(16.0)) < 1e-6


def test_hellinger_identical_groups_zero(spark):
    """The same distribution in both groups -> BC = 1, H = 0."""
    from breweries_etl_spark.operators.hypotests import hellinger_bhattacharyya

    rows = [(float(i % 50), (i // 50) % 2 == 0) for i in range(1000)]
    df = spark.createDataFrame(rows, ["v", "in_a"])
    out = hellinger_bhattacharyya(df, "v", F.col("in_a")).collect()[0]
    assert out["bhattacharyya"] == 1.0
    assert out["hellinger"] == 0.0


def test_group_deviance_perfect_predictor_zero(spark):
    """Constant value within each group -> both deviances 0."""
    from breweries_etl_spark.operators.hypotests import group_deviance

    rows = [("a", 10.0)] * 5 + [("b", 20.0)] * 5
    df = spark.createDataFrame(rows, ["g", "v"])
    out = group_deviance(df, "g", "v").collect()[0]
    assert out["poisson_deviance"] == 0.0
    assert out["gamma_deviance"] == 0.0


def test_degree_centralization_star_is_one(spark):
    """A perfect star graph has Freeman centralization exactly 1."""
    from breweries_etl_spark.operators.graph import degree_centralization

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], ["src", "dst"]
    )
    out = degree_centralization(df, "src", "dst").collect()[0]
    assert out["centralization"] == 1.0
    assert out["max_degree"] == 7
    assert out["wedge_count"] == 21  # C(7,2) at the hub


def test_burstiness_periodic_is_negative_one(spark):
    """Perfectly periodic gaps -> sd = 0 -> B = (0-mu)/(0+mu) = -1."""
    from datetime import datetime, timedelta

    from breweries_etl_spark.operators.temporal import interarrival_burstiness

    base = datetime(2024, 1, 1)
    rows = [(1, base + timedelta(minutes=5 * i)) for i in range(10)]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = interarrival_burstiness(df).collect()[0]
    assert out["n_users"] == 1
    assert out["mean_burstiness"] == -1.0
    assert out["share_bursty"] == 0.0


def test_last_digit_uniform_fixture(spark):
    """An exactly uniform last-digit sample -> chi2 = 0."""
    from breweries_etl_spark.operators.quality import last_digit_uniformity

    rows = [(float(100 + d) / 100.0,) for d in range(10)] * 7
    df = spark.createDataFrame(rows, ["v"])
    out = last_digit_uniformity(df, "v").collect()[0]
    assert out["chi2"] == 0.0
    assert out["n_digits_seen"] == 10


def test_heaps_law_pure_powerlaw_recovered(spark):
    """Synthetic corpus whose vocabulary genuinely grows -> beta in
    (0, 1) and r2 high; exact saturation (every term in chunk 0) ->
    beta ~ 0."""
    from breweries_etl_spark.operators.text import heaps_law_fit

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = heaps_law_fit(df).collect()[0]
    assert 0.5 < out["heaps_beta"] <= 1.05
    assert out["r2"] > 0.99


def test_mantel_haenszel_no_confounding_matches_crude(spark):
    """With a single stratum the MH OR is the crude OR: fixture
    a=30,b=10,c=10,d=30 -> OR = 9."""
    from breweries_etl_spark.operators.hypotests import mantel_haenszel_or

    rows = (
        [("s", True, True)] * 30
        + [("s", True, False)] * 10
        + [("s", False, True)] * 10
        + [("s", False, False)] * 30
    )
    df = spark.createDataFrame(rows, ["st", "e", "y"])
    out = mantel_haenszel_or(
        df, "st", F.col("e"), F.col("y")
    ).collect()[0]
    assert out["or_mh"] == 9.0
    assert abs(out["log_or_mh"] - math.log(9.0)) < 1e-5


def test_cochran_armitage_perfect_trend_sign(spark):
    """Rates 10% / 50% / 90% along the order -> strongly positive z."""
    from breweries_etl_spark.operators.hypotests import cochran_armitage_trend

    rows = []
    for g, rate in (("a", 1), ("b", 5), ("c", 9)):
        rows += [(g, True)] * rate + [(g, False)] * (10 - rate)
    df = spark.createDataFrame(rows, ["g", "f"])
    out = cochran_armitage_trend(
        df, "g", F.col("f"), ["a", "b", "c"]
    ).collect()[0]
    assert out["z_score"] > 3.0
    # reversed order flips the sign exactly
    rev = cochran_armitage_trend(
        df, "g", F.col("f"), ["c", "b", "a"]
    ).collect()[0]
    assert abs(rev["z_score"] + out["z_score"]) < 1e-9


def test_poisson_rate_ratio_equal_rates(spark):
    """Identical per-day rates -> ratio 1, z 0."""
    from datetime import datetime, timedelta

    from breweries_etl_spark.operators.hypotests import poisson_rate_ratio

    base = datetime(2024, 1, 1)
    rows = []
    for d in range(10):
        for g in (True, False):
            rows += [(g, d)] * 3
    df = spark.createDataFrame(rows, ["in_a", "day"])
    out = poisson_rate_ratio(df, F.col("in_a"), "day").collect()[0]
    assert out["rate_ratio"] == 1.0 and out["z_score"] == 0.0


def test_variance_homogeneity_equal_groups(spark):
    """Identical group distributions -> C = 1/k, Fmax = 1."""
    from breweries_etl_spark.operators.hypotests import variance_homogeneity

    rows = [(g, float(v)) for g in "ab" for v in range(1, 11)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = variance_homogeneity(df, "g", "v").collect()[0]
    assert out["hartley_fmax"] == 1.0
    assert out["cochran_c"] == 0.5


def test_yules_k_all_distinct_is_zero(spark):
    """Every token unique -> f == 1 everywhere -> K = 0, D = 0."""
    from breweries_etl_spark.operators.text import yules_k

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    out = yules_k(df).collect()[0]
    assert out["yules_k"] == 0.0 and out["simpson_d"] == 0.0


def test_bigram_cond_entropy_deterministic_text_zero(spark):
    """A strictly repeating cycle (every prefix has ONE successor) ->
    conditional entropy exactly 0."""
    from breweries_etl_spark.operators.text import bigram_cond_entropy

    df = spark.createDataFrame(
        [(1, "a b c " * 50)], ["doc_id", "text"]
    )
    out = bigram_cond_entropy(df).collect()[0]
    assert out["cond_entropy"] == 0.0
    assert out["n_prefix_types"] == 3


def test_source_vocab_jaccard_identity_and_disjoint(spark):
    """Identical vocabularies -> 1.0; disjoint -> no pair row (inner
    join on shared terms) or jaccard 0 if any term shared."""
    from breweries_etl_spark.operators.text import source_vocab_jaccard

    df = spark.createDataFrame(
        [
            ("s1", "apple banana cherry"),
            ("s2", "apple banana cherry"),
            ("s3", "xyzzy quux corge"),
        ],
        ["source", "text"],
    )
    out = {
        (r["source_a"], r["source_b"]): r["jaccard"]
        for r in source_vocab_jaccard(df).collect()
    }
    assert out[("s1", "s2")] == 1.0
    assert ("s1", "s3") not in out  # disjoint pairs produce no row


def test_spiegelhalter_perfectly_calibrated_half(spark):
    """p = 0.5 with a 50/50 outcome -> numerator 0 -> z = 0."""
    from breweries_etl_spark.operators.hypotests import spiegelhalter_z

    rows = [(0.5, i % 2 == 0) for i in range(100)]
    df = spark.createDataFrame(rows, ["p", "y"])
    out = spiegelhalter_z(df, F.col("p"), F.col("y")).collect()[0]
    # (1-2p) = 0 kills both sums -> den 0 -> NULL z (guarded)
    assert out["spiegelhalter_z"] is None
    rows = [(0.8, i < 80) for i in range(100)]
    df = spark.createDataFrame(rows, ["p", "y"])
    out = spiegelhalter_z(df, F.col("p"), F.col("y")).collect()[0]
    assert abs(out["spiegelhalter_z"]) < 1e-6


def test_uncertainty_coefficient_bounds(spark):
    """X fully determined by Y -> U = 1; X independent of Y -> U = 0."""
    from breweries_etl_spark.operators.hypotests import uncertainty_coefficient

    det = spark.createDataFrame(
        [(str(i % 3), str(i % 3)) for i in range(90)], ["x", "y"]
    )
    out = uncertainty_coefficient(det, "x", "y").collect()[0]
    assert out["uncertainty_xy"] == 1.0
    ind = spark.createDataFrame(
        [(str(i % 3), str(i // 30)) for i in range(90)], ["x", "y"]
    )
    out = uncertainty_coefficient(ind, "x", "y").collect()[0]
    assert abs(out["uncertainty_xy"]) < 1e-6


def test_hurst_white_noise_near_half(spark):
    """Deterministic pseudo-noise daily series -> H should land well
    below the trending regime (sanity band, not an exact value)."""
    from datetime import datetime, timedelta

    from breweries_etl_spark.operators.temporal import hurst_rs_daily

    base = datetime(2024, 1, 1)
    # deterministic "noise": md5-like scramble via modular arithmetic
    rows = [
        (base + timedelta(days=i), float((i * 2654435761) % 1000) / 10.0)
        for i in range(128)
    ]
    df = spark.createDataFrame(rows, ["ts", "value"])
    out = hurst_rs_daily(df).collect()[0]
    assert out["n_days"] == 128
    assert 0.05 < out["hurst_h"] < 0.75


def test_ad_ksample_two_group_reduction(spark):
    """For k = 2 the Scholz-Stephens sum must equal the 2-sample
    Pettitt A2 computed symmetrically: A_1 + A_2 with group-2 the
    complement. Sanity: identical groups give a small statistic,
    shifted groups a larger one."""
    from breweries_etl_spark.operators.hypotests import ad_ksample

    same = spark.createDataFrame(
        [(g, float(v)) for g in "ab" for v in range(1, 21)], ["g", "v"]
    )
    out_same = ad_ksample(same, "g", "v", ["a", "b"]).collect()[0]
    shifted = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 21)]
        + [("b", float(v + 15)) for v in range(1, 21)],
        ["g", "v"],
    )
    out_shift = ad_ksample(shifted, "g", "v", ["a", "b"]).collect()[0]
    assert out_same["k_groups"] == 2 and out_same["n"] == 40
    assert out_shift["ad_ksample"] > out_same["ad_ksample"] * 3


def test_bland_altman_identical_columns(spark):
    """x == y -> zero bias, zero SD, nothing outside."""
    from breweries_etl_spark.operators.hypotests import bland_altman

    df = spark.createDataFrame(
        [(float(i), float(i)) for i in range(1, 31)], ["x", "y"]
    )
    out = bland_altman(df, "x", "y").collect()[0]
    assert out["mean_diff"] == 0.0 and out["sd_diff"] == 0.0
    assert out["pct_outside"] == 0.0


def test_pinball_loss_median_beats_bad_quantile(spark):
    """At tau=0.5 the group median minimizes pinball loss; the op's
    in-sample loss must be <= the loss of any constant alternative
    (spot-check vs mean-as-predictor on a skewed sample)."""
    from breweries_etl_spark.operators.hypotests import pinball_loss

    vals = [1.0] * 8 + [2.0, 100.0]
    df = spark.createDataFrame([("g", v) for v in vals], ["g", "v"])
    out = {r["tau"]: r for r in pinball_loss(df, "g", "v").collect()}
    med = 1.0  # exact lower median of the sample
    manual = sum(
        0.5 * (v - med) if v >= med else 0.5 * (med - v) for v in vals
    ) / len(vals)
    assert abs(out[0.5]["mean_pinball"] - manual) < 1e-6
    mean_pred = sum(vals) / len(vals)
    mean_loss = sum(
        0.5 * (v - mean_pred) if v >= mean_pred else 0.5 * (mean_pred - v)
        for v in vals
    ) / len(vals)
    assert out[0.5]["mean_pinball"] <= mean_loss


def test_type_mix_entropy_trend_constant_mix_flat(spark):
    """The same type mix every day -> per-day entropy constant ->
    slope exactly 0."""
    from datetime import datetime, timedelta

    from breweries_etl_spark.operators.temporal import type_mix_entropy_trend

    base = datetime(2024, 1, 1)
    rows = []
    for d in range(10):
        rows += [(base + timedelta(days=d, hours=h % 4), t)
                 for h, t in enumerate(["a", "a", "b", "c"])]
    df = spark.createDataFrame(rows, ["ts", "event_type"])
    out = type_mix_entropy_trend(df).collect()[0]
    assert out["n_days"] == 10
    assert out["slope_per_day"] == 0.0


def test_embedding_dim_profile_constant_dim_zero_var(spark):
    """A constant dimension must yield min_var 0 (and a NULL
    anisotropy ratio via the guard)."""
    from breweries_etl_spark.operators.similarity import embedding_dim_profile

    rows = [(i, [1.0, float(i % 5)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = embedding_dim_profile(df).collect()[0]
    assert out["n_dims"] == 2
    assert out["min_var"] == 0.0
    assert out["anisotropy_ratio"] is None
    assert out["max_var_dim"] == 1


def test_lang_pred_quality_marginals_consistent(spark):
    """Sum of n_true equals sum of n_pred equals the doc count, and
    tp <= min(n_true, n_pred) per class."""
    from breweries_etl_spark.operators.text import lang_pred_quality

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is here", "en"),
            (2, "el perro y el gato que come", "es"),
            (3, "der hund und die katze ist nicht", "de"),
            (4, "zz qq xx", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    rows = lang_pred_quality(df).collect()
    assert sum(r["n_true"] for r in rows) == 4
    assert sum(r["n_pred"] for r in rows) == 4
    for r in rows:
        assert r["tp"] <= min(r["n_true"], r["n_pred"])


def test_wasserstein_pure_shift(spark):
    """B = A + 2 on an integer grid -> W1 exactly 2."""
    from breweries_etl_spark.operators.hypotests import wasserstein_1

    a = [float(v) for v in range(1, 11)]
    rows = [(v, True) for v in a] + [(v + 2, False) for v in a]
    df = spark.createDataFrame(rows, ["v", "in_a"])
    out = wasserstein_1(df, "v", F.col("in_a")).collect()[0]
    assert out["wasserstein_1"] == 2.0


def test_energy_distance_identical_zero(spark):
    """Identical samples -> D = 0 exactly (2Exy = Exx + Eyy)."""
    from breweries_etl_spark.operators.hypotests import energy_distance

    a = [1.0, 3.0, 3.0, 7.0]
    rows = [(v, True) for v in a] + [(v, False) for v in a]
    df = spark.createDataFrame(rows, ["v", "in_a"])
    out = energy_distance(df, "v", F.col("in_a")).collect()[0]
    assert out["energy_distance"] == 0.0
    assert out["e_xy"] == out["e_xx"] == out["e_yy"]


def test_qq_fit_recovers_affine_transform(spark):
    """B = 2A + 5 over dense identical shapes -> slope ~0.5 fitting A
    on B... i.e. q_A = 0.5 q_B - 2.5, r2 = 1."""
    from breweries_etl_spark.operators.hypotests import qq_fit

    a = [float(v) for v in range(1, 101)]
    rows = [(v, True) for v in a] + [(2 * v + 5, False) for v in a]
    df = spark.createDataFrame(rows, ["v", "in_a"])
    out = qq_fit(df, "v", F.col("in_a")).collect()[0]
    assert abs(out["slope"] - 0.5) < 1e-6
    assert abs(out["intercept"] + 2.5) < 1e-6
    assert out["r2"] == 1.0


def test_neyman_allocation_prefers_spread_stratum(spark):
    """Two equal-size strata, one constant and one spread -> all
    allocation goes to the spread stratum (Neyman n_h ~ N_h*S_h)."""
    from breweries_etl_spark.operators.sampling import neyman_allocation

    rows = [("flat", 10.0)] * 50 + [
        ("wild", float(v)) for v in range(1, 51)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r["stratum"]: r for r in
           neyman_allocation(df, "g", "v", total_n=100).collect()}
    assert out["flat"]["share"] == 0.0 and out["flat"]["alloc_n"] == 0
    assert out["wild"]["share"] == 1.0 and out["wild"]["alloc_n"] == 100


def test_evt_gumbel_moments_roundtrip(spark):
    """Block maxima constants: constant maxima -> sd 0, beta 0, and
    the return level collapses to the mean."""
    from datetime import datetime, timedelta

    from breweries_etl_spark.operators.temporal import evt_block_maxima

    base = datetime(2024, 1, 1)
    # identical daily totals -> every block max identical regardless
    # of how the absolute epoch-week boundaries slice the fixture
    rows = [(base + timedelta(days=d), 42.0) for d in range(28)]
    df = spark.createDataFrame(rows, ["ts", "value"])
    out = evt_block_maxima(df).collect()[0]
    assert out["n_blocks"] >= 4
    assert out["max_mean"] == 42.0
    assert out["max_sd"] == 0.0 and out["gumbel_beta"] == 0.0
    assert out["return_level_10"] == out["max_mean"]


def test_mase_momentum_series_below_one(spark):
    """A smooth ramp: lag-1 errors are tiny, lag-7 errors large ->
    MASE well below 1."""
    from datetime import datetime, timedelta

    from breweries_etl_spark.operators.temporal import mase_daily

    base = datetime(2024, 1, 1)
    rows = [(base + timedelta(days=d), float(d)) for d in range(30)]
    df = spark.createDataFrame(rows, ["ts", "value"])
    out = mase_daily(df).collect()[0]
    assert out["mae_naive"] == 1.0
    assert out["mae_seasonal"] == 7.0
    assert abs(out["mase"] - 1.0 / 7.0) < 1e-6


def test_split_gain_perfect_predictor(spark):
    """A category that fully determines the flag -> info_gain equals
    the parent entropy and gini_gain the parent gini."""
    from breweries_etl_spark.operators.profiling import categorical_split_gain

    rows = [("a", True)] * 30 + [("b", False)] * 30
    df = spark.createDataFrame(rows, ["c", "f"])
    out = categorical_split_gain(df, "c", F.col("f")).collect()[0]
    assert out["info_gain"] == out["parent_entropy"]
    assert out["gini_gain"] == out["parent_gini"]
    assert abs(out["parent_gini"] - 0.5) < 1e-9


def test_concentration_ratio_known_split(spark):
    """10 keys with values 10,9,...,1 (total 55): CR4 = 34/55."""
    from breweries_etl_spark.operators.profiling import concentration_ratios

    rows = [(k, float(10 - k)) for k in range(10)]
    df = spark.createDataFrame(rows, ["key", "v"])
    out = {r["k"]: r for r in
           concentration_ratios(df, "key", "v", ks=(4, 8)).collect()}
    assert abs(out[4]["top_share"] - 34 / 55) < 1e-6
    assert abs(out[8]["top_share"] - (55 - 3) / 55) < 1e-6


def test_hill_alpha_exact_pareto(spark):
    """x_(i) = C * (i)^(-1/a) order statistics give back alpha up to
    the round-6 log grid; check a synthetic exact case with k=10:
    values 2^(100-i) -> log spacings sum = ln(2)*sum(100-i-90) over
    top 10 relative to rank 11."""
    from breweries_etl_spark.operators.profiling import hill_tail_index
    import math

    vals = [2.0 ** j for j in range(1, 31)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    out = hill_tail_index(df, "v", k=10).collect()[0]
    # top 10 are 2^21..2^30, x_k1 = 2^20; sum ln ratios = ln2*(1+..+10)
    expect = 10.0 / (55 * math.log(2.0))
    assert abs(out["hill_alpha"] - expect) < 1e-4
    assert out["x_k1"] == 2.0 ** 20


def test_ranking_stability_reversed_is_minus_one(spark):
    """Metric B exactly reverses metric A's ranking -> tau = -1."""
    from breweries_etl_spark.operators.profiling import ranking_stability

    rows = [(k, float(k), float(10 - k)) for k in range(10)]
    df = spark.createDataFrame(rows, ["key", "x", "y"])
    out = ranking_stability(
        df, "key", F.max("x"), F.max("y")
    ).collect()[0]
    assert out["kendall_tau"] == -1.0
    same = ranking_stability(df, "key", F.max("x"), F.max("x")).collect()[0]
    assert same["kendall_tau"] == 1.0


def test_dunn_release_false_hands_caches_to_caller(spark, unreleased):
    """ADVICE r10 (low): handed over, the persisted internals
    must be handed over on the result's lifecycle handle so the caller
    can free them — previously per_g leaked for the session lifetime.
    r13: the prefix-count primitive now persists the bucketed relation
    too, so the handover carries THREE caches (value-counts, bucketed,
    per_g)."""
    from breweries_etl_spark.functions import lifecycle
    from breweries_etl_spark.operators.hypotests import dunn_pairwise_z

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(10)]
        + [("b", float(i) + 5.0) for i in range(10)],
        "g string, v double",
    )
    res = unreleased(dunn_pairwise_z)(df, "g", "v")
    handle = lifecycle.handle(res)
    caches = handle.frames if handle is not None else None
    assert caches is not None and len(caches) == 3
    assert all(c.storageLevel.useMemory for c in caches)
    res.collect()
    lifecycle.release(res)
    assert all(not c.storageLevel.useMemory for c in caches)
