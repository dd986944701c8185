"""Round-5 wave: scale-safe twins of the global-sort window forms
(VERDICT r4 #6 / next-round #2)."""

from __future__ import annotations

from pyspark.sql import Row


def test_curriculum_scalable_matches_ntile_away_from_ties(spark):
    from breweries_etl_spark.operators.corpus import (
        curriculum_buckets,
        curriculum_stages_scalable,
    )

    # distinct scores, count divisible by n_stages: the two forms must
    # produce identical stage summaries (ties are the ONLY divergence)
    docs = spark.createDataFrame(
        [Row(doc_id=i, n_chars=10 * i) for i in range(1, 9)],
        schema="doc_id long, n_chars long",
    )
    exact = {r["stage"]: r.asDict() for r in curriculum_buckets(docs).collect()}
    scal = {
        r["stage"]: r.asDict() for r in curriculum_stages_scalable(docs).collect()
    }
    assert exact == scal
    assert sorted(scal) == [1, 2, 3, 4]
    assert all(v["n_docs"] == 2 for v in scal.values())


def test_curriculum_scalable_ties_land_lower(spark):
    from breweries_etl_spark.operators.corpus import curriculum_stages_scalable

    # six docs all tied at one value + two above: every tied doc must
    # land in the same (lower) stage — deterministic on any partitioning
    docs = spark.createDataFrame(
        [Row(doc_id=i, n_chars=100) for i in range(6)]
        + [Row(doc_id=10, n_chars=200), Row(doc_id=11, n_chars=300)],
        schema="doc_id long, n_chars long",
    )
    rows = {r["stage"]: r for r in curriculum_stages_scalable(docs).collect()}
    assert rows[1]["n_docs"] == 6 and rows[1]["max_score"] == 100
    assert sum(r["n_docs"] for r in rows.values()) == 8


def test_rfm_scalable_contract(spark, sf_dir):
    from breweries_etl_spark.operators.behavior import (
        rfm_segments,
        rfm_segments_scalable,
    )
    from breweries_etl_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    exact = {r["user_id"]: r for r in rfm_segments(ev).collect()}
    scal = {r["user_id"]: r for r in rfm_segments_scalable(ev).collect()}
    # same user set, same R/F/M raw values, buckets in range
    assert set(exact) == set(scal)
    for uid, r in scal.items():
        assert r["frequency"] == exact[uid]["frequency"]
        assert r["monetary"] == exact[uid]["monetary"]
        assert 1 <= r["r_bucket"] <= 4
        assert 1 <= r["f_bucket"] <= 4
        assert 1 <= r["m_bucket"] <= 4
        assert r["segment"] == f"{r['r_bucket']}-{r['f_bucket']}-{r['m_bucket']}"
    # the top-monetary user is in m_bucket 1 under the >=-threshold rule
    top = max(scal.values(), key=lambda r: r["monetary"])
    assert top["m_bucket"] == 1
    # buckets are monotone in the metric: a user with higher monetary
    # never lands in a numerically larger (worse) m_bucket
    by_m = sorted(scal.values(), key=lambda r: -r["monetary"])
    assert all(a["m_bucket"] <= b["m_bucket"] for a, b in zip(by_m, by_m[1:]))


def test_frequent_item_pairs_basket_cap(spark):
    """max_basket_size (VERDICT r4 #4): oversized baskets are excluded
    from pair generation ONLY — supports and the basket-count
    denominator still see them — and the DuckDB mirror of the capped
    algorithm agrees pair-for-pair when the cap binds."""
    import duckdb
    import pandas as pd

    from breweries_etl_spark.functions import lifecycle
    from breweries_etl_spark.operators.aggregate import frequent_item_pairs

    rows = []
    # basket 1: 6 items (over cap 4); baskets 2+3: {x,y,z} twice
    for it in ["a", "b", "c", "x", "y", "z"]:
        rows.append((1, it))
    for b in (2, 3):
        for it in ["x", "y", "z"]:
            rows.append((b, it))
    df = spark.createDataFrame(rows, schema="b long, i string")

    capped_df = frequent_item_pairs(df, "b", "i", max_basket_size=4)
    uncapped_df = frequent_item_pairs(df, "b", "i", max_basket_size=None)
    capped = {
        (r["item_a"], r["item_b"], r["n_both"], r["support"], r["lift"])
        for r in capped_df.collect()
    }
    uncapped = {
        (r["item_a"], r["item_b"], r["n_both"], r["support"], r["lift"])
        for r in uncapped_df.collect()
    }
    lifecycle.release(capped_df)
    lifecycle.release(uncapped_df)
    assert capped != uncapped  # the cap binds on this fixture
    # capped: only pairs from baskets 2,3 — n_both=2 (basket 1 dropped
    # from pair generation), but supports still count basket 1: x/y/z
    # have ni=3, nb=3 -> support=2/3, lift=(2/3)/((3/3)*(3/3))=2/3
    assert {p[:2] for p in capped} == {("x", "y"), ("x", "z"), ("y", "z")}
    for _, _, n_both, support, lift in capped:
        assert n_both == 2
        assert support == round(2 / 3, 6)
        assert lift == round(2 / 3, 6)
    # uncapped sees basket 1 too: x-y count 3, and a-b etc. at 1 (below
    # min_count) stay absent
    assert ("x", "y", 3) in {p[:3] for p in uncapped}

    # DuckDB mirror of the capped algorithm — identical result set
    con = duckdb.connect()
    con.register("items_pd", pd.DataFrame(rows, columns=["b", "i"]))
    oracle = {
        tuple(t)
        for t in con.execute(
            """
WITH items AS (SELECT DISTINCT b, i FROM items_pd),
nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb FROM items),
sup AS (SELECT i, CAST(count(*) AS BIGINT) AS ni FROM items GROUP BY 1),
ok_b AS (SELECT b FROM items GROUP BY b HAVING count(*) <= 4),
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
"""
        ).fetchall()
    }
    assert capped == oracle


def test_duplicate_span_stats_merges_overlapping_windows(spark):
    from breweries_etl_spark.operators.corpus import duplicate_span_stats

    # ten shared tokens -> 3 duplicated 8-windows (starts 0,1,2) in each
    # doc, overlapping into ONE span covering 10 tokens; doc c is clean.
    shared = "a b c d e f g h i j"
    rows = [
        (1, shared + " unique1 one two three"),
        (2, shared + " unique2 four five six"),
        (3, "nothing here repeats at all friends okay right"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {r["doc_id"]: r for r in duplicate_span_stats(df, k=8).collect()}
    for d in (1, 2):
        assert out[d]["n_tokens"] == 14
        assert out[d]["n_dup_windows"] == 3
        assert out[d]["n_spans"] == 1
        assert out[d]["removed_tokens"] == 10
        assert out[d]["removed_fraction"] == round(10 / 14, 6)
    assert out[3]["n_dup_windows"] == 0 and out[3]["removed_tokens"] == 0


def test_duplicate_span_stats_within_doc_repetition(spark):
    from breweries_etl_spark.operators.corpus import duplicate_span_stats

    # the SAME doc repeats an 8-token phrase twice with a gap >= k:
    # two disjoint spans of 8 tokens each (within-doc counts, like
    # Lee et al.'s any-second-occurrence rule)
    phrase = "p q r s t u v w"
    text = phrase + " x1 x2 x3 x4 x5 x6 x7 x8 " + phrase
    df = spark.createDataFrame([(1, text)], schema="doc_id long, text string")
    r = duplicate_span_stats(df, k=8).collect()[0]
    assert r["n_dup_windows"] == 2
    assert r["n_spans"] == 2
    assert r["removed_tokens"] == 16


def test_dsir_weights_favor_target_language(spark, sf_dir):
    from breweries_etl_spark.operators.corpus import dsir_importance_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dsir_importance_weights(docs, target_lang="en").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    rows = out.collect()
    per_tok = {}
    for r in rows:
        per_tok.setdefault(r["lang"] == "en", []).append(
            r["log_weight"] / r["n_tokens"]
        )
    mean_en = sum(per_tok[True]) / len(per_tok[True])
    mean_other = sum(per_tok[False]) / len(per_tok[False])
    # English docs must score higher per token under the en target
    assert mean_en > mean_other


def test_image_ahash_identical_images_pair(spark):
    from breweries_etl_spark.operators.multimodal import (
        image_ahash,
        image_ahash_dup_pairs,
        synthetic_image_assets,
    )

    # doc ids congruent mod 256 produce IDENTICAL pixel fields
    docs = spark.createDataFrame(
        [(1,), (257,), (2,)], schema="doc_id long"
    )
    assets = synthetic_image_assets(docs, width=16, height=16)
    hashes = {r["asset_id"]: r["ahash"] for r in image_ahash(assets).collect()}
    assert len(hashes[1]) == 64 and set(hashes[1]) <= {"0", "1"}
    assert hashes[1] == hashes[257]
    pairs = {
        (r["id_a"], r["id_b"]) for r in image_ahash_dup_pairs(assets).collect()
    }
    assert (1, 257) in pairs


# --- round-5 model-diagnostics wave -----------------------------------------


def test_decision_stump_finds_obvious_split(spark):
    from breweries_etl_spark.operators.mltrain import decision_stump

    # y is 10 below x<=5 and 100 above: the stump must split at 5 with
    # pure sides (full SSE reduction, exact means)
    rows = [("g", float(x), 10.0) for x in range(1, 6)] + [
        ("g", float(x), 100.0) for x in range(6, 11)
    ]
    df = spark.createDataFrame(rows, schema="grp string, x double, y double")
    out = decision_stump(df, "grp", "x", "y").collect()
    assert len(out) == 1
    r = out[0]
    assert r["threshold"] == 5.0
    assert r["n_left"] == 5 and r["n_right"] == 5
    assert r["mean_left"] == 10.0 and r["mean_right"] == 100.0
    # total SSE of the split data is the between-group SSE: 5*45^2*2
    assert abs(r["sse_reduction"] - 2 * 5 * 45.0**2) < 1e-6


def test_decision_stump_constant_target_zero_reduction(spark):
    from breweries_etl_spark.operators.mltrain import decision_stump

    rows = [("g", float(x), 7.0) for x in range(1, 5)]
    df = spark.createDataFrame(rows, schema="grp string, x double, y double")
    out = decision_stump(df, "grp", "x", "y").collect()
    assert len(out) == 1
    assert abs(out[0]["sse_reduction"]) < 1e-9
    # deterministic tie-break: smallest threshold wins
    assert out[0]["threshold"] == 1.0


def test_ols2_recovers_exact_plane(spark):
    from breweries_etl_spark.operators.mltrain import ols2_fit

    # y = 2 + 3*x1 + 5*x2 exactly on a 2-decimal grid: b1/b2/intercept
    # recover exactly and r2 == 1
    rows = [
        ("g", float(x1), float(x2), 2.0 + 3.0 * x1 + 5.0 * x2)
        for x1 in range(1, 6)
        for x2 in range(1, 4)
    ]
    df = spark.createDataFrame(
        rows, schema="grp string, x1 double, x2 double, y double"
    )
    r = ols2_fit(df, "grp", "x1", "x2", "y").collect()[0]
    assert abs(r["b1"] - 3.0) < 1e-6
    assert abs(r["b2"] - 5.0) < 1e-6
    assert abs(r["intercept"] - 2.0) < 1e-6
    assert abs(r["r2"] - 1.0) < 1e-6


def test_ols2_collinear_features_null_coeffs(spark):
    from breweries_etl_spark.operators.mltrain import ols2_fit

    # x2 = 2*x1 exactly: singular Gram -> NULL coefficients, not garbage
    rows = [("g", float(x), 2.0 * x, 1.0 + x) for x in range(1, 6)]
    df = spark.createDataFrame(
        rows, schema="grp string, x1 double, x2 double, y double"
    )
    r = ols2_fit(df, "grp", "x1", "x2", "y").collect()[0]
    assert r["b1"] is None and r["b2"] is None and r["intercept"] is None


def test_ewma_matches_recursive_definition(spark):
    import datetime

    from breweries_etl_spark.operators.temporal import ewma_user_value

    vals = [10.0, 20.0, 40.0, 80.0]
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base + datetime.timedelta(hours=i), v, i)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, schema="user_id long, ts timestamp, value double, event_id long"
    )
    r = ewma_user_value(df).collect()[0]
    s = vals[0]
    for v in vals[1:]:
        s = 0.5 * v + 0.5 * s
    assert abs(r["ewma"] - s) < 2e-6  # fixed-point floor at 1e-6 units
    assert r["n_events"] == 4
    assert r["last_value"] == 80.0


def test_ewma_single_event_is_identity(spark):
    import datetime

    from breweries_etl_spark.operators.temporal import ewma_user_value

    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 42.5, 1)],
        schema="user_id long, ts timestamp, value double, event_id long",
    )
    r = ewma_user_value(df).collect()[0]
    assert abs(r["ewma"] - 42.5) < 1e-6
    assert r["last_value"] == 42.5


def test_cohens_kappa_perfect_and_independent(spark):
    from breweries_etl_spark.operators.profiling import cohens_kappa

    perfect = spark.createDataFrame(
        [("a", "a"), ("b", "b"), ("c", "c"), ("a", "a")],
        schema="x string, y string",
    )
    r = cohens_kappa(perfect, "x", "y").collect()[0]
    assert r["po"] == 1.0 and abs(r["kappa"] - 1.0) < 1e-9

    # balanced independent 2x2: po == pe == 0.5 -> kappa 0
    indep = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")],
        schema="x string, y string",
    )
    r = cohens_kappa(indep, "x", "y").collect()[0]
    assert r["po"] == 0.5 and r["pe"] == 0.5
    assert abs(r["kappa"]) < 1e-9


def test_cohens_kappa_excludes_nulls(spark):
    from breweries_etl_spark.operators.profiling import cohens_kappa

    df = spark.createDataFrame(
        [("a", "a"), (None, "b"), ("b", None), ("b", "b")],
        schema="x string, y string",
    )
    r = cohens_kappa(df, "x", "y").collect()[0]
    assert r["n_rows"] == 2 and r["n_agree"] == 2


def test_calibration_bins_invariants(spark, sf_dir):
    from breweries_etl_spark.operators.filtering import calibration_bins
    from breweries_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = calibration_bins(docs).collect()
    n_docs = docs.count()
    assert sum(r["n"] for r in rows) == n_docs
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["frac_positive"] <= 1.0
        assert 0.0 <= r["mean_pred"] <= 1.0
        assert abs(
            r["abs_gap"] - round(abs(r["mean_pred"] - r["frac_positive"]), 6)
        ) < 1e-9
