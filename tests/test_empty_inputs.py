"""Empty-input robustness: every operator must degrade to empty output,
not crash — the failure mode that bites when an upstream filter matches
nothing in one partition of a 100 TB run."""

from __future__ import annotations

from breweries_etl_spark.functions import lifecycle
from breweries_etl_spark.operators.aggregate import gold_aggregations
from breweries_etl_spark.operators.asof import asof_join_backward
from breweries_etl_spark.operators.dedup import (
    dedup_exact,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
)
from breweries_etl_spark.operators.quality import split_invalid_records
from breweries_etl_spark.operators.standardize import silver_transform
from breweries_etl_spark.operators.temporal import sessionize, tumbling_counts

DOCS_SCHEMA = "doc_id long, text string"
BREWERY_SCHEMA_DDL = (
    "id string, name string, brewery_type string, state string, city string, "
    "country string, website_url string"
)
EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def test_silver_chain_on_empty(spark):
    df = spark.createDataFrame([], BREWERY_SCHEMA_DDL)
    valid, quarantined = split_invalid_records(df)
    out = silver_transform(valid)
    assert out.count() == 0 and quarantined.count() == 0
    assert "location" in out.columns  # schema still fully derived


def _released_count(df) -> int:
    """Count a hand-over operator's result, then free its caches."""
    n = df.count()
    lifecycle.release(df)
    return n


def test_gold_on_empty_silver(spark):
    df = spark.createDataFrame([], "brewery_type string, location string, state string, city string")
    gold = gold_aggregations(df)
    assert gold["by_type_location"].count() == 0
    assert gold["by_location"].count() == 0


def test_dedup_on_empty_docs(spark):
    df = spark.createDataFrame([], DOCS_SCHEMA)
    assert dedup_exact(df).count() == 0
    assert _released_count(ngram_jaccard_pairs(df)) == 0
    assert _released_count(minhash_near_duplicates(df)) == 0


def test_temporal_on_empty_events(spark):
    df = spark.createDataFrame([], EVENTS_SCHEMA + ", event_type string")
    assert tumbling_counts(df).count() == 0
    assert sessionize(df).count() == 0


def test_asof_with_empty_right(spark):
    from pyspark.sql import Row

    left = spark.createDataFrame([Row(user_id=1, ts_us=100, event_id=5)])
    right = spark.createDataFrame([], "user_id long, ts_us long, value double")
    out = asof_join_backward(
        left, right, by="user_id", on="ts_us",
        left_cols=["event_id"], right_cols=["value"]).collect()
    assert len(out) == 1 and out[0]["asof_value"] is None


def test_round4_operators_on_empty(spark):
    from pyspark.sql import Row

    from breweries_etl_spark.operators import incremental
    from breweries_etl_spark.operators.clustering import (
        leading_centroids,
        semantic_dedup,
    )
    from breweries_etl_spark.operators.profiling import (
        mergeable_distinct_sketches,
    )
    from breweries_etl_spark.operators.skewjoin import salted_join
    from breweries_etl_spark.operators.text import bigram_lm_scores

    docs = spark.createDataFrame([], DOCS_SCHEMA)
    assert _released_count(bigram_lm_scores(docs)) == 0

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semantic_dedup(emb, leading_centroids(emb, 4), 0.9).count() == 0

    ev = spark.createDataFrame([], "user_id long, event_type string")
    row = mergeable_distinct_sketches(ev, "user_id", "event_type").collect()[0]
    assert row["n_groups"] == 0 and row["n_exact"] == 0

    fact = spark.createDataFrame([], "k long, rid long")
    dim = spark.createDataFrame([Row(dk=1, name="d")])
    assert salted_join(fact, dim, "k", "dk", salt_on="rid").count() == 0

    base = spark.createDataFrame([], "k string, n long")
    delta = spark.createDataFrame([Row(k="a", n=1)])
    merged = {
        r["k"]: r["n"]
        for r in incremental.merge_aggregate_state(
            base, delta, ["k"], {"n": "sum"}
        ).collect()
    }
    assert merged == {"a": 1}


def test_round3_continuation_ops_on_empty(spark):
    from breweries_etl_spark.operators.behavior import rfm_segments, top_event_paths
    from breweries_etl_spark.operators.corpus import (
        paragraph_dedup,
        source_overlap_matrix,
    )
    from breweries_etl_spark.operators.dedup import dedup_exact_keep_best
    from breweries_etl_spark.operators.sampling import weighted_sample
    from breweries_etl_spark.operators.temporal import decayed_user_value
    from breweries_etl_spark.operators.text import (
        collocation_pmi,
        ngram_diversity,
        winnowing_fingerprints,
    )

    docs = spark.createDataFrame(
        [], "doc_id long, text string, source string, n_chars long"
    )
    events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    assert weighted_sample(docs, "doc_id", "n_chars", 10).count() == 0
    assert ngram_diversity(docs).count() == 0
    assert winnowing_fingerprints(docs).count() == 0
    assert collocation_pmi(docs).count() == 0
    assert paragraph_dedup(docs).count() == 0
    assert _released_count(source_overlap_matrix(docs)) == 0
    assert dedup_exact_keep_best(docs).count() == 0
    assert decayed_user_value(events).count() == 0
    assert top_event_paths(events).count() == 0
    assert rfm_segments(events).count() == 0


def test_temperature_weights_on_empty(spark):
    from breweries_etl_spark.operators.clustering import temperature_mix_weights

    docs = spark.createDataFrame([], "doc_id long, lang string")
    assert temperature_mix_weights(docs, "lang").count() == 0


def test_round3_cont2_operators_on_empty(spark):
    """Bloom/CMS/levenshtein/containment/winsorize/robust/rolling/
    downsample/curriculum/cdc/diff all degrade to empty, not crash."""
    import pyspark.sql.functions as F

    from breweries_etl_spark.operators.bloomjoin import bloom_semi_join
    from breweries_etl_spark.operators.corpus import curriculum_buckets
    from breweries_etl_spark.operators.dedup import (
        containment_pairs,
        edit_distance_pairs,
    )
    from breweries_etl_spark.operators.merge import cdc_apply, snapshot_diff
    from breweries_etl_spark.operators.profiling import (
        cms_heavy_hitters,
        robust_scale_stats,
        winsorized_stats,
    )
    from breweries_etl_spark.operators.temporal import (
        downsample_first_per_bucket,
        rolling_time_window,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string, source string, n_chars long")
    empty_events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, value double"
    )
    empty_kv = spark.createDataFrame([], "k long, v double, g string")

    fact = spark.range(5).select(F.col("id").alias("k"))
    assert bloom_semi_join(fact, empty_kv.select("k"), "k", "k").count() == 0
    assert cms_heavy_hitters(empty_kv, "k", threshold=1).count() == 0
    assert edit_distance_pairs(empty_docs).count() == 0
    assert _released_count(containment_pairs(empty_docs)) == 0
    assert winsorized_stats(empty_kv, "v", "g").count() == 0
    assert _released_count(robust_scale_stats(empty_kv, "v", "g")) == 0
    assert rolling_time_window(empty_events).count() == 0
    assert downsample_first_per_bucket(empty_events).count() == 0
    assert curriculum_buckets(empty_docs).count() == 0
    base = spark.createDataFrame([(1, "a")], "k long, payload string")
    empty_chg = spark.createDataFrame(
        [], "k long, version long, op string, payload string"
    )
    assert cdc_apply(base, empty_chg, "k").count() == 1  # base passes through
    assert snapshot_diff(base, base, "k").count() == 1  # all unchanged


def test_round9_stats_on_empty(spark):
    """The round-9 single-row statistics must not crash on empty
    input; aggregate-rooted shapes still emit their one row (with
    NULL statistics), pair/grid shapes emit zero rows."""
    from pyspark.sql import functions as F

    from breweries_etl_spark.operators.hypotests import (
        brunner_munzel,
        hoeffding_d,
        theil_l_atkinson,
    )
    from breweries_etl_spark.operators.profiling import (
        cronbach_alpha,
        kendalls_w,
        mcc_multiclass,
        rank_biased_overlap,
    )
    from breweries_etl_spark.operators.sampling import (
        capture_recapture_distinct,
    )
    from breweries_etl_spark.operators.temporal import (
        sample_entropy_daily,
        spectral_entropy_daily,
        turning_points_daily,
    )
    from breweries_etl_spark.operators.text import (
        burrows_delta,
        vocab_richness,
    )

    vg = spark.createDataFrame([], "v double, g string")
    ev = spark.createDataFrame([], EVENTS_SCHEMA)
    docs = spark.createDataFrame([], "doc_id long, text string, source string")

    assert brunner_munzel(vg, "v", F.col("g") == "a").count() == 1
    assert theil_l_atkinson(vg, "g", "v").count() == 1
    assert hoeffding_d(vg, "v", "g").count() == 1
    assert cronbach_alpha(
        spark.createDataFrame([], "a double, b double"), ["a", "b"]
    ).count() == 1
    assert mcc_multiclass(
        spark.createDataFrame([], "t string, p string"), "t", "p"
    ).count() == 1
    assert kendalls_w(vg, "g", [F.max("v"), F.count(F.lit(1))]).count() == 1
    assert rank_biased_overlap(
        vg, "g", F.max("v"), F.count(F.lit(1))
    ).count() == 1
    assert capture_recapture_distinct(docs, "text").count() == 1
    assert vocab_richness(docs).count() == 1
    assert turning_points_daily(ev).count() == 1
    assert sample_entropy_daily(ev).count() == 1
    assert spectral_entropy_daily(ev).count() in (0, 1)
    assert burrows_delta(docs).count() == 0
