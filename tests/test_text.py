"""Text-analysis operator outputs (normalization, shingles, stats, lang)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from breweries_etl_spark.functions import lifecycle
from breweries_etl_spark.operators.text import (
    fingerprint,
    lang_id,
    normalize_text_expr,
    quality_score,
    shingles_expr,
    text_stats,
)


def _one(spark, expr, text):
    df = spark.createDataFrame([Row(text=text)], "text string")
    return df.select(expr.alias("y")).first()["y"]


def test_normalize(spark):
    assert _one(spark, normalize_text_expr(F.col("text")), "  Hello,   WORLD!! 42 ") == "hello world 42"


def test_shingles_basic(spark):
    got = _one(spark, shingles_expr(F.col("text"), 3), "a b c d")
    assert got == ["a b c", "b c d"]


def test_shingles_short_text_empty(spark):
    # fewer words than n must yield [], not descending-sequence garbage
    assert _one(spark, shingles_expr(F.col("text"), 3), "a b") == []


def test_shingles_dedup(spark):
    got = _one(spark, shingles_expr(F.col("text"), 2), "x y x y x")
    assert sorted(got) == ["x y", "y x"]


def test_text_stats_values(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="The cat, the hat!")])
    row = text_stats(df).first()
    assert row["n_tokens"] == 4
    assert row["n_punct"] == 2
    assert row["n_alnum_chars"] == 12  # Thecatthehat
    assert row["stopword_ratio"] == 0.25  # case-sensitive: only lowercase 'the' hits


def test_quality_score_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mm = quality_score(docs).agg(
        F.min("quality_score").alias("lo"), F.max("quality_score").alias("hi")
    ).first()
    assert 0.0 <= mm["lo"] <= mm["hi"] <= 1.0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat and the dog of to in"),
            Row(doc_id=2, text="el que la los y en"),
            Row(doc_id=3, text="zzz qqq www"),
            Row(doc_id=4, text="中文文本"),
        ]
    )
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "unknown", 4: "zh"}


def test_token_counts_three_ways(spark):
    from breweries_etl_spark.operators.text import token_counts

    df = spark.createDataFrame([Row(doc_id=1, text="hello world42 x! y")])
    r = token_counts(df).first()
    assert r["n_ws_tokens"] == 4     # hello / world42 / x! / y
    assert r["n_word_tokens"] == 4   # hello, world42, x, y
    assert r["n_bpe_tokens"] == 6    # hello, world, 42, x, !, y


def test_rolling_hash_known_value(spark):
    from breweries_etl_spark.operators.text import rolling_hash

    df = spark.createDataFrame([Row(doc_id=1, text="Ab c")])  # normalizes to "ab c"
    got = rolling_hash(df).first()["rolling_hash"]
    expect = 0
    for ch in "ab c":
        expect = (expect * 31 + ord(ch)) % 1_000_000_007
    assert got == expect


def test_fingerprint_stable_and_content_defined(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=2, text="  Alpha BETA gamma, delta epsilon zeta!"),  # same normalized
            Row(doc_id=3, text="totally different words here now ok"),
        ]
    )
    fp = fingerprint(df)
    rows = {r["doc_id"]: r for r in fp.collect()}
    lifecycle.release(fp)
    assert rows[1]["fingerprint"] == rows[2]["fingerprint"]
    assert rows[1]["content_md5"] == rows[2]["content_md5"]
    assert rows[1]["fingerprint"] != rows[3]["fingerprint"]


def test_feature_hash_counts_fixed_width_and_case_folded(spark):
    from pyspark.sql import Row

    from breweries_etl_spark.operators.text import feature_hash_counts

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Apple apple APPLE banana"),
            Row(doc_id=2, text="banana"),
        ],
        "doc_id long, text string",
    )
    rows = feature_hash_counts(df, dim=64).collect()
    assert all(0 <= r["feature_idx"] < 64 for r in rows)
    d1 = {r["feature_idx"]: r["n"] for r in rows if r["doc_id"] == 1}
    d2 = {r["feature_idx"]: r["n"] for r in rows if r["doc_id"] == 2}
    # case folding: three apples collapse into one bucket with count 3
    assert sorted(d1.values()) == [1, 3]
    # same token -> same feature index in every doc (no vocabulary drift)
    (banana_idx,) = d2.keys()
    assert d1[banana_idx] == 1 and d2[banana_idx] == 1


def test_token_zipf_stats_matches_numpy(spark):
    """Zipf slope equals the numpy log-log OLS on a hand-built corpus
    with a known frequency ladder."""
    import numpy as np

    from breweries_etl_spark.operators.text import token_zipf_stats

    # counts: aa=8, bb=4, cc=2, dd=1
    text = " ".join(["aa"] * 8 + ["bb"] * 4 + ["cc"] * 2 + ["dd"])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = token_zipf_stats(df, k=4).first()
    assert row["n_tokens"] == 15 and row["n_distinct"] == 4
    assert row["top_token"] == "aa" and row["top_count"] == 8
    x = np.log(np.arange(1, 5))
    y = np.log(np.array([8.0, 4.0, 2.0, 1.0]))
    slope = ((len(x) * (x * y).sum() - x.sum() * y.sum())
             / (len(x) * (x * x).sum() - x.sum() ** 2))
    assert abs(row["zipf_slope"] - round(slope, 6)) < 1e-6


def test_fingerprint_release_leaves_no_persisted_rdds(spark):
    """fingerprint hands its corpus-scale (md5, shingles) cache over with
    the result, same contract as the near-dup pipelines; once the result
    is released nothing may stay pinned."""
    from breweries_etl_spark.operators.text import fingerprint

    spark.catalog.clearCache()
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    fp = fingerprint(df)
    fp.collect()
    lifecycle.release(fp)
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    assert persistent.size() == 0, f"leaked {persistent.size()} persisted RDDs"


def test_ngram_diversity_counts_multiplicity(spark):
    from pyspark.sql import Row

    from breweries_etl_spark.operators.text import ngram_diversity

    df = spark.createDataFrame(
        [
            # "a b a b a" -> trigrams: "a b a", "b a b", "a b a" (3 total, 2 distinct)
            Row(doc_id=1, text="a b a b a", source="s1"),
            # too short for a trigram -> contributes nothing
            Row(doc_id=2, text="a b", source="s1"),
            # distinct trigrams only
            Row(doc_id=3, text="x y z w", source="s2"),
        ]
    )
    rows = {r["source"]: r for r in ngram_diversity(df).collect()}
    assert rows["s1"]["total_ngrams"] == 3
    assert rows["s1"]["distinct_ngrams"] == 2
    assert abs(rows["s1"]["diversity"] - round(2 / 3, 6)) < 1e-9
    assert rows["s2"]["total_ngrams"] == 2
    assert rows["s2"]["distinct_ngrams"] == 2
    assert rows["s2"]["diversity"] == 1.0


def test_winnowing_shared_run_guarantee(spark):
    from pyspark.sql import Row

    from breweries_etl_spark.operators.text import winnowing_fingerprints

    # winnowing guarantee (k=4, w=5): any shared run of w+k-1 = 8 words
    # yields at least one common fingerprint
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="one two three " + shared + " four five"),
            Row(doc_id=2, text=shared + " completely different tail words here"),
            Row(doc_id=3, text="nothing in common with the others at all okay"),
        ]
    )
    out = winnowing_fingerprints(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2], "shared 8-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])


def test_winnowing_short_docs_no_rows(spark):
    from pyspark.sql import Row

    from breweries_etl_spark.operators.text import winnowing_fingerprints

    df = spark.createDataFrame(
        [Row(doc_id=1, text="only three words"), Row(doc_id=2, text="a b c d e f g")]
    )
    # doc 1: no 4-grams at all; doc 2: 4 grams < w=5 -> no full window
    assert winnowing_fingerprints(df).count() == 0


def test_collocation_pmi_ranks_planted_pair(spark):
    from pyspark.sql import Row

    from breweries_etl_spark.operators.text import collocation_pmi

    # "san francisco" always adjacent; filler tokens vary
    rows = [
        Row(doc_id=i, text=f"f{i} san francisco g{i} h{i} i{i} j{i}")
        for i in range(10)
    ]
    out = collocation_pmi(spark.createDataFrame(rows), min_count=5, k=5).collect()
    assert out, "planted collocation must pass the min-count floor"
    assert (out[0]["w1"], out[0]["w2"]) == ("san", "francisco")
    assert out[0]["c_ab"] == 10 and out[0]["pmi"] > 0
