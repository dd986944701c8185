"""Dedup operators: exact, MinHash/LSH recall on planted near-dups,
SimHash determinism, Jaccard exactness."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from breweries_etl_spark.functions import lifecycle
from breweries_etl_spark.operators.dedup import (
    dedup_exact,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_signatures,
)

DOCS = [
    Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
    Row(doc_id=2, text="The quick  brown fox jumps over the lazy dog today!"),  # near-exact
    Row(doc_id=3, text="the quick brown fox jumps over the lazy cat today"),  # 1-word diff
    Row(doc_id=4, text="completely unrelated content about spark query engines"),
]


def test_dedup_exact_normalized(spark):
    df = spark.createDataFrame(DOCS)
    out = dedup_exact(df).collect()
    # docs 1 and 2 normalize identically -> one group keeps min id 1
    ids = sorted(r["doc_id"] for r in out)
    assert ids == [1, 3, 4]


def test_ngram_jaccard_finds_planted_pair(spark):
    df = spark.createDataFrame(DOCS)
    out = ngram_jaccard_pairs(df, threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    lifecycle.release(out)
    assert pairs[(1, 2)] == 1.0  # identical after normalization
    assert (1, 3) in pairs  # high overlap
    assert all(4 not in p for p in pairs)


def test_minhash_catches_what_exact_catches(spark):
    df = spark.createDataFrame(DOCS)
    exact_df = ngram_jaccard_pairs(df, threshold=0.5)
    mh_df = minhash_near_duplicates(df, threshold=0.5)
    exact = {(r["id_a"], r["id_b"]) for r in exact_df.collect()}
    mh = {(r["id_a"], r["id_b"]) for r in mh_df.collect()}
    lifecycle.release(exact_df)
    lifecycle.release(mh_df)
    # identical pair must always collide in every band
    assert (1, 2) in mh
    # minhash output is a subset of the exact threshold-join
    assert mh <= exact


def test_minhash_signature_shape_and_determinism(spark):
    df = spark.createDataFrame(DOCS)
    s1 = minhash_signatures(df).select("doc_id", "signature").collect()
    s2 = minhash_signatures(df).select("doc_id", "signature").collect()
    assert {r["doc_id"]: r["signature"] for r in s1} == {
        r["doc_id"]: r["signature"] for r in s2}
    assert all(len(r["signature"]) == 32 for r in s1)


def test_simhash_identical_docs_zero_distance(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="spark engine test"), Row(doc_id=2, text="spark engine test")]
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    out = simhash_near_duplicates(df)
    pairs = out.collect()
    lifecycle.release(out)
    assert len(pairs) == 1 and pairs[0]["hamming"] == 0


def test_planted_neardups_in_testdata(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = ngram_jaccard_pairs(docs, threshold=0.5)
    mh = minhash_near_duplicates(docs, threshold=0.5)
    n_exact, n_mh = exact.count(), mh.count()
    lifecycle.release(exact)
    lifecycle.release(mh)
    assert n_exact > 0  # the generator plants near-duplicates
    # LSH with 8x4 bands at j>=0.5: collision prob per planted pair ~1;
    # allow a little slack but demand high recall
    assert n_mh >= 0.8 * n_exact


def test_neardup_release_leaves_no_persisted_rdds(spark):
    """The near-dup pipelines hand their corpus-scale intermediates over
    with the result; once each result is released nothing may stay
    pinned."""
    spark.catalog.clearCache()  # drop caches left by lazy inspection helpers
    df = spark.createDataFrame(DOCS)
    for op in (minhash_near_duplicates, ngram_jaccard_pairs, simhash_near_duplicates):
        out = op(df)
        out.collect()
        lifecycle.release(out)
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    assert persistent.size() == 0, f"leaked {persistent.size()} persisted RDDs"


def test_ngram_df_cap_bounds_boilerplate_blowup(spark):
    """One boilerplate line shared by every doc must not square the
    candidate join: with max_df below the corpus size, pairs whose only
    shared content is the boilerplate are not even generated."""
    boiler = "subscribe to our newsletter for daily updates and offers"
    docs = [
        Row(doc_id=i, text=f"unique document body number {i} alpha beta {boiler}")
        for i in range(20)
    ]
    df = spark.createDataFrame(docs)
    capped_df = ngram_jaccard_pairs(df, threshold=0.1, max_df=10)
    uncapped_df = ngram_jaccard_pairs(df, threshold=0.1, max_df=None)
    capped, uncapped = capped_df.collect(), uncapped_df.collect()
    lifecycle.release(capped_df)
    lifecycle.release(uncapped_df)
    # every shared shingle has df=20 > cap -> no candidates at all
    assert len(capped) == 0
    # ground truth without the cap: all 190 pairs share the boilerplate
    assert len(uncapped) == 190


def test_ngram_df_cap_preserves_rare_shingle_pairs(spark):
    """A true near-dup pair sharing at least one rare shingle survives
    the cap even when it also shares boilerplate."""
    boiler = "standard legal disclaimer text appended to every page"
    docs = [Row(doc_id=i, text=f"filler body {i} {boiler}") for i in range(10)]
    docs += [
        Row(doc_id=100, text=f"rare payload sentence about spark engines {boiler}"),
        Row(doc_id=101, text=f"rare payload sentence about spark engines {boiler}"),
    ]
    df = spark.createDataFrame(docs)
    out = ngram_jaccard_pairs(df, threshold=0.5, max_df=5)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    lifecycle.release(out)
    assert (100, 101) in pairs


def test_prefix_incremental_equals_ground_truth(spark, sf_dir):
    """Cross-set prefix filtering must find EXACTLY the incoming×base
    pairs with Jaccard >= t (no false negatives by the prefix lemma
    under the base-df order; verification removes false positives)."""
    import itertools
    import re

    from breweries_etl_spark.operators.dedup import prefix_jaccard_incremental

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    incoming = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    out = prefix_jaccard_incremental(base, incoming, threshold=0.5)
    got = {(r["incoming_id"], r["base_id"]): r["jaccard"] for r in out.collect()}
    lifecycle.release(out)

    def shingles(text):
        norm = re.sub(r" +", " ", re.sub(r"[^a-z0-9]+", " ", (text or "").lower())).strip()
        w = norm.split(" ") if norm else []
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    base_rows = {r["doc_id"]: shingles(r["text"]) for r in base.select("doc_id", "text").collect()}
    inc_rows = {r["doc_id"]: shingles(r["text"]) for r in incoming.select("doc_id", "text").collect()}
    expected = {}
    for (iid, si), (bid, sb) in itertools.product(inc_rows.items(), base_rows.items()):
        if not si or not sb:
            continue
        j = len(si & sb) / len(si | sb)
        if j >= 0.5:
            expected[(iid, bid)] = round(j, 6)
    assert set(got) == set(expected)
    for k in expected:
        assert abs(got[k] - expected[k]) < 1e-6
    assert expected, "fixture should contain at least one incremental match"


def test_dedup_exact_keep_best_prefers_high_score(spark):
    from pyspark.sql import Row

    from breweries_etl_spark.operators.dedup import dedup_exact_keep_best

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Same Content!", n_chars=13),
            Row(doc_id=2, text="same content", n_chars=99),  # best copy
            Row(doc_id=3, text="same  CONTENT ", n_chars=14),
            Row(doc_id=4, text="unique", n_chars=6),
        ]
    )
    rows = {r["doc_id"]: r for r in dedup_exact_keep_best(df).collect()}
    assert set(rows) == {2, 4}
    assert rows[2]["n_copies"] == 3 and rows[2]["n_chars"] == 99
    assert rows[4]["n_copies"] == 1


def test_dedup_exact_keep_best_tie_breaks_min_id(spark):
    from pyspark.sql import Row

    from breweries_etl_spark.operators.dedup import dedup_exact_keep_best

    df = spark.createDataFrame(
        [Row(doc_id=9, text="x y z", n_chars=5), Row(doc_id=3, text="x y z", n_chars=5)]
    )
    (row,) = dedup_exact_keep_best(df).collect()
    assert row["doc_id"] == 3
