"""Round-4 operators: bigram LM scoring, incremental aggregate
maintenance, SemDeDup, mergeable HLL sketches, salted skew join, and
the Python UDTF surface."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from breweries_etl_spark.functions import lifecycle
from breweries_etl_spark.operators import clustering, incremental, text
from breweries_etl_spark.operators.profiling import mergeable_distinct_sketches
from breweries_etl_spark.operators.skewjoin import heavy_keys, salted_join
from breweries_etl_spark.sources.tables import load_events, load_table


# ---------------------------------------------------------------- bigram LM
def test_bigram_lm_matches_hand_computation(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b a b"), Row(doc_id=2, text="a b c")]
    )
    scores = text.bigram_lm_scores(docs)
    out = {r["doc_id"]: r for r in scores.collect()}
    lifecycle.release(scores)
    # corpus bigrams: doc1 -> (a,b),(b,a),(a,b); doc2 -> (a,b),(b,c)
    # counts: c2(a,b)=3, c2(b,a)=1, c2(b,c)=1; c1(a)=3, c1(b)=2; V=3
    v, al = 3, 0.5

    def lp(c2, c1):
        return round(math.log((c2 + al) / (c1 + al * v)), 6)

    lp_ab, lp_ba, lp_bc = lp(3, 3), lp(1, 2), lp(1, 2)

    def micro(x):
        return int(round(x * 1e6))

    d1 = (micro(lp_ab) + micro(lp_ba) + micro(lp_ab)) / (3 * 1e6)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["avg_logprob"] == pytest.approx(round(d1, 6), abs=1e-9)
    d2 = (micro(lp_ab) + micro(lp_bc)) / (2 * 1e6)
    assert out[2]["n_bigrams"] == 2
    assert out[2]["avg_logprob"] == pytest.approx(round(d2, 6), abs=1e-9)
    assert out[1]["ppl"] == pytest.approx(
        round(math.exp(-out[1]["avg_logprob"]), 3), abs=1e-9
    )


def test_bigram_lm_skips_short_and_null_docs(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="solo"),
            Row(doc_id=2, text=None),
            Row(doc_id=3, text="two tokens"),
        ]
    )
    scores = text.bigram_lm_scores(docs)
    rows = scores.collect()
    lifecycle.release(scores)
    assert {r["doc_id"] for r in rows} == {3}


# ------------------------------------------------- incremental maintenance
def test_incremental_merge_equals_full_recompute(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    keys = ["o_orderstatus", "o_orderpriority"]

    def state(rows):
        return rows.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev"),
            F.min("o_orderdate").alias("first_dt"),
            F.max("o_orderdate").alias("last_dt"),
        )

    cutoff = "1995-07-01"
    merged = incremental.merge_aggregate_state(
        state(orders.filter(F.col("o_orderdate") < cutoff)),
        state(orders.filter(F.col("o_orderdate") >= cutoff)),
        keys,
        {"n": "sum", "rev": "sum", "first_dt": "min", "last_dt": "max"},
    )
    full = state(orders)
    got = {tuple(r[k] for k in keys): r for r in merged.collect()}
    want = {tuple(r[k] for k in keys): r for r in full.collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g["n"] == w["n"]
        assert g["rev"] == w["rev"]
        assert g["first_dt"] == w["first_dt"]
        assert g["last_dt"] == w["last_dt"]


def test_incremental_merge_key_only_on_one_side(spark):
    base = spark.createDataFrame([Row(k="a", n=2), Row(k="b", n=1)])
    delta = spark.createDataFrame([Row(k="b", n=4), Row(k="c", n=7)])
    got = {
        r["k"]: r["n"]
        for r in incremental.merge_aggregate_state(
            base, delta, ["k"], {"n": "sum"}
        ).collect()
    }
    assert got == {"a": 2, "b": 5, "c": 7}


# ------------------------------------------------------------- SemDeDup
def test_semantic_dedup_drops_higher_id_near_copy(spark):
    # two tight pairs + one singleton; centroids = 2 leading vectors
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.999, 0.01, 0.0]),   # near-copy of 1
        Row(vec_id=4, embedding=[0.0, 0.998, 0.02]),   # near-copy of 2
        Row(vec_id=5, embedding=[0.0, 0.0, 1.0]),      # lone vector
    ]
    emb = spark.createDataFrame(rows)
    cents = clustering.leading_centroids(emb, 2)
    out = {
        r["vec_id"]: r
        for r in clustering.semantic_dedup(emb, cents, 0.99).collect()
    }
    assert out[1]["keep"] and out[2]["keep"] and out[5]["keep"]
    assert not out[3]["keep"] and not out[4]["keep"]
    assert len(out) == 5


def test_semantic_dedup_blocks_by_cluster(spark):
    # identical vectors that land in DIFFERENT clusters survive — the
    # n² pass never crosses cluster boundaries (SemDeDup's contract).
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0]),
        # equidistant-ish: assigned to cluster of 1 (higher sim wins)
        Row(vec_id=3, embedding=[0.9, 0.45]),
    ]
    emb = spark.createDataFrame(rows)
    cents = clustering.leading_centroids(emb, 2)
    out = {
        r["vec_id"]: r["keep"]
        for r in clustering.semantic_dedup(emb, cents, 0.999).collect()
    }
    assert out == {1: True, 2: True, 3: True}


# ------------------------------------------------------------- HLL merge
def test_hll_merge_within_tolerance_and_exact_count(spark, sf_dir):
    out = mergeable_distinct_sketches(
        load_events(spark, sf_dir), "user_id", "event_type"
    ).collect()
    assert len(out) == 1
    row = out[0]
    exact = (
        load_events(spark, sf_dir)
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()[0]["n"]
    )
    assert row["n_exact"] == exact
    assert row["est_ok"] is True


# --------------------------------------------------------- salted skew join
def test_salted_join_equals_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    salted = (
        salted_join(
            li, sup, "l_suppkey", "s_suppkey", n_salts=4, heat_factor=2.0,
            salt_on="l_orderkey", force_shuffle=True,
        )
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plain = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {r["s_nationkey"]: r["n"] for r in salted.collect()}
    want = {r["s_nationkey"]: r["n"] for r in plain.collect()}
    assert got == want


def test_salted_join_spreads_heavy_key_over_salts(spark):
    # 1000 rows on hot key 7, 10 on each of 1..5: key 7 is heavy at
    # factor 4 and its rows must fan out over >1 salt bucket, while
    # light keys all stay in bucket 0.
    fact = spark.range(1000).select(
        F.lit(7).alias("k"), F.col("id").alias("rid")
    ).unionByName(
        spark.range(50).select(
            (F.col("id") % 5 + 1).alias("k"), (F.col("id") + 10_000).alias("rid")
        )
    )
    dim = spark.createDataFrame([Row(dk=i, name=f"d{i}") for i in [1, 2, 3, 4, 5, 7]])
    hk = {r["k"] for r in heavy_keys(fact, "k", 4.0).collect()}
    assert hk == {7}
    joined = salted_join(
        fact, dim, "k", "dk", n_salts=4, heat_factor=4.0,
        salt_on="rid", force_shuffle=True,
    )
    assert joined.count() == 1050  # result invariance
    spread = (
        fact.filter(F.col("k") == 7)
        .select(F.pmod(F.xxhash64(F.col("rid")), F.lit(4)).alias("s"))
        .distinct()
        .count()
    )
    assert spread > 1  # the hot key's rows really do fan out


# ------------------------------------------------------------------- UDTF
def test_split_sentences_udtf(spark):
    from breweries_etl_spark.operators.udtfs import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame(
        [Row(doc_id=1, text="Hello there. How are you?  Fine!"),
         Row(doc_id=2, text="..."), Row(doc_id=3, text=None)]
    ).createOrReplaceTempView("t_udtf")
    rows = spark.sql(
        "SELECT d.doc_id, s.sent_idx, s.sentence, s.n_chars "
        "FROM t_udtf d, LATERAL split_sentences(d.text) s"
    ).collect()
    got = {(r["doc_id"], r["sent_idx"]): (r["sentence"], r["n_chars"]) for r in rows}
    assert got == {
        (1, 0): ("Hello there", 11),
        (1, 1): ("How are you", 11),
        (1, 2): ("Fine", 4),
    }


# ------------------------------------------- streaming aggregate merge
def test_streaming_aggregate_merge_equals_batch(spark, sf_dir, tmp_path):
    from breweries_etl_spark.streaming.merge_sink import (
        read_latest_snapshot,
        streaming_aggregate_merge_sink,
    )

    events = load_events(spark, sf_dir).select("event_type", "value")
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    events.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_aggregate_merge_sink(
        stream, tbl, ["event_type"], count_col="n",
        sum_col="sv", sum_src="value", query_name="t_gold_merge",
    )
    q.awaitTermination()
    got = {
        r["event_type"]: (r["n"], float(r["sv"]))
        for r in read_latest_snapshot(spark, tbl).collect()
    }
    want = {
        r["event_type"]: (r["n"], float(r["sv"]))
        for r in events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
        )
        .collect()
    }
    assert got == want


def test_semantic_dedup_strategies_agree(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = clustering.leading_centroids(emb, 4)
    a = {
        (r["vec_id"], r["cluster_id"], r["keep"])
        for r in clustering.semantic_dedup(
            emb, cents, 0.35, strategy="pandas"
        ).collect()
    }
    b = {
        (r["vec_id"], r["cluster_id"], r["keep"])
        for r in clustering.semantic_dedup(
            emb, cents, 0.35, strategy="expr"
        ).collect()
    }
    assert a == b


def test_vacuum_snapshots_keeps_committed(spark, tmp_path):
    import os

    from breweries_etl_spark.streaming.merge_sink import (
        read_latest_snapshot,
        vacuum_snapshots,
    )

    tbl = str(tmp_path / "tbl")
    os.makedirs(tbl)
    for epoch in range(4):
        spark.createDataFrame([Row(k="a", n=epoch)]).write.mode(
            "overwrite"
        ).parquet(os.path.join(tbl, f"v{epoch}"))
    with open(os.path.join(tbl, "_LATEST"), "w") as fh:
        fh.write("v3")
    removed = vacuum_snapshots(tbl, keep_last=1)
    assert removed == ["v0", "v1", "v2"]
    assert read_latest_snapshot(spark, tbl).collect()[0]["n"] == 3
    # idempotent; keep_last honored when pointer lags behind newest dir
    assert vacuum_snapshots(tbl, keep_last=1) == []


def test_perplexity_buckets_tercile_sizes_and_order(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    buckets = text.perplexity_buckets(docs)
    out = buckets.collect()
    lifecycle.release(buckets)
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        sizes = [0, 0, 0]
        for r in rows:
            sizes[r["bucket"] - 1] += 1
        # ntile: sizes differ by at most 1, head never smaller than tail
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        # every head ppl <= every tail ppl within the language
        head = [r["ppl"] for r in rows if r["slice"] == "head"]
        tail = [r["ppl"] for r in rows if r["slice"] == "tail"]
        if head and tail:
            assert max(head) <= min(tail), lang
