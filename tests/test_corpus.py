"""Composite training-data prep pipeline: single-scan signal computation,
dedup-by-content, reproducible split."""

from __future__ import annotations

from pyspark.sql import Row

from breweries_etl_spark.operators.corpus import (
    contamination_check,
    training_data_prep,
)


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_prep_single_scan_no_signal_joins(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _explain(training_data_prep(docs))
    # exactly one scan of documents (formatted output names each node
    # twice: once in the tree, once in the details section): all five
    # text signals ride one projection, dedup is a window — no join-back
    assert plan.count("Scan parquet") == 2
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_prep_dedup_and_split_semantics(spark):
    docs = spark.createDataFrame(
        [
            # two exact dups (after normalization) -> one survivor
            Row(doc_id=1, text="The quick brown fox is the best of all the animals in town"),
            Row(doc_id=2, text="the quick brown fox is the best of all the animals in town!"),
            # unique doc, same language/quality band
            Row(doc_id=3, text="And the slow green turtle is of course also one of the animals"),
            # non-English -> filtered out
            Row(doc_id=4, text="el rapido zorro marron y la tortuga verde en la ciudad"),
        ]
    )
    rows = {r["split"]: r for r in training_data_prep(docs, min_quality=0.0).collect()}
    total_docs = sum(r["n_docs"] for r in rows.values())
    assert total_docs == 2  # doc 2 deduped away, doc 4 language-filtered
    assert all(r["total_tokens"] > 0 for r in rows.values())
    # rerun is bit-identical (content-hash split, no randomness)
    again = {r["split"]: r for r in training_data_prep(docs, min_quality=0.0).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows], "doc_id long, text string"
    )


def test_contamination_exact_copy_scores_one(spark):
    train = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta")])
    test = _docs(
        spark,
        [
            (100, "alpha beta gamma delta epsilon zeta"),  # verbatim leak
            (101, "totally unrelated words nothing shared here"),
        ],
    )
    got = {r["doc_id"]: r for r in contamination_check(train, test).collect()}
    assert got[100]["contamination"] == 1.0
    assert got[101]["contamination"] == 0.0
    assert got[101]["n_overlap"] == 0


def test_contamination_partial_overlap(spark):
    # test doc: 6 words -> 4 trigrams; first 2 trigrams come from train
    train = _docs(spark, [(1, "one two three four padding padding")])
    test = _docs(spark, [(100, "one two three four five six")])
    row = contamination_check(train, test).collect()[0]
    # shared trigrams: "one two three", "two three four" -> 2 of 4
    assert row["n_shingles"] == 4 and row["n_overlap"] == 2
    assert row["contamination"] == 0.5


def test_contamination_hot_shingle_no_blowup(spark):
    # one boilerplate trigram shared by MANY train docs must count once
    train = _docs(
        spark, [(i, f"common header line unique{i} tail{i} words{i}") for i in range(50)]
    )
    test = _docs(spark, [(100, "common header line and something else")])
    row = contamination_check(train, test).collect()[0]
    assert row["n_overlap"] == 1  # semi-join: matched at most once


def test_pack_sequences_greedy_invariants(spark):
    from breweries_etl_spark.operators.corpus import pack_sequences

    docs = _docs(
        spark,
        [(i, " ".join(f"w{j}" for j in range(i * 7 % 40 + 1))) for i in range(60)],
    )
    out = pack_sequences(docs, budget=50, n_shards=4).collect()
    assert len(out) == 60
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["doc_id"])
        # bin ids are contiguous, non-decreasing in doc order
        bins = [r["bin_idx"] for r in rows]
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
        # each bin within budget (unless single oversized doc), and greedy:
        # first doc of next bin would NOT have fit in the previous one
        totals = {}
        for r in rows:
            totals[r["bin_idx"]] = totals.get(r["bin_idx"], 0) + r["n_tokens"]
        for b, tot in totals.items():
            n_in_bin = sum(1 for r in rows if r["bin_idx"] == b)
            assert tot <= 50 or n_in_bin == 1
        for prev, cur in zip(rows, rows[1:]):
            if cur["bin_idx"] == prev["bin_idx"] + 1:
                assert totals[prev["bin_idx"]] + cur["n_tokens"] > 50


def test_pack_sequences_oversized_doc_gets_own_bin(spark):
    from breweries_etl_spark.operators.corpus import pack_sequences

    docs = _docs(
        spark,
        [
            (1, " ".join(f"a{i}" for i in range(10))),   # 10 tokens
            (2, " ".join(f"b{i}" for i in range(100))),  # oversized
            (3, " ".join(f"c{i}" for i in range(10))),
        ],
    )
    rows = sorted(
        pack_sequences(docs, budget=50, n_shards=1).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [r["bin_idx"] for r in rows] == [0, 1, 2]


def test_chunk_documents_windows_and_trailing(spark):
    import hashlib

    from pyspark.sql import Row

    from breweries_etl_spark.operators.corpus import chunk_documents

    words = [f"w{i}" for i in range(10)]
    docs = [Row(doc_id=1, text=" ".join(words)), Row(doc_id=2, text="!!!")]
    out = chunk_documents(
        spark.createDataFrame(docs), chunk_tokens=4, overlap=1
    ).collect()
    by_idx = {r["chunk_idx"]: r for r in out}
    # stride 3 over 10 tokens -> starts 1,4,7,10
    assert sorted(by_idx) == [0, 1, 2, 3]
    assert [by_idx[i]["start_token"] for i in range(4)] == [1, 4, 7, 10]
    assert [by_idx[i]["n_chunk_tokens"] for i in range(4)] == [4, 4, 4, 1]
    want0 = hashlib.md5(" ".join(words[0:4]).encode()).hexdigest()
    assert by_idx[0]["chunk_md5"] == want0
    # doc 2 normalizes to empty -> no chunks
    assert all(r["doc_id"] == 1 for r in out)


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest
    from pyspark.sql import Row

    from breweries_etl_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_decontaminate_flags_leaked_train_doc(spark):
    """A train doc sharing most shingles with a test doc must be flagged
    for removal; unrelated train docs keep."""
    from pyspark.sql import Row

    from breweries_etl_spark.operators.corpus import decontaminate_train

    train = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
        Row(doc_id=2, text="completely unrelated training material about engines"),
    ])
    test = spark.createDataFrame([
        Row(doc_id=100, text="the quick brown fox jumps over the lazy dog today"),
    ])
    out = {r["doc_id"]: r for r in decontaminate_train(train, test).collect()}
    assert out[1]["contamination"] == 1.0 and not out[1]["keep"]
    assert out[2]["contamination"] == 0.0 and out[2]["keep"]


def test_leakage_safe_split_keeps_neardups_together(spark, sf_dir):
    """Every near-dup cluster must land entirely on one side of the
    split (the leakage a plain per-doc hash split cannot prevent)."""
    from breweries_etl_spark.functions import lifecycle
    from breweries_etl_spark.operators.corpus import leakage_safe_split
    from breweries_etl_spark.operators.dedup import prefix_filtered_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = leakage_safe_split(docs)
    sides = {r["doc_id"]: r["split"] for r in split.collect()}
    clusters = {r["doc_id"]: r["cluster_id"] for r in split.collect()}
    pairs_df = prefix_filtered_jaccard_pairs(docs, threshold=0.5)
    pairs = pairs_df.collect()
    lifecycle.release(pairs_df)
    assert pairs, "testdata should contain near-dup pairs"
    for r in pairs:
        assert sides[r["id_a"]] == sides[r["id_b"]], (r["id_a"], r["id_b"])
        assert clusters[r["id_a"]] == clusters[r["id_b"]]
    # both sides populated
    assert set(sides.values()) == {"train", "test"}


def test_paragraph_dedup_removes_cross_doc_boilerplate(spark):
    from pyspark.sql import Row

    from breweries_etl_spark.operators.corpus import paragraph_dedup

    boiler = " ".join(f"b{i}" for i in range(20))  # exactly one paragraph
    unique1 = " ".join(f"u{i}" for i in range(20))
    unique2 = " ".join(f"v{i}" for i in range(20))
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=boiler + " " + unique1),
            Row(doc_id=2, text=boiler + " " + unique2),  # boiler is 2nd copy
            Row(doc_id=3, text=boiler),  # entirely boilerplate
        ]
    )
    rows = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert rows[1]["n_paras"] == 2 and rows[1]["n_kept"] == 2
    assert rows[1]["new_text"] == boiler + " " + unique1
    # doc 2 loses the boilerplate paragraph but keeps its unique one
    assert rows[2]["n_paras"] == 2 and rows[2]["n_kept"] == 1
    assert rows[2]["new_text"] == unique2
    # doc 3 was only boilerplate -> fully removed, still reported
    assert rows[3]["n_paras"] == 1 and rows[3]["n_kept"] == 0
    assert rows[3]["new_text"] == ""


def test_paragraph_dedup_partitioning_invariant(spark):
    from pyspark.sql import Row

    from breweries_etl_spark.operators.corpus import paragraph_dedup

    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{i % 3}_{j}" for j in range(45))) for i in range(30)]
    )
    a = sorted(map(tuple, paragraph_dedup(df).collect()))
    b = sorted(map(tuple, paragraph_dedup(df.repartition(11)).collect()))
    assert a == b


def test_source_overlap_matrix_counts_shared_shingles(spark):
    from pyspark.sql import Row

    from breweries_etl_spark.functions import lifecycle
    from breweries_etl_spark.operators.corpus import source_overlap_matrix

    shared = "alpha beta gamma"  # one shared trigram
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=shared + " one two", source="a"),
            Row(doc_id=2, text=shared + " three four", source="b"),
            Row(doc_id=3, text="totally different words here", source="c"),
        ]
    )
    overlap = source_overlap_matrix(df)
    rows = {(r["source_a"], r["source_b"]): r for r in overlap.collect()}
    lifecycle.release(overlap)
    assert ("a", "b") in rows
    ab = rows[("a", "b")]
    assert ab["n_shared"] == 1
    # each side has 3 trigrams (5 words), shared 1 -> jaccard 1/5
    assert abs(ab["jaccard"] - 0.2) < 1e-9
    assert ("a", "c") not in rows and ("b", "c") not in rows
