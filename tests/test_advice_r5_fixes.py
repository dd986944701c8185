"""Pin the round-5 advice closures:

1. streaming._batch_cents rounds HALF-UP per value (matching the
   oracle's CAST AS DECIMAL(12,2) in DuckDB), not pandas half-to-even
   — exercised on an exact-in-binary half-cent tie (0.125).
2. heavy_keys / salted_join hand the per-key-count persist over on the
   lifecycle handle of the returned frame so long-lived callers can
   free it deterministically.
3. perplexity_buckets carries the bigram-count cache on
   the FINAL frame's handle (the r5 form stranded it on the dropped
   intermediate).
"""

from __future__ import annotations

import pandas as pd

from breweries_etl_spark.functions import lifecycle
from breweries_etl_spark.streaming.stateful import _batch_cents


def test_batch_cents_half_up_on_exact_tie():
    # 0.125 is exact in binary: *100 = 12.5 exactly. Half-up => 13;
    # pandas round(2) (half-to-even) would give 0.12 => 12.
    assert _batch_cents(pd.Series([0.125])) == (13, 1)
    assert _batch_cents(pd.Series([-0.125])) == (-13, 1)
    # DuckDB replay of the same tie: CAST(0.125 AS DECIMAL(12,2)) = 0.13
    import duckdb

    assert duckdb.sql(
        "SELECT CAST(CAST(0.125 AS DOUBLE) AS DECIMAL(12,2)) * 100"
    ).fetchone()[0] == 13


def test_batch_cents_plain_values():
    assert _batch_cents(pd.Series([1.0, 2.5, 0.01])) == (351, 3)
    assert _batch_cents(pd.Series([], dtype="float64")) == (0, 0)
    # NULLs drop (SQL SUM semantics) instead of poisoning the int cast
    assert _batch_cents(pd.Series([1.0, None, 2.0])) == (300, 2)
    assert _batch_cents(pd.Series([None], dtype="float64")) == (0, 0)


def test_salted_join_propagates_heavy_cache(spark):
    from breweries_etl_spark.operators.skewjoin import heavy_keys, salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(100)] + [(2, 0), (3, 1)],
        schema="k long, row long",
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k2 long, v string")
    heavy = heavy_keys(fact, "k")
    (cache,) = lifecycle.handle(heavy).frames
    assert cache.storageLevel.useMemory
    lifecycle.release(heavy)

    joined = salted_join(fact, dim, "k", "k2", salt_on="row")
    assert joined.count() == 102
    (cache,) = lifecycle.handle(joined).frames
    assert cache.storageLevel.useMemory
    lifecycle.release(joined)
    assert not cache.storageLevel.useMemory


def test_perplexity_buckets_propagates_bigram_cache(spark):
    from breweries_etl_spark.operators.text import perplexity_buckets

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog", "en") for i in range(6)],
        schema="doc_id long, text string, lang string",
    )
    out = perplexity_buckets(docs)
    assert out.count() == 6
    (cache,) = lifecycle.handle(out).frames
    assert cache.storageLevel.useMemory
    lifecycle.release(out)
    assert not cache.storageLevel.useMemory
