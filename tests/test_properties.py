"""Property-based tests (hypothesis) for the standardization operators —
the reference's suite asserts no transform outputs at all (SURVEY.md §5);
here the invariants hold for arbitrary inputs, not just fixtures.

One Spark job per example would be minutes-slow, so each property draws a
BATCH of examples and runs them through a single DataFrame pass, comparing
against a plain-Python model of the reference semantics
(ref: U/helpers.py:75-81 and :103-109).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from breweries_etl_spark.config import (
    BREWERY_TYPE_MISS,
    BREWERY_TYPE_NULL,
    STANDARD_BREWERY_TYPES,
)
from breweries_etl_spark.operators.standardize import (
    brewery_type_expr,
    website_url_expr,
)

# Printable ASCII without tab/newline: Spark's trim strips only the ASCII
# space, while Python's strip() eats all whitespace — the model below uses
# strip(' ') to match, and the alphabet avoids the exotic-unicode casing
# divergences that are out of scope for the operator.
TEXTY = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        max_size=30,
    ),
    st.sampled_from(
        [" Micro ", "NANO", "brewpub", "", "  ", "taproom", "http://x.io",
         "https://a.b", "www.c.d", " padded.com "]
    ),
)


def model_type(v: str | None) -> str:
    if v is None:
        return BREWERY_TYPE_NULL
    return STANDARD_BREWERY_TYPES.get(v.strip(" ").lower(), BREWERY_TYPE_MISS)


def model_url(v: str | None) -> str | None:
    if v is None:
        return None
    t = v.strip(" ")
    if t == "":
        return None
    if t.startswith(("http://", "https://")):
        return t
    return "http://" + t


@settings(max_examples=10, deadline=None)
@given(st.lists(TEXTY, min_size=1, max_size=50))
def test_brewery_type_recode_matches_model(spark, values):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, x string")
    got = {
        r["i"]: r["y"]
        for r in df.select("i", brewery_type_expr(F.col("x")).alias("y")).collect()
    }
    for i, v in enumerate(values):
        assert got[i] == model_type(v), repr(v)


@settings(max_examples=10, deadline=None)
@given(st.lists(TEXTY, min_size=1, max_size=50))
def test_url_normalization_matches_model(spark, values):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, x string")
    got = {
        r["i"]: r["y"]
        for r in df.select("i", website_url_expr(F.col("x")).alias("y")).collect()
    }
    for i, v in enumerate(values):
        assert got[i] == model_url(v), repr(v)


# ---- prefix-filtered Jaccard: the no-false-negative lemma, fuzzed ----

WORDS = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]),
    min_size=0,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(st.lists(WORDS, min_size=2, max_size=8), st.sampled_from([0.3, 0.5, 0.8]))
def test_prefix_filter_equals_brute_force(spark, docs_words, threshold):
    """For ANY corpus and threshold, prefix filtering must return exactly
    the Jaccard >= t pairs (lemma: a qualifying pair shares a shingle in
    both rarity-ordered prefixes; verification kills false positives).
    Small alphabet + short docs maximize collisions, duplicate shingles,
    empty docs, and ceil-boundary prefix lengths."""
    from pyspark.sql import Row

    from breweries_etl_spark.functions import lifecycle
    from breweries_etl_spark.operators.dedup import prefix_filtered_jaccard_pairs

    rows = [Row(doc_id=i, text=" ".join(w)) for i, w in enumerate(docs_words)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = prefix_filtered_jaccard_pairs(df, threshold=threshold)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    lifecycle.release(pairs)

    def shingles(words):
        return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}

    expected = {}
    sets = {i: shingles(w) for i, w in enumerate(docs_words)}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= threshold:
                    expected[(a, b)] = round(j, 6)
    assert set(got) == set(expected), (got, expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-6


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: for ANY split of the input into
# base/delta slices, merging the per-slice states equals aggregating the
# whole input — the monoid law the materialized-view operator rests on.
# ---------------------------------------------------------------------------

ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", "d"]),        # key
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=0,
    max_size=30,
)


@given(rows=ROWS, split=st.integers(min_value=0, max_value=30))
@settings(max_examples=15, deadline=None)
def test_incremental_merge_monoid_law(spark, rows, split):
    from pyspark.sql import functions as F

    from breweries_etl_spark.operators import incremental

    cut = min(split, len(rows))
    schema = "k string, v long"

    def state(data):
        df = spark.createDataFrame(data, schema) if data else (
            spark.createDataFrame([], schema)
        )
        return df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )

    merged = incremental.merge_aggregate_state(
        state(rows[:cut]),
        state(rows[cut:]),
        ["k"],
        {"n": "sum", "s": "sum", "mn": "min", "mx": "max"},
    )
    got = {r["k"]: (r["n"], r["s"], r["mn"], r["mx"]) for r in merged.collect()}
    want = {}
    for k, v in rows:
        n, s, mn, mx = want.get(k, (0, 0, None, None))
        want[k] = (
            n + 1,
            s + v,
            v if mn is None else min(mn, v),
            v if mx is None else max(mx, v),
        )
    # sum over an empty side contributes 0 via coalesce; a key absent from
    # the input must be absent from the output
    assert got == want


# ---------------------------------------------------------------------------
# BFS levels: for ANY undirected graph — duplicate edges, self-edges, NULL
# endpoints, isolated and NULL sources — and any hop budget, bfs_levels
# equals a plain-Python BFS. Budgets up to 9 cross the CHECKPOINT_EVERY
# block boundary twice; a random path through the graph makes runs that
# converge inside, at and past a block boundary likely.
# ---------------------------------------------------------------------------

NODE = st.one_of(st.none(), st.integers(min_value=0, max_value=11))


def model_bfs(edges, sources, max_hops):
    """Level of every node within ``max_hops`` of a source. A NULL
    endpoint is reached like a node but has no neighbours; a source keeps
    level 0 whether or not it has an edge."""
    adj = {}
    for a, b in edges:
        if a is not None:
            adj.setdefault(a, set()).add(b)
        if b is not None:
            adj.setdefault(b, set()).add(a)
    level = {s: 0 for s in sources}
    frontier = {s for s in sources if s is not None}
    for hop in range(1, max_hops + 1):
        reached = {v for u in frontier for v in adj.get(u, ())} - level.keys()
        level.update((v, hop) for v in reached)
        frontier = reached - {None}
    return level


@settings(max_examples=8, deadline=None)
@given(
    path=st.tuples(st.permutations(range(12)), st.integers(0, 12)).map(
        lambda t: t[0][: t[1]]
    ),
    extra=st.lists(st.tuples(NODE, NODE), max_size=12),
    sources=st.lists(
        st.one_of(NODE, st.integers(min_value=100, max_value=102)),
        min_size=1,
        max_size=4,
    ),
    max_hops=st.integers(min_value=0, max_value=9),
)
def test_bfs_levels_match_python_bfs(spark, path, extra, sources, max_hops):
    from breweries_etl_spark.operators.graph import bfs_levels

    edges = list(zip(path, path[1:])) + extra
    pairs = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(s,) for s in sources], "node long")
    rows = bfs_levels(pairs, seeds, max_hops=max_hops).collect()
    got = {r["node"]: r["level"] for r in rows}
    assert len(got) == len(rows), rows
    assert got == model_bfs(edges, sources, max_hops)


@pytest.mark.parametrize(
    "edges, sources, want",
    [
        ([], [1], {1: 0}),
        ([(1, 2)], [], {}),
        ([], [], {}),
    ],
    ids=["empty-pairs", "empty-sources", "both-empty"],
)
def test_bfs_levels_on_empty_input_returns(spark, edges, sources, want):
    """A budget past the block boundary runs the observed barrier on an
    empty frame; it must report 0 and return, not wait forever."""
    from breweries_etl_spark.operators.graph import bfs_levels

    pairs = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(s,) for s in sources], "node long")
    got = {r["node"]: r["level"] for r in bfs_levels(pairs, seeds, max_hops=9).collect()}
    assert got == want
