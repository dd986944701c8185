"""Registry integrity: the driver treats a query with no oracle_sql()
entry as rows-only SILENTLY, so a typo'd oracle key would downgrade a
hash-matched query without any test failing. Pin the exact rows-only
set and cross-check every tool's query list against the registry."""

from __future__ import annotations

import ast

import __spark_entry__ as entrymod
from breweries_etl_spark.plans import analytics

# the four documented not-SQL-replayable queries (COVERAGE.md
# "Rows-only ↔ exact-twin pairing")
ALLOWED_ROWS_ONLY = {
    "approx_distinct_users",
    "approx_order_percentiles",
    "dedup_minhash_pairs",
    "similarity_ivf_topk",
}


def test_every_query_is_oracled_or_documented_rows_only():
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert qs - oracles == ALLOWED_ROWS_ONLY


def test_no_orphan_oracles():
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert oracles - qs == set()


def test_bench_headline_queries_exist():
    from bench import HEADLINE

    qs = set(entrymod.queries())
    assert set(HEADLINE) - qs == set()
    assert len(HEADLINE) == len(set(HEADLINE))


def test_scale_probe_queries_exist():
    from tools.scale_probe import QUERIES

    qs = set(entrymod.queries())
    assert set(QUERIES) - qs == set()


def test_dump_plans_queries_exist():
    from tools.dump_plans import INTERESTING

    qs = set(entrymod.queries())
    assert set(INTERESTING) - qs == set()


def _top_level_defs(module) -> list[str]:
    with open(module.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    return [n.name for n in tree.body if isinstance(n, ast.FunctionDef)]


def test_query_sources_are_disjoint():
    # a q_tpch_q1 would otherwise silently shadow analytics.tpch_q1
    own = {n[2:] for n in _top_level_defs(entrymod) if n.startswith("q_")}
    relational = {n for n in _top_level_defs(analytics) if not n.startswith("_")}
    assert own & relational == set()
    assert len(entrymod.queries()) == len(own) + len(relational)
