"""Registry integrity: the driver treats a query with no oracle_sql()
entry as rows-only SILENTLY, so a typo'd oracle key would downgrade a
hash-matched query without any test failing. Pin the exact rows-only
set and cross-check every tool's query list against the registry."""

from __future__ import annotations

import ast
import importlib
import pathlib

import pytest

import __spark_entry__ as entrymod
from breweries_etl_spark.plans import analytics
from breweries_etl_spark.queries import REGISTRY

QUERIES_DIR = pathlib.Path(entrymod.__file__).parent / "breweries_etl_spark" / "queries"

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


def test_a_second_record_under_a_taken_name_raises():
    from breweries_etl_spark.queries.record import family

    def q_tpch_q1(spark, sf_dir):  # the name analytics.tpch_q1 holds
        raise AssertionError("never built")

    with pytest.raises(ValueError, match="registered twice"):
        family("core")(oracle="SELECT 1")(q_tpch_q1)
    assert REGISTRY["tpch_q1"].build is analytics.tpch_q1


def _top_level_defs(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(encoding="utf-8"))
    return [n.name for n in tree.body if isinstance(n, ast.FunctionDef)]


def test_every_builder_carries_a_record():
    # a q_ def without its @query decorator would silently drop a query
    registered = {q.build for q in REGISTRY.values()}
    missing = []
    for path in sorted(QUERIES_DIR.glob("[!_]*.py")):
        module = importlib.import_module(f"breweries_etl_spark.queries.{path.stem}")
        for name in _top_level_defs(path):
            if name.startswith("q_") and getattr(module, name) not in registered:
                missing.append(f"{path.name}:{name}")
    for name in _top_level_defs(pathlib.Path(analytics.__file__)):
        if not name.startswith("_") and getattr(analytics, name) not in registered:
            missing.append(f"analytics.py:{name}")
    assert missing == []


@pytest.mark.parametrize("name", ["gold_by_type_location", "tpch_q6"])
def test_building_a_query_pins_the_session_confs(spark, sf_dir, name):
    pinned = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.enabled": "true",
    }
    other = {
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.legacy.parquet.nanosAsLong": "false",
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.enabled": "false",
    }
    before = {k: spark.conf.get(k) for k in pinned}
    try:
        for k, v in other.items():
            spark.conf.set(k, v)
        entrymod.queries()[name](spark, sf_dir)
        assert {k: spark.conf.get(k) for k in pinned} == pinned
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
