"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pyarrow.parquet as pq

import gen
from eventlog import group_totals
from run import _high_percentile
from workloads import END_TO_END_UNITS, per_layer_units

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_landing_is_a_function_of_the_seed():
    assert gen.landing_records(7, pages=3) == gen.landing_records(7, pages=3)
    assert gen.landing_records(7, pages=3) != gen.landing_records(8, pages=3)


def test_landing_pages_are_api_pages(tmp_path):
    from breweries_etl_spark.config import API_PER_PAGE_LIMIT

    exp = gen.write_landing(str(tmp_path), 3, pages=4)
    files = sorted(os.listdir(tmp_path))
    assert len(files) == exp["files"] == 4
    for name in files:
        with open(tmp_path / name) as fh:
            assert len(json.load(fh)) == gen.PER_PAGE == API_PER_PAGE_LIMIT
    assert exp["bronze"] == 4 * gen.PER_PAGE == exp["silver"] + exp["quarantine"]
    assert exp["quarantine"] > 0
    assert sum(exp["gold"]["by_type_location"].values()) == exp["silver"]
    assert sum(exp["gold"]["by_location"].values()) == exp["silver"]


def test_expected_medallion_restates_the_silver_rules():
    base = {"id": "1", "state": "ny", "city": "albany", "country": "united states"}
    pages = [[
        {**base, "brewery_type": " Micro "},
        {**base, "brewery_type": "MICRO"},
        {**base, "brewery_type": None},
        {**base, "brewery_type": "taproom"},
        {**base, "brewery_type": ""},
        {**base, "brewery_type": "nano", "city": None},
    ]]
    exp = gen.expected_medallion(pages)
    # brewery_type is a key field: NULL types are quarantined, not recoded
    assert (exp["bronze"], exp["silver"], exp["quarantine"]) == (6, 4, 2)
    key = ("UNITED STATES", "NY", "ALBANY")
    assert exp["gold"]["by_type_location"] == {("micro", *key): 2, ("other", *key): 2}
    assert exp["gold"]["by_location"] == {key: 4}


def test_tables_are_a_function_of_the_seed(tmp_path):
    def lineitem(seed, names, sub):
        gen.write_tables(str(tmp_path / sub), seed, names)
        return pq.read_table(tmp_path / sub / "lineitem.parquet")

    first = lineitem(5, ["lineitem"], "a")
    assert first.num_rows == gen.TABLE_ROWS["lineitem"]
    # the same seed gives the same table, whichever other tables are written
    assert first.equals(lineitem(5, ["lineitem", "documents", "nation"], "b"))
    assert not first.equals(lineitem(6, ["lineitem"], "c"))


def test_eventlog_totals_per_job_group():
    totals = group_totals(os.path.join(HERE, "fixtures"))
    build, execute, ungrouped = totals["q.build#0"], totals["q.exec#1"], totals[""]
    assert (build.jobs, build.stages, build.tasks, build.task_ms) == (1, 1, 2, 200)
    assert (build.input_bytes, build.input_tasks) == (3072, 2)
    # the skipped stage is not counted; the failed task counts, without metrics
    assert (execute.jobs, execute.stages, execute.tasks, execute.task_ms) == (1, 1, 2, 300)
    assert (execute.shuffle_read_bytes, execute.shuffle_write_bytes) == (4096, 1000)
    assert (execute.spill_bytes, execute.output_bytes, execute.input_tasks) == (512, 777, 0)
    assert (ungrouped.jobs, ungrouped.tasks, ungrouped.task_ms) == (1, 1, 5)
    assert set(totals) == {"q.build#0", "q.exec#1", ""}


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for units in (END_TO_END_UNITS, per_layer_units()):
        for name in units:
            assert NAME.fullmatch(name) and len(name) <= 64, name
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == per_layer_units()


def test_high_percentile():
    assert _high_percentile([3.0]) == 3.0
    assert _high_percentile([1.0, 5.0, 2.0]) == 5.0
    assert _high_percentile([float(i) for i in range(1, 21)]) == 18.0
