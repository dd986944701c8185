"""End-to-end medallion pipeline over landing JSON fixtures
(SURVEY.md §3): landing → bronze → silver(+quarantine) → gold, asserting
layer contents — the e2e coverage the reference's README claims but its
suite doesn't have.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import types as T

from breweries_etl_spark.config import MedallionPaths
from breweries_etl_spark.operators.standardize import silver_transform
from breweries_etl_spark.plans.pipeline import bronze_to_silver, run_pipeline
from breweries_etl_spark.schemas import BRONZE_SCHEMA, SILVER_SCHEMA
from breweries_etl_spark.session import local_cores
from breweries_etl_spark.sinks.writers import prepare_landing_directory, save_json_page
from breweries_etl_spark.sources.brewery_api import fetch_all_pages, pages_to_dataframe

PAGE1 = [
    {"id": "b1", "name": "Alpha", "brewery_type": " Micro ", "state": "wy",
     "city": "laramie", "country": "united states", "website_url": "alpha.com"},
    {"id": "b2", "name": "Beta", "brewery_type": "taproom", "state": "on",
     "city": "toronto", "country": "canada", "website_url": "https://beta.io"},
    {"id": None, "name": "NoId", "brewery_type": "nano", "state": "wy",
     "city": "cody", "country": "united states", "website_url": ""},
]


@pytest.fixture()
def medallion(tmp_path, spark):
    paths = MedallionPaths(str(tmp_path))
    prepare_landing_directory(paths.landing)
    save_json_page(PAGE1, os.path.join(paths.landing, "breweries_page1.json"))
    return paths


def test_pipeline_layers(spark, medallion):
    run_pipeline(spark, medallion, retries=1)

    bronze = spark.read.parquet(medallion.bronze)
    assert bronze.count() == 3
    assert dict(bronze.dtypes)["ingestion_timestamp"] == "timestamp"

    silver = spark.read.parquet(medallion.silver)
    rows = {r["id"]: r.asDict() for r in silver.collect()}
    assert set(rows) == {"b1", "b2"}
    assert rows["b1"]["brewery_type"] == "micro"
    assert rows["b1"]["location"] == "UNITED STATES"
    assert rows["b1"]["website_url"] == "http://alpha.com"
    assert rows["b2"]["brewery_type"] == "other"
    assert rows["b2"]["website_url"] == "https://beta.io"
    # silver is hive-partitioned by location
    assert any(d.startswith("location=") for d in os.listdir(medallion.silver))

    quarantine = spark.read.parquet(medallion.quarantine)
    q = quarantine.collect()
    assert len(q) == 1 and q[0]["name"] == "NoId"
    assert q[0]["quarantine_reason"] == "missing_key_values"

    by_type = spark.read.parquet(medallion.gold_table("by_type_location"))
    got = {(r["brewery_type"], r["location"]): r["brewery_count"] for r in by_type.collect()}
    assert got == {("micro", "UNITED STATES"): 1, ("other", "CANADA"): 1}

    by_loc = spark.read.parquet(medallion.gold_table("by_location"))
    assert {r["location"]: r["brewery_count"] for r in by_loc.collect()} == {
        "UNITED STATES": 1, "CANADA": 1}


def test_quarantine_appends_across_runs(spark, medallion):
    run_pipeline(spark, medallion, retries=1)
    run_pipeline(spark, medallion, retries=1)
    # overwrite layers stay stable; quarantine appends (K4 semantics)
    assert spark.read.parquet(medallion.silver).count() == 2
    assert spark.read.parquet(medallion.quarantine).count() == 2


def test_paginated_source_stop_condition(spark):
    """S1: stop when a page returns < per_page rows (ref stop condition)."""
    pages_served = {1: [{"id": str(i)} for i in range(5)],
                    2: [{"id": "last"}]}

    def fetcher(page, per_page):
        return pages_served.get(page, [])

    pages = fetch_all_pages(fetcher, per_page=5, throttle_s=0)
    assert [len(p) for p in pages] == [5, 1]
    df = pages_to_dataframe(spark, pages)
    assert df.count() == 6
    assert df.schema["id"].dataType.typeName() == "string"


def test_landing_read_quarantines_corrupt_json(spark, tmp_path):
    """A malformed landing page must quarantine with its raw payload,
    not fail the scan or silently null out (S3 robustness)."""
    import json as _json

    from breweries_etl_spark.sources.json_source import (
        read_landing_json_with_quarantine,
    )

    good = [
        {"id": "1", "brewery_type": "micro", "state": "s", "city": "c",
         "country": "x", "name": "a"},
        {"id": "2", "brewery_type": "nano", "state": "s", "city": "c",
         "country": "x", "name": "b"},
    ]
    src = tmp_path / "landing"
    src.mkdir()
    (src / "page1.json").write_text(_json.dumps(good), encoding="utf-8")
    (src / "page2.json").write_text('[{"id": "3", "brewery_type": ', encoding="utf-8")

    valid, corrupt = read_landing_json_with_quarantine(spark, str(src))
    ids = sorted(r["id"] for r in valid.select("id").collect())
    assert ids == ["1", "2"]
    bad = corrupt.collect()
    assert len(bad) == 1
    assert "brewery_type" in bad[0]["raw_payload"]


def test_declared_layer_schemas_match_written_layers(spark, medallion):
    """The declared read schemas are what Spark infers from the layers a
    run writes, so declaring them changes no column, type or order."""
    run_pipeline(spark, medallion, retries=1)
    assert spark.read.parquet(medallion.bronze).schema == BRONZE_SCHEMA
    assert spark.read.parquet(medallion.silver).schema == SILVER_SCHEMA


def test_silver_schema_is_silver_transform_with_location_last(spark):
    out = silver_transform(spark.createDataFrame([], BRONZE_SCHEMA)).schema
    fields = [f for f in out.fields if f.name != "location"] + [out["location"]]
    assert [(f.name, f.dataType) for f in SILVER_SCHEMA.fields] == [
        (f.name, f.dataType) for f in fields
    ]


def test_validation_reads_the_bronze_files_not_the_declared_schema(spark, tmp_path, jobs_in):
    """Bronze is read with a declared schema, which would report a
    missing column as NULLs; validation still checks the files, and
    raises before any Spark job runs."""
    paths = MedallionPaths(str(tmp_path))
    no_city = T.StructType([f for f in BRONZE_SCHEMA.fields if f.name != "city"])
    row = {f.name: None for f in no_city.fields}
    row.update(id="b1", brewery_type="micro", state="wy", country="united states")
    spark.createDataFrame([row], no_city).write.parquet(paths.bronze)

    def attempt():
        with pytest.raises(ValueError, match=r"Schema validation failed: missing columns \['city'\]"):
            bronze_to_silver(spark, paths)

    _, jobs = jobs_in(attempt)
    assert jobs == 0


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
@pytest.mark.parametrize("landing", ["empty_page", "empty_directory"])
def test_empty_landing_runs_end_to_end(spark, tmp_path, fmt, landing):
    """An empty landing page (one file holding ``[]``) and an empty
    landing directory both give every layer with its full schema, zero
    rows and zero counters."""
    paths = MedallionPaths(str(tmp_path))
    prepare_landing_directory(paths.landing)
    if landing == "empty_page":
        save_json_page([], os.path.join(paths.landing, "breweries_page1.json"))
    metrics = run_pipeline(spark, paths, retries=1, fmt=fmt)

    def read(path):
        return spark.read.format(fmt).load(path)

    widths = {paths.bronze: 17, paths.silver: 20, paths.quarantine: 19}
    for path, width in widths.items():
        layer = read(path)
        assert (len(layer.columns), layer.count()) == (width, 0), path
    for name in ("by_type_location", "by_location"):
        assert read(paths.gold_table(name)).count() == 0
    counters = {
        k: v for k, v in metrics.counters.items() if k.endswith("_records_processed_total")
    }
    assert counters == {
        f"{layer}_records_processed_total": 0.0
        for layer in ("bronze", "silver", "quarantine", "gold_by_type_location", "gold_by_location")
    }


def _landing_pages(n_pages: int = 4, per_page: int = 50) -> list[list[dict]]:
    countries = ("united states", "United States", "canada", "ireland")
    pages = []
    for p in range(n_pages):
        page = []
        for i in range(per_page):
            k = p * per_page + i
            page.append({
                "id": None if k % 17 == 0 else f"b{k}",
                "name": f"brewery {k}",
                "brewery_type": ("micro", "brewpub", " Nano ", "taproom")[k % 4],
                "state": f"s{k % 5}",
                "city": f"c{k % 7}",
                "country": countries[k % len(countries)],
                "website_url": f"site{k}.com",
            })
        pages.append(page)
    return pages


def test_medallion_run_launches_only_layer_writes(spark, tmp_path, jobs_in):
    """A warm run launches one job per layer write and one per shuffle
    that feeds a write: 1 for bronze, 3 for silver and quarantine, 3 for
    the two gold tables (``by_location`` rolls up the written one-file
    ``by_type_location`` without a shuffle). Up to commit ba52a5e a run
    launched 12: parquet schema inference for bronze and for silver,
    the silver sink's post-write schema probe, and two shuffles for
    ``by_location`` (a re-run of the first aggregate over silver, then
    its own)."""
    paths = MedallionPaths(str(tmp_path))
    prepare_landing_directory(paths.landing)
    for i, page in enumerate(_landing_pages(), start=1):
        save_json_page(page, os.path.join(paths.landing, f"breweries_page{i}.json"))

    def fresh_run():
        for layer in (paths.bronze, paths.silver, paths.quarantine, paths.gold):
            shutil.rmtree(layer, ignore_errors=True)
        return run_pipeline(spark, paths, retries=1)

    fresh_run()  # warm
    metrics, jobs = jobs_in(fresh_run)
    assert metrics.counters["bronze_records_processed_total"] == 200
    assert jobs <= 7


def test_local_cores_defaults_to_the_cpu_affinity(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the session uses the CPUs this
    process may run on, not a fixed 32 (the pipeline CLI builds its
    session this way)."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == 3
