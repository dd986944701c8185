"""The medallion pipeline runner (SURVEY.md §3, §2.12 X1-X3).

The reference's control plane is an Airflow DAG of four PythonOperator
tasks wired ``extract >> bronze >> silver >> gold``
(ref: airflow/dags/brewery_pipeline.py:32-56) with per-task retries and
XCom hand-off of the landing file list. That machinery is orchestration,
not engine; here each stage is a plain function over one SparkSession,
hand-off is the durable layer path (same restart/replay property: any
stage reruns from its input layer), and retries are a decorator.

Every stage builds a LAZY plan, and a run launches only the Spark jobs
that write a layer: 7, down from 12 when the bronze and silver reads
inferred their schemas, the silver sink probed its output with a read,
and ``by_location`` re-scanned silver and re-ran the first aggregate
(tests/test_pipeline.py holds the budget).

- landing → bronze: 1 job, the JSON scan fused with the bronze write.
- bronze → silver: 3 jobs, the silver shuffle and write and the
  quarantine write. Bronze is read with the declared ``BRONZE_SCHEMA``
  and validated against the column names in one file footer.
- silver → gold: 3 jobs, the ``by_type_location`` shuffle and write and
  the ``by_location`` write. Silver is read with the declared
  ``SILVER_SCHEMA``; ``by_location`` rolls up the one-partition
  ``by_type_location`` table just written, in one task with no shuffle.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import Observation, SparkSession

from ..config import SILVER_PARTITION_COLUMN, MedallionPaths
from ..operators.aggregate import gold_aggregations, location_rollup
from ..operators.quality import split_invalid_records, validate_schema
from ..operators.standardize import add_ingestion_metadata, silver_transform
from ..plans.metrics import MetricsRegistry, drain_observation, observed
from ..sinks.writers import write_gold, write_partitioned, write_table
from ..sources.json_source import read_landing_json
from ..schemas import BRONZE_SCHEMA, SILVER_SCHEMA
from ..sources.tables import read_layer, stored_columns


def with_retries(fn: Callable, retries: int = 3, delay_s: float = 0.0) -> Callable:
    """X2 — stage-level retry (ref: brewery_pipeline.py:18-19 uses 3×5 min;
    delay configurable because tests shouldn't sleep)."""

    def wrapped(*args, **kwargs):
        last: Exception | None = None
        for _ in range(retries):
            try:
                return fn(*args, **kwargs)
            except Exception as exc:  # noqa: BLE001 - stage-level catch-all, parity
                last = exc
                if delay_s:
                    time.sleep(delay_s)
        raise last  # type: ignore[misc]

    return wrapped


def landing_to_bronze(
    spark: SparkSession,
    paths: MedallionPaths,
    metrics: MetricsRegistry | None = None,
    fmt: str = "parquet",
) -> None:
    """Stage 2 (ref: T/landing_to_bronze.py:26-92): distributed JSON scan
    with declared schema → ingestion metadata → bronze overwrite."""
    metrics = metrics or MetricsRegistry()
    with metrics.time_operation("landing_to_bronze", "bronze"):
        df = read_landing_json(spark, paths.landing)
        df = add_ingestion_metadata(df)
        obs = Observation()
        write_table(observed(df, obs), paths.bronze, mode="overwrite", fmt=fmt)
        drain_observation(metrics, obs, "bronze")


def bronze_to_silver(
    spark: SparkSession,
    paths: MedallionPaths,
    metrics: MetricsRegistry | None = None,
    fmt: str = "parquet",
) -> None:
    """Stage 3, the transform core (ref: T/bronze_to_silver.py:26-92):
    validate → quarantine split → standardize chain → partitioned silver
    overwrite + quarantine append.

    Silver and quarantine are two writes, each its own scan of bronze;
    the split predicate and the silver transform chain fuse into the
    scans via codegen.
    """
    metrics = metrics or MetricsRegistry()
    with metrics.time_operation("bronze_to_silver", "silver"):
        bronze = read_layer(spark, paths.bronze, fmt=fmt, schema=BRONZE_SCHEMA)
        # the declared schema has every column; the files may not
        validate_schema(stored_columns(spark, paths.bronze, fmt=fmt))
        valid, quarantined = split_invalid_records(bronze)
        silver = silver_transform(valid)
        silver_obs, quarantine_obs = Observation(), Observation()
        write_partitioned(
            observed(silver, silver_obs),
            paths.silver,
            [SILVER_PARTITION_COLUMN],
            fmt=fmt,
        )
        write_table(
            observed(quarantined, quarantine_obs), paths.quarantine, mode="append", fmt=fmt
        )
        drain_observation(metrics, silver_obs, "silver")
        drain_observation(metrics, quarantine_obs, "quarantine")


def silver_to_gold(
    spark: SparkSession,
    paths: MedallionPaths,
    metrics: MetricsRegistry | None = None,
    fmt: str = "parquet",
) -> None:
    """Stage 4 (ref: T/silver_to_gold.py:22-76): read silver (partition
    discovery built-in — the reference's manual glob fallback S6 is
    obsolete) → two group-count gold tables, the coarser one rolled up
    from the finer one's written rows."""
    metrics = metrics or MetricsRegistry()
    with metrics.time_operation("silver_to_gold", "gold"):
        silver = read_layer(spark, paths.silver, fmt=fmt, schema=SILVER_SCHEMA)
        by_type_location = gold_aggregations(silver)["by_type_location"]
        # one Observation per gold table: each write is its own action,
        # and an Observation may ride exactly one dataset
        observations = {name: Observation() for name in ("by_type_location", "by_location")}
        write_gold(
            {
                "by_type_location": observed(by_type_location, observations["by_type_location"]),
                # rolled up from the table just written, not from silver
                "by_location": lambda written: observed(
                    location_rollup(written("by_type_location")), observations["by_location"]
                ),
            },
            paths.gold,
            fmt=fmt,
        )
        for name, obs in observations.items():
            drain_observation(metrics, obs, f"gold_{name}")


def run_pipeline(
    spark: SparkSession,
    paths: MedallionPaths,
    metrics: MetricsRegistry | None = None,
    retries: int = 3,
    retry_delay_s: float = 0.0,
    fmt: str = "parquet",
) -> MetricsRegistry:
    """X1 — the linear DAG, landing already populated by a source
    (sources.brewery_api or test fixtures). ``fmt="delta"`` runs the
    whole medallion chain on Delta tables when the jars are present
    (reference parity: U/helpers.py:326-417 writes Delta throughout)."""
    metrics = metrics or MetricsRegistry()
    for stage in (landing_to_bronze, bronze_to_silver, silver_to_gold):
        with_retries(stage, retries=retries, delay_s=retry_delay_s)(
            spark, paths, metrics, fmt=fmt
        )
    return metrics


def main(argv: list[str] | None = None) -> int:
    """CLI equivalent of triggering the reference's Airflow DAG:

        python -m breweries_etl_spark.plans.pipeline --root /data/medallion \\
            [--extract | --landing-json '<glob-or-dir>']

    ``--extract`` pulls the live API (reference S1/S2 semantics);
    ``--landing-json`` copies existing JSON page files into landing.
    """
    import argparse
    import glob as globmod
    import shutil

    from ..session import get_spark
    from ..sinks.writers import prepare_landing_directory
    from ..sources.brewery_api import fetch_all_pages, http_fetcher
    from ..sinks.writers import save_json_page
    import os

    parser = argparse.ArgumentParser(description="Run the medallion pipeline")
    parser.add_argument("--root", required=True, help="medallion root directory")
    parser.add_argument("--extract", action="store_true", help="fetch from the live API")
    parser.add_argument("--landing-json", help="glob/dir of landing JSON page files")
    parser.add_argument("--retries", type=int, default=3)
    args = parser.parse_args(argv)

    spark = get_spark("brewery_pipeline")
    paths = MedallionPaths(args.root)

    if args.extract:
        prepare_landing_directory(paths.landing)
        pages = fetch_all_pages(http_fetcher())
        for i, page in enumerate(pages, start=1):
            save_json_page(page, os.path.join(paths.landing, f"breweries_page{i}.json"))
    elif args.landing_json:
        prepare_landing_directory(paths.landing)
        pattern = args.landing_json
        files = (
            globmod.glob(os.path.join(pattern, "*.json"))
            if os.path.isdir(pattern)
            else globmod.glob(pattern)
        )
        if not files:
            parser.error(f"no JSON files matched {pattern!r}")
        for f in files:
            shutil.copy(f, paths.landing)

    metrics = run_pipeline(spark, paths, retries=args.retries)
    for name, seconds in sorted(metrics.durations.items()):
        print(f"{name}: {seconds:.2f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())


def plan_backfill(
    existing: list[str],
    start_date: str,
    end_date: str,
    max_partitions: int | None = None,
) -> list[str]:
    """Backfill planner: which daily partitions in [start_date,
    end_date] are missing from ``existing``? Returns them oldest-first
    (optionally capped per run) — the decision step an orchestrated
    backfill runs BEFORE launching per-partition jobs, so a resumed
    campaign never recomputes a day it already landed.

    Pure driver-side date arithmetic on partition NAMES (ISO dates) —
    at 100 TB the partition listing is a metastore/filesystem call,
    never a data scan.
    """
    from datetime import date, timedelta

    d0 = date.fromisoformat(start_date)
    d1 = date.fromisoformat(end_date)
    if d1 < d0:
        raise ValueError(f"end_date {end_date} precedes start_date {start_date}")
    have = set(existing)
    missing = []
    cur = d0
    while cur <= d1:
        iso = cur.isoformat()
        if iso not in have:
            missing.append(iso)
        cur += timedelta(days=1)
    return missing[:max_partitions] if max_partitions else missing
