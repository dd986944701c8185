"""Parquet sinks for the medallion layers (SURVEY.md §2.2 K1-K7).

Format note: the reference writes Delta via delta-rs
(ref: U/helpers.py:363-417); per the driver-mandated spark_approach the
engine writes plain Parquet (Delta is a one-line ``format`` change once
its jars are on the classpath — see ``fmt`` parameter).

Scale notes:
- K3 partitions silver by ``location`` (= country), a LOW-CARDINALITY,
  SKEWED key (one country dominates real brewery data). A naive
  ``partitionBy`` funnels each country into as many files as there are
  tasks holding its rows; ``write_partitioned`` optionally repartitions by
  (partition_key, salt) first so each partition directory gets a bounded
  number of right-sized files instead of 1000s of slivers or one giant
  file.
- Overwrite mode matches the reference's full-refresh semantics
  (idempotent rerun = Airflow retry contract, SURVEY.md §3.4).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_layer


def delta_available(spark: SparkSession) -> bool:
    """True when the Delta Lake jars are on the JVM classpath.

    The reference writes Delta everywhere (ref: U/helpers.py:326-417 via
    delta-rs); every sink here takes ``fmt=`` so the swap is
    ``fmt="delta"`` when this returns True — callers keep the parquet
    default otherwise, and tests parameterized over formats skip Delta
    when absent."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 - classpath probe
            "org.apache.spark.sql.delta.sources.DeltaDataSource"
        )
        return True
    except Exception:
        return False


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """K5 — generic parameterized sink (ref: U/helpers.py:363-417);
    K2 (bronze overwrite) and K4 (quarantine append) are direct calls.

    An unpartitioned write of a zero-partition frame (an empty landing
    page or directory) still lays down one footer-bearing part file in
    parquet and ORC, so the layer keeps its schema without a planning
    call here (tests/test_pipeline.py runs both empty landings)."""
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    files_per_partition: int = 4,
    fmt: str = "parquet",
) -> None:
    """K3 — partitioned sink with skew-aware file sizing.

    Repartitions by (partition columns + a salt in [0, files_per_partition))
    so every output directory gets at most ``files_per_partition`` files,
    each written by one task — bounded file counts for hot keys AND no
    single-task giant file. At 100 TB tune files_per_partition up so
    files land near the 128 MB-1 GB sweet spot.
    """
    salt = (F.abs(F.hash(F.monotonically_increasing_id())) % files_per_partition).alias(
        "__salt"
    )
    (
        df.withColumn("__salt", salt)
        .repartition(*[F.col(c) for c in partition_by], F.col("__salt"))
        .drop("__salt")
        .write.mode(mode)
        .format(fmt)
        .partitionBy(*partition_by)
        .save(path)
    )
    # Dynamic-partition writes of ZERO rows create no directories and
    # no footer, leaving the layer unreadable (UNABLE_TO_INFER_SCHEMA;
    # empty-table sweep r10). Probe AFTER the write — a pre-write
    # emptiness action would consume any attached Observation (it
    # reports the FIRST action's rows) — and lay down one unpartitioned
    # empty file so the schema survives; pruning is moot on an empty
    # layer. The probe loads the path with the frame's own schema and
    # lists its files on the driver: no inference, no job. The rewrite
    # is gated on POSITIVE no-data-files conditions only — no files
    # listed, or PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA (both probed
    # against this Spark build in tests): a transient FS or reader error
    # after a populated write must propagate, not trigger an overwrite
    # that would destroy the data (ADVICE r10 medium).
    try:
        layer = read_layer(df.sparkSession, path, fmt=fmt, schema=df.schema)
        # Delta keeps the schema in its log: a readable table is anchored
        if fmt == "delta" or layer.inputFiles():
            return
    except AnalysisException as exc:
        cond = None
        for meth in ("getCondition", "getErrorClass"):
            try:
                cond = getattr(exc, meth)()
            except Exception:
                cond = None
            if cond:
                break
        if cond not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
    empty = df.sparkSession.createDataFrame([], df.schema)
    write_table(empty.repartition(1), path, mode="overwrite", fmt=fmt)


def write_gold(
    aggregations: dict[str, DataFrame | Callable[[Callable[[str], DataFrame]], DataFrame]],
    gold_path: str,
    fmt: str = "parquet",
) -> None:
    """K6 — one table per aggregation under GOLD/{name}
    (ref: T/silver_to_gold.py:134-151), written in order. Gold aggregates
    are tiny relative to silver; coalesce(1) keeps them single-file for
    cheap downstream reads (drop the coalesce if a gold table ever grows).

    An entry may instead be a function that builds its frame from
    ``written(name)``, a table written earlier in this call, read back
    with its known schema (no inference job) as the one partition it was
    written as: a coarser gold table then rolls up a finer one's few
    rows in a single task, with no shuffle, rather than re-running the
    finer one's plan."""
    frames: dict[str, DataFrame] = {}

    def written(name: str) -> DataFrame:
        df = frames[name]
        path = os.path.join(gold_path, name)
        return read_layer(df.sparkSession, path, fmt=fmt, schema=df.schema).coalesce(1)

    for name, agg in aggregations.items():
        df = frames[name] = agg if isinstance(agg, DataFrame) else agg(written)
        df.coalesce(1).write.mode("overwrite").format(fmt).save(os.path.join(gold_path, name))


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort: bool = True,
    fmt: str = "parquet",
) -> None:
    """Bucketed (pre-shuffled) table for co-located joins: a later join
    on ``bucket_col`` between two tables bucketed the same way needs NO
    exchange (asserted in tests/test_bucketing.py). The 100 TB strategy
    for repeated fact-fact joins."""
    writer = df.write.mode("overwrite").format(fmt).bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table_name)


def write_sorted_by_range(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_files: int | None = None,
    max_records_per_file: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Layout-managed write: range-partition on ``sort_col`` then sort
    within partitions, so each output file owns a DISJOINT key range and
    its parquet row-group min/max stats actually prune.

    At 100 TB this is the poor-man's Z-order for the single-key case: a
    later ``WHERE sort_col BETWEEN ...`` scan skips every file whose
    range doesn't intersect (footer stats), instead of reading the whole
    table. ``repartitionByRange`` samples the key distribution, so skew
    (a hot day, a hot customer) still yields balanced files.
    """
    out = df.repartitionByRange(*( [n_files] if n_files else [] ), F.col(sort_col))
    out = out.sortWithinPartitions(sort_col)
    writer = out.write.mode("overwrite").format(fmt)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.save(path)


def backfill_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
) -> None:
    """Selective partition backfill: overwrite ONLY the partitions
    present in ``df``, leaving every other partition untouched — the
    scale-sane repair/backfill pattern the reference's full-table
    overwrite (ref: T/bronze_to_silver.py:142) can't express at 100 TB
    (rewriting a petabyte silver table to fix one day/country is not a
    plan).

    Uses Spark's dynamic partitionOverwriteMode, scoped to this write
    via the DataFrameWriter option (no session-level config leak):
    static mode would drop ALL partitions first; dynamic replaces only
    the partitions the incoming frame touches, atomically per
    partition directory.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .format(fmt)
        .save(path)
    )


def zorder_key_expr(
    df: DataFrame, cols: list[str], bits: int = 6
) -> "Column":
    """Morton (Z-order) key over ``cols``: each column is bucketed into
    2^bits quantile buckets and the bucket bits are interleaved, so
    sorting by the key clusters rows that are close in EVERY dimension.

    Quantile (not min/max) bucketing: Delta's OPTIMIZE ZORDER uses
    range-partition ids for the same reason — a skewed column under
    linear min/max scaling collapses most rows into a few buckets and
    the interleave degenerates to the other column's order. Boundaries
    come from one ``approxQuantile`` pass per column (driver-side list
    of 2^bits − 1 doubles — an index-build cost, paid at write time,
    like any clustering layout).

    The bucket lookup is ``size(filter(boundaries, b -> b <= x))`` over
    a literal array — O(2^bits) per row, interpreted; at the default 6
    bits that is 64 comparisons against task-local literals, far below
    the shuffle+sort the write itself pays. Bit interleave is plain
    codegen'd integer arithmetic.
    """
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bucket_cols = []
    for c in cols:
        bounds = df.stat.approxQuantile(c, probs, 0.001)
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        x = F.col(c).cast("double")
        bucket = F.size(F.filter(arr, lambda b: b <= x))
        bucket_cols.append(bucket)
    z = F.lit(0).cast("long")
    for i in range(bits - 1, -1, -1):
        for d, bucket in enumerate(bucket_cols):
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1)).cast("long")
            z = F.shiftleft(z, 1).bitwiseOR(bit)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int | None = None,
    bits: int = 6,
    fmt: str = "parquet",
) -> None:
    """Multi-dimensional layout-managed write: range-partition + sort on
    the Morton key of ``cols``, so every output file covers a small
    hyper-rectangle of the key space and parquet footer min/max stats
    prune scans filtered on ANY of the dimensions — the multi-column
    generalization of ``write_sorted_by_range``, same idea as Delta's
    OPTIMIZE ZORDER BY. At 100 TB this is the difference between a
    two-predicate scan reading every file and reading ~1/files of them
    per dimension."""
    z = zorder_key_expr(df, cols, bits)
    out = df.withColumn("__z", z)
    out = out.repartitionByRange(*([n_files] if n_files else []), F.col("__z"))
    out = out.sortWithinPartitions("__z").drop("__z")
    out.write.mode("overwrite").format(fmt).save(path)


def compact_directory(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
    fmt: str = "parquet",
) -> dict[str, int]:
    """Small-file compaction: rewrite a parquet directory into
    ~``target_file_bytes`` files (streaming sinks, per-epoch writers, and
    over-parallel jobs all leave file slivers; a 100 TB table with
    million-file partitions spends more time in listing/open than IO).

    Sizing uses the directory's CURRENT bytes (cheap driver-side listing)
    — no data pass before the single rewrite. Returns
    {"files_before", "files_after", "bytes"} for observability. With
    ``sort_col`` the rewrite also restores range layout (see
    write_sorted_by_range). The rewrite goes through a temp directory and
    an atomic-as-possible swap, so a crash leaves either the old or the
    new layout, never a mix.
    """

    def _count_files(p: str) -> int:
        return sum(
            1
            for dirpath, _d, files in os.walk(p)
            for f in files
            if f.endswith((".parquet", ".orc")) or "part-" in f
        )

    bytes_total = directory_bytes(path)
    files_before = _count_files(path)
    n_files = max(1, round(bytes_total / target_file_bytes))
    df = spark.read.format(fmt).load(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    if sort_col is not None:
        write_sorted_by_range(df, tmp, sort_col, n_files=n_files, fmt=fmt)
    else:
        df.repartition(n_files).write.mode("overwrite").format(fmt).save(tmp)
    old = path.rstrip("/") + "._compact_old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return {
        "files_before": files_before,
        "files_after": _count_files(path),
        "bytes": bytes_total,
    }


def prepare_landing_directory(path: str) -> None:
    """K7 — landing lifecycle reset (ref: U/helpers.py:200-211)."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)


def save_json_page(rows: list[dict], path: str) -> int:
    """K1 — dump one API page to a landing JSON file, return byte size
    (ref: U/helpers.py:261-275). Driver-side by design: landing files are
    the pre-Spark raw capture."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump(rows, f, ensure_ascii=False, default=str)
    return os.path.getsize(path)


def directory_bytes(path: str) -> int:
    """A8 — byte-size accounting (ref: U/helpers.py:150-166,299-309)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
