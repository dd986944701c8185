"""Parquet table loaders for the driver testdata and any medallion layer
(SURVEY.md §2.1 S4-S6).

S6 note: the reference hand-rolls partition discovery (glob
``base/location=*`` + per-dir read + concat, ref: U/helpers.py:420-493).
Spark's parquet reader does Hive-style partition discovery natively and
recovers partition columns, with partition *pruning* pushed into the scan
— the entire S6 code path collapses into ``spark.read.parquet(base)``.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import TESTDATA_TABLES

# The confs that change how a parquet footer maps to a Spark schema.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# absolute path -> (the stamp it was read under, what was read); one
# entry per path, replaced when the file or a conf changes
_schemas: dict[str, tuple[tuple, StructType]] = {}
_ts_nanos: dict[str, tuple[tuple, bool]] = {}


def _file_stamp(path: str) -> tuple | None:
    """(size, mtime) of a plain file. None for a directory, whose own
    stat does not change when a file inside it is rewritten, so
    directory reads are never cached; None for a missing path too, so
    that Spark reports it."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_size, st.st_mtime_ns)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (``{sf_dir}/{name}.parquet``).

    Spark infers a parquet schema with a one-task job that reads the
    footer. The first read of a file does that; later reads of the same
    unchanged file, under the same schema-conversion confs, pass the
    schema it inferred and launch no job."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    stamp = _file_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    stamp += tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    key = os.path.abspath(path)
    hit = _schemas.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[key] = (stamp, df.schema)
    return df


def _assert_utc_session(spark: SparkSession) -> None:
    """The NTZ→TIMESTAMP cast and epoch rebuilds below are only no-op
    re-tags when the session renders instants in UTC; under any other
    zone they would silently SHIFT every instant and break oracle parity
    — fail loudly instead of producing wrong timestamps."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(
            f"normalize_event_ts requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}); create the session via breweries_etl_spark."
            f"session.get_spark or set the conf before loading events"
        )


def normalize_event_ts(df: DataFrame, parquet_path: str | None = None) -> DataFrame:
    """Normalize the ``ts`` column to session-zoned TIMESTAMP regardless of
    how the parquet writer encoded it. Generations of the testdata have
    shipped it as TIMESTAMP(NANOS) (read as long under the legacy conf —
    rebuilt via exact integer ``div 1000``), as TIMESTAMP_NTZ (cast is a
    no-op re-tag under the UTC session timezone), and as plain TIMESTAMP.
    All three converge on the same microsecond instants DuckDB sees, so
    oracle parity holds across testdata regenerations.

    The bigint branch only fires for longs that really are nanosecond
    timestamps: when ``parquet_path`` is given the parquet footer's
    logical type is checked (driver-side, footer-only read); otherwise a
    plain int64 column raises rather than being silently divided by
    1000 into instants 1000× off."""
    _assert_utc_session(df.sparkSession)
    dt = dict(df.dtypes).get("ts")
    if dt in ("bigint", "long"):
        if parquet_path is not None and not _ts_is_parquet_nanos(parquet_path):
            raise ValueError(
                f"events ts column is int64 but the parquet logical type at "
                f"{parquet_path} is not timestamp[ns]; refusing to guess the "
                f"epoch unit (a wrong div-1000 would silently shift every "
                f"instant 1000x)"
            )
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _ts_is_parquet_nanos(path: str) -> bool:
    """True iff the parquet footer declares ``ts`` as timestamp[ns]
    (what the legacy nanosAsLong conf surfaces to Spark as long). Footer
    read only — no data pages touched; gated on pyarrow availability.
    The answer is kept per file identity, like :func:`load_table`'s
    schemas."""
    stamp, key = _file_stamp(path), os.path.abspath(path)
    hit = _ts_nanos.get(key)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return hit[1]
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa
    except ImportError:  # pragma: no cover - pyarrow is a baked-in dep
        return True
    field = ds.dataset(path, format="parquet").schema.field("ts")
    nanos = field.type == pa.timestamp("ns")
    if stamp is not None:
        _ts_nanos[key] = (stamp, nanos)
    return nanos


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with ``ts`` normalized to TIMESTAMP (see
    :func:`normalize_event_ts`). The legacy nanos conf is set pre-read so
    nanos-encoded generations load as long instead of erroring."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    return normalize_event_ts(load_table(spark, sf_dir, "events"), parquet_path=path)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {
        n: (load_events(spark, sf_dir) if n == "events" else load_table(spark, sf_dir, n))
        for n in (names or TESTDATA_TABLES)
    }


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view so operators can be expressed in
    SQL when that is clearer (same Catalyst plan either way)."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)


def read_layer(
    spark: SparkSession, path: str, fmt: str = "parquet", schema: StructType | None = None
) -> DataFrame:
    """S5/S6 — read a medallion layer; partitioned layers (silver) get
    automatic partition discovery + pruning.

    With a declared ``schema`` (``schemas.BRONZE_SCHEMA``,
    ``schemas.SILVER_SCHEMA``) the read launches no schema-inference
    job. Delta ignores it and reads its schema from the table log."""
    reader = spark.read.format(fmt)
    if schema is not None and fmt != "delta":
        reader = reader.schema(schema)
    return reader.load(path)


def stored_columns(spark: SparkSession, path: str, fmt: str = "parquet") -> list[str]:
    """The column names a layer's files actually hold, for validation
    against a layer read with a declared schema (which would report a
    missing column as all NULLs instead).

    For a local parquet or ORC layer, the footer of its first data file
    (pyarrow, on the driver, no Spark job); an existing directory with
    no data file holds no columns. Partition columns live in directory
    names, not footers, and are not reported. Anything else asks Spark
    for the stored schema: Delta reads its log, a remote path is
    inferred."""
    if fmt in ("parquet", "orc") and os.path.isdir(path):
        for dirpath, dirs, names in os.walk(path):
            dirs.sort()
            for name in sorted(names):
                if name.startswith(("_", ".")):  # markers and checksums
                    continue
                file = os.path.join(dirpath, name)
                if fmt == "parquet":
                    import pyarrow.parquet as pq

                    return pq.read_schema(file).names
                import pyarrow.orc as po

                return po.ORCFile(file).schema.names
        return []
    return spark.read.format(fmt).load(path).columns
