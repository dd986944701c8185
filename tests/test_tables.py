"""Parquet schema reuse in ``sources/tables.py``: a repeated
``load_table`` of an unchanged file launches no Spark job; a change to
the file or to a schema-conversion conf infers the schema again; a
directory is never cached."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from breweries_etl_spark.sources import tables


def _write(tmp_path, name: str, columns: dict) -> str:
    path = os.path.join(tmp_path, f"{name}.parquet")
    pq.write_table(pa.table(columns), path)
    return path


def test_second_load_of_unchanged_file_launches_no_job(spark, tmp_path, jobs_in):
    _write(tmp_path, "t", {"a": pa.array([1, 2, 3], pa.int32()), "b": ["x", "y", None]})
    first, first_jobs = jobs_in(lambda: tables.load_table(spark, str(tmp_path), "t"))
    second, second_jobs = jobs_in(lambda: tables.load_table(spark, str(tmp_path), "t"))
    assert first_jobs >= 1  # the first read infers
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_reinfers(spark, tmp_path, jobs_in):
    _write(tmp_path, "t", {"a": pa.array([1], pa.int32())})
    assert tables.load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write(tmp_path, "t", {"a": pa.array([1], pa.int64()), "c": [0.5]})
    df, jobs = jobs_in(lambda: tables.load_table(spark, str(tmp_path), "t"))
    assert jobs >= 1
    assert df.dtypes == [("a", "bigint"), ("c", "double")]


def test_nanos_conf_flip_reinfers(spark, tmp_path):
    """A TIMESTAMP(NANOS) column reads as bigint only under the legacy
    conf; with it off Spark rejects the footer, so a schema kept from
    the first read would hide the flip."""
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(nanos)
    _write(tmp_path, "ev", {"ts": pa.array([1, 2], pa.timestamp("ns"))})
    try:
        spark.conf.set(nanos, "true")
        assert tables.load_table(spark, str(tmp_path), "ev").dtypes == [("ts", "bigint")]
        spark.conf.set(nanos, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            tables.load_table(spark, str(tmp_path), "ev")
    finally:
        spark.conf.set(nanos, saved)


def test_directory_is_not_cached(spark, tmp_path, jobs_in):
    """A file rewritten inside a directory leaves the directory's own
    stat unchanged, so every directory read infers."""
    path = tmp_path / "d.parquet"
    path.mkdir()
    data = str(path / "part-0.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), data)
    for _ in range(2):
        df, jobs = jobs_in(lambda: tables.load_table(spark, str(tmp_path), "d"))
        assert jobs >= 1
        assert df.columns == ["a"]
    pq.write_table(pa.table({"a": [1], "z": ["new"]}), data)
    assert tables.load_table(spark, str(tmp_path), "d").columns == ["a", "z"]


def test_ts_nanos_footer_read_once_per_file(tmp_path, monkeypatch):
    import pyarrow.dataset as ds

    path = _write(tmp_path, "events", {"ts": pa.array([1], pa.timestamp("ns"))})
    assert tables._ts_is_parquet_nanos(path)
    monkeypatch.setattr(ds, "dataset", lambda *a, **k: pytest.fail("footer re-read"))
    assert tables._ts_is_parquet_nanos(path)
    monkeypatch.undo()
    _write(tmp_path, "events", {"ts": pa.array([1], pa.timestamp("us")), "pad": [0]})
    assert not tables._ts_is_parquet_nanos(path)
