"""Coverage for the small reference operators (C6, P5, A8) and the
partition-pruning behavior of the silver layout."""

from __future__ import annotations

import os

from pyspark.sql import Row

from breweries_etl_spark.operators.quality import is_empty
from breweries_etl_spark.operators.standardize import fill_null_values
from breweries_etl_spark.sinks.writers import directory_bytes, write_partitioned


def test_fill_null_values(spark):
    df = spark.createDataFrame(
        [Row(a=None, b=1.0), Row(a="x", b=None)], "a string, b double"
    )
    out = {(r["a"], r["b"]) for r in
           fill_null_values(df, {"a": "missing", "b": 0.0}).collect()}
    assert out == {("missing", 1.0), ("x", 0.0)}


def test_is_empty_guard(spark):
    assert is_empty(spark.createDataFrame([], "a int"))
    assert not is_empty(spark.createDataFrame([Row(a=1)]))


def test_directory_bytes(tmp_path):
    p = tmp_path / "x"
    p.mkdir()
    (p / "f1").write_bytes(b"12345")
    (p / "sub").mkdir()
    (p / "sub" / "f2").write_bytes(b"abc")
    assert directory_bytes(str(p)) == 8


def test_partition_pruning_on_silver_layout(spark, tmp_path):
    """K3's partitionBy(location) must let a location filter prune at
    the file-listing level — the reason silver is partitioned at all."""
    df = spark.createDataFrame(
        [Row(id=str(i), location="USA" if i % 2 else "CANADA", v=i)
         for i in range(100)]
    )
    out = str(tmp_path / "silver")
    write_partitioned(df, out, ["location"], files_per_partition=2)
    assert sorted(d for d in os.listdir(out) if d.startswith("location=")) == [
        "location=CANADA", "location=USA"]

    read = spark.read.parquet(out).filter("location = 'USA'")
    plan = read._sc._jvm.PythonSQLUtils.explainString(
        read._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "location" in plan
    assert read.count() == 50
    # bounded file counts per partition dir (skew-aware salting)
    usa_files = [f for f in os.listdir(os.path.join(out, "location=USA"))
                 if f.endswith(".parquet")]
    assert 1 <= len(usa_files) <= 2


def test_normalize_event_ts_rejects_non_utc_session(spark):
    """A non-UTC session would silently shift NTZ/epoch instants; the
    loader must fail loudly instead (ADVICE r2)."""
    import pytest

    from breweries_etl_spark.sources.tables import load_events

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="timeZone"):
            load_events(spark, "/root/testdata/sf0.001")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_normalize_event_ts_rejects_non_nanos_int64(spark, tmp_path):
    """An int64 ts whose parquet logical type is NOT timestamp[ns] must
    raise, not get silently divided by 1000 (ADVICE r2)."""
    import pytest

    from breweries_etl_spark.sources.tables import normalize_event_ts

    p = str(tmp_path / "plain_long_ts.parquet")
    spark.range(5).selectExpr("id AS event_id", "id * 1000000 AS ts").write.parquet(p)
    df = spark.read.parquet(p)
    with pytest.raises(ValueError, match="not timestamp"):
        normalize_event_ts(df, parquet_path=p)


def test_write_partitioned_probe_gates_on_no_data_conditions(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10 (medium): the post-write empty-layer probe must
    rewrite ONLY on the two positive no-data-files conditions
    (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA). A transient reader
    failure after a POPULATED write has to propagate — the old bare
    except would overwrite the layer with an empty frame, destroying
    the data AND its partitioned layout."""
    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.sql.readwriter import DataFrameReader

    df = spark.createDataFrame(
        [Row(id=str(i), location="USA" if i % 2 else "CANADA", v=i)
         for i in range(20)]
    )
    out = str(tmp_path / "silver_flaky")

    class _TransientReadError(AnalysisException):
        def __init__(self):
            Exception.__init__(self, "transient listing failure")

        def getCondition(self):
            return "FAILED_READ_FILE"

        def __str__(self):
            return "transient listing failure"

    real_load = DataFrameReader.load

    def flaky_load(self, path=None, *a, **kw):
        if path == out:
            raise _TransientReadError()
        return real_load(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameReader, "load", flaky_load)
    with pytest.raises(AnalysisException, match="transient"):
        write_partitioned(df, out, ["location"], files_per_partition=2)
    monkeypatch.undo()

    # the populated, partitioned layer survived the probe failure
    back = spark.read.parquet(out)
    assert back.count() == 20
    assert sorted(d for d in os.listdir(out) if d.startswith("location=")) == [
        "location=CANADA", "location=USA"]

    # and the genuine zero-row path still lays down the schema anchor
    empty_out = str(tmp_path / "silver_zero")
    write_partitioned(
        df.filter("v < 0"), empty_out, ["location"], files_per_partition=2
    )
    anchored = spark.read.parquet(empty_out)
    assert anchored.count() == 0
    assert set(anchored.columns) == {"id", "location", "v"}


def test_write_partitioned_launches_no_job_after_its_write(spark, tmp_path, monkeypatch, jobs_in):
    """The post-write probe lists files on the driver: a populated
    partitioned write launches its jobs inside ``save`` and none after."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    at_save = []
    real_save = DataFrameWriter.save

    def save(self, *args, **kwargs):
        real_save(self, *args, **kwargs)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        group = sc.getLocalProperty("spark.jobGroup.id")
        at_save.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(DataFrameWriter, "save", save)
    df = spark.createDataFrame(
        [Row(id=str(i), location="USA" if i % 2 else "CANADA", v=i) for i in range(20)]
    )
    out = str(tmp_path / "silver")
    _, jobs = jobs_in(lambda: write_partitioned(df, out, ["location"], files_per_partition=2))
    assert len(at_save) == 1 and jobs == at_save[0]
