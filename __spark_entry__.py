"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship gold aggregation at sf0.001;
``queries()`` exposes every implemented operator (SURVEY.md §2 + the
scale extensions) as (spark, sf_dir) -> DataFrame; ``oracle_sql()``
carries the DuckDB-equivalent SQL per query. Column names/aliases match
pairwise so the driver's order-insensitive value hash compares cleanly.

Both are read from the query records in ``breweries_etl_spark/queries/``:
one record per query, declared with its builder.
"""

from __future__ import annotations

import os
import sys

# The driver may load this module by file path; make the sibling package
# importable regardless of the caller's working directory.
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession

from breweries_etl_spark.queries import REGISTRY
from breweries_etl_spark.queries.core import q_gold_by_type_location
from breweries_etl_spark.queries.record import Builder


# The runtime confs correctness and plan shape depend on: UTC, so
# timestamp rendering matches the tz-naive oracle; nanos-as-long, so the
# events parquet reads; 32 shuffle partitions, which right-size shuffles
# for the local test SFs (Spark's default 200 over-parallelizes 60k-row
# inputs ~6×), and AQE on, which still coalesces further.
PINNED_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
}


def _pin_session(spark: SparkSession) -> None:
    """The caller supplies its own SparkSession; pin ``PINNED_CONFS``."""
    for key, value in PINNED_CONFS.items():
        spark.conf.set(key, value)


def _wrap(fn: Builder) -> Builder:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _pin_session(spark)
        return fn(spark, sf_dir)

    run.__name__ = getattr(fn, "__name__", "query")
    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's gold by_type_location aggregation over
    the standardized silver frame, at sf0.001."""
    _pin_session(spark)
    return q_gold_by_type_location(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Builder]:
    """Every registered query keyed by name, in declaration order."""
    return {name: _wrap(q.build) for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """The DuckDB twin of every query that has one; the rest are rows-only."""
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
