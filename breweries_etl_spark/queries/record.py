"""The query record and the decorator that declares it.

A family module starts with ``query = family("<name>")`` and declares
each query where its builder is defined::

    @query(oracle="SELECT ...")
    def q_<name>(spark, sf_dir): ...

    query(oracle=...)(analytics.tpch_q1)   # a builder defined elsewhere

The key is the builder's name without its ``q_`` prefix. ``oracle`` is
the DuckDB twin its result is hash-compared against; a record without
one is rows-only. ``bench=False`` keeps the query out of ``bench.py``; bench
queries run in declaration order within their family.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    build: Builder
    oracle: str | None
    family: str
    bench: bool


# every record, in declaration order
REGISTRY: dict[str, Query] = {}


def family(name: str):
    """The ``query`` decorator factory for the family ``name``."""

    def query(oracle: str | None = None, *, bench: bool = True):
        def register(build: Builder) -> Builder:
            key = build.__name__.removeprefix("q_")
            if key in REGISTRY:
                raise ValueError(f"query {key!r} is registered twice")
            REGISTRY[key] = Query(key, build, oracle, name, bench)
            return build

        return register

    return query
