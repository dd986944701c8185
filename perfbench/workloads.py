"""The benchmark's workloads and the per-layer metrics each one reports.

Every workload is a closed loop: one client, one process, the next call
only after the previous one returned. An iteration is one medallion
pipeline run or one pass over a query list. The engine is driven only
through its public functions (``plans.pipeline`` and the
``__spark_entry__`` registry); spans are opened here, around those calls.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext

import gen
from eventlog import GroupTotals
from spans import NullTracer, patched

MB = 1024 * 1024
QUERY_TIMEOUT_S = 60

STAGES = ("landing_to_bronze", "bronze_to_silver", "silver_to_gold")
LAZY_OPERATORS = ("split_invalid_records", "silver_transform", "gold_aggregations")
SINKS = ("write_table", "write_partitioned", "write_gold")
SINK_FIELDS = (
    ("s", "s"), ("jobs", "count"), ("task_s", "s"), ("shuffle_write_mb", "MB"), ("files_written", "count"),
)
QUERY_FIELDS = (
    ("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"), ("jobs", "count"),
    ("task_s", "s"), ("shuffle_mb", "MB"), ("persisted_rdds_after", "count"),
)
QUERY_LISTS = {
    "stats_tail": ("brown_forsythe_price_flag", "levene_price_flag", "pinball_loss_price", "gini_by_nation_revenue"),
    "dedup_graph": ("dedup_incremental_jaccard", "similarity_topk_pandas", "graph_bfs_levels"),
}
QUERY_TABLES = {
    "stats_tail": ["lineitem", "orders", "customer", "nation"],
    "dedup_graph": ["documents", "embeddings", "orders", "lineitem"],
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "run_p90_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit. A
    workload that never calls a layer reports 0 for it."""
    units = {"session.start_s": "s", "session.warmup_s": "s", "trace.overhead_s": "s"}
    units.update({f"plans.pipeline.{st}.s": "s" for st in STAGES})
    units.update({
        "sources.read_landing_json.build_ms": "ms",
        "sources.read_landing_json.files": "count",
        "sources.read_landing_json.read_tasks": "count",
        "sources.read_landing_json.input_mb": "MB",
    })
    units.update({f"operators.{op}.build_ms": "ms" for op in LAZY_OPERATORS})
    units.update({f"sinks.{sink}.{f}": u for sink in SINKS for f, u in SINK_FIELDS})
    units["sinks.write_amplification"] = "ratio"
    for queries in QUERY_LISTS.values():
        units.update({f"{q}.{f}": u for q in queries for f, u in QUERY_FIELDS})
    return units


def _data_files(path: str) -> list[str]:
    """Data files under ``path``; Spark's markers and checksums start
    with ``_`` or ``.``."""
    return [
        os.path.join(d, n)
        for d, _dirs, names in os.walk(path)
        for n in names
        if not n.startswith(("_", "."))
    ]


def _medians(per_iteration: dict[int, dict[str, float]], names) -> dict[str, float]:
    return {n: statistics.median(it.get(n, 0.0) for it in per_iteration.values()) for n in names}


class Workload:
    name = ""

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.input_rows = 0

    def _fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {self.name}: {what}", file=sys.stderr)

    def traced(self, tracer):
        """Context in which ``tracer`` sees every layer call of an iteration."""
        return nullcontext()

    def check(self) -> None:
        """Correctness checks made once, after warm-up."""


class Medallion(Workload):
    """Repeated ``run_pipeline`` over one seeded set of landing pages."""

    name = "medallion"
    # the driver-side code of a pipeline run is still being JIT-compiled
    # over the first few runs
    warmup_iterations = 4

    def prepare(self) -> None:
        from breweries_etl_spark.config import MedallionPaths

        self.paths = MedallionPaths(os.path.join(self.work, "medallion"))
        self.expected = gen.write_landing(self.paths.landing, self.seed)
        self.input_rows = self.expected["bronze"]
        self.amplification: dict[int, float] = {}

    def open(self, spark) -> None:
        from breweries_etl_spark.plans import pipeline

        self.spark = spark
        self.pipeline = pipeline

    def warm_up(self) -> None:
        for _ in range(self.warmup_iterations):
            self.iteration(NullTracer())

    def _layers(self) -> list[str]:
        p = self.paths
        return [p.bronze, p.silver, p.quarantine, p.gold]

    def iteration(self, tracer) -> float:
        # quarantine is appended to, so every layer but landing is reset
        for layer in self._layers():
            shutil.rmtree(layer, ignore_errors=True)
        self.attempted += 1
        start = time.perf_counter()
        try:
            metrics = self.pipeline.run_pipeline(self.spark, self.paths, retries=1)
        except Exception:  # noqa: BLE001 - a failed run is counted, the loop goes on
            self._fail(traceback.format_exc())
            return time.perf_counter() - start
        elapsed = time.perf_counter() - start
        self._verify(metrics.counters)
        if tracer.recording:
            written = sum(os.path.getsize(f) for layer in self._layers() for f in _data_files(layer))
            self.amplification[tracer.iteration] = written / self.expected["bytes"]
        return elapsed

    def _verify(self, counters: dict[str, float]) -> None:
        import pyarrow.dataset as ds

        exp = self.expected
        want = {
            "bronze": exp["bronze"],
            "silver": exp["silver"],
            "quarantine": exp["quarantine"],
            **{f"gold_{name}": len(rows) for name, rows in exp["gold"].items()},
        }
        got = {k: counters.get(f"{k}_records_processed_total") for k in want}
        if got != want:
            return self._fail(f"record counts {got} != expected {want}")
        for name, rows in exp["gold"].items():
            table = ds.dataset(self.paths.gold_table(name), format="parquet").to_table().to_pylist()
            found = Counter()
            for r in table:
                found[tuple(v for k, v in r.items() if k != "brewery_count")] += r["brewery_count"]
            if found != rows:
                return self._fail(f"gold table {name} differs from the expected aggregation")

    @contextmanager
    def traced(self, tracer):
        def spanned(name: str, path_arg: str | None = None):
            def wrap(fn):
                def call(*args, **kwargs):
                    with tracer.span(name) as sp:
                        out = fn(*args, **kwargs)
                    if path_arg is not None:
                        path = args[1] if len(args) > 1 else kwargs[path_arg]
                        sp.counts["files_written"] = len(_data_files(path))
                    return out

                return call

            return wrap

        wrappers = {st: spanned(f"plans.pipeline.{st}") for st in STAGES}
        wrappers["read_landing_json"] = spanned("sources.read_landing_json")
        wrappers.update({op: spanned(f"operators.{op}") for op in LAZY_OPERATORS})
        wrappers["write_table"] = spanned("sinks.write_table", "path")
        wrappers["write_partitioned"] = spanned("sinks.write_partitioned", "path")
        wrappers["write_gold"] = spanned("sinks.write_gold", "gold_path")
        with patched(self.pipeline, wrappers):
            yield

    def layer_metrics(self, tracer, totals: dict[str, GroupTotals]) -> dict[str, float]:
        per_it: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in tracer.spans:
            it = per_it[sp.iteration]
            t = totals.get(sp.group, GroupTotals())
            layer = sp.name
            if layer.startswith("plans.pipeline."):
                it[f"{layer}.s"] += sp.seconds
            elif layer.startswith("sinks."):
                it[f"{layer}.s"] += sp.seconds
                it[f"{layer}.jobs"] += t.jobs
                it[f"{layer}.task_s"] += t.task_ms / 1000
                it[f"{layer}.shuffle_write_mb"] += t.shuffle_write_bytes / MB
                it[f"{layer}.files_written"] += sp.counts.get("files_written", 0)
            else:  # the lazy source and operators: plan-build time only
                it[f"{layer}.build_ms"] += sp.seconds * 1000
            if "plans.pipeline.landing_to_bronze" in [layer, *tracer.ancestors(sp)]:
                it["sources.read_landing_json.read_tasks"] += t.input_tasks
                it["sources.read_landing_json.input_mb"] += t.input_bytes / MB
        for i, ratio in self.amplification.items():
            per_it[i]["sinks.write_amplification"] = ratio
        names = [n for n in per_layer_units() if n.startswith(("plans.", "sources.", "operators.", "sinks."))]
        out = _medians(per_it, names)
        out["sources.read_landing_json.files"] = self.expected["files"]
        return out


class Queries(Workload):
    """Passes over a fixed list of registry queries, each forced with the
    noop sink, at a fixed table size (the sf0.01 testdata shapes)."""

    def __init__(self, name: str, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.name = name
        self.queries = QUERY_LISTS[name]
        self.sf_dir = os.path.join(work, "tables")
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}

    def prepare(self) -> None:
        rows = gen.write_tables(self.sf_dir, self.seed, QUERY_TABLES[self.name])
        self.input_rows = sum(rows.values())

    def open(self, spark) -> None:
        import __spark_entry__ as registry

        self.spark = spark
        self.sc = spark.sparkContext
        self.sc.setCheckpointDir(os.path.join(self.work, "checkpoints"))
        table = registry.queries()
        self.fns = {q: table[q] for q in self.queries}
        self.oracles = registry.oracle_sql()

    def _release(self) -> int:
        """Unpin everything the last query left cached; return how many
        RDDs were still persisted."""
        pinned = self.sc._jsc.getPersistentRDDs()
        count = pinned.size()
        self.spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)
        return count

    def _run(self, q: str, tracer, collect: bool) -> float:
        self.attempted += 1
        watchdog = threading.Timer(QUERY_TIMEOUT_S, self.sc.cancelAllJobs)
        watchdog.start()
        start = time.perf_counter()
        try:
            with tracer.span(f"{q}.build"):
                df = self.fns[q](self.spark, self.sf_dir)
            with tracer.span(f"{q}.exec") as exec_span:
                if collect:
                    self.results[q] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - a failed query is counted, the pass goes on
            self._fail(f"{q}: {traceback.format_exc()}")
            exec_span = None
        finally:
            watchdog.cancel()
        elapsed = time.perf_counter() - start
        pinned = self._release()
        if exec_span is not None:
            exec_span.counts["persisted_rdds_after"] = pinned
        return elapsed

    def iteration(self, tracer, collect: bool = False) -> float:
        return sum(self._run(q, tracer, collect) for q in self.queries)

    def warm_up(self) -> None:
        # one pass, which keeps every result for the oracle check
        self.iteration(NullTracer(), collect=True)

    def check(self) -> None:
        """Compare each warm-up result, order-insensitively, with the
        query's DuckDB oracle over the same parquet files."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(self.work, 'duckdb')}'")
        for t in QUERY_TABLES[self.name]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        for q in self.queries:
            if q not in self.results:  # its warm-up run failed and was counted
                continue
            try:
                rel = con.sql(self.oracles[q])
                want = _canonical(list(rel.columns), rel.fetchall())
            except Exception:  # noqa: BLE001 - an oracle error fails the query, not the run
                self._fail(f"{q}: oracle error {traceback.format_exc()}")
                continue
            if _canonical(*self.results[q]) != want:
                self._fail(f"{q}: result differs from its oracle")

    def layer_metrics(self, tracer, totals: dict[str, GroupTotals]) -> dict[str, float]:
        per_it: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in tracer.spans:
            it = per_it[sp.iteration]
            t = totals.get(sp.group, GroupTotals())
            q, kind = sp.name.rsplit(".", 1)
            it[f"{q}.{kind}_s"] += sp.seconds
            it[f"{q}.jobs"] += t.jobs
            it[f"{q}.task_s"] += t.task_ms / 1000
            it[f"{q}.shuffle_mb"] += t.shuffle_write_bytes / MB
            if kind == "build":
                it[f"{q}.build_jobs"] += t.jobs
            else:
                it[f"{q}.persisted_rdds_after"] += sp.counts.get("persisted_rdds_after", 0)
        return _medians(per_it, [f"{q}.{f}" for q in self.queries for f, _u in QUERY_FIELDS])


def _canonical(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, values as text (floats exactly, by repr),
    rows sorted: equal iff the results match order-insensitively."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def text(v) -> str:
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)

    return [cols[i] for i in order], sorted(tuple(text(r[i]) for i in order) for r in rows)


WORKLOADS = {
    "medallion": Medallion,
    "stats_tail": lambda work, seed: Queries("stats_tail", work, seed),
    "dedup_graph": lambda work, seed: Queries("dedup_graph", work, seed),
}
