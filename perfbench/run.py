"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {medallion,stats_tail,dedup_graph}
        --seed N --seconds S --trace {0,1}

Run from a full checkout. The run generates its inputs from ``--seed``,
starts one Spark session (``local[<cores>]``), warms up, checks outputs,
then loops closed-loop for ``--seconds``. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` alternates untraced and traced
iterations (spans with job groups, event log on) and prints the
per-layer metrics. Everything it writes stays under ``perfbench/.work`` and is
removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

from spans import NullTracer, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"


def _args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_host(work: str) -> dict[str, str]:
    """Cores, driver memory and every scratch location, set before the
    JVM starts; returns the Spark confs the session is created with."""
    cores = len(os.sched_getaffinity(0))
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # every JVM, the launcher's too, would keep its perf counters in /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        # the whole heap is committed and touched at start, so resident
        # memory does not follow the collector's resizing decisions
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def _event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class ProcessTree:
    """This process and its descendants: the driver JVM and its Python
    workers."""

    TICKS = os.sysconf("SC_CLK_TCK")

    def __init__(self) -> None:
        self.peak_mb = 0.0

    @staticmethod
    def _members() -> dict[int, list[str]]:
        """pid -> the fields of /proc/<pid>/stat after the command name."""
        stats: dict[int, list[str]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        stats[int(entry)] = fh.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue  # the process ended while we looked
        children: dict[int, list[int]] = {}
        for pid, fields in stats.items():
            children.setdefault(int(fields[1]), []).append(pid)
        out, todo = {}, [os.getpid()]
        while todo:
            pid = todo.pop()
            out[pid] = stats.get(pid, [])
            todo += children.get(pid, [])
        return out

    def cpu_s(self) -> float:
        """User and system CPU seconds used so far, including those of
        exited descendants their parents have reaped. Time the host
        steals from the virtual CPUs is not charged to any of them."""
        ticks = sum(sum(int(v) for v in f[11:15]) for f in self._members().values() if f)
        return ticks / self.TICKS

    def sample(self) -> None:
        """Record the sum of the descendants' resident high-water marks."""
        kb = 0
        for pid in self._members():
            if pid == os.getpid():
                continue
            try:
                with open(f"/proc/{pid}/status") as fh:
                    kb += next((int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0)
            except OSError:
                continue
        self.peak_mb = max(self.peak_mb, kb / 1024)


def _measure(step, seconds: float, tree: ProcessTree, at_least: int = 1) -> tuple[list[float], list[float]]:
    """Closed loop for ``seconds``: ``step(i)`` runs iteration ``i`` and
    returns its time; another starts only while the median one still
    fits, and at least ``at_least`` run. Returns the times and the CPU
    seconds each iteration used."""
    times: list[float] = []
    cpu: list[float] = []
    start = time.perf_counter()
    while True:
        before = tree.cpu_s()
        times.append(step(len(times)))
        cpu.append(tree.cpu_s() - before)
        tree.sample()
        if len(times) >= at_least and time.perf_counter() - start + statistics.median(times) > seconds:
            return times, cpu


def _alternating(workload, tracer):
    """Even iterations untraced, odd ones traced, so that both halves see
    the same warm-up trend and their difference is the tracing overhead."""
    untraced = NullTracer()

    def step(i: int) -> float:
        if i % 2 == 0:
            return workload.iteration(untraced)
        tracer.iteration += 1
        with workload.traced(tracer):
            return workload.iteration(tracer)

    return step


def _high_percentile(times: list[float]) -> float:
    """p90 (nearest rank) once ten samples support it; below that the
    sample maximum, the highest percentile a short sample supports."""
    ordered = sorted(times)
    if len(ordered) < 10:
        return ordered[-1]
    return ordered[math.ceil(0.9 * len(ordered)) - 1]


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run(args, work: str) -> dict:
    from workloads import END_TO_END_UNITS, WORKLOADS, per_layer_units

    conf = _pin_host(work)
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(_event_log_conf(log_dir))
    workload = WORKLOADS[args.workload](work, args.seed)
    workload.prepare()

    t0 = time.perf_counter()
    import pyspark

    from breweries_etl_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    start_s = time.perf_counter() - t0
    tree = ProcessTree()
    try:
        workload.open(spark)
        workload.warm_up()
        setup_s = time.perf_counter() - t0
        tree.sample()
        workload.check()
        spark.sparkContext._jvm.System.gc()  # time from a collected heap

        if args.trace:
            tracer = Tracer(spark.sparkContext)
            samples, _cpu = _measure(_alternating(workload, tracer), args.seconds, tree, at_least=2)
            untraced, times = samples[0::2], samples[1::2]
        else:
            null = NullTracer()
            times, cpu = _measure(lambda _i: workload.iteration(null), args.seconds, tree)
    finally:
        _stop(spark)

    host = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": DRIVER_MEMORY,
        "host_memory_mb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "iterations": [round(t, 3) for t in times],
    }
    print("host " + json.dumps(host))

    run_s = statistics.median(times)
    if args.trace:
        from eventlog import group_totals

        values = {n: 0.0 for n in per_layer_units()}
        values.update(workload.layer_metrics(tracer, group_totals(log_dir)))
        values.update({
            "session.start_s": start_s,
            "session.warmup_s": setup_s - start_s,
            "trace.overhead_s": run_s - statistics.median(untraced),
        })
        units = per_layer_units()
    else:
        values = {
            "setup_s": setup_s,
            "run_s": run_s,
            "run_p90_s": _high_percentile(times),
            "rows_per_s": workload.input_rows / run_s,
            "cpu_s": statistics.median(cpu),
            "peak_rss_mb": tree.peak_mb,
        }
        units = END_TO_END_UNITS
    metrics = {n: {"value": values[n], "unit": units[n]} for n in units}
    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    print(f"failed_ratio {workload.failed / max(workload.attempted, 1):.6g} ratio")
    return {
        "correct": workload.failed == 0,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: engine sources not found; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    args = _args(argv)
    from tools.benchlock import acquire_or_die

    acquire_or_die("perfbench")
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
