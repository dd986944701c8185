"""Offline reader for Spark's JSON event log: per-job-group totals.

The benchmark opens every traced span with its own job group, so summing
the log by ``spark.jobGroup.id`` gives each span's jobs, stages, task time,
shuffle, spill, input and output without the Spark UI. Jobs and stages
carry the group in their properties; tasks are attributed through the
stage they ran in. Work outside any group is filed under ``""``.

Usage: python3 perfbench/eventlog.py <event-log file or directory>
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import asdict, dataclass

_JOB_START = "SparkListenerJobStart"
_STAGE_SUBMITTED = "SparkListenerStageSubmitted"
_TASK_END = "SparkListenerTaskEnd"
_WANTED = (_JOB_START, _STAGE_SUBMITTED, _TASK_END)


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: int = 0  # executor run time, summed over tasks
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # bytes spilled to disk
    input_bytes: int = 0
    input_tasks: int = 0  # tasks that read input (file scans)
    output_bytes: int = 0


def _files(path: str) -> list[str]:
    """The log file itself, or every non-hidden file below a log directory
    (Spark 4 writes rolling logs as ``eventlog_v2_*/events_<n>_*``)."""
    if os.path.isfile(path):
        return [path]
    found = []
    for dirpath, _dirs, names in os.walk(path):
        found += [os.path.join(dirpath, n) for n in names if not n.startswith(".") and not n.startswith("appstatus")]

    def order(p: str):
        name = os.path.basename(p)
        parts = name.split("_")
        index = int(parts[1]) if name.startswith("events_") and parts[1].isdigit() else 0
        return os.path.dirname(p), index, name

    return sorted(found, key=order)


def _events(path: str):
    for name in _files(path):
        with open(name, encoding="utf-8") as fh:
            for line in fh:
                # the event name leads each record; skip the bulky SQL plan
                # events without decoding them
                head = line[:64]
                if any(w in head for w in _WANTED):
                    yield json.loads(line)


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or ""


def group_totals(path: str) -> dict[str, GroupTotals]:
    totals: dict[str, GroupTotals] = {}
    stage_group: dict[tuple[int, int], str] = {}

    def of(group: str) -> GroupTotals:
        return totals.setdefault(group, GroupTotals())

    for ev in _events(path):
        kind = ev["Event"]
        if kind == _JOB_START:
            of(_group(ev.get("Properties"))).jobs += 1
        elif kind == _STAGE_SUBMITTED:
            info = ev["Stage Info"]
            group = _group(ev.get("Properties"))
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
            of(group).stages += 1
        else:
            t = of(stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]), ""))
            t.tasks += 1
            m = ev.get("Task Metrics")
            if not m:  # failed or killed tasks may carry no metrics
                continue
            t.task_ms += m.get("Executor Run Time", 0)
            t.spill_bytes += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics", {})
            t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            read = m.get("Input Metrics", {}).get("Bytes Read", 0)
            t.input_bytes += read
            t.input_tasks += read > 0
            t.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return totals


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    for group, t in sorted(group_totals(argv[0]).items()):
        print(json.dumps({"group": group, **asdict(t)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
