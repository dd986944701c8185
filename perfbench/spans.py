"""Spans recorded by the benchmark around calls into the engine.

Each span gets its own Spark job group, so the event log attributes every
job, stage and task to exactly one span (the innermost open one). Spans
are kept in memory; ``eventlog.group_totals`` joins them with the log
after the session stops.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str  # the Spark job group, unique per span
    parent: str | None  # the enclosing span's group
    iteration: int
    seconds: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)


class NullTracer:
    """Stands in for ``Tracer`` in untraced runs: no job groups, no records."""

    recording = False
    iteration = 0

    @contextmanager
    def span(self, name: str):
        yield Span(name, "", None, 0)


class Tracer:
    recording = True

    def __init__(self, sc) -> None:
        self._sc = sc
        self._open: list[Span] = []
        self.spans: list[Span] = []
        self.iteration = 0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self._sc.setLocalProperty(key, None)
        else:
            self._sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        sp = Span(name, f"{name}#{len(self.spans)}", parent.group if parent else None, self.iteration)
        self.spans.append(sp)
        self._open.append(sp)
        self._set_group(sp)
        start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.seconds = time.perf_counter() - start
            self._open.pop()
            self._set_group(parent)

    def ancestors(self, span: Span) -> list[str]:
        """Names of the spans enclosing ``span``, innermost first."""
        by_group = {s.group: s for s in self.spans}
        out = []
        while span.parent is not None:
            span = by_group[span.parent]
            out.append(span.name)
        return out


@contextmanager
def patched(module, wrappers: dict):
    """Replace ``module.<attr>`` by ``wrap(original)`` for each
    ``attr: wrap`` pair while the block runs, then restore the originals."""
    originals = {attr: getattr(module, attr) for attr in wrappers}
    try:
        for attr, wrap in wrappers.items():
            setattr(module, attr, functools.wraps(originals[attr])(wrap(originals[attr])))
        yield
    finally:
        for attr, fn in originals.items():
            setattr(module, attr, fn)
