"""Cache lifecycle: the one way operators materialize and release caches.

Dedup, text, statistics and graph operators persist corpus-scale
intermediates that several branches of one plan read (shingle sets,
value-count relations, edge lists). Left alone, such a cache pins
executor storage for the rest of the session and evicts everything
else on a shared cluster. This module is the only code under
``operators/`` and ``streaming/`` that persists, checkpoints or frees.

Pieces:

- ``persist(df)`` caches ``df`` and registers it in the current scope.
- ``materialized(df)`` (persist + count) and ``truncated(df)`` (eager
  localCheckpoint) are the barriers of iterative loops;
  ``checkpoint(df)`` is the eager reliable checkpoint. A loop that needs
  a count from a barrier observes it on the barrier's own action
  (``DataFrame.observe``) instead of running a second one.
- A scope, opened by ``@operator`` or ``with scope():``, records the
  persistent RDDs that already exist when it opens. Freeing it
  unpersists the frames it registered, then every unnamed RDD pinned
  since it opened: localCheckpoint blocks are invisible to
  ``DataFrame.unpersist``, so only this id-diff reaches them. A
  DataFrame cache carries its plan as the RDD name and is freed only
  through the frame that registered it, so a scope never frees a cache
  it does not own (an enclosing operator's, or the caller's), even
  when its own job was the first to fill it.
- ``@operator`` ends every caching operator, in a mode fixed where the
  operator is defined; no caller chooses it.

  - ``@operator`` (checkpoint and free): the operator takes an eager
    reliable checkpoint of its result and frees the scope, so nothing
    it cached outlives its return. The checkpoint is the release point
    because the result is small next to what it was computed from, and
    its write re-reads still-warm caches: at sf0.1 it costs
    +0.03-0.07 s, against +0.2-0.3 s for a ``collect()`` ->
    ``createDataFrame`` round trip. A scope that holds nothing (no
    frame still cached, no RDD pinned) returns its result untouched.
  - ``@operator(release=False)`` (hand over): for the 22 results that
    are corpus-scale (near-dup pairs, fingerprints, bigram scores,
    shingle sets, the prefix-count primitives and the like), where the
    checkpoint write and teardown would dominate a one-shot consumer's
    call (3.1x slower on the MinHash pipeline). The operator returns
    its lazy plan, caches intact. Called from inside another operator,
    its scope merges into the enclosing one. Called from the top level,
    the result carries one handle and ``release(result)`` frees it once
    the result has been consumed. The handle is a plain attribute, so
    it does not survive a transformation: call ``release`` on the frame
    the operator returned, or capture ``handle(result)`` before
    deriving from it.

Operators whose result is built from driver-side rows (the mltrain
fits) reference no cache once they return; they wrap the caching part
in ``with scope():``, which frees on exit without a checkpoint.
"""

from __future__ import annotations

import functools
import tempfile
import threading

from pyspark import SparkContext
from pyspark.sql import DataFrame

_HANDLE = "_lifecycle"
_local = threading.local()


def _stack() -> list[Scope]:
    if not hasattr(_local, "stack"):
        _local.stack = []
    return _local.stack


def _rdd_ids(sc: SparkContext) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


class Scope:
    """The frames and RDDs one operator call pinned."""

    def __init__(self) -> None:
        self._sc = SparkContext._active_spark_context
        self._before = _rdd_ids(self._sc)
        self.frames: list[DataFrame] = []
        # Fixed when the scope is handed over: the RDDs it pinned by then.
        self._rdds: set[int] | None = None

    def _pinned(self) -> set[int]:
        """Unnamed RDDs pinned since the scope opened."""
        rdds = self._sc._jsc.getPersistentRDDs()
        return {
            int(k)
            for k in rdds.keySet().toArray()
            if int(k) not in self._before and rdds.get(k).name() is None
        }

    def holds_nothing(self) -> bool:
        """True when every frame was already unpersisted in the body and
        no RDD is pinned: a result built from driver-side rows then
        needs no release checkpoint."""
        return not any(df.is_cached for df in self.frames) and not self._pinned()

    def hand_over(self) -> Scope:
        self._rdds = self._pinned()
        return self

    def free(self) -> None:
        for df in self.frames:
            df.unpersist()
        rdds = self._sc._jsc.getPersistentRDDs()
        for k in self._rdds if self._rdds is not None else self._pinned():
            rdd = rdds.get(k)
            if rdd is not None:
                rdd.unpersist()


def _current() -> Scope:
    stack = _stack()
    if not stack:
        raise RuntimeError(
            "lifecycle.persist outside an operator scope: decorate the "
            "operator with @lifecycle.operator or open lifecycle.scope()"
        )
    return stack[-1]


def persist(df: DataFrame) -> DataFrame:
    """Cache ``df`` (lazily) and register it in the current scope."""
    out = df.persist()
    _current().frames.append(out)
    return out


def materialized(df: DataFrame) -> tuple[DataFrame, int]:
    """Persist + count: the cheap per-round lineage barrier. One job, no
    checkpoint I/O; the count doubles as the convergence/emptiness
    signal, so iterative loops pay ONE action per round.

    persist() caches EXECUTION but does not truncate the LOGICAL plan.
    Safe only where the round-over-round plan grows linearly (one
    self-reference per round, as in label propagation). A loop whose
    round references the previous frame k >= 2 times grows a 3^N-node
    plan tree that Catalyst must re-analyze every action; use
    ``truncated`` there instead (measured: hop 5 of the old frontier BFS
    at sf0.1 built a 164 MB plan string and spent 90 s in analysis)."""
    out = persist(df)
    return out, out.count()


def truncated(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager): materialize AND cut the logical plan to a
    single leaf, the barrier for loops with multiplicative plan growth.
    In-memory, no reliable-storage write; one job. The blocks are freed
    with the scope's id-diff."""
    _current()
    return df.localCheckpoint(eager=True)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager reliable checkpoint: materializes ``df`` to the checkpoint
    directory and cuts its lineage, pinning nothing in executor storage.
    Sets a temporary checkpoint directory only if none is set."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(tempfile.mkdtemp(prefix="spark_ckpt_"))
    return df.checkpoint(eager=True)


class scope:
    """``with scope():`` frees everything persisted inside on exit, with
    no checkpoint: for code whose result references no cache."""

    def __enter__(self) -> Scope:
        s = Scope()
        _stack().append(s)
        return s

    def __exit__(self, *exc) -> None:
        _stack().pop().free()


def operator(fn=None, *, release: bool = True):
    """Finish a caching operator in its fixed mode: ``@operator``
    checkpoints the result and frees its caches, ``@operator(release=False)``
    hands them over with the lazy result (see the module docstring)."""
    if fn is None:
        return functools.partial(operator, release=release)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        stack = _stack()
        s = Scope()
        stack.append(s)
        try:
            result = fn(*args, **kwargs)
        except BaseException:
            stack.pop()
            s.free()
            raise
        stack.pop()
        if release:
            if s.holds_nothing():
                return result
            out = checkpoint(result)
            s.free()
            return out
        if stack:
            stack[-1].frames.extend(s.frames)
        elif not s.holds_nothing():
            setattr(result, _HANDLE, s.hand_over())
        return result

    return wrapper


def handle(df: DataFrame) -> Scope | None:
    """The caches a top-level hand-over result holds, if any."""
    return getattr(df, _HANDLE, None)


def release(df: DataFrame) -> None:
    """Free the caches ``df`` holds; a no-op for a frame without any."""
    h = handle(df)
    if h is not None:
        h.free()
        setattr(df, _HANDLE, None)
