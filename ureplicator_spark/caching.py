"""Scoped cache-pin registry.

Several operators persist a shared intermediate (a shingle view, a
MinHash signature table, a Lloyd assignment) that multiple branches of
the returned plan re-read. The returned DataFrame is lazy, so the
operator itself can never unpersist — the pin must outlive the
function and die with the *invocation*. Before round 7 the only
release path was the REST layer's global ``getPersistentRDDs()`` diff,
which (a) leaked for standalone and bench callers and (b) was
thread-unsafe: with overlapping REST requests (concurrent handler threads) or
concurrent streaming foreachBatch handlers, one request's exit
unpersisted RDDs pinned mid-job by another thread (round-6 advisor,
medium).

The fix is ownership, not diffing: operators persist through
``pin()``, which registers the handle with the innermost active
``pin_scope()`` on the CURRENT THREAD; the scope unpersists its own
pins — and only its own — on exit. Plan construction happens inside
the caller's scope (operator functions run eagerly; only execution is
lazy), so a scope wrapped around build+collect owns exactly the pins
of that invocation, whatever transformations the caller layered on
top of the operator's frame. No global state is ever diffed, so
concurrent threads cannot release each other's caches, by
construction. Without an active scope ``pin`` degrades to a plain
``persist()`` — ad-hoc notebook callers keep the shared-scan benefit
and may release manually.

Streaming foreachBatch handlers manage their batch-frame persists
explicitly (persist/unpersist in a finally block, see streaming/);
they do not use this registry.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_local = threading.local()


def pin(df: DataFrame) -> DataFrame:
    """``df.persist()`` + register with the innermost active scope on
    this thread (no-op registration when no scope is active)."""
    df = df.persist()
    stack = getattr(_local, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


def release_checkpoint(df: DataFrame, blocking: bool = False) -> None:
    """Release a ``localCheckpoint``-backed frame's storage blocks.

    ``DataFrame.unpersist()`` is a NO-OP for checkpoints — the cache
    manager never owned those blocks; they belong to the underlying
    checkpointed RDD (reachable as the analyzed plan's LogicalRDD).
    Safe ONLY once nothing will read the frame again: the checkpoint
    truncated its lineage, so released blocks are unrecoverable. A
    never-materialized lazy checkpoint releases as a harmless no-op.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(blocking)
    except Exception:
        pass  # not checkpoint-backed / session stopped — nothing to do


class _CheckpointHandle:
    """Adapter so a checkpoint-backed frame can sit in a pin scope's
    release list (the scope calls ``.unpersist`` on exit)."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False) -> None:
        release_checkpoint(self._df, blocking)


def adopt_checkpoint(df: DataFrame) -> DataFrame:
    """Register an already-materialized ``localCheckpoint`` frame with
    the innermost active scope so its blocks are released on scope
    exit — the checkpoint analog of :func:`pin` (which persists; a
    checkpoint is already stored). No-op without an active scope: the
    blocks then live until process exit, the pre-registry behavior.

    Sharper contract than ``pin``: a released PERSIST silently
    recomputes on re-execution, but a released checkpoint's lineage
    is truncated — executing the frame after its scope exits raises
    (missing checkpoint block) instead of recomputing. Same rule as
    every scope-owned cache: finish all actions inside the scope."""
    stack = getattr(_local, "stack", None)
    if stack:
        stack[-1].append(_CheckpointHandle(df))
    return df


@contextmanager
def pin_scope(blocking: bool = False):
    """Release every frame ``pin()``-ed on this thread inside the
    block once it exits. Scopes nest: an inner scope owns (and
    releases) its own pins; the outer scope never sees them. Yields
    the live pin list (tests gauge it)."""
    stack = getattr(_local, "stack", None)
    if stack is None:
        stack = _local.stack = []
    pins: list[DataFrame] = []
    stack.append(pins)
    try:
        yield pins
    finally:
        stack.pop()
        for df in pins:
            try:
                df.unpersist(blocking)
            except Exception:
                pass  # session already stopped — nothing to release
