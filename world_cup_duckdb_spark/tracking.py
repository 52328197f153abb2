"""Per-query release list: the one place query-scoped executor state lives.

A registry query's persisted intermediates (``queries.tracked_persist``)
and the state the DataFrame API can't release — e.g. the block-cached
RDD behind a ``localCheckpoint`` (``df.unpersist()`` only touches the
SQL cache manager, never checkpoint blocks) — both register a release
callback here at materialization time. ``release_all`` runs (and drops)
the calling thread's callbacks when that thread enters its NEXT registry
query, so executor memory is bounded to one query's working set across
the round driver's multi-hundred-query loop instead of waiting on JVM
GC + ContextCleaner (ADVICE r7, operators/relational.py:_ranged_offsets).

The list is per thread: two callers sharing one session release only
their own state, never each other's in-flight intermediates. A thread
that exits without entering another query or calling
``release_tracked_persists()`` keeps its persists until the session
stops.

Releasing a checkpoint a plan still needs FAILS LOUDLY on next use
(checkpoint blocks are not recomputable) rather than silently returning
wrong rows — and no registered caller builds two queries before
collecting either.

Lives in its own leaf module so ``operators/*`` can register without
importing the query registry (queries → operators → tracking; no cycle).
"""

from __future__ import annotations

import threading
from collections.abc import Callable


class _PerThread(threading.local):
    def __init__(self) -> None:
        # Runs once per thread, on that thread's first access.
        self.releasers: list[Callable[[], None]] = []


_local = _PerThread()


def track_release(fn: Callable[[], None]) -> None:
    """Register a callback releasing query-scoped executor state; it runs
    once, when this thread's next registered query begins."""
    _local.releasers.append(fn)


def release_all() -> None:
    """Run and drop every release callback this thread registered
    (swallowing errors — a stopped session has nothing left to release)."""
    pending = _local.releasers
    while pending:
        fn = pending.pop()
        try:
            fn()
        except Exception:
            pass
