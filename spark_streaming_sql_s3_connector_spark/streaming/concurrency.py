"""Concurrent submission of independent Spark actions from one driver.

The incremental triggers' wall is JOB COUNT, not rows (~0.25 s of
analysis/codegen/dispatch per tiny-batch job was measured at sf0.01,
where 30 jobs were about the whole trigger). Several of those jobs are
pairwise independent — two overwrite-idempotent plane writes off the
same cached parent, or the folds of disjoint state roots — so
submitting them from worker threads overlaps their fixed costs. This is
the standard Spark driver pattern (one SparkSession, many scheduler
threads); it helps a real cluster the same way it helps local[N]: the
executors stay busy while the driver plans the sibling job.

Safety argument, mirrored in each call site's comment:
- Only writes with NO documented ordering contract overlap. Every plane
  write here is overwrite-by-batch-dir and replay-convergent, and
  cross-plane read isolation mid-trigger was never provided (readers
  run between triggers by contract; the checkpoint commit is the
  atomicity boundary), so issue order within the trigger is
  unobservable.
- Cached parents shared by both thunks are safe: Spark's CacheManager
  takes per-partition locks, so concurrent first-materialization
  computes each partition once.
- `pyspark.InheritableThread` propagates the parent's JVM-thread-local
  properties (job group/description) under pinned-thread mode, so
  attribution tooling keeps working.
"""

from __future__ import annotations

import threading
from typing import Any, Callable, Optional


def run_concurrently(*thunks: Callable[[], Any], limit: Optional[int] = None) -> list:
    """Run the thunks in parallel threads, at most ``limit`` at a time
    (None: all at once); return results in thunk order. Every thread is
    joined before returning; the FIRST raised exception (in thunk
    order) propagates after all finish — no thread is left running
    against half-rolled-back state."""
    if len(thunks) == 1:
        return [thunks[0]()]
    try:
        from pyspark import InheritableThread as _Thread
    except ImportError:  # pragma: no cover - ancient pyspark
        from threading import Thread as _Thread

    results: list = [None] * len(thunks)
    errors: list = [None] * len(thunks)
    todo = iter(range(len(thunks)))
    lock = threading.Lock()

    def _runner() -> None:
        while True:
            with lock:
                i = next(todo, None)
            if i is None:
                return
            try:
                results[i] = thunks[i]()
            except BaseException as e:  # noqa: BLE001 - re-raised below
                errors[i] = e

    n = len(thunks) if limit is None else max(1, min(limit, len(thunks)))
    threads = [_Thread(target=_runner) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results
