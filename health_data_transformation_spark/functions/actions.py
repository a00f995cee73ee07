"""Overlap independent driver-blocking actions (guide §2.6, r13).

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls
them sequentially.  The store builders in this repo end with 2-3
INDEPENDENT actions (write the bucket table, write the token/vector
table, write a stats row), and a load ends with one idempotent append
per target table plus its quarantine write — submitting them from a
small thread pool lets the next job's tasks back-fill executors freed
by the current job's tail instead of queueing behind its last
straggler.

Driver-side only.  Each thunk runs with the caller's Spark local
properties (job group, job description, scheduler pool), copied when
``overlap_actions`` is called.  Failure semantics differ from the
sequential form: when one thunk raises, the others still run to
completion (nothing is cancelled), and only once all of them have
finished is the exception of the earliest-submitted failing thunk
re-raised.

``observed_pass`` is the other driver-action helper: it runs a frame
once and returns aggregates observed on the way, where an aggregate
action would add a shuffle and its own jobs.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Observation, SparkSession


def observed_pass(df, **aggs) -> dict:
    """Run ``df`` through one ``noop`` write (one job, no shuffle) and
    return the named aggregate columns ``aggs``, observed on the way;
    a cached or lazily checkpointed ``df`` is filled by the same pass."""
    seen = Observation()
    df.observe(seen, *[c.alias(k) for k, c in aggs.items()]).write.format(
        "noop"
    ).mode("overwrite").save()
    return seen.get


def overlap_actions(
    thunks: Sequence[Callable[[], object]], max_workers: int = 2
) -> list:
    """Run the given zero-arg actions concurrently; return their
    results in submission order.  For executor-heavy writes 2-3 in
    flight is plenty: enough to fill a job's tail, not so many that
    they fight for executors.  A load's writes are small jobs bound by
    per-job overhead, so a load puts all of them in flight."""
    if len(thunks) == 1:
        return [thunks[0]()]
    # None in a thread that never had a session, e.g. a pool thread
    session = SparkSession.getActiveSession()
    if session is not None:
        # one copy of the local properties per thunk: Spark sets
        # per-execution properties on the thread's own object
        thunks = [inheritable_thread_target(session)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]
