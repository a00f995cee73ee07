"""Spans, Spark job/stage counters and a streaming listener for the
benchmark's traced runs.

Spans are recorded from the benchmark's own files: ``Tracer.wrap``
replaces a public function or method of an engine module with a timing
wrapper at the place the caller looks the name up, for example
``plans.analytics.load_table`` (bound at import) as well as
``sources.tables.load_table`` (looked up at call time).  Spans live in
memory; ``Tracer.dump`` writes them out when the run ends.

Spark work is counted from watermarks read outside each span: the
DAG scheduler's next job id before and after, so a span's
jobs are exactly the ids handed out while it ran (one client thread).
Executor time, shuffle and spill come from the status store's stage
records for the stage ids of an op.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans with parent links and per-span Spark job counts."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._sc = spark.sparkContext._jsc.sc()

    def watermark(self) -> tuple[int, int]:
        """(next job id, next stage id) of the current SparkContext."""
        dag = self._sc.dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId())

    # -- spans -------------------------------------------------------
    def begin_op(self, op_id: int | None) -> None:
        """Attribute the spans that follow to op ``op_id`` (None: to no op)."""
        self._op = op_id

    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str) -> int:
        jobs, _ = self.watermark()
        sid = len(self.spans)
        self.spans.append({
            "name": name, "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, "job0": jobs,
        })
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        span["job1"], _ = self.watermark()
        self._stack.pop()

    # -- wrapping ----------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` (module function or class
        method) as a span called ``name``."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- reporting ---------------------------------------------------
    def self_times(self) -> list[float]:
        """Each span's duration minus the time its child spans cover
        (children of one span never overlap: one client thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def totals(self, ops=None) -> dict[str, dict[str, float]]:
        """Per span name: calls, self seconds and Spark jobs of the spans
        whose op id is in ``ops`` (all ops if None).  Jobs are counted
        on outermost spans of each name only, so nested calls of one
        layer are not counted twice."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "s": 0.0, "jobs": 0}
        )
        selfs = self.self_times()
        for i, s in enumerate(self.spans):
            if ops is not None and s["op"] not in ops:
                continue
            t = out[s["name"]]
            t["calls"] += 1
            t["s"] += selfs[i]
            if not self._has_ancestor_named(i, s["name"]):
                t["jobs"] += s["job1"] - s["job0"]
        return out

    def _has_ancestor_named(self, i: int, name: str) -> bool:
        p = self.spans[i]["parent"]
        while p is not None:
            if self.spans[p]["name"] == name:
                return True
            p = self.spans[p]["parent"]
        return False

    def coverage(self, op_spans: dict[int, tuple[float, float]]) -> float:
        """Smallest share, over ops, of the op's wall covered by its
        top-level child spans."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is None and s["op"] in op_spans:
                covered[s["op"]] += s["end"] - s["start"]
        shares = [
            covered[op] / (t1 - t0)
            for op, (t0, t1) in op_spans.items() if t1 > t0
        ]
        return min(shares) if shares else 1.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.sid = tracer, name, None

    def __enter__(self):
        if self.tracer.enabled:
            self.sid = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        if self.sid is not None:
            self.tracer._close(self.sid)
        return False


def stage_metrics(spark, stage_lo: int, stage_hi: int) -> dict[str, float]:
    """Sum executor metrics of stages with ids in [stage_lo, stage_hi)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tot = defaultdict(float)
    for sid in range(stage_lo, stage_hi):
        try:
            datas = store.stageData(sid, False, None, False, None)
        except Exception:  # stage skipped or evicted from the store
            continue
        it = datas.iterator()
        while it.hasNext():
            d = it.next()
            if str(d.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += d.numCompleteTasks()
            tot["executor_run_s"] += d.executorRunTime() / 1e3
            tot["executor_cpu_s"] += d.executorCpuTime() / 1e9
            tot["shuffle_read_mb"] += d.shuffleReadBytes() / 2**20
            tot["shuffle_write_mb"] += d.shuffleWriteBytes() / 2**20
            tot["spill_mb"] += d.diskBytesSpilled() / 2**20
    return dict(tot)


def jvm_gc_seconds(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    total = 0
    it = mf.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        total += max(0, int(it.next().getCollectionTime()))
    return total / 1e3


def jvm_peak_rss_mb(spark) -> float:
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class StreamCounter(StreamingQueryListener):
    """Counts micro-batches and sums their trigger and addBatch time."""

    def __init__(self):
        self.batches = 0
        self.trigger_ms = 0
        self.add_batch_ms = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        d = event.progress.durationMs or {}
        self.batches += 1
        self.trigger_ms += int(d.get("triggerExecution", 0))
        self.add_batch_ms += int(d.get("addBatch", 0))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
