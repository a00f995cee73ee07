"""Per-layer metrics of a traced run.

Every workload reports every metric; a layer the workload never calls
reads 0.  Times are self times (span duration minus the child spans it
contains) and, like job and call counts, are means per op of the class
that layer serves: per load call for ``sources.csv``,
``operators.validate``, ``catalog.append_idempotent`` and
``catalog.quarantine``; per call for ``catalog.compact`` and
``catalog.delete_keys``; per query for ``catalog.read``,
``sources.tables``, ``snapshots`` and ``plans``.  ``session.*`` are
per run.  ``registry.*_query_s`` are the mean wall per query of each
class of the registry pool.  ``trace.*`` are the traced run's own end-to-end figures,
to be set against an untraced run of the same seed (their difference
is the tracing overhead), and its coverage check.
"""

from __future__ import annotations

#: (name, unit) of every per-layer metric, in BENCHMARK.json order
PER_LAYER = [
    ("session.start_s", "s"),
    ("session.gc_s", "s"),
    ("session.jvm_peak_rss_mb", "MB"),
    ("sources.tables.load_table_calls", "count"),
    ("sources.tables.load_table_s", "s"),
    ("sources.tables.load_table_jobs", "count"),
    ("sources.csv.read_s", "s"),
    ("sources.csv.read_jobs", "count"),
    ("operators.validate.split_s", "s"),
    ("operators.validate.split_jobs", "count"),
    ("catalog.append_idempotent_calls", "count"),
    ("catalog.append_idempotent_s", "s"),
    ("catalog.append_idempotent_jobs", "count"),
    ("catalog.quarantine_s", "s"),
    ("ingest.jobs_per_load", "count"),
    ("catalog.compact_s", "s"),
    ("catalog.delete_keys_s", "s"),
    ("catalog.read_s", "s"),
    ("catalog.files", "count"),
    ("catalog.bytes_per_input_byte", "ratio"),
    ("snapshots.commit_s", "s"),
    ("snapshots.commit_jobs", "count"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.plan_s", "s"),
    ("plans.exec_s", "s"),
    ("plans.exec_jobs", "count"),
    ("plans.exec_stages", "count"),
    ("plans.exec_tasks", "count"),
    ("plans.executor_run_s", "s"),
    ("plans.executor_cpu_s", "s"),
    ("plans.parallel_eff", "ratio"),
    ("plans.shuffle_read_mb", "MB"),
    ("plans.shuffle_write_mb", "MB"),
    ("plans.spill_mb", "MB"),
    ("streaming.batches", "count"),
    ("streaming.trigger_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("registry.overhead_query_s", "s"),
    ("registry.compute_query_s", "s"),
    ("trace.op_p50_s", "s"),
    ("trace.cycle_s", "s"),
    ("trace.write_s", "s"),
    ("trace.span_coverage_min", "ratio"),
]


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def _mean(values: list[float]) -> float:
    return _per(sum(values), len(values))


def layer_metrics(tracer, *, query_ops, load_ops, stage_tot, streams,
                  query_wall_s, n_cpus, session, warehouse, trace_e2e,
                  op_windows, classes=None) -> dict[str, float]:
    """All per-layer metrics from the spans of one traced run.

    ``query_ops`` / ``load_ops``: op ids of the read-side queries and
    of the load calls; ``stage_tot``: summed stage metrics of the
    queries; ``query_wall_s``: their summed wall; ``session``:
    start_s / gc_s / jvm_peak_rss_mb; ``warehouse``: files /
    bytes_per_input_byte (weekly cycle only); ``trace_e2e``: the traced
    run's end-to-end metrics; ``op_windows``: op id -> (start, end)
    for the coverage check; ``classes``: registry query walls per pool
    class (registry only).
    """
    nq, nl = len(query_ops), len(load_ops)
    q = tracer.totals(ops=set(query_ops))
    ld = tracer.totals(ops=set(load_ops))
    allt = tracer.totals()

    def get(tot, name, key):
        return tot.get(name, {}).get(key, 0)

    m = {
        "session.start_s": session["start_s"],
        "session.gc_s": session["gc_s"],
        "session.jvm_peak_rss_mb": session["jvm_peak_rss_mb"],
        "sources.tables.load_table_calls": _per(get(q, "sources.tables.load_table", "calls"), nq),
        "sources.tables.load_table_s": _per(get(q, "sources.tables.load_table", "s"), nq),
        "sources.tables.load_table_jobs": _per(get(q, "sources.tables.load_table", "jobs"), nq),
        "sources.csv.read_s": _per(get(ld, "sources.csv.read", "s"), nl),
        "sources.csv.read_jobs": _per(get(ld, "sources.csv.read", "jobs"), nl),
        "operators.validate.split_s": _per(get(ld, "operators.validate.split", "s"), nl),
        "operators.validate.split_jobs": _per(get(ld, "operators.validate.split", "jobs"), nl),
        "catalog.append_idempotent_calls": _per(get(ld, "catalog.append_idempotent", "calls"), nl),
        "catalog.append_idempotent_s": _per(get(ld, "catalog.append_idempotent", "s"), nl),
        "catalog.append_idempotent_jobs": _per(get(ld, "catalog.append_idempotent", "jobs"), nl),
        "catalog.quarantine_s": _per(get(ld, "catalog.quarantine", "s"), nl),
        "ingest.jobs_per_load": _per(
            get(allt, "ingest.load_hhs", "jobs"), get(allt, "ingest.load_hhs", "calls")),
        "catalog.compact_s": _per(
            get(allt, "catalog.compact", "s"), get(allt, "catalog.compact", "calls")),
        "catalog.delete_keys_s": _per(
            get(allt, "catalog.delete_keys", "s"), get(allt, "catalog.delete_keys", "calls")),
        "catalog.read_s": _per(get(q, "catalog.read", "s"), nq),
        "catalog.files": warehouse.get("files", 0),
        "catalog.bytes_per_input_byte": warehouse.get("bytes_per_input_byte", 0.0),
        "snapshots.commit_s": _per(get(q, "snapshots.commit", "s"), nq),
        "snapshots.commit_jobs": _per(get(q, "snapshots.commit", "jobs"), nq),
        "plans.build_s": _per(get(q, "plans.build", "s"), nq),
        "plans.build_jobs": _per(get(q, "plans.build", "jobs"), nq),
        "plans.plan_s": _per(get(q, "plans.plan", "s"), nq),
        "plans.exec_s": _per(get(q, "plans.exec", "s"), nq),
        "plans.exec_jobs": _per(get(q, "plans.exec", "jobs"), nq),
        "plans.exec_stages": _per(stage_tot.get("stages", 0), nq),
        "plans.exec_tasks": _per(stage_tot.get("tasks", 0), nq),
        "plans.executor_run_s": _per(stage_tot.get("executor_run_s", 0.0), nq),
        "plans.executor_cpu_s": _per(stage_tot.get("executor_cpu_s", 0.0), nq),
        "plans.parallel_eff": (
            stage_tot.get("executor_run_s", 0.0) / (query_wall_s * n_cpus)
            if query_wall_s else 0.0
        ),
        "plans.shuffle_read_mb": _per(stage_tot.get("shuffle_read_mb", 0.0), nq),
        "plans.shuffle_write_mb": _per(stage_tot.get("shuffle_write_mb", 0.0), nq),
        "plans.spill_mb": _per(stage_tot.get("spill_mb", 0.0), nq),
        "streaming.batches": _per(streams.batches, nq),
        "streaming.trigger_s": _per(streams.trigger_ms / 1e3, nq),
        "streaming.add_batch_s": _per(streams.add_batch_ms / 1e3, nq),
        "registry.overhead_query_s": _mean((classes or {}).get("overhead", [])),
        "registry.compute_query_s": _mean((classes or {}).get("compute", [])),
        "trace.op_p50_s": trace_e2e["op_p50_s"],
        "trace.cycle_s": trace_e2e["cycle_s"],
        "trace.write_s": trace_e2e["write_s"],
        "trace.span_coverage_min": tracer.coverage(op_windows),
    }
    assert [k for k, _ in PER_LAYER] == list(m), "PER_LAYER out of sync"
    return m
