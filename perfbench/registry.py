"""The ``registry`` workload: a fixed pool of ``plans.analytics`` queries
over generated tables, each query built and then executed through the
no-op sink (as the repo's ``bench.py`` does), closed loop, one client.
The pool (``pools.json``) holds "overhead" queries, whose wall is
mostly plan building, planning and inline collects, and "compute"
queries, whose wall is mostly executor time; the traced run reports each class's
mean wall per query.

Per run: set up (session, tables, warm-up) three times and report the
median; run every pool query once untimed as a ``.collect()`` checked
against its DuckDB oracle (this is also its warm rep); then time whole
passes over the pool, in an order the seed permutes per pass, until the
measured window is used up (one pass at the least).
"""

from __future__ import annotations

import json
import os
import random
import time

from . import common, layers, tablegen, trace
from .oracle import connect_parquet, frames_match

POOLS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pools.json")

#: a small registry query every set-up repetition runs once
WARMUP_QUERY = "q01_week_count"
#: passes measured at the least, however short the window
MIN_PASSES = 1


def load_pools() -> dict:
    with open(POOLS_FILE) as fh:
        return json.load(fh)


def execute(df) -> None:
    """Run the plan to completion without collecting (bench.py:53)."""
    df.write.format("noop").mode("overwrite").save()


def instrument(tracer: trace.Tracer) -> None:
    """Spans around the layers a registry query calls into."""
    from health_data_transformation_spark import snapshots
    from health_data_transformation_spark.plans import analytics
    from health_data_transformation_spark.sources import tables

    for owner in (analytics, tables):
        tracer.wrap(owner, "load_table", "sources.tables.load_table")
        tracer.wrap(owner, "load_events_range", "sources.tables.load_table")
    for method in ("commit_append", "commit_overwrite", "commit_upsert",
                   "commit_delete", "compact"):
        tracer.wrap(snapshots.SnapshotTable, method, "snapshots.commit")


def run_query(spark, fn, data_dir: str, tracer: trace.Tracer) -> tuple[float, float]:
    """One op: build the frame, (traced: force its physical plan), run
    it through the no-op sink.  Returns (wall, exec) seconds."""
    t0 = time.perf_counter()
    with tracer.span("plans.build"):
        df = fn(spark, data_dir)
    if tracer.enabled:
        with tracer.span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
    t1 = time.perf_counter()
    with tracer.span("plans.exec"):
        execute(df)
    t2 = time.perf_counter()
    return t2 - t0, t2 - t1


def check_query(spark, spec, data_dir: str, con) -> tuple[int, str | None]:
    """The untimed warm rep: collect and compare with the oracle.
    Returns (result rows, problem or None)."""
    got = spec.fn(spark, data_dir).toPandas()
    if spec.oracle is None:
        return len(got), None if len(got) else "no rows"
    return len(got), frames_match(got, con.execute(spec.oracle).df())


def run(seed: int, seconds: float, traced: bool, t_start: float) -> dict:
    from health_data_transformation_spark.plans.analytics import REGISTRY

    pools = load_pools()
    classes = {name: cls for cls in ("overhead", "compute")
               for name in pools["registry"][cls]}
    pool = list(classes)
    sf = pools["sf"]
    n_cpus = common.cpus()
    scratch = common.Scratch("registry")
    spark = None
    try:
        # -- set-up, three times; the first includes the JVM start ------
        setups, t0, data_dir = [], t_start, None
        start_s = 0.0
        for rep in range(3):
            if spark is None:
                spark = common.start_spark(scratch, n_cpus)
                start_s = time.perf_counter() - t0
            else:
                spark = common.restart_spark(spark, scratch, n_cpus)
            data_dir = scratch.sub(f"tables{rep}")
            tablegen.write_tables(data_dir, seed, sf)
            execute(REGISTRY[WARMUP_QUERY].fn(spark, data_dir))
            setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()

        common.phase("setup done")
        tracer = trace.Tracer(spark, traced)
        instrument(tracer)
        streams = None
        if traced:
            streams = trace.StreamCounter()
            spark.streams.addListener(streams)

        # -- untimed warm rep of every query, checked -------------------
        con = connect_parquet(data_dir, tablegen.TABLES)
        failures: dict[str, str] = {}
        result_rows: dict[str, int] = {}
        for name in pool:
            try:
                result_rows[name], problem = check_query(
                    spark, REGISTRY[name], data_dir, con
                )
            except Exception as e:  # a failing query must not hide the others
                problem = f"{type(e).__name__}: {str(e)[:200]}"
            if problem:
                failures[name] = problem
        con.close()
        common.phase("checks done")

        # -- measured passes ---------------------------------------------
        rng = random.Random(seed)
        walls: list[float] = []
        execs: list[float] = []
        class_walls: dict[str, list[float]] = {"overhead": [], "compute": []}
        rows_out = 0
        passes: list[float] = []
        pass_writes: list[float] = []
        ops: list[int] = []
        op_windows: dict[int, tuple[float, float]] = {}
        stage_tot: dict[str, float] = {}
        gc0 = trace.jvm_gc_seconds(spark)
        clock = common.Clock(seconds)
        attempted = failed = 0
        while len(passes) < MIN_PASSES or clock.left() > 0:
            order = list(pool)
            rng.shuffle(order)
            p0 = time.perf_counter()
            written = 0.0
            for name in order:
                op = attempted
                attempted += 1
                tracer.begin_op(op)
                _, s0 = tracer.watermark()
                o0 = time.perf_counter()
                try:
                    wall, ex = run_query(spark, REGISTRY[name].fn, data_dir, tracer)
                except Exception as e:
                    failed += 1
                    failures.setdefault(name, f"{type(e).__name__}: {str(e)[:200]}")
                    continue
                if name in failures:  # ran, but its checked rep was wrong
                    failed += 1
                ops.append(op)
                op_windows[op] = (o0, time.perf_counter())
                walls.append(wall)
                execs.append(ex)
                written += ex
                class_walls[classes[name]].append(wall)
                rows_out += result_rows.get(name, 0)
                if traced:
                    _, s1 = tracer.watermark()
                    for k, v in trace.stage_metrics(spark, s0, s1).items():
                        stage_tot[k] = stage_tot.get(k, 0.0) + v
            passes.append(time.perf_counter() - p0)
            pass_writes.append(written)
        gc_s = trace.jvm_gc_seconds(spark) - gc0
        tracer.begin_op(None)
        common.phase("measured")

        metrics = {
            "setup_s": common.median(setups),
            "op_p50_s": common.median(walls),
            "cycle_s": common.median(passes),
            "write_s": common.median(pass_writes),
            "write_rows_per_s": rows_out / sum(execs),
        }
        if traced:
            metrics = layers.layer_metrics(
                tracer, query_ops=ops, load_ops=[], stage_tot=stage_tot,
                streams=streams, query_wall_s=sum(walls), n_cpus=n_cpus,
                session={"start_s": start_s, "gc_s": gc_s,
                         "jvm_peak_rss_mb": trace.jvm_peak_rss_mb(spark)},
                warehouse={}, classes=class_walls,
                trace_e2e=metrics,
                op_windows=op_windows,
            )
        return {"attempted": attempted, "failed": failed,
                "failures": [f"{k}: {v}" for k, v in failures.items()],
                "metrics": metrics, "tracer": tracer}
    finally:
        if spark is not None:
            common.stop_spark(spark)
        scratch.close()

