"""Measure candidate registry queries and print the evidence the pools
in ``pools.json`` were chosen from.

For each candidate, on tables generated at the pools' scale factor:
one untimed warm rep checked against the DuckDB oracle, then ``--reps``
timed reps split into build (``fn()`` returns, inline actions
included), plan (force ``executedPlan``) and exec (no-op sink), with
Spark job counts per phase and the executor run time of the op's
stages.  ``exec_share`` is executor run time / (wall x cores).

Selection rule (applied by hand to this output and recorded in
``pools.json``): a query qualifies only if its warm rep matches the
oracle on every seed tried; the "overhead" class takes queries with
exec_share < 0.25, the "compute" class queries with exec_share > 0.5.

Usage: python3 perfbench/select_pools.py --seeds 1,2 --reps 2 q01_week_count ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, tablegen, trace  # noqa: E402
from perfbench.oracle import connect_parquet  # noqa: E402
from perfbench.registry import check_query, execute, load_pools  # noqa: E402


def measure(spark, tracer, fn, data_dir, n_cpus) -> dict:
    j0, s0 = tracer.watermark()
    t0 = time.perf_counter()
    df = fn(spark, data_dir)
    t1 = time.perf_counter()
    j1, _ = tracer.watermark()
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    execute(df)
    t3 = time.perf_counter()
    j2, s2 = tracer.watermark()
    st = trace.stage_metrics(spark, s0, s2)
    wall = t3 - t0
    return {
        "wall_s": wall, "build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
        "build_jobs": j1 - j0, "exec_jobs": j2 - j1,
        "executor_run_s": st.get("executor_run_s", 0.0),
        "exec_share": st.get("executor_run_s", 0.0) / (wall * n_cpus),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    common.import_engine()
    from health_data_transformation_spark.plans.analytics import REGISTRY

    n_cpus = common.cpus()
    sf = load_pools()["sf"]
    scratch = common.Scratch("select")
    spark = common.start_spark(scratch, n_cpus)
    tracer = trace.Tracer(spark, True)
    out: dict[str, dict] = {}
    try:
        for seed in (int(s) for s in args.seeds.split(",")):
            data_dir = scratch.sub(f"tables{seed}")
            tablegen.write_tables(data_dir, seed, sf)
            con = connect_parquet(data_dir, tablegen.TABLES)
            execute(REGISTRY["q03_pricing_summary"].fn(spark, data_dir))
            for name in args.queries:
                rec = out.setdefault(name, {"problems": [], "reps": []})
                try:
                    _, problem = check_query(spark, REGISTRY[name], data_dir, con)
                    if problem is None:
                        for _ in range(args.reps):
                            rec["reps"].append(
                                measure(spark, tracer, REGISTRY[name].fn, data_dir, n_cpus)
                            )
                except Exception as e:
                    problem = f"{type(e).__name__}: {str(e)[:200]}"
                if problem:
                    rec["problems"].append(f"seed {seed}: {problem}")
                print(name, json.dumps(rec["reps"][-1:] or rec["problems"]), file=sys.stderr)
            con.close()
    finally:
        common.stop_spark(spark)
        scratch.close()

    summary = {}
    for name, rec in out.items():
        reps = rec["reps"]
        if not reps or rec["problems"]:
            summary[name] = {"problems": rec["problems"]}
            continue
        keys = reps[0].keys()
        summary[name] = {
            k: round(common.median([r[k] for r in reps]), 4) for k in keys
        }
    print(json.dumps(summary, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
