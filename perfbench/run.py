"""The repo benchmark: one seeded workload in a fresh JVM, one client.

    python3 perfbench/run.py --workload weekly_cycle --seed 1 --seconds 5 --trace 0

Workloads: ``weekly_cycle`` (weekly HHS/CMS loads feeding the Q1-Q8b
dashboard) and ``registry`` (the query pool of ``pools.json``).  With ``--trace 0`` the last stdout
line carries the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of ``layers.PER_LAYER`` and the spans go to
``.perfbench_out/spans_<workload>_<seed>.json``.  Every op's output is
checked; failures are listed on stderr and counted in ``failed``.
Exits 2 without a result if the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_START = time.perf_counter() - _process_age()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, layers  # noqa: E402

#: (name, unit) of every end-to-end metric, in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("cycle_s", "s"),
    ("write_s", "s"),
    ("write_rows_per_s", "rows/s"),
]
WORKLOADS = ("weekly_cycle", "registry")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    common.import_engine()
    traced = bool(args.trace)
    if args.workload == "weekly_cycle":
        from perfbench import weekly

        result = weekly.run(args.seed, args.seconds, traced, T_START)
    else:
        from perfbench import registry

        result = registry.run(args.seed, args.seconds, traced, T_START)

    if traced:
        out_dir = os.path.join(common.ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        result["tracer"].dump(
            os.path.join(out_dir, f"spans_{args.workload}_{args.seed}.json")
        )
    for failure in result["failures"]:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)

    units = dict(layers.PER_LAYER if traced else END_TO_END)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            name: {"value": result["metrics"][name], "unit": unit}
            for name, unit in units.items()
        },
    }))


if __name__ == "__main__":
    main()
