"""The ``weekly_cycle`` workload: the reference's own traffic.

Closed loop, one client.  Each simulated week loads that week's HHS
file (``ingest.load_hhs``), loads one CMS quality snapshot
(``ingest.load_quality``, the three snapshot dates in turn, so later
deliveries are re-deliveries), then refreshes the dashboard: Q1-Q8b of
``plans.hospital_queries`` on the just-loaded week, each collected as
the display edge does.  In week 1, in an order the seed picks, the
loader also re-delivers week 0, compacts ``hospital_bed_information``
and deletes the bed rows of 1% of the hospitals.  Weeks run until the
measured window is used up, and at least two run.  The write path and the read path share one growing
warehouse.

Every ``LoadReport`` is checked against ``hhsgen.Truth``; every
dashboard result is checked against the same query run by DuckDB over
the expected tables; the warehouse is compared row for row with the
truth at the end.  All checks run outside the timed ops.
"""

from __future__ import annotations

import csv
import os
import random
import time

import duckdb

from . import common, hhsgen, layers, trace
from .oracle import rows_close

N_HOSPITALS = 5000
WARMUP_HOSPITALS = 100
MIN_WEEKS = 1
MAX_WEEKS = 52

_USED = ("(all_adult_hospital_inpatient_bed_occupied_7_day_coverage"
         " + all_pediatric_inpatient_bed_occupied_7_day_avg)")
_AVAIL = ("(all_adult_hospital_beds_7_day_avg"
          " + all_pediatric_inpatient_beds_7_day_avg)")
_WEEK_SUMS = """round(sum(all_adult_hospital_beds_7_day_avg), 2),
    round(sum(all_pediatric_inpatient_beds_7_day_avg), 2),
    round(sum(total_icu_beds_7_day_avg), 2),
    round(sum(icu_beds_used_7_day_avg), 2),
    round(sum(inpatient_beds_used_covid_7_day_avg), 2)"""

#: the dashboard queries in DuckDB SQL over the expected tables, with
#: the float tolerance of the place each one rounds to
ORACLE = {
    "q1": ("SELECT count(*) FROM hospital_bed_information"
           " WHERE collection_week = DATE '{week}'", 0),
    "q2": ("SELECT collection_week, count(*) FROM hospital_bed_information"
           " WHERE collection_week < DATE '{week}' GROUP BY 1 ORDER BY 1", 0),
    "q3": (f"SELECT {_WEEK_SUMS} FROM hospital_bed_information"
           " WHERE collection_week = DATE '{week}'", 0.0101),
    "q4": (f"SELECT * FROM (SELECT collection_week, {_WEEK_SUMS}"
           " FROM hospital_bed_information GROUP BY 1 ORDER BY 1 DESC LIMIT 4)"
           " ORDER BY 1", 0.0101),
    "q5": (f"SELECT hospital_overall_rating, round(sum({_USED}) / sum({_AVAIL}), 4)"
           " FROM hospital_quality_information q JOIN hospital_bed_information b"
           " ON q.facility_id = b.hospital_fk GROUP BY 1 ORDER BY 1 NULLS FIRST",
           1.01e-4),
    "q6": ("SELECT collection_week, round(sum("
           "all_adult_hospital_inpatient_bed_occupied_7_day_coverage"
           " + all_pediatric_inpatient_bed_occupied_7_day_avg"
           " + icu_beds_used_7_day_avg), 2),"
           " round(sum(inpatient_beds_used_covid_7_day_avg), 2)"
           " FROM hospital_bed_information WHERE collection_week <= DATE '{week}'"
           " GROUP BY 1 ORDER BY 1", 0.0101),
    "q7": ("SELECT state, count(*) AS n FROM hospital_quality_information q"
           " JOIN hospitals h ON q.facility_id = h.hospital_pk"
           " JOIN hospital_locations l ON h.hospital_pk = l.hospital_fk"
           " WHERE emergency_services GROUP BY 1 ORDER BY n DESC, state LIMIT 20",
           0),
    "q8a": (f"SELECT hospital_ownership, collection_week,"
            f" round(sum({_USED}) / sum({_AVAIL}), 4)"
            " FROM hospital_quality_information q JOIN hospital_bed_information b"
            " ON q.facility_id = b.hospital_fk"
            " WHERE hospital_ownership = '{ownership}' GROUP BY 1, 2 ORDER BY 2",
            1.01e-4),
    "q8b": ("WITH s AS (SELECT state, round(avg(hospital_overall_rating), 4) AS r"
            " FROM hospital_quality_information q JOIN hospital_locations l"
            " ON q.facility_id = l.hospital_fk WHERE data_date = DATE '{date}'"
            " AND hospital_overall_rating IS NOT NULL GROUP BY 1)"
            " (SELECT state, r, 'top' FROM s ORDER BY r DESC, state LIMIT 10)"
            " UNION ALL (SELECT state, r, 'bottom' FROM s ORDER BY r, state LIMIT 10)",
            1.01e-4),
}


def dashboard(wh, week: str) -> list[tuple[str, dict, object]]:
    """One refresh: Q1-Q7 on ``week``, Q8a for every ownership type and
    Q8b for every quality snapshot, as (oracle key, params, frame fn)."""
    from health_data_transformation_spark.plans import hospital_queries as hq

    return [
        ("q1", {"week": week}, lambda: hq.q1_records_for_week(wh, week)),
        ("q2", {"week": week}, lambda: hq.q2_weekly_record_counts(wh, week)),
        ("q3", {"week": week}, lambda: hq.q3_bed_sums_for_week(wh, week)),
        ("q4", {}, lambda: hq.q4_recent_week_sums(wh, 4)),
        ("q5", {}, lambda: hq.q5_bed_usage_by_rating(wh)),
        ("q6", {"week": week}, lambda: hq.q6_total_bed_usage(wh, week)),
        ("q7", {}, lambda: hq.q7_emergency_services_by_state(wh, 20)),
    ] + [
        ("q8a", {"ownership": o},
         lambda o=o: hq.q8a_bed_usage_by_ownership(wh, o))
        for o in hhsgen.OWNERSHIPS
    ] + [
        ("q8b", {"date": d},
         lambda d=d: hq.q8b_top_bottom_rated_states(wh, d, 10))
        for d in hhsgen.SNAPSHOT_DATES
    ]


def instrument(tracer: trace.Tracer) -> None:
    """Spans around the layers the loader and the dashboard call into."""
    from health_data_transformation_spark import catalog, ingest
    from health_data_transformation_spark.operators import validate

    tracer.wrap(ingest, "load_hhs", "ingest.load_hhs")
    tracer.wrap(ingest, "load_quality", "ingest.load_quality")
    tracer.wrap(ingest, "read_hhs_csv", "sources.csv.read")
    tracer.wrap(ingest, "read_cms_csv", "sources.csv.read")
    tracer.wrap(validate, "split_valid_cached", "operators.validate.split")
    for method in ("append_idempotent", "append", "quarantine", "compact",
                   "delete_keys", "read"):
        tracer.wrap(catalog.Warehouse, method, f"catalog.{method}")


def _py(v):
    """Spark Row value -> comparable Python value."""
    return v.isoformat() if hasattr(v, "isoformat") else v


def check_report(report, want: hhsgen.Counts) -> str | None:
    got = (report.input_rows, report.invalid_rows, report.duplicate_rows,
           report.table_rows_added)
    exp = (want.input_rows, want.invalid_rows, want.duplicate_rows,
           want.table_rows_added)
    return None if got == exp else f"LoadReport {got} != expected {exp}"


def check_warehouse(wh, truth: hhsgen.Truth) -> list[str]:
    """Every warehouse table equals the truth, row for row."""
    want = {
        "hospitals": {(k, v) for k, v in truth.hospitals.items()},
        "hospital_locations": {(k, *v) for k, v in truth.locations.items()},
        "hospital_bed_information": {(k[0], k[1], *v) for k, v in truth.beds.items()},
        "hospital_quality_information": {
            (k[0], *v, k[1]) for k, v in truth.quality.items()},
    }
    problems = []
    for table, rows in want.items():
        got = [tuple(_py(v) for v in r) for r in wh.read(table).collect()]
        if len(got) != len(rows) or set(got) != rows:
            problems.append(f"{table}: {len(got)} rows, {len(rows)} expected, "
                            f"{len(set(got) ^ rows)} differ")
    return problems


class Week:
    """Inputs of one simulated week, generated outside the timed ops."""

    def __init__(self, root, rng, hospitals, week):
        self.week = week
        self.path = os.path.join(root, f"hhs_{week}.csv")
        self.rows = hhsgen.write_hhs_week(self.path, rng, hospitals, week)


def setup_inputs(root: str, seed: int, history_week: str):
    """Hospitals, the three CMS snapshots and the history week's file
    (the first ``WARMUP_HOSPITALS`` hospitals)."""
    rng = random.Random(seed)
    hospitals = hhsgen.make_hospitals(rng, N_HOSPITALS)
    cms = {}
    for d in hhsgen.SNAPSHOT_DATES:
        path = os.path.join(root, f"cms_{d}.csv")
        cms[d] = (path, hhsgen.write_cms(path, rng, hospitals))
    history = Week(root, rng, hospitals[:WARMUP_HOSPITALS], history_week)
    return rng, hospitals, cms, history


def warm_up(spark, root: str, history: Week):
    """Load the history week into a new warehouse and run two dashboard
    queries on it; returns the warehouse."""
    from health_data_transformation_spark import ingest
    from health_data_transformation_spark.catalog import Warehouse

    wh = Warehouse(spark, os.path.join(root, "warehouse"))
    ingest.load_hhs(spark, history.path, wh)
    hq = dict((k, b) for k, _, b in dashboard(wh, history.week))
    hq["q1"]().collect()
    hq["q5"]().collect()
    return wh


class Recorder:
    """Op timings, failures and per-op stage metrics of one run."""

    def __init__(self, spark, tracer: trace.Tracer):
        self.spark, self.tracer = spark, tracer
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.ops: dict[str, list[int]] = {"dash": [], "load": [], "maint": []}
        self.walls: dict[int, float] = {}
        self.op_windows: dict[int, tuple[float, float]] = {}
        self.stage_tot: dict[str, float] = {}

    def fail(self, message: str) -> None:
        self.failed += 1
        self.failures.append(message)

    def op(self, kind: str, fn):
        """Time one op of ``kind`` (dash, load or maint); returns its
        wall and result, or (None, None) if it raised."""
        op = self.attempted
        self.attempted += 1
        self.tracer.begin_op(op)
        _, s0 = self.tracer.watermark()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:
            self.fail(f"{kind}: {type(e).__name__}: {str(e)[:200]}")
            return None, None
        t1 = time.perf_counter()
        self.ops[kind].append(op)
        self.walls[op] = t1 - t0
        self.op_windows[op] = (t0, t1)
        if self.tracer.enabled and kind == "dash":
            _, s1 = self.tracer.watermark()
            for k, v in trace.stage_metrics(self.spark, s0, s1).items():
                self.stage_tot[k] = self.stage_tot.get(k, 0.0) + v
        return t1 - t0, out

    def sum_walls(self, *kinds: str) -> float:
        return sum(self.walls[op] for k in kinds for op in self.ops[k])


def dash_query(tracer: trace.Tracer, build):
    """One dashboard op: build, (traced: force the physical plan),
    collect.  Returns the rows."""
    with tracer.span("plans.build"):
        df = build()
    if tracer.enabled:
        with tracer.span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
    with tracer.span("plans.exec"):
        return df.collect()


def _warehouse_files(root: str) -> tuple[int, int]:
    """Parquet files under ``root`` and their total bytes."""
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def run(seed: int, seconds: float, traced: bool, t_start: float) -> dict:
    from health_data_transformation_spark import ingest

    n_cpus = common.cpus()
    scratch = common.Scratch("weekly_cycle")
    spark = None
    try:
        # -- set-up, three times; the first includes the JVM start ------
        setups, t0, start_s = [], t_start, 0.0
        week_names = hhsgen.weeks(MAX_WEEKS)
        for rep in range(3):
            if spark is None:
                spark = common.start_spark(scratch, n_cpus)
                start_s = time.perf_counter() - t0
            else:
                spark = common.restart_spark(spark, scratch, n_cpus)
            root = scratch.sub(f"inputs{rep}")
            rng, hospitals, cms, history = setup_inputs(
                root, seed, week_names[0])
            wh = warm_up(spark, root, history)
            setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
        common.phase("setup done")

        tracer = trace.Tracer(spark, traced)
        instrument(tracer)
        rec = Recorder(spark, tracer)
        truth = hhsgen.Truth()
        truth.load_hhs(history.rows)
        con = duckdb.connect()
        # the first measured week carries the three maintenance ops, in a
        # seeded order
        maintenance = ["redeliver", "compact", "delete"]
        rng.shuffle(maintenance)

        def load(label, rows, expected, call):
            """A load op and its LoadReport check; returns its wall."""
            wall, report = rec.op("load", call)
            if wall is not None:
                problem = check_report(report, expected(rows))
                if problem:
                    rec.fail(f"{label}: {problem}")
            return wall

        dash_walls, cycles, week_writes = [], [], []
        write_rows = 0
        input_bytes = os.path.getsize(history.path)
        loaded: list[Week] = [history]
        gc0 = trace.jvm_gc_seconds(spark)
        clock = common.Clock(seconds)
        i = 1
        while (i <= MIN_WEEKS or clock.left() > 0) and i < MAX_WEEKS:
            wk = Week(root, rng, hospitals, week_names[i])
            snap = hhsgen.SNAPSHOT_DATES[i % 3]
            cms_path, cms_rows = cms[snap]
            written = 0.0
            wall = load(f"load_hhs {wk.week}", wk.rows, truth.load_hhs,
                        lambda: ingest.load_hhs(spark, wk.path, wh))
            written += wall or 0.0
            loaded.append(wk)
            wall = load(f"load_quality {snap}", cms_rows,
                        lambda rows: truth.load_quality(rows, snap),
                        lambda: ingest.load_quality(spark, cms_path, snap, wh))
            written += wall or 0.0
            week_writes.append(written)
            cycle = written
            write_rows += len(wk.rows) + len(cms_rows)
            input_bytes += os.path.getsize(wk.path) + os.path.getsize(cms_path)

            for extra in maintenance if i == 1 else ():
                if extra == "redeliver":
                    old = rng.choice(loaded[:-1])
                    load(f"redeliver {old.week}", old.rows, truth.load_hhs,
                         lambda: ingest.load_hhs(spark, old.path, wh))
                    write_rows += len(old.rows)
                elif extra == "compact":
                    rec.op("maint", lambda: wh.compact("hospital_bed_information"))
                else:
                    pks = rng.sample([h.pk for h in hospitals], N_HOSPITALS // 100)
                    keys_csv = os.path.join(root, f"delete_{wk.week}.csv")
                    with open(keys_csv, "w", newline="") as fh:
                        csv.writer(fh).writerows([["hospital_fk"], *[[pk] for pk in pks]])
                    _, n = rec.op("maint", lambda: wh.delete_keys(
                        "hospital_bed_information",
                        spark.read.schema("hospital_fk string")
                        .option("header", True).csv(keys_csv),
                        ["hospital_fk"],
                    ))
                    want = truth.delete_beds(set(pks))
                    if n is not None and n != want:
                        rec.fail(f"delete_keys: {n} rows deleted, {want} expected")

            truth.duckdb_tables(con)
            for name, params, build in dashboard(wh, wk.week):
                wall, out = rec.op("dash", lambda: dash_query(tracer, build))
                if wall is None:
                    continue
                dash_walls.append(wall)
                cycle += wall
                sql, tol = ORACLE[name]
                want = con.execute(sql.format(**params)).fetchall()
                problem = rows_close(
                    [tuple(_py(v) for v in r) for r in out],
                    [tuple(_py(v) for v in r) for r in want], tol,
                )
                if problem:
                    rec.fail(f"{name} {params} week {wk.week}: {problem}")
            cycles.append(cycle)
            i += 1
        gc_s = trace.jvm_gc_seconds(spark) - gc0
        tracer.begin_op(None)
        con.close()
        common.phase("measured")

        rec.attempted += 1  # the final warehouse comparison
        for problem in check_warehouse(wh, truth):
            rec.fail(problem)

        metrics = {
            "setup_s": common.median(setups),
            "op_p50_s": common.median(dash_walls),
            "cycle_s": common.median(cycles),
            "write_s": common.median(week_writes),
            "write_rows_per_s": write_rows / rec.sum_walls("load", "maint"),
        }
        if traced:
            files, size = _warehouse_files(wh.root)
            metrics = layers.layer_metrics(
                tracer, query_ops=rec.ops["dash"], load_ops=rec.ops["load"],
                stage_tot=rec.stage_tot, streams=trace.StreamCounter(),
                query_wall_s=rec.sum_walls("dash"), n_cpus=n_cpus,
                session={"start_s": start_s, "gc_s": gc_s,
                         "jvm_peak_rss_mb": trace.jvm_peak_rss_mb(spark)},
                warehouse={"files": files, "bytes_per_input_byte": size / input_bytes},
                trace_e2e=metrics,
                op_windows=rec.op_windows,
            )
        return {"attempted": rec.attempted, "failed": rec.failed,
                "failures": rec.failures, "metrics": metrics, "tracer": tracer}
    finally:
        if spark is not None:
            common.stop_spark(spark)
        scratch.close()
