"""Warehouse failure modes (ROADMAP aim 3): a crash between a data write
and its commit, two overwrites running at once in one session, a load
whose overlapped table writes fail part-way, and the report and job
count of one load."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

from health_data_transformation_spark.catalog import Warehouse
from health_data_transformation_spark.ingest import load_hhs, load_quality
from health_data_transformation_spark.snapshots import SnapshotTable

BEDS = "hospital_bed_information"
TABLES = ("hospitals", "hospital_locations", BEDS, "hospital_quality_information")


class InjectedCrash(RuntimeError):
    pass


def _rows(wh: Warehouse) -> list[tuple]:
    return sorted(tuple(r) for r in wh.read(BEDS).collect())


def _parquet_files(wh: Warehouse) -> int:
    pattern = os.path.join(wh.path(BEDS), "**", "*.parquet")
    return len(glob.glob(pattern, recursive=True))


def _append(spark, wh):
    fresh = wh.read(BEDS).withColumn(
        "hospital_fk", F.concat("hospital_fk", F.lit("-b"))
    )
    return wh.append_idempotent(fresh, BEDS)


def _delete(spark, wh):
    keys = spark.createDataFrame([("H1",)], "hospital_fk string")
    return wh.delete_keys(BEDS, keys, ["hospital_fk"])


def _compact(spark, wh):
    return wh.compact(BEDS)


@pytest.mark.parametrize(
    "op", [_append, _compact, _delete], ids=lambda f: f.__name__[1:]
)
def test_crash_before_commit_keeps_previous_rows(
    spark, warehouse, hhs_csv_1, hhs_csv_2, op, monkeypatch
):
    """The manifest publish fails after the data files are written: a
    fresh Warehouse on the same root reads exactly the rows from before
    the operation, and re-running the operation then succeeds."""
    load_hhs(spark, hhs_csv_1, warehouse)
    load_hhs(spark, hhs_csv_2, warehouse)
    before = _rows(warehouse)
    files_before = _parquet_files(warehouse)

    def crash(*args, **kwargs):
        raise InjectedCrash("crash before the manifest publish")

    with monkeypatch.context() as m:
        m.setattr(SnapshotTable, "_publish", crash)
        with pytest.raises(InjectedCrash):
            op(spark, warehouse)

    reopened = Warehouse(spark, warehouse.root)
    assert _rows(reopened) == before
    # the crash came after the data write: its files are orphans on disk
    assert _parquet_files(reopened) > files_before

    op(spark, reopened)
    after = _rows(reopened)
    if op is _append:
        assert len(after) == 2 * len(before)
    elif op is _compact:
        assert after == before
    else:
        assert after == [r for r in before if r[0] != "H1"]


def _contents(wh: Warehouse) -> dict[str, list[tuple]]:
    return {t: sorted(tuple(r) for r in wh.read(t).collect()) for t in TABLES}


def test_overlapped_load_failure_reruns_clean(
    spark, warehouse, tmp_path, hhs_csv_1, monkeypatch
):
    """A load's table writes run at once.  When one table's commit
    fails, the load raises once the other writes have finished; those
    tables committed, and re-running the load then leaves the same
    rows as one clean load."""
    publish = SnapshotTable._publish

    def crash_beds(self, *args, **kwargs):
        if os.path.basename(self.root) == BEDS:
            raise InjectedCrash("crash in the bed table's publish")
        return publish(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(SnapshotTable, "_publish", crash_beds)
        with pytest.raises(InjectedCrash):
            load_hhs(spark, hhs_csv_1, warehouse)
    assert not warehouse.exists(BEDS)
    assert warehouse.exists("hospitals")

    load_hhs(spark, hhs_csv_1, warehouse)
    clean = Warehouse(spark, str(tmp_path / "clean"))
    load_hhs(spark, hhs_csv_1, clean)
    assert _contents(warehouse) == _contents(clean)


def test_load_report_and_job_count(spark, warehouse, hhs_csv_1, cms_csv_1):
    """The LoadReport of the fixture file, and the Spark jobs one load
    submits (the DAG scheduler's next job id before and after).  The
    counts come from observed passes and the appends' probes are
    single-job, so a first HHS load runs 13 jobs and a quality load 6,
    where a count per split and per append ran 19 and 10."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(load):
        j0 = int(dag.nextJobId())
        report = load()
        return report, int(dag.nextJobId()) - j0

    report, n_jobs = jobs(lambda: load_hhs(spark, hhs_csv_1, warehouse))
    assert (report.input_rows, report.invalid_rows, report.duplicate_rows) == (6, 1, 1)
    assert report.table_rows_added == {
        "hospitals": 3, "hospital_locations": 3, BEDS: 4,
    }
    assert n_jobs <= 13

    report, n_jobs = jobs(
        lambda: load_quality(spark, cms_csv_1, "2022-10-01", warehouse)
    )
    assert (report.input_rows, report.invalid_rows, report.duplicate_rows) == (5, 0, 1)
    assert report.table_rows_added == {"hospital_quality_information": 4}
    assert n_jobs <= 6


def test_old_hive_layout_fails_loudly(spark, warehouse, hhs_csv_1):
    """A table left in the pre-snapshot hive layout has no manifest.
    Reading it as empty would turn a delete into a silent no-op and a
    load into a second layout beside the old one, so every entry point
    refuses it."""
    spark.range(2).select(
        F.lit("H1").alias("hospital_fk"),
        F.date_add(F.lit("2022-09-23").cast("date"), 7 * F.col("id").cast("int")).alias(
            "collection_week"
        ),
    ).write.partitionBy("collection_week").parquet(warehouse.path(BEDS))
    # an unpartitioned table: parquet files right under the table root
    spark.range(1).select(F.lit("H1").alias("hospital_pk")).write.parquet(
        warehouse.path("hospitals")
    )
    for op in (
        lambda: warehouse.read(BEDS),
        lambda: warehouse.exists(BEDS),
        lambda: warehouse.read("hospitals"),
        lambda: _delete(spark, warehouse),
        lambda: _compact(spark, warehouse),
        lambda: load_hhs(spark, hhs_csv_1, warehouse),
    ):
        with pytest.raises(ValueError, match="hive layout"):
            op()


def test_concurrent_dynamic_and_static_overwrites(spark, tmp_path):
    """A rollup refresh (dynamic partition overwrite) and a static
    partitioned overwrite run at once in one session: both land exactly
    as they do run one after the other, and the session's overwrite
    mode is left as it was."""
    from health_data_transformation_spark.functions.actions import overlap_actions
    from health_data_transformation_spark.operators.rollup import refresh_rollup

    fact = spark.range(40).select((F.col("id") % 4).alias("p"), F.col("id").alias("v"))
    new_fact = fact.withColumn("v", F.col("v") * 10)

    def agg(df):
        return df.groupBy("p").agg(F.sum("v").alias("s"))

    def run(root: str, concurrent: bool):
        rollup, static = os.path.join(root, "rollup"), os.path.join(root, "static")
        refresh_rollup(fact, rollup, "p", [0, 1, 2, 3], agg)
        fact.write.partitionBy("p").parquet(static)
        thunks = [
            # dynamic: partitions 1 and 2 are replaced, 0 and 3 are kept
            lambda: refresh_rollup(new_fact, rollup, "p", [1, 2], agg),
            # static: the whole path is replaced by partitions 0 and 1
            lambda: new_fact.filter("p < 2")
            .write.mode("overwrite")
            .partitionBy("p")
            .parquet(static),
        ]
        if concurrent:
            overlap_actions(thunks)
        else:
            for t in thunks:
                t()
        return tuple(
            sorted(tuple(r) for r in spark.read.parquet(d).select(*cols).collect())
            for d, cols in ((rollup, ["p", "s"]), (static, ["p", "v"]))
        )

    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    got = run(str(tmp_path / "concurrent"), concurrent=True)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode
    assert got == run(str(tmp_path / "sequential"), concurrent=False)

    rollup, static = got
    sums = {p: sum(range(p, 40, 4)) for p in range(4)}
    assert rollup == [(0, sums[0]), (1, 10 * sums[1]), (2, 10 * sums[2]), (3, sums[3])]
    assert static == sorted((i % 4, 10 * i) for i in range(40) if i % 4 < 2)
