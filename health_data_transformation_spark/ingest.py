"""Batch ingest pipelines: the Spark-first replacements for
/root/reference/load_hhs.py and load_quality.py.

Reference lifecycle (load_hhs.py:35-167): pandas scan -> per-row loop
with up to 3 dup-probe SELECTs + 3 INSERTs per row (network round-trips
per row) -> single commit -> quarantine CSV.

Engine lifecycle: one declarative plan per target table —
  scan (explicit schema) -> normalize -> validate-split -> in-batch
  dedup (deterministic first-wins) -> anti-join vs target ->
  partitioned append + quarantine + load report.
No driver-side loops; the whole load is a handful of Spark jobs whose
shuffle structure is independent of row count.  The anti-join probe is
the only join; its existing side is pruned to the key columns but
reads every partition's keys, not only the batch's.  The load counts
come out of observed passes (validate.split_valid_cached,
Warehouse.append_idempotent), not separate count jobs, and a load's
table writes are independent — each table commits its own manifest —
so they are submitted together (functions.actions.overlap_actions) and
run as one wave of jobs.
"""

from __future__ import annotations

import functools
import logging
import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from .catalog import Warehouse
from .functions.actions import overlap_actions
from .operators import cleaning, validate
from .schemas import BED_METRIC_COLS, HHS_SENTINEL
from .sources.csv import read_cms_csv, read_hhs_csv


#: structured logging around Spark actions (the reference logs via its
#: local logging_module, load_quality.py:7,73,145-146)
logger = logging.getLogger("health_data_transformation_spark.ingest")


@dataclass
class LoadReport:
    """Counts the reference prints after each load (load_hhs.py:157-161,
    load_quality.py:145-146)."""

    table_rows_added: dict[str, int] = field(default_factory=dict)
    invalid_rows: int = 0
    duplicate_rows: int = 0
    input_rows: int = 0
    seconds: float = 0.0

    def log(self, source: str) -> "LoadReport":
        logger.info(
            "load=%s input_rows=%d invalid_rows=%d duplicate_rows=%d "
            "rows_added=%s seconds=%.2f",
            source, self.input_rows, self.invalid_rows, self.duplicate_rows,
            self.table_rows_added, self.seconds,
        )
        return self


def load_hhs(spark: SparkSession, csv_path: str, warehouse: Warehouse) -> LoadReport:
    """Weekly HHS ingest -> hospitals, hospital_locations,
    hospital_bed_information (+ quarantine).

    Semantics preserved from the reference:
    - sentinel -999999 -> NULL              (load_hhs.py:49)
    - date parse yyyy-MM-dd                 (load_hhs.py:53)
    - negative bed metric -> row quarantined; NULL passes
                                            (load_hhs.py:104-127)
    - first-wins on every natural key: existing rows never updated
                                            (load_hhs.py:75-82,103)
    """
    return load_hhs_frame(read_hhs_csv(spark, csv_path), warehouse)


def load_hhs_frame(raw, warehouse: Warehouse) -> LoadReport:
    """Frame-level HHS loader: shared by the batch CSV path and the
    Structured Streaming foreachBatch path (streaming/ingest.py)."""
    t0 = time.time()
    cleaned = cleaning.replace_sentinel(raw, BED_METRIC_COLS, HHS_SENTINEL)
    cleaned = cleaning.parse_dates(cleaned, ["collection_week"])

    rules = validate.non_negative(BED_METRIC_COLS) + validate.not_null(
        ["hospital_pk", "hospital_name", "collection_week"]
    )
    # one input scan total: the flagged frame is cached and every
    # consumer (counts, three appends, quarantine) reads that copy
    valid, invalid, flagged, counts = validate.split_valid_cached(cleaned, rules)
    report = LoadReport(
        input_rows=counts["input_rows"], invalid_rows=counts["invalid_rows"]
    )

    targets = {
        "hospitals": valid.select("hospital_pk", "hospital_name"),
        "hospital_locations": valid.select(
            F.col("hospital_pk").alias("hospital_fk"),
            "state", "address", "city", "zip", "fips_code",
            "geocoded_hospital_address",
        ),
        "hospital_bed_information": valid.select(
            F.col("hospital_pk").alias("hospital_fk"), "collection_week",
            *BED_METRIC_COLS,
        ),
    }
    report.table_rows_added = _write_load(
        warehouse, targets, report, invalid, flagged, "hhs"
    )
    report.duplicate_rows = (
        report.input_rows - report.invalid_rows
        - report.table_rows_added["hospital_bed_information"]
    )
    report.seconds = time.time() - t0
    return report.log("hhs")


def load_quality(
    spark: SparkSession, csv_path: str, data_date: str, warehouse: Warehouse
) -> LoadReport:
    """Periodic CMS quality snapshot ingest -> hospital_quality_information.

    Semantics preserved (load_quality.py:98-146):
    - header normalization (lower, spaces->underscores)  (:102)
    - 'Not Available' rating -> 0; lenient float cast    (:103-104)
    - 'Yes'/'No' -> boolean                              (:105)
    - stamp every row with the CLI data_date             (:106-107)
    - set-based duplicate check on (facility_id, data_date), first-wins
                                                          (:122-126)
    """
    raw = read_cms_csv(spark, csv_path)
    raw = cleaning.stamp_literal(raw, "data_date", data_date, "date")
    return load_quality_frame(raw, warehouse)


def load_quality_frame(raw, warehouse: Warehouse) -> LoadReport:
    """Frame-level quality loader: ``raw`` carries the original CMS
    headers plus an attached ``data_date`` DATE column (stamped from the
    CLI arg in batch mode, derived from the landing filename in the
    streaming path, streaming/ingest.py)."""
    t0 = time.time()
    df = cleaning.normalize_headers(raw)
    df = cleaning.map_values(df, "hospital_overall_rating", {"Not Available": "0"})
    df = cleaning.cast_columns(df, {"hospital_overall_rating": "double"})
    df = cleaning.map_values(
        df, "emergency_services", {"Yes": True, "No": False}, otherwise="null"
    )
    df = cleaning.cast_columns(df, {"emergency_services": "boolean"})

    rules = [
        validate.Rule(
            "rating_non_negative",
            F.col("hospital_overall_rating") >= 0,
            null_passing_cols=("hospital_overall_rating",),
        ),
        *validate.not_null(["facility_id"]),
    ]
    valid, invalid, flagged, counts = validate.split_valid_cached(df, rules)
    report = LoadReport(
        input_rows=counts["input_rows"], invalid_rows=counts["invalid_rows"]
    )
    targets = {
        "hospital_quality_information": valid.select(
            "facility_id", "hospital_type", "hospital_ownership",
            "emergency_services", "hospital_overall_rating", "data_date",
        ),
    }
    report.table_rows_added = _write_load(
        warehouse, targets, report, invalid, flagged, "quality"
    )
    report.duplicate_rows = (
        report.input_rows - report.invalid_rows
        - report.table_rows_added["hospital_quality_information"]
    )
    report.seconds = time.time() - t0
    return report.log("quality")


def _write_load(
    warehouse: Warehouse, targets: dict, report: LoadReport,
    invalid, flagged, source: str,
) -> dict[str, int]:
    """One wave of writes: every target's idempotent append, plus the
    quarantine write when the batch has invalid rows, submitted
    together.  They share only the cached ``flagged`` input, which is
    unpersisted once all of them have finished.  When one write
    fails, the others still commit; re-running the load adds only the
    missing rows, and writes the quarantine rows again, as
    re-delivering a file does.  Returns rows added per table, in
    ``targets`` order."""
    thunks = [
        functools.partial(warehouse.append_idempotent, df, table)
        for table, df in targets.items()
    ]
    if report.invalid_rows:
        thunks.append(functools.partial(warehouse.quarantine, invalid, source))
    try:
        added = overlap_actions(thunks, max_workers=len(thunks))
    finally:
        flagged.unpersist()
    return dict(zip(targets, added))
