"""The reference dashboard query set Q1-Q8b as parameterized DataFrame
plans over the warehouse tables (SURVEY.md §2.4; /root/reference/Reporting.py).

Each function is (warehouse, params) -> DataFrame; the display edge
(streamlit/matplotlib in the reference) consumes the result — queries
never collect internally.

Physical notes per query:
- week/date filters on the partition key also select the partitions to
  read from the snapshot manifest (``_keys``), so the scan is handed
  only the matching weeks' leaves (the reference had no partitioning
  at all)
- the quality⋈beds joins broadcast the quality snapshot (one row per
  facility per snapshot date — small relative to the weekly fact)
- top-k via orderBy().limit() -> TakeOrderedAndProject (no global sort)
"""

from __future__ import annotations

import datetime as dt
import operator
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..catalog import Warehouse
from ..operators.topk import top_and_bottom, top_k


def _keys(op: Callable[[str, str], bool], date: str) -> Callable[[str], bool] | None:
    """Partition-key predicate ``key <op> date`` for ``Warehouse.read``:
    keys are ``yyyy-MM-dd`` strings, which order like the dates.  None
    (read every partition) when ``date`` is not ``yyyy-M-d``; the row
    filter is exact either way."""
    try:
        key = dt.datetime.strptime(str(date), "%Y-%m-%d").date().isoformat()
    except ValueError:
        return None
    return lambda k: op(k, key)


def q1_records_for_week(wh: Warehouse, week: str) -> DataFrame:
    """COUNT(*) of bed records for one week (Reporting.py:29-33)."""
    beds = wh.read("hospital_bed_information", _keys(operator.eq, week))
    return beds.filter(F.col("collection_week") == F.lit(week).cast("date")).agg(
        F.count("*").alias("n_records")
    )


def q2_weekly_record_counts(wh: Warehouse, before_week: str) -> DataFrame:
    """Weekly record counts strictly before a week (Reporting.py:36-41)."""
    beds = wh.read("hospital_bed_information", _keys(operator.lt, before_week))
    return (
        beds.filter(F.col("collection_week") < F.lit(before_week).cast("date"))
        .groupBy("collection_week")
        .agg(F.count("*").alias("n_records"))
        .orderBy("collection_week")
    )


def q3_bed_sums_for_week(wh: Warehouse, week: str) -> DataFrame:
    """5 rounded sums of bed metrics for one week (Reporting.py:59-67)."""
    beds = wh.read("hospital_bed_information", _keys(operator.eq, week))
    cols = {
        "total_adult_beds": "all_adult_hospital_beds_7_day_avg",
        "total_pediatric_beds": "all_pediatric_inpatient_beds_7_day_avg",
        "total_icu_beds": "total_icu_beds_7_day_avg",
        "icu_beds_used": "icu_beds_used_7_day_avg",
        "covid_beds_used": "inpatient_beds_used_covid_7_day_avg",
    }
    return beds.filter(F.col("collection_week") == F.lit(week).cast("date")).agg(
        *[F.round(F.sum(src), 2).alias(dst) for dst, src in cols.items()]
    )


def q4_recent_week_sums(wh: Warehouse, n_weeks: int = 4) -> DataFrame:
    """Per-week sums for the N most recent weeks, ascending for display
    (Reporting.py:84-96 + the client-side re-sort at :106)."""
    beds = wh.read("hospital_bed_information")
    grouped = beds.groupBy("collection_week").agg(
        F.round(F.sum("all_adult_hospital_beds_7_day_avg"), 2).alias("adult_beds"),
        F.round(F.sum("all_pediatric_inpatient_beds_7_day_avg"), 2).alias("pediatric_beds"),
        F.round(F.sum("total_icu_beds_7_day_avg"), 2).alias("icu_beds"),
        F.round(F.sum("icu_beds_used_7_day_avg"), 2).alias("icu_used"),
        F.round(F.sum("inpatient_beds_used_covid_7_day_avg"), 2).alias("covid_used"),
    )
    recent = top_k(grouped, [F.col("collection_week").desc()], n_weeks)
    return recent.orderBy("collection_week")


def q5_bed_usage_by_rating(wh: Warehouse) -> DataFrame:
    """Occupancy ratio by hospital rating: quality ⋈ beds, groupBy rating,
    SUM(a+b)/SUM(c+d) (Reporting.py:115-124)."""
    quality = wh.read("hospital_quality_information")
    beds = wh.read("hospital_bed_information")
    joined = F.broadcast(quality).join(
        beds, quality.facility_id == beds.hospital_fk
    )
    used = F.col("all_adult_hospital_inpatient_bed_occupied_7_day_coverage") + F.col(
        "all_pediatric_inpatient_bed_occupied_7_day_avg"
    )
    available = F.col("all_adult_hospital_beds_7_day_avg") + F.col(
        "all_pediatric_inpatient_beds_7_day_avg"
    )
    return (
        joined.groupBy("hospital_overall_rating")
        .agg(F.round(F.sum(used) / F.sum(available), 4).alias("occupancy_ratio"))
        .orderBy("hospital_overall_rating")
    )


def q6_total_bed_usage(wh: Warehouse, up_to_week: str) -> DataFrame:
    """Total vs COVID bed usage per week up to a week (Reporting.py:144-156)."""
    beds = wh.read("hospital_bed_information", _keys(operator.le, up_to_week))
    total = (
        F.col("all_adult_hospital_inpatient_bed_occupied_7_day_coverage")
        + F.col("all_pediatric_inpatient_bed_occupied_7_day_avg")
        + F.col("icu_beds_used_7_day_avg")
    )
    return (
        beds.filter(F.col("collection_week") <= F.lit(up_to_week).cast("date"))
        .groupBy("collection_week")
        .agg(
            F.round(F.sum(total), 2).alias("all_beds_used"),
            F.round(F.sum("inpatient_beds_used_covid_7_day_avg"), 2).alias(
                "covid_beds_used"
            ),
        )
        .orderBy("collection_week")
    )


def q7_emergency_services_by_state(wh: Warehouse, k: int = 20) -> DataFrame:
    """Hospitals offering emergency services per state, top-k
    (3-way join, Reporting.py:182-196 incl. the client-side nlargest)."""
    quality = wh.read("hospital_quality_information")
    hospitals = wh.read("hospitals")
    locations = wh.read("hospital_locations")
    joined = (
        quality.filter(F.col("emergency_services"))
        .join(F.broadcast(hospitals), quality.facility_id == hospitals.hospital_pk)
        .join(F.broadcast(locations), hospitals.hospital_pk == locations.hospital_fk)
    )
    grouped = joined.groupBy("state").agg(F.count("*").alias("n_hospitals"))
    return top_k(grouped, [F.col("n_hospitals").desc(), F.col("state")], k)


def q8a_bed_usage_by_ownership(wh: Warehouse, ownership: str) -> DataFrame:
    """Occupancy ratio over time for one ownership type
    (Reporting.py:213-221)."""
    quality = wh.read("hospital_quality_information").filter(
        F.col("hospital_ownership") == ownership
    )
    beds = wh.read("hospital_bed_information")
    joined = F.broadcast(quality).join(
        beds, quality.facility_id == beds.hospital_fk
    )
    used = F.col("all_adult_hospital_inpatient_bed_occupied_7_day_coverage") + F.col(
        "all_pediatric_inpatient_bed_occupied_7_day_avg"
    )
    available = F.col("all_adult_hospital_beds_7_day_avg") + F.col(
        "all_pediatric_inpatient_beds_7_day_avg"
    )
    return (
        joined.groupBy("hospital_ownership", "collection_week")
        .agg(F.round(F.sum(used) / F.sum(available), 4).alias("occupancy_ratio"))
        .orderBy("collection_week")
    )


def q8b_top_bottom_rated_states(wh: Warehouse, data_date: str, k: int = 10) -> DataFrame:
    """Top-k and bottom-k states by average rating for one snapshot
    (Reporting.py:243-263 — the client-side pandas groupby/sort/head is
    done engine-side)."""
    quality = wh.read(
        "hospital_quality_information", _keys(operator.eq, data_date)
    ).filter(
        (F.col("data_date") == F.lit(data_date).cast("date"))
        & F.col("hospital_overall_rating").isNotNull()
    )
    locations = wh.read("hospital_locations")
    joined = quality.join(
        F.broadcast(locations), quality.facility_id == locations.hospital_fk
    )
    per_state = joined.groupBy("state").agg(
        F.round(F.avg("hospital_overall_rating"), 4).alias("avg_rating")
    )
    return top_and_bottom(per_state, "avg_rating", "state", k)
