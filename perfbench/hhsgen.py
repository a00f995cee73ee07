"""Seeded generator for weekly HHS and CMS quality CSVs, with the truth
the loaders must produce.

The files carry the edge cases of the reference loaders at seeded
rates: the ``-999999`` sentinel, empty and negative bed metrics,
in-file duplicates whose values differ from the first occurrence,
re-deliveries of earlier files, ``Not Available`` and empty ratings,
negative ratings, and facility ids that never appear in the HHS files.
Extra columns the loaders must ignore are present in both feeds.

``Truth`` replays each delivery with the reference semantics (validate
each row, then first-wins on every natural key against what is already
stored), so the expected ``LoadReport`` counts and warehouse rows need
no Spark.
"""

from __future__ import annotations

import csv
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

BED_METRICS = (
    "all_adult_hospital_beds_7_day_avg",
    "all_pediatric_inpatient_beds_7_day_avg",
    "all_adult_hospital_inpatient_bed_occupied_7_day_coverage",
    "all_pediatric_inpatient_bed_occupied_7_day_avg",
    "total_icu_beds_7_day_avg",
    "icu_beds_used_7_day_avg",
    "inpatient_beds_used_covid_7_day_avg",
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg",
)
HHS_HEADER = [
    "hospital_pk", "collection_week", "state", "ccn", "hospital_name",
    "address", "city", "zip", "hospital_subtype", "fips_code",
    "is_metro_micro", *BED_METRICS, "geocoded_hospital_address",
]
CMS_HEADER = [
    "Facility ID", "Facility Name", "Address", "City", "State",
    "Hospital Type", "Hospital Ownership", "Emergency Services",
    "Hospital overall rating", "Hospital overall rating footnote",
]

#: the dashboard's last HHS week (FIXTURES.md F3) and quality snapshots
LAST_WEEK = date(2022, 10, 21)
SNAPSHOT_DATES = ("2021-07-01", "2022-01-01", "2022-10-01")
OWNERSHIPS = (
    "Government - Federal", "Government - Hospital District or Authority",
    "Government - Local", "Government - State", "Proprietary",
    "Voluntary non-profit - Private",
)
HOSPITAL_TYPES = (
    "Acute Care Hospitals", "Critical Access Hospitals", "Childrens",
    "Psychiatric",
)
STATES = (
    "AK AL AR AZ CA CO CT DC DE FL GA HI IA ID IL IN KS KY LA MA MD ME MI "
    "MN MO MS MT NC ND NE NH NJ NM NV NY OH OK OR PA RI SC SD TN TX UT VA "
    "VT WA WI WV WY PR"
).split()

SENTINEL = "-999999"


# seeded rates of the edge cases: per metric value for the first two,
# per row otherwise
P_SENTINEL = 0.03
P_EMPTY = 0.03
P_NEGATIVE = 0.004
P_IN_FILE_DUP = 0.01
P_ABSENT_WEEK = 0.02
P_RATING_NA = 0.15
P_RATING_EMPTY = 0.05
P_RATING_NEGATIVE = 0.005
P_CMS_ONLY = 0.03
P_CMS_MISSING = 0.08


def weeks(n: int) -> list[str]:
    """``n`` consecutive collection weeks ending at ``LAST_WEEK``."""
    return [(LAST_WEEK - timedelta(weeks=n - 1 - i)).isoformat() for i in range(n)]


@dataclass
class Hospital:
    pk: str
    name: str
    state: str
    address: str
    city: str
    zip: str
    fips: str
    geo: str
    size: float


def make_hospitals(rng: random.Random, n: int) -> list[Hospital]:
    pks = rng.sample(range(10_000, 900_000), n)
    out = []
    for i, pk in enumerate(pks):
        state = rng.choice(STATES)
        out.append(Hospital(
            pk=f"{pk:06d}",
            name=f"HOSPITAL {i:05d} MEDICAL CENTER",
            state=state,
            address=f"{rng.randint(1, 9999)} MAIN ST, SUITE {rng.randint(1, 99)}",
            city=f"CITY {rng.randint(1, 800)}",
            zip=f"{rng.randint(501, 99950):05d}",
            fips=f"{rng.randint(1000, 56045):05d}",
            geo=f"POINT ({rng.uniform(-160, -65):.5f} {rng.uniform(18, 65):.5f})",
            size=rng.choice((25, 50, 100, 200, 400)),
        ))
    return out


def _metric(rng: random.Random, scale: float) -> str:
    u = rng.random()
    if u < P_SENTINEL:
        return SENTINEL
    if u < P_SENTINEL + P_EMPTY:
        return ""
    # multiples of 0.25 are exact in binary, so sums do not depend on order
    return f"{rng.randint(0, int(scale * 4)) / 4:g}"


def _hhs_row(rng: random.Random, h: Hospital, week: str,
             address: str | None = None) -> list[str]:
    vals = [_metric(rng, h.size) for _ in BED_METRICS]
    if rng.random() < P_NEGATIVE:
        k = rng.randrange(len(vals))
        vals[k] = f"-{rng.randint(1, 40) / 4:g}"
    return [
        h.pk, week, h.state, h.pk, h.name, address or h.address, h.city,
        h.zip, "Short Term", h.fips, "true", *vals, h.geo,
    ]


def write_hhs_week(path: str, rng: random.Random, hospitals: list[Hospital],
                   week: str) -> list[list[str]]:
    """One weekly file; returns its data rows in file order."""
    keyed = []
    for h in hospitals:
        if rng.random() < P_ABSENT_WEEK:
            continue
        pos = rng.random()
        keyed.append((pos, _hhs_row(rng, h, week)))
        if rng.random() < P_IN_FILE_DUP:
            # a later row for the same hospital and week, other values
            dup = _hhs_row(rng, h, week, address=f"{h.address} REAR")
            keyed.append((rng.uniform(pos, 1.0), dup))
    keyed.sort(key=lambda t: t[0])
    rows = [r for _, r in keyed]
    _write(path, HHS_HEADER, rows)
    return rows


def write_cms(path: str, rng: random.Random,
              hospitals: list[Hospital]) -> list[list[str]]:
    """One CMS quality snapshot file; returns its data rows."""
    rows = []
    ids = [h.pk for h in hospitals if rng.random() >= P_CMS_MISSING]
    n_only = int(len(hospitals) * P_CMS_ONLY)
    # 9xxxxx: outside the HHS id range, so absent from every HHS file
    ids += [f"9{rng.randint(0, 99_999):05d}" for _ in range(n_only)]
    for fid in ids:
        u = rng.random()
        if u < P_RATING_NA:
            rating = "Not Available"
        elif u < P_RATING_NA + P_RATING_EMPTY:
            rating = ""
        elif u < P_RATING_NA + P_RATING_EMPTY + P_RATING_NEGATIVE:
            rating = "-1"
        else:
            rating = str(rng.randint(1, 5))
        rows.append([
            fid, f"FACILITY {fid}", "1 ELM ST", "TOWN", rng.choice(STATES),
            rng.choice(HOSPITAL_TYPES), rng.choice(OWNERSHIPS),
            rng.choice(("Yes", "No")), rating, "",
        ])
    rng.shuffle(rows)
    _write(path, CMS_HEADER, rows)
    return rows


def _write(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def _num(s: str) -> float | None:
    """try_cast to double, then the sentinel -> NULL."""
    if s == "":
        return None
    v = float(s)
    return None if v == float(SENTINEL) else v


@dataclass
class Counts:
    input_rows: int
    invalid_rows: int
    duplicate_rows: int
    table_rows_added: dict[str, int]


@dataclass
class Truth:
    """Expected warehouse contents, replayed with reference semantics."""

    hospitals: dict = field(default_factory=dict)
    locations: dict = field(default_factory=dict)
    beds: dict = field(default_factory=dict)
    quality: dict = field(default_factory=dict)

    def load_hhs(self, rows: list[list[str]]) -> Counts:
        ix = {c: i for i, c in enumerate(HHS_HEADER)}
        added = {"hospitals": 0, "hospital_locations": 0, "hospital_bed_information": 0}
        invalid = 0
        seen_h, seen_l, seen_b = set(), set(), set()
        for r in rows:
            metrics = tuple(_num(r[ix[m]]) for m in BED_METRICS)
            if any(v is not None and v < 0 for v in metrics):
                invalid += 1
                continue
            pk, week = r[ix["hospital_pk"]], r[ix["collection_week"]]
            if pk not in self.hospitals and pk not in seen_h:
                seen_h.add(pk)
                self.hospitals[pk] = r[ix["hospital_name"]]
                added["hospitals"] += 1
            if pk not in self.locations and pk not in seen_l:
                seen_l.add(pk)
                self.locations[pk] = tuple(
                    r[ix[c]] for c in ("state", "address", "city", "zip",
                                       "fips_code", "geocoded_hospital_address")
                )
                added["hospital_locations"] += 1
            if (pk, week) not in self.beds and (pk, week) not in seen_b:
                seen_b.add((pk, week))
                self.beds[(pk, week)] = metrics
                added["hospital_bed_information"] += 1
        return Counts(
            input_rows=len(rows), invalid_rows=invalid,
            duplicate_rows=len(rows) - invalid - added["hospital_bed_information"],
            table_rows_added=added,
        )

    def load_quality(self, rows: list[list[str]], data_date: str) -> Counts:
        ix = {c: i for i, c in enumerate(CMS_HEADER)}
        invalid = added = 0
        seen = set()
        for r in rows:
            raw = r[ix["Hospital overall rating"]]
            rating = 0.0 if raw == "Not Available" else (float(raw) if raw else None)
            if rating is not None and rating < 0:
                invalid += 1
                continue
            key = (r[ix["Facility ID"]], data_date)
            if key in self.quality or key in seen:
                continue
            seen.add(key)
            emergency = {"Yes": True, "No": False}.get(r[ix["Emergency Services"]])
            self.quality[key] = (
                r[ix["Hospital Type"]], r[ix["Hospital Ownership"]], emergency, rating,
            )
            added += 1
        return Counts(
            input_rows=len(rows), invalid_rows=invalid,
            duplicate_rows=len(rows) - invalid - added,
            table_rows_added={"hospital_quality_information": added},
        )

    def delete_beds(self, pks: set[str]) -> int:
        doomed = [k for k in self.beds if k[0] in pks]
        for k in doomed:
            del self.beds[k]
        return len(doomed)

    def duckdb_tables(self, con) -> None:
        """(Re)create the four warehouse tables in a DuckDB connection."""
        import pandas as pd

        bed_cols = ["hospital_fk", "collection_week", *BED_METRICS]
        frames = {
            "hospitals": pd.DataFrame(
                list(self.hospitals.items()), columns=["hospital_pk", "hospital_name"]),
            "hospital_locations": pd.DataFrame(
                [(k, *v) for k, v in self.locations.items()],
                columns=["hospital_fk", "state", "address", "city", "zip",
                         "fips_code", "geocoded_hospital_address"]),
            "hospital_bed_information": pd.DataFrame(
                [(k[0], k[1], *v) for k, v in self.beds.items()], columns=bed_cols,
            ).astype({m: "float64" for m in BED_METRICS}),
            "hospital_quality_information": pd.DataFrame(
                [(k[0], *v, k[1]) for k, v in self.quality.items()],
                columns=["facility_id", "hospital_type", "hospital_ownership",
                         "emergency_services", "hospital_overall_rating", "data_date"],
            ).astype({"hospital_overall_rating": "float64"}),
        }
        for name, pdf in frames.items():
            con.register(f"{name}_df", pdf)
            date_col = {"hospital_bed_information": "collection_week",
                        "hospital_quality_information": "data_date"}.get(name)
            sel = "*" if date_col is None else (
                f"* REPLACE (CAST({date_col} AS DATE) AS {date_col})")
            con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT {sel} FROM {name}_df")
            con.unregister(f"{name}_df")
