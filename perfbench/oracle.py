"""Result comparison against DuckDB, run outside every timed region."""

from __future__ import annotations

import math

import duckdb


def frames_match(spark_pdf, oracle_pdf) -> str | None:
    """None if equal as the registry differential compares them (row
    count, column names, canonical value multiset, dtypes), else the
    first problem found."""
    from tools.check_oracle import canon_frame

    if len(spark_pdf) != len(oracle_pdf):
        return f"rowcount {len(spark_pdf)} vs {len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    a, b = canon_frame(spark_pdf), canon_frame(oracle_pdf)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"values differ: {diff}"
    sd = {c: str(spark_pdf[c].dtype) for c in spark_pdf.columns}
    od = {c: str(oracle_pdf[c].dtype) for c in oracle_pdf.columns}
    bad = {c: (sd[c], od[c]) for c in sd if sd[c] != od[c]}
    return f"dtype mismatch {bad}" if bad else None


def rows_close(got: list[tuple], want: list[tuple], abs_tol: float) -> str | None:
    """Ordered row lists equal, floats within ``abs_tol`` (one unit in
    the last place a query rounds to: the two engines may round a
    decimal tie differently)."""
    if len(got) != len(want):
        return f"rowcount {len(got)} vs {len(want)}: {got[:3]} vs {want[:3]}"
    for g, w in zip(got, want):
        if len(g) != len(w):
            return f"row width {g} vs {w}"
        for x, y in zip(g, w):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                    x, y, rel_tol=1e-12, abs_tol=abs_tol
                ):
                    return f"row {g} vs {w}"
            elif x != y:
                return f"row {g} vs {w}"
    return None


def connect_parquet(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con
