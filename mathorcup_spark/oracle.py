"""The DuckDB oracle: views over the testdata tables and the one result
comparator every correctness check uses.

A Spark result matches its oracle when the column names agree, the
row counts agree and the normalised rows are equal: columns sorted by
name, rows sorted, floats rounded to 9 places, NaN mapped to a marker,
lists turned into tuples. This is the driver's CORRECTNESS hash check.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb

from mathorcup_spark.catalog import TABLES

SAMPLE = 5  # culprit rows kept per side in a mismatch record


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per catalog table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def run(con, sql: str) -> tuple[list[str], list[tuple]]:
    """(column names, rows) of ``sql`` on ``con``."""
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def norm_rows(cols, rows) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(out, key=repr)


def _only(a: list[tuple], b: list[tuple]) -> list[list]:
    """Up to SAMPLE rows of ``a`` left over after removing ``b``
    (multiset difference, so a duplicated row counts)."""
    left = Counter(map(repr, b))
    out = []
    for r in a:
        k = repr(r)
        if left[k]:
            left[k] -= 1
        elif len(out) < SAMPLE:
            out.append(list(r))
    return out


def compare(cols, rows, ocols, orows) -> dict:
    """Compare a Spark result with its oracle result.

    Returns the three driver signals ``cols_match``, ``rows_match``
    and ``hash_match`` (``None`` when the value check is skipped
    because the columns or the row counts differ), the two row
    counts, and, when the columns agree but the rows do not, up to
    ``SAMPLE`` normalised rows found only on each side
    (``only_spark`` / ``only_oracle``, columns in ``columns`` order).
    """
    rec = {
        "cols_match": sorted(cols) == sorted(ocols),
        "rows_match": len(rows) == len(orows),
        "hash_match": None,
        "spark_rows": len(rows),
        "oracle_rows": len(orows),
    }
    if not rec["cols_match"]:
        return rec
    got, want = norm_rows(cols, rows), norm_rows(ocols, orows)
    same = got == want
    if rec["rows_match"]:
        rec["hash_match"] = same
    if not same:
        rec["columns"] = sorted(cols)
        rec["only_spark"] = _only(got, want)
        rec["only_oracle"] = _only(want, got)
    return rec
