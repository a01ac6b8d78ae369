"""Correctness checks: registry results against their DuckDB oracles, and
ETL batches against the generator's ground truth.

Each check returns ``None`` when the output is right and a one-line reason
when it is not; the caller counts a reason as a failed operation.
"""

from __future__ import annotations

import csv
import glob
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_oracles import TABLES, norm_rows  # noqa: E402


def oracle_results(data_dir: str, entries: list[str], oracles: dict) -> dict:
    """name -> (column names, normalized rows) from DuckDB over ``data_dir``;
    ``None`` for rows-only entries (no SQL-expressible oracle)."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for name in entries:
            if name not in oracles:
                out[name] = None
                continue
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            out[name] = (cols, norm_rows(cols, res.fetchall()))
        return out
    finally:
        con.close()


def compare(cols: list[str], rows: list[tuple], expected) -> str | None:
    """Mismatch reason, or None.  Rows-only entries must return rows."""
    if expected is None:
        return None if rows else "rows-only entry returned 0 rows"
    ocols, orows = expected
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    got = norm_rows(cols, rows)
    if got != orows:
        diff = next(a for a, b in zip(got, orows) if a != b)
        return f"value mismatch, first differing row {diff}"
    return None


def export_counts(export_dir: str) -> tuple[int, int]:
    """(rows, NULL prices) of a CSV export written by ``export_to_storage``
    (header row, backslash escapes, ``\\N`` NULL sentinel).  With
    backslash as the escape character the sentinel parses to ``N``, a
    value no price can take."""
    rows = nulls = 0
    for path in sorted(glob.glob(os.path.join(export_dir, "*.csv"))):
        with open(path, newline="", encoding="utf-8") as fh:
            reader = csv.reader(fh, escapechar="\\", doublequote=False)
            price = next(reader).index("price")
            for rec in reader:
                rows += 1
                nulls += rec[price] == "N"
    return rows, nulls


def etl_batch(warehouse: str, export_dir: str, ds: str,
              want_rows: int, want_nulls: int) -> str | None:
    """The batch's partition and export each hold the generated rows and
    NULL prices, and every partition loaded so far (re-runs included)
    still holds exactly the generated row count."""
    con = duckdb.connect()
    try:
        parts = con.execute(
            "SELECT CAST(load_date AS VARCHAR), count(*), "
            "count(*) FILTER (WHERE price IS NULL) FROM read_parquet("
            f"'{warehouse}/*/*.parquet', hive_partitioning = true) "
            "GROUP BY 1"
        ).fetchall()
    finally:
        con.close()
    by_ds = {d: (n, k) for d, n, k in parts}
    if by_ds.get(ds) != (want_rows, want_nulls):
        return f"warehouse {ds}: {by_ds.get(ds)} != {(want_rows, want_nulls)}"
    bad = {d: n for d, (n, _) in by_ds.items() if n != want_rows}
    if bad:
        return f"re-run changed partition row counts: {bad}"
    got = export_counts(export_dir)
    if got != (want_rows, want_nulls):
        return f"export {ds}: {got} != {(want_rows, want_nulls)}"
    return None
