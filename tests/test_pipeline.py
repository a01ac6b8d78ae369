"""Behavior tests for the reference-parity ETL (SURVEY.md §5): the three
documented failure modes — \\N null round-trip, DEFAULT-column population,
idempotent re-run — plus the export path."""

from __future__ import annotations

import glob
import os

from airflow_postgres_to_s3_pipeline_spark import pipeline

HEADER = (
    "id,name,host_id,host_name,neighbourhood_group,neighbourhood,latitude,"
    "longitude,room_type,price,minimum_nights,last_review,reviews_per_month,"
    "number_of_reviews,calculated_host_listings_count,availability_365,"
    "number_of_reviews_ltm,license"
)

ROW_FULL = (
    "1,Cozy Loft,10,Ann,Downtown,Center,42.6500000,-73.7500000,"
    "Entire home/apt,120.50,2,2024-01-15,1.25,34,1,200,12,LIC1"
)
# \N sentinels in text, price, date, and numeric columns
ROW_NULLS = (
    "2,\\N,11,Bob,\\N,North,42.6600000,-73.7600000,Private room,\\N,1,\\N,"
    "\\N,5,2,100,3,\\N"
)


def _write_snapshot(tmp_path, name: str, rows: list[str]) -> str:
    p = os.path.join(str(tmp_path), name)
    with open(p, "w") as f:
        f.write(HEADER + "\n")
        for r in rows:
            f.write(r + "\n")
    return p


def test_null_sentinel_round_trip(spark, tmp_path):
    csv = _write_snapshot(tmp_path, "s1.csv", [ROW_FULL, ROW_NULLS])
    df = pipeline.read_snapshots(spark, [csv])
    rows = {r["id"]: r for r in df.collect()}
    assert rows[2]["name"] is None
    assert rows[2]["price"] is None
    assert rows[2]["last_review"] is None
    assert rows[2]["reviews_per_month"] is None
    # non-null row fully typed
    assert float(rows[1]["price"]) == 120.50
    assert rows[1]["last_review"].isoformat() == "2024-01-15"


def test_default_columns_populated(spark, tmp_path):
    csv = _write_snapshot(tmp_path, "s1.csv", [ROW_FULL])
    staged = pipeline.with_batch_columns(pipeline.read_snapshots(spark, [csv]))
    row = staged.collect()[0]
    assert row["load_date"] is not None
    assert row["processed_at"] is not None


def test_pinned_ds_threads_load_and_export(spark, tmp_path):
    """One explicit batch date must govern BOTH the load stamp and the
    export predicate (the reference used Airflow's {{ ds }} on both sides).
    Before r10, run_pipeline planned current_date() independently at load
    and export time, so a run crossing UTC midnight exported zero rows
    silently.  A pinned non-today ds proves the export filters on the
    threaded date, not on a re-evaluated clock."""
    import pytest

    csv = _write_snapshot(tmp_path, "s1.csv", [ROW_FULL, ROW_NULLS])
    wh = os.path.join(str(tmp_path), "warehouse")
    ex = os.path.join(str(tmp_path), "export")
    result = pipeline.run_pipeline(spark, [csv], wh, ex, ds="2024-03-09")
    rows = result.collect()
    assert len(rows) == 2
    assert all(r["load_date"].isoformat() == "2024-03-09" for r in rows)
    # a malformed / injection-shaped ds fails fast, before any write
    with pytest.raises(ValueError):
        pipeline.run_pipeline(
            spark, [csv], wh, ex, ds="2024-03-09' OR '1'='1"
        )


def test_idempotent_rerun(spark, tmp_path):
    """Running the same batch twice must not duplicate rows (the reference's
    delete-then-reload pattern, replaced by dynamic partition overwrite)."""
    csv = _write_snapshot(tmp_path, "s1.csv", [ROW_FULL, ROW_NULLS])
    wh = os.path.join(str(tmp_path), "warehouse")
    ex = os.path.join(str(tmp_path), "export")
    pipeline.run_pipeline(spark, [csv], wh, ex)
    result = pipeline.run_pipeline(spark, [csv], wh, ex)
    assert result.count() == 2


def test_multi_snapshot_union(spark, tmp_path):
    """U1: the reference's 11-file loop is one multi-path scan."""
    c1 = _write_snapshot(tmp_path, "s1.csv", [ROW_FULL])
    c2 = _write_snapshot(tmp_path, "s2.csv", [ROW_NULLS])
    df = pipeline.read_snapshots(spark, [c1, c2])
    assert df.count() == 2
    assert {r["id"] for r in df.collect()} == {1, 2}


def test_export_writes_distributed_csv(spark, tmp_path):
    csv = _write_snapshot(tmp_path, "s1.csv", [ROW_FULL, ROW_NULLS])
    wh = os.path.join(str(tmp_path), "warehouse")
    ex = os.path.join(str(tmp_path), "export")
    pipeline.run_pipeline(spark, [csv], wh, ex)
    parts = glob.glob(os.path.join(ex, "part-*.csv"))
    assert parts, "export must produce executor-written csv parts"
    content = open(parts[0]).read()
    assert content.startswith("id,")  # header row (X1 parity)
    assert "\\N" in content  # null sentinel on the way out (T1 parity)


def test_arbitrary_sql_export(spark, tmp_path):
    """The reference operator accepts arbitrary SQL (its declared
    capability); ours exposes full Spark SQL over the warehouse."""
    csv = _write_snapshot(tmp_path, "s1.csv", [ROW_FULL, ROW_NULLS])
    wh = os.path.join(str(tmp_path), "warehouse")
    pipeline.load_warehouse(
        pipeline.with_batch_columns(pipeline.read_snapshots(spark, [csv])), wh
    )
    out = pipeline.export_query(
        spark,
        wh,
        "SELECT room_type, count(*) AS n, avg(price) AS avg_price "
        "FROM listings GROUP BY room_type",
    )
    got = {r["room_type"]: r["n"] for r in out.collect()}
    assert got == {"Entire home/apt": 1, "Private room": 1}


def test_rfc4180_quoted_name_round_trips(spark, tmp_path):
    """A ``name`` holding a comma and doubled quotes (RFC 4180) must load
    as one field and come back out of the CSV export unchanged, as any
    RFC 4180 reader (Python's csv module) sees it."""
    import csv

    name = 'Cozy "Loft" downtown, big'
    row = (
        '3,"Cozy ""Loft"" downtown, big",12,Cat,Downtown,Center,'
        "42.6500000,-73.7500000,Entire home/apt,99.00,2,2024-01-15,1.25,"
        "34,1,200,12,LIC3"
    )
    src = _write_snapshot(tmp_path, "s1.csv", [row])
    wh = os.path.join(str(tmp_path), "warehouse")
    ex = os.path.join(str(tmp_path), "export")
    loaded = pipeline.run_pipeline(spark, [src], wh, ex, ds="2024-03-09")
    got = loaded.collect()
    assert [(r["name"], r["host_id"]) for r in got] == [(name, 12)]

    exported = []
    for part in sorted(glob.glob(os.path.join(ex, "part-*.csv"))):
        with open(part, newline="", encoding="utf-8") as fh:
            exported.extend(csv.DictReader(fh))
    assert [(r["name"], r["host_id"]) for r in exported] == [(name, "12")]
