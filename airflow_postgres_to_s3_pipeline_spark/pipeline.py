"""Reference-parity ETL pipeline, Spark-first (SURVEY.md §2A S1-X3, §3.1).

The reference is a 5-task Airflow DAG: download CSVs -> pandas preprocess ->
CREATE TABLE -> COPY into Postgres -> SELECT+export to S3
(dags/airbnb_postgres_to_s3.py:157).  Here the task graph collapses into one
lazy Spark plan:

- the 11-file download loop (S1, :30-39) -> one multi-path ``spark.read.csv``
  (multi-path scan parallelizes what the reference did sequentially; U1);
- the ``\\N`` null-sentinel pandas rewrite (T1, :41-47) -> reader option
  ``nullValue='\\N'`` (nulls are native in DataFrames — the sentinel
  round-trip the reference needed for COPY disappears);
- DDL + COPY with DEFAULT columns (D1/L1, :50-79, :91-124) -> explicit
  StructType + ``withColumn(current_date/current_timestamp)`` + partitioned
  parquet write;
- delete-then-reload idempotency (T3, :86-88) -> atomic dynamic partition
  overwrite (one commit point instead of the reference's two, closing its
  crash-between-commits hazard, README.md:205-228);
- driver-buffered CSV upload (Q3/X1/X2, postgres_to_s3_operator.py:40-63)
  -> distributed ``df.write.csv`` straight from executors (the O(result)
  driver-memory bottleneck is deliberately NOT ported).

At 100 TB the warehouse is a ``load_date``-partitioned parquet/Delta table:
the export predicate (Q2) becomes partition pruning, and re-runs overwrite
exactly one partition.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Explicit schema mirroring the reference DDL
# (dags/airbnb_postgres_to_s3.py:55-76); the two DEFAULT metadata columns
# (load_date, processed_at) are engine-populated, not part of the file schema.
LISTINGS_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("host_id", IntegerType()),
        StructField("host_name", StringType()),
        StructField("neighbourhood_group", StringType()),
        StructField("neighbourhood", StringType()),
        StructField("latitude", DecimalType(10, 7)),
        StructField("longitude", DecimalType(10, 7)),
        StructField("room_type", StringType()),
        StructField("price", DecimalType(10, 2)),
        StructField("minimum_nights", IntegerType()),
        StructField("last_review", DateType()),
        StructField("reviews_per_month", DecimalType(10, 2)),
        StructField("number_of_reviews", IntegerType()),
        StructField("calculated_host_listings_count", IntegerType()),
        StructField("availability_365", IntegerType()),
        StructField("number_of_reviews_ltm", IntegerType()),
        StructField("license", StringType()),
    ]
)


def read_snapshots(
    spark: SparkSession,
    paths: list[str],
    schema: StructType = LISTINGS_SCHEMA,
    mode: str = "FAILFAST",
) -> DataFrame:
    """S2+T1+U1: multi-path CSV scan with explicit schema and native nulls.

    ``mode='FAILFAST'`` reproduces the reference's hard-error behavior
    (Postgres COPY rejecting bad numerics, README.md:148-151);
    ``mode='PERMISSIVE'`` is the lenient upgrade.  The ``\\N`` sentinel and
    empty strings both read back as null.  Quoting is RFC 4180: a quote
    inside a quoted field is doubled (``escape='"'``), as the snapshot
    files write it.
    """
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("nullValue", "\\N")
        .option("escape", '"')
        .option("mode", mode)
        .csv(paths)
    )


def with_batch_columns(df: DataFrame, ds: str | None = None) -> DataFrame:
    """L1's DEFAULT-column semantics: engine-side load_date/processed_at
    (the reference relies on Postgres DEFAULTs by omitting the columns from
    the COPY list, dags/airbnb_postgres_to_s3.py:96-115).

    ``ds`` (ISO date) pins the batch date like Airflow's ``{{ ds }}`` did
    in the reference; without it the plan-evaluated ``current_date()`` is
    used — fine for a standalone load, but a multi-step run must pass one
    ``ds`` to every step (see ``run_pipeline``) or a run crossing UTC
    midnight stamps and exports DIFFERENT dates."""
    load_date = F.to_date(F.lit(ds)) if ds is not None else F.current_date()
    return df.withColumn("load_date", load_date).withColumn(
        "processed_at", F.current_timestamp()
    )


def load_warehouse(df: DataFrame, warehouse_path: str) -> None:
    """D1+T3+L1: idempotent partitioned load.

    Dynamic partition overwrite replaces the reference's DELETE + COPY pair
    (two commit points, dags/airbnb_postgres_to_s3.py:89,125) with one atomic
    partition swap: re-running a batch rewrites only its load_date partition.
    """
    (
        df.write.mode("overwrite")
        .partitionBy("load_date")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(warehouse_path)
    )


def export_query(
    spark: SparkSession,
    warehouse_path: str,
    query: str = "SELECT * FROM listings WHERE load_date = current_date()",
) -> DataFrame:
    """Q1+Q2+Q3 without the driver bottleneck: arbitrary SQL over the
    warehouse table (the reference operator's declared capability,
    postgres_to_s3_operator.py:21,42); the load_date predicate prunes
    partitions instead of scanning."""
    spark.read.parquet(warehouse_path).createOrReplaceTempView("listings")
    return spark.sql(query)


def export_to_storage(
    df: DataFrame,
    out_path: str,
    fmt: str = "csv",
    single_file: bool = False,
) -> None:
    """X1+X2+X3: distributed write to object storage (s3a://... or file://).

    Executors write partitioned objects directly — the reference's
    fetchall-into-StringIO single PUT (postgres_to_s3_operator.py:43-63) is
    O(result) driver memory and is not reproduced.  ``single_file=True``
    (coalesce(1)) exists only for small-export parity with the reference's
    one-object layout; never use it at scale.  CSV quoting is RFC 4180
    (embedded quotes doubled), the same dialect ``read_snapshots`` reads.
    """
    writer = (df.coalesce(1) if single_file else df).write.mode("overwrite")
    if fmt == "csv":
        (
            writer.option("header", True)
            .option("nullValue", "\\N")
            .option("escape", '"')
            .csv(out_path)
        )
    elif fmt == "parquet":
        writer.parquet(out_path)
    elif fmt == "json":
        writer.json(out_path)
    else:
        raise ValueError(f"unsupported export format: {fmt}")


def run_pipeline(
    spark: SparkSession,
    snapshot_paths: list[str],
    warehouse_path: str,
    export_path: str,
    export_fmt: str = "csv",
    ds: str | None = None,
) -> DataFrame:
    """The whole reference DAG as one lazy Spark program (SURVEY.md §3.1).

    download >> preprocess >> create_table >> load >> transfer becomes a
    single linear plan; returns the exported DataFrame for inspection.

    One batch date (``ds``, defaulting to the driver's UTC today, resolved
    ONCE here) is threaded through both the load stamp and the export
    predicate — the reference got this stability from Airflow's ``{{ ds }}``
    macro on both sides.  Evaluating ``current_date()`` independently in
    each plan (the pre-r10 shape) silently exported ZERO rows when the run
    crossed UTC midnight: the load stamped 2026-08-15, the export filtered
    2026-08-16, and the empty file wrote without error.
    """
    if ds is None:
        ds = datetime.datetime.now(datetime.timezone.utc).date().isoformat()
    # defense in depth: a malformed ds must fail here, not inject SQL
    ds = datetime.date.fromisoformat(ds).isoformat()
    raw = read_snapshots(spark, snapshot_paths)
    staged = with_batch_columns(raw, ds)
    load_warehouse(staged, warehouse_path)
    result = export_query(
        spark,
        warehouse_path,
        query=f"SELECT * FROM listings WHERE load_date = DATE'{ds}'",
    )
    export_to_storage(result, export_path, export_fmt)
    return result
