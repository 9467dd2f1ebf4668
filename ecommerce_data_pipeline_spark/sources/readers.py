"""Sources: Parquet tables, CSV landing zones (Hive-partitioned).

Reference parity:
- S2/S3 table scans (``transactions_mock_data.py:61-62``) → ``load_table``
  + ``.select``; Catalyst does column pruning, so a projected scan reads
  only the requested Parquet columns (visible as ``ReadSchema`` in
  ``.explain``).
- S5 CSV source (the Glue job's ``--s3_key`` input,
  ``transactions_mock_data.py:112-118``) → ``read_transactions_csv`` with
  the declared ``TRANSACTIONS_RAW`` schema: no inference pass,
  deterministic types at any scale.
- Warehouse tables that may not exist yet → ``read_parquet_or_none``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ecommerce_data_pipeline_spark.schemas import TRANSACTIONS_RAW


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (S2). Projection/pushdown is left to Catalyst.

    Timestamp normalization: the generated data has stored timestamps as
    int64 epoch-nanos (older rounds) and as Parquet TIMESTAMP(MICROS)
    without UTC adjustment (current), which Spark ≥3.4 surfaces as
    TIMESTAMP_NTZ when `inferTimestampNTZ` is on. Every engine plan is
    written against plain TIMESTAMP, so both shapes are normalized here —
    the single chokepoint for testdata scans — rather than in each query.
    The NTZ→LTZ cast preserves the wall clock in the session timezone, so
    collected values always equal the stored (and DuckDB-oracle) values.
    """
    from pyspark.sql import functions as F

    if name == "events":
        # Scoped legacy-conf read: set nanosAsLong only around DataFrame
        # resolution, then restore, so other parquet reads in the same
        # session keep failing loudly on unexpected nanos timestamps.
        # (Safe with lazy execution: the scan's schema is resolved — and
        # the conf captured into the plan — at read time.)
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        if dict(df.dtypes)["ts"] == "bigint":  # legacy epoch-nanos layout
            # integer `div`, not float division: no precision loss
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols}
        )
    return df


def read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a Parquet table, or None if it was never created.

    ONLY path-resolution failures mean "does not exist" — a broader
    except would let a transient filesystem error or one corrupt footer
    masquerade as an empty table: a warehouse first-load would OVERWRITE
    every accumulated row, and a streaming store would band a batch
    against nothing, dropping its cross-batch pairs for good."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def read_transactions_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read the reference's CSV landing zone (S5).

    The path may be a single file or the root of the Hive-partitioned layout
    ``year=/month=/day=/hour=`` (``write_partitioned_csv``; the reference's
    ``transactions_mock_data.py:85-91`` adds ``min=``); Spark discovers the
    partition columns and prunes on any filter over them (time-range
    queries never touch out-of-range files).
    """
    return (
        spark.read.option("header", True)
        .schema(TRANSACTIONS_RAW)
        .csv(path)
    )
