"""Sources: Parquet tables, CSV landing zones (Hive-partitioned).

Reference parity:
- S2/S3 table scans (``transactions_mock_data.py:61-62``) → ``load_table``
  + ``.select``; Catalyst does column pruning, so a projected scan reads
  only the requested Parquet columns (visible as ``ReadSchema`` in
  ``.explain``).
- S5 CSV source (the Glue job's ``--s3_key`` input,
  ``transactions_mock_data.py:112-118``) → ``read_transactions_csv`` with
  an explicit schema: no inference pass, deterministic types at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


def read_transactions_csv(
    spark: SparkSession,
    path: str,
    schema: StructType = TRANSACTIONS_RAW,
) -> DataFrame:
    """Read the reference's CSV landing zone (S5).

    The path may be a single file or the root of the Hive-partitioned layout
    ``year=/month=/day=/hour=/min=`` (``transactions_mock_data.py:85-91``);
    Spark discovers the partition columns and prunes on any filter over
    them (time-range queries never touch out-of-range files).
    """
    return (
        spark.read.option("header", True)
        .schema(schema)
        .csv(path)
    )


def read_json_lines(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema-pinned JSON-lines source: no inference pass (at 100 TB an
    inference scan doubles the read), deterministic types, malformed rows
    fail loudly (FAILFAST) instead of silently nulling."""
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (native vectorized reader, pushdown like Parquet)."""
    return spark.read.orc(path)


def read_binary_files(spark: SparkSession, path: str, glob: str) -> DataFrame:
    """Opaque-blob source for multimodal ingestion (images/audio/video
    land as raw files): Spark's binaryFile format yields one row per
    file — (path, modificationTime, length, content BINARY) — which is
    exactly the schema operators/multimodal.py consumes. pathGlobFilter
    prunes by extension at LISTING time (no content read for skipped
    files), the cheap first gate of a 100 TB media crawl."""
    return spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution parquet read: mergeSchema unions the footers of
    every file, so batches written before a column existed surface it as
    NULL instead of failing the read — how a long-lived landing zone
    stays readable as the producer's schema grows. Footer merging costs
    one extra metadata pass (no data read); keep it OFF (the default)
    for schema-stable tables."""
    return spark.read.option("mergeSchema", "true").parquet(path)
