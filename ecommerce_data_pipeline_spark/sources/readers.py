"""Sources: Parquet tables, CSV landing zones (Hive-partitioned).

Reference parity:
- S2/S3 table scans (``transactions_mock_data.py:61-62``) → ``load_table``
  + ``.select``, read with the declared ``TABLE_SCHEMAS`` (building a
  plan submits no inference job). Catalyst does column pruning, so a
  projected scan reads only the requested Parquet columns (visible as
  ``ReadSchema`` in ``.explain``).
- S5 CSV source (the Glue job's ``--s3_key`` input,
  ``transactions_mock_data.py:112-118``) → ``read_transactions_csv`` with
  the declared ``TRANSACTIONS_RAW`` schema: no inference pass,
  deterministic types at any scale.
- Warehouse tables that may not exist yet → ``read_parquet_or_none``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ecommerce_data_pipeline_spark.schemas import TABLE_SCHEMAS, TRANSACTIONS_RAW


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema table (S2) with its declared schema
    (``schemas.TABLE_SCHEMAS``): no schema inference, so no Spark job.
    Projection/pushdown is left to Catalyst. A column stored under
    another physical type fails at scan time; a column missing from the
    file reads as NULL (``tests/test_operators.py`` guards the fixtures).

    The declared TIMESTAMP_NTZ columns are cast to the session TIMESTAMP
    every plan is written against. The cast keeps the stored wall clock
    in any session time zone, so collected values equal the DuckDB
    oracle's; a TIMESTAMP read would shift them by the session offset.
    """
    from pyspark.sql import functions as F

    df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
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
