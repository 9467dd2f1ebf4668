"""Sinks: Hive-partitioned CSV/Parquet landing zones and append tables.

Reference parity:
- S4 partitioned CSV sink (``transactions_mock_data.py:82-102`` writes
  ``year=/month=/day=/hour=/min=`` keys one file at a time) →
  ``write_partitioned_csv``: one distributed write, the same keys down
  to ``hour``.
- S6/S7 warehouse append (Glue → Redshift; INSERT…VALUES batches at
  ``dimension_tables_mock.py:69-73,120-130``) → ``append_table``:
  ``mode('append')`` Parquet, the engine-local equivalent.

Scale notes: partition columns are derived once with built-in date parts
(codegen'd, no UDF). The layout stops at ``hour``: the reference's 5-level
minute-granular layout would create millions of tiny files at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PART_FUNCS: list[tuple[str, object]] = [
    ("year", F.year),
    ("month", F.month),
    ("day", F.dayofmonth),
    ("hour", F.hour),
]


def with_time_partitions(df: DataFrame, ts_col: str | Column) -> tuple[DataFrame, list[str]]:
    """Add the year/month/day/hour partition columns derived from ``ts_col``."""
    ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    for name, fn in _PART_FUNCS:
        df = df.withColumn(name, fn(ts))
    return df, [name for name, _fn in _PART_FUNCS]


def write_partitioned_csv(df: DataFrame, ts_col: str | Column, path: str) -> list[str]:
    """S4: CSV landing sink under year=/month=/day=/hour=."""
    out, names = with_time_partitions(df, ts_col)
    out.write.mode("overwrite").partitionBy(*names).option("header", True).csv(path)
    return names


def write_partitioned_parquet(df: DataFrame, ts_col: str | Column, path: str) -> list[str]:
    """Engine-native landing sink: same layout, Parquet + snappy."""
    out, names = with_time_partitions(df, ts_col)
    out.write.mode("overwrite").partitionBy(*names).parquet(path)
    return names


def append_table(df: DataFrame, path: str) -> None:
    """S6/S7: append new rows to an engine table (Parquet directory)."""
    df.write.mode("append").parquet(path)

