"""Sinks: Hive-partitioned CSV/Parquet landing zones and append tables.

Reference parity:
- S4 partitioned CSV sink (``transactions_mock_data.py:82-102`` writes
  ``year=/month=/day=/hour=/min=`` keys one file at a time) →
  ``write_partitioned_csv``: one distributed write, same layout.
- S6/S7 warehouse append (Glue → Redshift; INSERT…VALUES batches at
  ``dimension_tables_mock.py:69-73,120-130``) → ``append_table``:
  ``mode('append')`` Parquet, the engine-local equivalent.

Scale notes: partition columns are derived once with built-in date parts
(codegen'd, no UDF). A 5-level minute-granular layout like the reference's
would create millions of tiny files at 100 TB; ``granularity`` lets callers
stop at 'day' or 'hour' (the default) while keeping reference semantics
available ('min').
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PART_FUNCS: list[tuple[str, object]] = [
    ("year", F.year),
    ("month", F.month),
    ("day", F.dayofmonth),
    ("hour", F.hour),
    ("min", F.minute),
]


def with_time_partitions(
    df: DataFrame, ts_col: str | Column, granularity: str = "hour"
) -> tuple[DataFrame, list[str]]:
    """Add the reference's time-partition columns derived from ``ts_col``."""
    valid = [name for name, _fn in _PART_FUNCS]
    if granularity not in valid:
        # an unknown value would silently fall through to full 5-level
        # minute granularity — the millions-of-tiny-files layout this
        # module exists to avoid
        raise ValueError(
            f"granularity must be one of {valid}, got {granularity!r}"
        )
    ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    names: list[str] = []
    for name, fn in _PART_FUNCS:
        df = df.withColumn(name, fn(ts))
        names.append(name)
        if name == granularity:
            break
    return df, names


def write_partitioned_csv(
    df: DataFrame, ts_col: str | Column, path: str, granularity: str = "hour"
) -> list[str]:
    """S4: CSV landing sink under year=/month=/... (reference layout)."""
    out, names = with_time_partitions(df, ts_col, granularity)
    out.write.mode("overwrite").partitionBy(*names).option("header", True).csv(path)
    return names


def write_partitioned_parquet(
    df: DataFrame, ts_col: str | Column, path: str, granularity: str = "hour"
) -> list[str]:
    """Engine-native landing sink: same layout, Parquet + snappy."""
    out, names = with_time_partitions(df, ts_col, granularity)
    out.write.mode("overwrite").partitionBy(*names).parquet(path)
    return names


def append_table(df: DataFrame, path: str) -> None:
    """S6/S7: append new rows to an engine table (Parquet directory)."""
    df.write.mode("append").parquet(path)

