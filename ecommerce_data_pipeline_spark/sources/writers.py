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


def compact_landing(spark, path: str, partition_cols: list[str] | None = None) -> int:
    """Compact a landing zone's small files (the reference's one-file-per-
    Lambda-run layout, transactions_mock_data.py:82-102, produces exactly
    the small-files problem that kills scan throughput at 100 TB).

    Rewrites the dataset with files sized toward 128 MB and
    returns the output file-count estimate. Partition columns are
    preserved when given. Uses a scratch copy so the rewrite is not
    reading its own output.
    """
    import math
    import os
    import shutil as _shutil

    df = spark.read.parquet(path)
    # size estimate straight from the FS (inputFiles gives paths only)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if f.endswith(".parquet"))
    n_files = max(1, math.ceil(total / (128 * 1024 * 1024)))
    tmp = f"{path}__compact_tmp"
    if partition_cols:
        # cluster BY the partition columns: round-robin repartition
        # would scatter every Hive partition's rows across all n_files
        # tasks, writing n_files × n_partitions small files — MORE
        # fragmentation than before the compaction. Hash-clustering
        # keeps each partition's rows on few tasks (≈1 file per
        # partition directory per owning task).
        out = df.repartition(n_files, *partition_cols)
        writer = out.write.mode("overwrite").partitionBy(*partition_cols)
    else:
        writer = df.repartition(n_files).write.mode("overwrite")
    writer.parquet(tmp)
    # two-rename swap instead of rmtree-then-rename: a crash between
    # rmtree and rename left the dataset path NONEXISTENT (data stranded
    # in the tmp sibling). With rename→rename the data exists at one of
    # the two names at every instant; the stale __compact_old is removed
    # last and is safe to delete on a re-run.
    old = f"{path}__compact_old"
    if os.path.exists(old):
        _shutil.rmtree(old)  # leftover from a crashed prior run
    os.rename(path, old)
    os.rename(tmp, path)
    _shutil.rmtree(old)
    return n_files


def write_json_lines(df: DataFrame, path: str) -> None:
    """JSON-lines interchange sink (gzip): the lingua franca for
    training-data pipelines (one JSON doc per line). Compressed because
    JSON's verbosity, not CPU, is the cost at scale."""
    df.write.mode("overwrite").option("compression", "gzip").json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — the second columnar warehouse format next to Parquet
    (native Spark writer, zlib, predicate-pushdown-capable)."""
    df.write.mode("overwrite").orc(path)


def write_sorted_parquet(
    df: DataFrame, sort_col: str, path: str, n_files: int
) -> None:
    """Layout-optimized Parquet: range-partition on ``sort_col`` then
    sort within each partition before writing.

    Effect at scale: every output file covers a DISJOINT range of
    ``sort_col``, and row groups inside a file are ordered — so any
    range predicate on that column prunes whole files via footer
    min/max stats before a byte of data is read (the poor man's
    clustering key / Z-order for the 1-column case). The write costs
    one range-partition shuffle; reads on the sorted key repay it on
    every scan."""
    out = df.repartitionByRange(n_files, sort_col).sortWithinPartitions(sort_col)
    out.write.mode("overwrite").parquet(path)


def write_with_metrics(
    df, path: str, metric_exprs: dict[str, "Column"] | None = None
):
    """Parquet sink instrumented with Spark's Observation API: named
    aggregate metrics (row count by default, plus caller expressions)
    are collected ON THE SAME PASS as the write — zero extra scans,
    exactly the telemetry a 100 TB ingest job needs (a separate
    df.count() would double the read). Returns the observed metrics
    dict; semantics match an explicit aggregation (asserted in tests)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("ingest_metrics")
    exprs = [F.count(F.lit(1)).alias("n_rows")]
    for name, col in (metric_exprs or {}).items():
        exprs.append(col.alias(name))
    observed = df.observe(obs, *exprs)
    observed.write.mode("overwrite").parquet(path)
    return obs.get


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    records_per_shard: int,
) -> DataFrame:
    """Training-data shard writer: a deterministic global shuffle +
    bounded-size Parquet shards + a per-shard row-count/key-range
    manifest.

    Trainers want (a) examples in RANDOM order — no source/time locality
    inside a shard, (b) shards of near-uniform size for even data-loader
    striding, and (c) the EXACT same shards on a re-run (resumable jobs,
    reproducible data order). randomSplit/rand() give none of that, and
    repartitionByRange is out too: its range boundaries come from a
    reservoir sample seeded by the RDD id, so two runs of the same job
    cut different shards (measured: 9 files vs 8 on identical input).
    Instead:

    - shard id = pmod(xxhash64("shard#v1", key), n_shards) — an
      explicit, layout-independent permutation reproducible from the
      salt alone;
    - n_shards = ceil(rows / records_per_shard); the one count job is
      the only extra pass;
    - one hash shuffle co-locates each shard, rows sort within a shard
      by a second salted hash (stable in-file order), and the writer
      lands Hive-style ``shard=<k>/`` directories with
      ``maxRecordsPerFile`` as the per-file backstop.

    At 100 TB this is one shuffle of the corpus — the minimum any global
    permutation costs — and the manifest aggregation reads only the
    written files' key column, not the full rows.

    Returns the manifest DataFrame: (shard, n_rows, min_key, max_key).
    """
    import math

    from pyspark.sql import functions as F

    if records_per_shard < 1:
        raise ValueError(
            f"records_per_shard must be >= 1, got {records_per_shard}"
        )
    if key_col not in df.columns:
        raise ValueError(f"key_col {key_col!r} not in {df.columns}")
    n_rows = df.count()
    n_shards = max(1, math.ceil(n_rows / records_per_shard))
    salt = "shard#v1"
    keyed = df.withColumn(
        "shard",
        F.pmod(F.xxhash64(F.lit(salt), F.col(key_col)), F.lit(n_shards)).cast(
            "int"
        ),
    ).withColumn("_order", F.xxhash64(F.lit(salt + "#order"), F.col(key_col)))
    (
        keyed.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "_order")
        .drop("_order")
        .write.mode("overwrite")
        .partitionBy("shard")
        .option("maxRecordsPerFile", records_per_shard)
        .parquet(path)
    )
    back = df.sparkSession.read.parquet(path)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(key_col).alias("min_key"),
        F.max(key_col).alias("max_key"),
    )
