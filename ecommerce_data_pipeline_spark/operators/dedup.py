"""Key- and content-based deduplication.

Reference parity (the load-bearing semantic of the whole pipeline):
- P3/J2 NOT-IN key dedup — the reference pulls ALL existing ids to the
  driver and filters in Python (``dimension_tables_mock.py:62-63,109-114``),
  which caps at driver memory. Here it is a distributed LEFT ANTI join:
  at 100 TB both sides stay partitioned on the key; AQE broadcasts the
  smaller side when it fits.

Extensions (LLM-data-pipeline tier):
- exact content dedup via sha2(content) — hash-groupBy, one shuffle on a
  256-bit key (collision-free in practice), deterministic survivor.
- streaming form lives in streaming/pipeline.py (dropDuplicatesWithinWatermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def new_rows_only(candidates: DataFrame, existing: DataFrame, key: str) -> DataFrame:
    """P3/J2: keep candidate rows whose ``key`` is absent from ``existing``.

    Distributed form of the reference's driver-side
    ``[r for r in data if r[0] not in existing_ids]``
    (``dimension_tables_mock.py:62-63``).
    """
    return candidates.join(existing.select(key), on=key, how="left_anti")


def dedup_by_key(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per key, deterministically (min of ``order_col``).

    ``dropDuplicates`` keeps an *arbitrary* row; for oracle-testable and
    rerun-stable results we pick the min-``order_col`` row via a grouped
    min-by. One shuffle on the keys; partial aggregation map-side.

    The key columns are projected from the GROUPING attributes (not
    re-extracted from the winning struct, which would mint new attributes
    and erase the aggregate's output partitioning): downstream joins and
    groupBys on the keys then reuse this exchange — or, over bucketed
    input, need no exchange at all (tests/test_scale_paths.py).
    """
    keyset = set(keys)
    pairs = F.struct(
        F.col(order_col).alias("_o"),
        F.struct(*[F.col(c) for c in df.columns if c not in keyset]).alias("_r"),
    )
    return (
        df.groupBy(*keys)
        .agg(F.min(pairs).alias("_w"))
        .select(
            *[
                F.col(c) if c in keyset else F.col(f"_w._r.{c}").alias(c)
                for c in df.columns
            ]
        )
    )


def exact_text_dedup(docs: DataFrame) -> DataFrame:
    """Exact content dedup: one survivor per sha2-256 of the text.

    Returns (content_hash, n_dupes, keep_id) — survivor = lowest id, so the
    result is deterministic and oracle-checkable. Scales as a single
    hash-partitioned aggregation; no row ever leaves the JVM.
    """
    return (
        docs.select(F.sha2(F.col("text"), 256).alias("content_hash"), F.col("doc_id"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dupes"),
            F.min("doc_id").alias("keep_id"),
        )
    )
