"""Skew mitigation: salted aggregation.

AQE's skew-join splitting (on in session.py) handles runtime join skew;
the explicit form here covers the case AQE can't: skewed AGGREGATION
keys (AQE only splits join partitions). It is a pure DataFrame rewrite —
no custom physical operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_sum(df: DataFrame, group_cols: list[str], sum_col: str) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    Phase 1 groups on (key, salt) — the hot key's rows spread over 16
    reducers; phase 2 merges the per-salt partials. For algebraic
    aggregates (sum/count/min/max) the result is exactly the
    single-phase answer PROVIDED the accumulator's decimal scale covers
    the input (the cast quantizes anything finer — e.g. a 6dp score
    under a 2dp accumulator sums rounded values). The decimal(28,6)
    accumulator covers the repo's 2dp money and 6dp score columns.
    """
    salt = F.floor(F.rand(42) * 16).cast("int")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*group_cols, "_salt")
        .agg(F.sum(F.col(sum_col).cast("decimal(28,6)")).alias("_psum"),
             F.count(F.lit(1)).alias("_pcnt"))
    )
    return (
        partial.groupBy(*group_cols)
        .agg(
            F.sum("_psum").cast("double").alias(f"sum_{sum_col}"),
            F.sum("_pcnt").alias("n_rows"),
        )
    )

