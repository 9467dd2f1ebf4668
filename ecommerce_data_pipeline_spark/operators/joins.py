"""Join strategies: fact⋈dim enrichment, semi/anti, as-of, range.

Reference parity:
- J1: the Glue job "Read and join transactions with product and cusotmer
  dim tables" (name at ``transactions_mock_data.py:17``, trigger
  ``:105-123``) — enrich each fact row with both dimensions.
  ``enrich_facts`` broadcasts the dims explicitly: dims are tiny relative
  to the fact stream (10/run vs 100/run in the reference; MBs vs TBs at
  target scale), so the fact side never shuffles.
- J6 as-of / range joins are [builtin-gap] additions expressed as
  compositions of built-in ops (union-sort trick / non-equi condition), no
  custom physical operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def enrich_facts(facts: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """J1: join the fact table with each dimension on its FK column.

    ``dims`` maps join-key column name → dimension DataFrame (inner
    joins). The plan is N chained BroadcastHashJoins — zero shuffles of
    the fact side, the only plan that survives a 100 TB fact stream. FK
    integrity holds by construction in the reference
    (``transactions_mock_data.py:64-71``), so inner == left in row count.
    """
    out = facts
    for key, dim in dims.items():
        out = out.join(F.broadcast(dim), on=key)
    return out


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """Backward as-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` within the same ``on`` key.

    Implemented with the union-sort trick: tag both sides, sort within the
    key by time, and carry the last-seen right row forward with
    ``last(..., ignorenulls=True)``. One shuffle on the key — no per-row
    Python, no cross product — versus the naive non-equi join which
    explodes at scale.
    """
    l_tag = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in right.columns) + ">"
        ).alias("_r"),
    )
    r_tag = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{left.schema[c].dataType.simpleString()}" for c in left.columns) + ">"
        ).alias("_l"),
        F.struct(*[F.col(c) for c in right.columns]).alias("_r"),
    )
    # right rows sort before left rows at equal timestamps (_side 0 < 1),
    # so an exact-tie right row IS visible to the left row (<= semantics).
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = l_tag.unionByName(r_tag).withColumn(
        "_match", F.last("_r", ignorenulls=True).over(w)
    )
    keep = unioned.filter(F.col("_side") == 1)
    cols = [F.col(f"_l.{c}").alias(c) for c in left.columns] + [
        F.col(f"_match.{c}").alias(f"right_{c}") for c in right.columns if c != on
    ]
    return keep.select(*cols)


def range_join(
    left: DataFrame, right: DataFrame, point: str, lo: str, hi: str
) -> DataFrame:
    """J6 range join: left.point ∈ [right.lo, right.hi).

    Plain non-equi condition; Spark plans BroadcastNestedLoopJoin when the
    range side is broadcast-able (the common case: a bucket/calendar table).
    """
    cond = (F.col(point) >= right[lo]) & (F.col(point) < right[hi])
    return left.join(F.broadcast(right), cond, "inner")

