"""Sampling and random-assignment operators (O1/O2/J3), seeded.

Reference parity:
- O1 ``ORDER BY RANDOM() LIMIT 50`` (``transactions_mock_data.py:61-62``):
  uniform k-row sample. Reproduced as seeded ``rand()`` order + limit for
  small k. At 100 TB a global random sort is a full shuffle, so
  ``sample_fraction`` (per-partition Bernoulli, no shuffle) is the scale
  path and ``sample_exact_k`` uses TakeOrdered (heap per partition, no
  full sort) — both seeded and rerun-stable.
- O2/J3 random FK assignment (``transactions_mock_data.py:64-66``): each
  fact row picks one uniformly-random dim row. Reproduced without a
  driver loop: hash the fact key through a seeded prng column into a
  dim-index and broadcast-join on the index — fully distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sample_exact_k(df: DataFrame, k: int, seed: int = 42) -> DataFrame:
    """O1: uniform sample of exactly k rows, seeded.

    orderBy(rand(seed)).limit(k) plans as TakeOrderedAndProject — each
    partition keeps a k-heap; no global sort materializes.
    """
    return df.orderBy(F.rand(seed)).limit(k)


def sample_fraction(df: DataFrame, fraction: float) -> DataFrame:
    """Scale path: Bernoulli sample (seed 42), zero shuffle."""
    return df.sample(fraction=fraction, seed=42)


def dense_index(df: DataFrame, key: str) -> DataFrame:
    """Deterministic dense 0..n-1 index ``_idx`` = rank of ``key`` — with NO
    single-reducer stage.

    Range-partition on the key (partition p's keys all sort before
    partition p+1's), rank within each partition with a PARTITIONED
    window, then add per-partition offsets (prefix sums of partition
    counts — a #partitions-sized driver map, like AQE stats). The final
    index equals the global dense rank whatever the range boundaries
    are, so the result is stable under any input partitioning.
    """
    n_parts = max(df.rdd.getNumPartitions(), 1)
    ranged = df.repartitionByRange(n_parts, F.col(key)).withColumn(
        "_pid", F.spark_partition_id()
    )
    # persist is a CORRECTNESS pin here, not just perf: the offsets
    # collected below are keyed by _pid, so the returned plan must reuse
    # the exact partitioning that was counted (no unpersist escape hatch
    # by design; the input is dimension-sized by contract)
    ranged = ranged.persist()
    counts = dict(
        (r["_pid"], r["count"]) for r in ranged.groupBy("_pid").count().collect()
    )
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.coalesce(
        F.element_at(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
            F.col("_pid"),
        ),
        F.lit(0),
    )
    w = Window.partitionBy("_pid").orderBy(key)
    return ranged.withColumn(
        "_idx", (F.row_number().over(w) - 1 + off).cast("int")
    ).drop("_pid")


def random_fk_assignment(
    facts: DataFrame, dim: DataFrame, dim_key: str, seed: int = 42
) -> DataFrame:
    """O2/J3: attach one uniformly-sampled dim row to every fact row.

    The dim gets a dense 0..n-1 index via ``dense_index`` (partitioned
    window + offset map — no global window even though the dim is
    broadcast-small by contract); each fact row draws
    idx = floor(rand(seed)·n) and joins on it. The reference does this
    with a per-row pandas ``.sample(n=1)`` on the driver
    (``transactions_mock_data.py:64-66``) — this form is the same
    semantic with the dim broadcast and the draw inside codegen.
    """
    n = dim.count()
    indexed = dense_index(dim, dim_key)
    drawn = facts.withColumn("_idx", F.floor(F.rand(seed) * n).cast("int"))
    return drawn.join(F.broadcast(indexed), on="_idx", how="inner").drop("_idx")


def stratified_sample(df: DataFrame, strata_col: str, fractions: dict) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``): rebalance a skewed
    mixture — e.g. downsample an over-represented language while keeping
    the rest — without any shuffle (each row draws independently from its
    stratum's fraction). Seeded (42) → rerun-stable; zero driver
    involvement beyond the tiny fractions map."""
    return df.sampleBy(strata_col, fractions=fractions, seed=42)
