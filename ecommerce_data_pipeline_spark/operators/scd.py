"""Slowly-changing-dimension (type 2) merge — versioned dimension history.

The reference's EP1 only ever inserts new keys (``dimension_tables_mock.
py:61-73``): attribute changes to existing products/customers are lost.
SCD2 is the warehouse-standard fix — keep every version with a validity
interval. This is the natural extension of the engine's dimension-refresh
path (``ingest.refresh_dimension``) for feeds that update attributes.

Plan shape: changed-row detection is one join keyed on the business key
(broadcast when the update batch is small — the common case), and
interval maintenance touches only the affected keys' current rows. No
window over the whole dimension, no full rewrite of history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_COLS = ("valid_from", "valid_to", "is_current")


def scd2_init(dim: DataFrame, as_of) -> DataFrame:
    """Bootstrap a versioned dimension from a plain snapshot."""
    return (
        dim.withColumn("valid_from", F.lit(as_of).cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )


def scd2_merge(history: DataFrame, updates: DataFrame, key: str, as_of) -> DataFrame:
    """Merge an update snapshot into SCD2 history.

    - brand-new keys → inserted as current versions
    - changed attributes → old version closed (valid_to = as_of,
      is_current = false), new version opened
    - unchanged rows and non-current history → untouched

    Returns the full new history DataFrame (caller persists it —
    on a real deployment this is a MERGE INTO against a transactional
    table format; the logic is identical).
    """
    attr_cols = [c for c in updates.columns if c != key and c not in META_COLS]
    ts = F.lit(as_of).cast("timestamp")

    current = history.filter(F.col("is_current"))
    closed = history.filter(~F.col("is_current"))

    # compare update rows against the current version of their key;
    # null-safe equality so NULL→value and value→NULL count as changes
    upd = updates.select(key, *attr_cols)
    cur_cmp = current.select(
        F.col(key), *[F.col(c).alias(f"_cur_{c}") for c in attr_cols]
    )
    unchanged_pred = F.lit(True)
    for c in attr_cols:
        unchanged_pred = unchanged_pred & F.col(c).eqNullSafe(F.col(f"_cur_{c}"))
    # a key with no current row joins to all-null _cur columns, which a
    # legitimately-all-NULL update row would mimic — detect "has a current
    # version" with an explicit marker instead of attribute nulls
    cur_keys = current.select(key).withColumn("_has_cur", F.lit(True))
    joined = upd.join(cur_cmp, key, "left").join(cur_keys, key, "left")
    changed_or_new = joined.filter(
        F.col("_has_cur").isNull() | ~unchanged_pred
    ).select(key, *attr_cols)

    new_versions = scd2_init(changed_or_new, as_of)

    # close the displaced current versions
    displaced_keys = changed_or_new.join(cur_keys.drop("_has_cur"), key, "left_semi")
    to_close = current.join(displaced_keys.select(key), key, "left_semi")
    still_open = current.join(displaced_keys.select(key), key, "left_anti")
    closed_now = to_close.withColumn("valid_to", ts).withColumn(
        "is_current", F.lit(False)
    )

    return closed.unionByName(closed_now).unionByName(still_open).unionByName(
        new_versions
    )


def cdc_compact(changelog: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    """Compact an ordered upsert/delete changelog to its final snapshot:
    last writer wins per key (ordered by ``order_cols``, which must be a
    unique tiebreak), and keys whose latest op is ``'D'`` disappear.
    Expects an ``op`` column of 'U'/'D'; all other columns pass through.

    One shuffle on the key, a partitioned latest-row pick, a filter —
    the merge-on-read compaction shape; the registered
    ``cdc_apply_snapshot`` query runs it against its oracle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        changelog.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & (F.col("op") == "U"))
        .drop("__rn")
    )


def scd2_as_of(history: DataFrame, as_of) -> DataFrame:
    """Point-in-time (time-travel) read of an SCD2 history: the version
    of each key whose validity interval covers ``as_of``
    (valid_from <= t < valid_to, open current versions included). A pure
    filter — partition/file pruning applies when history is stored
    partitioned by valid_from, so reconstructing ANY past state is a
    pruned scan, never a replay."""
    ts = F.lit(as_of).cast("timestamp")
    return history.filter(
        (F.col("valid_from") <= ts)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > ts))
    ).drop("valid_from", "valid_to", "is_current")
