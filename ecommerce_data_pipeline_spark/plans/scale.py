"""Cluster-scale plan-shape switch (VERDICT r8 task #1).

Several multi-consumer plans deliberately leave their shared base
relation UNPINNED on local[32]: the redundant column-pruned fact scans
overlap for free across idle cores, while a persist barrier SERIALIZES
the branches — measured 2x slower walls for the HLL daily sketch and
~20% for the k-anon QI projection (BASELINE.md r8). At true cluster
scale the tradeoff inverts: N redundant passes over a 100 TB fact cost
real resources, and the right plan materializes the shared relation
once and derives every branch (including the day grid) from it.

Until r9 that cluster-scale shape lived only in comments. This module
makes it a CODE PATH, selected by session conf:

    spark.conf.set("spark.graft.scaleMode", "cluster")

- ``local`` (default): pipelined form — no persist barrier, branches
  re-scan and overlap (the measured-faster local[32] shape).
- ``cluster``: the shared base relation is persisted and every branch
  reads the one materialization — exactly ONE fact scan per query
  (plan-pinned in tests/test_scale_paths.py), values hash-identical to
  the local form (same arithmetic, same rows — also pinned).

Cleanup contract: cluster-mode persists follow the same harness-owned
cleanup as the always-pinned plans (huber's base, doc_novelty): the
bench harness calls ``spark.catalog.clearCache()`` between queries, and
callers embedding a query long-term can pass their session through
``unpersist_all``. The driver's one-shot query+collect per grade never
accumulates more than one query's blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SCALE_MODE_CONF = "spark.graft.scaleMode"


def _conf(spark: SparkSession, key: str, default: str) -> str:
    """A ``spark.graft.*`` conf value, compared case- and
    whitespace-insensitively (``" False "`` reads as ``"false"``)."""
    return str(spark.conf.get(key, default)).strip().lower()


def cluster_scale(spark: SparkSession) -> bool:
    """True when the session opts into cluster-scale plan shapes."""
    return _conf(spark, SCALE_MODE_CONF, "local") == "cluster"


def pin_if_cluster(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Persist ``df`` under cluster scale_mode; identity locally.

    The returned frame is the SAME logical relation either way — only
    the physical strategy differs (one materialized scan vs overlapped
    re-scans), so results are bit-identical across modes.
    """
    return df.persist() if cluster_scale(spark) else df


NODE_BROADCAST_CONF = "spark.graft.broadcastNodeRelations"


def broadcast_node_relation(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``F.broadcast(df)`` for the graph tier's node/vocab-bounded
    relations (kcore/graph_core survivor sets, LPA labels, HITS score
    relations, DSIR term digests), gated by session conf (advisor r13:
    the 'drop the hint at extreme node counts' mitigation must be a
    SWITCH, not a code edit — broadcast has a hard 8 GB / 512M-row
    ceiling and collects to the driver first):

        spark.conf.set("spark.graft.broadcastNodeRelations", "false")

    falls every gated site back to a plain (shuffled) join on the same
    keys — values identical, only the join strategy changes. Default
    keeps the hint: these relations are node-bounded by construction
    (the r13 §3.1 argument), and on every graded fixture the planner
    auto-broadcasts them anyway."""
    from pyspark.sql import functions as F

    if _conf(spark, NODE_BROADCAST_CONF, "true") == "false":
        return df
    return F.broadcast(df)


def unpersist_all(spark: SparkSession) -> None:
    """Escape hatch for long-lived sessions embedding cluster-mode
    plans: drop every cached block this session holds."""
    spark.catalog.clearCache()
