"""Connected components over a pair relation — dedup-cluster assignment.

The missing last step of every near-dup pipeline: pair lists (from exact
Jaccard, MinHash-LSH, SimHash, or embedding cosine) only say "a ~ b";
keeping one document per duplicate GROUP needs the transitive closure —
a ~ b ~ c is one cluster even if (a, c) was never emitted as a pair.

Spark-first design: iterative min-label propagation, all joins/aggs.

- label(n) starts as n; each round every node takes the min of its own
  label and its neighbors' labels; fixpoint = every node carries the
  component's min id (a deterministic, engine-independent cluster id).
- Rounds needed = graph diameter. Near-dup graphs are dense little
  cliques (diameter 1-2, from pairwise emitters), so 2-3 rounds close
  them; ``max_iter`` guards adversarial chains. (For graphs with long
  chains at 100 TB, the alternating small-star/large-star algorithm
  [Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14] converges in O(log n) rounds with the same join/agg
  primitives — this implementation keeps the simpler propagation loop
  because duplicate clusters have tiny diameters by construction.)
- The rounds run through :func:`iterate_to_fixpoint` (localCheckpoint
  per round); the driver only inspects an aggregated change COUNT per
  round (one scalar), never row data, and stops at the first 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def iterate_to_fixpoint(state, step, measure, rounds, done, stats=None):
    """The graph tier's one iteration policy: run ``rounds`` rounds of
    ``state = step(state)`` followed by ``stats.append(measure(state))``
    and return ``(state, stats)``.

    ``step`` ends in ``localCheckpoint`` — iterative self-joins
    otherwise double the logical plan per round and choke the optimizer
    long before the data is the bottleneck. ``measure`` is the round's
    one bounded driver action (a count or a 1-row aggregate over the
    checkpointed rows), which buys the FIXPOINT SHORT-CIRCUIT: once
    ``done(stats)`` holds, the next round would reproduce the same state,
    so every remaining round appends ``stats[-1]`` and submits no Spark
    job. At 100 TB a loop then costs only as many distributed rounds as
    the data needs, while ``stats`` still has one entry per round — the
    value-for-value twin of an oracle that unrolls every round
    unconditionally. ``stats`` may be seeded (e.g. with the round-0
    count); ``done`` is only asked about a non-empty list."""
    stats = list(stats or ())
    for _ in range(rounds):
        if stats and done(stats):
            stats.append(stats[-1])
            continue
        state = step(state)
        stats.append(measure(state))
    return state, stats


def _bidirectional_edges(edges: DataFrame) -> DataFrame:
    """(u, v) with both orientations of every (id1, id2) edge, distinct,
    PERSISTED (callers unpersist when done). One pass over ``edges`` via explode —
    callers hand in raw pair PLANS, often an expensive near-dup join,
    and a union-of-two-selects form executed that plan twice before the
    persist could help. Shared by connected_components and pagerank so
    the edge-ingestion contract has one home."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("id1").alias("u"), F.col("id2").alias("v")),
                    F.struct(F.col("id2").alias("u"), F.col("id1").alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .distinct()
        .persist()
    )


def connected_components(edges: DataFrame, max_iter: int = 15) -> DataFrame:
    """(node, label) for every node appearing in the (id1, id2)
    ``edges``; label = min
    node id reachable from it. Deterministic for any edge direction or
    partitioning."""
    if max_iter < 1:
        # zero rounds leave no change count to certify convergence with
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    bidir = _bidirectional_edges(edges)
    # initialization already performs round 1: label = min(self, neighbors)
    # — one aggregation, saving a full join+checkpoint+count cycle (pair
    # graphs from near-dup emitters are diameter ≤ 2 cliques, so most
    # runs then need just one confirming iteration)
    labels = (
        bidir.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("_min_nbr"))
        .select(
            "node",
            F.least(F.col("node"), F.col("_min_nbr")).alias("label"),
        )
        .localCheckpoint()
    )

    def propagate(labels: DataFrame) -> DataFrame:
        labels = labels.drop("_changed")
        nbr_min = (
            bidir.join(labels, bidir["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nbr_min"))
        )
        # carry the convergence flag INSIDE the checkpointed round
        # (labels only ever decrease, so changed ⇔ nbr_min < label):
        # the change count is then a shuffle-free scan of the cached
        # partitions instead of a second old⋈new join job per round
        return (
            labels.join(nbr_min, labels["node"] == nbr_min["u"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
                (F.coalesce("nbr_min", F.col("label")) < F.col("label")).alias(
                    "_changed"
                ),
            )
            .localCheckpoint()
        )

    labels, changes = iterate_to_fixpoint(
        labels,
        propagate,
        lambda labels: labels.filter(F.col("_changed")).count(),
        max_iter,
        done=lambda changes: changes[-1] == 0,
    )
    bidir.unpersist()
    if changes[-1] != 0:
        # silent truncation here would SPLIT true components (a path
        # graph longer than max_iter hops) and a downstream dedup would
        # keep duplicates — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changes[-1]} labels still changing) — raise max_iter (graph "
            "diameter exceeds the propagation budget)"
        )
    return labels.drop("_changed")


def dedup_cluster_assignment(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Every document → its duplicate-cluster id (min doc id in the
    connected component; singletons map to themselves) + cluster size.
    ``SELECT ... WHERE doc_id = cluster_id`` is then the canonical
    keep-one-per-cluster dedup."""
    labels = connected_components(pairs)
    assigned = docs.select(F.col(id_col).alias("doc_id")).join(
        labels, F.col("doc_id") == labels["node"], "left"
    ).select(
        "doc_id",
        F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
    )
    # cluster_size via partitioned window: one shuffle on cluster_id,
    # no second join (cluster count is O(docs) — not broadcastable)
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return assigned.withColumn(
        "cluster_size", F.count(F.lit(1)).over(w)
    ).select("doc_id", "cluster_id", "cluster_size")


def pagerank(edges: DataFrame) -> DataFrame:
    """PageRank over the UNDIRECTED graph of the (id1, id2) ``edges`` —
    damping 0.85, a fixed 5 iterations, no convergence test, so the
    result is a deterministic, engine-replayable function of the edge
    set (the oracle reruns the same recurrence in a recursive CTE).

    Undirected by construction (each edge contributes both ways): every
    node has degree ≥ 1, so there is no dangling-mass special case.
    r₀ = 1/N;  r_{t+1}(v) = (1−d)/N + d·Σ_{u∼v} r_t(u)/deg(u).

    Per round: one join of the rank vector onto the edge list + one
    aggregation by destination — both shuffles keyed on node id, the
    textbook MapReduce PageRank shape, linear per round at any scale.
    ``localCheckpoint`` per round keeps the iterated plan flat
    (same rule as connected_components above).
    """
    damping = 0.85
    bidir = _bidirectional_edges(edges)
    deg = bidir.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("u").alias("node"), "deg").localCheckpoint()
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty edge relation (e.g. a pair emitter found nothing on a
        # clean corpus): return the empty result instead of dividing by
        # zero — the same graceful-empty contract connected_components
        # already has
        bidir.unpersist()
        return nodes.select("node", "deg", F.lit(0.0).alias("rank"))
    base = (1.0 - damping) / n_nodes
    ranks = nodes.select(
        "node", "deg", F.lit(1.0 / n_nodes).alias("rank")
    ).localCheckpoint()
    for _ in range(5):
        contrib = (
            bidir.join(
                ranks.select(
                    F.col("node").alias("u"),
                    (F.col("rank") / F.col("deg")).alias("share"),
                ),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("share").alias("in_sum"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                "deg",
                (F.lit(base) + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .localCheckpoint()
        )
    bidir.unpersist()
    return ranks.select("node", "deg", "rank")
