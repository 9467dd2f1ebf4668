"""Graph and game-theoretic queries — the "graph/attribution" tier
split out of ``plans/analytics.py`` (VERDICT r9 task #4: pure move,
registration order preserved by importing this module immediately after
``analytics_series`` in ``plans/__init__``; no semantic change).

Contents (chronological, exactly as they lived in analytics.py):
Shapley multi-touch attribution, k-core peel certificate,
label-propagation communities, Wilson funnel intervals, degree
assortativity — plus the shared recurrent co-purchase edge relation
(one home per engine side, advisor r9).

Timestamp parity contract: see plans/analytics.py docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.graph import iterate_to_fixpoint
from ecommerce_data_pipeline_spark.plans._helpers import dec
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# Shapley-value multi-touch attribution (r9) — the game-theoretic member
# of the attribution tier (Shapley 1953; the marketing formulation of
# Dalessandro et al., "Causally motivated attribution for online
# advertising", ADKDD 2012): channels are players, the characteristic
# function v(S) is the total conversion value reachable using only
# channels in S, and each channel's credit is its exact Shapley value.
# The channel universe is small (|N| = k distinct non-purchase event
# types), so the 2^k coalition lattice is a METADATA-scale relation and
# the whole game solves with exact integer arithmetic: phi_i * k! is a
# BIGINT because every weight |S|!*(k-1-|S|)! and every marginal
# v(S+i)-v(S) is an integer (cents).


@register(
    "attribution_shapley_values",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
             value,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS journey
      FROM events
    ),
    ch AS (
      SELECT event_type AS channel FROM events
      WHERE event_type <> 'purchase' GROUP BY 1
    ),
    chi AS (
      SELECT c1.channel,
             CAST(CAST(1 AS BIGINT) << (COUNT(*) - 1) AS BIGINT) AS bit
      FROM ch c1 JOIN ch c2 ON c2.channel <= c1.channel
      GROUP BY c1.channel
    ),
    kk AS (SELECT CAST(COUNT(*) AS INT) AS k FROM ch),
    jm AS (
      SELECT e.user_id, e.journey,
             CAST(bit_or(chi.bit) AS BIGINT) AS mask
      FROM e JOIN chi ON e.event_type = chi.channel
      WHERE e.event_type <> 'purchase'
      GROUP BY 1, 2
    ),
    conv AS (
      SELECT CAST(CAST(p.value AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS val_cents,
             COALESCE(jm.mask, 0) AS mask
      FROM e p LEFT JOIN jm
        ON p.user_id = jm.user_id AND p.journey = jm.journey
      WHERE p.event_type = 'purchase'
    ),
    coal AS (
      SELECT mask, CAST(SUM(val_cents) AS BIGINT) AS v_cents,
             CAST(COUNT(*) AS BIGINT) AS n_j
      FROM conv GROUP BY mask
    ),
    subs AS (
      SELECT unnest(range(0, CAST(1 AS BIGINT) << k)) AS s, k FROM kk
    ),
    vs AS (
      SELECT subs.s, subs.k,
             CAST(COALESCE(SUM(CASE WHEN (coal.mask & subs.s) = coal.mask
                                    THEN coal.v_cents END), 0) AS BIGINT)
               AS v
      FROM subs CROSS JOIN coal
      GROUP BY 1, 2
    ),
    marg AS (
      SELECT chi.channel,
             factorial(bit_count(vs0.s))
               * factorial(vs0.k - 1 - bit_count(vs0.s))
               * (vs1.v - vs0.v) AS term
      FROM chi
      JOIN vs vs0 ON (vs0.s & chi.bit) = 0
      JOIN vs vs1 ON vs1.s = (vs0.s | chi.bit)
    ),
    phi AS (
      SELECT channel, CAST(SUM(term) AS BIGINT) AS phi_num
      FROM marg GROUP BY channel
    ),
    touched AS (
      SELECT chi.channel,
             CAST(COALESCE(SUM(CASE WHEN (coal.mask & chi.bit) <> 0
                                    THEN coal.n_j END), 0) AS BIGINT)
               AS touched_journeys
      FROM chi CROSS JOIN coal GROUP BY 1
    ),
    gv AS (
      SELECT CAST(MAX(CASE WHEN s = (CAST(1 AS BIGINT) << k) - 1
                           THEN v END) AS BIGINT) AS v_full,
             CAST(MAX(CASE WHEN s = 0 THEN v END) AS BIGINT) AS v_empty,
             CAST(MAX(k) AS INT) AS k
      FROM vs
    ),
    eff AS (SELECT CAST(SUM(phi_num) AS BIGINT) AS sum_phi FROM phi)
    SELECT phi.channel,
           touched.touched_journeys,
           CAST(phi.phi_num AS DOUBLE)
             / (CAST(factorial(gv.k) AS DOUBLE) * 100.0) AS shapley_value,
           CAST(gv.v_full - gv.v_empty AS DOUBLE) / 100.0
             AS attributable_value,
           CAST(eff.sum_phi
                - factorial(gv.k) * (gv.v_full - gv.v_empty) AS BIGINT)
             AS efficiency_gap_num
    FROM phi
    JOIN touched ON phi.channel = touched.channel
    CROSS JOIN gv CROSS JOIN eff
    """,
    tags=("extension", "analytics", "attribution"),
)
def attribution_shapley_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value attribution over the journey framing shared
    with the position/Markov queries (journeys segment at purchases):
    each converting journey contributes its purchase value (cents) to
    the coalition = the SET of distinct channels it touched, v(S) sums
    the journeys whose coalition is a subset of S, and
    phi_i = sum over S not containing i of |S|!(k-1-|S|)!/k! *
    (v(S+i) - v(S)). Touchless (direct) conversions live in mask 0 =
    the empty coalition; they appear in EVERY v(S) and cancel in every
    marginal, so Shapley distributes exactly v(N) - v(empty) across
    channels — pinned in-band by efficiency_gap_num, which both engines
    must agree is identically 0.

    Exactness: phi_i * k! is a pure BIGINT (integer weights x integer
    cent marginals; k <= 5 so k! <= 120 and the numerator stays ~1e13
    even at sf100); the published shapley_value performs ONE double
    division by the shared text CAST(factorial(k) AS DOUBLE) * 100.0.

    Scale shape (r14): the only fact-sized work is ONE journey-window
    pass (user_id shuffle) feeding ONE fused (user_id, journey) hash
    aggregate that computes the touch mask AND picks the closing
    purchase in the same pass (the aggregate reuses the window's
    hash(user_id) partitioning — no extra exchange, and the former
    jm⋈conv join is gone); conversions then aggregate to the <= 2^k-row
    coalition relation, localCheckpointed so the lattice algebra
    (subsets x coalitions cross joins, the vs0/vs1 self-joins, all
    broadcast, all <= 2^k * 2^k = 1024 pairs at k=5) replays over <= 32
    materialized rows with flat lineage instead of rescanning the fact
    (the ESD discipline). The channel list reads event_type off the raw
    events (never the window); channel indexing is a broadcast
    self-join on the <= k-row channel relation — no global window."""
    ev = load_table(spark, sf_dir, "events")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # r14 (guide §2.4 / §5): the windowed relation previously had THREE
    # consumers (ch, jm, conv) — unpinned, the user-keyed window subtree
    # executed three times per run. Two structural fixes: (a) the
    # channel list never needed the window (it reads only event_type) —
    # derive it from the RAW events;
    # (b) the touch-mask aggregate and the conversion pick fuse into ONE
    # (user_id, journey) aggregate (each journey's closing purchase
    # carries the SAME journey index as its touches — journey counts
    # strictly-preceding purchases), which also deletes the jm⋈conv
    # join. The window subtree now appears exactly once in the plan.
    e = ev.select(
        "user_id",
        "event_type",
        "value",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1)
            ).over(w_prev),
            F.lit(0),
        ).alias("journey"),
    )
    ch = (
        ev.filter(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("channel"))
        .distinct()
        .localCheckpoint()  # <= k rows; feeds chi (twice) and kk
    )
    c1, c2 = ch.alias("c1"), ch.alias("c2")
    chi = (
        c1.join(F.broadcast(c2), F.col("c2.channel") <= F.col("c1.channel"))
        .groupBy(F.col("c1.channel").alias("channel"))
        .agg(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), "
                   "CAST(count(1) AS INT) - 1) AS BIGINT)").alias("bit")
        )
        .localCheckpoint()  # <= k rows; feeds jm, marg, touched
    )
    kk = ch.agg(F.count(F.lit(1)).cast("int").alias("k"))
    is_purchase = F.col("event_type") == "purchase"
    grouped = (
        e.join(
            F.broadcast(chi),
            F.col("event_type") == F.col("channel"),
            "left",  # purchase rows carry no channel bit
        )
        .groupBy("user_id", "journey")  # reuses the window's hash(user_id)
        .agg(
            # bit_or skips NULLs; an all-purchase group yields NULL mask
            F.bit_or(F.when(~is_purchase, F.col("bit")))
            .cast("long")
            .alias("mask_raw"),
            F.sum(F.when(is_purchase, (dec("value") * 100).cast("long")))
            .alias("val_cents"),
            F.max(is_purchase.cast("int")).alias("has_purchase"),
        )
    )
    conv = grouped.filter(F.col("has_purchase") == 1).select(
        "val_cents",
        F.coalesce(F.col("mask_raw"), F.lit(0).cast("long")).alias("mask"),
    )
    coal = (
        conv.groupBy("mask")
        .agg(
            F.sum("val_cents").cast("long").alias("v_cents"),
            F.count(F.lit(1)).cast("long").alias("n_j"),
        )
        .localCheckpoint()  # <= 2^k rows; ends the fact lineage
    )
    subs = kk.select(
        "k",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.expr("shiftleft(CAST(1 AS BIGINT), k) - 1"),
            )
        ).alias("s"),
    )
    vs = (
        subs.crossJoin(F.broadcast(coal))
        .groupBy("s", "k")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.expr("(mask & s) = mask"), F.col("v_cents")
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("v")
        )
        .localCheckpoint()  # <= 2^k rows; feeds vs0, vs1, gv
    )
    vs0 = vs.select(
        F.col("s").alias("s0"), F.col("k").alias("k0"), F.col("v").alias("v0")
    )
    vs1 = vs.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    marg = (
        chi.join(F.broadcast(vs0), F.expr("(s0 & bit) = 0"))
        .join(F.broadcast(vs1), F.expr("s1 = (s0 | bit)"))
        .select(
            "channel",
            F.expr(
                "factorial(bit_count(s0)) "
                "* factorial(k0 - 1 - bit_count(s0)) * (v1 - v0)"
            ).alias("term"),
        )
    )
    phi = marg.groupBy("channel").agg(
        F.sum("term").cast("long").alias("phi_num")
    )
    touched = (
        chi.crossJoin(F.broadcast(coal))
        .groupBy("channel")
        .agg(
            F.coalesce(
                F.sum(F.when(F.expr("(mask & bit) <> 0"), F.col("n_j"))),
                F.lit(0),
            )
            .cast("long")
            .alias("touched_journeys")
        )
    )
    gv = vs.agg(
        F.max(
            F.when(
                F.expr("s = shiftleft(CAST(1 AS BIGINT), k) - 1"),
                F.col("v"),
            )
        )
        .cast("long")
        .alias("v_full"),
        F.max(F.when(F.col("s") == 0, F.col("v"))).cast("long").alias(
            "v_empty"
        ),
        F.max("k").cast("int").alias("k"),
    )
    eff = phi.agg(F.sum("phi_num").cast("long").alias("sum_phi"))
    return (
        phi.join(touched, "channel")
        .crossJoin(F.broadcast(gv))
        .crossJoin(F.broadcast(eff))
        .select(
            "channel",
            "touched_journeys",
            (
                F.col("phi_num").cast("double")
                / (F.expr("CAST(factorial(k) AS DOUBLE)") * F.lit(100.0))
            ).alias("shapley_value"),
            (
                (F.col("v_full") - F.col("v_empty")).cast("double")
                / F.lit(100.0)
            ).alias("attributable_value"),
            F.expr(
                "CAST(sum_phi - factorial(k) * (v_full - v_empty) AS BIGINT)"
            ).alias("efficiency_gap_num"),
        )
    )


# ---------------------------------------------------------------------------
# k-core decomposition certificate (r9) — the iterative-graph member of
# the graph tier next to copurchase_graph_stats (one-shot topology) and
# supplier_customer_pagerank (fixed-iteration value propagation): the
# k-core is the maximal subgraph where every node keeps degree >= k
# after repeatedly peeling low-degree nodes (Seidman 1983, "Network
# structure and minimum degree") — the standard density filter before
# graph-feature extraction. The peel is unrolled to a FIXED round count
# (the ESD/Markov precedent: data-independent plan shape on both
# engines) and the fixpoint is CERTIFIED in-band: the last two rounds'
# active counts must agree for converged=true, so "8 rounds was enough"
# is a graded value, not an assumption.

_KCORE_K = 3
_KCORE_MIN_SUPPORT = 2  # recurrent co-purchase: pairs bought together >= twice
_KCORE_ROUNDS = 12


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE home for the recurrent co-purchase edge relation (advisor r9:
    the construction was hand-copied six times across kcore / LPA /
    assortativity and their oracles — a support-threshold or tie-break
    edit to one copy would silently desync the graph family). Edges =
    unordered part pairs (u < v) bought together in >= _KCORE_MIN_SUPPORT
    distinct orders. Basket-bounded self-join (per-order pairs =
    C(basket, 2), never corpus^2 — the copurchase_graph_stats contract).
    Returned PERSISTED: every caller iterates or multi-consumes it;
    cleanup is harness-owned (the jaccard_pairs contract)."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk")
    ).distinct()
    a, b = basket.alias("a"), basket.alias("b")
    return (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .agg(F.count(F.lit(1)).alias("_sup"))
        .filter(F.col("_sup") >= _KCORE_MIN_SUPPORT)
        .select("u", "v")
        .persist()
    )


def _copurchase_edges_sql() -> list[str]:
    """The DuckDB twin of :func:`_copurchase_edges`: the two CTE blocks
    (basket, edges) every graph-family oracle opens with — textually
    identical to the pre-factoring copies, so existing oracle hashes are
    unchanged."""
    return [
        """basket AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem
    )""",
        f"""edges AS MATERIALIZED (
      SELECT a.pk AS u, b.pk AS v
      FROM basket a JOIN basket b ON a.okey = b.okey AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= {_KCORE_MIN_SUPPORT}
    )""",
    ]


def _copurchase_nodes(edges: DataFrame) -> DataFrame:
    """The distinct endpoints of the co-purchase edges — every node of
    the graph (callers localCheckpoint it as their round-0 state)."""
    return (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )


def _settled(counts: list) -> bool:
    """The peels' ``done`` rule: the last two survivor counts agree.
    Each round's survivor set is a subset of the previous one, so equal
    COUNTS imply equal SETS — every later round is provably identical."""
    return len(counts) >= 2 and counts[-1] == counts[-2]


def _peel(
    edges: DataFrame, active: DataFrame, k: int, rounds: int, n_active: int
) -> tuple[DataFrame, list]:
    """``rounds`` k-core peel rounds from the survivor set ``active``
    (``n_active`` nodes): restrict the edges to surviving endpoints,
    recount degrees, keep nodes with degree >= k. Returns the final
    survivor set and the survivor counts of rounds 0..rounds."""

    def peel_round(active: DataFrame) -> DataFrame:
        # survivor sets are node-bounded (the HITS score-relation
        # argument) — BROADCAST them into both semi-joins so a peel
        # round shuffles only the degree groupBy, not the edge relation
        # twice (r13: 3 exchanges/round -> 1).
        bact = F.broadcast(active)
        e_act = edges.join(
            bact, edges["u"] == active["node"], "left_semi"
        ).join(bact, F.col("v") == active["node"], "left_semi")
        deg = (
            e_act.select(F.col("u").alias("node"))
            .unionAll(e_act.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        return deg.filter(F.col("deg") >= k).select("node").localCheckpoint()

    return iterate_to_fixpoint(
        active, peel_round, lambda a: a.count(), rounds, _settled, [n_active]
    )


def _peel_ctes(prefix: str, r: int, k: int) -> list[str]:
    """The DuckDB twin of one :func:`_peel` round: degrees ``{prefix}d{r}``
    inside the survivor set ``{prefix}v{r-1}``, survivors ``{prefix}v{r}``."""
    p = r - 1
    return [
        f"""{prefix}d{r} AS MATERIALIZED (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT e.u AS node FROM edges e
        JOIN {prefix}v{p} x ON e.u = x.node JOIN {prefix}v{p} y ON e.v = y.node
        UNION ALL
        SELECT e.v AS node FROM edges e
        JOIN {prefix}v{p} x ON e.u = x.node JOIN {prefix}v{p} y ON e.v = y.node
      ) GROUP BY node
    )""",
        f"{prefix}v{r} AS MATERIALIZED "
        f"(SELECT node FROM {prefix}d{r} WHERE deg >= {k})",
    ]


def _count_certificate_ctes(rel: str, rounds: int, size_col: str) -> list[str]:
    """The peel certificates' tail: ``per_round`` (the size of
    ``{rel}0..{rel}{rounds}`` as round_i, n_active) and ``conv`` (last
    two sizes equal, and the final size as ``size_col``)."""
    selects = [
        f"SELECT CAST({r} AS INT) AS round_i,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM {rel}{r}) AS n_active"
        for r in range(rounds + 1)
    ]
    last, prev = rounds, rounds - 1
    return [
        "per_round AS (" + "\n      UNION ALL\n      ".join(selects) + ")",
        f"""conv AS (
      SELECT (SELECT COUNT(*) FROM {rel}{last}) = (SELECT COUNT(*) FROM {rel}{prev})
        AS converged,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM {rel}{last}) AS {size_col}
    )""",
    ]


def _kcore_sql() -> str:
    ctes = [
        *_copurchase_edges_sql(),
        """v0 AS MATERIALIZED (
      SELECT u AS node FROM edges UNION SELECT v AS node FROM edges
    )""",
        """base AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v0) AS n_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges
    )""",
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes += _peel_ctes("", r, _KCORE_K)
    ctes += _count_certificate_ctes("v", _KCORE_ROUNDS, "n_in_core")
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT per_round.round_i, per_round.n_active,
           base.n_nodes, base.n_edges,
           CAST({_KCORE_K} AS INT) AS core_k,
           conv.n_in_core, conv.converged
    FROM per_round CROSS JOIN base CROSS JOIN conv
    """
    )


@register(
    "kcore_peel_certificate",
    oracle=_kcore_sql(),
    tags=("extension", "graph", "iterative"),
)
def kcore_peel_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the RECURRENT co-purchase graph (edges = part pairs
    bought together in >= 2 distinct orders — the support threshold that
    strips one-off basket noise, leaving a graph a peel can actually
    bite: 1880 -> 935 nodes at sf0.01) by unrolled peeling: 12 rounds of
    (restrict edges to surviving endpoints -> recount degrees -> keep
    nodes with degree >= 3), emitting the active-node count after every
    round plus the convergence certificate (last two counts equal;
    since each round's survivor set is a subset of the previous one,
    equal COUNTS imply equal SETS, so converged=true proves the true
    k-core was reached inside the unroll budget on both engines).

    Exactness: pure integer set algebra — degrees, counts, subset
    filters; no floats anywhere.

    Scale shape: the edge list (basket-bounded self-join, the
    copurchase_graph_stats contract: per-order pairs = basket choose 2,
    never corpus squared) is persisted ONCE and every round consumes
    the one materialization via two left_semi joins. The rounds are
    :func:`_peel` on ``iterate_to_fixpoint`` (localCheckpointed
    survivor sets, one survivor count per round), done once
    V_r == V_{r-1} (two equal counts)."""
    # persisted by the helper: consumed by every peel round + the edge count
    edges = _copurchase_edges(spark, sf_dir)
    nodes = _copurchase_nodes(edges).localCheckpoint()
    base = (
        nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .crossJoin(
            F.broadcast(
                edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
            )
        )
    )
    _, counts = _peel(edges, nodes, _KCORE_K, _KCORE_ROUNDS, nodes.count())
    rounds_df = spark.createDataFrame(
        [(i, int(c)) for i, c in enumerate(counts)],
        "round_i int, n_active long",
    )
    return rounds_df.crossJoin(F.broadcast(base)).select(
        "round_i",
        "n_active",
        "n_nodes",
        "n_edges",
        F.lit(_KCORE_K).cast("int").alias("core_k"),
        F.lit(int(counts[-1])).cast("long").alias("n_in_core"),
        F.lit(_settled(counts)).alias("converged"),
    )


# ---------------------------------------------------------------------------
# Label-propagation community detection (r9) — the community member of
# the graph tier (Raghavan/Albert/Kumara 2007), in the DETERMINISTIC
# self-inclusive synchronous form: every node votes its own current
# label alongside its neighbors' (the damping that kills sync-LPA's
# bipartite flip-flop — probed: plain sync oscillates forever on this
# graph, self-inclusive reaches changed=0 by round 7 at sf0.01), ties
# broken by smallest label, so every round is a pure function of the
# previous labeling and both engines replay it bit-for-bit.

_LPA_ROUNDS = 8


def _lpa_label_ctes() -> list[str]:
    """The shared CTE chain computing the LPA labelings l0..l{ROUNDS}
    over the co-purchase edges — consumed by the LPA certificate oracle
    AND the modularity oracle (one home per engine side, the
    _copurchase_edges discipline)."""
    ctes = [
        *_copurchase_edges_sql(),
        """l0 AS MATERIALIZED (
      SELECT node, node AS label FROM (
        SELECT u AS node FROM edges UNION SELECT v AS node FROM edges
      )
    )""",
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        p = r - 1
        ctes.append(
            f"""l{r} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM (
          SELECT node, label, COUNT(*) AS cnt FROM (
            SELECT e.u AS node, l{p}.label
            FROM edges e JOIN l{p} ON e.v = l{p}.node
            UNION ALL
            SELECT e.v AS node, l{p}.label
            FROM edges e JOIN l{p} ON e.u = l{p}.node
            UNION ALL
            SELECT node, label FROM l{p}
          ) GROUP BY node, label
        )
      ) WHERE rn = 1
    )"""
        )
    return ctes


def _lpa_sql() -> str:
    ctes = [
        *_lpa_label_ctes(),
        """base AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM l0) AS n_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges
    )""",
    ]
    selects = []
    for r in range(1, _LPA_ROUNDS + 1):
        p = r - 1
        selects.append(
            f"""SELECT CAST({r} AS INT) AS round_i,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM l{r} j
              JOIN l{p} o ON j.node = o.node
              WHERE j.label <> o.label) AS n_changed,
             (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM l{r})
               AS n_communities,
             (SELECT CAST(MAX(c) AS BIGINT)
              FROM (SELECT COUNT(*) AS c FROM l{r} GROUP BY label))
               AS biggest_community"""
        )
    ctes.append(
        "per_round AS (" + "\n      UNION ALL\n      ".join(selects) + ")"
    )
    last = _LPA_ROUNDS
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT per_round.round_i, per_round.n_changed,
           per_round.n_communities, per_round.biggest_community,
           base.n_nodes, base.n_edges,
           (SELECT n_changed FROM per_round WHERE round_i = {last}) = 0
             AS converged
    FROM per_round CROSS JOIN base
    """
    )


def _lpa_vote(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One self-inclusive synchronous LPA vote round (shared by the LPA
    certificate and the modularity query): count neighbor labels + own
    label, adopt the most frequent with smallest-label tiebreak.
    Returns the new labeling WITH the previous label carried —
    (node, label, old_label) — localCheckpointed (the iterative-kit
    discipline), so callers read the per-round change count off the
    materialized relation instead of paying a separate join job. Only
    node and label of ``labels`` are read, so the previous round's
    output feeds the next round as it is.

    r13 optimization (guide §2.4/§3.1), results bit-identical:
    - the label relation is node-bounded (the HITS score-relation
      argument), so it BROADCASTS into the two edge joins — the edge
      relation is no longer shuffled twice per round;
    - the argmax is min(struct(-cnt, label)) — one hash aggregate —
      instead of a per-node row_number window, which paid a second
      full shuffle (groupBy keyed (node, label), window keyed (node))
      plus a sort. Lexicographic struct-min picks the same winner as
      (cnt DESC, label ASC): largest count, smallest label on ties.
    """
    votes = (
        edges.join(
            F.broadcast(
                labels.select(F.col("node").alias("v"), F.col("label"))
            ),
            "v",
        )
        .select(F.col("u").alias("node"), "label")
        .unionAll(
            edges.join(
                F.broadcast(
                    labels.select(F.col("node").alias("u"), F.col("label"))
                ),
                "u",
            ).select(F.col("v").alias("node"), "label")
        )
        .unionAll(labels.select("node", "label"))
    )
    picked = (
        votes.groupBy("node", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("node")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("label").alias("label"),
                )
            ).alias("_w")
        )
        .select("node", F.col("_w.label").alias("label"))
    )
    return picked.join(
        F.broadcast(
            labels.select("node", F.col("label").alias("old_label"))
        ),
        "node",
    ).localCheckpoint()


@register(
    "label_propagation_communities",
    oracle=_lpa_sql(),
    tags=("extension", "graph", "iterative"),
)
def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic self-inclusive synchronous LPA over the recurrent
    co-purchase graph (the kcore edge relation): 8 unrolled rounds of
    (count neighbor labels + own label -> adopt the most frequent,
    smallest label on ties), emitting per round the label-change count,
    the community count and the largest community size, plus the
    fixpoint certificate (round-8 changes == 0; changed=0 implies every
    later round is identical, so converged=true proves the final
    communities are THE fixpoint on both engines).

    Exactness: pure integer voting — counts, min-label ties; no floats.

    Scale shape: the support-thresholded edge list is persisted once
    (basket-bounded — the copurchase contract); each round is two
    node-keyed shuffles (vote scatter + argmax window partitioned BY
    NODE, never global) over the localCheckpointed labeling. The rounds
    run on ``iterate_to_fixpoint`` with one 1-row stats aggregate per
    round, done once a round changes no label."""
    # persisted by the helper: consumed by every vote round + the edge count
    edges = _copurchase_edges(spark, sf_dir)
    labels = (
        _copurchase_nodes(edges)
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    n_nodes = labels.count()
    n_edges = edges.count()

    def vote_stats(new_labels: DataFrame) -> tuple[int, int, int]:
        # ONE driver action per executed round (r13): the vote carries
        # old_label on the checkpointed relation, so change count and
        # community stats fold into a single two-level aggregate over
        # materialized rows — previously a join job + a stats job.
        row = (
            new_labels.groupBy("label")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.sum(
                    F.when(
                        F.col("label") != F.col("old_label"), 1
                    ).otherwise(0)
                ).alias("chg"),
            )
            .agg(
                F.count(F.lit(1)).alias("nc"),
                F.max("c").alias("big"),
                F.sum("chg").alias("changed"),
            )
            .first()
        )
        return int(row["changed"]), int(row["nc"]), int(row["big"])

    # (changed, n_comm, biggest) per round; done once a round changed nothing
    _, stats = iterate_to_fixpoint(
        labels,
        lambda labels: _lpa_vote(edges, labels),
        vote_stats,
        _LPA_ROUNDS,
        done=lambda stats: stats[-1][0] == 0,
    )
    converged = stats[-1][0] == 0
    rounds_df = spark.createDataFrame(
        [(r, *round_stats) for r, round_stats in enumerate(stats, start=1)],
        "round_i int, n_changed long, n_communities long,"
        " biggest_community long",
    )
    return rounds_df.select(
        "round_i",
        "n_changed",
        "n_communities",
        "biggest_community",
        F.lit(int(n_nodes)).cast("long").alias("n_nodes"),
        F.lit(int(n_edges)).cast("long").alias("n_edges"),
        F.lit(bool(converged)).alias("converged"),
    )


# ---------------------------------------------------------------------------
# Wilson score intervals for the funnel (r9) — the uncertainty rung of
# the funnel tier: event_funnel_conversion publishes point rates; the
# Wilson interval (Wilson 1927) is the binomial CI that stays inside
# [0,1] and behaves at small n / extreme p, which is exactly the deep
# end of a funnel. Closed-form in +,-,*,/,sqrt over exact counts, so
# the shared-text discipline gives bit-identical bounds cross-engine.

_WILSON_Z = 1.959963984540054  # Phi^-1(0.975), baked
_WILSON_Z2 = _WILSON_Z * _WILSON_Z


def _wilson_sql(lo: bool) -> str:
    """Shared-text Wilson bound over columns k (successes) and n
    (trials) — ONE textual home per engine side."""
    z = f"CAST({_WILSON_Z!r} AS DOUBLE)"
    z2 = f"CAST({_WILSON_Z2!r} AS DOUBLE)"
    ph = "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
    nn = "CAST(n AS DOUBLE)"
    sign = "-" if lo else "+"
    return (
        f"({ph} + {z2} / (2.0 * {nn}) {sign} {z} * "
        f"sqrt({ph} * (1.0 - {ph}) / {nn}"
        f" + {z2} / (4.0 * {nn} * {nn})))"
        f" / (1.0 + {z2} / {nn})"
    )


@register(
    "wilson_interval_funnel",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    v AS (
      SELECT user_id, MIN(ts) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    ),
    counts AS (
      SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM e)
               AS n_users,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_v,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_c,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_p
    ),
    steps AS (
      SELECT 'view_of_users' AS step, n_users AS n, n_v AS k FROM counts
      UNION ALL
      SELECT 'click_after_view', n_v, n_c FROM counts
      UNION ALL
      SELECT 'purchase_after_click', n_c, n_p FROM counts
    )
    SELECT step, n AS n_trials, k AS n_successes,
           CASE WHEN n > 0
                THEN round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6)
           END AS rate,
           CASE WHEN n > 0 THEN round({_wilson_sql(True)}, 6)
           END AS wilson_lo,
           CASE WHEN n > 0 THEN round({_wilson_sql(False)}, 6)
           END AS wilson_hi
    FROM steps
    """,
    tags=("extension", "analytics", "events", "statistics"),
)
def wilson_interval_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score intervals for every step of the ordered
    view->click->purchase funnel (the event_funnel_conversion framing,
    counts shared verbatim): per step, trials = users completing the
    previous stage, successes = users completing this one, and the
    interval from the closed Wilson form over those exact integers —
    one shared-text expression per bound (sqrt and the four basic ops,
    all exactly-rounded IEEE), rounded 6dp on both engines; empty
    denominators publish NULL identically (the huber guard).

    Scale shape: identical to event_funnel_conversion — three user-
    keyed hash aggregates on one shuffled key, then 3-row scalar
    algebra."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .persist()
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .persist()
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = (
        e.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .crossJoin(
            F.broadcast(v.agg(F.count(F.lit(1)).cast("long").alias("n_v")))
        )
        .crossJoin(
            F.broadcast(c.agg(F.count(F.lit(1)).cast("long").alias("n_c")))
        )
        .crossJoin(
            F.broadcast(p.agg(F.count(F.lit(1)).cast("long").alias("n_p")))
        )
        .localCheckpoint()  # 1 row; feeds the three step selects
    )
    steps = (
        counts.select(
            F.lit("view_of_users").alias("step"),
            F.col("n_users").alias("n"),
            F.col("n_v").alias("k"),
        )
        .unionByName(
            counts.select(
                F.lit("click_after_view").alias("step"),
                F.col("n_v").alias("n"),
                F.col("n_c").alias("k"),
            )
        )
        .unionByName(
            counts.select(
                F.lit("purchase_after_click").alias("step"),
                F.col("n_c").alias("n"),
                F.col("n_p").alias("k"),
            )
        )
    )
    guard = F.col("n") > 0
    return steps.select(
        "step",
        F.col("n").alias("n_trials"),
        F.col("k").alias("n_successes"),
        F.when(
            guard,
            F.round(F.col("k").cast("double") / F.col("n").cast("double"), 6),
        ).alias("rate"),
        F.when(guard, F.round(F.expr(_wilson_sql(True)), 6)).alias(
            "wilson_lo"
        ),
        F.when(guard, F.round(F.expr(_wilson_sql(False)), 6)).alias(
            "wilson_hi"
        ),
    )


# ---------------------------------------------------------------------------
# Degree assortativity (r9) — the mixing-pattern member of the graph
# tier (Newman 2002): Pearson correlation of endpoint degrees over the
# edge list. Positive = hubs attach to hubs (social networks), negative
# = hub-and-spoke (technological/catalog graphs) — the one-number
# summary of which scaling regime the co-purchase graph lives in.


_COPURCHASE_CTES = ",\n    ".join(_copurchase_edges_sql())


@register(
    "degree_assortativity",
    oracle=f"""
    WITH {_COPURCHASE_CTES},
    deg AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
      ) GROUP BY node
    ),
    pairs AS (
      SELECT du.d AS x, dv.d AS y
      FROM edges e JOIN deg du ON e.u = du.node
      JOIN deg dv ON e.v = dv.node
      UNION ALL
      SELECT dv.d, du.d
      FROM edges e JOIN deg du ON e.u = du.node
      JOIN deg dv ON e.v = dv.node
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs
    ),
    gstats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(MAX(d) AS BIGINT) AS max_degree
      FROM deg
    )
    SELECT gstats.n_nodes,
           CAST(mom.m / 2 AS BIGINT) AS n_edges,
           gstats.max_degree,
           round(CAST(mom.sx AS DOUBLE) / CAST(mom.m AS DOUBLE), 4)
             AS mean_edge_degree,
           CASE WHEN mom.m * mom.sxx - mom.sx * mom.sx > 0
                THEN round(CAST(mom.m * mom.sxy - mom.sx * mom.sx
                                AS DOUBLE)
                           / CAST(mom.m * mom.sxx - mom.sx * mom.sx
                                  AS DOUBLE), 6)
           END AS assortativity_r
    FROM mom CROSS JOIN gstats
    """,
    tags=("extension", "graph"),
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the recurrent co-purchase graph
    (the kcore/LPA edge relation): every edge contributes BOTH ordered
    endpoint-degree pairs, so the x and y marginals coincide and
    Pearson r collapses to (M*Sxy - Sx^2) / (M*Sxx - Sx^2) over four
    exact BIGINT moments with ONE final division (zero-variance guard:
    a regular graph publishes NULL identically on both engines —
    the huber discipline).

    Magnitudes: M*Sxy <= 2E * (2E)^2 per the degree-sum bound — ~8e13
    at sf0.1's 3.4k recurrent edges, BIGINT-safe through ~sf100;
    beyond, recentre degrees by their mean (the huber bound note).

    Scale shape: the basket-bounded edge list is persisted (three
    consumers: the degree union x2 and the pair join), degrees are one
    hash aggregate, and the pair relation is two broadcast-degree
    joins — no windows, no iteration."""
    # persisted by the helper: degree union (2x) + the pair join
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .persist()  # du + dv sides and the node stats
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("xu"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("xv"))
    joined = edges.join(du, "u").join(dv, "v")
    pairs = joined.select(
        F.col("xu").alias("x"), F.col("xv").alias("y")
    ).unionAll(joined.select(F.col("xv").alias("x"), F.col("xu").alias("y")))
    mom = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    gstats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.max("d").cast("long").alias("max_degree"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den_i = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return mom.crossJoin(F.broadcast(gstats)).select(
        "n_nodes",
        F.expr("CAST(m div 2 AS BIGINT)").alias("n_edges"),
        "max_degree",
        F.round(
            F.col("sx").cast("double") / F.col("m").cast("double"), 4
        ).alias("mean_edge_degree"),
        F.when(den_i > 0, F.round(num / den_i.cast("double"), 6)).alias(
            "assortativity_r"
        ),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (r10) — the directed-bipartite member of the
# graph tier (Kleinberg 1999, "Authoritative sources in a hyperlinked
# environment"): power iteration of a(v) = sum of h over in-edges,
# h(u) = sum of a over out-edges, each normalized by the L2 norm, on
# the supplier->customer trade graph (the directed twin of
# supplier_customer_pagerank's undirected walk). Cross-engine
# determinism per the huber/kcore discipline: scores are re-quantized
# to an integer 1e-6 grid after every normalization, so each round is
# (exact BIGINT sums) -> (one sqrt + one division in DOUBLE from exact
# integers) -> (round back to the grid) and both engines walk the same
# integer lattice — float drift resets to zero every round.

_HITS_ROUNDS = 3  # r11: shaved from 4 — see the convergence note in the docstring
_HITS_GRID = 1_000_000  # quantized score unit (micro-scores)


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE home for the directed supplier→customer trade edge relation
    (distinct pairs through orders) — shared by HITS and the butterfly
    census (the _copurchase_edges one-helper-per-engine-side
    discipline). Returned PERSISTED: every caller iterates or
    multi-consumes it."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
        .persist()
    )


def _trade_edges_sql() -> str:
    """DuckDB twin of :func:`_trade_edges` — textually identical to the
    pre-factoring HITS CTE, so the existing oracle hash is unchanged."""
    return """e0 AS MATERIALIZED (
      SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )"""


def _hits_sql() -> str:
    ctes = [
        _trade_edges_sql(),
        f"""h0 AS MATERIALIZED (
      SELECT node, CAST({_HITS_GRID} AS BIGINT) AS sc
      FROM (SELECT DISTINCT s AS node FROM e0)
    )""",
    ]
    for r in range(1, _HITS_ROUNDS + 1):
        p = r - 1
        ctes.append(
            f"""a{r}_raw AS MATERIALIZED (
      SELECT e0.c AS node, CAST(SUM(h.sc) AS BIGINT) AS raw
      FROM e0 JOIN h{p} h ON e0.s = h.node GROUP BY e0.c
    )"""
        )
        ctes.append(
            f"""a{r}_n AS (
      SELECT sqrt(CAST(SUM(CAST(raw AS HUGEINT) * raw) AS DOUBLE)) AS nrm
      FROM a{r}_raw
    )"""
        )
        ctes.append(
            f"""a{r} AS MATERIALIZED (
      SELECT node,
             CAST(round(CAST(raw AS DOUBLE) * {float(_HITS_GRID)!r}
                        / (SELECT nrm FROM a{r}_n)) AS BIGINT) AS sc
      FROM a{r}_raw
    )"""
        )
        ctes.append(
            f"""h{r}_raw AS MATERIALIZED (
      SELECT e0.s AS node, CAST(SUM(a.sc) AS BIGINT) AS raw
      FROM e0 JOIN a{r} a ON e0.c = a.node GROUP BY e0.s
    )"""
        )
        ctes.append(
            f"""h{r}_n AS (
      SELECT sqrt(CAST(SUM(CAST(raw AS HUGEINT) * raw) AS DOUBLE)) AS nrm
      FROM h{r}_raw
    )"""
        )
        ctes.append(
            f"""h{r} AS MATERIALIZED (
      SELECT node,
             CAST(round(CAST(raw AS DOUBLE) * {float(_HITS_GRID)!r}
                        / (SELECT nrm FROM h{r}_n)) AS BIGINT) AS sc
      FROM h{r}_raw
    )"""
        )
    last = _HITS_ROUNDS
    ctes.append(
        """deg_s AS (
      SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM e0 GROUP BY s
    )"""
    )
    ctes.append(
        """deg_c AS (
      SELECT c AS node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM e0 GROUP BY c
    )"""
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT 'hub' AS role, CAST(h.node AS BIGINT) AS node,
           h.sc AS score_q, d.degree
    FROM h{last} h JOIN deg_s d ON h.node = d.node
    UNION ALL
    SELECT 'authority' AS role, CAST(a.node AS BIGINT) AS node,
           a.sc AS score_q, d.degree
    FROM a{last} a JOIN deg_c d ON a.node = d.node
    """
    )


@register(
    "hits_hub_authority",
    oracle=_hits_sql(),
    tags=("extension", "graph", "iterative"),
)
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores over the directed supplier→customer
    trade graph (edges = distinct (supplier, customer) pairs through
    orders — the bipartite twin of supplier_customer_pagerank): 3
    unrolled power-iteration rounds of (authority = Σ hub over
    in-edges → L2-normalize → quantize) then (hub = Σ authority over
    out-edges → L2-normalize → quantize), emitting every node's final
    micro-score plus its trade degree.

    Exactness (the huber re-quantization discipline): score sums are
    exact BIGINT; the squared-sum for the L2 norm accumulates exactly
    (HUGEINT in DuckDB, DECIMAL(38,0) in Spark — identical integers);
    the ONLY float ops per round are one sqrt and one division from
    those exact integers with a pinned expression shape, and the result
    is immediately rounded back to the 1e-6 integer grid, so both
    engines walk the same lattice and drift resets every round.
    Magnitudes: quantized scores ≤ 1e6, raw sums ≤ degree·1e6 ≤ ~1e10
    at sf1, squares ≤ 1e20 — inside DECIMAL(38,0)/HUGEINT everywhere;
    the per-element BIGINT square bound (~9.2e18) is why the square is
    computed in the wide type, not in BIGINT.

    Scale shape: the edge list is persisted once (2 joins per round + 2
    degree aggs at the end); each half-round is ONE node-keyed shuffle
    (edge join + groupBy) exactly like kcore/LPA; norms are 1-row aggs
    broadcast back (never a collect); each half-round's RAW score
    relation is node-count-bounded and localCheckpointed so round
    r+1's lineage starts from materialized rows (the iterative-kit
    discipline; the normalized projection on top is recomputed per
    consumer — see the r13 note in normalize()).

    Round budget — 3, shaved from 4 (r10 verdict task #6), with the
    r10 convergence claim CORRECTED by a fresh lattice-level probe: on
    a bipartite graph HITS converges geometrically to the principal
    singular vectors, but the quantized lattice does not exactly
    settle — it DITHERS by one quantum: at sf0.001 rounds 3 and 4 are
    bit-identical (pytest-pinned), while at sf0.01/sf0.1 they differ
    by max |Δ| = 1 micro-unit on 3-5% of nodes, forever. So an exact
    fixpoint short-circuit (the kcore trick) never fires at the
    graded SFs — probed and REJECTED — and any budget beyond the knee
    only re-rolls the last quantum. Round 3 is the knee: rounds 3 vs 4
    agree to within one quantum at every probed SF (the pinned
    stationarity pytest), so the extra round bought two edge-keyed
    shuffle barriers and zero information. The oracle unrolls the same
    3 rounds, so both engines walk the identical lattice path."""
    # persisted by the helper: 2 joins/round + the 2 degree aggs
    edges = _trade_edges(spark, sf_dir)

    def normalize(raw: DataFrame) -> DataFrame:
        # exact integer sum-of-squares (DECIMAL(38,0) == DuckDB HUGEINT),
        # then the pinned float shape: sqrt -> (raw_dbl * grid) / nrm ->
        # round to the integer grid. raw is MATERIALIZED first: the norm
        # agg and the quantization projection are two consumers, and
        # unpinned each would re-run the edge join + groupBy — doubling
        # every half-round's node-keyed shuffle (review r10)
        raw = raw.localCheckpoint()
        sq = F.col("raw").cast("decimal(19,0)") * F.col("raw").cast(
            "decimal(19,0)"
        )
        nrm = raw.agg(F.sqrt(F.sum(sq).cast("double")).alias("nrm"))
        # r13: the normalized relation is NOT checkpointed — lineage is
        # already cut at raw, so the projection + 1-row nrm broadcast
        # re-runs per consumer as a cached-partition scan, cheaper than
        # an eager materialization job per half-round (6 jobs saved per
        # query; A/B min-of-3 at sf0.1: 11.8 s -> 6.5 s)
        return raw.crossJoin(F.broadcast(nrm)).select(
            "node",
            F.round(
                F.col("raw").cast("double")
                * F.lit(float(_HITS_GRID))
                / F.col("nrm")
            )
            .cast("long")
            .alias("sc"),
        )

    h = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .select("node", F.lit(_HITS_GRID).cast("long").alias("sc"))
        .localCheckpoint()
    )
    a = None
    # score relations are node-dim-bounded (suppliers/customers, not
    # facts) — BROADCAST them into the edge join so each half-round
    # shuffles only the groupBy, not the join (measured 6.15 vs 7.19 s
    # at sf0.1 within one session).
    for _ in range(_HITS_ROUNDS):
        a_raw = (
            edges.join(
                F.broadcast(h.select(F.col("node").alias("s"), "sc")),
                "s",
            )
            .select(F.col("c").alias("node"), "sc")
            .groupBy("node")
            .agg(F.sum("sc").cast("long").alias("raw"))
        )
        a = normalize(a_raw)
        h_raw = (
            edges.join(
                F.broadcast(a.select(F.col("node").alias("c"), "sc")),
                "c",
            )
            .select(F.col("s").alias("node"), "sc")
            .groupBy("node")
            .agg(F.sum("sc").cast("long").alias("raw"))
        )
        h = normalize(h_raw)
    deg_s = (
        edges.select(F.col("s").alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    deg_c = (
        edges.select(F.col("c").alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    hubs = h.join(deg_s, "node").select(
        F.lit("hub").alias("role"),
        F.col("node").cast("long").alias("node"),
        F.col("sc").alias("score_q"),
        "degree",
    )
    auths = a.join(deg_c, "node").select(
        F.lit("authority").alias("role"),
        F.col("node").cast("long").alias("node"),
        F.col("sc").alias("score_q"),
        "degree",
    )
    return hubs.unionAll(auths)


# ---------------------------------------------------------------------------
# Triangle census & clustering coefficients (r10 batch 2) — the local-
# density member of the graph tier (Watts & Strogatz 1998 local
# clustering; Newman 2003 transitivity): exact triangle count over the
# recurrent co-purchase graph via DEGREE-ORDERED edge orientation
# (Chiba & Nishizeki 1985 / the "forward" algorithm) — every edge is
# oriented from its (degree, id)-smaller endpoint, wedges form only at
# each triangle's minimum vertex, so a hub of degree D contributes
# wedge work bounded by its FORWARD degree, not D^2: the orientation
# that keeps triangle counting alive on power-law graphs at 100 TB.

_TRI_GRID = 1_000_000  # per-node local-clustering quantization (micro)


def _triangle_sql() -> str:
    ord_cond = "(du.d < dv.d OR (du.d = dv.d AND e.u < e.v))"
    return f"""
    WITH {_COPURCHASE_CTES},
    deg AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
      ) GROUP BY node
    ),
    oedges AS MATERIALIZED (
      SELECT CASE WHEN {ord_cond} THEN e.u ELSE e.v END AS lo,
             CASE WHEN {ord_cond} THEN e.v ELSE e.u END AS hi,
             CASE WHEN {ord_cond} THEN dv.d ELSE du.d END AS hi_d
      FROM edges e
      JOIN deg du ON e.u = du.node
      JOIN deg dv ON e.v = dv.node
    ),
    tri AS MATERIALIZED (
      SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
      FROM oedges e1
      JOIN oedges e2 ON e1.lo = e2.lo
        AND (e1.hi_d < e2.hi_d OR (e1.hi_d = e2.hi_d AND e1.hi < e2.hi))
      JOIN oedges e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
    ),
    ntri AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    ),
    locq AS (
      SELECT CASE WHEN deg.d >= 2 THEN
               CAST(round(CAST(2 * COALESCE(ntri.t, 0) AS DOUBLE)
                          * {float(_TRI_GRID)!r}
                          / CAST(deg.d * (deg.d - 1) AS DOUBLE)) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS c
      FROM deg LEFT JOIN ntri ON deg.node = ntri.node
    ),
    agg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
             (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) FROM deg)
               AS n_wedges,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles,
             (SELECT CAST(SUM(c) AS BIGINT) FROM locq) AS local_micro_sum
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0 THEN
             round(CAST(3 * n_triangles AS DOUBLE)
                   / CAST(n_wedges AS DOUBLE), 6)
           END AS transitivity,
           local_micro_sum,
           round(CAST(local_micro_sum AS DOUBLE) / CAST(n_nodes AS DOUBLE)
                 / {float(_TRI_GRID)!r}, 6) AS avg_local_clustering
    FROM agg
    """


@register(
    "triangle_clustering_coefficient",
    oracle=_triangle_sql(),
    tags=("extension", "graph"),
)
def triangle_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact triangle census of the recurrent co-purchase graph plus
    both clustering summaries: Newman transitivity (3·triangles /
    wedges) and the Watts–Strogatz average local clustering (per-node
    2t/(d(d−1)), zero for degree<2 nodes, averaged over ALL nodes).

    Exactness: triangle/wedge/degree arithmetic is pure BIGINT; the
    per-node local coefficient is quantized to an integer micro grid
    (one pinned double division per node from exact ints — the
    huber/HITS discipline), so the cross-node SUM is exact and only
    the two final summary divisions are floats with pinned shape.

    Scale shape (the Chiba–Nishizeki orientation): edges are oriented
    from the (degree, id)-smaller endpoint, so wedge enumeration joins
    oriented edges on their LOW endpoint — a node's wedge work is its
    forward degree squared, which the orientation bounds by O(sqrt(E))
    on any graph (hubs receive edges instead of fanning them out);
    the closing check is one more equi-join on (lo, hi). All three
    triangle joins are node-keyed hash joins over the persisted
    oriented relation — no windows, no iteration, no cartesian. The
    basket-bounded, support-thresholded edge relation keeps the input
    linear in baskets at any corpus size.

    r14 measured-and-REJECTED: the in-neighbor array_intersect form
    (N-(y) ∩ N-(z) per closing edge — the verify_exact_jaccard shape).
    Interleaved A/B of the census subplan at sf0.1: wedge-join 0.83 s
    vs intersect 2.18 s — this graph is triangle-SPARSE (oriented
    forward degrees near 1), so the wedge join is already tiny and the
    two array-relation joins plus collects only add cost. The intersect
    form would only pay on wedge-dense graphs; the orientation bound
    keeps this one sparse by construction."""
    # persisted by the helper: degree union (2x) + the orientation join
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .persist()  # orientation join (2 sides) + wedge sum + spine
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    e = edges.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oedges = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("hi_d"),
    ).persist()  # 3 consumers: wedge pair (e1, e2) + closing edge (e3)
    e1 = oedges.select(
        F.col("lo"), F.col("hi").alias("y"), F.col("hi_d").alias("y_d")
    )
    e2 = oedges.select(
        F.col("lo"), F.col("hi").alias("z"), F.col("hi_d").alias("z_d")
    )
    # shuffle_hash pinned: AQE broadcast whichever side's cached stats
    # landed first; both sides are the corpus-sized oriented edges
    wedge = e1.join(e2.hint("shuffle_hash"), "lo").filter(
        (F.col("y_d") < F.col("z_d"))
        | ((F.col("y_d") == F.col("z_d")) & (F.col("y") < F.col("z")))
    )
    closing = oedges.select(
        F.col("lo").alias("y"), F.col("hi").alias("z")
    )
    tri = wedge.join(closing, ["y", "z"]).select(
        F.col("lo").alias("x"), "y", "z"
    ).persist()  # count + the 3-way node explode
    ntri = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    locq = deg.join(ntri, "node", "left").select(
        F.when(
            F.col("d") >= 2,
            F.round(
                (F.coalesce(F.col("t"), F.lit(0)) * 2).cast("double")
                * F.lit(float(_TRI_GRID))
                / (F.col("d") * (F.col("d") - 1)).cast("double")
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("c")
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(F.expr("(d * (d - 1)) div 2")).cast("long").alias("n_wedges")
    )
    n_tri = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    micro = locq.agg(F.sum("c").cast("long").alias("local_micro_sum"))
    agg = (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_wedges))
        .crossJoin(F.broadcast(n_tri))
        .crossJoin(F.broadcast(micro))
    )
    return agg.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.round(
                (F.col("n_triangles") * 3).cast("double")
                / F.col("n_wedges").cast("double"),
                6,
            ),
        ).alias("transitivity"),
        "local_micro_sum",
        F.round(
            F.col("local_micro_sum").cast("double")
            / F.col("n_nodes").cast("double")
            / F.lit(float(_TRI_GRID)),
            6,
        ).alias("avg_local_clustering"),
    )


# ---------------------------------------------------------------------------
# Full core decomposition (r11) — per-node coreness (Matula & Beck 1983,
# "Smallest-last ordering and clustering"), computed as the nested
# k-core ladder: the (k+1)-core is a subset of the k-core, so each k's
# peel starts from the previous core's survivors instead of the whole
# graph. Coreness(v) = max k such that v survives the k-peel. Screened
# and probed at r10 close (GRADING_BACKLOG.md): max coreness 3 at
# sf0.01 (1880 nodes; 345/600/935 at 1/2/3), 2 at sf0.1.

_CORE_KMAX = 5  # ladder ceiling; k = KMAX+1 is the truncation probe
_CORE_ROUNDS = 14  # per-k unroll budget (probed max rounds-to-fixpoint: 11)


def _core_decomposition_sql() -> str:
    """Unrolled nested-ladder oracle: for k = 1..KMAX+1, _CORE_ROUNDS
    peel rounds (restrict edges to survivors -> recount degrees -> keep
    deg >= k), each k seeded from the previous k's final survivor set.
    Coreness = MAX(k) over final core memberships; the k = KMAX+1 core
    certifies truncation (empty => no node's coreness was clamped)."""
    ctes = [
        *_copurchase_edges_sql(),
        """c0 AS MATERIALIZED (
      SELECT u AS node FROM edges UNION SELECT v AS node FROM edges
    )""",
    ]
    prev = "c0"
    conv = []
    for k in range(1, _CORE_KMAX + 2):
        ctes.append(f"k{k}v0 AS MATERIALIZED (SELECT node FROM {prev})")
        for r in range(1, _CORE_ROUNDS + 1):
            ctes += _peel_ctes(f"k{k}", r, k)
        prev = f"k{k}v{_CORE_ROUNDS}"
        conv.append(
            f"(SELECT COUNT(*) FROM k{k}v{_CORE_ROUNDS}) ="
            f" (SELECT COUNT(*) FROM k{k}v{_CORE_ROUNDS - 1})"
        )
    member_unions = "\n        UNION ALL\n        ".join(
        f"SELECT node, {k} AS k FROM k{k}v{_CORE_ROUNDS}"
        for k in range(1, _CORE_KMAX + 1)
    )
    ctes.append(
        f"""cor AS MATERIALIZED (
      SELECT node, MAX(k) AS coreness FROM (
        {member_unions}
      ) GROUP BY node
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT c0.node,
           CAST(COALESCE(cor.coreness, 0) AS INT) AS coreness,
           (SELECT COUNT(*) FROM k{_CORE_KMAX + 1}v{_CORE_ROUNDS}) > 0
             AS truncated,
           ({" AND ".join(conv)}) AS converged
    FROM c0 LEFT JOIN cor ON c0.node = cor.node
    """
    )


@register(
    "graph_core_decomposition_full",
    oracle=_core_decomposition_sql(),
    tags=("extension", "graph", "iterative"),
)
def graph_core_decomposition_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition of the recurrent co-purchase graph: one
    row per node with its CORENESS (the largest k for which the node
    survives k-peeling — Matula & Beck 1983), plus two in-band
    certificates: ``truncated`` (true iff the (KMAX+1)-core is
    non-empty, i.e. some coreness was clamped at the ladder ceiling —
    probed false at both graded SFs) and ``converged`` (every k's last
    two survivor counts equal; by the kcore subset argument equal
    counts imply equal sets, so every rung provably reached its true
    core inside the unroll budget).

    Exactness: pure integer set algebra end-to-end (degrees, counts,
    subset filters, MAX over small integer tags) — no floats anywhere.

    Scale shape (the kcore_peel_certificate kit, extended to a ladder):
    the basket-bounded co-purchase edge list is persisted ONCE and
    every rung's every round consumes that one materialization via two
    left_semi joins; each rung is :func:`_peel` on
    ``iterate_to_fixpoint``, done once two survivor counts agree (empty
    cores converge immediately). The NESTED start (rung k seeds from
    core_{k-1}, valid because cores are monotone-nested) means the
    expensive early rungs shrink the frontier for the later ones: at
    sf0.01 rungs 4..6 peel one round each on an already-empty-or-tiny
    set while the oracle grinds all 6x14 unconditionally. Coreness
    assignment is ONE node-keyed shuffle (union the <= KMAX survivor
    sets tagged by k, groupBy node, MAX(k)) — no per-k join chain. At
    100 TB every round is two node-keyed semi-join shuffles over an
    edge relation bounded by sum-of-C(basket,2), never corpus^2."""
    edges = _copurchase_edges(spark, sf_dir)
    all_nodes = _copurchase_nodes(edges).localCheckpoint()
    cores: dict[int, DataFrame] = {}
    converged_all = True
    active, n_active = all_nodes, all_nodes.count()
    for k in range(1, _CORE_KMAX + 2):
        # rung k starts from core_{k-1} (cores are nested)
        active, counts = _peel(edges, active, k, _CORE_ROUNDS, n_active)
        converged_all = converged_all and _settled(counts)
        cores[k], n_active = active, counts[-1]
    tagged = None
    for k in range(1, _CORE_KMAX + 1):
        part = cores[k].select("node", F.lit(k).alias("k"))
        tagged = part if tagged is None else tagged.unionAll(part)
    coreness = tagged.groupBy("node").agg(F.max("k").alias("_cor"))
    return (
        all_nodes.join(coreness, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("_cor"), F.lit(0)).cast("int").alias("coreness"),
            # n_active is now the size of the (KMAX+1)-core
            F.lit(bool(n_active > 0)).alias("truncated"),
            F.lit(bool(converged_all)).alias("converged"),
        )
    )


# ---------------------------------------------------------------------------
# Newman modularity of the LPA communities (r11) — the QUALITY number
# for the community tier (Newman & Girvan 2004): label_propagation
# publishes the partition; modularity scores it (fraction of edges
# inside communities minus the degree-preserving-null expectation).
# Q = sum_c [ e_c/m - (d_c/2m)^2 ] — exactly representable as the
# integer numerator sum_c (4m*e_c - d_c^2) over the common denominator
# 4m^2, so the only float is ONE pinned division (the huber
# discipline; no per-community float sums to re-associate).

_LPA_CTE_BLOCK = ",\n    ".join(_lpa_label_ctes())


@register(
    "modularity_lpa_communities",
    oracle=f"""
    WITH {_LPA_CTE_BLOCK},
    fin AS MATERIALIZED (SELECT node, label FROM l{_LPA_ROUNDS}),
    deg AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
      ) GROUP BY node
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
    ec AS (
      SELECT lu.label, CAST(COUNT(*) AS BIGINT) AS e_in
      FROM edges e
      JOIN fin lu ON e.u = lu.node
      JOIN fin lv ON e.v = lv.node
      WHERE lu.label = lv.label
      GROUP BY lu.label
    ),
    dc AS (
      SELECT f.label, CAST(SUM(g.d) AS BIGINT) AS d_sum
      FROM fin f JOIN deg g ON f.node = g.node GROUP BY f.label
    ),
    terms AS (
      SELECT CAST(4 AS HUGEINT) * m.m * COALESCE(ec.e_in, 0)
             - CAST(dc.d_sum AS HUGEINT) * dc.d_sum AS t
      FROM dc LEFT JOIN ec ON dc.label = ec.label CROSS JOIN m
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fin) AS n_nodes,
           m.m AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dc) AS n_communities,
           (SELECT CAST(SUM(e_in) AS BIGINT) FROM ec) AS n_intra_edges,
           round(CAST((SELECT SUM(t) FROM terms) AS DOUBLE)
                 / CAST(CAST(4 AS HUGEINT) * m.m * m.m AS DOUBLE), 6)
             AS modularity
    FROM m
    """,
    tags=("extension", "graph", "iterative"),
)
def modularity_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the converged LPA partition over the
    recurrent co-purchase graph: one row with the graph sizes, the
    community count, the intra-community edge count, and Q.

    Exactness: e_c, d_c, m are exact integers from the deterministic
    LPA labeling (the smallest-label tiebreak voting shared with
    label_propagation_communities via one helper per engine side); the
    numerator sum_c (4m*e_c − d_c²) accumulates in DECIMAL(38,0)/
    HUGEINT (d_c ≤ 2m, so squares pass BIGINT around m ~ 2e9 — the
    HITS wide-type bound); Q is ONE pinned double division.

    Scale shape: the vote loop is the LPA kit (persisted basket-bounded
    edges, two node-keyed shuffles per round) on ``iterate_to_fixpoint``
    with one change count per round, done at 0 changes; the
    scoring pass is two node-keyed joins (edge endpoints → labels), a
    label-keyed aggregate each for e_c and d_c, and a k-row reduction.
    No windows over fact rows, no collects beyond the per-round
    change counts."""
    edges = _copurchase_edges(spark, sf_dir)
    labels = (
        _copurchase_nodes(edges)
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    # the change count reads the carried old_label off the checkpointed
    # vote (r13) — no separate join job per round; done at 0 changes
    labels, _ = iterate_to_fixpoint(
        labels,
        lambda labels: _lpa_vote(edges, labels),
        lambda new: new.filter(F.col("label") != F.col("old_label")).count(),
        _LPA_ROUNDS,
        done=lambda changes: changes[-1] == 0,
    )
    labels = labels.select("node", "label")
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    m_df = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    lu = labels.select(F.col("node").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("node").alias("v"), F.col("label").alias("lv"))
    ec = (
        edges.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    dc = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(F.sum("d").cast("long").alias("d_sum"))
    )
    terms = (
        dc.join(ec, "label", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            (
                F.lit(4).cast("decimal(38,0)")
                * F.col("m")
                * F.coalesce(F.col("e_in"), F.lit(0))
                - F.col("d_sum").cast("decimal(38,0)") * F.col("d_sum")
            ).alias("t"),
            "e_in",
        )
    )
    agg = terms.agg(
        F.sum("t").alias("q_num"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.sum("e_in").cast("long").alias("n_intra_edges"),
    )
    # n_nodes rides the plan as a third broadcast crossJoin (1-row
    # scalar) — a .first() here paid one extra driver-blocking job for
    # a value the final job can fold in for free (r11 verdict item 3)
    n_df = labels.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return agg.crossJoin(F.broadcast(m_df)).crossJoin(F.broadcast(n_df)).select(
        "n_nodes",
        F.col("m").alias("n_edges"),
        "n_communities",
        "n_intra_edges",
        F.round(
            F.col("q_num").cast("double")
            / (
                F.lit(4).cast("decimal(38,0)") * F.col("m") * F.col("m")
            ).cast("double"),
            6,
        ).alias("modularity"),
    )


# ---------------------------------------------------------------------------
# Bipartite butterfly census (r11) — the bipartite analogue of the
# triangle census (Sanei-Mehri, Sariyüce & Tirthapura 2018,
# "Butterfly counting in bipartite networks"): a butterfly is a 2x2
# biclique (s1, s2) x (c1, c2) with all four trade edges present — the
# smallest unit of bipartite clustering, and the motif dense
# co-purchasing cohorts are made of. Count = sum over same-side pairs
# of C(codegree, 2); the side whose wedge enumeration is cheaper is
# chosen FROM THE DEGREE SEQUENCES (two closed-form aggregates, no
# enumeration) before any pair is materialized.


@register(
    "butterfly_count_bipartite",
    oracle=f"""
    WITH {_trade_edges_sql()},
    deg_s AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM e0 GROUP BY s),
    deg_c AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM e0 GROUP BY c),
    wed AS (
      SELECT
        (SELECT CAST(SUM(CAST(d AS HUGEINT) * (d - 1) // 2) AS BIGINT)
         FROM deg_s) AS wedges_supplier_centered,
        (SELECT CAST(SUM(CAST(d AS HUGEINT) * (d - 1) // 2) AS BIGINT)
         FROM deg_c) AS wedges_customer_centered
    ),
    pairs AS MATERIALIZED (
      SELECT a.s AS s1, b.s AS s2
      FROM e0 a JOIN e0 b ON a.c = b.c AND a.s < b.s
    ),
    w AS MATERIALIZED (
      SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS w
      FROM pairs GROUP BY s1, s2
    ),
    bf AS (
      SELECT CAST(SUM(CAST(w AS HUGEINT) * (w - 1) // 2) AS BIGINT)
               AS n_butterflies
      FROM w
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg_s) AS n_suppliers,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg_c) AS n_customers,
           wed.wedges_supplier_centered,
           wed.wedges_customer_centered,
           bf.n_butterflies
    FROM wed CROSS JOIN bf
    """,
    tags=("extension", "graph"),
)
def butterfly_count_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact butterfly (2x2 biclique) census of the supplier↔customer
    trade graph, with the wedge budgets of BOTH enumeration sides
    published so the pivot choice is auditable.

    Exactness: pure integer combinatorics — codegrees w per same-side
    pair, butterflies = Σ C(w, 2); C(·,2) products accumulate in
    DECIMAL(38,0)/HUGEINT (a popular pair's C(w,2) passes BIGINT near
    w ~ 4e9). The count is SIDE-SYMMETRIC (each butterfly contains
    exactly one supplier pair and one customer pair), so the engines
    may enumerate different sides and still agree — the oracle pins
    the supplier-pair side; the Spark plan picks the CHEAPER side at
    plan time from the two closed-form wedge sums (two scalar
    aggregates over the degree sequences, collected before any pair
    exists — the bounded-collect contract), which on this data is also
    the supplier-pair side (customer-centered wedges: ~8e5 at sf0.01
    vs ~1.2e7 supplier-centered).

    Scale shape (the Chiba-Nishizeki lesson, bipartite form): wedge
    enumeration is the whole cost — Σ C(d, 2) over the CENTER side —
    and centering on the low-degree side keeps a hub on the other side
    from exploding quadratically (a supplier connected to a million
    customers contributes C(1e6, 2) pairs ONLY if customers pair
    through it; centered the other way it contributes d_c ≤ #suppliers
    per customer). The enumeration is one node-keyed self-join + one
    pair-keyed groupBy; everything else is degree-sequence
    arithmetic."""
    edges = _trade_edges(spark, sf_dir)
    deg_s = edges.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d"))
    deg_c = edges.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("d"))

    # ONE driver-blocking job for both wedge budgets (review r11: two
    # sequential .first() calls paid two scan+agg rounds) — union the
    # degree relations tagged by side, aggregate once, collect 2 rows
    tagged = deg_s.select(F.lit("s").alias("side"), "d").unionAll(
        deg_c.select(F.lit("c").alias("side"), "d")
    )
    wrows = {
        r["side"]: r
        for r in tagged.groupBy("side")
        .agg(
            (
                F.sum(F.col("d").cast("decimal(38,0)") * (F.col("d") - 1))
                / 2
            )
            .cast("long")
            .alias("wsum"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .collect()
    }
    wedges_s, n_sup = int(wrows["s"]["wsum"]), int(wrows["s"]["n"])
    wedges_c, n_cus = int(wrows["c"]["wsum"]), int(wrows["c"]["n"])
    if wedges_c <= wedges_s:
        # cheaper to pair the OTHER side through customer centers
        a = edges.select(F.col("c").alias("k"), F.col("s").alias("x"))
    else:
        a = edges.select(F.col("s").alias("k"), F.col("c").alias("x"))
    # (r14 measured-and-REJECTED: the sorted-array row-local pair
    # enumeration — one k-keyed collect + two generators instead of the
    # self-join. Interleaved A/B of the wedge-count subplan at sf0.1,
    # 5 reps: self-join 2.04 s vs arrays 2.58 s — with nothing else to
    # amortize the ObjectHashAggregate collect, the join form wins; see
    # link_prediction_resource_allocation for where the array form DOES
    # pay, by making the center degree free.)
    l, r = a.alias("l"), a.alias("r")
    w = (
        l.join(
            r,
            (F.col("l.k") == F.col("r.k")) & (F.col("l.x") < F.col("r.x")),
        )
        .groupBy(F.col("l.x").alias("x1"), F.col("r.x").alias("x2"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # NOTE: no per-side pair count is published — the enumerated pair
    # SIDE is a plan-time choice, so only side-symmetric quantities
    # (butterflies, both wedge budgets) are part of the declared result
    bf = w.agg(
        (F.sum(F.col("w").cast("decimal(38,0)") * (F.col("w") - 1)) / 2)
        .cast("long")
        .alias("n_butterflies"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    return bf.crossJoin(F.broadcast(n_edges)).select(
        F.col("m").alias("n_edges"),
        F.lit(n_sup).cast("long").alias("n_suppliers"),
        F.lit(n_cus).cast("long").alias("n_customers"),
        F.lit(wedges_s).cast("long").alias("wedges_supplier_centered"),
        F.lit(wedges_c).cast("long").alias("wedges_customer_centered"),
        "n_butterflies",
    )


# ---------------------------------------------------------------------------
# Common-neighbors link prediction (r11) — the link-prediction member
# of the graph tier (Liben-Nowell & Kleinberg 2003, "The link
# prediction problem for social networks"): rank NON-adjacent product
# pairs by their common-neighbor count in the recurrent co-purchase
# graph — the classic "frequently bought with the same things, never
# yet together" recommendation candidate generator. Adamic-Adar (the
# ln-weighted variant) is excluded by the no-ln-on-data portability
# rule; plain CN is the exact-integer member of that family.

_LINKPRED_K = 20


def _linkpred_neighbor_arrays(edges: DataFrame) -> DataFrame:
    """(node, nbs): each node's SORTED neighbor array in the symmetric
    view of the (u < v)-canonical edge relation — ONE node-keyed
    aggregate. Arrays are duplicate-free because the edge relation is a
    set (groupBy output); ascending sort makes the row-local pair
    enumeration below emit exactly the a.nb < b.nb wedge pairs of the
    self-join form. Used by the RA variant (where size(nbs) doubles as
    the degree); the plain-count twin measured FASTER on the self-join
    and keeps it — see the respective docstrings."""
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nb")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nb")))
    return adj.groupBy("node").agg(
        F.sort_array(F.collect_list("nb")).alias("nbs")
    )


def _wedge_pairs_from_arrays(nbrs: DataFrame) -> DataFrame:
    """One row per wedge pair (u, v) with u < v, enumerated ROW-LOCALLY
    from each center's sorted neighbor array: posexplode fixes u and
    its position, slice takes the strictly-later neighbors as the v
    candidates. Both generators codegen; no join, no interpreted
    lambda (the r13 pq lesson: HOF lambdas interpret per element).
    The center's RA weight ``ra_nanos`` rides through the fan-out. A
    center's pairs are generated inside one task — the same co-location
    the self-join form has, so the skew profile is unchanged while one
    adjacency exchange and the join itself disappear (guide
    §2.3/§2.4). Worth it ONLY when the array
    buys more than the collect costs (RA: the degree comes free);
    measured slower for bare pair counting — see the CN/butterfly
    rejection notes."""
    step1 = nbrs.select(
        "ra_nanos", "nbs", F.posexplode("nbs").alias("i", "u")
    )
    return step1.select(
        "ra_nanos",
        "u",
        F.explode(
            F.slice(
                F.col("nbs"),
                F.col("i") + F.lit(2),
                F.size("nbs") - F.col("i") - F.lit(1),
            )
        ).alias("v"),
    )


def _linkpred_sql() -> str:
    return f"""
    WITH {_COPURCHASE_CTES},
    adj AS MATERIALIZED (
      SELECT u AS node, v AS nb FROM edges
      UNION ALL
      SELECT v AS node, u AS nb FROM edges
    ),
    wedges AS MATERIALIZED (
      SELECT a.nb AS x, b.nb AS y, CAST(COUNT(*) AS BIGINT) AS cn
      FROM adj a JOIN adj b ON a.node = b.node AND a.nb < b.nb
      GROUP BY a.nb, b.nb
    ),
    cand AS (
      SELECT w.x, w.y, w.cn FROM wedges w
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.u = w.x AND e.v = w.y
      )
    )
    SELECT x AS u, y AS v, cn AS common_neighbors
    FROM cand
    ORDER BY cn DESC, u ASC, v ASC
    LIMIT {_LINKPRED_K}
    """


@register(
    "link_prediction_common_neighbors",
    oracle=_linkpred_sql(),
    tags=("extension", "graph", "recommendation"),
)
def link_prediction_common_neighbors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 NON-adjacent product pairs by common-neighbor count in
    the recurrent co-purchase graph, fully deterministic (score DESC,
    then (u, v) ASC — the top-k tie-break discipline).

    Exactness: pure integer combinatorics — symmetric adjacency,
    wedge-pair counts, an anti-join against the edge set, integer
    ordering keys.

    Scale shape: candidate generation is ONE node-keyed self-join of
    the symmetric adjacency (wedge pairs form only through shared
    neighbors — never an all-pairs product) followed by a pair-keyed
    count; wedge work is bounded by Σ C(d, 2) over the SUPPORT-
    THRESHOLDED degrees (the >= 2 recurrence filter is what keeps hub
    products from going quadratic — the copurchase contract), existing
    edges leave via a broadcast-able left_anti on the canonical u < v
    pair, and the final ranking is a TakeOrdered top-20, never a
    global sort. (r14 measured-and-REJECTED: the sorted-neighbor-array
    row-local enumeration that wins for the RA variant below — here it
    removes one adjacency exchange + the join but adds an
    ObjectHashAggregate collect + two generators with NO other work to
    amortize them; interleaved A/B at sf0.1, 5 reps: self-join 2.18 s
    vs arrays 2.33 s. The RA twin keeps the array form because it also
    deletes a whole degree aggregate + broadcast join-back.)"""
    edges = _copurchase_edges(spark, sf_dir)
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nb")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nb")))
    a, b = adj.alias("a"), adj.alias("b")
    wedges = (
        a.join(
            b,
            (F.col("a.node") == F.col("b.node"))
            & (F.col("a.nb") < F.col("b.nb")),
        )
        .groupBy(F.col("a.nb").alias("u"), F.col("b.nb").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    cand = wedges.join(edges, ["u", "v"], "left_anti")
    return (
        cand.orderBy(
            F.col("common_neighbors").desc(),
            F.col("u").asc(),
            F.col("v").asc(),
        )
        .limit(_LINKPRED_K)
        .select("u", "v", "common_neighbors")
    )


# ---------------------------------------------------------------------------
# k-truss peel certificate (r11) — the EDGE-cohesion member completing
# the ladder (Cohen 2008, "Trusses: cohesive subgraphs for social
# network analysis"): the k-truss keeps every edge supporting >= k-2
# triangles INSIDE the surviving subgraph — strictly stronger than the
# k-core's degree condition (every k-truss is a (k-1)-core), and the
# standard cohesive-community primitive one level above it. k = 4
# (every surviving edge in >= 2 surviving triangles), probed at r11:
# peel reaches fixpoint in 6 rounds at sf0.001 (2324 -> 1966 edges)
# and 3 at sf0.01 (the truss EMPTIES — recurrent co-purchase triangles
# thin out as baskets diversify), both inside the 8-round unroll.

_TRUSS_K = 4
_TRUSS_ROUNDS = 8


def _ktruss_sql() -> str:
    ctes = [
        *_copurchase_edges_sql(),
        "e0 AS MATERIALIZED (SELECT u, v FROM edges)",
        """base AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges_initial
    )""",
    ]
    for r in range(1, _TRUSS_ROUNDS + 1):
        p = r - 1
        ctes.append(
            f"""adj{p} AS MATERIALIZED (
      SELECT u AS node, v AS nb FROM e{p}
      UNION ALL
      SELECT v AS node, u AS nb FROM e{p}
    )"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
      SELECT e.u, e.v
      FROM e{p} e
      JOIN adj{p} a1 ON a1.node = e.u
      JOIN adj{p} a2 ON a2.node = e.v AND a2.nb = a1.nb
      GROUP BY e.u, e.v
      HAVING COUNT(*) >= {_TRUSS_K - 2}
    )"""
        )
    ctes += _count_certificate_ctes("e", _TRUSS_ROUNDS, "n_in_truss")
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT per_round.round_i, per_round.n_active, base.n_edges_initial,
           CAST({_TRUSS_K} AS INT) AS truss_k,
           conv.n_in_truss, conv.converged
    FROM per_round CROSS JOIN base CROSS JOIN conv
    """
    )


@register(
    "ktruss_peel_certificate",
    oracle=_ktruss_sql(),
    tags=("extension", "graph", "iterative"),
)
def ktruss_peel_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the recurrent co-purchase graph by unrolled edge
    peeling: each round recounts every surviving edge's triangle
    support WITHIN the surviving subgraph and drops edges below
    4-2, emitting the per-round surviving-edge counts plus the
    convergence certificate (last two counts equal; the peel only
    removes edges, so equal COUNTS imply equal SETS — the kcore subset
    argument applied to edges).

    Exactness: pure integer set algebra — triangle-support counts and
    subset filters; no floats anywhere.

    Scale shape (the triangle-census bound applied per round): support
    counting is two node-keyed hash joins (edge × adjacency on each
    endpoint, matched on the shared neighbor) whose output is one row
    per (edge, common-neighbor) — 3 rows per surviving triangle, never
    degree-squared blowup past the triangle population itself. The 8
    rounds run on ``iterate_to_fixpoint`` (localCheckpointed surviving
    edge set, one edge count per round), done once two counts agree.
    The edge relation is the persisted basket-bounded co-purchase
    helper shared across the graph tier."""
    edges = _copurchase_edges(spark, sf_dir)
    e = edges.select("u", "v").localCheckpoint()
    n_initial = e.count()

    def truss_round(e: DataFrame) -> DataFrame:
        adj = e.select(
            F.col("u").alias("node"), F.col("v").alias("nb")
        ).unionAll(e.select(F.col("v").alias("node"), F.col("u").alias("nb")))
        a1 = adj.select(F.col("node").alias("u"), F.col("nb").alias("w1"))
        a2 = adj.select(F.col("node").alias("v"), F.col("nb").alias("w2"))
        return (
            e.join(a1, "u")
            .join(a2, "v")
            .filter(F.col("w1") == F.col("w2"))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("sup"))
            .filter(F.col("sup") >= _TRUSS_K - 2)
            .select("u", "v")
            .localCheckpoint()
        )

    _, counts = iterate_to_fixpoint(
        e, truss_round, lambda e: e.count(), _TRUSS_ROUNDS, _settled, [n_initial]
    )
    rounds_df = spark.createDataFrame(
        [(i, int(c)) for i, c in enumerate(counts)],
        "round_i int, n_active long",
    )
    return rounds_df.select(
        "round_i",
        "n_active",
        F.lit(int(n_initial)).cast("long").alias("n_edges_initial"),
        F.lit(_TRUSS_K).cast("int").alias("truss_k"),
        F.lit(int(counts[-1])).cast("long").alias("n_in_truss"),
        F.lit(_settled(counts)).alias("converged"),
    )


# ---------------------------------------------------------------------------
# Resource-allocation link prediction (r12 batch 6) — the WEIGHTED
# member of the link-prediction pair (Zhou, Lü & Zhang 2009): common-
# neighbor counting treats a 2-degree and a 2000-degree shared
# neighbor identically; the RA index scores each shared neighbor z by
# 1/deg(z), so evidence through a rare co-purchase counts for more
# than evidence through a ubiquitous one — consistently the stronger
# local predictor in the published benchmarks. Adamic-Adar (1/ln deg)
# is the better-known variant but is excluded by the repo's
# portability rule (no ln on data-derived values — the BOCPD/Kleinberg
# precedent); RA is the ln-free member of the same family.


@register(
    "link_prediction_resource_allocation",
    # Each neighbor's 1/deg is quantized to integer NANOS with the
    # exact rational half-up rule round(1e9/d) = (2e9 + d) // (2d)
    # (the mixture_convergence_monitor discipline), so pair scores are
    # exact BIGINT sums — no float accumulation order to disagree on —
    # and the top-K cut ties deterministically on (score DESC, u, v).
    oracle=f"""
    WITH {_COPURCHASE_CTES},
    adj AS MATERIALIZED (
      SELECT u AS node, v AS nb FROM edges
      UNION ALL
      SELECT v AS node, u AS nb FROM edges
    ),
    ra AS MATERIALIZED (
      SELECT node,
             (2000000000 + CAST(COUNT(*) AS HUGEINT))
               // (2 * CAST(COUNT(*) AS HUGEINT)) AS ra_nanos
      FROM adj GROUP BY node
    ),
    wedges AS MATERIALIZED (
      SELECT a.nb AS x, b.nb AS y,
             CAST(COUNT(*) AS BIGINT) AS cn,
             CAST(SUM(r.ra_nanos) AS BIGINT) AS ra_nanos
      FROM adj a
      JOIN adj b ON a.node = b.node AND a.nb < b.nb
      JOIN ra r ON r.node = a.node
      GROUP BY a.nb, b.nb
    ),
    cand AS (
      SELECT w.x, w.y, w.cn, w.ra_nanos FROM wedges w
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.u = w.x AND e.v = w.y
      )
    )
    SELECT x AS u, y AS v, cn AS common_neighbors, ra_nanos
    FROM cand
    ORDER BY ra_nanos DESC, u ASC, v ASC
    LIMIT {_LINKPRED_K}
    """,
    tags=("extension", "graph", "recommendation"),
)
def link_prediction_resource_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 NON-adjacent product pairs by resource-allocation index
    (sum of 1/deg over shared neighbors, integer nanos) in the
    recurrent co-purchase graph, with the common-neighbor count
    published alongside so a reader can see where the weighting
    reorders the ranking.

    Exactness: per-node 1/deg quantizes to exact integer nanos (see
    oracle comment); pair scores are exact BIGINT sums; ranking keys
    are integers with the (u, v) tie-break.

    Scale shape (r14): identical to link_prediction_common_neighbors —
    sorted per-node neighbor arrays, row-local C(d, 2) pair generation
    (posexplode + slice + explode, see _wedge_pairs_from_arrays) bounded
    by support-thresholded degrees. The RA weight needs NO separate
    degree aggregate or broadcast join-back at all any more: the
    center's degree IS size(nbs), so ra_nanos is a row-local expression
    on the array relation (guide §1.2 step 1 — the work was free once
    the representation changed). Existing edges leave via left_anti,
    and the final ranking is a TakeOrdered top-20, never a global
    sort."""
    edges = _copurchase_edges(spark, sf_dir)
    from ecommerce_data_pipeline_spark.plans._helpers import (
        half_up_ratio_units,
    )

    # exact integer division (r12 review): F.floor(decimal / decimal)
    # rounds to scale 6 HALF_UP first and can land one nano high.
    # degree = size(nbs): the arrays are exactly the node's distinct
    # neighbors, so this is the same COUNT the retired aggregate took.
    nbrs = _linkpred_neighbor_arrays(edges).select(
        "nbs",
        half_up_ratio_units(
            F.lit(1), F.size("nbs").cast("long"), 1_000_000_000
        ).alias("ra_nanos"),
    )
    wedges = (
        _wedge_pairs_from_arrays(nbrs)
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum("ra_nanos").cast("long").alias("ra_nanos"),
        )
    )
    cand = wedges.join(edges, ["u", "v"], "left_anti")
    return (
        cand.orderBy(
            F.col("ra_nanos").desc(), F.col("u").asc(), F.col("v").asc()
        )
        .limit(_LINKPRED_K)
        .select("u", "v", "common_neighbors", "ra_nanos")
    )
