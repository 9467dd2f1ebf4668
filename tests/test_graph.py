"""Graph-tier tests: Python replays of the co-purchase graph family
(k-core, LPA, assortativity, core decomposition, modularity, link
prediction, k-truss, resource allocation, triangle census), the trade
graph family (HITS, butterfly census), and the iterative kit
(``iterate_to_fixpoint`` and the connected-components convergence
guard). Value-level oracle parity is covered by the registry-wide
oracle diff in test_oracle.py.
"""

from __future__ import annotations

import decimal
import math
from collections import Counter, defaultdict
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.graph import (
    connected_components,
    iterate_to_fixpoint,
)
from ecommerce_data_pipeline_spark.plans.analytics_graph import (
    _CORE_KMAX,
    _HITS_GRID,
    _HITS_ROUNDS,
    _KCORE_K,
    _KCORE_MIN_SUPPORT,
    _KCORE_ROUNDS,
    _LINKPRED_K,
    _LPA_ROUNDS,
    _TRI_GRID,
    _TRUSS_K,
    _TRUSS_ROUNDS,
    link_prediction_resource_allocation,
)
from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def copurchase_edges(spark):
    """The recurrent co-purchase edge set, built once in Python: part
    pairs (u < v) bought together in >= _KCORE_MIN_SUPPORT distinct
    orders — the replay twin of analytics_graph._copurchase_edges."""
    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    support = Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                support[(ps[i], ps[j])] += 1
    return frozenset(e for e, c in support.items() if c >= _KCORE_MIN_SUPPORT)


# ---------------------------------------------------------------------------
# the iterative kit


def test_iterate_to_fixpoint_stops_calling_step_and_measure_once_done():
    """Spark-free: stub step/measure count their calls. Once ``done``
    holds neither is called again and ``stats`` is still filled to one
    entry per round; a loop that never converges steps exactly
    ``rounds`` times."""
    calls = {"step": 0, "measure": 0}

    def step(state):
        calls["step"] += 1
        return max(state - 1, 0)

    def measure(state):
        calls["measure"] += 1
        return state

    state, stats = iterate_to_fixpoint(
        3, step, measure, 8, done=lambda s: s[-1] == 0, stats=[3]
    )
    assert state == 0
    assert stats == [3, 2, 1, 0, 0, 0, 0, 0, 0]
    assert calls == {"step": 3, "measure": 3}

    calls.update(step=0, measure=0)
    state, stats = iterate_to_fixpoint(
        100, step, measure, 5, done=lambda s: s[-1] == 0
    )
    assert (state, stats) == (95, [99, 98, 97, 96, 95])
    assert calls == {"step": 5, "measure": 5}


def test_connected_components_raises_when_path_outlasts_max_iter(spark):
    """A path graph longer than ``max_iter`` hops cannot settle: the
    label of its far end is still changing in the last round, so the
    operator must raise instead of returning split components."""
    path = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], ["id1", "id2"])
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(path, max_iter=1)


# ---------------------------------------------------------------------------
# kcore_peel_certificate


def test_kcore_matches_python_peel(spark, copurchase_edges):
    """Python replay of the support-thresholded edge build and the
    12-round degree peel: per-round survivor counts, the core size and
    the convergence certificate must match; the survivor series must be
    monotone non-increasing (peeling only removes)."""
    edges = copurchase_edges
    active = {n for e in edges for n in e}
    n_nodes, n_edges = len(active), len(edges)
    counts = [len(active)]
    for _ in range(_KCORE_ROUNDS):
        deg = Counter()
        for u, v in edges:
            if u in active and v in active:
                deg[u] += 1
                deg[v] += 1
        active = {n for n in active if deg[n] >= _KCORE_K}
        counts.append(len(active))
    rows = (
        REGISTRY["kcore_peel_certificate"].fn(spark, SF_SMOKE).collect()
    )
    assert len(rows) == _KCORE_ROUNDS + 1
    got = {r.round_i: r for r in rows}
    for i, expected in enumerate(counts):
        r = got[i]
        assert r.n_active == expected, i
        assert (r.n_nodes, r.n_edges, r.core_k) == (
            n_nodes,
            n_edges,
            _KCORE_K,
        )
        assert r.n_in_core == counts[-1]
        assert r.converged == (counts[-1] == counts[-2])
    assert all(a >= b for a, b in zip(counts, counts[1:]))


# ---------------------------------------------------------------------------
# label_propagation_communities


def test_lpa_matches_python_replay(spark, copurchase_edges):
    """Python replay of the self-inclusive deterministic LPA: per-round
    change counts, community counts, largest-community sizes and the
    fixpoint certificate must match; community counts must be
    non-increasing once converged."""
    edges = copurchase_edges
    adj = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    label = {n: n for n in adj}
    expected = []
    for r in range(1, _LPA_ROUNDS + 1):
        new = {}
        changed = 0
        for n, nbrs in adj.items():
            c = Counter(label[m] for m in nbrs)
            c[label[n]] += 1
            best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[n] = best
            changed += best != label[n]
        label = new
        comms = Counter(label.values())
        expected.append((r, changed, len(comms), max(comms.values())))
    rows = (
        REGISTRY["label_propagation_communities"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    got = {r.round_i: r for r in rows}
    assert set(got) == set(range(1, _LPA_ROUNDS + 1))
    for r, changed, nc, big in expected:
        g = got[r]
        assert (g.n_changed, g.n_communities, g.biggest_community) == (
            changed,
            nc,
            big,
        ), r
        assert g.n_nodes == len(adj)
        assert g.n_edges == len(edges)
        assert g.converged == (expected[-1][1] == 0)


# ---------------------------------------------------------------------------
# degree_assortativity


def test_assortativity_matches_python_replay(spark, copurchase_edges):
    """Python replay of the endpoint-degree Pearson r over the recurrent
    co-purchase edges; r must lie in [-1, 1]."""
    edges = copurchase_edges
    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    xs = []
    for u, v in edges:
        xs.append((deg[u], deg[v]))
        xs.append((deg[v], deg[u]))
    m = len(xs)
    sx = sum(x for x, _ in xs)
    sxx = sum(x * x for x, _ in xs)
    sxy = sum(x * y for x, y in xs)
    [r] = REGISTRY["degree_assortativity"].fn(spark, SF_SMOKE).collect()
    assert r.n_nodes == len(deg)
    assert r.n_edges == len(edges)
    assert r.max_degree == max(deg.values())
    assert abs(r.mean_edge_degree - sx / m) < 1e-4
    den = m * sxx - sx * sx
    if den > 0:
        expected_r = (m * sxy - sx * sx) / den
        assert abs(r.assortativity_r - expected_r) < 1e-6
        assert -1.0 <= r.assortativity_r <= 1.0


# ---------------------------------------------------------------------------
# hits_hub_authority


def _round_half_up(x: float) -> int:
    """Engine-parity rounding for replays: Spark F.round (BigDecimal of
    the double's SHORTEST repr, HALF_UP) and DuckDB round (half away
    from zero; values here are positive) — Python round() is banker's
    and is a THIRD semantic that diverges on exact .5 grid values
    (review r10)."""
    return int(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
        )
    )


def _hits_python(edges, rounds, grid):
    """Reference replay: quantized HITS exactly as documented — exact
    integer sums, one sqrt + one division per half-round, re-quantized
    to the integer grid."""
    hubs = sorted({s for s, _ in edges})
    h = {u: grid for u in hubs}
    a = {}
    for _ in range(rounds):
        raw_a = {}
        for s, c in edges:
            raw_a[c] = raw_a.get(c, 0) + h[s]
        nrm = math.sqrt(float(sum(v * v for v in raw_a.values())))
        a = {c: _round_half_up(float(v) * float(grid) / nrm) for c, v in raw_a.items()}
        raw_h = {}
        for s, c in edges:
            raw_h[s] = raw_h.get(s, 0) + a[c]
        nrm = math.sqrt(float(sum(v * v for v in raw_h.values())))
        h = {u: _round_half_up(float(v) * float(grid) / nrm) for u, v in raw_h.items()}
    return h, a


def _trade_edges(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")
    return sorted(
        {
            (r["s"], r["c"])
            for r in li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
            .distinct()
            .collect()
        }
    )


def test_hits_matches_python_replay(spark):
    edges = _trade_edges(spark)
    h, a = _hits_python(edges, _HITS_ROUNDS, _HITS_GRID)
    out_deg = {}
    in_deg = {}
    for s, c in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
        in_deg[c] = in_deg.get(c, 0) + 1
    expected = {("hub", u): (h[u], out_deg[u]) for u in h}
    expected.update(
        {("authority", c): (a[c], in_deg[c]) for c in a}
    )
    rows = REGISTRY["hits_hub_authority"].fn(spark, SF_SMOKE).collect()
    got = {
        (r["role"], r["node"]): (r["score_q"], r["degree"]) for r in rows
    }
    assert got == expected


def test_hits_stationary_by_final_round(spark):
    """The docstring's convergence claim, pinned — CORRECTED at r11:
    the quantized lattice dithers by one micro-unit rather than exactly
    settling (probed at sf0.01/sf0.1: max |Δ| = 1 on 3-5% of nodes,
    forever), so the budget claim is 'round _HITS_ROUNDS is within one
    quantum of round _HITS_ROUNDS+1 — a fourth round buys nothing but
    the last-quantum re-roll'. On the smoke graph the agreement happens
    to be exact; assert the one-quantum bound (the portable claim) and
    the exactness separately so a smoke-data refresh fails softly."""
    edges = _trade_edges(spark)
    h_last, a_last = _hits_python(edges, _HITS_ROUNDS, _HITS_GRID)
    h_next, a_next = _hits_python(edges, _HITS_ROUNDS + 1, _HITS_GRID)
    for last, nxt in ((h_last, h_next), (a_last, a_next)):
        assert set(last) == set(nxt)
        assert max(abs(last[n] - nxt[n]) for n in last) <= 1
    # exact on THIS graph (sf0.001) — informative, not the portable claim
    assert h_last == h_next and a_last == a_next


def test_hits_score_bounds_and_l2(spark):
    """Quantized scores stay on the documented grid: every score is in
    (0, grid], and each side's L2 norm is within one quantization step
    of the grid (sum of squares ~= grid^2)."""
    rows = REGISTRY["hits_hub_authority"].fn(spark, SF_SMOKE).collect()
    assert rows, "empty HITS output"
    for role in ("hub", "authority"):
        scores = [r["score_q"] for r in rows if r["role"] == role]
        assert scores and all(0 < s <= _HITS_GRID for s in scores)
        l2 = math.sqrt(sum(s * s for s in scores))
        assert abs(l2 - _HITS_GRID) <= len(scores)  # rounding slack


def test_hits_iterative_kit_disciplines(spark):
    """HITS' iterative-kit discipline, pinned structurally: the final
    plan consumes the PERSISTED edge relation via InMemoryTableScan
    (never re-planning the lineitem⋈orders build) and the final-round
    scores via localCheckpointed RDD scans — the same pins the
    kcore/LPA family carries. (Shape presence only: textual scan
    counts under a cached relation print per consumer, and the cache
    registry also holds the checkpoint RDDs, so neither is a reliable
    count — review r10.)"""
    df = REGISTRY["hits_hub_authority"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan  # edges cache
    assert "Scan ExistingRDD" in plan  # checkpointed score relations
    assert "SortMergeJoin" not in plan  # node-keyed joins broadcast/hash


# ---------------------------------------------------------------------------
# triangle_clustering_coefficient


def test_triangle_census_matches_python_replay(spark, copurchase_edges):
    edges = copurchase_edges
    adj = {}
    deg = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    tri_per_node = {n: 0 for n in deg}
    n_tri = 0
    for u, v in edges:
        common = adj[u] & adj[v]
        for w in common:
            if w > v:  # u < v < w counts each triangle once (edges u<v)
                if (u, v) in edges and (v, w) in edges and (u, w) in edges:
                    n_tri += 1
                    for node in (u, v, w):
                        tri_per_node[node] += 1
    n_wedges = sum(d * (d - 1) // 2 for d in deg.values())
    micro = sum(
        _round_half_up(
            2.0 * tri_per_node[n] * _TRI_GRID / (deg[n] * (deg[n] - 1))
        )
        if deg[n] >= 2
        else 0
        for n in deg
    )
    row = (
        REGISTRY["triangle_clustering_coefficient"]
        .fn(spark, SF_SMOKE)
        .collect()[0]
    )
    assert row["n_nodes"] == len(deg)
    assert row["n_edges"] == len(edges)
    assert row["n_wedges"] == n_wedges
    assert row["n_triangles"] == n_tri
    assert row["local_micro_sum"] == micro
    if n_wedges:
        assert row["transitivity"] == round(3.0 * n_tri / n_wedges, 6)
    assert row["avg_local_clustering"] == round(
        micro / len(deg) / _TRI_GRID, 6
    )


def test_triangle_orientation_counts_each_once(spark):
    """The degree-ordered orientation must count the same triangles as
    the naive u<v<w enumeration — i.e. orientation is a counting
    strategy, not a semantics change. Verified by the replay above;
    here pin the structural identities instead: 3*triangles <= wedges
    (every triangle closes 3 wedges) and each local coefficient <= 1
    (micro sum <= grid * nodes)."""
    row = (
        REGISTRY["triangle_clustering_coefficient"]
        .fn(spark, SF_SMOKE)
        .collect()[0]
    )
    assert 3 * row["n_triangles"] <= row["n_wedges"]
    assert 0 <= row["local_micro_sum"] <= _TRI_GRID * row["n_nodes"]


# ---------------------------------------------------------------------------
# graph_core_decomposition_full


def test_core_decomposition_matches_python_matula_beck(spark, copurchase_edges):
    """Independent replay: build the support-thresholded co-purchase
    edges in Python, compute TRUE per-node coreness by peeling each
    k-core to an honest fixpoint (no unroll budget — this independently
    validates the plan's converged certificate, not just its values),
    and compare every node's coreness plus both certificate flags."""
    edges = copurchase_edges
    all_nodes = {n for e in edges for n in e}

    def k_core(k: int, start: set) -> set:
        active = set(start)
        while True:
            deg = Counter()
            for u, v in edges:
                if u in active and v in active:
                    deg[u] += 1
                    deg[v] += 1
            nxt = {n for n in active if deg[n] >= k}
            if nxt == active:
                return active
            active = nxt

    coreness = dict.fromkeys(all_nodes, 0)
    core = all_nodes
    for k in range(1, _CORE_KMAX + 1):
        core = k_core(k, core)
        for n in core:
            coreness[n] = k
    probe = k_core(_CORE_KMAX + 1, core)

    rows = (
        REGISTRY["graph_core_decomposition_full"].fn(spark, SF_SMOKE).collect()
    )
    assert len(rows) == len(all_nodes)
    for r in rows:
        assert r.coreness == coreness[r.node], r.node
        assert r.truncated == (len(probe) > 0)
        # the replay peels to a true fixpoint, so if values agree the
        # plan's budget-bounded peel must have converged as it claims
        assert r.converged
    # nesting sanity: core sizes are monotone non-increasing in k
    sizes = [
        sum(1 for c in coreness.values() if c >= k)
        for k in range(1, _CORE_KMAX + 1)
    ]
    assert all(a >= b for a, b in zip(sizes, sizes[1:]))


# ---------------------------------------------------------------------------
# modularity_lpa_communities


def test_modularity_matches_python_replay(spark, copurchase_edges):
    """Independent replay: self-inclusive synchronous LPA (min-label
    ties) run to the 8-round budget in Python, then exact-rational
    modularity via the 4m^2-scaled integer numerator — every published
    column must match, and Q must equal the fractions.Fraction value."""
    edges = copurchase_edges
    nodes = sorted({n for e in edges for n in e})
    adj = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    labels = {n: n for n in nodes}
    for _ in range(_LPA_ROUNDS):
        votes = {}
        for n in nodes:
            cnt = Counter([labels[n]] + [labels[x] for x in adj[n]])
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            votes[n] = best[0]
        if votes == labels:
            break
        labels = votes
    m = len(edges)
    e_c = Counter()
    for u, v in edges:
        if labels[u] == labels[v]:
            e_c[labels[u]] += 1
    d_c = Counter()
    for n in nodes:
        d_c[labels[n]] += len(adj[n])
    comms = set(labels.values())
    q_num = sum(4 * m * e_c[c] - d_c[c] * d_c[c] for c in comms)
    q = Fraction(q_num, 4 * m * m)
    rows = (
        REGISTRY["modularity_lpa_communities"].fn(spark, SF_SMOKE).collect()
    )
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_nodes, r.n_edges, r.n_communities, r.n_intra_edges) == (
        len(nodes),
        m,
        len(comms),
        sum(e_c.values()),
    )
    assert r.modularity == float(
        decimal.Decimal(repr(q_num / (4.0 * m * m))).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )
    # sanity: Q in [-1/2, 1) and equals the exact rational to 6dp
    assert -0.5 <= float(q) < 1.0


# ---------------------------------------------------------------------------
# butterfly_count_bipartite


def test_butterfly_census_side_symmetry_and_replay(spark):
    """Brute-force replay on the smoke trade graph: codegree pairs
    enumerated on BOTH sides must give the same butterfly count (the
    side-symmetry the plan's dynamic pivot relies on), and all
    published columns must match."""
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pairs = {
        (r.l_suppkey, r.o_custkey)
        for r in li.join(
            orders, li["l_orderkey"] == orders["o_orderkey"]
        ).collect()
    }
    by_s = defaultdict(set)
    by_c = defaultdict(set)
    for s, c in pairs:
        by_s[s].add(c)
        by_c[c].add(s)
    wedges_s = sum(len(v) * (len(v) - 1) // 2 for v in by_s.values())
    wedges_c = sum(len(v) * (len(v) - 1) // 2 for v in by_c.values())
    sup_pairs = Counter()
    for c, ss in by_c.items():
        ss = sorted(ss)
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                sup_pairs[(ss[i], ss[j])] += 1
    cus_pairs = Counter()
    for s, cs in by_s.items():
        cs = sorted(cs)
        for i in range(len(cs)):
            for j in range(i + 1, len(cs)):
                cus_pairs[(cs[i], cs[j])] += 1
    bf_via_sup = sum(w * (w - 1) // 2 for w in sup_pairs.values())
    bf_via_cus = sum(w * (w - 1) // 2 for w in cus_pairs.values())
    assert bf_via_sup == bf_via_cus  # side symmetry

    rows = (
        REGISTRY["butterfly_count_bipartite"].fn(spark, SF_SMOKE).collect()
    )
    assert len(rows) == 1
    r = rows[0]
    assert r.n_edges == len(pairs)
    assert (r.n_suppliers, r.n_customers) == (len(by_s), len(by_c))
    assert (r.wedges_supplier_centered, r.wedges_customer_centered) == (
        wedges_s,
        wedges_c,
    )
    assert r.n_butterflies == bf_via_sup


# ---------------------------------------------------------------------------
# link_prediction_common_neighbors


def test_link_prediction_matches_python_replay(spark, copurchase_edges):
    """Brute-force replay: common-neighbor counts for every non-edge
    pair at distance 2, ranked (cn DESC, u ASC, v ASC) — the top-k list
    must match row-for-row, and no returned pair may be an edge."""
    edges = copurchase_edges
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    cn = Counter()
    for center, nbs in adj.items():
        ns = sorted(nbs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                cn[(ns[i], ns[j])] += 1
    cand = [
        (u, v, c) for (u, v), c in cn.items() if (u, v) not in edges
    ]
    cand.sort(key=lambda r: (-r[2], r[0], r[1]))
    expected = cand[:_LINKPRED_K]
    rows = (
        REGISTRY["link_prediction_common_neighbors"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    got = [(r.u, r.v, r.common_neighbors) for r in rows]
    assert got == expected
    assert all((u, v) not in edges for u, v, _ in got)


# ---------------------------------------------------------------------------
# ktruss_peel_certificate


def test_ktruss_matches_python_peel(spark, copurchase_edges):
    """Python replay of the edge peel: per-round surviving-edge counts,
    the truss size and the convergence certificate must match; the
    count series must be monotone non-increasing; and the final truss
    must be a true fixpoint (one more Python round removes nothing) —
    independently validating the budget-bounded converged claim."""
    E = copurchase_edges
    n_initial = len(E)

    def one_round(E):
        adj = defaultdict(set)
        for u, v in E:
            adj[u].add(v)
            adj[v].add(u)
        return {
            (u, v)
            for (u, v) in E
            if len(adj[u] & adj[v]) >= _TRUSS_K - 2
        }

    counts = [len(E)]
    for _ in range(_TRUSS_ROUNDS):
        if len(counts) >= 2 and counts[-1] == counts[-2]:
            counts.append(counts[-1])
            continue
        E = one_round(E)
        counts.append(len(E))
    assert len(one_round(E)) == len(E)  # true fixpoint reached
    rows = (
        REGISTRY["ktruss_peel_certificate"].fn(spark, SF_SMOKE).collect()
    )
    assert len(rows) == _TRUSS_ROUNDS + 1
    got = {r.round_i: r for r in rows}
    for i, expected in enumerate(counts):
        r = got[i]
        assert r.n_active == expected, i
        assert (r.n_edges_initial, r.truss_k) == (n_initial, _TRUSS_K)
        assert r.n_in_truss == counts[-1]
        assert r.converged == (counts[-1] == counts[-2])
    assert all(a >= b for a, b in zip(counts, counts[1:]))


# ---------------------------------------------------------------------------
# link_prediction_resource_allocation


def test_resource_allocation_matches_bruteforce_replay(spark, copurchase_edges):
    """Independent replay: build the support-thresholded co-purchase
    graph in Python, score every non-adjacent pair by direct
    common-neighbor enumeration with exact-integer nano weights, and
    compare the full top-20 (score, cn, tie-order)."""
    edges = copurchase_edges
    nbrs = defaultdict(set)
    for u, v in edges:
        nbrs[u].add(v)
        nbrs[v].add(u)
    ra = {z: (2 * 10**9 + len(nbrs[z])) // (2 * len(nbrs[z])) for z in nbrs}
    scores = {}
    nodes = sorted(nbrs)
    for z in nodes:
        ns = sorted(nbrs[z])
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                pair = (ns[i], ns[j])
                if pair in edges:
                    continue
                cn, s = scores.get(pair, (0, 0))
                scores[pair] = (cn + 1, s + ra[z])
    want = sorted(
        ((u, v, cn, s) for (u, v), (cn, s) in scores.items()),
        key=lambda t: (-t[3], t[0], t[1]),
    )[:_LINKPRED_K]

    got = [
        (r["u"], r["v"], r["common_neighbors"], r["ra_nanos"])
        for r in link_prediction_resource_allocation(spark, SF_SMOKE).collect()
    ]
    assert got == want


def test_resource_allocation_nano_weights_hand_pinned():
    """Hand-pinned reciprocal quantization: deg 2 -> 500000000 nanos,
    deg 3 -> 333333333 (1e9/3 rounds DOWN at .33), deg 7 -> 142857143
    (1e9/7 = 142857142.86 rounds UP) — the (2e9 + d) // (2d) rule."""
    q = lambda d: (2 * 10**9 + d) // (2 * d)  # noqa: E731
    assert q(2) == 500_000_000
    assert q(3) == 333_333_333
    assert q(7) == 142_857_143
