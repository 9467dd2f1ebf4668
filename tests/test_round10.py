"""Property tests for the round-10 queries: the consistent-hashing
rebalance audit (Python replay of the ring walk, the
exactly-one-owning-arc partition property, and the conservation
identities). The HITS and triangle tests live in test_graph.py.
Value-level oracle parity is covered by the registry-wide oracle diff
in test_oracle.py.
"""

from __future__ import annotations

import hashlib
import math

from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE
from tests.plan_invariants import executed_plan


# ---------------------------------------------------------------------------
# consistent_hashing_rebalance_audit


def _hash60_py(salt: str, key: str) -> int:
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:15], 16)


def _ring(n_shards: int, vnodes: int, salt: str):
    return sorted(
        (_hash60_py(salt, f"{s}:{v}"), s)
        for s in range(n_shards)
        for v in range(vnodes)
    )


def _owner(ring, kpos: int) -> int:
    for pos, shard in ring:  # ring sorted ascending
        if kpos <= pos:
            return shard
    return ring[0][1]  # wrap


def test_consistent_hashing_matches_python_ring_walk(spark):
    from ecommerce_data_pipeline_spark.plans.placement import (
        _CHR_KEY_SALT,
        _CHR_RING_SALT,
        _CHR_SHARDS,
        _CHR_VNODES,
    )

    custkeys = [
        r["c_custkey"]
        for r in load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey")
        .collect()
    ]
    ring_a = _ring(_CHR_SHARDS, _CHR_VNODES, _CHR_RING_SALT)
    ring_b = _ring(_CHR_SHARDS + 1, _CHR_VNODES, _CHR_RING_SALT)
    asg = {
        k: (
            _owner(ring_a, _hash60_py(_CHR_KEY_SALT, str(k))),
            _owner(ring_b, _hash60_py(_CHR_KEY_SALT, str(k))),
        )
        for k in custkeys
    }
    total = len(asg)
    n_moved = sum(1 for a, b in asg.values() if a != b)
    expected = {}
    for shard in range(_CHR_SHARDS + 1):
        n_before = sum(1 for a, _ in asg.values() if a == shard)
        n_after = sum(1 for _, b in asg.values() if b == shard)
        n_in = sum(1 for a, b in asg.values() if b == shard and a != b)
        expected[shard] = (n_before, n_after, n_in)
    rows = (
        REGISTRY["consistent_hashing_rebalance_audit"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    assert len(rows) == _CHR_SHARDS + 1
    for r in rows:
        assert (r["n_before"], r["n_after"], r["n_moved_in"]) == expected[
            r["shard"]
        ]
        assert r["total_keys"] == total
        assert r["n_moved"] == n_moved
        assert r["moved_frac"] == round(n_moved / total, 6)
        assert r["theory_frac"] == round(1.0 / (_CHR_SHARDS + 1), 6)


def test_consistent_hashing_conservation_and_bound(spark):
    """Structural identities: every key owned in both epochs (before and
    after counts each sum to total), the new shard's keys are all
    arrivals, and the moved set is exactly the keys the RESIZE captures
    — for a pure shard-add, a key moves iff it lands on shard N after
    (old owners never exchange keys among themselves: their ring points
    are unchanged, so an arc can only SHRINK by ceding to the new
    shard's points)."""
    from ecommerce_data_pipeline_spark.plans.placement import _CHR_SHARDS

    rows = (
        REGISTRY["consistent_hashing_rebalance_audit"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    total = rows[0]["total_keys"]
    assert sum(r["n_before"] for r in rows) == total
    assert sum(r["n_after"] for r in rows) == total
    new_shard = next(r for r in rows if r["shard"] == _CHR_SHARDS)
    assert new_shard["n_before"] == 0
    assert new_shard["n_moved_in"] == new_shard["n_after"]
    # pure-add invariant: ALL movement lands on the new shard
    assert sum(r["n_moved_in"] for r in rows) == new_shard["n_after"]
    assert rows[0]["n_moved"] == new_shard["n_after"]


# ---------------------------------------------------------------------------
# plan-shape pins for the r10 queries


def test_consistent_hashing_plans_case_lookup_no_joins(spark):
    """The ring-audit scale claim, re-pinned for the r13 form: the ring
    is a plan-build-time constant, so key->shard assignment compiles to
    a sorted CASE chain over literal positions — NO join of any kind
    touches the fact (the two BroadcastNestedLoopJoins, the persisted
    fact-shaped intermediate, and the three fact passes of the r10 form
    are gone; the audit is one projection + one hash aggregate to the
    <=81-row transition matrix, everything after is grid-sized)."""
    import uuid

    from perfbench.trace import job_group_counters

    sc = spark.sparkContext

    def input_bytes(action) -> int:
        group = f"chr-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return job_group_counters(spark, group)["input_bytes"]

    df = REGISTRY["consistent_hashing_rebalance_audit"].fn(spark, SF_SMOKE)
    audit_bytes = input_bytes(df.collect)
    plan = executed_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CASE WHEN" in plan and "kpos" in plan  # the literal lookup
    # r10's persisted fact-shaped intermediate is gone...
    assert "InMemoryTableScan" not in plan
    # ...and the matrix serves all its consumers from ONE fact pass: the
    # audit reads exactly the bytes of one scan of customer.c_custkey
    # (a counter from the status store, not a plan-text rendering)
    scan_bytes = input_bytes(
        lambda: load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    assert audit_bytes == scan_bytes > 0


# ---------------------------------------------------------------------------
# mcnemar_repeat_purchase


def test_mcnemar_matches_python_replay(spark):
    import datetime

    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _MCN_CHI2_CRIT,
        _MCN_SPLIT,
    )

    split = datetime.datetime.fromisoformat(_MCN_SPLIT)
    flags = {}
    for r in (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_custkey", "o_orderdate")
        .collect()
    ):
        a, b = flags.get(r["o_custkey"], (0, 0))
        if r["o_orderdate"] < split:
            a = 1
        else:
            b = 1
        flags[r["o_custkey"]] = (a, b)
    custs = [
        r["c_custkey"]
        for r in load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey")
        .collect()
    ]
    cells = {"both": 0, "neither": 0, "a": 0, "b": 0}
    for c in custs:
        a, b = flags.get(c, (0, 0))
        cells[
            "both" if a and b else "neither" if not (a or b) else "a" if a else "b"
        ] += 1
    row = REGISTRY["mcnemar_repeat_purchase"].fn(spark, SF_SMOKE).collect()[0]
    assert row["n_customers"] == len(custs)
    assert (row["n_both"], row["n_neither"], row["n_a_only"], row["n_b_only"]) == (
        cells["both"],
        cells["neither"],
        cells["a"],
        cells["b"],
    )
    b_, c_ = cells["a"], cells["b"]
    if b_ + c_:
        x2 = (abs(b_ - c_) - 1) ** 2 / (b_ + c_)
        assert row["mcnemar_stat"] == round(x2, 6)
        assert row["significant_05"] == (x2 > _MCN_CHI2_CRIT["05"])
        assert row["significant_01"] == (x2 > _MCN_CHI2_CRIT["01"])


# ---------------------------------------------------------------------------
# cochran_q_event_types


def test_cochran_q_matches_python_replay(spark):
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _CHI2_CRIT_01,
        _CHI2_CRIT_05,
    )

    pairs = {
        (r["user_id"], r["event_type"])
        for r in load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type")
        .collect()
    }
    col = {}
    row = {}
    for u, t in pairs:
        col[t] = col.get(t, 0) + 1
        row[u] = row.get(u, 0) + 1
    k = len(col)
    t_tot = sum(col.values())
    scs = sum(c * c for c in col.values())
    srs = sum(r * r for r in row.values())
    den = k * t_tot - srs
    q = (k - 1) * (k * scs - t_tot * t_tot) / den if den > 0 else None
    r0 = REGISTRY["cochran_q_event_types"].fn(spark, SF_SMOKE).collect()[0]
    assert (
        r0["n_users"],
        r0["k_treatments"],
        r0["grand_total"],
        r0["sum_col_sq"],
        r0["sum_row_sq"],
        r0["df"],
    ) == (len(row), k, t_tot, scs, srs, k - 1)
    if q is None:
        assert r0["q_stat"] is None
    else:
        assert r0["q_stat"] == round(q, 6)
        assert r0["significant_05"] == (q > _CHI2_CRIT_05[k - 2])
        assert r0["significant_01"] == (q > _CHI2_CRIT_01[k - 2])


def test_cochran_q_reduces_to_uncorrected_mcnemar_at_k2(spark):
    """The ladder claim, pinned algebraically on the live data: restrict
    the matrix to two treatments and Cochran's Q equals the UNCORRECTED
    McNemar statistic (b-c)^2/(b+c) — the identity that makes Q the
    k-treatment rung above mcnemar_repeat_purchase."""
    pairs = {
        (r["user_id"], r["event_type"])
        for r in load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type")
        .collect()
    }
    types = sorted({t for _, t in pairs})[:2]
    users = {u for u, _ in pairs}
    b = sum(
        1
        for u in users
        if (u, types[0]) in pairs and (u, types[1]) not in pairs
    )
    c = sum(
        1
        for u in users
        if (u, types[0]) not in pairs and (u, types[1]) in pairs
    )
    # Q over the 2-column matrix, rows = users touching either type
    rows2 = {
        u: ((u, types[0]) in pairs) + ((u, types[1]) in pairs)
        for u in users
    }
    rows2 = {u: r for u, r in rows2.items() if r}
    k = 2
    col = [
        sum(1 for u in rows2 if (u, t) in pairs) for t in types
    ]
    t_tot = sum(col)
    scs = sum(x * x for x in col)
    srs = sum(r * r for r in rows2.values())
    den = k * t_tot - srs
    if den and b + c:
        q = (k - 1) * (k * scs - t_tot * t_tot) / den
        assert math.isclose(q, (b - c) ** 2 / (b + c), rel_tol=1e-12)


# ---------------------------------------------------------------------------
# rendezvous_hashing_audit


def test_hrw_matches_python_replay(spark):
    from ecommerce_data_pipeline_spark.plans.placement import (
        _HRW_SALT,
        _HRW_SHARDS,
    )

    n = _HRW_SHARDS
    custkeys = [
        r["c_custkey"]
        for r in load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey")
        .collect()
    ]
    asg = {}
    for k in custkeys:
        scores = [
            _hash60_py(f"{_HRW_SALT}{j}:", str(k)) for j in range(n + 1)
        ]
        asg[k] = (
            scores[:n].index(max(scores[:n])),
            scores.index(max(scores)),
        )
    total = len(asg)
    n_moved = sum(1 for a, b in asg.values() if a != b)
    rows = REGISTRY["rendezvous_hashing_audit"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == n + 1
    for r in rows:
        sh = r["shard"]
        assert r["n_before"] == sum(1 for a, _ in asg.values() if a == sh)
        assert r["n_after"] == sum(1 for _, b in asg.values() if b == sh)
        assert r["n_moved_in"] == sum(
            1 for a, b in asg.values() if b == sh and a != b
        )
        assert r["total_keys"] == total and r["n_moved"] == n_moved
        assert r["moved_frac"] == round(n_moved / total, 6)


def test_hrw_pure_add_conservation(spark):
    """Pure-add resize invariant (the ring-audit twin): old shards'
    pairwise scores are unchanged, so ALL movement lands on the new
    shard, and both epochs partition the keys."""
    from ecommerce_data_pipeline_spark.plans.placement import _HRW_SHARDS

    rows = REGISTRY["rendezvous_hashing_audit"].fn(spark, SF_SMOKE).collect()
    total = rows[0]["total_keys"]
    assert sum(r["n_before"] for r in rows) == total
    assert sum(r["n_after"] for r in rows) == total
    new = next(r for r in rows if r["shard"] == _HRW_SHARDS)
    assert new["n_before"] == 0
    assert new["n_moved_in"] == new["n_after"] == rows[0]["n_moved"]
    assert sum(r["n_moved_in"] for r in rows) == new["n_after"]


# ---------------------------------------------------------------------------
# pareto_skyline_parts


def _part_points(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    part = load_table(spark, SF_SMOKE, "part")
    price = {
        r["p_partkey"]: int(round(float(r["p_retailprice"]) * 100))
        for r in part.select("p_partkey", "p_retailprice").collect()
    }
    qty = {}
    for r in li.select("l_partkey", "l_quantity").collect():
        q = int(r["l_quantity"])
        qty[r["l_partkey"]] = max(qty.get(r["l_partkey"], 0), q)
    return {pk: (price[pk], q) for pk, q in qty.items()}


def test_skyline_matches_quadratic_python_replay(spark):
    """The sweep must equal the textbook O(n^2) dominance check."""
    pts = _part_points(spark)
    expected = set()
    for pk, (p, q) in pts.items():
        dominated = any(
            (p2 <= p and q2 >= q and (p2 < p or q2 > q))
            for pk2, (p2, q2) in pts.items()
            if pk2 != pk
        )
        if not dominated:
            expected.add((pk, p, q))
    rows = REGISTRY["pareto_skyline_parts"].fn(spark, SF_SMOKE).collect()
    got = {(r["p_partkey"], r["price_cents"], r["max_qty"]) for r in rows}
    assert got == expected and len(rows) == len(got)


def test_skyline_is_a_chain(spark):
    """Structural skyline property: sorted by price ascending, the
    surviving quantities are STRICTLY INCREASING — a pricier skyline
    point must offer strictly more quantity, else the cheaper point
    (<= price, >= qty, one strict) would dominate it."""
    rows = REGISTRY["pareto_skyline_parts"].fn(spark, SF_SMOKE).collect()
    by_price = sorted({(r["price_cents"], r["max_qty"]) for r in rows})
    for (p1, q1), (p2, q2) in zip(by_price, by_price[1:]):
        assert p1 < p2 and q1 < q2
