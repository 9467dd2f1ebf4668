"""Placement-family tests: Python replays of the consistent-hashing and
rendezvous (HRW) rebalance audits with their pure-add conservation
identities, the consistent-hashing plan shape, the Hilbert layout key,
and the Pareto skyline of parts. Value-level oracle parity is covered
by the registry-wide oracle diff in test_oracle.py.
"""

from __future__ import annotations

import datetime

from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE, md5_60
from tests.plan_invariants import executed_plan


# ---------------------------------------------------------------------------
# consistent_hashing_rebalance_audit


def _ring(n_shards: int, vnodes: int, salt: str):
    return sorted(
        (md5_60(f"{salt}{s}:{v}"), s)
        for s in range(n_shards)
        for v in range(vnodes)
    )


def _owner(ring, kpos: int) -> int:
    for pos, shard in ring:  # ring sorted ascending
        if kpos <= pos:
            return shard
    return ring[0][1]  # wrap


def test_consistent_hashing_matches_python_ring_walk(spark, custkeys):
    from ecommerce_data_pipeline_spark.plans.placement import (
        _CHR_KEY_SALT,
        _CHR_RING_SALT,
        _CHR_SHARDS,
        _CHR_VNODES,
    )

    ring_a = _ring(_CHR_SHARDS, _CHR_VNODES, _CHR_RING_SALT)
    ring_b = _ring(_CHR_SHARDS + 1, _CHR_VNODES, _CHR_RING_SALT)
    asg = {
        k: (
            _owner(ring_a, md5_60(f"{_CHR_KEY_SALT}{k}")),
            _owner(ring_b, md5_60(f"{_CHR_KEY_SALT}{k}")),
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


def test_consistent_hashing_plans_case_lookup_no_joins(spark):
    """The ring-audit scale claim: the ring is a plan-build-time
    constant, so key->shard assignment compiles to a sorted CASE chain
    over literal positions — NO join of any kind touches the fact, and
    no fact-shaped intermediate is persisted; the audit is one
    projection + one hash aggregate to the <=81-row transition matrix,
    everything after is grid-sized."""
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
    # no persisted fact-shaped intermediate...
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
# rendezvous_hashing_audit


def test_hrw_matches_python_replay(spark, custkeys):
    from ecommerce_data_pipeline_spark.plans.placement import (
        _HRW_SALT,
        _HRW_SHARDS,
    )

    n = _HRW_SHARDS
    asg = {}
    for k in custkeys:
        scores = [
            md5_60(f"{_HRW_SALT}{j}:{k}") for j in range(n + 1)
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
# hilbert_layout_key


def test_hilbert_curve_properties_and_replay(spark, order_cents):
    """Three independent checks: (1) the full 256x256 walk is a
    BIJECTION onto [0, 65536); (2) consecutive keys are always
    grid-ADJACENT (|dx|+|dy| = 1 — the locality property that
    distinguishes Hilbert from Morton order, which has 255-cell
    diagonal jumps); (3) the query's per-order keys equal the Python
    walk re-derived from (custkey, order-day)."""
    from ecommerce_data_pipeline_spark.plans.placement import (
        _HILBERT_SIDE,
        _hilbert_d,
    )

    cells = {}
    for x in range(_HILBERT_SIDE):
        for y in range(_HILBERT_SIDE):
            cells[_hilbert_d(x, y)] = (x, y)
    assert len(cells) == _HILBERT_SIDE * _HILBERT_SIDE  # bijection
    for d in range(_HILBERT_SIDE * _HILBERT_SIDE - 1):
        x1, y1 = cells[d]
        x2, y2 = cells[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d  # unit-step locality

    epoch = datetime.date(1970, 1, 1)
    rows = REGISTRY["hilbert_layout_key"].fn(spark, SF_SMOKE).collect()
    src = {r.o_orderkey: (r.o_custkey, r.o_orderdate) for r in order_cents}
    assert len(rows) == len(src)
    for r in rows:
        ck, od = src[r.o_orderkey]
        xb = ck % 256
        yb = (od.date() - epoch).days % 256
        assert (r.xb, r.yb) == (xb, yb)
        assert r.hval == _hilbert_d(xb, yb)
        assert r.file_id == r.hval // 1024


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
