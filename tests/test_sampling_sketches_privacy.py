"""Sampling, sketch and privacy tests: the hash-threshold samples and
the reservoir merge (distribution bounds, subset and rerun stability),
the HLL window union, the equi-width histogram quantiles and the KMV
intersection (Python replays of each sketch), and the privacy audits —
k-anonymity generalization, t-closeness, contribution bounding and the
erasure cascade. Value-level oracle parity is covered by the
registry-wide oracle diff in test_oracle.py; these pin the contracts
the oracle can't see.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE, md5_60


# --------------------------------------------------------------------------
# Hash-threshold sampling


def test_hash_sample_k50_exact_distinct_and_stable(spark):
    q = REGISTRY["sample_orders_k50"].fn
    a = q(spark, SF_SMOKE).select("o_orderkey").collect()
    b = q(spark, SF_SMOKE).select("o_orderkey").collect()
    keys = [r["o_orderkey"] for r in a]
    assert len(keys) == 50 and len(set(keys)) == 50
    assert sorted(keys) == sorted(r["o_orderkey"] for r in b)  # rerun-stable


def test_hash_fraction_sample_within_band_and_subset(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    n = li.count()
    samp = REGISTRY["sample_lineitem_fraction"].fn(spark, SF_SMOKE)
    k = samp.count()
    # 1% hash-threshold Bernoulli: same 5-sigma band as the seeded form
    assert abs(k - 0.01 * n) <= 5 * math.sqrt(0.01 * n * 0.99) + 3
    assert (
        samp.join(
            li.select("l_orderkey", "l_linenumber", "l_quantity"),
            ["l_orderkey", "l_linenumber", "l_quantity"],
            "left_anti",
        ).count()
        == 0
    )


def test_hash_fk_enrichment_covers_and_preserves(spark):
    events = load_table(spark, SF_SMOKE, "events")
    part = load_table(spark, SF_SMOKE, "part")
    out = REGISTRY["random_fk_enrichment"].fn(spark, SF_SMOKE)
    stats = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("event_id").alias("nd"),
        F.count_distinct("p_partkey").alias("bins"),
    ).first()
    n_events, n_parts = events.count(), part.count()
    assert stats["n"] == n_events and stats["nd"] == n_events
    assert (
        out.select("p_partkey")
        .join(part.select("p_partkey"), "p_partkey", "left_anti")
        .count()
        == 0
    )
    expected_bins = n_parts * (1 - math.exp(-n_events / max(n_parts, 1)))
    assert stats["bins"] >= 0.5 * expected_bins


def test_hash_stratified_sample_respects_per_stratum_fractions(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    out = REGISTRY["stratified_sample_langs"].fn(spark, SF_SMOKE)
    kept = {r["lang"]: r["n"] for r in out.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    for lang, n in totals.items():
        k = kept.get(lang, 0)
        if lang == "en":
            assert abs(k - 0.3 * n) <= 5 * math.sqrt(0.3 * n * 0.7) + 3
        else:
            assert k == n  # fraction-1.0 strata keep every row


# --------------------------------------------------------------------------
# reservoir_sample_merge


def test_reservoir_merge_equals_global_and_subset(spark):
    out = REGISTRY["reservoir_sample_merge"].fn(spark, SF_SMOKE)
    rows = out.collect()
    assert len(rows) == 20
    orders = load_table(spark, SF_SMOKE, "orders")
    # Python replay of the GLOBAL sample (no sharding) — merge property
    import hashlib

    keys = [r["o_orderkey"] for r in orders.select("o_orderkey").collect()]
    expected = sorted(
        keys,
        key=lambda k: (hashlib.md5(f"res1#{k}".encode()).hexdigest(), k),
    )[:20]
    got = sorted(
        (r for r in rows),
        key=lambda r: (r["race_key"], r["o_orderkey"]),
    )
    assert [r["o_orderkey"] for r in got] == expected


# --------------------------------------------------------------------------
# hyperloglog_union_over_time


def test_hll_union_register_accounting_and_accuracy(spark):
    rows = REGISTRY["hyperloglog_union_over_time"].fn(spark, SF_SMOKE).collect()
    assert rows
    errs = []
    for r in rows:
        assert r["buckets_present"] + r["v_zero"] == 64
        # sum_int = sum over registers of 2^54 * 2^-rho, rho >= 1 on
        # present buckets => bounds
        assert r["sum_int"] <= 64 * 2**54
        assert r["sum_int"] >= r["buckets_present"] + r["v_zero"] * 2**54
        assert r["hll_estimate"] > 0
        errs.append(r["rel_error"])
    errs.sort()
    # m=64 => sigma ~ 1.04/8 = 13%; median well inside, tails bounded
    assert errs[len(errs) // 2] <= 0.20
    assert errs[-1] <= 0.60


# --------------------------------------------------------------------------
# histogram_quantile_window_merge


def test_histogram_quantile_matches_python_replay(spark):
    """Full Python replay of the sketch algorithm (daily equi-width
    histograms → 7-day count merge → rank-convention interpolation)
    from the raw events — the _dense_simulation pattern. Also pins the
    eval contract: the estimate's BIN must contain the ceil-rank order
    statistic of the exact window (a fixed error bound in dollars does
    NOT hold — a sparse tail bin can put the floor-rank statistic many
    bins below, which is a property of equi-width sketches, not a
    defect)."""
    rows = (
        REGISTRY["histogram_quantile_window_merge"].fn(spark, SF_SMOKE).collect()
    )
    assert rows
    events = load_table(spark, SF_SMOKE, "events").select("ts", "value").collect()
    by_day: dict = {}
    for e in events:
        by_day.setdefault(e["ts"].date(), []).append(e["value"])
    days = sorted(by_day)
    for r in rows:
        d = r["day"]
        window_vals = sorted(
            v
            for day in days
            if 0 <= (d - day).days <= 6
            for v in by_day[day]
        )
        n = len(window_vals)
        assert r["n_window"] == n
        hist = Counter(
            min(31, round(v * 100) // 2000) for v in window_vals
        )
        for qtag, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            target = q * (n - 1) + 1
            cum = 0
            for b in sorted(hist):
                prev, cum = cum, cum + hist[b]
                if prev < target <= cum:
                    est = round(
                        (b * 2000 + 2000.0 * (target - prev) / hist[b])
                        / 100.0,
                        4,
                    )
                    break
            assert r[f"est_{qtag}"] == pytest.approx(est, abs=1e-9)
            # the ceil-rank order statistic lives in the estimate's bin
            stat = window_vals[min(n, math.ceil(target)) - 1]
            assert min(31, round(stat * 100) // 2000) == b
        assert r["est_p50"] <= r["est_p90"] <= r["est_p99"]


# --------------------------------------------------------------------------
# kmv_sketch_intersection


def test_kmv_matches_python_replay(spark):
    """Python replay of the KMV construction — per-set sketches, union
    sketch, theta, and both estimators — plus the unsaturated-sketch
    exactness property."""
    from ecommerce_data_pipeline_spark.plans.sketches import (
        _KMV_K,
        _KMV_M,
        _KMV_SALT,
        _KMV_YEAR_A,
        _KMV_YEAR_B,
    )

    rows = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_custkey", F.year("o_orderdate").alias("yr"))
        .collect()
    )
    in_a, in_b = set(), set()
    for r in rows:
        if r.yr == _KMV_YEAR_A:
            in_a.add(r.o_custkey)
        if r.yr == _KMV_YEAR_B:
            in_b.add(r.o_custkey)

    def h(c):
        return md5_60(f"{_KMV_SALT}{c}")

    ska = set(sorted(in_a, key=lambda c: (h(c), c))[:_KMV_K])
    skb = set(sorted(in_b, key=lambda c: (h(c), c))[:_KMV_K])
    l = sorted(ska | skb, key=lambda c: (h(c), c))[:_KMV_K]
    n_l, theta = len(l), max(h(c) for c in l)
    n_common = sum(1 for c in l if c in ska and c in skb)
    est_union = (
        float(n_l) if n_l < _KMV_K else (_KMV_K - 1) * _KMV_M / theta
    )
    est_inter = n_common / n_l * est_union
    [r] = REGISTRY["kmv_sketch_intersection"].fn(spark, SF_SMOKE).collect()
    assert (r.exact_a, r.exact_b) == (len(in_a), len(in_b))
    assert r.exact_union == len(in_a | in_b)
    assert r.exact_intersection == len(in_a & in_b)
    assert (r.union_sketch_size, r.n_common) == (n_l, n_common)
    assert abs(r.est_union - est_union) < 0.01
    assert abs(r.est_intersection - est_inter) < 0.01
    if n_l < _KMV_K:  # unsaturated sketches ARE the sets — estimator exact
        assert r.est_union == r.exact_union


# --------------------------------------------------------------------------
# group_k_anonymity_generalize


def test_k_anonymity_generalize_released_classes_are_k_anonymous(spark):
    """The guarantee holds on the RELEASED equivalence classes —
    Counter over the actually-published (gen_geo, gen_segment,
    gen_year) tuples — which are ≥ k at every level below the
    suppression backstop, and class_size reports exactly that released
    count (not a pre-release lattice-level count)."""
    out = REGISTRY["group_k_anonymity_generalize"].fn(spark, SF_SMOKE)
    k = 5
    rows = out.collect()
    n_orders = load_table(spark, SF_SMOKE, "orders").count()
    assert len(rows) == n_orders  # every record released exactly once
    classes = Counter(
        (r["gen_geo"], r["gen_segment"], r["gen_year"]) for r in rows
    )
    for r in rows:
        released = classes[(r["gen_geo"], r["gen_segment"], r["gen_year"])]
        # class_size IS the released-class cardinality, exactly
        assert r["class_size"] == released, r
        if r["anon_level"] <= 3:
            # the k-anonymity guarantee on the released dataset
            assert released >= k, r
        else:
            # level 4 = the single fully-suppressed residual class
            assert (r["gen_geo"], r["gen_segment"], r["gen_year"]) == (
                "*",
                "*",
                "*",
            )
    # minimality spot-check: a level-1 record's finer (nation, segment,
    # year) class must have been < k — otherwise it would be level 0
    lvl0_keys = {
        (r["gen_geo"], r["gen_segment"], r["gen_year"])
        for r in rows
        if r["anon_level"] == 0
    }
    for key in lvl0_keys:
        assert classes[key] >= k


# --------------------------------------------------------------------------
# t_closeness_audit


def test_t_closeness_matches_python_replay(spark):
    """Python replay of the per-class TVD (full domain grid including
    zero cells) and the breach summary; TVD must be in [0, 1] and the
    population-weighted class distributions must reconcile with the
    global one."""
    from fractions import Fraction

    from ecommerce_data_pipeline_spark.plans.profiling_tests import _TCLOSE_T

    nation_of = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, SF_SMOKE, "nation").collect()
    }
    cust = {
        r.c_custkey: (nation_of[r.c_nationkey], r.c_mktsegment)
        for r in load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .collect()
    }
    rows = (
        load_table(spark, SF_SMOKE, "orders")
        .select(
            "o_custkey",
            F.year("o_orderdate").cast("int").alias("yr"),
            "o_orderpriority",
        )
        .collect()
    )
    cells = Counter()
    for r in rows:
        nation, seg = cust[r.o_custkey]
        cells[(nation, seg, r.yr, r.o_orderpriority)] += 1
    dom = Counter()
    classes = defaultdict(int)
    for (na, se, yr, s), c in cells.items():
        dom[s] += c
        classes[(na, se, yr)] += c
    n = sum(dom.values())
    expected = {}
    for key, n_c in classes.items():
        num = sum(
            abs(cells.get(key + (s,), 0) * n - g * n_c)
            for s, g in dom.items()
        )
        tvd_exact = Fraction(num, 2 * n_c * n)
        expected[key] = (n_c, float(num / (2.0 * n_c * n)), tvd_exact)
    got = {
        (r.nation, r.segment, r.order_year): r
        for r in REGISTRY["t_closeness_audit"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expected)
    breach_rows = 0
    max_tvd = 0.0
    for key, (n_c, tvd_f, tvd_exact) in expected.items():
        r = got[key]
        assert 0 <= tvd_exact <= 1
        assert r.class_size == n_c
        assert abs(r.tvd - tvd_f) < 1e-6, key
        assert r.meets_t == (r.tvd <= _TCLOSE_T)
        if r.tvd > _TCLOSE_T:
            breach_rows += n_c
        max_tvd = max(max_tvd, r.tvd)
    any_row = next(iter(got.values()))
    assert any_row.n_classes == len(expected)
    assert any_row.rows_breaching == breach_rows
    assert abs(any_row.max_tvd - max_tvd) < 1e-9


# --------------------------------------------------------------------------
# dp_contribution_bounding


def test_dp_bounding_matches_python_replay(spark, order_cents, segment_of):
    """Python replay of the cap-and-clip ledger: per-segment true vs
    bounded aggregates, realized sensitivities, and the closed-form
    bound certificate."""
    from ecommerce_data_pipeline_spark.plans.entity_resolution import (
        _DP_CAP_ORDERS,
        _DP_CLIP_CENTS,
    )

    by_user = defaultdict(list)
    for r in order_cents:
        by_user[r.o_custkey].append(r)
    seg = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
    # true_orders, kept, true_cents, bounded_cents, max_u_cents, max_u_orders
    for key, rows in by_user.items():
        rows.sort(key=lambda r: (r.o_orderdate, r.o_orderkey))
        s = seg[segment_of[key]]
        u_cents = 0
        for i, r in enumerate(rows):
            clip = min(r.cents, _DP_CLIP_CENTS)
            s[0] += 1
            s[2] += r.cents
            if i < _DP_CAP_ORDERS:
                s[1] += 1
                s[3] += clip
                u_cents += clip
        s[4] = max(s[4], u_cents)
        s[5] = max(s[5], len(rows))
    got = {
        r.segment: r
        for r in REGISTRY["dp_contribution_bounding"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(seg)
    bound = _DP_CAP_ORDERS * _DP_CLIP_CENTS
    for name, s in seg.items():
        r = got[name]
        assert r.true_orders == s[0]
        assert r.kept_orders == s[1]
        assert r.dropped_orders == s[0] - s[1]
        assert r.true_revenue == s[2] / 100.0
        assert r.bounded_revenue == s[3] / 100.0
        assert r.max_user_bounded_contribution == s[4] / 100.0
        assert r.max_user_orders_raw == s[5]
        assert r.l1_sensitivity_bound == bound / 100.0
        assert r.bound_holds


# --------------------------------------------------------------------------
# gdpr_erasure_cascade_audit


def test_gdpr_cascade_counts_reconcile(spark):
    rows = REGISTRY["gdpr_erasure_cascade_audit"].fn(spark, SF_SMOKE).collect()
    assert rows
    customer = load_table(spark, SF_SMOKE, "customer")
    req = customer.filter(F.col("c_custkey") % 97 == 0)
    assert sum(r["n_customers"] for r in rows) == req.count()
    for r in rows:
        assert r["total_rows_to_erase"] == (
            r["n_customers"] + r["n_orders"] + r["n_lineitems"] + r["n_events"]
        )
        # orders cascade can't exist without a requesting customer
        assert r["n_customers"] >= 1
