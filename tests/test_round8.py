"""Property tests for the round-8 queries (VERDICT r7 tasks #1/#2/#7):
hash-threshold sampling conversions, ranking eval, survivorship merge,
HLL window union, Huber IRLS, k-anonymity generalization, and the
rate-limit/backpressure batch replay vs a dense simulation.

The driver's oracle diff (tests/test_oracle.py + CORRECTNESS_rNN) pins
VALUES; these tests pin the SEMANTIC contracts the oracle can't see —
distribution bounds, recursion equivalence, restart idempotence.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans import REGISTRY
from ecommerce_data_pipeline_spark.plans.events_plans import (
    backpressure_replay,
)
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


# --------------------------------------------------------------------------
# Hash-threshold sampling conversions (former rows-only queries)


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
# ndcg_ranking_eval


def test_ndcg_bounds_and_dcg_le_idcg(spark):
    rows = REGISTRY["ndcg_ranking_eval"].fn(spark, SF_SMOKE).collect()
    assert rows  # one row per segment present in both periods
    for r in rows:
        assert r["n_ranked"] >= 1
        assert r["dcg_micro"] <= r["idcg_micro"]
        assert 0.0 <= r["ndcg"] <= 1.0


def test_ndcg_perfect_ranking_scores_one(spark):
    """A system that ranks by the true relevance must score nDCG = 1 —
    sanity-pins the weight-grid/ideal-DCG alignment (same grid, same
    tiebreak family)."""
    from ecommerce_data_pipeline_spark.plans.recommendation import (
        _NDCG_K,
        _REL_GAIN,
        _W_MICRO,
    )

    rel = [3, 3, 2, 1, 1, 0, 0]
    ranked = sorted(rel, reverse=True)[:_NDCG_K]
    dcg = sum(_REL_GAIN[g] * _W_MICRO[i] for i, g in enumerate(ranked))
    ideal = sum(
        _REL_GAIN[g] * _W_MICRO[i]
        for i, g in enumerate(sorted(rel, reverse=True)[:_NDCG_K])
    )
    assert dcg == ideal and ideal > 0


# --------------------------------------------------------------------------
# survivorship_merge_rules


def test_survivorship_rules_match_per_entity_recomputation(spark):
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    by_cust: dict[int, list] = {}
    for r in orders:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    got = {
        r["entity_key"]: r
        for r in REGISTRY["survivorship_merge_rules"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(by_cust)
    for ck, recs in by_cust.items():
        recency = sorted(
            recs, key=lambda r: (r["o_orderdate"], r["o_orderkey"]), reverse=True
        )
        g = got[ck]
        assert g["n_records"] == len(recs)
        assert g["last_status"] == recency[0]["o_orderstatus"]
        final = [r for r in recency if r["o_orderstatus"] == "F"]
        assert g["surviving_priority"] == (
            final[0]["o_orderpriority"] if final else None
        )
        verified = [
            round(r["o_totalprice"] * 100)
            for r in recs
            if r["o_orderstatus"] in ("F", "P")
        ]
        assert g["max_verified_cents"] == (max(verified) if verified else None)


# --------------------------------------------------------------------------
# group_k_anonymity_generalize


def test_k_anonymity_generalize_released_classes_are_k_anonymous(spark):
    """The advisor-r8 guarantee: the RELEASED equivalence classes —
    Counter over the actually-published (gen_geo, gen_segment,
    gen_year) tuples — are ≥ k at every level below the suppression
    backstop, and class_size reports exactly that released count (not
    the pre-release lattice-level count the r8 formulation used)."""
    out = REGISTRY["group_k_anonymity_generalize"].fn(spark, SF_SMOKE)
    k = 5
    rows = out.collect()
    n_orders = load_table(spark, SF_SMOKE, "orders").count()
    assert len(rows) == n_orders  # every record released exactly once
    from collections import Counter

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
# robust_regression_huber_irls


def test_huber_irls_weights_and_slope_sanity(spark):
    rows = REGISTRY["robust_regression_huber_irls"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_rows"] >= 1
        assert 0 <= r["n_downweighted"] <= r["n_rows"]
        assert r["sum_w_milli"] <= 1000 * r["n_rows"]
        # the synthetic data draws quantity and price independently
        # (corr ≈ −0.01), so the slope's SIGN is noise — pin finiteness
        # and the location scale instead: intercepts must sit near the
        # positive mean price (cents), far from degenerate fits
        assert math.isfinite(r["slope_ols"]) and math.isfinite(
            r["slope_huber"]
        )
        assert r["intercept_ols"] > 0 and r["intercept_huber"] > 0


# --------------------------------------------------------------------------
# stream_rate_limit_backpressure: replay vs dense simulation


def _dense_simulation(events_rows, cap):
    """Reference Lindley simulation over a DENSE slot grid — the naive
    form the closed-form replay must reproduce exactly."""
    from collections import Counter

    arr: dict[str, Counter] = {}
    for r in events_rows:
        days = (r["ts"].date() - __import__("datetime").date(2024, 1, 1)).days
        slot = days * 24 + r["ts"].hour
        arr.setdefault(r["event_type"], Counter())[slot] += 1
    expected = {}
    for key, counts in arr.items():
        backlog = 0
        last = min(counts) - 1
        for slot in range(min(counts), max(counts) + 1):
            a = counts.get(slot, 0)
            carry = backlog
            admitted = min(carry + a, cap)
            backlog = carry + a - admitted
            if a > 0:
                expected[(key, slot)] = (a, carry, admitted, backlog)
            last = slot
    return expected


def _bp_ledger(rows) -> dict:
    return {
        (r["event_type"], r["slot"]): (
            r["arrivals"],
            r["carry_in"],
            r["admitted"],
            r["backlog"],
        )
        for r in rows
    }


@pytest.mark.parametrize("cap", [1, 3])
def test_backpressure_replay_matches_dense_simulation(spark, cap):
    events = load_table(spark, SF_SMOKE, "events")
    got = _bp_ledger(backpressure_replay(events, cap=cap).collect())
    expected = _dense_simulation(events.select("event_type", "ts").collect(), cap)
    assert got == expected


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
    from collections import Counter

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
# expected_calibration_error_eval


def test_ece_mce_brier_bounds_and_consistency(spark):
    r = REGISTRY["expected_calibration_error_eval"].fn(spark, SF_SMOKE).first()
    docs = load_table(spark, SF_SMOKE, "documents")
    # every doc with >= 1 token gets a probability row
    assert 0 < r["n_docs"] <= docs.count()
    assert 1 <= r["n_bins_occupied"] <= 10
    assert 0.0 <= r["ece"] <= r["mce"] <= 1.0  # ECE is a weighted mean of
    # per-bin gaps, MCE their max
    assert 0.0 <= r["brier"] <= 1.0
    # the bins query and the scalar query must agree: recompute ECE from
    # classifier_calibration_bins' published rows
    bins = REGISTRY["classifier_calibration_bins"].fn(spark, SF_SMOKE).collect()
    n = sum(b["n_docs"] for b in bins)
    ece = (
        sum(
            b["n_docs"] * abs(b["frac_positive"] - b["avg_confidence"])
            for b in bins
        )
        / n
    )
    assert r["n_docs"] == n
    assert r["ece"] == pytest.approx(ece, abs=5e-6)  # bins are 6dp-rounded


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
# bitemporal_as_of_audit


def test_bitemporal_worlds_separate_version_generations(spark):
    rows = {
        r["world"]: r
        for r in REGISTRY["bitemporal_as_of_audit"].fn(spark, SF_SMOKE).collect()
    }
    assert set(rows) == {
        "before_effect",
        "effect_not_recorded",
        "first_correction",
        "final_restatement",
    }
    customer = load_table(spark, SF_SMOKE, "customer")
    n = customer.count()
    n10 = customer.filter(F.col("c_custkey") % 10 == 0).count()
    n20 = customer.filter(F.col("c_custkey") % 20 == 0).count()
    base_cents = sum(
        round(r["c_acctbal"] * 100)
        for r in customer.select("c_acctbal").collect()
    )
    for r in rows.values():
        assert r["n_customers"] == n  # every key visible in every world
    # before the business-effective date / before recording: pristine v0
    assert rows["before_effect"]["n_restated"] == 0
    assert rows["before_effect"]["total_bal_cents"] == base_cents
    assert rows["effect_not_recorded"]["n_restated"] == 0
    assert rows["effect_not_recorded"]["total_bal_cents"] == base_cents
    # September recording visible: +100.00 for every %10 key
    assert rows["first_correction"]["n_restated"] == n10
    assert (
        rows["first_correction"]["total_bal_cents"]
        == base_cents + 10000 * n10
    )
    # December restatement replaces v1 for %20 keys (+250 instead of +100)
    assert rows["final_restatement"]["n_restated"] == n10
    assert (
        rows["final_restatement"]["total_bal_cents"]
        == base_cents + 10000 * (n10 - n20) + 25000 * n20
    )
