"""Plan-shape and property tests for plans/ml_ops.py (Stupid-Backoff LM,
hashed linear classifier, relational Lloyd step, Huber IRLS, calibration
error, Qini uplift, the ALS step, quantile treatment effects) and the
nDCG ranking eval. Value-level oracle parity is covered by
tests/test_oracle.py; these pin the SCALE contracts (join strategies,
no corpus-sized state) and the algorithmic invariants the oracle diff
can't express (Lloyd SSE monotonicity, margin bounds).
"""

from __future__ import annotations

import math
from collections import defaultdict
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE, md5_60
from tests.plan_invariants import executed_plan


def test_lloyd_step_broadcasts_centroids(spark):
    """The assignment join (exploded stream x k*dim centroid relation)
    must broadcast the centroid side — a shuffle there would move the
    whole exploded corpus for a 640-row model."""
    df = REGISTRY["kmeans_lloyd_step_certificate"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lloyd_step_never_increases_sse(spark):
    """Lloyd monotonicity: total within-cluster SSE under the NEW
    (assignment, centroids) must be <= SSE under the initial per-label
    clustering — the invariant that makes iterating this DAG converge."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent0 = ex.groupBy(F.col("label").alias("cluster_id"), "pos").agg(
        F.avg("val").alias("m")
    )

    def total_sse(assign_df, cent_df):
        return (
            assign_df.join(ex, "vec_id")
            .join(cent_df, ["cluster_id", "pos"])
            .select(((F.col("val") - F.col("m")) ** 2).alias("sq"))
            .agg(F.sum("sq"))
            .collect()[0][0]
        )

    sse_initial = total_sse(
        emb.select("vec_id", F.col("label").alias("cluster_id")), cent0
    )

    out = REGISTRY["kmeans_lloyd_step_certificate"].fn(spark, SF_SMOKE)
    rows = out.collect()
    assert sum(r["n_assigned"] for r in rows) == emb.count()
    assert all(r["shift_sq"] >= 0.0 for r in rows)

    # rebuild the new state the certificate reports and measure its SSE
    d2 = (
        ex.join(F.broadcast(cent0), "pos")
        .groupBy("vec_id", "cluster_id")
        .agg(F.round(F.sum((F.col("val") - F.col("m")) ** 2), 6).alias("d2r"))
    )
    assign1 = d2.groupBy("vec_id").agg(
        F.min(F.struct("d2r", "cluster_id")).getField("cluster_id").alias(
            "cluster_id"
        )
    )
    cent1 = (
        assign1.join(ex, "vec_id")
        .groupBy("cluster_id", "pos")
        .agg(F.avg("val").alias("m"))
    )
    sse_new = total_sse(assign1, cent1)
    # tolerance: assignment uses 6dp-ROUNDED distances, so a near-tie may
    # legally pick a centroid worse by up to ~1e-6 per vector (plus
    # unordered-double-sum noise) — slack scales with the corpus, not a
    # fixed epsilon
    assert sse_new <= sse_initial + emb.count() * 2e-6


def test_classifier_is_single_pass_no_join(spark):
    """Inference = one hash aggregate over the token stream: the hashing
    trick means NO join against a vocabulary/weight table may appear."""
    df = REGISTRY["hashed_linear_classifier"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "Join" not in plan
    rows = df.collect()
    assert rows, "classifier produced no rows"
    for r in rows:
        # weights are integer-milli in [-1000, 1000] -> exact margin bound
        assert abs(r["margin_milli"]) <= 1000 * r["n_tokens"]
        assert (r["margin_milli"] > 0) == r["predicted_keep"]
        assert 0.0 < r["prob_keep"] < 1.0
        # sigmoid/margin sign consistency only away from the 6dp rounding
        # boundary: a tiny negative margin on a long doc legally rounds
        # the sigmoid UP to exactly 0.500000
        if abs(r["margin_milli"]) >= 10 * r["n_tokens"]:
            assert (r["prob_keep"] >= 0.5) == (r["margin_milli"] >= 0)


def test_stupid_backoff_scores_are_valid_logprobs(spark):
    """Every backoff level yields S <= 1 on train counts, so per-trigram
    log scores are <= 0; docs with <3 tokens contribute nothing."""
    out = REGISTRY["stupid_backoff_trigram_score"].fn(spark, SF_SMOKE)
    rows = out.collect()
    assert rows, "no held-out docs scored"
    for r in rows:
        assert r["n_trigrams"] >= 1
        assert r["avg_logscore"] <= 0.0
    plan = executed_plan(out)
    assert "CartesianProduct" not in plan


def test_conformal_coverage_near_nominal(spark):
    """Split-conformal guarantee: realized test coverage concentrates on
    the 90% nominal level (finite-sample slack allowed on the small
    fixture); q_hat must be positive and the splits non-degenerate."""
    out = REGISTRY["conformal_interval_coverage"].fn(spark, SF_SMOKE)
    rows = out.collect()
    n_segments = (
        load_table(spark, SF_SMOKE, "customer")
        .select("c_mktsegment")
        .distinct()
        .count()
    )
    # the k<=n_cal clamp guarantees no segment silently drops out
    assert len(rows) == n_segments, "a segment vanished from the output"
    for r in rows:
        assert r["n_train"] > 0 and r["n_cal"] > 0 and r["n_test"] > 0
        assert r["q_hat"] > 0
        assert 0.75 <= r["coverage"] <= 1.0, (
            f"{r['segment']}: coverage {r['coverage']} far from nominal 0.9"
        )


def test_xcorr_lag_zero_is_symmetric_bounded(spark):
    """Pearson bounds and lag-0 sanity: every xcorr in [-1, 1]; all 15
    lags present with enough overlapping days to correlate."""
    out = REGISTRY["revenue_xcorr_lags"].fn(spark, SF_SMOKE)
    rows = {r["lag"]: r for r in out.collect()}
    assert sorted(rows) == list(range(-7, 8))
    for r in rows.values():
        assert r["n_pairs"] > 2
        if r["xcorr"] is not None:
            assert -1.0 <= r["xcorr"] <= 1.0
    plan = executed_plan(REGISTRY["revenue_xcorr_lags"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan


def test_cf_backtest_invariants(spark):
    """NDCG@5 per user is in [0,1] and positive only on a hit, so the
    segment mean obeys mean_ndcg <= hit_rate; the evaluated-user count
    must equal the customers holding >= 2 orders."""
    out = REGISTRY["cf_holdout_hitrate"].fn(spark, SF_SMOKE)
    rows = out.collect()
    assert rows, "no segments evaluated"
    for r in rows:
        assert 0.0 <= r["hit_rate"] <= 1.0
        assert 0.0 <= r["mean_ndcg"] <= r["hit_rate"] + 1e-9
        assert r["n_hit"] <= r["n_users"]
    # evaluated = customers with >= 2 orders whose HELD-OUT (latest)
    # order has at least one lineitem — orders with no lineitem rows
    # yield an empty test basket and are ungradeable by construction
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey").distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    eligible = (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("o_custkey")).alias("n"),
        )
        .filter((F.col("rn") == 1) & (F.col("n") >= 2))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .count()
    )
    assert sum(r["n_users"] for r in rows) == eligible


def test_calibration_bins_partition_the_corpus(spark):
    """Bins are 0..9, disjointly cover every scored doc, and each bin's
    mean confidence lies inside (or within rounding of) its bin range."""
    out = REGISTRY["classifier_calibration_bins"].fn(spark, SF_SMOKE)
    rows = out.collect()
    scored_docs = REGISTRY["hashed_linear_classifier"].fn(spark, SF_SMOKE).count()
    assert sum(r["n_docs"] for r in rows) == scored_docs
    for r in rows:
        assert 0 <= r["bin"] <= 9
        lo, hi = r["bin"] / 10.0, (r["bin"] + 1) / 10.0
        assert lo - 1e-6 <= r["avg_confidence"] <= hi + 1e-6
        assert 0.0 <= r["frac_positive"] <= 1.0


def test_woe_buckets_and_totals(spark):
    """Every order lands in exactly one bucket; WOE sign tracks whether
    the bucket is more good-heavy than the population."""
    out = REGISTRY["woe_information_value"].fn(spark, SF_SMOKE)
    rows = out.collect()
    orders_n = load_table(spark, SF_SMOKE, "orders").count()
    assert sum(r["n_good"] + r["n_bad"] for r in rows) == orders_n
    g = sum(r["n_good"] for r in rows)
    b = sum(r["n_bad"] for r in rows)
    for r in rows:
        assert r["iv_contrib"] >= 0.0  # (dg-db) and ln(dg/db) share sign
        # sign check against the unsmoothed odds (smoothing shifts only
        # near-zero cells, and no fixture cell is near-zero)
        more_good = r["n_good"] * b > r["n_bad"] * g
        if abs(r["woe"]) > 1e-3:
            assert (r["woe"] > 0) == more_good


def test_did_is_placebo_consistent(spark):
    """The treatment is a hash split (no real intervention), so the DiD
    estimate must reproduce the 2x2 cell identity and stay bounded by
    the cell means themselves."""
    out = REGISTRY["did_revenue_estimate"].fn(spark, SF_SMOKE)
    rows = out.collect()
    n_segments = (
        load_table(spark, SF_SMOKE, "customer")
        .select("c_mktsegment")
        .distinct()
        .count()
    )
    assert len(rows) == n_segments
    for r in rows:
        for c in ("treat_pre", "treat_post", "control_pre", "control_post"):
            assert r[c] > 0
        ident = (r["treat_post"] - r["treat_pre"]) - (
            r["control_post"] - r["control_pre"]
        )
        # rounded cells vs rounded-did: agree to 4dp accumulation slack
        assert abs(ident - r["did"]) < 5e-4
        assert abs(r["did"]) < max(
            r["treat_pre"], r["treat_post"], r["control_pre"], r["control_post"]
        )


def test_wasserstein_matches_python_reference(spark):
    """Independent W1 reference: integrate |F_A - F_B| over the merged
    sample breakpoints in plain Python and compare to the query (which
    computes the same integral in cross-multiplied integer arithmetic)."""
    out = REGISTRY["wasserstein_price_drift"].fn(spark, SF_SMOKE).collect()[0]
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    j = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).select("c_mktsegment", "o_totalprice")
    va = sorted(
        r[0] for r in j.filter(F.col("c_mktsegment") == "BUILDING")
        .select("o_totalprice").collect()
    )
    vb = sorted(
        r[0] for r in j.filter(F.col("c_mktsegment") == "MACHINERY")
        .select("o_totalprice").collect()
    )
    assert out["n_a"] == len(va) and out["n_b"] == len(vb)
    import bisect

    points = sorted(set(va) | set(vb))
    w1 = 0.0
    for lo, hi in zip(points, points[1:]):
        fa = bisect.bisect_right(va, lo) / len(va)
        fb = bisect.bisect_right(vb, lo) / len(vb)
        w1 += abs(fa - fb) * (hi - lo)
    assert abs(out["w1_dollars"] - w1) < 1e-4
    assert out["w1_dollars"] >= 0.0


def test_blocking_certificate_set_algebra(spark):
    """Retained pairs are the intersection of true matches and blocked
    candidates, so n_retained <= min(n_true, n_candidates); completeness
    and reduction are valid ratios; no CartesianProduct anywhere (the
    ground truth must come from the length-band equi-join)."""
    df = REGISTRY["blocking_quality_certificate"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    r = df.collect()[0]
    assert r["n_retained"] <= min(r["n_true_matches"], r["n_blocked_candidates"])
    assert 0.0 <= r["pair_completeness"] <= 1.0
    assert 0.0 <= r["reduction_ratio"] <= 1.0
    # the length-band truth must dominate the blocked+verified pairs
    assert r["n_true_matches"] >= r["n_retained"]


def test_k_anonymity_audit_bounds(spark):
    """k and l are minima over equivalence classes; at-risk mass is a
    valid fraction; row total must equal the joined fact count."""
    r = REGISTRY["k_anonymity_audit"].fn(spark, SF_SMOKE).collect()[0]
    assert r["n_rows"] == load_table(spark, SF_SMOKE, "orders").count()
    assert 1 <= r["k_anonymity"]
    assert 1 <= r["l_diversity"] <= 5  # five priority values exist
    assert r["rows_below_k"] <= r["n_rows"]
    assert 0.0 <= r["frac_rows_at_risk"] <= 1.0
    assert r["n_classes"] <= r["n_rows"]


def test_range_partition_balance_is_exact(spark):
    """Partition sizes must re-sum to the row count; the imbalance
    factor is >= 1 by the pigeonhole principle; a Python reference over
    the sorted values reproduces max_size exactly."""
    r = REGISTRY["range_partition_balance"].fn(spark, SF_SMOKE).collect()[0]
    orders = load_table(spark, SF_SMOKE, "orders")
    vals = sorted(
        int(round(x[0] * 100))
        for x in orders.select("o_totalprice").collect()
    )
    n = len(vals)
    assert r["n_rows"] == n
    assert r["imbalance_factor"] >= 1.0 - 1e-9
    # python reference: value-bucket pid = floor(prev_cum*P/n), ties
    # keep all copies of a value together
    from collections import Counter

    hist = Counter(vals)
    sizes = Counter()
    prev = 0
    for v in sorted(hist):
        pid = min(prev * 32 // n, 31)
        sizes[pid] += hist[v]
        prev += hist[v]
    assert r["max_size"] == max(sizes.values())
    assert r["n_nonempty"] == len(sizes)
    assert sum(sizes.values()) == n


def test_logrank_matches_python_reference(spark):
    """Independent log-rank implementation over the collected episodes:
    rebuild (group, event, bucket) in Python, walk the risk sets, and
    compare O-E, variance, and chi2 to the engine's folds."""
    from pyspark.sql import Window

    orders = load_table(spark, SF_SMOKE, "orders")
    cust = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey", "c_mktsegment")
        .collect()
    }
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.select(
        "o_custkey", "o_orderdate", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 2).collect()
    # censor date = max over ALL orders (the engine's g relation), NOT
    # over the rn<=2 rows — a customer's 3rd+ order can carry the max
    maxd = orders.agg(F.max("o_orderdate")).collect()[0][0]
    first, second = {}, {}
    for r in ranked:
        (first if r["rn"] == 1 else second)[r["o_custkey"]] = r["o_orderdate"]
    episodes = []
    for ck, f in first.items():
        g = cust[ck]
        if g not in ("BUILDING", "MACHINERY"):
            continue
        s = second.get(ck)
        t = ((s or maxd) - f).days
        episodes.append((g, 1 if s else 0, t // 30))

    buckets = sorted({b for _, _, b in episodes})
    nA = sum(1 for g, _, _ in episodes if g == "BUILDING")
    nB = len(episodes) - nA
    ome = var = 0.0
    n_event_buckets = 0
    at_risk = {"BUILDING": nA, "MACHINERY": nB}
    for b in buckets:
        d1 = sum(1 for g, e, bb in episodes if g == "BUILDING" and bb == b and e)
        d2 = sum(1 for g, e, bb in episodes if g == "MACHINERY" and bb == b and e)
        n1, n2 = at_risk["BUILDING"], at_risk["MACHINERY"]
        n, d = n1 + n2, d1 + d2
        if d > 0:
            n_event_buckets += 1
            ome += d1 - d * n1 / n
            if n > 1:
                var += d * (n1 / n) * (n2 / n) * (n - d) / (n - 1)
        for g in at_risk:
            at_risk[g] -= sum(
                1 for gg, _, bb in episodes if gg == g and bb == b
            )

    r = REGISTRY["logrank_survival_test"].fn(spark, SF_SMOKE).collect()[0]
    assert r["n_group_a"] == nA and r["n_group_b"] == nB
    assert r["n_event_buckets"] == n_event_buckets
    assert abs(r["o_minus_e"] - ome) < 1e-4
    assert abs(r["var_logrank"] - var) < 1e-4
    assert abs(r["chi2"] - ome * ome / var) < 1e-3
    assert r["significant_5pct"] == (ome * ome / var > 3.8414588206941)


def test_term_dispersion_bounds_and_reference(spark):
    """DP is in [0, 1); Python reference reproduces it for every top
    term from the raw (term, source) counts."""
    out = {r["term"]: r for r in
           REGISTRY["term_dispersion_dp"].fn(spark, SF_SMOKE).collect()}
    assert len(out) == 20
    from collections import Counter
    from ecommerce_data_pipeline_spark.operators.text import tokens as tok_fn

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = docs.select("source", F.explode(tok_fn("text")).alias("t")).collect()
    tf = Counter((r["source"], r["t"]) for r in rows)
    sizes = Counter(r["source"] for r in rows)
    n_total = sum(sizes.values())
    for term, r in out.items():
        f_t = sum(c for (s, t), c in tf.items() if t == term)
        assert r["freq"] == f_t
        dp = 0.5 * sum(
            abs(tf.get((s, term), 0) / f_t - n_s / n_total)
            for s, n_s in sizes.items()
        )
        assert abs(r["dp"] - dp) < 1e-5
        assert 0.0 <= r["dp"] < 1.0


def test_anova_matches_python_reference(spark):
    """ANOVA identity SSB + SSW = SST and a direct Python recomputation
    of F from the raw per-segment values."""
    r = REGISTRY["anova_f_segments"].fn(spark, SF_SMOKE).collect()[0]
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    vals = {}
    for row in (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select("c_mktsegment", "o_totalprice")
        .collect()
    ):
        vals.setdefault(row["c_mktsegment"], []).append(row["o_totalprice"])
    k = len(vals)
    n = sum(len(v) for v in vals.values())
    grand = sum(sum(v) for v in vals.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in vals.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in vals.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert r["k"] == k and r["n_total"] == n
    assert abs(r["ss_between"] - ssb) < 0.51  # 4dp round + fp noise on ~1e9
    assert abs(r["ss_within"] - ssw) / ssw < 1e-9
    assert abs(r["f_stat"] - f) < 1e-4


def test_mannwhitney_matches_python_reference(spark):
    """Independent U/z computation from the raw values (rank dictionary
    with midrank ties, classic tie-corrected normal approximation)."""
    r = REGISTRY["mannwhitney_u_test"].fn(spark, SF_SMOKE).collect()[0]
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    j = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "c_mktsegment", "o_totalprice"
    )
    va = [
        int(round(x[0] * 100))
        for x in j.filter(F.col("c_mktsegment") == "BUILDING")
        .select("o_totalprice").collect()
    ]
    vb = [
        int(round(x[0] * 100))
        for x in j.filter(F.col("c_mktsegment") == "MACHINERY")
        .select("o_totalprice").collect()
    ]
    from collections import Counter

    allv = Counter(va) + Counter(vb)
    midrank = {}
    prev = 0
    for v in sorted(allv):
        midrank[v] = prev + (allv[v] + 1) / 2
        prev += allv[v]
    n1, n2 = len(va), len(vb)
    n = n1 + n2
    r1 = sum(midrank[v] for v in va)
    u1 = r1 - n1 * (n1 + 1) / 2
    tie = sum(t**3 - t for t in allv.values())
    var = n1 * n2 / 12 * ((n + 1) - tie / (n * (n - 1)))
    z = (u1 - n1 * n2 / 2) / (var**0.5)
    assert r["n_a"] == n1 and r["n_b"] == n2
    assert abs(r["u_stat"] - u1) < 1e-6
    assert abs(r["z_score"] - z) < 1e-5


def test_ks_and_kruskal_match_python_reference(spark):
    """KS D from a direct merged-CDF walk; Kruskal-Wallis H from a
    midrank dictionary — both recomputed independently in Python."""
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    j = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "c_mktsegment", "o_totalprice"
    ).collect()
    from collections import Counter

    vals = {}
    for row in j:
        vals.setdefault(row["c_mktsegment"], []).append(
            int(round(row["o_totalprice"] * 100))
        )

    # --- KS between BUILDING and MACHINERY
    va, vb = sorted(vals["BUILDING"]), sorted(vals["MACHINERY"])
    import bisect

    points = sorted(set(va) | set(vb))
    d = max(
        abs(
            bisect.bisect_right(va, p) / len(va)
            - bisect.bisect_right(vb, p) / len(vb)
        )
        for p in points
    )
    r = REGISTRY["ks_test_price"].fn(spark, SF_SMOKE).collect()[0]
    assert r["n_a"] == len(va) and r["n_b"] == len(vb)
    assert abs(r["d_stat"] - d) < 1e-6
    na, nb = len(va), len(vb)
    assert abs(r["ks_z"] - d * (na * nb / (na + nb)) ** 0.5) < 1e-5

    # --- Kruskal-Wallis across all segments
    allv = Counter(x for v in vals.values() for x in v)
    midrank, prev = {}, 0
    for v in sorted(allv):
        midrank[v] = prev + (allv[v] + 1) / 2
        prev += allv[v]
    n = sum(allv.values())
    rterm = sum(
        sum(midrank[x] for x in v) ** 2 / len(v) for v in vals.values()
    )
    h = 12 / (n * (n + 1)) * rterm - 3 * (n + 1)
    tie = sum(t**3 - t for t in allv.values())
    hc = h / (1 - tie / (n**3 - n))
    k = REGISTRY["kruskal_wallis_test"].fn(spark, SF_SMOKE).collect()[0]
    assert k["k"] == len(vals) and k["n"] == n
    assert abs(k["h_stat"] - h) < 1e-4
    assert abs(k["h_tie_corrected"] - hc) < 1e-4


def test_two_proportion_and_spearman_references(spark):
    """z-test recomputed from raw counts; Spearman rho vs a Python
    midrank Pearson for every return flag."""
    r = REGISTRY["two_proportion_ztest"].fn(spark, SF_SMOKE).collect()[0]
    ev = load_table(spark, SF_SMOKE, "events").filter(
        F.col("event_type").isin("view", "purchase")
    ).select("ts", "event_type").collect()

    def is_weekend(ts):
        return ts.weekday() >= 5  # Mon=0..Sun=6

    x1 = sum(1 for e in ev if not is_weekend(e["ts"]) and e["event_type"] == "purchase")
    n1 = sum(1 for e in ev if not is_weekend(e["ts"]))
    x2 = sum(1 for e in ev if is_weekend(e["ts"]) and e["event_type"] == "purchase")
    n2 = len(ev) - n1
    assert (r["conv_weekday"], r["n_weekday"], r["conv_weekend"], r["n_weekend"]) == (
        x1, n1, x2, n2,
    )
    pp = (x1 + x2) / (n1 + n2)
    z = (x1 / n1 - x2 / n2) / (pp * (1 - pp) * (1 / n1 + 1 / n2)) ** 0.5
    assert abs(r["z_score"] - z) < 1e-5

    rows = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    by_flag = {}
    for row in rows:
        by_flag.setdefault(row["l_returnflag"], []).append(
            (int(row["l_quantity"]), int(round(row["l_extendedprice"] * 100)))
        )

    def midranks(vals):
        from collections import Counter

        c = Counter(vals)
        mr, prev = {}, 0
        for v in sorted(c):
            mr[v] = prev + (c[v] + 1) / 2
            prev += c[v]
        return mr

    out = {r["flag"]: r for r in
           REGISTRY["spearman_rank_correlation"].fn(spark, SF_SMOKE).collect()}
    for flag, pairs in by_flag.items():
        mx = midranks([p[0] for p in pairs])
        my = midranks([p[1] for p in pairs])
        rx = [mx[p[0]] for p in pairs]
        ry = [my[p[1]] for p in pairs]
        n = len(pairs)
        sx, sy = sum(rx), sum(ry)
        sxx = sum(v * v for v in rx)
        syy = sum(v * v for v in ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        rho = (n * sxy - sx * sy) / (
            (n * sxx - sx * sx) * (n * syy - sy * sy)
        ) ** 0.5
        assert out[flag]["n_rows"] == n
        assert abs(out[flag]["spearman_rho"] - rho) < 1e-5


def test_acf_ljung_box_matches_python_reference(spark, daily_cents):
    """ACF and cumulative Q recomputed from the collected daily series."""
    xs = [daily_cents[d] for d in sorted(daily_cents)]
    n = len(xs)
    m = sum(xs) / n
    ssd = sum((x - m) ** 2 for x in xs)
    out = {r["lag"]: r for r in
           REGISTRY["acf_ljung_box"].fn(spark, SF_SMOKE).collect()}
    assert sorted(out) == list(range(1, 15))
    q = 0.0
    for k in range(1, 15):
        rk = sum((xs[t] - m) * (xs[t + k] - m) for t in range(n - k)) / ssd
        q += rk * rk / (n - k)
        assert out[k]["n_pairs"] == n - k
        assert abs(out[k]["acf"] - rk) < 1e-5
        assert abs(out[k]["ljung_box_q"] - n * (n + 2) * q) < 1e-3


def test_cuped_matches_python_reference(spark):
    """theta, rho^2, and the adjusted difference recomputed from the
    collected per-customer pre/post sums; population covers every
    customer (zero-activity included)."""
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    cust = load_table(spark, SF_SMOKE, "customer").select("c_custkey")
    orders = load_table(spark, SF_SMOKE, "orders")
    rows = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .select(
            "c_custkey",
            (_hash60(F.col("c_custkey"), "cuped1#") % 100 < 50).alias("treat"),
            "o_orderdate",
            "o_totalprice",
        )
        .collect()
    )
    import datetime

    cut = datetime.datetime(1996, 1, 1)
    agg = {}
    for r in rows:
        t = agg.setdefault(r["c_custkey"], [r["treat"], 0.0, 0.0])
        if r["o_orderdate"] is not None:
            if r["o_orderdate"] < cut:
                t[1] += round(r["o_totalprice"], 2)
            else:
                t[2] += round(r["o_totalprice"], 2)
    n = len(agg)
    xs = [v[1] for v in agg.values()]
    ys = [v[2] for v in agg.values()]
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    rho2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    t_rows = [v for v in agg.values() if v[0]]
    c_rows = [v for v in agg.values() if not v[0]]
    dy = sum(v[2] for v in t_rows) / len(t_rows) - sum(
        v[2] for v in c_rows
    ) / len(c_rows)
    dx = sum(v[1] for v in t_rows) / len(t_rows) - sum(
        v[1] for v in c_rows
    ) / len(c_rows)
    r = REGISTRY["cuped_adjusted_ab"].fn(spark, SF_SMOKE).collect()[0]
    assert r["n_treat"] == len(t_rows) and r["n_ctrl"] == len(c_rows)
    assert r["n_treat"] + r["n_ctrl"] == n == cust.count()
    assert abs(r["theta"] - theta) < 1e-4
    assert abs(r["var_reduction_rho2"] - rho2) < 1e-4
    assert abs(r["diff_raw"] - dy) < 5e-3
    assert abs(r["diff_cuped"] - (dy - theta * dx)) < 5e-3
    assert 0.0 <= r["var_reduction_rho2"] <= 1.0


def test_quantile_normalize_invariants_and_reference(spark):
    """One output row per doc; within a source the normalized value is
    monotone in the raw value; and a Python midpoint-quantile reference
    reproduces every mapping."""
    out = REGISTRY["quantile_normalize_doclen"].fn(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    assert len(out) == len(docs)
    pooled = sorted(d["n_chars"] for d in docs)
    n = len(pooled)
    by_src = {}
    for d in docs:
        by_src.setdefault(d["source"], []).append((d["n_chars"], d["doc_id"]))
    expect = {}
    for src, rows in by_src.items():
        rows.sort()
        n_s = len(rows)
        for r, (_, doc_id) in enumerate(rows, start=1):
            k = math.ceil((2 * r - 1) * n / (2 * n_s))
            expect[doc_id] = pooled[k - 1]
    got_by_src = {}
    for row in out:
        assert row["normalized_chars"] == expect[row["doc_id"]]
        got_by_src.setdefault(row["source"], []).append(
            (row["n_chars"], row["doc_id"], row["normalized_chars"])
        )
    for rows in got_by_src.values():
        rows.sort()
        normed = [x[2] for x in rows]
        assert normed == sorted(normed), "not monotone within source"


def test_isotonic_recalibration_properties(spark):
    """Calibrated curve is non-decreasing in the prob bin, preserves the
    weighted mean of the observed rates, and covers every bin."""
    rows = sorted(
        REGISTRY["classifier_isotonic_recalibration"].fn(spark, SF_SMOKE)
        .collect(),
        key=lambda r: r["prob_bin"],
    )
    assert rows
    cal = [r["calibrated"] for r in rows]
    assert cal == sorted(cal), "calibrated curve must be non-decreasing"
    wsum = sum(r["n_docs"] for r in rows)
    mean_obs = sum(r["frac_positive"] * r["n_docs"] for r in rows) / wsum
    mean_fit = sum(r["calibrated"] * r["n_docs"] for r in rows) / wsum
    assert abs(mean_obs - mean_fit) < 1e-5, "PAV must preserve weighted mean"
    scored_docs = REGISTRY["hashed_linear_classifier"].fn(spark, SF_SMOKE).count()
    assert wsum == scored_docs
    for r in rows:
        assert 0.0 <= r["calibrated"] <= 1.0


def test_croston_matches_python_reference(spark):
    """Croston folds recomputed in Python from the raw (part, day,
    demand) relation for every emitted part."""
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", F.to_date("l_shipdate").alias("day"), "l_quantity"
    ).collect()
    agg = {}
    for r in li:
        agg.setdefault(r["l_partkey"], {}).setdefault(r["day"], 0)
        agg[r["l_partkey"]][r["day"]] += int(r["l_quantity"])
    out = {r["l_partkey"]: r for r in
           REGISTRY["croston_intermittent_demand"].fn(spark, SF_SMOKE)
           .collect()}
    from ecommerce_data_pipeline_spark.plans.analytics_series import (
        _CROSTON_MIN_DATES,
    )

    expected_parts = {
        p for p, d in agg.items() if len(d) >= _CROSTON_MIN_DATES
    }
    assert set(out) == expected_parts

    def fold(vals):
        acc = vals[0]
        for x in vals[1:]:
            acc = acc * 0.75 + x * 0.25
        return acc

    for p in expected_parts:
        days = sorted(agg[p])
        sizes = [float(agg[p][d]) for d in days]
        gaps = [(b - a).days for a, b in zip(days, days[1:])]
        z, iv = fold(sizes), fold([float(g) for g in gaps])
        r = out[p]
        assert r["n_demand_dates"] == len(days)
        assert abs(r["smoothed_size"] - z) < 1e-5
        assert abs(r["smoothed_interval_days"] - iv) < 1e-5
        assert abs(r["croston_daily_rate"] - z / iv) < 1e-4


def test_auc_matches_python_reference(spark):
    """Tie-aware AUC recomputed from the per-doc probs via the midrank
    formula; Gini identity 2*AUC - 1."""
    from ecommerce_data_pipeline_spark.plans.ml_ops import _ftx_doc_probs

    rows = _ftx_doc_probs(spark, SF_SMOKE).collect()
    pos = sorted(r["prob"] for r in rows if r["lang"] == "en")
    neg = sorted(r["prob"] for r in rows if r["lang"] != "en")
    from collections import Counter

    allv = Counter(pos) + Counter(neg)
    midrank, prev = {}, 0
    for v in sorted(allv):
        midrank[v] = prev + (allv[v] + 1) / 2
        prev += allv[v]
    r1 = sum(midrank[v] for v in pos)
    n1, n2 = len(pos), len(neg)
    auc = (r1 - n1 * (n1 + 1) / 2) / (n1 * n2)
    r = REGISTRY["classifier_auc_gini"].fn(spark, SF_SMOKE).collect()[0]
    assert r["n_pos"] == n1 and r["n_neg"] == n2
    assert abs(r["auc"] - auc) < 1e-6
    assert abs(r["gini"] - (2 * auc - 1)) < 1e-5
    assert 0.0 <= r["auc"] <= 1.0


def test_kfold_assignment_partitions_every_doc_exactly_once(spark):
    """The (lang, fold) grid must PARTITION the corpus: fold ids in
    0..4, per-lang fold counts summing to the lang's document count,
    and the assignment stable across runs (the portable-hash contract —
    a doc's fold may never depend on execution layout)."""
    q = REGISTRY["stratified_kfold_assignment"]
    rows = q.fn(spark, SF_SMOKE).collect()
    assert rows, "empty fold grid"
    assert all(0 <= r["fold"] <= 4 for r in rows)
    per_lang: dict[str, int] = {}
    totals: dict[str, int] = {}
    for r in rows:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0) + r["n_docs"]
        totals[r["lang"]] = r["lang_total"]
    assert per_lang == totals
    docs = load_table(spark, SF_SMOKE, "documents")
    assert sum(per_lang.values()) == docs.count()
    again = {
        (r["lang"], r["fold"]): r["n_docs"]
        for r in q.fn(spark, SF_SMOKE).collect()
    }
    assert again == {(r["lang"], r["fold"]): r["n_docs"] for r in rows}


def test_huber_degenerate_zero_variance_brand_is_null_both_engines(
    spark, tmp_path
):
    """Advisor r8: a brand whose line items all share ONE quantity has
    zero x-variance — the normal-equation denominator sw·sxx − sx² is
    exactly 0. Unguarded, Spark's Divide returns NULL while DuckDB's
    double division returns ±inf (engine-divergent). The NULLIF /
    when(denom != 0) guard must make the degenerate brand fit NULL on
    BOTH engines, with n_downweighted collapsing to 0 identically.
    Unreachable with TPC-H quantities at graded SFs — this fixture
    manufactures it."""
    import duckdb

    d = str(tmp_path / "sfdeg")
    import os

    os.makedirs(d)
    # one healthy brand (varying x) + one degenerate brand (constant x)
    li = spark.createDataFrame(
        [(1, 1, 1.0, 10.00), (2, 1, 2.0, 30.00), (3, 1, 3.0, 20.00)]
        + [(10 + i, 2, 7.0, 100.0 + i) for i in range(4)],
        "l_orderkey long, l_partkey long, l_quantity double, "
        "l_extendedprice double",
    )
    part = spark.createDataFrame(
        [(1, "Brand#OK"), (2, "Brand#DEG")], "p_partkey long, p_brand string"
    )
    li.write.parquet(f"{d}/lineitem.parquet")
    part.write.parquet(f"{d}/part.parquet")

    rows = {
        r["p_brand"]: r
        for r in REGISTRY["robust_regression_huber_irls"]
        .fn(spark, d)
        .collect()
    }
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    oracle = {
        r[0]: r
        for r in con.execute(
            REGISTRY["robust_regression_huber_irls"].oracle
        ).fetchall()
    }
    cols = [d2[0] for d2 in con.description]
    spark.catalog.clearCache()  # the plan persists its base internally

    deg = rows["Brand#DEG"]
    assert deg["slope_ols"] is None and deg["slope_huber"] is None
    assert deg["intercept_ols"] is None and deg["intercept_huber"] is None
    assert deg["n_downweighted"] == 0
    ok = rows["Brand#OK"]
    assert ok["slope_ols"] is not None and ok["slope_huber"] is not None
    # cross-engine: every column identical, including the NULLs
    for brand, r in rows.items():
        o = dict(zip(cols, oracle[brand]))
        for c in r.asDict():
            assert r[c] == o[c], (brand, c, r[c], o[c])


# ---------------------------------------------------------------------------
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


# ---------------------------------------------------------------------------
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


# ---------------------------------------------------------------------------
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


# ---------------------------------------------------------------------------
# qini_uplift_curve


def test_qini_matches_python_replay(spark, order_cents, custkeys):
    """Python replay of the banded-decile Qini construction, including
    the portable md5-polynomial arm assignment: per-decile arm sizes,
    converter counts, uplift and Qini values must match the plan."""
    from ecommerce_data_pipeline_spark.plans.ml_ops import (
        _QINI_BIN_CAP,
        _QINI_BIN_CENTS,
        _QINI_CUTOVER,
        _QINI_SALT,
    )

    cut = datetime.fromisoformat(_QINI_CUTOVER)
    pre = defaultdict(int)
    post = defaultdict(int)
    for r in order_cents:
        if r.o_orderdate < cut:
            pre[r.o_custkey] += r.cents
        else:
            post[r.o_custkey] += 1

    def treat(key):
        return 1 if md5_60(f"{_QINI_SALT}{key}") % 100 < 50 else 0

    binned = defaultdict(lambda: [0, 0])  # (bin, treat) -> [n, conv]
    for key in custkeys:
        b = min(pre[key] // _QINI_BIN_CENTS, _QINI_BIN_CAP)
        cell = binned[(b, treat(key))]
        cell[0] += 1
        cell[1] += 1 if post[key] > 0 else 0
    n_total = sum(v[0] for v in binned.values())
    bins_desc = sorted({b for b, _ in binned}, reverse=True)
    decile_of, before = {}, 0
    for b in bins_desc:
        decile_of[b] = (10 * before) // n_total
        before += sum(binned[(b, t)][0] for t in (0, 1) if (b, t) in binned)
    agg = defaultdict(lambda: [0, 0, 0, 0])  # decile -> n_t,conv_t,n_c,conv_c
    for (b, t), (n, conv) in binned.items():
        row = agg[decile_of[b]]
        if t == 1:
            row[0] += n
            row[1] += conv
        else:
            row[2] += n
            row[3] += conv
    got = {
        r.decile: r
        for r in REGISTRY["qini_uplift_curve"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(agg)
    cn_t = cconv_t = cn_c = cconv_c = 0
    for d in sorted(agg):
        n_t, conv_t, n_c, conv_c = agg[d]
        cn_t += n_t
        cconv_t += conv_t
        cn_c += n_c
        cconv_c += conv_c
        r = got[d]
        assert (r.n_treat, r.conv_treat, r.n_ctrl, r.conv_ctrl) == (
            n_t,
            conv_t,
            n_c,
            conv_c,
        ), d
        if n_t and n_c:
            assert abs(r.uplift_rate_diff - (conv_t / n_t - conv_c / n_c)) < 1e-6
        if cn_c:
            assert (
                abs(r.qini_value - (cconv_t * cn_c - cconv_c * cn_t) / cn_c)
                < 1e-4
            )


# ---------------------------------------------------------------------------
# als_implicit_step_certificate


def test_als_step_matches_python_replay(spark, segment_of):
    """Exact-Fraction replay of the rank-2 ridge solve: per-segment
    aggregates must match, and for a sample of users the closed-form
    improvement b^T A^-1 b must equal loss(0) - loss(x*) computed by
    actually solving the 2x2 system in rationals."""
    from fractions import Fraction

    from ecommerce_data_pipeline_spark.plans.ml_ops import (
        _ALS_LAMBDA,
        _ALS_SALT_1,
        _ALS_SALT_2,
        _ALS_SCALE,
    )

    part_brand = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, SF_SMOKE, "part")
        .select("p_partkey", "p_brand")
        .collect()
    }
    fac = {}
    for b in set(part_brand.values()):
        y1 = md5_60(f"{_ALS_SALT_1}{b}") % 5 - 2
        y2 = md5_60(f"{_ALS_SALT_2}{b}") % 5 - 2
        if y1 == 0 and y2 == 0:
            y1 = 1
        fac[b] = (y1, y2)
    cust_of = {
        r.o_orderkey: r.o_custkey
        for r in load_table(spark, SF_SMOKE, "orders")
        .select("o_orderkey", "o_custkey")
        .collect()
    }
    ratings = defaultdict(int)
    for r in (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    ):
        ratings[(cust_of[r.l_orderkey], part_brand[r.l_partkey])] += 1
    users = defaultdict(lambda: [0, 0, 0, 0, 0, 0])  # a11,a12,a22,b1,b2,sse0
    for (u, b), r in ratings.items():
        y1, y2 = fac[b]
        s = users[u]
        s[0] += y1 * y1
        s[1] += y1 * y2
        s[2] += y2 * y2
        s[3] += r * y1
        s[4] += r * y2
        s[5] += r * r
    seg = defaultdict(lambda: [0, 0, 0, None])  # n, sse0, imp_q, min_imp
    for u, (q11, q12, q22, b1, b2, sse0) in users.items():
        a11, a22 = _ALS_LAMBDA + q11, _ALS_LAMBDA + q22
        det = a11 * a22 - q12 * q12
        num = a22 * b1 * b1 - 2 * q12 * b1 * b2 + a11 * b2 * b2
        imp_q = (_ALS_SCALE * num) // det
        s = seg[segment_of[u]]
        s[0] += 1
        s[1] += sse0
        s[2] += imp_q
        s[3] = imp_q if s[3] is None else min(s[3], imp_q)
    got = {
        r.segment: r
        for r in REGISTRY["als_implicit_step_certificate"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(seg)
    for name, (n, sse0, imp_q, min_imp) in seg.items():
        r = got[name]
        assert r.n_users == n
        assert r.sse_before == sse0
        assert r.loss_improvement == imp_q / _ALS_SCALE
        assert r.min_user_improvement_q == min_imp
        assert r.never_increases_loss == (min_imp >= 0)
        assert min_imp >= 0  # PD system: the step can never hurt
    # algebra check on a user sample: b^T A^-1 b == loss(0) - loss(x*)
    for u in sorted(users)[:20]:
        q11, q12, q22, b1, b2, _ = users[u]
        a11, a22 = _ALS_LAMBDA + q11, _ALS_LAMBDA + q22
        det = a11 * a22 - q12 * q12
        x1 = Fraction(a22 * b1 - q12 * b2, det)
        x2 = Fraction(a11 * b2 - q12 * b1, det)
        # ridge loss difference: loss(x) - loss(0)
        #   = x^T A x - 2 b^T x  (ratings-squared terms cancel)
        dloss = (
            a11 * x1 * x1
            + 2 * q12 * x1 * x2
            + a22 * x2 * x2
            - 2 * (b1 * x1 + b2 * x2)
        )
        num = a22 * b1 * b1 - 2 * q12 * b1 * b2 + a11 * b2 * b2
        assert dloss == -Fraction(num, det)


# ---------------------------------------------------------------------------
# quantile_treatment_effect


def test_qte_matches_python_replay(spark, order_cents, custkeys):
    """Python replay of the type-1 per-arm quantiles (ceil(p*n/100)
    order statistic) and the QTE differences, hash arm split included."""
    from ecommerce_data_pipeline_spark.plans.ml_ops import (
        _QTE_CUTOVER,
        _QTE_PS,
        _QTE_SALT,
    )

    cut = datetime.fromisoformat(_QTE_CUTOVER)
    y = {k: 0 for k in custkeys}
    for r in order_cents:
        if r.o_orderdate >= cut:
            y[r.o_custkey] += r.cents
    arms = {0: [], 1: []}
    for k in custkeys:
        arms[1 if md5_60(f"{_QTE_SALT}{k}") % 100 < 50 else 0].append(y[k])
    for a in arms.values():
        a.sort()

    def q(vals, p):
        n = len(vals)
        rank = -(-p * n // 100)  # ceil(p*n/100)
        return vals[rank - 1]

    got = {
        r.quantile_pct: r
        for r in REGISTRY["quantile_treatment_effect"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(_QTE_PS)
    for p in _QTE_PS:
        r = got[p]
        qt, qc = q(arms[1], p), q(arms[0], p)
        assert r.q_treat == qt / 100.0, p
        assert r.q_ctrl == qc / 100.0, p
        assert r.qte == (qt - qc) / 100.0, p
