"""Round-2 guards: plan-shape assertions for the new TPC-H queries, the
no-global-window invariant across ALL graded queries, and the bounded
IVF-trainer collect (VERDICT.md round-1 items 4 and 6).

Correctness of the tpch2 queries themselves is covered by the
REGISTRY-parametrized oracle diff in test_oracle.py.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ecommerce_data_pipeline_spark.operators.ivf import train_centroids
from ecommerce_data_pipeline_spark.plans import REGISTRY
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE

# A windowspecdefinition whose FIRST argument is already a sort-order
# (col ASC/DESC ...) has an empty partition spec — a single-reducer
# global window. Partitioned specs lead with plain partition columns.
_GLOBAL_WINDOW = re.compile(r"windowspecdefinition\([^,()]+ (ASC|DESC)")


def _executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# Exempt from the global-window invariant: queries whose windowed
# relation is bounded by DIMENSIONALITY, not corpus size. The covariance
# ranking windows over d²/2 = 2016 cells whatever the row count — a
# single reducer over a metadata-scale relation is not a scale risk.
_BOUNDED_WINDOW_OK = {
    "embedding_covariance_top_pairs",
    # rank-assignment windows run AFTER .limit(20) — each consumes ≤20
    # rows by construction (the corpus-sized ranking is the
    # TakeOrderedAndProject feeding it; plan-pinned in
    # test_rrf_rankings_plan_take_ordered)
    "rrf_rank_fusion",
    # ordered CUSUM prefix sums run over the DAILY revenue table — the
    # fact table reduces map-side to one row per calendar day first, so
    # the single-reducer window sees ~10³ rows however large the input
    # (pinned in test_cusum_window_runs_on_daily_not_fact)
    "revenue_cusum_changepoint",
    # the KM risk-table windows (at-risk depletion + survival product)
    # run over 30-day buckets — ≤ observation-window/30 rows (~10²)
    # regardless of customer count; the per-customer episode extraction
    # before it is a partitioned window
    "repeat_purchase_survival",
    # the centered 7-day moving-average window runs over the same
    # calendar-bounded daily table as the CUSUM query
    "revenue_seasonal_decomposition",
    # the Siegel repeated-median outer medians (slope-of-medians and
    # residual) rank ~n_days rows — the per-day inner medians over the
    # O(days^2) pair relation partition by day; both are bounded by the
    # CALENDAR, not the corpus
    "siegel_revenue_trend",
    # the W1 prefix-CDF window runs over the distinct-VALUE histogram —
    # bounded by the 2dp price domain, not the order count (the
    # trimmed_order_value_stats contract); the fact table reduces
    # map-side to (value, counts) first
    "wasserstein_price_drift",
    # same value-domain histogram contract: the prefix-count window
    # feeding the exact range-boundary arithmetic sees distinct prices,
    # not orders
    "range_partition_balance",
    # same contract again: the Mann-Whitney doubled-rank window runs
    # over distinct values with tie groups pre-aggregated map-side
    "mannwhitney_u_test",
    # and its supremum/k-group siblings over the same value histogram
    "ks_test_price",
    "kruskal_wallis_test",
    # day-index assignment + the 14-row running Ljung-Box sum both run
    # over CALENDAR-bounded relations (the CUSUM contract)
    "acf_ljung_box",
    # the pooled inverse-CDF ranges window runs over the distinct
    # n_chars histogram (value-domain bounded); the per-source rank
    # window is partitioned
    "quantile_normalize_doclen",
    # AUC's doubled-midrank window runs over the distinct 6dp score
    # histogram (the mannwhitney contract)
    "classifier_auc_gini",
    # the watermark running max runs over the TRIGGER grid (arrival
    # hours of the event calendar, ~10^3 rows however large the
    # corpus); the fact reduces to one row per trigger first
    "watermark_late_data_audit",
    # the merge-on-read cumulative-reader window runs over the BATCH
    # grid (days of the changelog calendar); per-bucket cumulatives are
    # partitioned by bucket
    "cdc_compaction_io_audit",
    # the Cramér's V pinned-order accumulation window runs over the
    # <= 25-row taxonomy-bounded cell grid (the Brown-Forsythe
    # discipline)
    "cramers_v_segment_priority",
    # the Mood's-median prefix window runs over the distinct-value
    # histogram (the mannwhitney value-domain contract); the segment
    # fold after it is taxonomy-bounded
    "moods_median_test",
    # the JT prefix windows are partitioned (per-value over k group
    # rows, per-group over the value domain) — listed for the same
    # value-domain boundedness argument should the checker widen
    "jonckheere_terpstra_priority_trend",
    # the Cliff's-delta prefix window runs over the same two-segment
    # distinct-value histogram (the mannwhitney contract)
    "cliffs_delta_segments",
    # the Hellinger pinned-order accumulation frame runs over <= 20
    # integer-binned rows (the cramers_v discipline)
    "hellinger_price_drift",
    # the Ansari-Bradley position window runs over the two-segment
    # distinct-value histogram (the mannwhitney contract)
    "ansari_bradley_dispersion",
    # the mixture monitor's running doc total runs over the BATCH grid
    # (the arrival calendar — the cdc_compaction batch-grid contract);
    # the per-source cumulative window is partitioned by source
    "mixture_convergence_monitor",
    # the Theil-Sen median window runs over the pairwise-slope
    # histogram — CALENDAR-quadratic (C(days,2), the kendall_tau_daily
    # contract), fixed size at any corpus scale
    "theilsen_daily_trend",
    # all four Page-Hinkley windows (day index, prefix sum, drift
    # cumsum, running extrema) run over the daily relation (the CUSUM
    # contract)
    "page_hinkley_drift_daily",
    # the runs-test windows run over calendar/value-domain-bounded
    # relations: the median prefix over the distinct daily-revenue
    # histogram, the lag over one row per calendar day (the CUSUM
    # contract)
    "runs_test_daily_revenue",
    # the Brown-Forsythe pinned-order accumulation window runs over the
    # k-row per-priority relation (taxonomy-bounded, k=5); its median
    # prefix window is PARTITIONED by group over the distinct-value
    # histogram (the wasserstein contract)
    "brown_forsythe_variance_test",
    # both Qini windows run over CONSTRUCTION-bounded grids: the
    # cumulative-population window over the <= 801-row score-band
    # relation (LEAST-capped bins — the wasserstein value-histogram
    # contract) and the running-total window over <= 10 decile rows;
    # the per-customer relation is never ranked
    "qini_uplift_curve",
    # the decontamination growth windows (running benchmark-size and
    # contaminated-doc totals) run over the benchmark SHARD spine —
    # bounded by benchmark size / shard size (eval suites are tiny by
    # construction), never the corpus; the corpus-scale work before it
    # is a broadcast join + doc-keyed aggregate
    "decontamination_growth_monitor",
    # Page's trend test: the year-index window runs over the DISTINCT
    # year spine (<= k calendar years); the rank windows are
    # segment-partitioned over the taxonomy x calendar cell grid — all
    # bounded by construction, the fact table reduces map-side first
    "page_trend_yearly_revenue",
    # the CvM prefix windows run over the distinct-VALUE histogram of
    # the two segments' order values — bounded by the 2dp price domain
    # (the ansari/wasserstein contract), never the order count
    "cramer_von_mises_two_sample",
    # the Quade range-rank window runs over the m-row block-range
    # spine (segment taxonomy); every other window is
    # segment-partitioned over the taxonomy x calendar grid
    "quade_weighted_friedman",
    # the epoch-allocation waterfill windows (prefix cap/weight sums +
    # the capped-pool fold) run over the O(#langs) token-mass spine
    "token_budget_epoch_allocation",
}


# Full column counts of the ACTUAL driver testdata parquet (verified
# against the files — NOT the canonical TPC-H widths, which are larger;
# a review pass caught the original table using TPC-H's customer=8/
# orders=9 and thereby never able to fire for those tables). The third
# sweep invariant flags a scan reading EVERY column of a >4-column
# table — at 100 TB an unpruned scan decodes multiples of the needed
# bytes (the flagship's dedup min-struct was the one occurrence, r6).
_TABLE_WIDTHS = {
    "customer": 5, "part": 6, "orders": 6,
    "lineitem": 11, "events": 6, "documents": 5,
}
_SCAN_RE = re.compile(
    r"FileScan parquet \[(.*?)\].*?testdata/sf[\d.]+/(\w+)\."
)

# Queries whose CONTRACT is whole-row/whole-table — full-width scans
# are their semantics, not a pruning failure:
_FULL_WIDTH_OK = {
    # per-column profiler: null-rate/distinct/min/max for EVERY column
    "data_profile_orders",
    # the reference's `ORDER BY RANDOM() LIMIT 50` dim pull returns the
    # whole sampled row (O1)
    "sample_orders_k50",
    # golden-record survivorship merges EVERY attribute of the record
    # cluster by contract — the per-attribute rules consume all 6
    # orders columns (r8, plans/entity_resolution.py)
    "survivorship_merge_rules",
}


def test_no_graded_query_uses_global_window(spark):
    """No registered query may plan an unpartitioned (single-reducer)
    window over a corpus-sized relation — the scale invariant behind the
    sharded pack_documents form. Dimension-bounded windows are exempted
    above, each with its boundedness argument.

    'eager'-tagged certificate plans are skipped: their plan fn RUNS the
    full audit (streaming drains, exceptAll set-diffs) before returning
    a constants row, so sweeping them costs minutes per sweep, and the
    returned 1-row certificate relation has no plan shape worth
    checking (the oracle-value gate in test_oracle.py still executes
    each of them once)."""
    offenders = []
    cartesians = []
    full_scans = []
    n_scans_matched = 0
    for name, q in REGISTRY.items():
        if "eager" in q.tags:
            continue
        plan = _executed_plan(q.fn(spark, SF_SMOKE))
        if (
            name not in _BOUNDED_WINDOW_OK
            and "Window" in plan
            and _GLOBAL_WINDOW.search(plan)
        ):
            offenders.append(name)
        # same sweep, second invariant: no unhinted cartesian product
        # anywhere on the graded surface (BroadcastNestedLoopJoin with a
        # 1-row broadcast side is the sanctioned stats-crossJoin pattern
        # and is NOT flagged here)
        if "CartesianProduct" in plan:
            cartesians.append(name)
        # third invariant: column pruning reaches every testdata scan
        # (temp/derived parquet the certificates write is not matched)
        for line in plan.splitlines():
            m = _SCAN_RE.search(line)
            if not m:
                continue
            n_scans_matched += 1
            ncols = len([c for c in m.group(1).split(",") if c.strip()])
            width = _TABLE_WIDTHS.get(m.group(2))
            if width and ncols >= width and name not in _FULL_WIDTH_OK:
                full_scans.append((name, m.group(2), ncols))
    assert offenders == []
    assert cartesians == []
    assert full_scans == []
    # the pruning invariant must not pass VACUOUSLY: Spark truncates the
    # Location metadata at spark.sql.maxMetadataStringLength (default
    # 100), so a deep enough testdata path would cut 'testdata/sf…/' out
    # of every FileScan line and the regex would match nothing. The
    # registry plans hundreds of testdata scans; demand a floor.
    assert n_scans_matched > 300, (
        f"only {n_scans_matched} scans matched — path truncation or a "
        "plan-format change disabled the pruning sweep"
    )


def test_q2_window_is_partitioned_by_part(spark):
    plan = _executed_plan(REGISTRY["q2_min_cost_supplier"].fn(spark, SF_SMOKE))
    assert "Window" in plan
    assert not _GLOBAL_WINDOW.search(plan)


def test_q9_broadcasts_all_dims(spark):
    """q9's three dim joins must broadcast; only lineitem⋈orders may
    shuffle."""
    plan = _executed_plan(
        REGISTRY["q9_product_type_profit"].fn(spark, SF_SMOKE)
    )
    assert plan.count("BroadcastHashJoin") >= 3


def test_q4_plans_semi_join(spark):
    plan = _executed_plan(REGISTRY["q4_order_priority"].fn(spark, SF_SMOKE))
    assert "LeftSemi" in plan


def test_q16_plans_anti_join(spark):
    plan = _executed_plan(REGISTRY["q16_parts_supplier"].fn(spark, SF_SMOKE))
    assert "LeftAnti" in plan


def test_ivf_train_collect_is_bounded(spark, monkeypatch):
    """The coarse-quantizer trainer must never pull more than
    max_train_rows to the driver, however large the corpus (VERDICT.md:
    the round-1 default collected the full corpus)."""
    seen = {"max": 0}
    orig = DataFrame.collect

    def counting_collect(self):
        rows = orig(self)
        seen["max"] = max(seen["max"], len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    emb = load_table(spark, SF_SMOKE, "embeddings")  # 500 rows
    cents = train_centroids(emb, n_centroids=4, max_train_rows=64)
    assert seen["max"] <= 64
    assert len(cents) == 4
    assert all(len(c) > 0 for c in cents)


def test_percentiles_approx_by_group_tracks_exact(spark):
    """The sketch-based grouped percentiles must land within 1% of the
    exact per-group values — the accuracy contract that justifies it as
    the 100×-scale substitute for percentiles_exact."""
    exact = {
        r["l_returnflag"]: r.asDict()
        for r in REGISTRY["percentiles_exact"].fn(spark, SF_SMOKE).collect()
    }
    approx = {
        r["l_returnflag"]: r.asDict()
        for r in REGISTRY["percentiles_approx_by_group"].fn(spark, SF_SMOKE).collect()
    }
    assert exact.keys() == approx.keys()
    for flag, e in exact.items():
        a = approx[flag]
        for col in ("p25", "p50", "p75", "price_p90"):
            assert abs(a[col] - e[col]) <= max(abs(e[col]) * 0.01, 0.51), (
                flag,
                col,
                a[col],
                e[col],
            )


def test_hll_sketch_rollup_tracks_exact(spark):
    """Union-merged HLL estimates must land within HLL error (~2% at
    default lgK) of the exact per-flag distinct counts.

    Re-derived at r13 HEAD (verdict r12 task #5): measured worst
    per-flag rel-err across sf0.001/0.01/0.1 = 0.74% / 1.70% / 2.47%
    against the 5% bound — 2.0x headroom at the worst fixture (sf0.1,
    flag 'A': 113,090 est vs 110,366 exact)."""
    from pyspark.sql import functions as F
    from ecommerce_data_pipeline_spark.sources.readers import load_table

    est = {
        r["l_returnflag"]: r["approx_distinct_orders"]
        for r in REGISTRY["hll_sketch_rollup"].fn(spark, SF_SMOKE).collect()
    }
    li = load_table(spark, SF_SMOKE, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for flag, n in exact.items():
        assert abs(est[flag] - n) / n < 0.05, (flag, est[flag], n)
