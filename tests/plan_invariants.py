"""Plan-shape invariants every graded query keeps, checked by the oracle
sweep (tests/test_oracle.py) on the DataFrame it already builds:

- no unpartitioned (single-reducer) window over a corpus-sized relation
  — the scale invariant behind the sharded pack_documents form;
  dimension-bounded windows are exempted below, each with its
  boundedness argument;
- no unhinted CartesianProduct (a BroadcastNestedLoopJoin with a 1-row
  broadcast side is the sanctioned stats-crossJoin pattern and is not
  flagged);
- column pruning reaches every testdata scan (temp/derived parquet the
  certificates write is not matched);
- every join pinned against AQE's timing-dependent strategy choice
  (_PINNED_JOINS) plans as its hinted operator.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ecommerce_data_pipeline_spark.schemas import TABLE_SCHEMAS

# A windowspecdefinition whose FIRST argument is already a sort-order
# (col ASC/DESC ...) has an empty partition spec — a single-reducer
# global window. Partitioned specs lead with plain partition columns.
GLOBAL_WINDOW = re.compile(r"windowspecdefinition\([^,()]+ (ASC|DESC)")


def executed_plan(df: DataFrame) -> str:
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


# Queries whose function runs Spark actions while it builds the plan: the
# eager certificates, the fixpoint and convergence loops, the driver-side
# trainers (BPE, IVF, PQ, PCA), and the eager localCheckpoint cuts and
# driver-side collects that feed a plan parameter. Every other query's
# build submits no Spark job (load_table reads a declared schema). The
# oracle sweep fails an undeclared query that submits a build job, and a
# declared one that submits none, so the set stays minimal.
_BUILD_JOBS_OK = {
    "attribution_markov_removal", "attribution_shapley_values",
    "benjamini_hochberg_fdr", "bpe_roundtrip_certificate",
    "bpe_segmentation_stats", "bpe_vocab_learn", "butterfly_count_bipartite",
    "chi_square_contingency", "clean_corpus_pipeline",
    "decontam_monitor_stream_certificate", "dedup_clusters",
    "dedup_quality_survivor", "embedding_ivf_topk", "embedding_pca_project",
    "embedding_pq_topk", "generalized_esd_outlier_test",
    "generate_reference_batch", "graph_core_decomposition_full",
    "group_sequential_obf_monitor", "hits_hub_authority",
    "ivf_probe_recall_curve", "ivf_recall_vs_exact",
    "jonckheere_terpstra_priority_trend", "kcore_peel_certificate",
    "kendall_tau_daily", "kmv_sketch_intersection", "ktruss_peel_certificate",
    "label_propagation_communities", "layout_values_certificate",
    "leakage_safe_split", "mann_kendall_trend", "matryoshka_recall_curve",
    "median_of_means_certificate", "mixture_convergence_monitor",
    "mixture_monitor_stream_certificate", "modularity_lpa_communities",
    "moods_median_test", "orders_psi_decile_drift",
    "page_hinkley_drift_daily", "page_hinkley_stream_certificate",
    "pca_variance_certificate", "pq_recall_vs_exact", "qini_uplift_curve",
    "quantile_treatment_effect", "queue_source_certificate",
    "random_fk_enrichment", "rendezvous_hashing_audit",
    "robust_regression_huber_irls", "sampling_certificate",
    "semantic_dedup_keeplist", "stratified_sample_certificate",
    "streaming_flagship_certificate", "supplier_customer_pagerank",
    "t_closeness_audit", "theilsen_daily_trend", "wilson_interval_funnel"
}


# Full column counts of the declared testdata layout (NOT the canonical
# TPC-H widths, which are larger: customer=8/orders=9 could never fire).
# No declared type carries a comma of its own, so columns = commas + 1.
# The third invariant flags a scan reading EVERY column of a >4-column
# table — at 100 TB an unpruned scan decodes multiples of the needed
# bytes (the flagship's dedup min-struct was the one occurrence, r6).
_TABLE_WIDTHS = {
    name: width
    for name, ddl in TABLE_SCHEMAS.items()
    if (width := len(ddl.split(","))) > 4
}
SCAN_RE = re.compile(
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


# Joins hinted because AQE picked their strategy or build side from the
# arrival order of cached stages' statistics: the hinted operators each
# plan must contain. leakage_safe_split's pins are jaccard_pairs', seen
# here in minhash_band_tuning_curve (its own plan reads checkpointed
# label rounds). The two broadcast sides are broadcast unhinted too here.
_SHJ = r"ShuffledHashJoin \[%s#\d+L?\], \[%s#\d+L?\], %s, BuildRight"
_SHJ_S = _SHJ % ("s", "s", "Inner")
_SHJ_IDS = [_SHJ % (k, k, "Inner") for k in ("id1", "id2")]
_BHJ = r"BroadcastHashJoin \[%s#\d+L\], \[%s#\d+L\], Inner, BuildRight"
_PINNED_JOINS = {
    "siegel_revenue_trend": [r"BroadcastNestedLoopJoin BuildRight, Inner, \(x#"],
    "doc_novelty_score": [_SHJ_S + "$"],
    "bigram_logprob_score": [_SHJ_S + "$"],
    "source_overlap_matrix": [_SHJ_S + ", NOT"],
    "prefix_filter_jaccard_join": [
        _SHJ_S + "$", _SHJ_S + r", \(\(\(id#", _SHJ % ("id", "id", "LeftSemi"),
    ] + _SHJ_IDS,
    "minhash_band_tuning_curve": [_SHJ_S + r", \(id#"],
    "item_item_cf_topk": [_BHJ % ("i", "i"), _BHJ % ("j", "j")],
    "triangle_clustering_coefficient": [_SHJ % ("lo", "lo", "Inner")],
}


def plan_violations(name: str, plan: str) -> list[str]:
    """The invariants query ``name``'s executed ``plan`` breaks."""
    out = []
    if (
        name not in _BOUNDED_WINDOW_OK
        and "Window" in plan
        and GLOBAL_WINDOW.search(plan)
    ):
        out.append("global window")
    if "CartesianProduct" in plan:
        out.append("CartesianProduct")
    for line in plan.splitlines():
        m = SCAN_RE.search(line)
        if not m:
            continue
        ncols = len([c for c in m.group(1).split(",") if c.strip()])
        width = _TABLE_WIDTHS.get(m.group(2))
        if width and ncols >= width and name not in _FULL_WIDTH_OK:
            out.append(f"full-width scan of {m.group(2)} ({ncols} columns)")
    for pin in _PINNED_JOINS.get(name, ()):
        if not re.search(pin, plan, re.M):
            out.append(f"unpinned join: {pin}")
    return out
