#!/usr/bin/env python
"""Benchmark harness: the HEADLINE queries at $SPARK_GRAFT_SF_DIR (default
sf0.1), local[$SPARK_GRAFT_CPUS].

Each query runs 1 + RUNS times, each time built and executed from an
empty cache under its own Spark job group. The first run is the warm-up
(codegen); the wall is the MIN of the other RUNS (min is the estimate
least polluted by co-tenant load: contention only ever slows a run
down). Results are materialized with the noop sink. Each run's jobs,
stages, tasks, shuffle records and input bytes are read from the status
store (``perfbench.trace.job_group_counters``).

The regression gate is structural. The counters do not depend on host
speed, so each run compares them with the committed
``BENCH_PROFILE.json`` entry for its fixture and core count, prints FAIL
with every query/counter that went up, and rewrites that entry (one line
per query; a counter that differs between a query's executions is kept
as its [lowest, highest]). A change that moves a plan commits the
rewritten file, so the counter diff is what review sees. A fixture/core
count with no entry is recorded and passes. Walls stay in the payload as
corroboration.

Prints the full payload as one JSON line (also written to
``BENCH_LOCAL.json``), then a short summary line.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from ecommerce_data_pipeline_spark import plans  # noqa: E402
from ecommerce_data_pipeline_spark.session import get_spark  # noqa: E402
from perfbench.trace import job_group_counters  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS = 3
PROFILE = os.path.join(REPO, "BENCH_PROFILE.json")

# The first 21 entries are CORE21 (below). The stream certificates run an
# eager streaming lifecycle inside the query function and are not benched.
HEADLINE = [
    "flagship_revenue",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume_customer",
    "join_enrich_star",
    "window_running_revenue",
    "events_tumbling_window",
    "events_sessionize",
    "exact_text_dedup",
    "text_quality_score",
    "minhash_lsh_neardup",
    "embedding_cosine_topk",
    "embedding_lsh_topk",
    "asof_join_events",
    "word_frequencies",
    "pivot_priority_counts",
    "percentiles_exact",
    "q7_volume_shipping",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q21_suppliers_kept_waiting",
    "embedding_pq_topk",
    "doc_novelty_score",
    "bigram_logprob_score",
    "source_overlap_matrix",
    "leakage_safe_split",
    "cross_doc_substring_dups",
    "semantic_dedup_keeplist",
    "ivf_probe_recall_curve",
    "bootstrap_ci_order_value",
    "knn_label_vote",
    "mmr_diverse_topk",
    "item_item_cf_topk",
    "rrf_rank_fusion",
    "seasonal_naive_backtest",
    "trimmed_order_value_stats",
    "prefix_filter_jaccard_join",
    "ab_welch_ttest_segments",
    "repeat_purchase_survival",
    "revenue_cusum_changepoint",
    "dsir_importance_weights",
    "rake_keyword_extraction",
    "revenue_seasonal_decomposition",
    "siegel_revenue_trend",
    "stupid_backoff_trigram_score",
    "kmeans_lloyd_step_certificate",
    "cf_holdout_hitrate",
    "logrank_survival_test",
    "conformal_interval_coverage",
    "minhash_band_tuning_curve",
    "vocab_coverage_curve",
    "robust_regression_huber_irls",
    "hyperloglog_union_over_time",
    "survivorship_merge_rules",
    "ndcg_ranking_eval",
    "watermark_late_data_audit",
    "cdc_compaction_io_audit",
    "generalized_esd_outlier_test",
    "holt_winters_level_trend",
    "attribution_shapley_values",
    "kcore_peel_certificate",
    "qini_uplift_curve",
    "kendall_tau_daily",
    "als_implicit_step_certificate",
    "hits_hub_authority",
    "consistent_hashing_rebalance_audit",
    "triangle_clustering_coefficient",
    "mcnemar_repeat_purchase",
    "cochran_q_event_types",
    "rendezvous_hashing_audit",
    "pareto_skyline_parts",
    "graph_core_decomposition_full",
    "friedman_rank_test_events",
    "brown_forsythe_variance_test",
    "hilbert_layout_key",
    "runs_test_daily_revenue",
    "modularity_lpa_communities",
    "butterfly_count_bipartite",
    "link_prediction_common_neighbors",
    "page_hinkley_drift_daily",
    "ktruss_peel_certificate",
    "theilsen_daily_trend",
    "cohens_kappa_quality_gates",
    "cramers_v_segment_priority",
    "jonckheere_terpstra_priority_trend",
    "moods_median_test",
    "mixture_convergence_monitor",
    "cliffs_delta_segments",
    "cochran_armitage_priority_trend",
    "link_prediction_resource_allocation",
    "hellinger_price_drift",
    "ansari_bradley_dispersion",
    "decontamination_growth_monitor",
    "page_trend_yearly_revenue",
    "keyness_chi2_terms",
    "kendalls_w_concordance",
    "cramer_von_mises_two_sample",
    "quade_weighted_friedman",
    "decontam_span_removal_stats",
]

# FROZEN round-over-round regression metric: the 21 queries benched in
# every round since r1. This set must never change — additions go to
# HEADLINE above, so `core21_wall_sec` stays a single comparable number
# while the headline suite grows.
CORE21 = HEADLINE[:21]

# The job-group counters the gate keeps. Shuffle bytes are left out: they
# moved by a few bytes between executions of unchanged plans. Output
# bytes are always 0 under the noop sink.
COUNTERS = ("jobs", "stages", "tasks", "shuffle_records", "input_bytes")


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def run_query(spark, name: str, i: int) -> tuple[float, dict]:
    """Build and execute ``name`` once, from an empty cache, under its own
    job group; return the wall and the counters of every job it
    submitted, eager jobs inside the query function included."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = f"bench:{name}:{i}"
    sc.setJobGroup(group, name)
    try:
        t0 = time.perf_counter()
        materialize(plans.REGISTRY[name].fn(spark, SF_DIR))
        wall = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    counters = job_group_counters(spark, group)
    return wall, {k: counters[k] for k in COUNTERS}


def counter_span(value) -> tuple[int, int]:
    """(lowest, highest) of a profile value: an int, or [lo, hi] for a
    counter that differed between a query's executions."""
    return tuple(value) if isinstance(value, list) else (value, value)


def profile_value(lo: int, hi: int):
    return lo if lo == hi else [lo, hi]


def compare_counters(committed: dict | None, current: dict) -> tuple[dict, dict]:
    """The gate. ``current`` holds each query's counters from this run as
    profile values. A counter went up when every execution this run did
    more than any committed execution (lo > committed hi): FAIL. It went
    down when every execution did less (hi < committed lo): reported.
    Either way the entry takes this run's value; otherwise the entry
    widens to every value the plan has produced. Queries missing from
    the entry, or a missing entry, are recorded and pass. Returns the
    verdict and the rewritten entry."""
    up, down, entry = [], [], {}
    for name, counters in current.items():
        before = (committed or {}).get(name, {})
        line = {}
        for key, value in counters.items():
            lo, hi = counter_span(value)
            if key in before:
                old_lo, old_hi = counter_span(before[key])
                moved = f"{name}.{key} {before[key]}->{value}"
                if lo > old_hi:
                    up.append(moved)
                elif hi < old_lo:
                    down.append(moved)
                else:
                    lo, hi = min(lo, old_lo), max(hi, old_hi)
            line[key] = profile_value(lo, hi)
        entry[name] = line
    gate = {
        "verdict": "FAIL" if up else "PASS",
        "recorded": committed is None,
        "up": up,
        "down": down,
    }
    return gate, entry


def read_profile(path: str) -> dict:
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def dump_profile(profile: dict) -> str:
    """JSON with one line per query, so a plan change diffs as the lines
    of the queries it moved."""
    entries = []
    for key in sorted(profile):
        rows = ",\n".join(
            f"  {json.dumps(name)}: {json.dumps(counters)}"
            for name, counters in profile[key].items()
        )
        entries.append(f" {json.dumps(key)}: {{\n{rows}\n }}")
    return "{\n" + ",\n".join(entries) + "\n}\n"


# files a bench run itself rewrites; a diff in them alone is not stale code
_ARTIFACTS = re.compile(
    r"(BENCH_LOCAL\.json|BENCH_PROFILE\.json|(BENCH|CORRECTNESS)_r\d+\.json)$"
)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True, timeout=10,
    ).stdout.strip()


def _git_sha() -> str:
    """HEAD sha (+'-dirty' if source differs), '' if git is absent."""
    try:
        sha, status = _git("rev-parse", "HEAD"), _git("status", "--porcelain")
    except (OSError, subprocess.SubprocessError):
        return ""
    dirty = [ln for ln in status.splitlines() if not _ARTIFACTS.search(ln)]
    return sha + ("-dirty" if dirty else "")


def main() -> None:
    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    walls: dict[str, float] = {}
    counters: dict[str, dict] = {}
    for name in HEADLINE:
        runs = [run_query(spark, name, i) for i in range(1 + RUNS)]
        walls[name] = round(min(wall for wall, _ in runs[1:]), 3)
        # A few plans over persisted or checkpointed relations do not
        # repeat their counters from one execution to the next (measured
        # in one session: leakage_safe_split 25 or 26 jobs,
        # siegel_revenue_trend 7,214 or 2,898,024 shuffle records); such
        # a counter is kept as its [lowest, highest] over the executions.
        counters[name] = {}
        for k in COUNTERS:
            values = [c[k] for _, c in runs]
            counters[name][k] = profile_value(min(values), max(values))
    spark.stop()

    key = f"{os.path.basename(SF_DIR.rstrip('/'))}/c{CPUS}"
    profile = read_profile(PROFILE)
    gate, profile[key] = compare_counters(profile.get(key), counters)
    m = re.search(r"sf([0-9.]+)/?$", SF_DIR)
    payload = {
        "metric": "headline_suite_wall_sec",
        "value": round(sum(walls.values()), 3),
        "unit": "sec",
        "queries": walls,
        "sf": float(m.group(1)) if m else 0.0,
        "core21_wall_sec": round(sum(walls[n] for n in CORE21), 3),
        "counters": counters,
        "counter_gate": {"profile_key": key, **gate},
        "git_sha": _git_sha(),
    }
    line = json.dumps(payload)
    try:
        with open(PROFILE, "w") as fh:
            fh.write(dump_profile(profile))
        with open(os.path.join(REPO, "BENCH_LOCAL.json"), "w") as fh:
            fh.write(line + "\n")
    except OSError:
        pass  # a read-only checkout must not lose the stdout measurement
    print(line)
    print(json.dumps({
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": "sec",
        "sf": payload["sf"],
        "core21_wall_sec": payload["core21_wall_sec"],
        "counter_gate": gate["verdict"],
        "full_payload": "BENCH_LOCAL.json",
    }))
    for word, moved in (("FAIL: up", gate["up"]), ("lower", gate["down"])):
        for item in moved:
            print(f"bench counter gate {key} {word}: {item}", file=sys.stderr)


if __name__ == "__main__":
    main()
