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
    # round 2: the heaviest new TPC-H shapes (correlated-min window,
    # 5-way profit join, double-negation exists). The suite wall grows
    # accordingly — BASELINE.md notes the 21→24 query change.
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q21_suppliers_kept_waiting",
    # round 3: the heaviest new extension ops (PQ ANN with relational
    # encode; shingle-DF novelty scoring). 24→26 queries — BASELINE.md
    # tracks the set change for cross-round wall comparisons.
    "embedding_pq_topk",
    "doc_novelty_score",
    # round 4: the heaviest new curation queries (bigram LM scoring,
    # source-overlap contamination matrix). 26→28; core21 unchanged.
    "bigram_logprob_score",
    "source_overlap_matrix",
    # round 4b: cluster-aware split (CC iteration) and substring-granular
    # dedup. 28→30; core21 unchanged.
    "leakage_safe_split",
    "cross_doc_substring_dups",
    # round 4c: the heaviest of the semantic-dedup/ANN-tuning additions.
    # 30→32; core21 unchanged.
    "semantic_dedup_keeplist",
    "ivf_probe_recall_curve",
    # round 4d: the Poisson-bootstrap CI (digest-bound by design — see
    # the three-way formulation measurement in plans/profiling.py).
    # 32→33; core21 unchanged.
    "bootstrap_ci_order_value",
    # round 5: kNN label voting and MMR diversity re-ranking (the new
    # similarity-application tier). 33→35; core21 unchanged.
    "knn_label_vote",
    "mmr_diverse_topk",
    # round 5b: basket CF, rank fusion, forecast backtest, histogram
    # trimming. 35→39; core21 unchanged.
    "item_item_cf_topk",
    "rrf_rank_fusion",
    "seasonal_naive_backtest",
    "trimmed_order_value_stats",
    # round 5c: prefix-filter exact similarity join (the third near-dup
    # path) and the statistics tier (Welch A/B, KM survival, CUSUM).
    # 39→43; core21 unchanged.
    "prefix_filter_jaccard_join",
    "ab_welch_ttest_segments",
    "repeat_purchase_survival",
    "revenue_cusum_changepoint",
    # round 5d (continuation session): the curation/robust-stats batch —
    # DSIR importance weighting, RAKE keywords, seasonal decomposition,
    # Siegel repeated-median trend. 43→47; core21 unchanged.
    "dsir_importance_weights",
    "rake_keyword_extraction",
    "revenue_seasonal_decomposition",
    # (registered as theilsen_revenue_trend through r5 — renamed to the
    # estimator it implements; same plan, BASELINE.md maps the r5 row)
    "siegel_revenue_trend",
    # round 5e: distributed-ML primitives — Stupid-Backoff trigram LM
    # (the heaviest new op: five count-table joins over the trigram
    # stream) and the fully-relational Lloyd step. 47→49; core21
    # unchanged.
    "stupid_backoff_trigram_score",
    "kmeans_lloyd_step_certificate",
    # round 5f: the CF holdout backtest (train-split model build + two
    # ranking windows — the heaviest of the eval-certificate batch).
    # 49→50; core21 unchanged.
    "cf_holdout_hitrate",
    # round 5g: the heaviest of the statistics/certificate tier —
    # log-rank survival inference (episode windows + dense risk grid)
    # and split-conformal coverage (three hash splits + rank window).
    # 50→52; core21 unchanged.
    "logrank_survival_test",
    "conformal_interval_coverage",
    # round 7: the heaviest of the new tuning/tokenizer queries — the
    # LSH design curve (df-capped pair self-join) and the vocabulary
    # coverage curve (fact-scale token agg + bucket-offset ranking).
    # 52→54; core21 unchanged.
    "minhash_band_tuning_curve",
    "vocab_coverage_curve",
    # round 8: the heaviest of the new tier — Huber IRLS (three full
    # fact aggregates + two reweight joins), the HLL window union
    # (7-day range-join fan-out ×2), golden-record survivorship (two
    # per-entity windows), graded-relevance nDCG (two fact aggregates +
    # two segment windows). 54→58; core21 unchanged.
    "robust_regression_huber_irls",
    "hyperloglog_union_over_time",
    "survivorship_merge_rules",
    "ndcg_ranking_eval",
    # round 9: the four new queries (watermark replay with its grid
    # join-back, CDC bucket ledger with two fact windows, the ESD
    # localCheckpoint trim rounds, the per-segment Holt fold).
    # 58→62; core21 unchanged.
    "watermark_late_data_audit",
    "cdc_compaction_io_audit",
    "generalized_esd_outlier_test",
    "holt_winters_level_trend",
    # round 9b: the heaviest of the late-r9 additions (coalition-game
    # attribution over the journey window, the 12-round k-core peel,
    # the banded-decile Qini aggregate, the calendar-quadratic Kendall
    # pair census). 62→66; core21 unchanged.
    "attribution_shapley_values",
    "kcore_peel_certificate",
    "qini_uplift_curve",
    "kendall_tau_daily",
    # round 9c: the exact ALS half-step (two fact joins + two
    # user-keyed aggregates). 66→67; core21 unchanged.
    "als_implicit_step_certificate",
    # round 10: the two new queries — the 4-round HITS power iteration
    # (8 node-keyed shuffles over the persisted trade-edge relation)
    # and the consistent-hashing ring audit (2 chained BNL joins + the
    # 9-row rollup). 67→69; core21 unchanged.
    "hits_hub_authority",
    "consistent_hashing_rebalance_audit",
    # round 10 batch 2: the oriented triangle census (3 node-keyed
    # joins over the persisted oriented-edge relation) and the McNemar
    # paired test (one fact agg + the customer-spine join). 69→71;
    # core21 unchanged.
    "triangle_clustering_coefficient",
    "mcnemar_repeat_purchase",
    # round 10 batch 3: Cochran's Q (distinct projection + two hash
    # aggs). 71→72; core21 unchanged.
    "cochran_q_event_types",
    # round 10 batch 4: the HRW placement audit (9 per-row hashes +
    # array argmax, zero-shuffle assignment). 72→73; core21 unchanged.
    "rendezvous_hashing_audit",
    # round 10 batch 5: the Pareto skyline (two-level prefix sweep,
    # never the quadratic anti-join). 73→74; core21 unchanged.
    "pareto_skyline_parts",
    # round 11: the seven new operators — the nested k-core ladder (the
    # heaviest: up to 6 rungs of node-keyed peel rounds), the Friedman /
    # Brown-Forsythe / runs hypothesis tests (histogram + k-row
    # arithmetic), the Hilbert key (constant-lookup broadcast join),
    # LPA modularity (vote loop + two label-keyed aggs), and the
    # butterfly census (one codegree self-join on the cheaper side).
    # 74→81; core21 unchanged.
    "graph_core_decomposition_full",
    "friedman_rank_test_events",
    "brown_forsythe_variance_test",
    "hilbert_layout_key",
    "runs_test_daily_revenue",
    "modularity_lpa_communities",
    "butterfly_count_bipartite",
    # round 11 batch 5: common-neighbors link prediction (adjacency
    # self-join + TakeOrdered) and the Page-Hinkley drift scan
    # (calendar-bounded window passes). 81→83; core21 unchanged.
    "link_prediction_common_neighbors",
    "page_hinkley_drift_daily",
    # round 11 batch 6: the k-truss edge peel (per-round support
    # recount joins). 83→84; core21 unchanged.
    "ktruss_peel_certificate",
    # round 11 batch 7: the Theil-Sen pair-census median (the
    # calendar-quadratic self-join + slope-histogram window). 84→85;
    # core21 unchanged.
    "theilsen_daily_trend",
    # round 11 batch 8: Cohen's kappa (single-pass 2x2) and Cramér's V
    # (taxonomy-bounded grid). 85→87; core21 unchanged.
    "cohens_kappa_quality_gates",
    "cramers_v_segment_priority",
    # round 12: Jonckheere-Terpstra + Mood's median (value-domain
    # histogram windows), the mixture-convergence monitor (integer
    # micros, batch-grid windows), Cliff's delta (two-segment histogram
    # fold), and Cochran-Armitage (5-row scalar fold). 87→92; core21
    # unchanged.
    "jonckheere_terpstra_priority_trend",
    "moods_median_test",
    "mixture_convergence_monitor",
    "cliffs_delta_segments",
    "cochran_armitage_priority_trend",
    # round 12 batch 6: RA link prediction (wedge join + nano weights).
    # 92→93; core21 unchanged.
    "link_prediction_resource_allocation",
    # round 12 batch 7: Hellinger drift (20-bin histogram fold). 93→94;
    # core21 unchanged.
    "hellinger_price_drift",
    # round 12 batch 9: Ansari-Bradley (value-domain rank fold). 94→95;
    # core21 unchanged. (Batch 8's stream certificate is excluded per
    # the streaming_flagship_certificate convention — eager lifecycle.)
    "ansari_bradley_dispersion",
    # round 13: the decontamination growth curve (corpus shingle pass +
    # broadcast benchmark-gram join) and Page's ordered trend test (one
    # fact agg to the segment x year grid). 95→97; core21 unchanged.
    # (The decontam stream certificate is excluded per the
    # streaming_flagship_certificate convention — eager lifecycle.)
    "decontamination_growth_monitor",
    "page_trend_yearly_revenue",
    # round 13 batch 2: the heaviest of the new tier — chi-square
    # keyness (corpus explode + term-keyed agg + TakeOrdered) and
    # Kendall's W (the shared segment x year grid). 97→99; core21
    # unchanged. (lang_temperature_sampling_weights is a single
    # language-keyed aggregate — sub-second, not benched.)
    "keyness_chi2_terms",
    "kendalls_w_concordance",
    # round 13 batch 3: the CvM drift test (two-segment histogram +
    # value-domain prefix windows). 99→100; core21 unchanged.
    "cramer_von_mises_two_sample",
    # round 13 batch 4: the Quade range-weighted rank test (shared
    # segment x year grid + the m-row range spine). 100→101; core21
    # unchanged.
    "quade_weighted_friedman",
    # round 13 batch 5: span-level decontamination accounting (the
    # positional shingle pass + island-merge windows). 101→102; core21
    # unchanged. (token_budget_epoch_allocation is a single
    # language-keyed aggregate — sub-second, not benched, the
    # lang_temperature precedent.)
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
