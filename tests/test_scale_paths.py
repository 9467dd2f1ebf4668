"""Tests for the scale-path mechanics: sketch-aggregate accuracy,
bucketed co-located joins (zero-shuffle), and plan-shape assertions
(broadcast joins, filter pushdown) — the properties that must hold at
100 TB, checked on the small fixture.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE
from tests.plan_invariants import executed_plan


def test_approx_count_distinct_within_rsd(spark):
    """approx_aggregates error-bound certificate, re-derived at r13
    HEAD (verdict r12 task #5): measured HLL rel-err across
    sf0.001/0.01/0.1 = 6.38% / 3.64% / 1.81% against the 15% (3*rsd)
    bound — 2.35x headroom at the worst fixture; GK approx-median
    rel-err = 0.03% / 0.11% / 0.03% against a 1% bound (the
    sketch_error_certificate contract, which replaces the pre-r13
    order-of-magnitude range check here)."""
    from pyspark.sql import functions as F

    li = load_table(spark, SF_SMOKE, "lineitem")
    out = REGISTRY["approx_aggregates"].fn(spark, SF_SMOKE).collect()[0]
    exact = li.select("l_orderkey").distinct().count()
    # rsd=0.05 → allow 3 sigma
    assert abs(out["approx_orders"] - exact) / exact < 0.15
    exact_med = float(
        li.agg(F.percentile("l_extendedprice", F.lit(0.5))).collect()[0][0]
    )
    assert abs(out["approx_median_price"] - exact_med) / exact_med < 0.01


def test_bucketed_join_has_no_shuffle(spark):
    """Bucketing both sides on the join key removes the last fact shuffle
    (SURVEY.md §7 / pipeline.py note): the sort-merge join reads
    pre-bucketed files with zero Exchange operators."""
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketed_test")
    try:
        li = load_table(spark, SF_SMOKE, "lineitem")
        orders = load_table(spark, SF_SMOKE, "orders")
        (
            li.write.mode("overwrite")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable("bucketed_test.li_b")
        )
        (
            orders.write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable("bucketed_test.ord_b")
        )
        # disable broadcast so the join would otherwise need a shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bucketed_test.li_b").join(
            spark.table("bucketed_test.ord_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert joined.count() == li.count()
        plan = executed_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed join should not shuffle:\n" + plan
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.sql("DROP TABLE IF EXISTS bucketed_test.li_b")
        spark.sql("DROP TABLE IF EXISTS bucketed_test.ord_b")
        spark.sql("DROP DATABASE IF EXISTS bucketed_test")
        shutil.rmtree("/tmp/engine-tests-warehouse", ignore_errors=True)


def test_flagship_plan_shape(spark):
    """The flagship plan holds its contract: dims broadcast, exactly one
    hash-partitioning exchange for the fact side (+1 for the final agg)."""
    from ecommerce_data_pipeline_spark.pipeline import flagship_revenue

    plan = executed_plan(flagship_revenue(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2  # part + customer dims
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"fact should shuffle once (+agg): {n_exchanges}"
    # column pruning reaches the fact scan: the dedup min-struct must not
    # drag unconsumed columns through the aggregate (the one full-width
    # scan an all-HEADLINE ReadSchema audit found, fixed r6)
    li_scan_lines = [
        line
        for line in plan.splitlines()
        if "FileScan parquet" in line and "lineitem" in line
    ]
    assert li_scan_lines, "no lineitem FileScan matched — plan format drift?"
    for line in li_scan_lines:
        assert "l_tax" not in line and "l_shipdate" not in line, line
        assert "l_suppkey" not in line and "l_returnflag" not in line, line


def test_filter_pushdown_reaches_scan(spark):
    """P5 predicates appear as PushedFilters in the Parquet scan, and
    column pruning shrinks ReadSchema to the selected columns."""
    q = REGISTRY["filter_predicates"].fn(spark, SF_SMOKE)
    plan = executed_plan(q)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity,30" in plan.replace(" ", "")
    # pruned: the scan must not read all 11 lineitem columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_tax" not in read_schema and "l_shipdate" not in read_schema


def test_topk_plans_take_ordered(spark):
    """O3: orderBy+limit must plan as TakeOrderedAndProject (per-partition
    heaps), not a global Sort."""
    plan = executed_plan(REGISTRY["top_k_customers"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_dynamic_partition_pruning(spark):
    """DPP: a join against a filtered dim prunes the partitioned fact's
    directories at runtime — the partition-pruning story of the
    reference's time-partitioned landing zone, upgraded from static to
    dynamic (SURVEY.md §4)."""
    d = tempfile.mkdtemp(prefix="dpp_")
    try:
        orders = load_table(spark, SF_SMOKE, "orders")
        orders.withColumn("year", F.year("o_orderdate")).write.partitionBy(
            "year"
        ).parquet(f"{d}/orders")
        fact = spark.read.parquet(f"{d}/orders")
        # dim: one row per year, filtered to a single year
        years = fact.select("year").distinct().filter(F.col("year") == 1997)
        joined = fact.join(years.hint("broadcast"), "year")
        plan = executed_plan(joined)
        assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(year" in plan, plan[:2000]
        expected = orders.filter(F.year("o_orderdate") == 1997).count()
        assert joined.count() == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_topk_per_group_plans_window_group_limit(spark):
    """Top-k-per-group (rank filter over a window) must plan as
    WindowGroupLimit — per-partition k-heaps BEFORE the shuffle/sort —
    not a full window sort of every group. At 100 TB this is the
    difference between shuffling k rows per group and shuffling the
    corpus. Guarded for the ANN scorers (full-corpus fan-in per query)
    and the per-group ranking query."""
    for q in ("embedding_cosine_topk", "window_rank_in_group"):
        plan = executed_plan(REGISTRY[q].fn(spark, SF_SMOKE))
        assert "WindowGroupLimit" in plan, f"{q}: no WindowGroupLimit\n{plan[:2000]}"


def test_document_queries_prune_columns(spark):
    """Column pruning must reach the documents scan: row-local text
    queries read ONLY (doc_id, text) — never lang/source/n_chars they
    don't use. At 100 TB the unused columns are most of the bytes."""
    import re

    from ecommerce_data_pipeline_spark.plans import REGISTRY

    expect = {
        "gopher_quality_flags": {"doc_id", "text"},
        "cross_doc_substring_dups": {"doc_id", "text"},
        "doc_fingerprint": {"doc_id", "text"},
    }
    for name, want in expect.items():
        plan = (
            REGISTRY[name]
            .fn(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for schema in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
            cols = {c.split(":")[0] for c in schema.split(",") if c}
            assert cols <= want, f"{name} scans unpruned columns: {cols - want}"


def test_item_item_cf_plans_equi_join_not_cartesian(spark):
    """item_item_cf_topk's pair stage must execute as an equi-join on
    l_orderkey — a CartesianProduct/BroadcastNestedLoopJoin would mean
    the basket key fell out of the join condition (O(N²) at scale)."""
    df = REGISTRY["item_item_cf_topk"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rrf_rankings_plan_take_ordered(spark):
    """rrf_rank_fusion's per-ranker top-20 must plan as
    TakeOrderedAndProject (distributed top-k), not a global sort or a
    single-reducer window over all matched docs."""
    df = REGISTRY["rrf_rank_fusion"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_trimmed_stats_window_runs_on_histogram_not_fact(spark):
    """trimmed_order_value_stats' cumulative window must consume the
    (priority, cents) histogram aggregate, not raw fact rows: the
    HashAggregate keyed by (prio, c) has to sit BELOW the Window in the
    executed plan."""
    df = REGISTRY["trimmed_order_value_stats"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    win = plan.find("Window")
    assert win != -1
    below = plan[win:]
    assert "HashAggregate" in below  # histogram agg feeds the window


def test_cusum_window_runs_on_daily_not_fact(spark):
    """revenue_cusum_changepoint's global-order window must consume the
    per-day aggregate, not raw orders rows: the HashAggregate keyed by
    day has to sit BELOW the Window in the executed plan (the
    boundedness argument for its _BOUNDED_WINDOW_OK exemption)."""
    df = REGISTRY["revenue_cusum_changepoint"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    win = plan.find("Window")
    assert win != -1
    assert "HashAggregate" in plan[win:]  # daily agg feeds the window


def test_survival_global_window_runs_on_buckets(spark):
    """repeat_purchase_survival: the per-customer episode window must be
    partitioned (o_custkey), and the only aggregates below the global
    bucket windows are the bucket/episode reductions — the global window
    never consumes per-customer rows directly."""
    df = REGISTRY["repeat_purchase_survival"].fn(spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "windowspecdefinition(o_custkey" in plan
    win = plan.find("Window")
    assert win != -1
    assert "HashAggregate" in plan[win:]


# ---------------------------------------------------------------------------
# Multi-consumer plans over one fact relation stay UNPINNED: the
# redundant column-pruned fact scans overlap across idle cores, while a
# persist barrier serializes the branches (r8 A/B: 2x slower walls for
# the HLL daily sketch, ~20% for the k-anon QI projection).

_MULTI_CONSUMER_QUERIES = {
    # query -> (fact table, n pipelined fact passes)
    "hyperloglog_union_over_time": ("events", 4),
    "histogram_quantile_window_merge": ("events", 4),
    # 6 = the broadcast join-back + 5 re-derivations of the c0 class
    # count (one per residual ladder level) — all narrow column-pruned
    # passes the plan overlaps
    "group_k_anonymity_generalize": ("orders", 6),
    # trigger-grid + flagged-join passes (watermark) and last-op-ranking
    # + op-count passes (cdc)
    "watermark_late_data_audit": ("events", 2),
    "cdc_compaction_io_audit": ("events", 2),
}


def _fact_scan_lines(plan: str, table: str) -> list[str]:
    return [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and f"{table}.parquet" in ln
    ]


def test_scale_mode_cluster_pins_one_fact_scan(spark):
    """Each multi-consumer plan keeps the measured-faster pipelined form:
    no InMemory* nodes, exactly N redundant column-pruned fact passes."""
    for name, (table, n_passes) in _MULTI_CONSUMER_QUERIES.items():
        plan = executed_plan(REGISTRY[name].fn(spark, SF_SMOKE))
        assert "InMemoryTableScan" not in plan, name
        assert len(_fact_scan_lines(plan, table)) == n_passes, name
