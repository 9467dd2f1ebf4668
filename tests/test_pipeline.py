from __future__ import annotations

import importlib
import sys


def test_entry_smoke(spark):
    sys.path.insert(0, "/root/repo")
    entry_mod = importlib.import_module("__spark_entry__")
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"p_brand", "c_mktsegment", "revenue", "sum_qty", "n_lines"} == set(
        df.columns
    )


def test_oracle_keys_subset_of_queries():
    sys.path.insert(0, "/root/repo")
    entry_mod = importlib.import_module("__spark_entry__")
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) > 0


def test_bench_headline_and_grade_priority_names_resolve():
    """Every name in bench.py HEADLINE/CORE21 and in the registry's
    GRADE_PRIORITY rotation must resolve to a registered query — a
    rename otherwise silently breaks the driver bench or the grading
    rotation, and GRADE_PRIORITY must stay exactly 50 long (the
    driver's sample size)."""
    import importlib.util

    from ecommerce_data_pipeline_spark.plans import REGISTRY
    from ecommerce_data_pipeline_spark.plans.registry import GRADE_PRIORITY

    spec = importlib.util.spec_from_file_location("bench", "/root/repo/bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    missing_bench = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert missing_bench == []
    # the frozen regression set, pinned LITERALLY (asserting
    # CORE21 == HEADLINE[:21] alone is tautological — an insertion
    # before position 21 would silently redefine the metric)
    assert bench.CORE21 == [
        "flagship_revenue", "q1_pricing_summary", "q3_shipping_priority",
        "q5_local_supplier_volume", "q6_forecast_revenue",
        "q10_returned_items", "q18_large_volume_customer",
        "join_enrich_star", "window_running_revenue",
        "events_tumbling_window", "events_sessionize", "exact_text_dedup",
        "text_quality_score", "minhash_lsh_neardup",
        "embedding_cosine_topk", "embedding_lsh_topk", "asof_join_events",
        "word_frequencies", "pivot_priority_counts", "percentiles_exact",
        "q7_volume_shipping",
    ]
    missing_grade = [n for n in GRADE_PRIORITY if n not in REGISTRY]
    assert missing_grade == []
    assert len(GRADE_PRIORITY) == 50
    assert len(set(GRADE_PRIORITY)) == 50
