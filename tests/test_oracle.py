"""Oracle-differential tests: every registered query vs its DuckDB twin.

This is the primary correctness gate (SURVEY.md §5.1), run at sf0.001 for
speed (the driver re-runs the same comparison at sf0.01).
"""

from __future__ import annotations

import pathlib
import re

import pytest

from ecommerce_data_pipeline_spark.plans import REGISTRY
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare, duckdb_connection
from tests.plan_invariants import (
    _BUILD_JOBS_OK,
    SCAN_RE,
    executed_plan,
    plan_violations,
)


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb_connection(SF_SMOKE)
    yield con
    con.close()


ORACLE_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle)
ROWS_ONLY_QUERIES = sorted(name for name, q in REGISTRY.items() if not q.oracle)


def _build(spark, name):
    """Build ``name``'s plan under its own job group (as bench.py's
    run_query does) and check the Spark jobs the build submitted: none
    unless the query is declared in ``_BUILD_JOBS_OK``, some if it is."""
    sc = spark.sparkContext
    group = f"build:{name}"
    sc.setJobGroup(group, name)
    try:
        df = REGISTRY[name].fn(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the store has seen every job
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    if name in _BUILD_JOBS_OK:
        assert jobs > 0, f"{name} is in _BUILD_JOBS_OK but its build ran no job"
    else:
        assert jobs == 0, f"{name}'s build ran {jobs} Spark jobs undeclared"
    return df


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, oracle_con, name):
    df = _build(spark, name)
    assert plan_violations(name, executed_plan(df)) == []
    compare(df, oracle_con, REGISTRY[name].oracle)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, name):
    df = _build(spark, name)
    assert plan_violations(name, executed_plan(df)) == []
    assert df.count() >= 0  # materializes without error; driver checks same


def test_scan_regex_matches_every_testdata_scan(spark):
    """The full-width-scan invariant must not pass VACUOUSLY: Spark
    truncates the Location metadata at spark.sql.maxMetadataStringLength
    (default 100), so a deep enough testdata path would cut
    'testdata/sf…/' out of every FileScan line and SCAN_RE would match
    nothing. Every query reads the same fixture path, so a truncation
    shows in q9's five table scans as well as anywhere."""
    plan = executed_plan(REGISTRY["q9_product_type_profit"].fn(spark, SF_SMOKE))
    scans = [line for line in plan.splitlines() if "FileScan parquet" in line]
    assert scans
    assert [line for line in scans if not SCAN_RE.search(line)] == []


# Rows-only contract enforcement: a query registered with oracle=None
# escapes the value-level oracle diff above, so each one must declare
# the pytest that pins its semantics against an exact counterpart (the
# COVERAGE.md discipline). Adding a rows-only query without a pin —
# or renaming its pin without updating this map — fails here.
_ROWS_ONLY_PINS = {
    "approx_aggregates": "test_approx_count_distinct_within_rsd",
    "hll_sketch_rollup": "test_hll_sketch_rollup_tracks_exact",
    "percentiles_approx_by_group": "test_percentiles_approx_by_group_tracks_exact",
    "bpe_segmentation_stats": "test_bpe_merge_sequence_matches_reference_and_is_layout_independent",
    "bpe_vocab_learn": "test_bpe_merge_sequence_matches_reference_and_is_layout_independent",
    "embedding_ivf_topk": "test_ivf_recall_vs_bruteforce",
    "embedding_lsh_topk": "test_lsh_ann_recall_vs_bruteforce",
    "embedding_pca_project": "test_pca_axes_and_projection",
    "embedding_pq_topk": "test_pq_recall_and_determinism",
    "generate_reference_batch": "test_transaction_generator_contract",
    "incremental_neardup_delta": "test_incremental_neardup_matches_full_run",
    "ivf_probe_recall_curve": "test_ivf_probe_recall_curve_monotone",
    "minhash_lsh_neardup": "test_minhash_lsh_matches_exact_jaccard",
    "multimodal_chunk_dedup": "test_multimodal_chunk_dedup_matches_sha256_replay",
    "multimodal_features": "test_multimodal_feature_schema_and_determinism",
    "parquet_layout_audit": "test_parquet_layout_audit_matches_duckdb_filename_scan",
    "queue_drain_summary": "test_txqueue_batch_source_deterministic_partitioned",
    "semantic_dedup_pairs": "test_sign_grid_bits_bound_pair_join_volume",
    "simhash_signatures": "test_simhash_finds_planted_neardups",
}


def dangling_pins(pins: dict[str, str], sources: str) -> dict[str, str]:
    """The entries of ``pins`` whose test no ``def <pin>(`` in
    ``sources`` defines: a pin named only in the map itself, or only as
    the prefix of a longer test name, does not resolve."""
    return {
        n: pin
        for n, pin in pins.items()
        if not re.search(rf"^def {re.escape(pin)}\(", sources, re.M)
    }


def test_every_rows_only_query_declares_a_pytest_pin():
    rows_only = sorted(name for name, q in REGISTRY.items() if not q.oracle)
    undeclared = [n for n in rows_only if n not in _ROWS_ONLY_PINS]
    assert undeclared == [], f"rows-only queries without a declared pin: {undeclared}"
    sources = "\n".join(
        p.read_text() for p in pathlib.Path(__file__).parent.glob("test_*.py")
    )
    dangling = dangling_pins(_ROWS_ONLY_PINS, sources)
    assert dangling == {}, f"declared pins not found in tests/: {dangling}"


def test_grade_priority_is_sound():
    """The driver samples the FIRST 50 of ``queries()``; GRADE_PRIORITY
    pins that prefix by hand each round. A typo'd name would silently
    drop out of the prefix and the driver would grade something
    unintended — fail loudly instead: every pinned name must resolve,
    no duplicates, and no entry in the sampled prefix may be rows-only
    (every slot is an oracle-backed hash grade)."""
    from ecommerce_data_pipeline_spark.plans.registry import (
        GRADE_PRIORITY,
        REGISTRY,
        oracle_sql,
        queries,
    )

    unknown = [n for n in GRADE_PRIORITY if n not in REGISTRY]
    assert unknown == [], f"GRADE_PRIORITY names not in REGISTRY: {unknown}"
    assert len(set(GRADE_PRIORITY)) == len(GRADE_PRIORITY), "duplicate pins"
    sampled = list(queries())[:50]
    oracles = oracle_sql()
    weak = [n for n in sampled if n not in oracles]
    assert weak == [], f"driver-sampled prefix has rows-only entries: {weak}"
    # Slate-size drift guard (advisor r9): with exactly 50 pins there is
    # zero slack — one more prepended name would silently push the last
    # rotation entry out of the graded prefix. Pin the length so drift
    # fails loudly at edit time instead.
    assert len(GRADE_PRIORITY) == 50, (
        f"GRADE_PRIORITY must be exactly the 50-slot driver sample, got "
        f"{len(GRADE_PRIORITY)} — rebalance the rotation instead of "
        f"growing the slate"
    )


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_emits_no_driver_unsafe_types(oracle_con, name):
    """Registry-wide oracle TYPE gate (VERDICT r6 task #2): bind every
    oracle in DuckDB and reject HUGEINT/INT128/DECIMAL output columns.
    Those fetch as Python ints locally but materialize as float64/object
    through Arrow/pandas at the driver, so a value-identical result
    still hash-fails there (trimmed_order_value_stats, r6) — the one
    divergence class the value diff in oracle_harness.compare cannot
    see. Binding only (no fetch), so the sweep is metadata-cheap."""
    from tests.oracle_harness import assert_oracle_types_safe

    rel = oracle_con.sql(REGISTRY[name].oracle)
    assert_oracle_types_safe(rel, context=name)


def test_canon_distinguishes_python_types():
    """The r6 blind spot, pinned: the local diff must treat equal-
    stringifying values of DIFFERENT Python types as mismatches
    (int 2978 vs float 2978.0 — the HUGEINT→float64 driver divergence),
    while staying stable for equal values of the same type."""
    import datetime

    from tests.oracle_harness import _canon

    assert _canon(2978) != _canon(2978.0)
    assert _canon(1) != _canon(True)
    assert _canon(0) != _canon(False)
    assert _canon("1") != _canon(1)
    assert _canon(datetime.date(2024, 1, 1)) != _canon(
        datetime.datetime(2024, 1, 1)
    )
    assert _canon(None) == "<null>"
    assert _canon(2978) == _canon(2978)
    assert _canon(0.1 + 0.2) == _canon(0.30000000000000004)
    assert _canon([1, 2.0]) != _canon([1, 2])
