"""Unit tests for operator semantics the oracle can't express:
EP1 anti-join insert semantics, seeded sampling determinism, as-of and
range joins, partitioned sinks, CSV ingest round-trip (SURVEY.md §5.3-5.4),
and the attribution family (position, Markov removal, Shapley, time
decay).
"""

from __future__ import annotations

import datetime
import shutil
import tempfile

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ecommerce_data_pipeline_spark.operators.dedup import (
    dedup_by_key,
    new_rows_only,
)
from ecommerce_data_pipeline_spark.operators.joins import as_of_join, range_join
from ecommerce_data_pipeline_spark.operators.sampling import (
    random_fk_assignment,
    sample_exact_k,
)
from ecommerce_data_pipeline_spark.schemas import TABLE_SCHEMAS, TRANSACTIONS_RAW
from ecommerce_data_pipeline_spark.sources.readers import (
    load_table,
    read_transactions_csv,
)
from ecommerce_data_pipeline_spark.sources.writers import (
    write_partitioned_csv,
    write_partitioned_parquet,
)
from tests.conftest import SF_CORRECT, SF_SMOKE


def test_dedup_by_key_deterministic(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    a = dedup_by_key(li, ["l_orderkey", "l_linenumber"], "l_partkey")
    b = dedup_by_key(li, ["l_orderkey", "l_linenumber"], "l_partkey")
    assert a.count() == b.count() == 4599  # known distinct PK count
    assert a.exceptAll(b).isEmpty()


def test_seeded_sampling_is_stable(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    s1 = {r["o_orderkey"] for r in sample_exact_k(orders, 50, seed=42).collect()}
    s2 = {r["o_orderkey"] for r in sample_exact_k(orders, 50, seed=42).collect()}
    s3 = {r["o_orderkey"] for r in sample_exact_k(orders, 50, seed=7).collect()}
    assert len(s1) == 50 and s1 == s2
    assert s1 != s3  # different seed, different draw


def test_random_fk_assignment_covers_and_preserves(spark):
    events = load_table(spark, SF_SMOKE, "events").select("event_id")
    part = load_table(spark, SF_SMOKE, "part").select("p_partkey", "p_brand")
    out = random_fk_assignment(events, part, "p_partkey", seed=42)
    assert out.count() == events.count()  # exactly one dim row per fact
    n_parts = out.select("p_partkey").distinct().count()
    assert n_parts > 50  # 1000 draws over 200 parts: wide coverage


def test_as_of_join_backward(spark):
    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (2, 15, "l3")], "k int, t int, lv string"
    )
    right = spark.createDataFrame(
        [(1, 5, "r1"), (1, 20, "r2"), (2, 16, "r3")], "k int, t int, rv string"
    )
    got = {
        (r["k"], r["t"]): r["right_rv"]
        for r in as_of_join(left, right, on="k", left_ts="t", right_ts="t").collect()
    }
    assert got == {(1, 10): "r1", (1, 20): "r2", (2, 15): None}


def test_range_join(spark):
    points = spark.createDataFrame([(5,), (15,), (25,)], "v int")
    buckets = spark.createDataFrame(
        [(0, 10, "low"), (10, 20, "mid"), (20, 30, "high")],
        "lo int, hi int, name string",
    )
    got = {r["v"]: r["name"] for r in range_join(points, buckets, "v", "lo", "hi").collect()}
    assert got == {5: "low", 15: "mid", 25: "high"}


def test_partitioned_sinks_roundtrip(spark):
    """S4: the year=/month=/day=/hour= landing layout, written
    distributed and pruned on read. One quarter of orders keeps the
    write to a few dozen day directories."""
    orders = load_table(spark, SF_SMOKE, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1995-03-31")
    )
    d = tempfile.mkdtemp(prefix="sink_")
    try:
        names = write_partitioned_parquet(orders, "o_orderdate", f"{d}/pq")
        assert names == ["year", "month", "day", "hour"]
        back = spark.read.parquet(f"{d}/pq")
        assert back.count() == orders.count()
        # partition pruning: filter on the partition column
        pruned = back.filter((F.col("year") == 1995) & (F.col("month") == 3))
        n_march = orders.filter(F.month("o_orderdate") == 3).count()
        assert n_march > 0
        assert pruned.count() == n_march
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_csv_landing_roundtrip(spark):
    """S4+S5: write the reference's CSV landing format, read it back with
    the declared schema (no inference), parse the non-ISO timestamp."""
    from ecommerce_data_pipeline_spark.functions.datetime import (
        format_reference_ts,
        parse_reference_ts,
    )

    rows = [
        ("TXN202401010000000001", "cust-000001", "prod-000001", 2, 19.99,
         datetime.datetime(2024, 1, 1, 12, 30, 5), "PayPal", "Completed"),
        ("TXN202401010000000002", "cust-000002", "prod-000002", 1, 5.49,
         datetime.datetime(2024, 1, 1, 13, 0, 0), "Credit Card", "Pending"),
    ]
    df = spark.createDataFrame(
        rows,
        "transaction_id string, customer_id string, product_id string, "
        "quantity int, price double, ts timestamp, payment_type string, status string",
    ).withColumn("transaction_date", format_reference_ts("ts"))
    # land the 8 reference columns in their CSV order; the hour
    # partitions derive from the landed non-ISO string itself
    raw_cols = StructType.fromDDL(TRANSACTIONS_RAW).fieldNames()
    landed_order = df.select(*raw_cols)
    d = tempfile.mkdtemp(prefix="csvzone_")
    try:
        write_partitioned_csv(
            landed_order, parse_reference_ts("transaction_date"), f"{d}/txn"
        )
        back = read_transactions_csv(spark, f"{d}/txn")
        assert back.columns == raw_cols + ["year", "month", "day", "hour"]
        assert {r["hour"] for r in back.collect()} == {12, 13}
        got = back.withColumn("parsed", parse_reference_ts("transaction_date"))
        out = {r["transaction_id"]: r["parsed"] for r in got.collect()}
        assert out["TXN202401010000000001"] == datetime.datetime(2024, 1, 1, 12, 30, 5)
        assert len(out) == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_declared_table_layout_matches_every_fixture(spark, tmp_path):
    """``TABLE_SCHEMAS`` is the layout every fixture directory stores:
    each declared schema equals the one Parquet infers from the table's
    footers, at all three testdata sizes and in a perfbench fixture. A
    fixture that loses or retypes a column fails here instead of reading
    back as NULLs through the declared read."""
    import os

    from perfbench.fixture import write_fixture

    fixture = str(tmp_path / "perfbench")
    write_fixture(fixture, seed=1, sf=0.001)
    sf01 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")
    for sf_dir in (SF_SMOKE, SF_CORRECT, sf01, fixture):
        for name, ddl in TABLE_SCHEMAS.items():
            inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
            assert StructType.fromDDL(ddl) == inferred, (sf_dir, name)


def test_load_table_keeps_wall_clock_in_any_session_time_zone(spark):
    """The stored timestamps are wall clocks (TIMESTAMP without UTC
    adjustment). A New York session that infers no TIMESTAMP_NTZ would
    take them from the footers as UTC instants and show them 5 h early;
    the declared NTZ read shows DuckDB's values."""
    from tests.oracle_harness import duckdb_connection

    ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    ny.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    got = [
        r[0]
        for r in load_table(ny, SF_SMOKE, "events")
        .orderBy("event_id")
        .select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .limit(5)
        .collect()
    ]
    con = duckdb_connection(SF_SMOKE)
    want = [
        ts.strftime("%Y-%m-%d %H:%M:%S.%f")
        for (ts,) in con.sql("SELECT ts FROM events ORDER BY event_id LIMIT 5")
        .fetchall()
    ]
    con.close()
    assert got == want


def test_anti_join_null_key_semantics(spark):
    """NULL-key candidates survive a LEFT ANTI join (null never equals an
    existing key) — the engine keeps them, matching SQL NOT EXISTS rather
    than NOT IN (which would drop every row when the subquery has NULLs).
    Documented dedup contract for dirty upstream feeds."""
    cand = spark.createDataFrame([("a",), ("b",), (None,)], "k string")
    existing = spark.createDataFrame([("a",), (None,)], "k string")
    out = {r["k"] for r in new_rows_only(cand, existing, "k").collect()}
    assert out == {"b", None}


def test_operators_on_empty_and_tiny_inputs(spark):
    """Edge semantics: empty candidate sets, empty corpora, single-row
    windows — nothing throws, cardinalities are right."""
    from pyspark.sql import Window

    from ecommerce_data_pipeline_spark.operators.similarity import (
        jaccard_pairs,
        minhash_lsh_neardup,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert jaccard_pairs(empty_docs, 0.8).count() == 0
    assert minhash_lsh_neardup(empty_docs).count() == 0

    one_doc = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    assert jaccard_pairs(one_doc, 0.8).count() == 0  # < 3 tokens → no shingles

    empty_cand = spark.createDataFrame([], "k string")
    existing = spark.createDataFrame([("a",)], "k string")
    assert new_rows_only(empty_cand, existing, "k").count() == 0
    assert new_rows_only(existing, empty_cand, "k").count() == 1

    single = spark.createDataFrame([(1, 5.0)], "g int, v double")
    w = Window.partitionBy("g").orderBy("v").rowsBetween(-2, 0)
    row = single.select(F.sum("v").over(w).alias("s")).collect()[0]
    assert row["s"] == 5.0


def test_pack_documents_sharded(spark):
    """Sharded packing: per-shard bins, each within budget (+1 doc slack),
    covering every document exactly once."""
    from ecommerce_data_pipeline_spark.operators.text import pack_documents

    docs = load_table(spark, SF_SMOKE, "documents")
    packed = pack_documents(docs, budget_tokens=512, shard_col="source").collect()
    assert {len(r["doc_ids"]) == r["n_docs"] for r in packed} == {True}
    assert sum(r["n_docs"] for r in packed) == docs.count()
    # a bin exceeds budget only by the final doc that crossed the line
    for r in packed:
        assert r["total_tokens"] < 512 + 600  # max doc ~ 512 tokens slack


def test_stratified_sample_proportions_and_determinism(spark):
    """sampleBy keeps non-downsampled strata whole, thins the target
    stratum near its fraction, and is rerun-stable under the same seed."""
    from ecommerce_data_pipeline_spark.operators.sampling import (
        stratified_sample,
    )
    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    fractions = {"en": 0.3, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 1.0}
    out = stratified_sample(docs, "lang", fractions)
    base = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, frac in fractions.items():
        if frac == 1.0:
            assert got.get(lang, 0) == base[lang]
    # Bernoulli(0.3) over ~200 docs: 3-sigma band
    import math

    n, p = base["en"], 0.3
    sigma = math.sqrt(n * p * (1 - p))
    assert abs(got.get("en", 0) - n * p) <= 3 * sigma
    again = stratified_sample(docs, "lang", fractions)
    assert sorted(r["doc_id"] for r in out.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in again.select("doc_id").collect()
    )


def test_isotonic_fit_matches_reference_pav(spark):
    """Grouped-map PAV: monotone output, weighted-mean preservation, and
    exact agreement with an independent driver-side PAV reference."""
    import numpy as np

    from ecommerce_data_pipeline_spark.operators.calibration import (
        isotonic_fit_per_group,
    )

    rows = [
        ("a", 1.0, 3.0, 1.0), ("a", 2.0, 1.0, 2.0), ("a", 3.0, 2.0, 1.0),
        ("a", 4.0, 5.0, 1.0),
        ("b", 1.0, 1.0, 1.0), ("b", 2.0, 2.0, 1.0), ("b", 3.0, 3.0, 1.0),
        ("c", 1.0, 9.0, 5.0), ("c", 2.0, 1.0, 1.0),
    ]
    df = spark.createDataFrame(rows, ["g", "x", "y", "w"])
    out = isotonic_fit_per_group(df, "g", "x", "y", "w").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append((r["x"], r["y"], r["w"], r["y_fit"]))
    for g, pts in by_g.items():
        pts.sort()
        fits = [p[3] for p in pts]
        assert fits == sorted(fits), f"non-monotone fit in {g}"
        wm_y = sum(p[1] * p[2] for p in pts) / sum(p[2] for p in pts)
        wm_f = sum(p[3] * p[2] for p in pts) / sum(p[2] for p in pts)
        assert abs(wm_y - wm_f) < 1e-9

    def ref_pav(y, w):
        means, weights, counts = [], [], []
        for yi, wi in zip(y, w):
            means.append(yi); weights.append(wi); counts.append(1)
            while len(means) > 1 and means[-2] > means[-1]:
                m2, w2, c2 = means.pop(), weights.pop(), counts.pop()
                m1, w1, c1 = means.pop(), weights.pop(), counts.pop()
                wt = w1 + w2
                means.append((m1 * w1 + m2 * w2) / wt)
                weights.append(wt); counts.append(c1 + c2)
        out = []
        for m, c in zip(means, counts):
            out.extend([m] * c)
        return out

    # group 'a': weighted PAV of [3,1,2,5] w=[1,2,1,1]
    exp_a = ref_pav([3.0, 1.0, 2.0, 5.0], [1.0, 2.0, 1.0, 1.0])
    got_a = [p[3] for p in sorted(by_g["a"])]
    assert np.allclose(got_a, exp_a)
    # group 'c': single violation pools to the weighted mean
    exp_c = ref_pav([9.0, 1.0], [5.0, 1.0])
    assert np.allclose([p[3] for p in sorted(by_g["c"])], exp_c)


def test_parquet_layout_audit_matches_duckdb_filename_scan(spark):
    """parquet_layout_audit (oracle=None: the filename pseudo-column
    needs the file PATH, which the driver's view-based oracles can't
    reference) value-diffed here against DuckDB's read_parquet
    filename=true with a matched path."""
    import duckdb

    from ecommerce_data_pipeline_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.01"
    got = {
        r["file_name"]: (r["n_rows"], r["min_key"], r["max_key"])
        for r in REGISTRY["parquet_layout_audit"].fn(spark, sf).collect()
    }
    want = {
        row[0]: (row[1], row[2], row[3])
        for row in duckdb.connect()
        .execute(
            "SELECT regexp_extract(filename, '([^/]+)$', 1), count(*), "
            "min(o_orderkey), max(o_orderkey) "
            f"FROM read_parquet('{sf}/orders.parquet', filename=true) GROUP BY 1"
        )
        .fetchall()
    }
    assert got == want


def test_asof_cogroup_nullable_types_on_unmatched_lefts(spark):
    """Unmatched lefts carry true NULLs (None, never NaN) in int32 and
    double right payloads, and those columns keep their types; one left
    row is earlier than all right rows, one key has no right rows."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t, "early"), (1, t + dt.timedelta(hours=5), "late"),
         (2, t + dt.timedelta(hours=1), "only")],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, t + dt.timedelta(hours=2), 7, 1.5)],
        "user_id long, ts timestamp, small int, score double",
    )
    a = as_of_join(left, right, on="user_id", left_ts="ts", right_ts="ts")
    dtypes = dict(a.dtypes)
    assert (dtypes["right_small"], dtypes["right_score"]) == ("int", "double")
    got = {r["tag"]: (r["right_small"], r["right_score"]) for r in a.collect()}
    assert got == {"early": (None, None), "late": (7, 1.5), "only": (None, None)}


def test_variant_parse_malformed_json_yields_null(spark):
    """Regression (ADVICE r4): parse_json errors on malformed payloads
    while the DuckDB oracle's json_extract_string returns NULL — the
    VARIANT plan must use try_parse_json so dirty input degrades to NULLs
    on both sides instead of diverging (error vs NULL)."""
    df = spark.createDataFrame(
        [(1, '{"k": "42"}'), (2, "{not json"), (3, None)],
        "event_id long, props string",
    )
    v = F.try_parse_json("props")
    out = {
        r["event_id"]: (r["k_str"], r["k_num"])
        for r in df.select(
            "event_id",
            F.try_variant_get(v, "$.k", "string").alias("k_str"),
            F.try_variant_get(v, "$.k", "long").alias("k_num"),
        ).collect()
    }
    assert out == {1: ("42", 42), 2: (None, None), 3: (None, None)}


def test_trimmed_stats_tiny_group_is_plain_mean(spark, tmp_path):
    """k = n//20 = 0 for groups under 20 rows: nothing is trimmed or
    clamped, so trimmed == winsorized == plain mean and the cuts are the
    group min/max. Exercises the histogram-retention boundary arithmetic
    at its degenerate point."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ecommerce_data_pipeline_spark.plans.registry import REGISTRY

    tbl = pa.table(
        {
            "o_orderpriority": ["1-URGENT"] * 3 + ["2-HIGH"] * 2,
            "o_totalprice": [10.00, 20.00, 30.00, 5.50, 6.50],
        }
    )
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    rows = {
        r["o_orderpriority"]: r
        for r in REGISTRY["trimmed_order_value_stats"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    urgent = rows["1-URGENT"]
    assert urgent["n_trim_each_side"] == 0
    assert urgent["trimmed_mean"] == urgent["winsorized_mean"] == 20.0
    assert urgent["low_cut"] == 10.0 and urgent["high_cut"] == 30.0
    high = rows["2-HIGH"]
    assert high["trimmed_mean"] == 6.0
    assert high["low_cut"] == 5.5 and high["high_cut"] == 6.5


def test_position_attribution_conserves_value(spark):
    """U-shaped credit splitting must conserve money exactly: the sum of
    attributed value across channels (incl. 'direct') equals the exact
    decimal sum of purchase values — the integer-cents DIV/remainder
    scheme leaks nothing."""
    from decimal import Decimal

    from ecommerce_data_pipeline_spark.plans import REGISTRY
    from ecommerce_data_pipeline_spark.sources.readers import load_table

    out = REGISTRY["attribution_position_based"].fn(spark, SF_SMOKE).collect()
    attributed = sum(Decimal(str(r["attributed_value"])) for r in out)
    ev = load_table(spark, SF_SMOKE, "events")
    total = (
        ev.filter(F.col("event_type") == "purchase")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("t"))
        .first()["t"]
    )
    assert attributed == total


def test_markov_attribution_invariants(spark):
    """Removal-effect DP sanity: conversion probabilities live in [0,1],
    every removal can only LOWER conversion, shares sum to ~1, and the
    driver-side collect is bounded by the (channels+3)^2 transition
    matrix, not the event count."""
    from ecommerce_data_pipeline_spark.plans import REGISTRY

    rows = REGISTRY["attribution_markov_removal"].fn(spark, SF_SMOKE).collect()
    assert rows
    base = {r["base_conversion"] for r in rows}
    assert len(base) == 1
    b = base.pop()
    assert 0.0 <= b <= 1.0
    share_total = 0.0
    for r in rows:
        assert 0.0 <= r["removal_conversion"] <= b + 1e-9
        assert r["removal_effect"] >= 0.0
        share_total += r["attribution_share"] or 0.0
    assert abs(share_total - 1.0) < 1e-4
    # collect boundedness: 4 channels + START/CONV/DROP
    n_channels = len(rows)
    assert n_channels <= 6


def test_shapley_matches_python_replay(spark):
    """Independent exact-Fraction replay of the coalition game: journey
    masks, v(S) over all 2^k subsets, phi_i from factorial weights —
    channel credits, touched counts and the efficiency identity must
    match the plan bit-for-bit (the published division is int/int in
    float, reproducible in Python)."""
    import math
    from collections import defaultdict

    from ecommerce_data_pipeline_spark.plans.registry import REGISTRY

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("val_cents"),
        )
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    channels = sorted(
        {r.event_type for r in rows if r.event_type != "purchase"}
    )
    bit = {c: 1 << i for i, c in enumerate(channels)}
    k = len(channels)
    coal_v = defaultdict(int)
    coal_n = defaultdict(int)
    for evs in by_user.values():
        evs.sort(key=lambda r: (r.ts, r.event_id))
        mask = 0
        for r in evs:
            if r.event_type == "purchase":
                coal_v[mask] += r.val_cents
                coal_n[mask] += 1
                mask = 0
            else:
                mask |= bit[r.event_type]

    def v(s):
        return sum(cv for m, cv in coal_v.items() if (m & s) == m)

    full = (1 << k) - 1
    fact = math.factorial
    expected = {}
    for c in channels:
        b = bit[c]
        phi_num = sum(
            fact(bin(s).count("1")) * fact(k - 1 - bin(s).count("1"))
            * (v(s | b) - v(s))
            for s in range(1 << k)
            if not s & b
        )
        touched = sum(n for m, n in coal_n.items() if m & b)
        expected[c] = (
            touched,
            phi_num / (fact(k) * 100.0),
            (v(full) - v(0)) / 100.0,
        )
    got = {
        r.channel: r
        for r in REGISTRY["attribution_shapley_values"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(channels)
    for c, (touched, shap, attributable) in expected.items():
        r = got[c]
        assert r.touched_journeys == touched, c
        assert r.shapley_value == shap, c
        assert r.attributable_value == attributable, c
        assert r.efficiency_gap_num == 0, c
    # efficiency: credits distribute exactly v(N) - v(empty)
    assert (
        sum(round(e[1] * 100 * fact(k)) for e in expected.values())
        == fact(k) * (v(full) - v(0))
    )


def test_time_decay_weighted_value_kernel_properties(spark):
    """Kernel invariants the oracle diff can't express as structure:
    decayed mass never exceeds raw mass (weights ≤ 1), and for a fixed
    event type the decay ratio is nondecreasing in the half-life (a
    longer memory can only keep MORE of the mass)."""
    from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = REGISTRY["time_decay_weighted_value"].fn(spark, SF_SMOKE).collect()
    assert rows
    by_type: dict[str, dict[int, float]] = {}
    for r in rows:
        assert r["decayed_value"] <= r["raw_value"] + 1e-6
        assert r["decayed_value"] > 0.0
        by_type.setdefault(r["event_type"], {})[r["half_life_days"]] = r[
            "decay_ratio"
        ]
    for et, ratios in by_type.items():
        assert set(ratios) == {1, 7, 30}, et
        assert ratios[1] <= ratios[7] <= ratios[30], (et, ratios)
