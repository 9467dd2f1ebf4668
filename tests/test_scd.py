"""Dimension history and change capture: SCD2 merge semantics, CDC
changelog compaction and its bucket-IO ledger, bitemporal as-of worlds,
and the per-entity survivorship merge."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.scd import scd2_init, scd2_merge
from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE

T0 = datetime.datetime(2024, 1, 1)
T1 = datetime.datetime(2024, 2, 1)
T2 = datetime.datetime(2024, 3, 1)


def _snap(spark, rows):
    return spark.createDataFrame(rows, "product_id string, category string, price double")


def test_scd2_full_lifecycle(spark):
    hist = scd2_init(
        _snap(spark, [("p1", "Books", 10.0), ("p2", "Toys", 20.0)]), T0
    )

    # t1: p1 price changes, p2 unchanged, p3 appears
    hist = scd2_merge(
        hist,
        _snap(spark, [("p1", "Books", 12.0), ("p2", "Toys", 20.0), ("p3", "Home", 5.0)]),
        "product_id",
        T1,
    )
    rows = {(r["product_id"], r["price"], r["is_current"], r["valid_to"])
            for r in hist.collect()}
    assert ("p1", 10.0, False, T1) in rows          # old version closed at t1
    assert ("p1", 12.0, True, None) in rows         # new version open
    assert ("p2", 20.0, True, None) in rows         # untouched
    assert ("p3", 5.0, True, None) in rows          # new key
    assert hist.count() == 4

    # t2: re-applying the same snapshot is a no-op (idempotence)
    hist2 = scd2_merge(
        hist,
        _snap(spark, [("p1", "Books", 12.0), ("p2", "Toys", 20.0), ("p3", "Home", 5.0)]),
        "product_id",
        T2,
    )
    assert hist2.count() == 4
    assert hist2.filter(F.col("is_current")).count() == 3

    # t2': p1 changes again — history keeps all three versions in order
    hist3 = scd2_merge(
        hist, _snap(spark, [("p1", "Books", 15.0)]), "product_id", T2
    )
    p1 = sorted(
        [(r["price"], r["valid_from"], r["valid_to"]) for r in
         hist3.filter(F.col("product_id") == "p1").collect()]
    )
    assert p1 == [(10.0, T0, T1), (12.0, T1, T2), (15.0, T2, None)]


def test_scd2_as_of_reconstruction(spark):
    """Point-in-time reads: the version valid at any timestamp is the one
    whose [valid_from, valid_to) interval contains it."""
    hist = scd2_init(_snap(spark, [("p1", "Books", 10.0)]), T0)
    hist = scd2_merge(hist, _snap(spark, [("p1", "Books", 12.0)]), "product_id", T1)
    hist = scd2_merge(hist, _snap(spark, [("p1", "Books", 15.0)]), "product_id", T2)

    def as_of(ts):
        return (
            hist.filter(
                (F.col("valid_from") <= F.lit(ts))
                & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(ts)))
            )
            .select("price")
            .collect()[0]["price"]
        )

    assert as_of(datetime.datetime(2024, 1, 15)) == 10.0
    assert as_of(datetime.datetime(2024, 2, 15)) == 12.0
    assert as_of(datetime.datetime(2024, 3, 15)) == 15.0


def test_cdc_compact_properties_random_logs(spark):
    """Property test: for random changelogs, compaction (a) keeps at
    most one row per key, (b) keeps exactly the max-seq row of keys
    whose latest op is U, (c) drops keys whose latest op is D, and
    (d) is idempotent (compacting a snapshot changes nothing)."""
    import random

    from ecommerce_data_pipeline_spark.operators.scd import cdc_compact

    rng = random.Random(7)
    schema = "k string, seq long, op string, v double"
    for trial in range(3):
        keys = [f"k{i}" for i in range(rng.randint(3, 12))]
        log, seq = [], 0
        for _ in range(rng.randint(10, 60)):
            seq += 1
            log.append(
                (rng.choice(keys), seq,
                 "D" if rng.random() < 0.3 else "U",
                 round(rng.uniform(0, 100), 2))
            )
        df = spark.createDataFrame(log, schema)
        snap = cdc_compact(df, "k", ["seq"])
        rows = snap.collect()

        latest = {}
        for k, s, op, v in log:
            if k not in latest or s > latest[k][0]:
                latest[k] = (s, op, v)
        expected = {
            k: (s, op, v) for k, (s, op, v) in latest.items() if op == "U"
        }
        assert {r.k for r in rows} == set(expected), f"trial {trial}"
        for r in rows:
            assert (r.seq, r.op, r.v) == expected[r.k], f"trial {trial}"
        # idempotence
        again = cdc_compact(snap, "k", ["seq"]).collect()
        assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_cdc_io_audit_matches_python_ledger_and_snapshot(spark):
    """Independent Python replay of the bucket ledger (per-key last-op
    transitions -> bucket liveness -> per-batch COW/MOR rows), plus the
    cross-operator invariant: the ledger's final per-bucket liveness
    must sum to exactly cdc_apply_snapshot's row count (same changelog,
    same last-writer-wins semantics)."""
    rows = sorted(
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r["ts"].date(), r["ts"], r["event_id"]),
    )
    buckets = 16
    by_kb: dict = {}  # (user, day) -> last (ts, event_id, is_del)
    ops: dict = {}  # (bucket, day) -> [n_ops, n_del]
    for r in rows:
        day = r["ts"].date()
        b = r["user_id"] % buckets
        o = ops.setdefault((b, day), [0, 0])
        o[0] += 1
        is_del = 1 if r["event_type"] == "error" else 0
        o[1] += is_del
        cur = by_kb.get((r["user_id"], day))
        if cur is None or (r["ts"], r["event_id"]) > cur[:2]:
            by_kb[(r["user_id"], day)] = (r["ts"], r["event_id"], is_del)
    # per-key transitions in day order
    alive: dict = {}  # user -> 0/1
    deltas: dict = {}  # (bucket, day) -> delta
    days = sorted({d for (_u, d) in by_kb})
    for d in days:
        for (u, dd), (_t, _e, is_del) in by_kb.items():
            if dd != d:
                continue
            now = 0 if is_del else 1
            prev = alive.get(u, 0)
            deltas[(u % buckets, d)] = deltas.get((u % buckets, d), 0) + (
                now - prev
            )
            alive[u] = now
    # bucket cumulative liveness + per-batch ledger
    bucket_alive: dict = {}
    expected: dict = {}
    cum_ops = 0
    for d in days:
        n_ops = n_del = cow = touched = 0
        for b in range(buckets):
            if (b, d) not in ops:
                continue
            touched += 1
            n_ops += ops[(b, d)][0]
            n_del += ops[(b, d)][1]
            bucket_alive[b] = bucket_alive.get(b, 0) + deltas.get(
                (b, d), 0
            )
            cow += bucket_alive[b]
        cum_ops += n_ops
        expected[d] = (
            n_ops,
            n_del,
            touched,
            cow,
            n_ops,
            cum_ops,
            round(cow / n_ops, 4),
        )
    got = {
        r["batch_day"]: (
            r["n_ops"],
            r["n_deletes"],
            r["n_buckets_touched"],
            r["cow_rows_written"],
            r["mor_rows_written"],
            r["mor_reader_rows"],
            r["cow_write_amplification"],
        )
        for r in REGISTRY["cdc_compaction_io_audit"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # cross-operator: final liveness == compacted snapshot cardinality
    snap_n = REGISTRY["cdc_apply_snapshot"].fn(spark, SF_SMOKE).count()
    assert sum(bucket_alive.values()) == sum(
        1 for v in alive.values() if v
    ) == snap_n


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
