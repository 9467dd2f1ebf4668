"""SCD2 dimension-history merge semantics."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.scd import scd2_init, scd2_merge

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
