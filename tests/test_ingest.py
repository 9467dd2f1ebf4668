"""End-to-end EP1+EP2 lifecycle tests + hypothesis property tests for the
invariants the reference guarantees procedurally (SURVEY.md §5.4):
idempotent dimension insert, FK closure of enriched facts, landing-zone
partition-count equivalence.
"""

from __future__ import annotations

import datetime
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.functions.ids import customer_id, product_id
from ecommerce_data_pipeline_spark.ingest import Warehouse, run_ingest_cycle


def _dims(spark, n_prod=10, n_cust=10, offset=0):
    prod = spark.range(offset, offset + n_prod).select(
        product_id("id").alias("product_id"),
        F.concat(F.lit("Product "), F.col("id")).alias("product_name"),
        F.lit("Electronics").alias("category"),
        (F.round(F.rand(1) * 490 + 10, 2)).alias("price"),
    )
    cust = spark.range(offset, offset + n_cust).select(
        customer_id("id").alias("customer_id"),
        F.lit("Bronze").alias("membership_level"),
    )
    return prod, cust


def _facts(spark, n, n_prod=10, n_cust=10):
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    return spark.range(n).select(
        F.concat(F.lit("TXN"), F.lpad(F.col("id").cast("string"), 6, "0")).alias(
            "transaction_id"
        ),
        product_id(F.pmod(F.col("id"), F.lit(n_prod))).alias("product_id"),
        customer_id(F.pmod(F.col("id") * 7, F.lit(n_cust))).alias("customer_id"),
        (F.pmod(F.col("id"), F.lit(5)) + 1).cast("int").alias("quantity"),
        F.lit(9.99).alias("price"),
        (F.lit(base) + F.make_interval(mins=F.col("id").cast("int"))).alias("ts"),
    )


@pytest.fixture()
def wh_dir():
    d = tempfile.mkdtemp(prefix="wh_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_full_ingest_cycle_and_idempotence(spark, wh_dir):
    wh = Warehouse(wh_dir)
    prod, cust = _dims(spark)
    facts = _facts(spark, 100)
    r1 = run_ingest_cycle(spark, wh, prod, cust, facts, "ts",
                          landing_path=f"{wh_dir}/landing")
    assert r1 == {
        "new_products": 10,
        "new_customers": 10,
        "facts_ingested": 100,
        "facts_orphaned": 0,
    }

    # EP1 idempotence: same candidates again → zero inserts
    prod2, cust2 = _dims(spark)
    r2 = run_ingest_cycle(spark, wh, prod2, cust2, _facts(spark, 50), "ts")
    assert r2["new_products"] == 0 and r2["new_customers"] == 0

    # incremental: 5 new + 10 known candidates → exactly 5 inserted
    prod3, cust3 = _dims(spark, n_prod=15, n_cust=15)
    r3 = run_ingest_cycle(spark, wh, prod3, cust3, _facts(spark, 10), "ts")
    assert r3["new_products"] == 5 and r3["new_customers"] == 5

    # FK closure: every enriched fact found both dims (inner join lost none)
    enriched = spark.read.parquet(wh.table("fact_enriched"))
    assert enriched.count() == 160
    # collision-prefixed dim payload present
    assert "product_price" in enriched.columns
    assert "membership_level" in enriched.columns

    # landing zone is partition-discoverable and prunable
    landed = spark.read.parquet(f"{wh_dir}/landing")
    assert landed.count() == 100
    assert landed.filter(
        (F.col("year") == 2024) & (F.col("hour") == 12)
    ).count() == 60  # minutes 0-59 of hour 12


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    existing_n=st.integers(min_value=0, max_value=30),
    candidate_n=st.integers(min_value=1, max_value=30),
    overlap=st.integers(min_value=0, max_value=30),
)
def test_dedup_insert_count_property(spark, existing_n, candidate_n, overlap):
    """∀ sets: |new_rows_only(candidates, existing)| = |candidates| − overlap."""
    from ecommerce_data_pipeline_spark.operators.dedup import new_rows_only

    overlap = min(overlap, existing_n, candidate_n)
    existing = spark.range(0, existing_n).select(
        product_id("id").alias("product_id")
    )
    # candidates: `overlap` known keys + the rest fresh (offset far away)
    cand = spark.range(0, candidate_n).select(
        F.when(F.col("id") < overlap, product_id("id"))
        .otherwise(product_id(F.col("id") + 1000))
        .alias("product_id")
    )
    fresh = new_rows_only(cand, existing, "product_id")
    assert fresh.count() == candidate_n - overlap


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_sampling_seed_property(spark, seed):
    """∀ seeds: sample is a subset of the source with exactly k rows."""
    from ecommerce_data_pipeline_spark.operators.sampling import sample_exact_k

    src = spark.range(0, 500).select(F.col("id"))
    got = sample_exact_k(src, 20, seed=seed).collect()
    ids = {r["id"] for r in got}
    assert len(got) == 20 and len(ids) == 20
    assert ids <= set(range(500))


def test_ingest_orphans_surfaced_and_optin_fact_dedup(spark, wh_dir):
    """Facts whose FK has no dimension row must be COUNTED
    (facts_orphaned), not silently dropped; and dedup_key makes a
    re-delivered batch idempotent (0 appended) instead of double-landed."""
    wh = Warehouse(wh_dir)
    prod, cust = _dims(spark)
    facts = _facts(spark, 100, n_prod=12)  # ids P..10,11 have no dim row
    r1 = run_ingest_cycle(
        spark, wh, prod, cust, facts, "ts", dedup_key="transaction_id"
    )
    orphans = 100 - r1["facts_ingested"]
    assert r1["facts_orphaned"] == orphans and orphans > 0

    # exact re-delivery of the same batch: exactly-once via dedup_key
    prod2, cust2 = _dims(spark)
    r2 = run_ingest_cycle(
        spark,
        wh,
        prod2,
        cust2,
        _facts(spark, 100, n_prod=12),
        "ts",
        dedup_key="transaction_id",
    )
    assert r2["facts_ingested"] == 0
    enriched = spark.read.parquet(wh.table("fact_enriched"))
    assert enriched.count() == r1["facts_ingested"]


def test_ingest_landing_parses_reference_string_ts(spark, wh_dir):
    """A string transaction_date in the reference's non-ISO
    'yyyy-MM-dd-HH:mm:ss' format must still produce real time partitions
    (F.year on the raw string would yield NULL → __HIVE_DEFAULT_PARTITION__)."""
    import os

    from ecommerce_data_pipeline_spark.ingest import ingest_fact_batch

    wh = Warehouse(wh_dir)
    prod, cust = _dims(spark)
    facts = _facts(spark, 20).withColumn(
        "ts", F.date_format("ts", "yyyy-MM-dd-HH:mm:ss")
    )
    assert dict(facts.dtypes)["ts"] == "string"
    landing = f"{wh_dir}/landing_str"
    ingest_fact_batch(
        spark,
        wh,
        facts,
        "ts",
        {"product_id": ("product_id", prod), "customer_id": ("customer_id", cust)},
        landing_path=landing,
    )
    assert os.path.isdir(os.path.join(landing, "year=2024"))
    landed = spark.read.parquet(landing)
    assert landed.filter(F.col("year").isNull()).count() == 0
    assert landed.count() == 20
    assert dict(landed.dtypes)["ts"] == "string"  # raw column preserved
