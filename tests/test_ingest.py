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
from tests.conftest import SF_SMOKE


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
    """∀ sets: |insert(candidates, existing)| = |existing| + |candidates \\ existing|."""
    from ecommerce_data_pipeline_spark.operators.dedup import insert_new

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
    merged = insert_new(cand, existing, "product_id")
    assert merged.count() == existing_n + (candidate_n - overlap)


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


def test_json_lines_roundtrip(spark, tmp_path):
    """JSON-lines sink/source round-trip preserves rows and types under a
    pinned schema (timestamps survive the ISO-string hop)."""
    from ecommerce_data_pipeline_spark.sources.readers import (
        load_table,
        read_json_lines,
    )
    from ecommerce_data_pipeline_spark.sources.writers import write_json_lines

    src = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_json")
    write_json_lines(src, path)
    back = read_json_lines(spark, path, src.schema)
    assert back.schema == src.schema
    a = sorted(tuple(r) for r in src.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC sink/source round-trip is lossless and filters push to the ORC
    scan like Parquet."""
    from ecommerce_data_pipeline_spark.sources.readers import load_table, read_orc
    from ecommerce_data_pipeline_spark.sources.writers import write_orc
    from pyspark.sql import functions as F

    src = load_table(spark, SF_SMOKE, "lineitem")
    path = str(tmp_path / "lineitem_orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.count() == src.count()
    filtered = back.filter(F.col("l_quantity") < 5).select("l_orderkey", "l_quantity")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]
    assert filtered.count() == src.filter(F.col("l_quantity") < 5).count()


def test_sorted_parquet_layout_gives_disjoint_file_ranges(spark, tmp_path):
    """write_sorted_parquet must produce files whose sort-key min/max
    ranges are pairwise disjoint — the property that makes footer-stats
    file pruning effective for range predicates."""
    import os

    import pyarrow.parquet as pq

    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from ecommerce_data_pipeline_spark.sources.writers import write_sorted_parquet

    src = load_table(spark, SF_SMOKE, "lineitem")
    path = str(tmp_path / "li_sorted")
    write_sorted_parquet(src, "l_shipdate", path, n_files=6)
    ranges = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        idx = [md.schema.column(i).name for i in range(md.num_columns)].index(
            "l_shipdate"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {hi1} > {lo2}"
    # and the data is unchanged
    assert spark.read.parquet(path).count() == src.count()


def test_binary_file_source_reads_blobs_with_glob_pruning(spark, tmp_path):
    """binaryFile source: one row per file with (path, length, content)
    and pathGlobFilter pruning non-matching extensions at listing time —
    the multimodal ingestion front door (operators/multimodal.py
    consumes the content column)."""
    from ecommerce_data_pipeline_spark.sources.readers import read_binary_files

    media = tmp_path / "media"
    media.mkdir()
    (media / "a.img").write_bytes(b"\x89IMGfake-pixels-a")
    (media / "b.img").write_bytes(b"\x89IMGfake-pixels-bb")
    (media / "notes.txt").write_text("not media")

    df = read_binary_files(spark, str(media), glob="*.img")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.img", "b.img"}
    assert rows["a.img"].content == b"\x89IMGfake-pixels-a"
    assert rows["b.img"].length == 18
    assert [f.name for f in df.schema.fields] == [
        "path", "modificationTime", "length", "content",
    ]


def test_parquet_merge_schema_reads_evolving_batches(spark, tmp_path):
    """mergeSchema read: a batch written before a column existed still
    reads alongside newer batches, surfacing the missing column as NULL
    — landing-zone schema evolution without rewrites."""
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.sources.readers import (
        load_table,
        read_parquet_evolving,
    )

    old = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    new = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice",
        F.lit("web").alias("o_channel"),
    )
    path = str(tmp_path / "orders_evolving")
    old.limit(10).write.parquet(path + "/batch=1")
    new.limit(10).write.parquet(path + "/batch=2")

    merged = read_parquet_evolving(spark, path)
    assert "o_channel" in merged.columns
    assert merged.count() == 20
    assert merged.filter(F.col("o_channel").isNull()).count() == 10
    assert merged.filter(F.col("o_channel") == "web").count() == 10


def test_training_shard_writer_bounded_and_deterministic(spark, tmp_path):
    """write_training_shards: rows conserved, shard count matches the
    record budget, shard membership reproducible from the salt alone
    (identical shard→id sets across runs into different paths), and the
    permutation actually de-clusters the input key order."""
    import collections
    import math

    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from ecommerce_data_pipeline_spark.sources.writers import write_training_shards

    src = load_table(spark, "/root/testdata/sf0.01", "orders")
    n_src = src.count()
    p1, p2 = str(tmp_path / "shards1"), str(tmp_path / "shards2")
    man1 = write_training_shards(src, p1, "o_orderkey", records_per_shard=2000)
    rows1 = man1.collect()
    assert sum(r["n_rows"] for r in rows1) == n_src
    assert len(rows1) == math.ceil(n_src / 2000)
    # hash-uniform shard sizes: within ±50% of the mean (binomial bound,
    # far looser than observed)
    mean = n_src / len(rows1)
    assert all(0.5 * mean <= r["n_rows"] <= 1.5 * mean for r in rows1)

    def shard_sets(path):
        df = spark.read.parquet(path).select("o_orderkey", "shard").collect()
        by_shard = collections.defaultdict(set)
        for r in df:
            by_shard[r["shard"]].add(r["o_orderkey"])
        return dict(by_shard)

    write_training_shards(src, p2, "o_orderkey", records_per_shard=2000)
    s1, s2 = shard_sets(p1), shard_sets(p2)
    assert s1 == s2
    # the permutation de-clusters key order: shard 0 must NOT be a
    # contiguous low block of orderkeys
    first = s1[0]
    assert first != set(sorted(r["o_orderkey"] for r in src.collect())[: len(first)])


def test_training_shard_writer_validates_args(spark, tmp_path):
    import pytest

    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from ecommerce_data_pipeline_spark.sources.writers import write_training_shards

    src = load_table(spark, "/root/testdata/sf0.001", "orders")
    with pytest.raises(ValueError, match="records_per_shard"):
        write_training_shards(src, str(tmp_path / "x"), "o_orderkey", 0)
    with pytest.raises(ValueError, match="key_col"):
        write_training_shards(src, str(tmp_path / "x"), "nope", 100)


def test_compact_landing_partitioned_layout_stays_compact(spark, tmp_path):
    """Compaction of a Hive-partitioned layout must cluster BY the
    partition columns: round-robin repartition would write every task's
    file into every partition directory (n_files x n_partitions small
    files — worse than before)."""
    import os

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.sources.writers import compact_landing

    path = str(tmp_path / "landing")
    df = spark.range(4000).select(
        (F.col("id") % 5).alias("day"), F.col("id").alias("v")
    )
    # fragment: 8 files per partition dir
    df.repartition(8).write.partitionBy("day").parquet(path)

    def parquet_files():
        return [
            os.path.join(r, f)
            for r, _d, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]

    before = len(parquet_files())
    assert before >= 40
    compact_landing(spark, path, partition_cols=["day"])
    after = len(parquet_files())
    assert after <= 5  # ~1 file per partition dir at this tiny size
    got = spark.read.parquet(path)
    assert got.count() == 4000
    assert got.agg(F.sum("v")).collect()[0][0] == sum(range(4000))


def test_with_time_partitions_rejects_unknown_granularity(spark):
    import pytest as _pytest

    from ecommerce_data_pipeline_spark.sources.writers import (
        with_time_partitions,
    )

    df = spark.sql("SELECT TIMESTAMP '2024-01-01 10:00:00' AS ts")
    with _pytest.raises(ValueError, match="granularity"):
        with_time_partitions(df, "ts", granularity="minute")


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
