"""Skew handling: the salted aggregation must return exactly the plain
operator's answer, and the skew probes pin the plans a hot key gets."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.skew import salted_sum
from ecommerce_data_pipeline_spark.schemas import TABLE_SCHEMAS
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def test_salted_sum_equals_plain_sum(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    salted = {
        r["l_returnflag"]: (r["sum_l_quantity"], r["n_rows"])
        for r in salted_sum(li, ["l_returnflag"], "l_quantity").collect()
    }
    plain = {
        r["l_returnflag"]: (r["s"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert salted == plain


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's runtime skew-join handling — the first line of defense at
    100 TB (operators/skew.py covers what AQE can't) — must actually
    trigger: a 95%-hot key join re-plans with SortMergeJoin(skew=true)
    and a skewed AQEShuffleRead. Thresholds are lowered to make the
    small fixture's hot partition count as skewed; at production scale
    the defaults fire on real skew."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 500_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.rand(1).alias("x"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.rand(2).alias("y")
        )
        agg = fact.join(dim, "k").groupBy().count()
        assert agg.collect()[0][0] == 500_000
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "skewed" in plan  # AQEShuffleRead ... skewed
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_gdpr_cascade_skewed_lineitem_probe(spark, tmp_path):
    """VERDICT r8 task #4: the erasure cascade under a celebrity
    requester — one REQUESTED order key carrying ~10% of a 16x lineitem
    corpus. Probing the r8 join-then-count shape showed AQE's skew
    split CANNOT protect it: the shuffled payload is a single repeated
    key column whose hot partition compresses ~100:1, so byte-based
    skew detection never fires while the reducer's row count explodes.
    The shipped plan is therefore AGGREGATE-THEN-JOIN: lineitem
    pre-aggregates per l_orderkey with partial (map-side) combine, so
    the hot key reaches the join as one row per map task — structural
    immunity, stronger than AQE. This probe pins (a) the partial
    aggregate sits below the orderkey join, (b) results under skew are
    exactly the naive join-then-count answer, (c) the celebrity mass
    really flowed through (16x-scale counts)."""
    import os

    from ecommerce_data_pipeline_spark.plans.registry import REGISTRY

    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    nation = load_table(spark, SF_SMOKE, "nation")
    # hot key: an order key OWNED BY A REQUESTED CUSTOMER (custkey % 97
    # == 0 — the cascade's deterministic request filter), so the hot
    # partition actually flows through the audited join
    hot_key = (
        orders.filter(F.col("o_custkey") % 97 == 0)
        .agg(F.min("o_orderkey"))
        .first()[0]
    )
    assert hot_key is not None
    reps = spark.range(16).withColumnRenamed("id", "rep")
    big = li.crossJoin(reps)
    is_hot = (
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber", "rep"), F.lit(10))
        == 0
    )
    skewed = big.select(
        F.when(is_hot, F.lit(hot_key))
        .otherwise(F.col("l_orderkey"))
        .alias("l_orderkey"),
        *[c for c in li.columns if c != "l_orderkey"],
    ).drop("rep")

    d = str(tmp_path / "sfskew")
    os.makedirs(d)
    skewed.write.parquet(f"{d}/lineitem.parquet")
    for t in TABLE_SCHEMAS.keys() - {"lineitem"}:
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{d}/{t}.parquet")

    confs = {
        # at 100 TB neither side of the orderkey hop broadcasts — force
        # the shuffle-join shape the immunity claim is about
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = REGISTRY["gdpr_erasure_cascade_audit"].fn(spark, d)
        rows = {r["nation"]: r for r in df.collect()}
        plan = df._jdf.queryExecution().executedPlan().toString()
        # (a) partial per-orderkey aggregate BELOW the orderkey join
        smj = plan.find("SortMergeJoin [l_orderkey")
        assert smj != -1, "orderkey hop is not the expected shuffle join"
        sub = plan[smj:]
        assert "HashAggregate" in sub and "l_orderkey" in sub.split(
            "HashAggregate", 1
        )[1], "no pre-aggregation under the orderkey join"
        # (b) exact values: naive join-then-count replay on the fixture
        req = customer.filter(F.col("c_custkey") % 97 == 0).select(
            "c_custkey", "c_nationkey"
        )
        ordr = orders.join(
            req, orders["o_custkey"] == req["c_custkey"]
        ).select("o_orderkey", "c_nationkey")
        naive = {
            r["n_name"]: r["n_li"]
            for r in spark.read.parquet(f"{d}/lineitem.parquet")
            .join(ordr, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_li"))
            .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
            .collect()
        }
        for nat, n_li in naive.items():
            assert rows[nat]["n_lineitems"] == n_li, nat
        # (c) the celebrity mass flowed: some nation counts > the whole
        # un-replicated table
        assert max(r["n_lineitems"] for r in rows.values()) > li.count()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _land_single_parquet(df, dest_path):
    """Write df as ONE parquet FILE at dest_path (DuckDB's read_parquet
    wants a file, and the testdata layout is file-per-table)."""
    import os
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="skewland_")
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    part = next(f for f in os.listdir(scratch) if f.endswith(".parquet"))
    shutil.move(os.path.join(scratch, part), dest_path)
    shutil.rmtree(scratch, ignore_errors=True)

def test_shapley_celebrity_user_probe(spark, tmp_path):
    """Shapley attribution under a celebrity user — one user_id carrying
    ~10% of a 16x events corpus. The journey window partitions by
    user_id, so the hot user's partition is irreducible (windows can't
    pre-aggregate); what MUST hold is correctness: the skewed fixture
    is graded against its own DuckDB oracle, so the window ordering,
    journey segmentation and coalition algebra are exact even when one
    partition dwarfs the rest. (The downstream aggregates are
    mask-keyed — <= 2^k groups — so the hot user collapses map-side.)"""
    import os

    from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
    from tests.oracle_harness import compare, duckdb_connection

    ev = load_table(spark, SF_SMOKE, "events")
    hot_user = ev.agg(F.min("user_id")).first()[0]
    max_id = ev.agg(F.max("event_id")).first()[0] + 1
    reps = spark.range(16).withColumnRenamed("id", "rep")
    big = ev.crossJoin(reps)
    is_hot = F.pmod(F.xxhash64("event_id", "rep"), F.lit(10)) == 0
    skewed = big.select(
        (F.col("event_id") + F.col("rep") * F.lit(max_id)).alias(
            "event_id"
        ),
        "ts",
        F.when(is_hot, F.lit(hot_user))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    d = str(tmp_path / "sfskew_events")
    os.makedirs(d)
    _land_single_parquet(skewed, f"{d}/events.parquet")
    for t in TABLE_SCHEMAS.keys() - {"events"}:
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{d}/{t}.parquet")
    q = REGISTRY["attribution_shapley_values"]
    # the celebrity mass really flowed: ~10% of 16x rows on one user
    n_hot = spark.read.parquet(f"{d}/events.parquet").filter(
        F.col("user_id") == hot_user
    ).count()
    assert n_hot > ev.count()  # > 1x the whole original corpus
    compare(q.fn(spark, d), duckdb_connection(d), q.oracle)


def test_dp_bounding_celebrity_customer_probe(spark, tmp_path):
    """Contribution bounding under a celebrity customer — one custkey
    owning ~10% of a 16x orders corpus. The per-customer cap window
    partitions by custkey (irreducible hot partition, same argument as
    the shapley probe); the fixture is graded against its own oracle,
    which also certifies the CAP does its job on the celebrity: their
    bounded contribution stays <= cap * clip however many orders they
    own (bound_holds is an output column the hash grades)."""
    import os

    from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
    from tests.oracle_harness import compare, duckdb_connection

    orders = load_table(spark, SF_SMOKE, "orders")
    hot_cust = orders.agg(F.min("o_custkey")).first()[0]
    max_ok = orders.agg(F.max("o_orderkey")).first()[0] + 1
    reps = spark.range(16).withColumnRenamed("id", "rep")
    big = orders.crossJoin(reps)
    is_hot = F.pmod(F.xxhash64("o_orderkey", "rep"), F.lit(10)) == 0
    skewed = big.select(
        (F.col("o_orderkey") + F.col("rep") * F.lit(max_ok)).alias(
            "o_orderkey"
        ),
        F.when(is_hot, F.lit(hot_cust))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    d = str(tmp_path / "sfskew_orders")
    os.makedirs(d)
    _land_single_parquet(skewed, f"{d}/orders.parquet")
    for t in TABLE_SCHEMAS.keys() - {"orders"}:
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{d}/{t}.parquet")
    q = REGISTRY["dp_contribution_bounding"]
    compare(q.fn(spark, d), duckdb_connection(d), q.oracle)
    # the cap held against a celebrity owning >1.5x the whole
    # original corpus (10% of 16x)
    rows = {r.segment: r for r in q.fn(spark, d).collect()}
    assert all(r.bound_holds for r in rows.values())
    assert max(
        r.max_user_orders_raw for r in rows.values()
    ) > orders.count()
