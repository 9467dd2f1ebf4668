"""Flagship EP2 pipeline — the reference's end-to-end dataflow, Spark-first.

Reference EP2 (``transactions_mock_data.py:125-150``): generate facts →
land CSV in a time-partitioned zone → trigger a Glue Spark job that joins
the facts with both dimensions and appends to the warehouse. Plus EP1's
dedup-insert (``dimension_tables_mock.py:61-73``).

Here the whole thing is ONE logical plan in one session: scan fact +
dims → dedup facts on key (anti-join semantic) → broadcast-join both dims
→ aggregate revenue → (optionally) land a partitioned Parquet copy.

Role mapping onto the driver's testdata (FIXTURES.md): ``lineitem`` +
``orders`` = transactions fact, ``part`` = dim_products, ``customer`` =
dim_customers.

Scale shape: the fact side never shuffles — both dim joins are broadcast
hash joins, dedup is a map-side-combinable aggregation keyed on the fact
PK, and the final groupBy reduces to (brand × segment) cells, so the only
full shuffle is on the tiny aggregate key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.dedup import dedup_by_key
from ecommerce_data_pipeline_spark.operators.joins import enrich_facts
from ecommerce_data_pipeline_spark.sources.readers import load_table


def flagship_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by (product brand × customer segment) over deduped facts.

    The canonical query over the reference's star schema: the Glue join
    (J1) feeding the warehouse aggregation (A1), with EP1's key-dedup (J2)
    applied to the fact stream first.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    customer = load_table(spark, sf_dir, "customer")
    # Project BEFORE dedup: dedup_by_key's min-struct otherwise carries
    # every lineitem column through the aggregate and the scan reads all
    # 11 (the one full-width scan a ReadSchema audit found across the
    # whole 52-query HEADLINE, r6). Restricting to the 6 consumed columns
    # also narrows the dedup TIE-BREAK to those columns — the oracle's
    # ORDER BY list changes in lockstep (plans/relational.py), and a
    # winner flip can only happen between duplicate rows whose consumed
    # values the new tie-break itself orders, so Spark and the oracle
    # stay bit-identical.
    lineitem = lineitem.select(
        "l_orderkey", "l_linenumber", "l_partkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    # Fact PK dedup (reference: insert-if-absent on the key; here the fact
    # PK is (l_orderkey, l_linenumber)). Idempotent re-ingest semantics.
    # Pre-partitioning by l_orderkey makes ONE exchange serve both the
    # dedup groupBy (orderkey is a prefix of the grouping key, so the
    # clustered-distribution requirement is already satisfied) and the
    # orders join below — the fact stream shuffles once, not twice. Under
    # a hot order key that one exchange is a single straggler task AQE
    # cannot split (OptimizeSkewedJoin rewrites only ENSURE_REQUIREMENTS
    # shuffles, not a user repartition).
    facts = dedup_by_key(
        lineitem.repartition("l_orderkey"),
        ["l_orderkey", "l_linenumber"],
        "l_partkey",
    )

    # Attach the order header (customer FK + order date). At 100 TB this
    # is the one unavoidable co-partitioned join (bucketing both tables
    # on orderkey would remove even this); only orders shuffles here.
    facts = facts.join(
        orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        facts["l_orderkey"] == orders["o_orderkey"],
        "inner",
    ).drop("o_orderkey")

    # J1: both dims broadcast — the fact stream never moves.
    enriched = enrich_facts(
        facts,
        {
            "l_partkey": part.select(
                F.col("p_partkey").alias("l_partkey"), "p_brand"
            ),
            "o_custkey": customer.select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
        },
    )

    # A1: revenue aggregation. Decimal accumulation keeps the sums exact
    # (and bit-identical to the DuckDB oracle); the final cast keeps the
    # public schema double.
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    return (
        enriched.groupBy("p_brand", "c_mktsegment")
        .agg(
            F.sum(price * disc).cast("double").alias("revenue"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
