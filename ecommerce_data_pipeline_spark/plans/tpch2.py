"""TPC-H round-2 queries: the 10 shapes missing from plans/tpch.py
(q2 q4 q9 q11 q12 q15 q16 q17 q20 q21), adapted to the testdata star
schema. The schema has no ``partsupp`` table and lineitem carries no
commit/receipt dates or shipmode, so each query keeps its CANONICAL PLAN
SHAPE (correlated min, EXISTS semi, NOT-IN anti, scalar-subquery
threshold, double-negation exists) while deriving the missing inputs
from lineitem itself:

- "supply cost"      → min(l_extendedprice / l_quantity) per (part,supplier)
- "late delivery"    → l_shipdate far past o_orderdate
- "available stock"  → summed shipped quantity
- "complaint filter" → suppliers with negative acctbal

Oracle-parity rules are the registry's: exact-decimal accumulation
published as double, identical aliases both sides, no ORDER BY/LIMIT
unless the sort key set is provably unique (the driver compare is
order-insensitive).

Scale notes: every dim join broadcasts; only fact⋈fact (lineitem⋈orders)
shuffles on orderkey; correlated aggregates become partitioned windows or
map-side-combined groupBys, never driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans._helpers import (
    dec,
    sql_davg,
    sql_dsum,
)
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table

_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


def _rev() -> F.Column:
    return dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - dec("l_discount")
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    j AS (
      SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
             c.unit_cost
      FROM cost c
      JOIN part p ON p.p_partkey = c.l_partkey
      JOIN supplier s ON s.s_suppkey = c.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE p.p_size = 15 AND p.p_type = 'SMALL' AND r.r_name = 'EUROPE'
    )
    SELECT * FROM j
    QUALIFY unit_cost = min(unit_cost) OVER (PARTITION BY p_partkey)
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier per part). The correlated
    MIN subquery becomes a window-min over the region-filtered join —
    partitioned by p_partkey, so it parallelizes per part instead of
    re-running a subquery. Unit cost is derived from lineitem (no
    partsupp in this schema); double division is bit-identical across
    engines, so the min-equality predicate is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    sup = (
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    j = cost.join(
        F.broadcast(part.select("p_partkey", "p_name")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("p_partkey")
    return (
        j.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_cost")
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join (the join condition spans
    both sides, so Spark plans a semi join, not an IN-list). 'Late line'
    is l_shipdate > o_orderdate (no commit/receipt dates in schema)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"]),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q9_product_type_profit",
    oracle=f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM({_REV.replace('l_', 'l.l_')}
                    - CAST(p.p_retailprice AS DECIMAL(18,2))
                      * CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit by nation×year): 5-way join where only
    lineitem⋈orders shuffles; part/supplier/nation broadcast. 'Supply
    cost' is p_retailprice × quantity (no partsupp); the whole measure
    stays exact decimal (scale 4) until the final double cast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = _rev() - dec("p_retailprice") * dec("l_quantity")
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


@register(
    "q11_important_stock",
    oracle=f"""
    WITH v AS (
      SELECT l.l_partkey, {sql_dsum('l.l_extendedprice')} AS part_value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, part_value FROM v
    WHERE part_value > (SELECT SUM(part_value) FROM v) * 0.001
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: grouped value per part for one nation's suppliers,
    kept only above a scalar-subquery fraction of the total. The scalar
    lands as a 1-row broadcast cross join — no driver collect. The total
    is summed over the already-exact part values, so both engines compare
    against the identical double threshold."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    sup = supplier.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    v = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice")).cast("double").alias("part_value"))
    )
    total = v.agg(F.sum("part_value").alias("_total"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("_total") * 0.001)
        .select("l_partkey", "part_value")
    )


@register(
    "q12_priority_shipping",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag IN ('R', 'A')
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional CASE-sums split by order priority
    class (l_returnflag stands in for shipmode). Filters push to the
    lineitem scan before the orderkey shuffle join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
        & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey, CAST(SUM({_REV}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier by quarterly revenue): the MAX
    scalar subquery is a 1-row broadcast cross join against the grouped
    revenue view. Revenue accumulates in exact decimal, so the equality
    against the max is bit-exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(_rev()).cast("double").alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q16_parts_supplier",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 14, 20, 25, 30, 35)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand,type,size)
    with a NOT-IN exclusion (negative-acctbal suppliers stand in for the
    complaints filter). NOT IN over a non-null key plans as a broadcast
    anti join; the distinct count is a two-phase partial aggregate."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 20, 25, 30, 35)
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH pa AS (
      SELECT l_partkey, {sql_davg('l_quantity')} AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND l.l_quantity < 0.2 * pa.avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity orders): the correlated per-part
    AVG subquery becomes a grouped aggregate re-joined on partkey — one
    extra shuffle of ~|parts| rows instead of a per-row subquery. The
    average is exact-decimal sum / count, so the 0.2× threshold compare
    is identical on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count("l_quantity")).alias(
            "avg_qty"
        )
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#3"
    )
    return (
        li.join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(pa, F.col("l_partkey") == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / 7.0).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q20_potential_promotion",
    oracle=f"""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey, {sql_dsum('l_quantity')} AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, l_partkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT sh.l_suppkey FROM shipped sh
      JOIN part p ON p.p_partkey = sh.l_partkey
      WHERE p.p_name LIKE 'small%' AND sh.qty > 40
    )
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with excess stock of promo parts): IN
    subquery over an aggregate → grouped shipped-quantity, part-filtered,
    then a left-semi join into supplier. Shipped quantity stands in for
    ps_availqty (no partsupp table)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    shipped = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(dec("l_quantity")).cast("double").alias("qty")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    qualifying = (
        shipped.join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supplier.join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
    )


@register(
    "q21_suppliers_kept_waiting",
    oracle="""
    WITH base AS (
      SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    late AS (
      SELECT * FROM base
      WHERE l_shipdate > o_orderdate + INTERVAL 1000 DAY
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
      SELECT 1 FROM base l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM late l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
    )
    GROUP BY s.s_name
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (sole late supplier on multi-supplier orders).
    The EXISTS / NOT EXISTS pair is reformulated as per-order distinct
    supplier counts — one aggregation per side instead of two correlated
    self-joins, same semantics: 'another supplier exists' ⟺ the order has
    ≥2 distinct suppliers; 'no other late supplier' ⟺ the order has
    exactly 1 distinct late supplier (l1's own). 'Late' is shipdate >
    orderdate + 1000 days (no commit/receipt dates in schema)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    base = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate")
    late = base.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 1000 DAYS")
    )
    n_supp = base.groupBy(F.col("l_orderkey").alias("k1")).agg(
        F.countDistinct("l_suppkey").alias("n_suppliers")
    )
    n_late = late.groupBy(F.col("l_orderkey").alias("k2")).agg(
        F.countDistinct("l_suppkey").alias("n_late_suppliers")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        late.join(n_supp, F.col("l_orderkey") == F.col("k1"))
        .join(n_late, F.col("l_orderkey") == F.col("k2"))
        .filter((F.col("n_suppliers") >= 2) & (F.col("n_late_suppliers") == 1))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
