"""Core relational queries (SURVEY.md §2.1-2.4, §2.6-2.7).

Each query demonstrates one operator from the inventory with an exact
DuckDB oracle. Reference citations sit on the individual functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.dedup import exact_text_dedup, new_rows_only
from ecommerce_data_pipeline_spark.operators.joins import enrich_facts
from ecommerce_data_pipeline_spark.pipeline import flagship_revenue
from ecommerce_data_pipeline_spark.plans._helpers import (
    davg,
    dsum,
    sql_davg,
    sql_dsum,
)
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table

# --- flagship (EP2 end-to-end: dedup → broadcast joins → agg) --------------

register(
    "flagship_revenue",
    oracle="""
    WITH deduped AS (
      -- tie-break over exactly the engine's projected/consumed columns,
      -- in dedup_by_key's struct order (pipeline.py: the r6 column-prune)
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY l_orderkey, l_linenumber
          ORDER BY l_partkey, l_quantity, l_extendedprice, l_discount
        ) AS rn FROM lineitem
      ) WHERE rn = 1
    )
    SELECT p.p_brand, c.c_mktsegment,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_lines
    FROM deduped l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY p.p_brand, c.c_mktsegment
    """,
)(flagship_revenue)


# --- scans / projections (S2/S3/P1) ----------------------------------------


@register(
    "scan_projection",
    oracle="SELECT p_partkey, p_name, p_retailprice FROM part",
)
def scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected scan (reference: SELECT product_id, price FROM dim_products,
    transactions_mock_data.py:62). Catalyst prunes the Parquet read to the
    three requested columns (visible in ReadSchema)."""
    return load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )


@register(
    "filter_predicates",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 30 AND l_returnflag = 'R' AND l_discount BETWEEN 0.02 AND 0.08
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive WHERE predicates (P5) — all three comparisons reach the
    Parquet scan as PushedFilters."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30)
        & (F.col("l_returnflag") == "R")
        & F.col("l_discount").between(0.02, 0.08)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# --- joins (J1/J2/J4) -------------------------------------------------------


@register(
    "dedup_anti_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '1998-01-01')
    """,
)
def dedup_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's load-bearing dedup semantic (NOT-IN key filter,
    dimension_tables_mock.py:62-63) as a distributed LEFT ANTI join:
    customers with no recent (1998+) order — the 'new keys only' filter.
    (All FKs are fully covered in the testdata, so the right side is
    date-filtered to keep the result non-trivial.)"""
    customer = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return new_rows_only(customer, recent, "c_custkey").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: customers with at least one urgent order."""
    customer = load_table(spark, sf_dir, "customer")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return customer.join(urgent, "c_custkey", "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_enrich_star",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_brand, p.p_type, s.s_name,
           l.l_extendedprice
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
)
def join_enrich_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Glue enrichment join (J1, transactions_mock_data.py:17): fact
    rows gain both dimension payloads via chained broadcast hash joins —
    the fact side never shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    enriched = enrich_facts(
        li,
        {
            "l_partkey": part.select(
                F.col("p_partkey").alias("l_partkey"), "p_brand", "p_type"
            ),
            "l_suppkey": supplier.select(
                F.col("s_suppkey").alias("l_suppkey"), "s_name"
            ),
        },
    )
    return enriched.select(
        "l_orderkey", "l_linenumber", "p_brand", "p_type", "s_name", "l_extendedprice"
    )


# --- aggregations (A1/A2/A5) ------------------------------------------------


@register(
    "agg_revenue_by_segment",
    oracle=f"""
    SELECT c.c_mktsegment,
           {sql_dsum('o.o_totalprice')} AS total_revenue,
           COUNT(*) AS n_orders,
           {sql_davg('o.o_totalprice')} AS avg_order_value
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def agg_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate over the enrichment join (A1): the canonical
    revenue-by-segment rollup of the reference's star schema."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == F.col("c_custkey"),
    )
    return joined.groupBy("c_mktsegment").agg(
        dsum("o_totalprice").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_orders"),
        davg("o_totalprice").alias("avg_order_value"),
    )


@register(
    "distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@register(
    "count_distinct",
    oracle="""
    SELECT COUNT(DISTINCT c_mktsegment) AS n_segments,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers
    FROM customer
    """,
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").agg(
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@register(
    "stats_summary",
    oracle=f"""
    SELECT l_returnflag,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           {sql_davg('l_quantity')} AS avg_qty,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS std_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/stddev (A5). stddev is inherently floating — rounded to
    4 decimals on both sides; everything else is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        davg("l_quantity").alias("avg_qty"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "rollup_revenue",
    oracle=f"""
    SELECT c.c_mktsegment, o.o_orderpriority,
           {sql_dsum('o.o_totalprice')} AS revenue,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY ROLLUP (c.c_mktsegment, o.o_orderpriority)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (A4): segment × priority with subtotals and a
    grand total."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == F.col("c_custkey"),
    )
    return joined.rollup("c_mktsegment", "o_orderpriority").agg(
        dsum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "cube_counts",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "collect_set_agg",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def collect_set_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set (A6), sorted for cross-engine determinism. The public
    projection serializes the array to CSV: the driver canonicalizer
    hashes scalar cells only (arrays are unhashable in its pandas path)."""
    return (
        load_table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("n_name"))).alias(
                "nations"
            )
        )
    )


# --- sorts / top-k (O3) -----------------------------------------------------


@register(
    "top_k_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {sql_dsum('o.o_totalprice')} AS total_spend
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY total_spend DESC, c.c_custkey
    LIMIT 10
    """,
)
def top_k_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-k (O3): orderBy+limit plans as
    TakeOrderedAndProject — per-partition heaps, no global sort. Exact
    decimal spend + custkey tiebreak make the k-set stable cross-engine."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spend = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_name")
        .agg(dsum("o_totalprice").alias("total_spend"))
    )
    return spend.orderBy(F.desc("total_spend"), F.asc("c_custkey")).limit(10)


# --- set operations (§2.7) --------------------------------------------------


@register(
    "set_union",
    oracle="""
    SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION
    SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    return a.union(b).distinct()


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return a.intersect(b)


@register(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT — the set-algebra form of the reference's P3 dedup:
    customers who ordered but never urgently."""
    orders = load_table(spark, sf_dir, "orders")
    all_c = orders.select("o_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return all_c.subtract(urgent)  # EXCEPT (distinct) semantics


# --- exact content dedup (extension, §2.11) ---------------------------------


@register(
    "exact_text_dedup",
    oracle="""
    SELECT sha256(text) AS content_hash,
           COUNT(*) AS n_dupes,
           MIN(doc_id) AS keep_id
    FROM documents GROUP BY sha256(text)
    """,
)
def exact_text_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via sha2-256 hash-groupBy (one shuffle on the
    hash; survivor = lowest doc_id, deterministic)."""
    return exact_text_dedup(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Pareto skyline (r10 batch 5) — the classic dominance-frontier operator
# (Borzsonyi/Kossmann/Stocker 2001, "The Skyline Operator"): parts that
# are Pareto-optimal on (retail price DOWN, best available quantity UP).
# The textbook formulation is a quadratic NOT-EXISTS anti-join; the
# plan below is the LINEARITHMIC sweep, decomposed so no global window
# appears: survival at price p needs only max-quantity over strictly
# cheaper prices, computed two-level (bucket prefix max via a tiny
# bucket self-join + intra-bucket prefix via a bucket-PARTITIONED
# window — the global_row_ids bucket-offset discipline).

_SKY_BUCKET_CENTS = 10_000  # $100 price buckets for the two-level prefix


def _skyline_sql() -> str:
    return """
    WITH pq AS MATERIALIZED (
      SELECT p.p_partkey AS pk,
             CAST(round(p.p_retailprice * 100) AS BIGINT) AS price,
             CAST(MAX(l.l_quantity) AS BIGINT) AS qty
      FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    )
    SELECT b.pk AS p_partkey, b.price AS price_cents, b.qty AS max_qty
    FROM pq b
    WHERE NOT EXISTS (
      SELECT 1 FROM pq a
      WHERE a.price <= b.price AND a.qty >= b.qty
        AND (a.price < b.price OR a.qty > b.qty)
    )
    """


@register(
    "pareto_skyline_parts",
    oracle=_skyline_sql(),
)
def pareto_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of parts on (price cents MIN, best lineitem quantity
    MAX): a part survives iff no other part is at-least-as-good on both
    axes and strictly better on one. Parts with no lineitems are out of
    scope (inner join — "available" means ordered at least once).

    Exactness: pure integer dominance — price cents and quantities are
    BIGINTs; no floats anywhere. Tie semantics pinned: equal (price,
    qty) points do not dominate each other, so EVERY part tied at a
    surviving (price, max-qty) point is emitted — identical in the
    sweep and in the oracle's NOT-EXISTS.

    Scale shape (vs the oracle's O(n^2) anti-join): per-price max
    quantity is one hash aggregate; survival at price p compares
    against the running max over STRICTLY cheaper prices, decomposed as
    greatest(bucket-prefix max, intra-bucket prefix max) — the bucket
    relation is price-range-bounded (~hundreds of rows), its prefix max
    is a broadcast self-join, and the intra-bucket prefix is a window
    PARTITIONED BY BUCKET (never global). Total: two fact-free
    aggregates + one broadcast join + one bounded-partition window +
    the final semi-join back to the per-part relation — linearithmic,
    skew-free, and every step dim-bounded."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    pq = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_partkey").alias("pk"),
            F.round(F.col("p_retailprice") * 100)
            .cast("long")
            .alias("price"),
        )
        .agg(F.max("l_quantity").cast("long").alias("qty"))
        .persist()  # per-price agg + the final tie join
    )
    per_price = pq.groupBy("price").agg(F.max("qty").alias("maxq"))
    bucketed = per_price.withColumn(
        "bucket", F.expr(f"price div {_SKY_BUCKET_CENTS}")
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.max("maxq").alias("bmax")
    )
    b1, b2 = per_bucket.alias("b1"), per_bucket.alias("b2")
    bucket_prefix = (
        b1.join(b2, F.col("b2.bucket") < F.col("b1.bucket"), "left")
        .groupBy(F.col("b1.bucket").alias("bucket"))
        .agg(F.max("b2.bmax").alias("prev_bmax"))
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    survived = (
        bucketed.withColumn("in_bucket_prev", F.max("maxq").over(w))
        .join(F.broadcast(bucket_prefix), "bucket")
        .withColumn(
            "prefix_max",
            F.greatest(
                F.coalesce(F.col("prev_bmax"), F.lit(-1)),
                F.coalesce(F.col("in_bucket_prev"), F.lit(-1)),
            ),
        )
        .filter(F.col("maxq") > F.col("prefix_max"))
        # disambiguate vs pq before the tie join-back (same lineage)
        .select(
            F.col("price").alias("sky_price"), F.col("maxq").alias("sky_q")
        )
    )
    return pq.join(
        F.broadcast(survived),
        (pq["price"] == F.col("sky_price")) & (pq["qty"] == F.col("sky_q")),
    ).select(
        F.col("pk").alias("p_partkey"),
        F.col("price").alias("price_cents"),
        F.col("qty").alias("max_qty"),
    )
