"""Customer/product value-segmentation tier (SURVEY.md §2 extensions):
RFM quintile scoring, Pareto/ABC revenue classification, and the Gini
concentration index.

These are the classic e-commerce "who matters" analyses downstream of the
reference's order/transaction stream (transactions_mock_data.py feeds the
same order grain). All three need a GLOBAL ranking or cumulative sum —
the textbook single-reducer trap — so each is built on the distributed
bucket-offset enumeration pattern (see plans/misc_plans.py::global_row_ids):
bucket rows by a monotone function of the sort key, compute per-bucket
counts/sums (tiny aggregate), derive each bucket's starting offset by a
self-join on the bucket table, broadcast the offsets back, and finish
with a PARTITIONED window inside each bucket. A 100 TB ranking therefore
never funnels through one reducer, and the global-window invariant
(tests/plan_invariants.py, run by the oracle sweep) holds.

Oracle parity: ranks are tie-broken by the entity key, measures accumulate
in DECIMAL(18,2) (exact cross-engine), and every derived float is either a
single deterministic double division or rounded at 6dp on both sides.
Quintile assignment uses the explicit formula ((rank-1)*5) div n + 1 on
BOTH engines (NTILE's remainder placement is engine-convention; the
formula is not).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ecommerce_data_pipeline_spark.plans._helpers import dec
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table


def bucketed_rank(
    df: DataFrame,
    bucket: Column,
    order_cols: list[Column],
    rank_name: str,
    prefix: str,
) -> DataFrame:
    """Dense global 1..N rank without a global window.

    ``bucket`` must be a monotone non-decreasing function of the leading
    sort key so cross-bucket order equals key order; ties within a bucket
    are broken by the remaining ``order_cols`` (callers pass a unique
    key last, making the rank deterministic).
    """
    bcol, ccol, ocol = f"_{prefix}_b", f"_{prefix}_c", f"_{prefix}_o"
    # persist: `b` feeds both the bucket-count aggregate and the final
    # offset join. Without it each consumer re-executes the input
    # lineage, and CHAINED ranks (rfm's three) compound 2× per level —
    # the rfm plan showed 32 source scans (2³ × per-rank consumers)
    # before this cut, linear after.
    b = df.withColumn(bcol, bucket).persist()
    counts = b.groupBy(bcol).agg(F.count(F.lit(1)).alias(ccol))
    offsets = (
        counts.alias("hi")
        .join(
            counts.alias("lo"),
            F.col(f"lo.{bcol}") < F.col(f"hi.{bcol}"),
            "left",
        )
        .groupBy(F.col(f"hi.{bcol}").alias(bcol))
        .agg(F.coalesce(F.sum(f"lo.{ccol}"), F.lit(0)).alias(ocol))
    )
    w = Window.partitionBy(bcol).orderBy(*order_cols)
    return (
        b.join(broadcast(offsets), bcol)
        .withColumn(rank_name, F.row_number().over(w) + F.col(ocol))
        .drop(bcol, ocol)
    )


_RFM_CUST = """
    SELECT o_custkey,
           DATE_DIFF('day', MAX(o_orderdate),
                     (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
           COUNT(*) AS frequency,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
    FROM orders GROUP BY o_custkey
"""


@register(
    "rfm_segmentation",
    oracle=f"""
    WITH cust AS ({_RFM_CUST}),
    n AS (SELECT COUNT(*) AS n FROM cust),
    ranked AS (
      SELECT monetary, n,
        ROW_NUMBER() OVER (ORDER BY recency_days, o_custkey) AS r_rec,
        ROW_NUMBER() OVER (ORDER BY frequency, o_custkey) AS r_frq,
        ROW_NUMBER() OVER (ORDER BY monetary, o_custkey) AS r_mon
      FROM cust, n
    ),
    scored AS (
      SELECT monetary,
             6 - (((r_rec - 1) * 5) // n + 1) AS r_score,
             ((r_frq - 1) * 5) // n + 1 AS f_score,
             ((r_mon - 1) * 5) // n + 1 AS m_score
      FROM ranked
    )
    SELECT r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                  THEN 'champion'
                WHEN f_score >= 4 THEN 'loyal'
                WHEN r_score <= 2 THEN 'at_risk'
                ELSE 'regular' END AS segment,
           COUNT(*) AS n_customers,
           CAST(SUM(monetary) AS DOUBLE) AS segment_monetary,
           CAST(SUM(monetary) AS DOUBLE) / COUNT(*) AS avg_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile scoring of every
    ordering customer, rolled up to segment cells.

    Each of the three metrics is globally ranked with ``bucketed_rank``
    (recency bucketed by 30-day bands, frequency by its own small value,
    monetary by 10k-revenue bands), then quintiled with the explicit
    ``(rank-1)*5 div n + 1`` formula. Recency is inverted (most recent =
    score 5). The customer-grain table is orders-of-magnitude smaller
    than the fact table, so the three rank passes are cheap at any SF;
    each is one tiny aggregate + broadcast join + partitioned window.
    """
    o = load_table(spark, sf_dir, "orders")
    max_date = o.agg(F.max("o_orderdate").alias("_maxd"))
    cust = (
        o.crossJoin(broadcast(max_date))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("_maxd"), F.max("o_orderdate")).alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(dec("o_totalprice")).alias("monetary"),
        )
    )
    n = cust.agg(F.count(F.lit(1)).alias("n"))
    ranked = bucketed_rank(
        cust,
        F.floor(F.col("recency_days") / 30),
        [F.col("recency_days"), F.col("o_custkey")],
        "r_rec",
        "rec",
    )
    ranked = bucketed_rank(
        ranked,
        F.col("frequency"),
        [F.col("frequency"), F.col("o_custkey")],
        "r_frq",
        "frq",
    )
    ranked = bucketed_rank(
        ranked,
        F.floor(F.col("monetary") / 10000),
        [F.col("monetary"), F.col("o_custkey")],
        "r_mon",
        "mon",
    )
    quint = lambda r: F.expr(f"(({r} - 1) * 5) div n + 1")  # noqa: E731
    scored = ranked.crossJoin(broadcast(n)).select(
        "monetary",
        (F.lit(6) - quint("r_rec")).alias("r_score"),
        quint("r_frq").alias("f_score"),
        quint("r_mon").alias("m_score"),
    )
    segment = (
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            F.lit("champion"),
        )
        .when(F.col("f_score") >= 4, F.lit("loyal"))
        .when(F.col("r_score") <= 2, F.lit("at_risk"))
        .otherwise(F.lit("regular"))
    )
    return (
        scored.withColumn("segment", segment)
        .groupBy("r_score", "f_score", "m_score", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary").cast("double").alias("segment_monetary"),
            (F.sum("monetary").cast("double") / F.count(F.lit(1))).alias(
                "avg_monetary"
            ),
        )
    )


@register(
    "pareto_abc_parts",
    oracle="""
    WITH pr AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(rev) AS total FROM pr),
    c AS (
      SELECT l_partkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM pr
    ),
    s AS (
      SELECT l_partkey,
             CAST(rev AS DOUBLE) AS part_revenue,
             ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6)
               AS cum_share
      FROM c, tot
    )
    SELECT l_partkey, part_revenue, cum_share,
           CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM s
    """,
)
def pareto_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: rank parts by revenue and
    classify by cumulative revenue share (A ≤ 80%, B ≤ 95%, C rest).

    The global cumulative sum is distributed: parts bucket by 1000-wide
    revenue bands (monotone in the DESC sort key, so cross-bucket order
    is exact), per-bucket revenue totals produce each bucket's starting
    cumulative offset via the bucket-table self-join, and a partitioned
    running sum finishes inside each bucket. All accumulation stays in
    exact decimals; the share is one double division rounded at 6dp, and
    the class thresholds compare the ROUNDED share on both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).alias("rev")
    )
    total = pr.agg(F.sum("rev").alias("total"))
    bcol, scol, ocol = "_ab_b", "_ab_s", "_ab_o"
    b = pr.withColumn(bcol, F.floor(F.col("rev") / 1000))
    sums = b.groupBy(bcol).agg(F.sum("rev").alias(scol))
    offsets = (
        sums.alias("hi")
        .join(
            sums.alias("lo"),
            F.col(f"lo.{bcol}") > F.col(f"hi.{bcol}"),
            "left",
        )
        .groupBy(F.col(f"hi.{bcol}").alias(bcol))
        .agg(
            F.coalesce(F.sum(f"lo.{scol}"), F.lit(0).cast("decimal(18,2)"))
            .alias(ocol)
        )
    )
    w = (
        Window.partitionBy(bcol)
        .orderBy(F.col("rev").desc(), F.col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        b.join(broadcast(offsets), bcol)
        .withColumn("cum", F.sum("rev").over(w) + F.col(ocol))
        .crossJoin(broadcast(total))
        .select(
            "l_partkey",
            F.col("rev").cast("double").alias("part_revenue"),
            F.round(
                F.col("cum").cast("double") / F.col("total").cast("double"),
                6,
            ).alias("cum_share"),
        )
    )
    abc = (
        F.when(F.col("cum_share") <= 0.8, F.lit("A"))
        .when(F.col("cum_share") <= 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return cum.withColumn("abc_class", abc)


@register(
    "gini_revenue_concentration",
    oracle="""
    WITH cr AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT rev,
             ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rnk
      FROM cr
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(rev) AS tot, SUM(rnk * rev) AS wsum
      FROM r
    )
    SELECT n AS n_customers,
           CAST(tot AS DOUBLE) AS total_revenue,
           ROUND(CAST(2 * wsum - (n + 1) * tot AS DOUBLE)
                 / CAST(n * tot AS DOUBLE), 6) AS gini
    FROM s
    """,
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration (0 = perfectly
    equal, → 1 = one customer owns all revenue), via the rank formula
    G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) over ascending revenues.

    The ascending global rank uses ``bucketed_rank`` on 10k-revenue
    bands; Σ i·x_i multiplies a bigint rank into the exact decimal, so
    every accumulation is exact and the published Gini is one double
    division rounded at 6dp — bit-identical cross-engine.
    """
    o = load_table(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(F.sum(dec("o_totalprice")).alias("rev"))
    ranked = bucketed_rank(
        cr,
        F.floor(F.col("rev") / 10000),
        [F.col("rev"), F.col("o_custkey")],
        "rnk",
        "gin",
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").alias("tot"),
        F.sum(F.col("rnk") * F.col("rev")).alias("wsum"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("tot").cast("double").alias("total_revenue"),
        F.round(
            (2 * F.col("wsum") - (F.col("n") + 1) * F.col("tot")).cast(
                "double"
            )
            / (F.col("n") * F.col("tot")).cast("double"),
            6,
        ).alias("gini"),
    )
