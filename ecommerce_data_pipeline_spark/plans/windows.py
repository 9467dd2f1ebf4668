"""Window-function queries (SURVEY.md §2.5) — ranking, analytic, frames.

The reference has no window functions in-repo; these are the
[builtin-gap] surface keyed to its star schema: per-customer purchase
sequencing over the order timeline (the ordering column the reference
provides via transaction_id's embedded timestamp,
``transactions_mock_data.py:69,74``).

Scale note: every window here partitions by a high-cardinality key
(customer, brand) — state per key stays tiny, so a single shuffle on the
partition key is the whole cost. No window runs unpartitioned (a global
ORDER BY window would serialize on one task at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans._helpers import dec
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table


@register(
    "window_rank_in_group",
    oracle="""
    SELECT p_brand, p_partkey, p_name, p_retailprice, rnk FROM (
      SELECT p_brand, p_partkey, p_name, p_retailprice,
             CAST(row_number() OVER (
               PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
             ) AS INT) AS rnk
      FROM part
    ) WHERE rnk <= 3
    """,
)
def window_rank_in_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by price within each brand (ranking window; partkey
    tiebreak keeps row_number deterministic cross-engine)."""
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        load_table(spark, sf_dir, "part")
        .select(
            "p_brand",
            "p_partkey",
            "p_name",
            "p_retailprice",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@register(
    "window_dense_rank_ntile",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS drnk,
           CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS quartile
    FROM orders
    """,
)
def window_dense_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank + ntile over per-customer order values."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend (aggregate-over-frame). Decimal
    accumulation inside the frame keeps every prefix sum exact."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(datediff('day',
             lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             o_orderdate) AS INT) AS days_since_prev,
           lead(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_priority
    FROM orders
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead purchase sequencing: days between consecutive orders and
    the following order's priority, per customer."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("days_since_prev"),
        F.lead("o_orderpriority").over(w).alias("next_priority"),
    )


@register(
    "window_moving_avg",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / COUNT(o_totalprice) OVER w AS moving_avg_3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average of order value per customer — exact-decimal
    sum / frame count, so edges (frames of 1-2 rows) stay exact too."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(dec("o_totalprice")).over(w).cast("double")
            / F.count("o_totalprice").over(w)
        ).alias("moving_avg_3"),
    )


@register(
    "window_first_last",
    oracle="""
    SELECT DISTINCT o_custkey,
           first_value(o_orderpriority) OVER w AS first_priority,
           last_value(o_orderpriority) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_priority
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last order priority per customer over the full history."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.first("o_orderpriority").over(w).alias("first_priority"),
            F.last("o_orderpriority").over(w).alias("last_priority"),
        )
        .distinct()
    )


@register(
    "window_range_frame",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec,
             value
      FROM events
    )
    SELECT event_id, user_id, sec,
           COUNT(*) OVER w AS n_last_10min,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_last_10min
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 10-minute event count/value via a RANGE frame on
    epoch seconds (W3 completion — value-based frames, where rows at the
    same instant share one frame, vs the rows-based moving average).

    RANGE frames are the time-series primitive rows-frames can't express:
    the frame width is 600 *seconds*, not 600 *rows*, so irregular event
    spacing is handled exactly. Partitioned by user_id — at 100 TB the
    window shuffles once on the same key the sessionizer uses. Decimal
    accumulation in the frame keeps the published sum engine-exact.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("sec"), "value"
    )
    w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-600, 0)
    return e.select(
        "event_id",
        "user_id",
        "sec",
        F.count(F.lit(1)).over(w).alias("n_last_10min"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("value_last_10min"),
    )
