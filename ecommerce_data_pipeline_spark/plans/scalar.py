"""Scalar-function queries (SURVEY.md §2.8): strings, dates, math, JSON,
conditional bucketing — each mirroring a concrete reference behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.functions.datetime import (
    format_reference_ts,
    parse_reference_ts,
)
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table


@register(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           'prod-' || lpad(CAST(p_partkey AS VARCHAR), 6, '0') AS product_id,
           upper(p_brand) AS brand_uc,
           substr(p_name, 1, 10) AS name_prefix,
           CAST(length(p_name) AS INT) AS name_len,
           replace(p_type, ' ', '_') AS type_slug
    FROM part
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 id/format strings: the reference's f\"prod-{6 digits}\" id scheme
    (dimension_tables_mock.py:49-51) as codegen'd concat/lpad, plus the
    standard string surface."""
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.concat(
            F.lit("prod-"), F.lpad(F.col("p_partkey").cast("string"), 6, "0")
        ).alias("product_id"),
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_slug"),
    )


@register(
    "date_functions",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           COUNT(*) AS n_orders,
           MIN(CAST(o_orderdate AS DATE)) AS first_day,
           MAX(CAST(o_orderdate AS DATE)) AS last_day
    FROM orders
    GROUP BY 1, 2
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 date-part extraction — the partition-key derivation of the
    reference's landing layout (transactions_mock_data.py:86-90)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .groupBy("order_year", "order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("d").alias("first_day"),
            F.max("d").alias("last_day"),
        )
    )


@register(
    "reference_ts_roundtrip",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d-%H:%M:%S') AS landed_ts,
           strptime(strftime(o_orderdate, '%Y-%m-%d-%H:%M:%S'), '%Y-%m-%d-%H:%M:%S') AS parsed_ts
    FROM orders
    """,
)
def reference_ts_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's non-ISO timestamp format 'yyyy-MM-dd-HH:mm:ss'
    (dash between date and time, transactions_mock_data.py:74):
    format → parse round-trip."""
    orders = load_table(spark, sf_dir, "orders")
    landed = format_reference_ts("o_orderdate")
    return orders.select(
        "o_orderkey",
        landed.alias("landed_ts"),
        parse_reference_ts(landed).alias("parsed_ts"),
    )


@register(
    "math_rounding",
    oracle="""
    SELECT p_partkey,
           round(p_retailprice * 1.1, 2) AS marked_up,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           CAST(abs(p_size - 25) AS INT) AS size_dist,
           round(sqrt(p_retailprice), 4) AS price_sqrt
    FROM part
    """,
)
def math_rounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 math/rounding (reference: round(uniform(10,500),2),
    dimension_tables_mock.py:54). floor/ceil on exact 2dp doubles and
    round-to-4dp sqrt are cross-engine deterministic."""
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 1.1, 2).alias("marked_up"),
        F.floor("p_retailprice").alias("price_floor"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        F.round(F.sqrt("p_retailprice"), 4).alias("price_sqrt"),
    )


@register(
    "json_extraction",
    oracle="""
    SELECT event_id, event_type,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
    FROM events
    """,
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 JSON path extraction over events.props (the landing stream's
    semi-structured payload)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return events.select(
        "event_id",
        "event_type",
        k.alias("k_str"),
        k.cast("long").alias("k_num"),
    )


@register(
    "case_when_bucketing",
    oracle="""
    SELECT CASE WHEN c_acctbal < 2500 THEN 'Bronze'
                WHEN c_acctbal < 5000 THEN 'Silver'
                WHEN c_acctbal < 7500 THEN 'Gold'
                ELSE 'Platinum' END AS tier,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM customer
    GROUP BY 1
    """,
)
def case_when_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 conditional bucketing — the membership-level CDF thresholds of
    the reference (weighted Bronze/Silver/Gold/Platinum choice,
    dimension_tables_mock.py:93-97) as a when/otherwise ladder."""
    customer = load_table(spark, sf_dir, "customer")
    tier = (
        F.when(F.col("c_acctbal") < 2500, "Bronze")
        .when(F.col("c_acctbal") < 5000, "Silver")
        .when(F.col("c_acctbal") < 7500, "Gold")
        .otherwise("Platinum")
    )
    return (
        customer.select(tier.alias("tier"), "c_acctbal")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_balance"),
        )
    )


@register(
    "array_map_functions",
    oracle="""
    SELECT n_nationkey, n_name,
           CAST(length(string_split(n_name, '')) AS INT) AS n_letters,
           list_sort(string_split(lower(n_name), ''))[1] AS first_letter
    FROM nation
    """,
)
def array_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 array ops: split a string to an array, sort it, index it."""
    nation = load_table(spark, sf_dir, "nation")
    letters = F.split(F.lower("n_name"), "")
    return nation.select(
        "n_nationkey",
        "n_name",
        F.size(F.split(F.col("n_name"), "")).alias("n_letters"),
        F.sort_array(letters).getItem(0).alias("first_letter"),
    )


@register(
    "null_handling",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           nullif(l_discount, 0.0) AS disc_or_null,
           coalesce(nullif(l_discount, 0.0), -1.0) AS disc_defaulted,
           CAST(nullif(l_discount, 0.0) IS NULL AS INT) AS was_zero,
           greatest(l_quantity, 25.0) AS qty_floor25,
           least(l_tax, 0.05) AS tax_cap5
    FROM lineitem
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface: nullif/coalesce/greatest/least and a null
    predicate — the defaulting logic of any dirty-feed ingest (the
    fixture is null-free, so nulls are manufactured with nullif)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_null = F.nullif(F.col("l_discount"), F.lit(0.0))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc_null.alias("disc_or_null"),
        F.coalesce(disc_null, F.lit(-1.0)).alias("disc_defaulted"),
        disc_null.isNull().cast("int").alias("was_zero"),
        F.greatest("l_quantity", F.lit(25.0)).alias("qty_floor25"),
        F.least("l_tax", F.lit(0.05)).alias("tax_cap5"),
    )


@register(
    "variant_json_extraction",
    # Same relational output (and thus the same oracle shape) as
    # json_extraction — what changes is the ENGINE-side representation:
    # props parses once into the binary VARIANT encoding and fields are
    # extracted with typed variant_get, not repeated string path scans.
    oracle="""
    SELECT event_id, event_type,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
    FROM events
    """,
)
def variant_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 via Spark 4's VARIANT type: ``parse_json`` shreds the payload
    into the columnar binary variant encoding ONCE, then ``variant_get``
    pulls typed fields without re-tokenizing the JSON text per path —
    the semi-structured path a 100 TB event lake should take (N path
    extractions = 1 parse + N binary probes, vs N full text scans with
    get_json_object; parquet can store the shredded variant natively).
    Output is identical to json_extraction, so the exact oracle pins the
    VARIANT path's semantics against the string-path twin."""
    events = load_table(spark, sf_dir, "events")
    # try_parse_json, not parse_json: malformed payloads must yield NULL
    # (matching the oracle's json_extract_string), not a runtime error
    v = F.try_parse_json("props")
    return events.select(
        "event_id",
        "event_type",
        F.try_variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.k", "long").alias("k_num"),
    )
