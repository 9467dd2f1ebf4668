"""Advanced relational surface: SQL passthrough, as-of/range joins,
grouping sets, pivot, correlated subqueries, percentiles, date arithmetic,
regex — the remaining SURVEY.md §2 [builtin-gap] rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.joins import as_of_join, range_join
from ecommerce_data_pipeline_spark.plans._helpers import dsum, sql_dsum
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table


@register(
    "sql_passthrough",
    oracle=f"""
    SELECT n.n_name,
           COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: the reference's df_sql executor (dimension_tables_mock.py:15-43
    submits SQL text to Redshift and polls) becomes spark.sql() over
    registered views — parse/plan/execute in-process, no polling."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n.n_name,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


@register(
    "asof_join_events",
    oracle="""
    WITH purchases AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
         signups AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup')
    SELECT p.event_id, p.user_id, p.ts, p.value,
           s.ts AS right_ts, s.event_id AS right_event_id
    FROM purchases p
    ASOF LEFT JOIN signups s ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 as-of join: each purchase paired with the user's latest
    signup at-or-before it. Implemented with the union-sort trick (one
    shuffle on user_id, window carry-forward — operators/joins.py); the
    oracle uses DuckDB's native ASOF JOIN, so the semantics (backward,
    tie-inclusive) are pinned against an independent implementation."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("event_id2")
    )
    out = as_of_join(
        purchases, signups, on="user_id", left_ts="ts", right_ts="ts"
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "right_ts",
        F.col("right_event_id2").alias("right_event_id"),
    )


@register(
    "range_join_quantity_bands",
    oracle="""
    WITH bands(lo, hi, band) AS (VALUES (0, 10, 'small'), (10, 25, 'medium'), (25, 51, 'large'))
    SELECT b.band, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN bands b ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY b.band
    """,
)
def range_join_quantity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 range join: facts into value bands via a broadcast nested-loop
    join against a tiny interval table (the 100 TB-safe shape: the band
    table always broadcasts)."""
    li = load_table(spark, sf_dir, "lineitem")
    band_df = spark.createDataFrame(
        [(0, 10, "small"), (10, 25, "medium"), (25, 51, "large")],
        "lo int, hi int, band string",
    )
    joined = range_join(li, band_df, "l_quantity", "lo", "hi")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_extendedprice").alias("revenue"),
    )


@register(
    "grouping_sets_revenue",
    oracle=f"""
    SELECT c.c_mktsegment, o.o_orderstatus,
           {sql_dsum('o.o_totalprice')} AS revenue,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((c.c_mktsegment), (o.o_orderstatus), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 explicit GROUPING SETS (segment-only, status-only, grand total)
    via SQL over registered views."""
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c.c_mktsegment, o.o_orderstatus,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY GROUPING SETS ((c.c_mktsegment), (o.o_orderstatus), ())
        """
    )


@register(
    "pivot_priority_counts",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) FILTER (WHERE o.o_orderpriority = '1-URGENT') AS urgent,
           COUNT(*) FILTER (WHERE o.o_orderpriority = '2-HIGH') AS high,
           COUNT(*) FILTER (WHERE o.o_orderpriority = '3-MEDIUM') AS medium,
           COUNT(*) FILTER (WHERE o.o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
           COUNT(*) FILTER (WHERE o.o_orderpriority = '5-LOW') AS low
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def pivot_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (priority → columns) with the value list pinned — pinning
    avoids the extra distinct-values job AND makes the schema static,
    both required at scale."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == F.col("c_custkey"),
    )
    pivoted = (
        joined.groupBy("c_mktsegment")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "c_mktsegment",
        F.coalesce(F.col("`1-URGENT`"), F.lit(0)).alias("urgent"),
        F.coalesce(F.col("`2-HIGH`"), F.lit(0)).alias("high"),
        F.coalesce(F.col("`3-MEDIUM`"), F.lit(0)).alias("medium"),
        F.coalesce(F.col("`4-NOT SPECIFIED`"), F.lit(0)).alias("not_specified"),
        F.coalesce(F.col("`5-LOW`"), F.lit(0)).alias("low"),
    )


@register(
    "scalar_subquery_above_avg",
    oracle="""
    WITH seg AS (
      SELECT c_mktsegment,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS seg_avg
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_name, c.c_acctbal, s.seg_avg
    FROM customer c JOIN seg s ON c.c_mktsegment = s.c_mktsegment
    WHERE c.c_acctbal > s.seg_avg
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape (customers above their segment's
    average balance), expressed decorrelated: aggregate once, broadcast
    back — what Catalyst's RewriteCorrelatedScalarSubquery produces."""
    customer = load_table(spark, sf_dir, "customer")
    seg = customer.groupBy("c_mktsegment").agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count("c_acctbal")
        ).alias("seg_avg")
    )
    return (
        customer.join(F.broadcast(seg), "c_mktsegment")
        .filter(F.col("c_acctbal") > F.col("seg_avg"))
        .select("c_custkey", "c_name", "c_acctbal", "seg_avg")
    )


@register(
    "percentiles_exact",
    oracle="""
    SELECT l_returnflag,
           round(CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE), 4) AS p25,
           round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 4) AS p50,
           round(CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE), 4) AS p75,
           round(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE), 4) AS price_p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (PERCENTILE_CONT semantics
    on both engines), rounded at 4dp. The approx variant
    (approx_count_distinct / percentile_approx) is a separate rows-only
    query — sketch internals differ across engines by design.

    Scale note: exact percentile_cont materializes each group's values
    (per-group sort) — fine while any one group fits an executor, which
    3 return-flag groups at 100 TB do NOT. The 100× path is
    ``percentiles_approx_by_group`` (mergeable GK sketch, two-phase
    map-side-combined, memory bounded by accuracy, not group size);
    BASELINE.md records the 10× probe numbers."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 4).alias("p75"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("price_p90"),
    )


@register("approx_aggregates", oracle=None)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 sketch aggregates (HLL++ / GK-quantile): engine-specific values
    by design → rows-only driver check; the unit test asserts the HLL
    estimate lands within its 5% rsd of the exact count."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", 0.05).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "sketch_error_certificate",
    # Certificate pattern (cf. minhash_recall_vs_exact): the sketch
    # estimates themselves are engine-internal, but their ERROR BOUNDS
    # are the product contract — so emit the oracle-computable exact
    # values plus booleans asserting each estimate lands inside its
    # published bound. A sketch drifting out of tolerance flips a boolean
    # and shows up as a driver hash mismatch. Bounds are 2-3x the
    # measured worst case across sf0.001-0.1 (HLL rel-err ≤6.4% vs 15%
    # bound = 3*rsd; approx-median rel-err ≤0.13% vs 1% bound), and both
    # sketches are merge-order-independent, so the booleans are stable
    # under any partitioning.
    oracle="""
    SELECT count(DISTINCT l_orderkey) AS exact_orders,
           round(median(l_extendedprice), 4) AS exact_median_price,
           TRUE AS hll_within_3rsd,
           TRUE AS median_within_1pct
    FROM lineitem
    """,
)
def sketch_error_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 accuracy certificate: HLL++ count-distinct within 3x its
    rsd=0.05, GK approx-median within 1% of the exact median — graded
    against the exact DuckDB values, making sketch quality driver-visible
    (the raw estimates stay rows-only in ``approx_aggregates``)."""
    li = load_table(spark, sf_dir, "lineitem")
    est = F.approx_count_distinct("l_orderkey", 0.05)
    exact = F.count_distinct("l_orderkey")
    amed = F.percentile_approx("l_extendedprice", 0.5, 1000)
    emed = F.percentile("l_extendedprice", F.lit(0.5))
    # 4dp, not 2dp: the median of 2dp decimals has ≤3 decimal digits, so
    # 4dp rounding is the IDENTITY and immune to the HALF_UP-vs-binary
    # divergence a half-cent median would hit at 2dp (see
    # grouped_sketch_certificate)
    return li.agg(
        exact.alias("exact_orders"),
        F.round(emed, 4).alias("exact_median_price"),
        (F.abs(est - exact) / exact <= F.lit(0.15)).alias("hll_within_3rsd"),
        (F.abs(amed - emed) / emed <= F.lit(0.01)).alias("median_within_1pct"),
    )


@register(
    "stats_correlation",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(stddev_samp(l_quantity), 6) AS sd_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics surface: correlation, sample covariance,
    least-squares slope/intercept, stddev — per group, one two-phase
    merge-able aggregation (Spark's distributed moment merge vs DuckDB's
    sequential pass agree to well past the published roundings; verified
    stable under arbitrary repartitioning)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qp"
        ),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias(
            "slope"
        ),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "intercept"
        ),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
    )


@register("hll_sketch_rollup", oracle=None)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: HLL sketches built per (returnflag,
    linestatus), then UNION-MERGED up to returnflag — distinct counts
    re-aggregate without touching raw data again. This is the pattern
    that makes multi-level distinct rollups feasible at 100 TB: fine-
    grained sketches persist once; every coarser level is a cheap sketch
    union, never a re-scan. Rows-only (sketch estimates are
    engine-specific); the unit test pins each merged estimate to the
    exact distinct count within HLL error."""
    li = load_table(spark, sf_dir, "lineitem")
    sketches = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk")
    )
    return sketches.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
            "approx_distinct_orders"
        )
    )


@register("percentiles_approx_by_group", oracle=None)
def percentiles_approx_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100×-scale twin of ``percentiles_exact``: same grouped
    percentiles via the GK sketch (``percentile_approx``). The sketch is
    mergeable, so the aggregation stays two-phase map-side-combined —
    no per-group full sort, memory bounded by the accuracy parameter
    (10000 ≈ 0.01% rank error), regardless of group size. Rows-only by
    design (sketch internals are engine-specific); the pytest pins each
    approx value to within 1% of the exact query's."""
    li = load_table(spark, sf_dir, "lineitem")
    acc = 10000
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", 0.25, acc).alias("p25"),
        F.percentile_approx("l_quantity", 0.5, acc).alias("p50"),
        F.percentile_approx("l_quantity", 0.75, acc).alias("p75"),
        F.percentile_approx("l_extendedprice", 0.9, acc).alias("price_p90"),
    )


@register(
    "grouped_sketch_certificate",
    # Extends sketch_error_certificate to the GROUPED and MERGED sketch
    # paths (hll_sketch_rollup / percentiles_approx_by_group above, both
    # rows-only): per group, the datasketches-HLL estimate — built
    # directly AND rebuilt by unioning finer (flag, status) sketches —
    # must land within 5% of the exact distinct count (~3x the lgK=12
    # rsd; measured worst case 2.5% across SFs), the two estimates must
    # agree within 3% of each other (mergeability — union of
    # disjoint-group sketches is estimate-stable, measured ≤0.6%), and
    # the GK grouped median must sit within 1% of exact (measured
    # ≤0.13%). Exact values are cross-engine columns; the exact median
    # rounds at 4dp, which is EXACT for these inputs (the median of 2dp
    # decimals has ≤3 decimal digits, so 4dp rounding is the identity
    # and 1-ulp engine differences cannot flip it).
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct_orders,
           round(median(l_extendedprice), 4) AS exact_median_price,
           TRUE AS direct_hll_within_5pct,
           TRUE AS merged_hll_within_5pct,
           TRUE AS merged_agrees_with_direct,
           TRUE AS gk_median_within_1pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def grouped_sketch_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped/merged sketch accuracy certificate (see oracle comment) —
    one pass building the fine (flag, status) HLL sketches, one union
    rollup, one direct grouped aggregate carrying the exact values; all
    comparisons stay cluster-side as boolean columns."""
    li = load_table(spark, sf_dir, "lineitem")
    merged = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.hll_sketch_agg("l_orderkey").alias("sk"))
        .groupBy("l_returnflag")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("m"))
    )
    direct = li.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey")).alias("d"),
        F.count_distinct("l_orderkey").alias("exact_distinct_orders"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("emed"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("amed"),
    )
    e = F.col("exact_distinct_orders")
    return (
        direct.join(merged, "l_returnflag")
        .select(
            "l_returnflag",
            e,
            F.round("emed", 4).alias("exact_median_price"),
            (F.abs(F.col("d") - e) / e <= F.lit(0.05)).alias(
                "direct_hll_within_5pct"
            ),
            (F.abs(F.col("m") - e) / e <= F.lit(0.05)).alias(
                "merged_hll_within_5pct"
            ),
            (
                F.abs(F.col("m") - F.col("d")) / F.col("d") <= F.lit(0.03)
            ).alias("merged_agrees_with_direct"),
            (
                F.abs(F.col("amed") - F.col("emed")) / F.col("emed")
                <= F.lit(0.01)
            ).alias("gk_median_within_1pct"),
        )
    )


@register(
    "date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(o_orderdate + INTERVAL 7 DAY AS DATE) AS ship_by,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch_start,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow -- DuckDB 0=Sun, Spark 1=Sun
    FROM orders
    """,
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 date arithmetic: truncation, month-end, offsets, day diffs —
    the derivations behind the reference's partition keys and SLAs."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.date_add(d, 7).alias("ship_by"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        F.dayofweek("o_orderdate").alias("dow"),
    )


@register(
    "regexp_functions",
    oracle="""
    SELECT p_partkey, p_name,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowels,
           regexp_replace(p_name, '\\s+', '-', 'g') AS slug,
           CASE WHEN regexp_matches(p_name, 'widget') THEN 1 ELSE 0 END AS is_widget
    FROM part
    """,
)
def regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface: extract, count-matches, replace-all, predicate."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        "p_name",
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word"),
        F.regexp_count("p_name", F.lit(r"[aeiou]")).cast("int").alias("n_vowels"),
        F.regexp_replace("p_name", r"\s+", "-").alias("slug"),
        F.when(F.col("p_name").rlike("widget"), 1).otherwise(0).alias("is_widget"),
    )


@register(
    "multimodal_frame_sample",
    # The documents fixture is pure ASCII, so DuckDB's char-level
    # substring+encode equals Spark's byte-level binary substring — which
    # lets the binary frame slicing be fully oracle-checked.
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, text,
             CAST(floor(length(text) / 4) AS BIGINT) AS stride
      FROM documents
    )
    SELECT media_id, 'image/fake' AS media_type,
           concat_ws(',',
             hex(encode(substring(text, 0 * stride + 1, 16))),
             hex(encode(substring(text, 1 * stride + 1, 16))),
             hex(encode(substring(text, 2 * stride + 1, 16))),
             hex(encode(substring(text, 3 * stride + 1, 16)))) AS frames_hex
    FROM m
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Video' frame sampling over the binary payload table: N evenly
    spaced fixed-width binary frames per media row (pure Column ops —
    the codec seek is the stubbed step, see operators/multimodal.py).
    Public projection hex-encodes the frames into one CSV string so the
    output is scalar-only (driver canonicalizer contract)."""
    from ecommerce_data_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        frame_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    frames = frame_sample(attach_binary_payload(docs))
    return frames.select(
        "media_id",
        "media_type",
        F.concat_ws(
            ",", F.transform("frames", lambda fr: F.hex(fr))
        ).alias("frames_hex"),
    )


@register(
    "embedding_norms",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm,
           round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 6) AS sq_norm,
           CAST(len(embedding) AS INT) AS dim
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-math surface over array<float>: JVM-side fold norms
    (functions/vectors.py), checked against DuckDB's list_dot_product."""
    from ecommerce_data_pipeline_spark.functions.vectors import dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.round(l2_norm("embedding"), 6).alias("l2_norm"),
        F.round(dot("embedding", "embedding"), 6).alias("sq_norm"),
        F.size("embedding").alias("dim"),
    )


@register(
    "discount_response_isotonic",
    # PAV's EXECUTION is sequential, but its SOLUTION has the classical
    # minimax closed form  ŷ_i = max_{j≤i} min_{k≥i} wmean(y[j..k])
    # (Ayer et al. 1955; Robertson/Wright/Dykstra 1988 Thm 1.4.4) — over
    # the 11-points-per-group pre-aggregated relation that is O(groups ×
    # n³) = a few thousand tuples, trivially SQL-expressible. The oracle
    # grades the fitted curve value-exactly; pytest keeps the
    # monotonicity / mean-preservation / reference-PAV pins.
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS g, CAST(l_discount AS DOUBLE) AS x,
             CAST(sum(l_quantity) AS DOUBLE)/count(*) AS y,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    iv AS (      -- weighted mean of every x-interval [j..k] per group
      SELECT j.g, j.x AS xj, k.x AS xk,
             sum(p.y * p.w) / sum(p.w) AS m
      FROM pts j
      JOIN pts k ON k.g = j.g AND k.x >= j.x
      JOIN pts p ON p.g = j.g AND p.x >= j.x AND p.x <= k.x
      GROUP BY j.g, j.x, k.x
    ),
    inner_min AS (  -- for each point i and left end j≤i: min over k≥i
      SELECT iv.g, i.x AS xi, iv.xj, min(iv.m) AS mn
      FROM iv JOIN pts i ON i.g = iv.g AND iv.xj <= i.x AND iv.xk >= i.x
      GROUP BY iv.g, i.x, iv.xj
    ),
    fit AS (SELECT g, xi AS x, max(mn) AS y_fit FROM inner_min GROUP BY g, xi)
    SELECT p.g AS l_returnflag, round(p.x, 2) AS discount,
           round(p.y, 6) AS avg_qty, CAST(p.w AS BIGINT) AS n_lines,
           round(f.y_fit, 6) AS fitted_qty
    FROM pts p JOIN fit f ON f.g = p.g AND f.x = p.x
    """,
)
def discount_response_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone discount→quantity response curve per return flag:
    pre-aggregate lineitem to one (avg quantity, line count) point per
    (flag, discount) — distributed, map-side combined, reduces any row
    count to groups × 11 points — then pool-adjacent-violators fits the
    least-squares non-decreasing curve per group via grouped-map
    applyInPandas (operators/calibration.py). The Python stage sees only
    the 11-point-per-group relation: the grouped-map batch is bounded by
    the x-domain, never the corpus."""
    from ecommerce_data_pipeline_spark.operators.calibration import (
        isotonic_fit_per_group,
    )

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.groupBy(
        "l_returnflag", F.col("l_discount").cast("double").alias("disc")
    ).agg(
        (dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).cast("double").alias("n_lines"),
    )
    fit = isotonic_fit_per_group(
        pts, group_col="l_returnflag", x_col="disc", y_col="avg_qty",
        weight_col="n_lines",
    )
    return fit.select(
        "l_returnflag",
        F.round("x", 2).alias("discount"),
        F.round("y", 6).alias("avg_qty"),
        F.col("w").cast("long").alias("n_lines"),
        F.round("y_fit", 6).alias("fitted_qty"),
    )
