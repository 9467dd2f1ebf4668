"""Data-quality / data-understanding queries (SURVEY.md §2 extensions):
blocked fuzzy entity resolution, single-pass column profiling, and a
behavioral transition matrix.

These are the "know your data" operators a training-data pipeline runs
before (profiling), during (entity resolution of dimension records), and
after (behavior modeling) ingestion. All three are pure Column-expression
plans — no UDFs — and each is shaped so its shuffle structure survives a
100 TB input: profiling is one aggregation pass, entity resolution is a
blocked (never cartesian) self-join over a *deduplicated* name dictionary,
and the transition matrix partitions by the same user key the
sessionizer uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table


@register(
    "entity_resolution_fuzzy",
    oracle="""
    WITH names AS (
      SELECT p_name,
             regexp_extract(p_name, '(\\S+)$', 1) AS block,
             COUNT(*) AS n_parts,
             MIN(p_partkey) AS canonical_partkey
      FROM part
      GROUP BY p_name
    )
    SELECT a.block,
           a.p_name AS name_a,
           b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_distance,
           a.n_parts AS n_parts_a,
           b.n_parts AS n_parts_b,
           a.canonical_partkey AS canonical_a,
           b.canonical_partkey AS canonical_b
    FROM names a
    JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def entity_resolution_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution over the part-name dimension: candidate
    pairs of near-identical product names (edit distance <= 4) found via a
    *blocked* self-join keyed on the head noun, never a cartesian product.

    The scale contract (reference dimension refresh, Products_Dim_Gen
    lambda_function.py:21-34, resolved here instead of regenerated):
    1. Dedup first — the join runs over the distinct-name dictionary
       (bounded by vocabulary size), not the raw fact rows.
    2. Block — `regexp_extract(name, '(\\S+)$')` keys the self-join, so
       Spark hash-partitions by block and compares only within blocks;
       worst case is max-block-size squared, not corpus squared.
    3. The dictionary side is broadcast-eligible (tiny vs the fact
       table), so cluster-scale cost is the dedup aggregation alone.
    """
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_partkey").alias("canonical_partkey"),
        )
        .withColumn("block", F.regexp_extract("p_name", r"(\S+)$", 1))
    )
    a = names.alias("a")
    b = names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 4)
        .select(
            F.col("a.block").alias("block"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias(
                "edit_distance"
            ),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
            F.col("a.canonical_partkey").alias("canonical_a"),
            F.col("b.canonical_partkey").alias("canonical_b"),
        )
    )


@register(
    "data_profile_orders",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(o_orderkey) AS nn_orderkey,
             COUNT(DISTINCT o_orderkey) AS nd_orderkey,
             CAST(MIN(o_orderkey) AS VARCHAR) AS min_orderkey,
             CAST(MAX(o_orderkey) AS VARCHAR) AS max_orderkey,
             COUNT(o_custkey) AS nn_custkey,
             COUNT(DISTINCT o_custkey) AS nd_custkey,
             CAST(MIN(o_custkey) AS VARCHAR) AS min_custkey,
             CAST(MAX(o_custkey) AS VARCHAR) AS max_custkey,
             COUNT(o_orderstatus) AS nn_status,
             COUNT(DISTINCT o_orderstatus) AS nd_status,
             MIN(o_orderstatus) AS min_status,
             MAX(o_orderstatus) AS max_status,
             COUNT(o_totalprice) AS nn_price,
             COUNT(DISTINCT o_totalprice) AS nd_price,
             CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
               AS min_price,
             CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
               AS max_price,
             COUNT(o_orderdate) AS nn_date,
             COUNT(DISTINCT o_orderdate) AS nd_date,
             CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR) AS min_date,
             CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) AS max_date,
             COUNT(o_orderpriority) AS nn_prio,
             COUNT(DISTINCT o_orderpriority) AS nd_prio,
             MIN(o_orderpriority) AS min_prio,
             MAX(o_orderpriority) AS max_prio
      FROM orders
    )
    SELECT 'o_orderkey' AS col_name, n_rows, nn_orderkey AS n_nonnull,
           nd_orderkey AS n_distinct, min_orderkey AS min_value,
           max_orderkey AS max_value FROM s
    UNION ALL
    SELECT 'o_custkey', n_rows, nn_custkey, nd_custkey, min_custkey,
           max_custkey FROM s
    UNION ALL
    SELECT 'o_orderstatus', n_rows, nn_status, nd_status, min_status,
           max_status FROM s
    UNION ALL
    SELECT 'o_totalprice', n_rows, nn_price, nd_price, min_price,
           max_price FROM s
    UNION ALL
    SELECT 'o_orderdate', n_rows, nn_date, nd_date, min_date,
           max_date FROM s
    UNION ALL
    SELECT 'o_orderpriority', n_rows, nn_prio, nd_prio, min_prio,
           max_prio FROM s
    """,
)
def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler for the orders table: row count,
    non-null count, exact distinct count, and string-serialized min/max
    for every column, published as one narrow (col_name, metric...) row
    per column.

    This is the pipeline's pre-flight data check. ONE aggregation over
    the table computes all 6x4 statistics (Catalyst expands the
    multi-DISTINCT into a single Expand + two-stage aggregate — still one
    scan), and the wide->narrow reshape happens on the 1-row result, so
    the 100 TB cost is exactly one pass regardless of how many columns
    are profiled. Min/max serialize via type-stable casts (decimal 2dp,
    ISO dates) so one schema publishes heterogeneous column types.
    """
    o = load_table(spark, sf_dir, "orders")

    def stats(col: str, serialize: str) -> list:
        c = F.col(col)
        ser_min = F.min(c).cast(serialize).cast("string")
        ser_max = F.max(c).cast(serialize).cast("string")
        if serialize == "string":
            ser_min, ser_max = F.min(c).cast("string"), F.max(c).cast("string")
        return [
            F.count(c).alias(f"nn_{col}"),
            F.count_distinct(c).alias(f"nd_{col}"),
            ser_min.alias(f"min_{col}"),
            ser_max.alias(f"max_{col}"),
        ]

    specs = [
        ("o_orderkey", "string"),
        ("o_custkey", "string"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "decimal(18,2)"),
        ("o_orderdate", "date"),
        ("o_orderpriority", "string"),
    ]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col, ser in specs:
        aggs.extend(stats(col, ser))
    wide = o.agg(*aggs)

    stack_args = ", ".join(
        f"'{col}', nn_{col}, nd_{col}, min_{col}, max_{col}"
        for col, _ in specs
    )
    return wide.select(
        F.expr(
            f"stack({len(specs)}, {stack_args}) AS "
            "(col_name, n_nonnull, n_distinct, min_value, max_value)"
        ),
        "n_rows",
    ).select(
        "col_name", "n_rows", "n_nonnull", "n_distinct", "min_value",
        "max_value",
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type,
             COUNT(*) AS n_transitions
      FROM e WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT from_type, to_type, n_transitions,
           ROUND(CAST(n_transitions AS DOUBLE) /
                 SUM(n_transitions) OVER (PARTITION BY from_type), 6)
             AS p_transition
    FROM pairs
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: for
    each (from_type -> to_type) pair, the transition count and the
    conditional probability P(to | from).

    Behavior-model features (and anomaly baselines) for the reference's
    event taxonomy (transactions_mock_data.py event types). Scale shape:
    the LEAD window partitions by user_id — same key as sessionization,
    one shuffle, millions of small independent partitions — and the
    probability normalization runs on the TYPExTYPE matrix (25 rows), so
    the second window is free. Ties on ts break by event_id so the chain
    is deterministic cross-engine.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    total = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(total),
            6,
        ).alias("p_transition"),
    )


@register(
    "zscore_outliers",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                      * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2
      FROM orders
      GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey,
           o.o_orderpriority,
           o.o_totalprice,
           ROUND((o.o_totalprice - m.s1 / m.n)
                 / sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1)), 4)
             AS zscore
    FROM orders o JOIN m ON o.o_orderpriority = m.o_orderpriority
    WHERE abs((o.o_totalprice - m.s1 / m.n)
              / sqrt((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1))) > 1.65
    """,
)
def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection over order totals — the
    anomaly gate a pipeline runs before admitting a batch (price glitches,
    unit errors) — flagging rows more than 1.65 sigma from their priority
    class's mean.

    Determinism discipline (same as stats_correlation): the group moments
    are EXACT decimal sums (2dp values, 4dp squares — no float
    accumulation-order variance), published to double only for the final
    mean/stddev arithmetic, which is written with identical
    parenthesization in both engines, so even the > 1.65 boundary
    comparison is bit-identical. Plan shape: one aggregation for the
    5-row moment table, broadcast back onto the fact scan — a 100 TB
    input is one pass + one map-side join, no second shuffle.
    """
    from pyspark.sql.functions import broadcast

    from ecommerce_data_pipeline_spark.plans._helpers import dec

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice")).cast("double").alias("s1"),
        F.sum(dec("o_totalprice") * dec("o_totalprice"))
        .cast("double")
        .alias("s2"),
    )
    j = o.join(broadcast(m), "o_orderpriority")
    z = (F.col("o_totalprice") - F.col("s1") / F.col("n")) / F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    return j.where(F.abs(z) > 1.65).select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(z, 4).alias("zscore"),
    )


@register(
    "skewness_kurtosis_moments",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS s1,
             SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
               AS s2,
             SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT)) AS s3,
             SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
               AS s4
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean_qty,
           ROUND(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                 6) AS var_pop,
           ROUND((CAST(s3 AS DOUBLE) / n
                  - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                  + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n))
                 / pow(CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                       1.5), 6) AS skewness,
           ROUND((CAST(s4 AS DOUBLE) / n
                  - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
                  + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s2 AS DOUBLE) / n)
                  - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                 / ((CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                    * (CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
                 - 3.0, 6) AS kurtosis_excess
    FROM m
    """,
)
def skewness_kurtosis_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment distribution profile (population skewness + excess
    kurtosis) per return flag — the shape statistics a data-quality
    monitor tracks to catch distribution drift that mean/stddev miss.

    Same determinism discipline as stats_correlation, taken one step
    further: l_quantity is integral (1..50), so ALL four power sums are
    exact BIGINT arithmetic (max s4 sum ~4e11 — no overflow, no float
    accumulation anywhere). The only floating-point steps are the final
    moment formulas, written with identical literal-for-literal
    parenthesization in both engines, so skewness and kurtosis match
    bit-for-bit at 6dp. One hash aggregation over the fact table; the
    formula is a 5-row projection afterwards — a 100 TB input is a
    single map-side-combined pass.
    """
    q = F.col("l_quantity").cast("long")
    m = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q).alias("s1"),
            F.sum(q * q).alias("s2"),
            F.sum(q * q * q).alias("s3"),
            F.sum(q * q * q * q).alias("s4"),
        )
    )
    mean = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n") - mean * mean
    m3 = (
        F.col("s3").cast("double") / F.col("n")
        - F.lit(3.0) * mean * (F.col("s2").cast("double") / F.col("n"))
        + F.lit(2.0) * mean * mean * mean
    )
    m4 = (
        F.col("s4").cast("double") / F.col("n")
        - F.lit(4.0) * mean * (F.col("s3").cast("double") / F.col("n"))
        + F.lit(6.0) * mean * mean * (F.col("s2").cast("double") / F.col("n"))
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(mean, 6).alias("mean_qty"),
        F.round(m2, 6).alias("var_pop"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis_excess"),
    )


def _chi_square_grid(joined: DataFrame) -> DataFrame:
    """Core of chi_square_contingency over a (segment, priority)
    relation: the DENSE r x c marginal grid — row-totals CROSS
    col-totals LEFT JOIN observed cells, COALESCE 0 — so an empty
    (segment, priority) cell still publishes its (0 - e)^2 / e
    contribution. Factored out so the planted-empty-cell pytest can
    drive it with a synthetic relation (the cramers_v lesson: the
    oracle can't catch a semantic hole shared by both engines)."""
    from pyspark.sql.functions import broadcast

    # localCheckpoint the cell table: three marginal re-aggregations
    # consume it, and without the cut each one re-executes the fact
    # join+aggregate (4 orders scans for one statistic)
    cells = joined.groupBy("segment", "priority").agg(
        F.count(F.lit(1)).alias("observed")
    ).localCheckpoint()
    rt = cells.groupBy("segment").agg(F.sum("observed").alias("row_total"))
    ct = cells.groupBy("priority").agg(F.sum("observed").alias("col_total"))
    n = cells.select(F.sum("observed").alias("grand_total"))
    grid = (
        rt.crossJoin(broadcast(ct))
        .join(cells, ["segment", "priority"], "left")
        .select(
            "segment",
            "priority",
            "row_total",
            "col_total",
            F.coalesce(F.col("observed"), F.lit(0).cast("long")).alias(
                "observed"
            ),
        )
    )
    expected = (F.col("row_total") * 1.0 * F.col("col_total")) / F.col(
        "grand_total"
    )
    return grid.crossJoin(broadcast(n)).select(
        "segment",
        "priority",
        "observed",
        F.round(expected, 6).alias("expected"),
        F.round(
            ((F.col("observed") - expected) * (F.col("observed") - expected))
            / expected,
            6,
        ).alias("chi2_contribution"),
    )


@register(
    "chi_square_contingency",
    oracle="""
    WITH joined AS (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS MATERIALIZED (
      SELECT segment, priority, CAST(COUNT(*) AS BIGINT) AS observed
      FROM joined GROUP BY segment, priority
    ),
    rt AS (SELECT segment, SUM(observed) AS row_total FROM cells GROUP BY segment),
    ct AS (SELECT priority, SUM(observed) AS col_total FROM cells GROUP BY priority),
    n AS (SELECT SUM(observed) AS grand_total FROM cells),
    grid AS (
      SELECT rt.segment, rt.row_total, ct.priority, ct.col_total,
             CAST(COALESCE(cells.observed, 0) AS BIGINT) AS observed
      FROM rt CROSS JOIN ct
      LEFT JOIN cells ON cells.segment = rt.segment
                     AND cells.priority = ct.priority
    )
    SELECT grid.segment, grid.priority, grid.observed,
           ROUND((grid.row_total * 1.0 * grid.col_total) / n.grand_total, 6)
             AS expected,
           ROUND(((grid.observed - (grid.row_total * 1.0 * grid.col_total)
                                    / n.grand_total)
                  * (grid.observed - (grid.row_total * 1.0 * grid.col_total)
                                      / n.grand_total))
                 / ((grid.row_total * 1.0 * grid.col_total) / n.grand_total), 6)
             AS chi2_contribution
    FROM grid CROSS JOIN n
    """,
)
def chi_square_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence profile between customer market segment
    and order priority: the full contingency table with per-cell
    expected counts and chi2 contributions (their sum is the test
    statistic) — how a pipeline checks whether two categorical columns
    are independent before trusting a stratified design on one of them.

    The table is the DENSE marginal grid (row-totals CROSS col-totals
    LEFT JOIN observed cells, observed COALESCEd to 0), not just the
    observed cells: an empty (segment, priority) cell contributes
    (0 - e)^2 / e to the statistic, and the pre-r12 observed-only form
    silently under-reported chi2 the day a cell emptied (value-correct
    at every graded SF only because all 25 cells are populated).

    Shape: one fact-side broadcast-join + hash aggregate produces the
    cell table; row totals, column totals, and the grand total are
    re-aggregations OF THE CELLS (<= 25 rows — free), broadcast back.
    No windows, no second pass over the fact table. Expected counts are
    a single integer->double division written identically in both
    engines, and each cell's contribution reuses that same expression
    verbatim, so every float matches at 6dp.
    """
    from pyspark.sql.functions import broadcast

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderpriority").alias("priority"),
    )
    return _chi_square_grid(joined)


@register(
    "target_mean_encoding",
    oracle="""
    WITH joined AS (
      SELECT o.o_orderkey, c.c_mktsegment AS segment,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    seg AS (
      SELECT segment, COUNT(*) AS n_cat,
             CAST(SUM(price) AS DOUBLE) AS sum_cat
      FROM joined GROUP BY segment
    ),
    g_all AS (
      SELECT COUNT(*) AS n_all, CAST(SUM(price) AS DOUBLE) AS sum_all
      FROM joined
    )
    SELECT j.o_orderkey, j.segment,
           ROUND(s.sum_cat / s.n_cat, 6) AS raw_mean,
           ROUND((s.sum_cat + 10.0 * (g.sum_all / g.n_all))
                 / (s.n_cat + 10.0), 6) AS encoded
    FROM joined j
    JOIN seg s ON j.segment = s.segment
    CROSS JOIN g_all g
    """,
)
def target_mean_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical feature — the
    standard ML-prep replacement for high-cardinality one-hot columns:
    each category becomes its target mean shrunk toward the global mean
    (m=10 pseudo-observations), so rare categories don't memorize noise.

    Exactness: category and global sums accumulate in DECIMAL(18,2)
    (order-independent), published to double for the single smoothing
    division written identically in both engines. Plan: one broadcast
    dim join + two aggregations over the SAME joined relation (Spark
    reuses the exchange), then the 5-row encoder table broadcasts back
    onto the fact rows — at 100 TB the encoding is a map-side join, and
    the encoder table itself is the reusable artifact a feature store
    would persist.
    """
    from pyspark.sql.functions import broadcast

    from ecommerce_data_pipeline_spark.plans._helpers import dec

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        dec("o_totalprice").alias("price"),
    )
    seg = joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_cat"),
        F.sum("price").cast("double").alias("sum_cat"),
    )
    glob = joined.select(
        F.count(F.lit(1)).alias("n_all"),
        F.sum("price").cast("double").alias("sum_all"),
    )
    return (
        joined.join(broadcast(seg), "segment")
        .crossJoin(broadcast(glob))
        .select(
            "o_orderkey",
            "segment",
            F.round(F.col("sum_cat") / F.col("n_cat"), 6).alias("raw_mean"),
            F.round(
                (F.col("sum_cat") + F.lit(10.0) * (F.col("sum_all") / F.col("n_all")))
                / (F.col("n_cat") + F.lit(10.0)),
                6,
            ).alias("encoded"),
        )
    )


@register(
    "join_cardinality_preflight",
    oracle="""
    WITH ko AS (
      SELECT o_orderkey AS k, COUNT(*) AS n_o FROM orders GROUP BY o_orderkey
    ),
    kl AS (
      SELECT l_orderkey AS k, COUNT(*) AS n_l FROM lineitem GROUP BY l_orderkey
    ),
    contrib AS (
      SELECT ko.k, ko.n_o * kl.n_l AS rows_out
      FROM ko JOIN kl ON ko.k = kl.k
    ),
    pred AS (
      SELECT COUNT(*) AS n_join_keys,
             CAST(SUM(rows_out) AS BIGINT) AS predicted_join_rows,
             CAST(MAX(rows_out) AS BIGINT) AS max_key_rows
      FROM contrib
    ),
    act AS (
      SELECT COUNT(*) AS actual_join_rows
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT pred.n_join_keys, pred.predicted_join_rows,
           act.actual_join_rows, pred.max_key_rows,
           ROUND(pred.max_key_rows * 1.0 / pred.predicted_join_rows, 6)
             AS max_key_share
    FROM pred CROSS JOIN act
    """,
)
def join_cardinality_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-explosion pre-flight: predict a join's exact output
    cardinality and its worst-key skew share from per-side key
    histograms ALONE — two cheap aggregations instead of the join
    itself. predicted = sum over shared keys of |left_k| * |right_k|;
    the oracle cross-checks it against the actually-executed join
    (equal by construction — that equality is the point).

    At 100 TB this is the guard you run before committing a shuffle
    join: the per-key count tables are map-side-combined aggregates
    (tiny vs the join output), predicted_join_rows prices the shuffle,
    and max_key_share tells you whether one hot key will pin a reducer
    (the decision input for salting / AQE skew hints / broadcast
    fallback — see operators/skew.py). Exact integer arithmetic
    throughout; the one ratio is a single division, 6dp both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ko = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_o")
    )
    kl = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_l")
    )
    contrib = ko.join(kl, "k").select(
        "k", (F.col("n_o") * F.col("n_l")).alias("rows_out")
    )
    pred = contrib.select(
        F.count(F.lit(1)).alias("n_join_keys"),
        F.sum("rows_out").cast("long").alias("predicted_join_rows"),
        F.max("rows_out").cast("long").alias("max_key_rows"),
    )
    act = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.count(F.lit(1)).alias("actual_join_rows")
    )
    return pred.crossJoin(act).select(
        "n_join_keys",
        "predicted_join_rows",
        "actual_join_rows",
        "max_key_rows",
        F.round(
            F.col("max_key_rows") * 1.0 / F.col("predicted_join_rows"), 6
        ).alias("max_key_share"),
    )


@register(
    "mad_robust_outliers",
    oracle="""
    WITH med AS (
      SELECT o_orderpriority,
             CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE) AS med_price
      FROM orders GROUP BY o_orderpriority
    ),
    dev AS (
      SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
             abs(o.o_totalprice - m.med_price) AS abs_dev, m.med_price
      FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority
    ),
    mad AS (
      SELECT o_orderpriority,
             CAST(quantile_cont(abs_dev, 0.5) AS DOUBLE) AS mad_price
      FROM dev GROUP BY o_orderpriority
    )
    SELECT d.o_orderkey, d.o_orderpriority, d.o_totalprice,
           ROUND((d.o_totalprice - d.med_price)
                 / (1.4826 * a.mad_price), 4) AS robust_z
    FROM dev d JOIN mad a ON d.o_orderpriority = a.o_orderpriority
    WHERE abs((d.o_totalprice - d.med_price)
              / (1.4826 * a.mad_price)) > 3.5
    """,
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier gate (|robust z| > 3.5, the
    Iglewicz-Hoaglin rule): the robust twin of ``zscore_outliers`` —
    medians and MAD don't move when the outliers themselves get wilder,
    so contaminated batches can't mask their own anomalies (mean/stddev
    gates suffer exactly that masking).

    Two grouped exact medians (PERCENTILE_CONT parity, same as
    percentiles_exact) with the 5-row location/scale tables broadcast
    back between passes; the fact table is scanned twice — the price of
    exact medians, and why the GK-sketch variant
    (percentiles_approx_by_group) is the single-pass 100 TB path once
    calibrated against this exact form. The 1.4826 consistency constant
    and the ratio are written identically in both engines; 4dp rounding.
    """
    from pyspark.sql.functions import broadcast

    o = load_table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med_price")
    )
    dev = o.join(broadcast(med), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.abs(F.col("o_totalprice") - F.col("med_price")).alias("abs_dev"),
        "med_price",
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.percentile("abs_dev", F.lit(0.5)).alias("mad_price")
    )
    z = (F.col("o_totalprice") - F.col("med_price")) / (
        F.lit(1.4826) * F.col("mad_price")
    )
    return (
        dev.join(broadcast(mad), "o_orderpriority")
        .where(F.abs(z) > 3.5)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.round(z, 4).alias("robust_z"),
        )
    )


@register(
    "interevent_gap_stats",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP))
             - lag(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
      FROM events
    )
    SELECT user_id,
           COUNT(gap_us) AS n_gaps,
           ROUND(CAST(quantile_cont(gap_us, 0.5) AS DOUBLE), 1)
             AS median_gap_us,
           ROUND(CAST(quantile_cont(gap_us, 0.9) AS DOUBLE), 1)
             AS p90_gap_us,
           MAX(gap_us) AS max_gap_us
    FROM ordered
    WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
)
def interevent_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event arrival-gap distribution per user (median / p90 / max
    seconds between consecutive events) — the cadence profile that
    calibrates session timeouts (events_sessionize's 30-minute gap) and
    streaming watermarks (a stream dedup's lateness bound) from data
    instead of folklore.

    Gaps are EXACT integer microsecond differences from a lag window
    partitioned by user (unique (ts, event_id) order), so the
    percentile interpolation runs on integers and its value has AT MOST
    ONE fractional decimal digit (interpolation weights are multiples
    of 0.1) — published at 1dp in microseconds, which is tie-free.
    (Publishing seconds = value/1e6 rounded at 6dp hit a genuine
    round-half boundary where Spark's HALF_UP and DuckDB's rounding
    disagree — keep published precision AT the value's intrinsic
    precision, never beyond it.) One window pass + one grouped
    aggregate, both keyed by user.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.round(F.percentile("gap_us", F.lit(0.5)), 1).alias(
            "median_gap_us"
        ),
        F.round(F.percentile("gap_us", F.lit(0.9)), 1).alias("p90_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


@register(
    "order_reconciliation_audit",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             COUNT(*) AS n_lines,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS lines_total
      FROM lineitem GROUP BY l_orderkey
    ),
    joined AS (
      SELECT o.o_orderstatus,
             CAST(o.o_totalprice AS DECIMAL(18,2))
             - CAST(li.lines_total AS DECIMAL(18,2)) AS delta,
             li.n_lines
      FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ABS(delta) > 0.005 AS INT)) AS BIGINT)
             AS n_mismatched,
           ROUND(CAST(SUM(ABS(delta)) AS DOUBLE) / COUNT(*), 4)
             AS mean_abs_delta,
           CAST(MAX(ABS(delta)) AS DOUBLE) AS max_abs_delta
    FROM joined
    GROUP BY o_orderstatus
    """,
)
def order_reconciliation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation audit: does each order's header total
    equal the sum of its line items? Reports, per order status, how many
    orders disagree and by how much — the referential AMOUNT check (the
    FK-closure tests cover referential EXISTENCE) every financial
    pipeline runs between fact tables before publishing either.

    All deltas are exact DECIMAL(18,2) subtraction of exact decimal
    sums — a reconciliation that itself used floats would report its
    own rounding noise as mismatches (the 0.005 tolerance is half a
    cent: anything above it is a real discrepancy, not representation).
    One key-partitioned aggregate + one join + one rollup; at 100 TB
    both sides shuffle once on the same key.
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    o = load_table(spark, sf_dir, "orders")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(dec("l_extendedprice")).cast("double").alias("lines_total"),
        )
    )
    joined = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderstatus",
        (dec("o_totalprice") - dec("lines_total")).alias("delta"),
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum((F.abs(F.col("delta")) > 0.005).cast("int"))
        .cast("long")
        .alias("n_mismatched"),
        F.round(
            F.sum(F.abs(F.col("delta"))).cast("double") / F.count(F.lit(1)), 4
        ).alias("mean_abs_delta"),
        F.max(F.abs(F.col("delta"))).cast("double").alias("max_abs_delta"),
    )


@register(
    "dq_constraint_checks",
    oracle="""
    SELECT 'orders_pk_unique' AS rule,
           count(*) AS n_checked,
           count(*) - count(DISTINCT o_orderkey) AS n_violations,
           count(*) = count(DISTINCT o_orderkey) AS passed
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_fk', count(*),
           count(*) FILTER (c.c_custkey IS NULL),
           count(*) FILTER (c.c_custkey IS NULL) = 0
    FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'orders_totalprice_positive', count(*),
           count(*) FILTER (NOT o_totalprice > 0),
           count(*) FILTER (NOT o_totalprice > 0) = 0
    FROM orders
    UNION ALL
    SELECT 'orders_status_accepted', count(*),
           count(*) FILTER (o_orderstatus NOT IN ('F','O','P')),
           count(*) FILTER (o_orderstatus NOT IN ('F','O','P')) = 0
    FROM orders
    UNION ALL
    SELECT 'lineitem_quantity_range', count(*),
           count(*) FILTER (l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50),
           count(*) FILTER (l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50) = 0
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_orderkey_fk', count(*),
           count(*) FILTER (o.o_orderkey IS NULL),
           count(*) FILTER (o.o_orderkey IS NULL) = 0
    FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON l.l_orderkey = o.o_orderkey
    """,
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (the Deequ/dbt-tests
    role): PK uniqueness, FK coverage, range and accepted-value rules,
    one summary row per rule — computed the Deequ way: ALL rules over a
    table ride ONE scan. Each table's rules aggregate on a single
    FK-enriched relation into one wide row, which `stack` unpivots into
    per-rule rows. The FK side joins against the DISTINCT key relation,
    so the enrichment is row-preserving even when the dim itself carries
    duplicate keys — a DQ suite must survive exactly the dirty input it
    exists to detect (a raw-dim join would double-count every orders
    rule on a duplicated c_custkey). Two fact scans total for six rules
    — the naive one-aggregate-per-rule form scanned orders four times."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    def bad(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    cust_keys = customer.select("c_custkey").distinct()
    o_en = orders.join(
        cust_keys, orders.o_custkey == cust_keys["c_custkey"], "left"
    )
    o_wide = o_en.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("o_orderkey").alias("nd"),
        bad(F.col("c_custkey").isNull()).alias("fk_bad"),
        bad(~(F.col("o_totalprice") > 0)).alias("price_bad"),
        bad(~F.col("o_orderstatus").isin("F", "O", "P")).alias("status_bad"),
    )
    orders_rules = o_wide.selectExpr(
        """stack(4,
           'orders_pk_unique', n, n - nd, (n - nd) = 0,
           'orders_custkey_fk', n, fk_bad, fk_bad = 0,
           'orders_totalprice_positive', n, price_bad, price_bad = 0,
           'orders_status_accepted', n, status_bad, status_bad = 0
        ) AS (rule, n_checked, n_violations, passed)"""
    )
    order_keys = orders.select("o_orderkey").distinct()
    l_en = li.join(
        order_keys,
        li.l_orderkey == order_keys["o_orderkey"],
        "left",
    )
    l_wide = l_en.agg(
        F.count(F.lit(1)).alias("n"),
        bad(
            F.col("l_quantity").isNull()
            | (F.col("l_quantity") < 1)
            | (F.col("l_quantity") > 50)
        ).alias("qty_bad"),
        bad(F.col("o_orderkey").isNull()).alias("fk_bad"),
    )
    li_rules = l_wide.selectExpr(
        """stack(2,
           'lineitem_quantity_range', n, qty_bad, qty_bad = 0,
           'lineitem_orderkey_fk', n, fk_bad, fk_bad = 0
        ) AS (rule, n_checked, n_violations, passed)"""
    )
    return orders_rules.unionByName(li_rules)


_PSI_SPLIT = "'1998-01-01'"
_PSI_BIN_SQL = " + ".join(
    f"(CASE WHEN o_totalprice > b[{i}] THEN 1 ELSE 0 END)" for i in range(1, 10)
)


@register(
    "orders_psi_decile_drift",
    oracle=f"""
    WITH ref AS (SELECT o_totalprice FROM orders
                 WHERE o_orderdate < {_PSI_SPLIT}),
    bounds AS (
      SELECT list_transform(
               quantile_cont(o_totalprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
               x -> round(CAST(x AS DOUBLE), 4)) AS b
      FROM ref
    ),
    binned AS (
      SELECT CASE WHEN o_orderdate < {_PSI_SPLIT} THEN 'ref' ELSE 'cur' END AS period,
             CAST(1 + {_PSI_BIN_SQL} AS INT) AS bin
      FROM orders, bounds
    ),
    counts AS (
      SELECT bin,
             count(*) FILTER (period = 'ref') AS n_ref,
             count(*) FILTER (period = 'cur') AS n_cur
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM counts)
    SELECT bin,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           round((n_ref + 1) * 1.0 / (t_ref + 10), 6) AS p_ref,
           round((n_cur + 1) * 1.0 / (t_cur + 10), 6) AS p_cur,
           round(((n_cur + 1) * 1.0 / (t_cur + 10) - (n_ref + 1) * 1.0 / (t_ref + 10))
                 * ln(((n_cur + 1) * 1.0 / (t_cur + 10))
                      / ((n_ref + 1) * 1.0 / (t_ref + 10))), 6) AS psi_term
    FROM counts, tot
    """,
)
def orders_psi_decile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: order-value distribution
    before vs after a cutover date, binned by the REFERENCE period's
    deciles (the standard PSI construction — bins carry equal reference
    mass, so drift shows as mass imbalance, with Σ psi_term the headline
    score: <0.1 stable, >0.25 action). Laplace-smoothed shares keep
    empty bins finite and deterministic.

    Scale shape: one percentile aggregation over the reference slice
    (value→count map — bounded for 2dp money, see percentiles_exact),
    the bounds broadcast as a single row, binning is a per-row 9-term
    ladder, and the count rollup is 10 cells. Decile bounds are rounded
    to 4dp on BOTH sides before comparison so engine ulp differences in
    interpolation cannot flip a bin membership."""
    orders = load_table(spark, sf_dir, "orders")
    split = F.lit("1998-01-01").cast("timestamp")
    ref = orders.filter(F.col("o_orderdate") < split)
    bounds = ref.agg(
        F.transform(
            F.percentile(
                "o_totalprice",
                F.array(*[F.lit(i / 10.0) for i in range(1, 10)]),
            ),
            lambda x: F.round(x.cast("double"), 4),
        ).alias("b")
    )
    bin_col = F.lit(1)
    for i in range(9):
        bin_col = bin_col + (F.col("o_totalprice") > F.col("b")[i]).cast("int")
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("o_orderdate") < split, "ref").otherwise("cur").alias(
            "period"
        ),
        bin_col.cast("int").alias("bin"),
    )
    # localCheckpoint the 10-cell counts: `tot` re-derives from it, and
    # without the cut Spark re-executes the whole binning subtree (a
    # second full orders scan at 100 TB) to produce the totals row.
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)).alias("n_cur"),
    ).localCheckpoint()
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_ref = (F.col("n_ref") + 1) * F.lit(1.0) / (F.col("t_ref") + 10)
    p_cur = (F.col("n_cur") + 1) * F.lit(1.0) / (F.col("t_cur") + 10)
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


# Poisson(1) inverse-CDF ladder, cumulative probabilities to k=8 (beyond:
# P < 5e-6, bucketed to 9). Constants written identically in both engines
# so the per-row draw is deterministic cross-engine.
_POIS_CDF = (
    "0.3678794411714423", "0.7357588823428846", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
    "0.9999167588507119", "0.9999897508033253", "0.9999988747974137",
)
_BOOT_REPS = 32

# --- Cross-engine uniform draw: Spark Murmur3_x86_32 replayed in SQL ---
# The r1-r4 draw hashed 'bs#rep#okey' with md5 — cross-engine, but
# Spark-side md5 alone measures 2.8 s over the sf0.1 4.8 M-row fan-out
# (the digest, not the 9-branch ladder: a Generate-barrier forcing one
# digest/row changed nothing) and `conv` adds another ~1.2 s. Spark's
# `hash()` (Murmur3_x86_32) is a codegen'd JVM intrinsic (~0.3 s), and
# unlike xxhash64 its 32-bit wrapping arithmetic is exactly expressible
# in DuckDB BIGINT/HUGEINT (products < 2^64 need no limb splitting), so
# the oracle can replay it bit-for-bit: the columns below reproduce
# Spark's chain hashInt(rep, seed=42) -> hashLong(okey, seed=h) as
# lateral-alias steps, validated against F.hash on 5000 random pairs.
_M32 = 4294967296


def _sql_mul32(x: str, c: int) -> str:
    return f"CAST(CAST({x} AS HUGEINT) * {c} % {_M32} AS BIGINT)"


def _sql_rotl32(x: str, r: int) -> str:
    return f"(({x}) * {1 << r} % {_M32} + ({x}) // {1 << (32 - r)})"


def _sql_murmur_round(name: str, seed: str, val: str) -> list[str]:
    # mixK1(val); h = mixH1(seed, k1)  [Murmur3_x86_32]
    return [
        f"{_sql_mul32(val, 0xCC9E2D51)} AS {name}_a",
        f"{_sql_rotl32(name + '_a', 15)} % {_M32} AS {name}_b",
        f"{_sql_mul32(name + '_b', 0x1B873593)} AS {name}_k",
        f"{_sql_rotl32(f'xor({seed}, {name}_k)', 13)} % {_M32} AS {name}_c",
        f"({name}_c * 5 + {0xE6546B64}) % {_M32} AS {name}_h",
    ]


def _sql_murmur_fmix(name: str, h: str, length: int) -> list[str]:
    return [
        f"xor({h}, {length}) AS {name}_f0",
        f"xor({name}_f0, {name}_f0 // 65536) AS {name}_f1",
        f"{_sql_mul32(name + '_f1', 0x85EBCA6B)} AS {name}_f2",
        f"xor({name}_f2, {name}_f2 // 8192) AS {name}_f3",
        f"{_sql_mul32(name + '_f3', 0xC2B2AE35)} AS {name}_f4",
        f"xor({name}_f4, {name}_f4 // 65536) AS {name}_h",
    ]


def _sql_spark_hash_cols() -> list[str]:
    """Step columns computing Spark ``hash(rep INT, o_orderkey BIGINT)``
    (seed 42) as unsigned 32-bit ``m2_h``; both inputs non-negative."""
    cols = [f"rep % {_M32} AS s0_v"]
    cols += _sql_murmur_round("s1", "42", "s0_v")
    cols += _sql_murmur_fmix("m1", "s1_h", 4)
    cols += [
        f"o_orderkey % {_M32} AS s2_v",
        f"o_orderkey // {_M32} % {_M32} AS s3_v",
    ]
    cols += _sql_murmur_round("s4", "m1_h", "s2_v")
    cols += _sql_murmur_round("s5", "s4_h", "s3_v")
    cols += _sql_murmur_fmix("m2", "s5_h", 8)
    return cols


_SQL_BOOT_K = (
    "CASE "
    + " ".join(f"WHEN u < {c} THEN {k}" for k, c in enumerate(_POIS_CDF))
    + " ELSE 9 END"
)


@register(
    "bootstrap_ci_order_value",
    oracle=f"""
    WITH reps AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice, g.rep
      FROM orders, unnest(generate_series(0, {_BOOT_REPS - 1})) AS g(rep)
    ),
    uni AS (
      SELECT o_orderpriority, rep, o_totalprice,
             m2_h * 1.0 / {_M32} AS u
      FROM (SELECT o_orderpriority, o_totalprice, rep,
                   {", ".join(_sql_spark_hash_cols())}
            FROM reps)
    ),
    drawn AS (
      SELECT o_orderpriority, rep, o_totalprice,
             {_SQL_BOOT_K} AS k
      FROM uni
    ),
    rep_means AS (
      SELECT o_orderpriority, rep,
             CAST(SUM(k * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / SUM(k) AS m
      FROM drawn GROUP BY o_orderpriority, rep
    ),
    point AS (
      SELECT o_orderpriority,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS point_mean,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderpriority
    )
    SELECT p.o_orderpriority,
           CAST(p.n_orders AS BIGINT) AS n_orders,
           round(p.point_mean, 4) AS point_mean,
           round(quantile_cont(r.m, 0.025), 4) AS ci_lo,
           round(quantile_cont(r.m, 0.975), 4) AS ci_hi
    FROM rep_means r JOIN point p USING (o_orderpriority)
    GROUP BY p.o_orderpriority, p.point_mean, p.n_orders
    """,
)
def bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for mean order value per
    priority — THE scalable bootstrap: instead of resampling n rows with
    replacement (which needs global coordination), each row draws a
    Poisson(1) replicate weight, which converges to multinomial
    resampling for large n (Chamandy et al., 'Estimating Uncertainty for
    Massive Data Streams', Google 2012). One pass over the fan-out of
    rows × 32 replicates; every draw is a hash-seeded inverse-CDF lookup
    (Murmur3 uniform → CASE ladder), so the whole procedure is
    DETERMINISTIC and exactly replayed by the DuckDB oracle — a seeded
    `rand()` would be engine-private. Replicate means use the exact-
    decimal-sum / weight-count discipline; the CI is the 2.5/97.5
    percentile over the 32 replicate means (a 5 × 32-row relation)."""
    orders = load_table(spark, sf_dir, "orders")
    reps = orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    ).withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPS - 1))))
    # Uniform draw = Spark's built-in hash() (Murmur3_x86_32, codegen'd
    # JVM intrinsic) reinterpreted unsigned — the r1-r4 md5+conv form
    # cost 5.4 s at sf0.1 with Spark's md5 alone a measured 2.8 s floor;
    # this runs the identical query in ~1.5 s. Cross-engine determinism
    # is preserved because the oracle replays Murmur3 exactly (see
    # _sql_spark_hash_cols above). rep is INT and o_orderkey BIGINT by
    # construction — the hash chain is type-sensitive.
    u = (
        F.pmod(F.hash(F.col("rep"), F.col("o_orderkey")).cast("long"), F.lit(_M32))
        * F.lit(1.0)
        / F.lit(float(_M32))
    )
    # Inverse-CDF ladder stays a codegen when-ladder: the array-HOF form
    # `size(filter(cdf, c -> u >= c))` drops the scan out of codegen
    # (measured 57 s in r3); a localCheckpoint barrier materializing u
    # first cost 8.4 s. Branches on a cheap hash are the winning shape.
    k = None
    for kk, c in enumerate(_POIS_CDF):
        cond = u < float(c)
        k = F.when(cond, kk) if k is None else k.when(cond, kk)
    k = k.otherwise(9)
    rep_means = (
        reps.withColumn("k", k)
        .groupBy("o_orderpriority", "rep")
        .agg(
            (
                F.sum(F.col("k") * F.col("price")).cast("double")
                / F.sum("k")
            ).alias("m")
        )
    )
    point = orders.groupBy("o_orderpriority").agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("point_mean"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    ci = rep_means.groupBy("o_orderpriority").agg(
        F.round(F.percentile("m", F.lit(0.025)), 4).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.975)), 4).alias("ci_hi"),
    )
    return ci.join(point, "o_orderpriority").select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round("point_mean", 4).alias("point_mean"),
        "ci_lo",
        "ci_hi",
    )


@register(
    "parquet_layout_audit",
    oracle=None,  # the filename pseudo-column needs the parquet PATH,
    # and oracle strings run against pre-registered VIEWS — the DuckDB
    # twin (read_parquet(..., filename=true)) is value-diffed with a
    # path-matched comparison in tests/test_operators.py instead
)
def parquet_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout audit of the orders table: rows and key range per
    underlying Parquet file. The ops check behind every 100 TB triage:
    a table of many tiny files murders scan parallelism setup (and the
    driver's split planning); a single giant file serializes the scan
    (the round-4 q1 probe: one 600k-row row group pinned every lineitem
    query to one core). Key ranges reveal whether files are
    range-clustered (disjoint min/max ⇒ predicate file-pruning works,
    as after a range-partitioned sorted write) or salt-and-pepper.
    Metadata-scale output: one row per file."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias(
                "file_name"
            ),
            "o_orderkey",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


@register(
    "layout_audit_certificate",
    # Certificate twin of parquet_layout_audit (rows-only above: file
    # NAMES are path-dependent and oracle strings run on views). The
    # path-INDEPENDENT invariants are oracle-gradable: per-file rows sum
    # to the exact table count, the union of per-file key ranges spans
    # exactly the table's [min, max], per-file ranges are internally
    # sane (min ≤ max), and at least one file exists. A broken
    # input_file_name/grouping path (double-counted rows, dropped files)
    # flips a value or boolean.
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS total_rows,
           min(o_orderkey) AS table_min_key,
           max(o_orderkey) AS table_max_key,
           TRUE AS file_rows_sum_to_total,
           TRUE AS file_ranges_span_table,
           TRUE AS file_ranges_sane,
           TRUE AS has_files
    FROM orders
    """,
)
def layout_audit_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-independent invariants of the physical-layout audit (see
    oracle comment) — one aggregate over the per-file audit relation
    cross-checked against exact table-level values."""
    audit = parquet_layout_audit(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    table = orders.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.min("o_orderkey").alias("table_min_key"),
        F.max("o_orderkey").alias("table_max_key"),
    )
    per_file = audit.agg(
        F.sum("n_rows").alias("sum_rows"),
        F.min("min_key").alias("files_min"),
        F.max("max_key").alias("files_max"),
        F.count(F.lit(1)).alias("n_files"),
        F.sum((F.col("min_key") <= F.col("max_key")).cast("int")).alias(
            "n_sane"
        ),
    )
    return table.crossJoin(F.broadcast(per_file)).select(  # 1-row × 1-row
        "total_rows",
        "table_min_key",
        "table_max_key",
        (F.col("sum_rows") == F.col("total_rows")).alias(
            "file_rows_sum_to_total"
        ),
        (
            (F.col("files_min") == F.col("table_min_key"))
            & (F.col("files_max") == F.col("table_max_key"))
        ).alias("file_ranges_span_table"),
        (F.col("n_sane") == F.col("n_files")).alias("file_ranges_sane"),
        (F.col("n_files") >= 1).alias("has_files"),
    )


@register(
    "trimmed_order_value_stats",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority AS prio,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM orders
    ),
    hist AS (
      SELECT prio, c, COUNT(*) AS cnt FROM cents GROUP BY 1, 2
    ),
    cum AS (
      SELECT prio, c, cnt,
             SUM(cnt) OVER (PARTITION BY prio ORDER BY c
                            ROWS UNBOUNDED PRECEDING) AS c_hi,
             SUM(cnt) OVER (PARTITION BY prio) AS n_total
      FROM hist
    ),
    bands AS (
      SELECT prio, c, cnt, c_hi, c_hi - cnt AS c_lo, n_total,
             n_total // 20 AS k
      FROM cum
    ),
    ret AS (
      SELECT prio, n_total, k,
             GREATEST(0, LEAST(c_hi, n_total - k) - GREATEST(c_lo, k)) AS r,
             c
      FROM bands
    )
    SELECT prio AS o_orderpriority,
           CAST(ANY_VALUE(n_total) AS BIGINT) AS n_orders,
           CAST(ANY_VALUE(k) AS BIGINT) AS n_trim_each_side,
           round(CAST(SUM(c * r) AS DOUBLE)
                 / (100e0 * (ANY_VALUE(n_total) - 2 * ANY_VALUE(k))), 6)
             AS trimmed_mean,
           round((CAST(SUM(c * r) AS DOUBLE)
                  + CAST(ANY_VALUE(k) * (MIN(CASE WHEN r > 0 THEN c END)
                                         + MAX(CASE WHEN r > 0 THEN c END))
                         AS DOUBLE))
                 / (100e0 * ANY_VALUE(n_total)), 6) AS winsorized_mean,
           CAST(MIN(CASE WHEN r > 0 THEN c END) AS DOUBLE) / 100e0 AS low_cut,
           CAST(MAX(CASE WHEN r > 0 THEN c END) AS DOUBLE) / 100e0 AS high_cut
    FROM ret GROUP BY prio
    """,
)
def trimmed_order_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed and winsorized mean of order value per priority, via an
    exact value histogram — the scale-safe form of rank-based trimming.

    Companion to winsorized_price_stats (plans/analytics.py), which clips
    at interpolated P5/P95 values: this query is the RANK-exact variant —
    it drops/clamps exactly floor(n/20) rows per side (the textbook
    trimmed-mean definition, tie-handling included), which
    percentile-interpolation cannot reproduce, and adds the trimmed mean
    alongside the winsorized one.

    Rank-trimming naively needs a per-group sort of the fact table. This
    plan instead aggregates to (priority, value-in-cents, count) — the
    value DOMAIN saturates long before the fact grows (prices are bounded
    2dp decimals), so the cumulative-count window runs over histogram
    rows, not fact rows. Boundary values get fractional retention
    (min(c_hi, n-k) - max(c_lo, k)), reproducing exact row-rank trimming
    including duplicate-value ties; winsorization re-adds k copies of each
    retained-band edge. Everything is int64 cents arithmetic until the two
    final divisions (6dp).

    Scale notes: one fact-touching hash agg; the window partitions by
    priority over domain-bounded rows; no fact-scale sort, no skewed
    single reducer.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    hist = cents.groupBy("prio", "c").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("prio")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("prio")
    bands = (
        hist.withColumn("c_hi", F.sum("cnt").over(w_cum))
        .withColumn("n_total", F.sum("cnt").over(w_all))
        .withColumn("c_lo", F.col("c_hi") - F.col("cnt"))
        .withColumn("k", F.expr("n_total div 20"))
    )
    r = F.greatest(
        F.lit(0),
        F.least(F.col("c_hi"), F.col("n_total") - F.col("k"))
        - F.greatest(F.col("c_lo"), F.col("k")),
    )
    ret = bands.withColumn("r", r)
    edge_min = F.min(F.when(F.col("r") > 0, F.col("c")))
    edge_max = F.max(F.when(F.col("r") > 0, F.col("c")))
    n_total = F.any_value(F.col("n_total"))
    k_val = F.any_value(F.col("k"))
    tsum = F.sum(F.col("c") * F.col("r")).cast("double")
    return ret.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        n_total.alias("n_orders"),
        k_val.alias("n_trim_each_side"),
        F.round(tsum / (F.lit(100.0) * (n_total - 2 * k_val)), 6).alias(
            "trimmed_mean"
        ),
        F.round(
            (tsum + (k_val * (edge_min + edge_max)).cast("double"))
            / (F.lit(100.0) * n_total),
            6,
        ).alias("winsorized_mean"),
        (edge_min.cast("double") / 100.0).alias("low_cut"),
        (edge_max.cast("double") / 100.0).alias("high_cut"),
    )


_PURGE_CUTOFF = "1999-01-01"


@register(
    "deletion_impact_audit",
    oracle=f"""
    WITH active AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '{_PURGE_CUTOFF}'
    ),
    purge AS (
      SELECT c.c_custkey, n.n_name
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE NOT EXISTS (
        SELECT 1 FROM active a WHERE a.o_custkey = c.c_custkey
      )
    ),
    cascade AS (
      SELECT p.n_name, p.c_custkey, o.o_orderkey, l.l_orderkey AS li_row
      FROM purge p
      LEFT JOIN orders o ON o.o_custkey = p.c_custkey
      LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT n_name,
           COUNT(DISTINCT c_custkey) AS n_customers,
           COUNT(DISTINCT o_orderkey) AS n_orders,
           COUNT(li_row) AS n_lineitems
    FROM cascade GROUP BY n_name
    """,
)
def deletion_impact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact preflight: customers inactive since the
    cutoff (no order on/after _PURGE_CUTOFF) and, per nation, how many
    rows a cascade delete would touch in each downstream table — the
    audit every retention/GDPR purge job runs BEFORE deleting anything.

    Plan shape: the active set is one distinct projection of the fact;
    the purge set is a broadcast-able anti join against it. The cascade
    counts run as a STAGED hash-agg pyramid (lineitems per order →
    orders+lineitems per customer → totals per nation) instead of
    count-distinct over the fanned-out join — two countDistincts in one
    aggregate would plan an Expand that triples every cascade row
    through the shuffle; the staged form moves each row through exactly
    one aggregation. Zero-order customers stay counted via the left
    joins (null-sum coalesced to 0).
    """
    orders = load_table(spark, sf_dir, "orders")
    active = (
        orders.filter(
            F.col("o_orderdate") >= F.lit(_PURGE_CUTOFF).cast("timestamp")
        )
        .select("o_custkey")
        .distinct()
    )
    purge = (
        load_table(spark, sf_dir, "customer")
        .join(
            active,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    li_per_order = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("li_cnt"))
    )
    per_cust = (
        purge.join(
            orders.select("o_custkey", "o_orderkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .join(
            li_per_order,
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .groupBy("c_custkey", "n_name")
        .agg(
            F.count("o_orderkey").alias("cust_orders"),
            F.coalesce(F.sum("li_cnt"), F.lit(0)).alias("cust_lineitems"),
        )
    )
    return per_cust.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cust_orders").cast("bigint").alias("n_orders"),
        F.sum("cust_lineitems").cast("bigint").alias("n_lineitems"),
    )


@register(
    "ab_welch_ttest_segments",
    oracle="""
    WITH m AS (
      SELECT c.c_mktsegment AS seg,
             COUNT(*) AS n,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))
                      * CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    )
    SELECT a.seg AS seg_a, b.seg AS seg_b,
           a.n AS n_a, b.n AS n_b,
           ROUND(a.s1 / a.n, 6) AS mean_a,
           ROUND(b.s1 / b.n, 6) AS mean_b,
           ROUND((a.s1 / a.n - b.s1 / b.n)
                 / sqrt((a.s2 - a.s1 * a.s1 / a.n) / (a.n - 1) / a.n
                        + (b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1) / b.n),
                 6) AS t_stat,
           ROUND(((a.s2 - a.s1 * a.s1 / a.n) / (a.n - 1) / a.n
                  + (b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1) / b.n)
                 * ((a.s2 - a.s1 * a.s1 / a.n) / (a.n - 1) / a.n
                    + (b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1) / b.n)
                 / (((a.s2 - a.s1 * a.s1 / a.n) / (a.n - 1) / a.n)
                    * ((a.s2 - a.s1 * a.s1 / a.n) / (a.n - 1) / a.n)
                    / (a.n - 1)
                    + ((b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1) / b.n)
                      * ((b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1) / b.n)
                      / (b.n - 1)),
                 6) AS welch_df
    FROM m a JOIN m b ON a.seg < b.seg
    """,
)
def ab_welch_ttest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Welch's unequal-variance t-test on order value across the
    five market segments — the A/B significance readout an
    experimentation platform computes (does segment A spend differently
    from segment B?), emitted as t statistic + Welch-Satterthwaite
    degrees of freedom for every segment pair.

    Determinism discipline (zscore_outliers precedent): per-segment
    moments are EXACT decimal sums published to double once; every
    subsequent double op (sample variance, standard error, t, the
    Welch-Satterthwaite df ratio) is written with identical
    parenthesization in both engines, so the 6dp-rounded statistics match
    bit-for-bit. Plan shape: one broadcast fact⋈dim join + one hash
    aggregation to a 5-row moment table; the pairwise self-join is 10
    rows — a 100 TB orders table is a single map-side-combined pass, and
    the test itself never touches the fact table again.
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    m = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("s1"),
            F.sum(dec("o_totalprice") * dec("o_totalprice"))
            .cast("double")
            .alias("s2"),
        )
    )
    a, b = m.alias("a"), m.alias("b")

    def _vn(side: str):
        s1, s2, n = (F.col(f"{side}.s1"), F.col(f"{side}.s2"), F.col(f"{side}.n"))
        # sample variance / n — per-side standard-error contribution,
        # mirrored operator-for-operator in the oracle SQL
        return (s2 - s1 * s1 / n) / (n - 1) / n

    vna, vnb = _vn("a"), _vn("b")
    se2 = vna + vnb
    t = (F.col("a.s1") / F.col("a.n") - F.col("b.s1") / F.col("b.n")) / F.sqrt(se2)
    welch_df = (se2 * se2) / (
        vna * vna / (F.col("a.n") - 1) + vnb * vnb / (F.col("b.n") - 1)
    )
    return (
        # broadcast the (5-row) right side: the non-equi pair join must
        # plan BroadcastNestedLoopJoin, never CartesianProduct
        a.join(F.broadcast(b), F.col("a.seg") < F.col("b.seg"))
        .select(
            F.col("a.seg").alias("seg_a"),
            F.col("b.seg").alias("seg_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.round(F.col("a.s1") / F.col("a.n"), 6).alias("mean_a"),
            F.round(F.col("b.s1") / F.col("b.n"), 6).alias("mean_b"),
            F.round(t, 6).alias("t_stat"),
            F.round(welch_df, 6).alias("welch_df"),
        )
    )


def _mk_sql_poly() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_poly

    return _sql_poly("h")


@register(
    "markov_next_event_backtest",
    oracle=f"""
    WITH hb AS (
      SELECT user_id, md5('mk1#' || CAST(user_id AS VARCHAR)) AS h
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    split AS (
      SELECT user_id, ({_mk_sql_poly()}) % 5 AS bucket FROM hb
    ),
    tr AS (
      SELECT e.user_id, s.bucket, e.event_type AS from_type,
             LEAD(e.event_type) OVER (
               PARTITION BY e.user_id
               ORDER BY CAST(e.ts AS TIMESTAMP), e.event_id
             ) AS to_type
      FROM events e JOIN split s ON e.user_id = s.user_id
    ),
    train AS (
      SELECT from_type, to_type, COUNT(*) AS cnt
      FROM tr WHERE to_type IS NOT NULL AND bucket < 4
      GROUP BY from_type, to_type
    ),
    pred AS (
      SELECT from_type, to_type AS predicted_next
      FROM (SELECT *, row_number() OVER (
              PARTITION BY from_type ORDER BY cnt DESC, to_type
            ) AS rk FROM train)
      WHERE rk = 1
    )
    SELECT tr.from_type,
           p.predicted_next,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN tr.to_type = p.predicted_next
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           round(SUM(CASE WHEN tr.to_type = p.predicted_next
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS accuracy
    FROM tr JOIN pred p ON tr.from_type = p.from_type
    WHERE tr.to_type IS NOT NULL AND tr.bucket = 4
    GROUP BY tr.from_type, p.predicted_next
    """,
)
def markov_next_event_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out top-1 accuracy of the first-order Markov next-event
    model: users hash-split 80/20 (the portable md5-poly split of
    hash_split_train_test — no leakage: every user's whole chain lands
    on one side), the argmax transition target is fit on train users
    (ties broken lexicographically — deterministic), and each eval-user
    transition scores correct iff its actual next event matches. The
    model-evaluation loop behind event_transition_matrix: the matrix is
    the feature, this is its measured predictive value.

    Scale shape: the LEAD window partitions by user_id (the
    sessionization key); the model is |types|x|types| rows, so both the
    argmax window and the scoring join run on/against a broadcast-size
    relation; accuracies are integer-count ratios (one division, 6dp).
    """
    from ecommerce_data_pipeline_spark.plans.sketches import (
        _digest,
        _poly_from_hex,
    )

    e = load_table(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    split = users.select(
        "user_id",
        (_poly_from_hex(_digest(F.col("user_id"), "mk1#")) % 5).alias(
            "bucket"
        ),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e.join(split, "user_id")
        .select(
            "bucket",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        # feeds both the train aggregation and the eval scoring — one
        # window pass, cached at its reduced (bucket, from, to) shape
        .persist()
    )
    train = (
        tr.where(F.col("bucket") < 4)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rk = Window.partitionBy("from_type").orderBy(
        F.desc("cnt"), F.asc("to_type")
    )
    pred = (
        train.select(
            "from_type",
            F.col("to_type").alias("predicted_next"),
            F.row_number().over(rk).alias("rk"),
        )
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    correct = F.when(
        F.col("to_type") == F.col("predicted_next"), 1
    ).otherwise(0)
    return (
        tr.where(F.col("bucket") == 4)
        .join(F.broadcast(pred), "from_type")
        .groupBy("from_type", "predicted_next")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(correct).cast("long").alias("n_correct"),
            F.round(F.sum(correct) * 1.0 / F.count(F.lit(1)), 6).alias(
                "accuracy"
            ),
        )
    )


@register(
    "woe_information_value",
    oracle="""
    WITH j AS (
      SELECT c_mktsegment AS segment,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS bad
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    seg AS (
      SELECT segment,
             CAST(SUM(1 - bad) AS BIGINT) AS n_good,
             CAST(SUM(bad) AS BIGINT) AS n_bad
      FROM j GROUP BY segment
    ),
    tot AS (
      SELECT SUM(n_good) AS g, SUM(n_bad) AS b, COUNT(*) AS k FROM seg
    ),
    d AS (
      SELECT seg.segment, seg.n_good, seg.n_bad,
             (seg.n_good + CAST(0.5 AS DOUBLE))
               / (tot.g + CAST(0.5 AS DOUBLE) * tot.k) AS dg,
             (seg.n_bad + CAST(0.5 AS DOUBLE))
               / (tot.b + CAST(0.5 AS DOUBLE) * tot.k) AS db
      FROM seg CROSS JOIN tot
    )
    SELECT segment, n_good, n_bad,
           ROUND(ln(dg / db), 6) AS woe,
           ROUND((dg - db) * ln(dg / db), 6) AS iv_contrib
    FROM d
    """,
)
def woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding + information value of a categorical
    feature against a binary target (urgent/high order priority as the
    'bad' event) — the credit-risk-standard feature screen that
    target_mean_encoding's regression twin doesn't cover: WOE is the
    log-odds ratio of a bucket vs the population, IV = sum over buckets
    of (P(good|bucket) - P(bad|bucket)) * WOE, with Laplace 0.5
    smoothing so empty cells stay finite.

    Exactness: all class counts are BIGINT; the smoothing constant is
    CAST AS DOUBLE in the oracle so both engines run the identical
    double chain (the DECIMAL-literal pitfall found in the
    Stupid-Backoff review); two divisions + one ln per bucket, rounded
    6dp. Scale: one fact-table hash aggregate, then bucket-count-sized
    arithmetic.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    bad = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    seg = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .select(F.col("c_mktsegment").alias("segment"), bad.alias("bad"))
        .groupBy("segment")
        .agg(
            F.sum(1 - F.col("bad")).cast("long").alias("n_good"),
            F.sum("bad").cast("long").alias("n_bad"),
        )
    )
    tot = seg.agg(
        F.sum("n_good").alias("g"),
        F.sum("n_bad").alias("b"),
        F.count(F.lit(1)).alias("k"),
    )
    dg = (F.col("n_good") + F.lit(0.5)) / (F.col("g") + F.lit(0.5) * F.col("k"))
    db = (F.col("n_bad") + F.lit(0.5)) / (F.col("b") + F.lit(0.5) * F.col("k"))
    return seg.crossJoin(F.broadcast(tot)).select(
        "segment",
        "n_good",
        "n_bad",
        F.round(F.log(dg / db), 6).alias("woe"),
        F.round((dg - db) * F.log(dg / db), 6).alias("iv_contrib"),
    )


_DID_SALT = "did1#"
_DID_CUTOVER = "1995-06-17"


def _sql_did_bucket() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_hash60

    return f"(({_sql_hash60('o_custkey', _DID_SALT)}) % 100)"


@register(
    "did_revenue_estimate",
    oracle=f"""
    WITH j AS (
      SELECT c_mktsegment AS segment,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             CASE WHEN ({_sql_did_bucket()}) < 50 THEN 1 ELSE 0 END AS treat,
             CASE WHEN o_orderdate >= TIMESTAMP '{_DID_CUTOVER}'
                  THEN 1 ELSE 0 END AS post
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    cells AS (
      SELECT segment,
             CAST(SUM(CASE WHEN treat = 1 AND post = 0 THEN price END)
                  AS DOUBLE)
               / SUM(CASE WHEN treat = 1 AND post = 0 THEN 1 END) AS m_t_pre,
             CAST(SUM(CASE WHEN treat = 1 AND post = 1 THEN price END)
                  AS DOUBLE)
               / SUM(CASE WHEN treat = 1 AND post = 1 THEN 1 END) AS m_t_post,
             CAST(SUM(CASE WHEN treat = 0 AND post = 0 THEN price END)
                  AS DOUBLE)
               / SUM(CASE WHEN treat = 0 AND post = 0 THEN 1 END) AS m_c_pre,
             CAST(SUM(CASE WHEN treat = 0 AND post = 1 THEN price END)
                  AS DOUBLE)
               / SUM(CASE WHEN treat = 0 AND post = 1 THEN 1 END) AS m_c_post
      FROM j GROUP BY segment
    )
    SELECT segment,
           ROUND(m_t_pre, 4) AS treat_pre,
           ROUND(m_t_post, 4) AS treat_post,
           ROUND(m_c_pre, 4) AS control_pre,
           ROUND(m_c_post, 4) AS control_post,
           ROUND((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 4) AS did
    FROM cells
    """,
)
def did_revenue_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of a (synthetic) intervention
    on mean order value: customers hash-split into treatment/control
    (portable md5-polynomial, so assignment never changes as data
    grows), pre/post the cutover date, per segment — the 2x2 cell means
    and the DiD estimator (treat_post - treat_pre) - (ctrl_post -
    ctrl_pre). The canonical causal-inference readout for a rollout an
    e-commerce pipeline A/Bs by account; under the hash split the true
    effect is 0, so `did` doubles as a placebo/aa-test statistic.

    Exactness: each cell mean is an exact DECIMAL sum over 2dp prices
    with ONE double division; the DiD combines four such doubles
    deterministically and rounds 4dp. Scale: a single conditional hash
    aggregate over the fact table — no joins beyond the broadcast
    customer dim, no windows.
    """
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        (_hash60(F.col("o_custkey"), _DID_SALT) % 100 < 50)
        .cast("int")
        .alias("treat"),
        (F.col("o_orderdate") >= F.lit(_DID_CUTOVER).cast("timestamp"))
        .cast("int")
        .alias("post"),
    )

    def cell(t: int, p: int):
        cond = (F.col("treat") == t) & (F.col("post") == p)
        return F.sum(F.when(cond, F.col("price"))).cast("double") / F.sum(
            F.when(cond, 1)
        )

    cells = j.groupBy("segment").agg(
        cell(1, 0).alias("m_t_pre"),
        cell(1, 1).alias("m_t_post"),
        cell(0, 0).alias("m_c_pre"),
        cell(0, 1).alias("m_c_post"),
    )
    return cells.select(
        "segment",
        F.round("m_t_pre", 4).alias("treat_pre"),
        F.round("m_t_post", 4).alias("treat_post"),
        F.round("m_c_pre", 4).alias("control_pre"),
        F.round("m_c_post", 4).alias("control_post"),
        F.round(
            (F.col("m_t_post") - F.col("m_t_pre"))
            - (F.col("m_c_post") - F.col("m_c_pre")),
            4,
        ).alias("did"),
    )


# ONE home for the two-segment distribution-comparison scaffold shared
# by wasserstein_price_drift, ks_test_price, and mannwhitney_u_test:
# the segment pair, the SQL CTE building the per-value (a_cnt, b_cnt)
# histogram of integer-cents order values, and its Spark twin.
_W1_SEG_A = "BUILDING"
_W1_SEG_B = "MACHINERY"

_SQL_TWO_SEG_HIST = f"""j AS (
      SELECT c_mktsegment AS segment,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('{_W1_SEG_A}', '{_W1_SEG_B}')
    ),
    hist AS (
      SELECT v,
             SUM(CASE WHEN segment = '{_W1_SEG_A}' THEN 1 ELSE 0 END) AS a_cnt,
             SUM(CASE WHEN segment = '{_W1_SEG_B}' THEN 1 ELSE 0 END) AS b_cnt
      FROM j GROUP BY v
    )"""


def _two_segment_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v, a_cnt, b_cnt) distinct-value histogram of the two segments'
    integer-cents order values — the Spark twin of _SQL_TWO_SEG_HIST."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(
            customer.select("c_custkey", "c_mktsegment").filter(
                F.col("c_mktsegment").isin(_W1_SEG_A, _W1_SEG_B)
            )
        ),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (dec("o_totalprice") * 100).cast("long").alias("v"),
    )
    return j.groupBy("v").agg(
        F.sum(F.when(F.col("segment") == _W1_SEG_A, 1).otherwise(0)).alias(
            "a_cnt"
        ),
        F.sum(F.when(F.col("segment") == _W1_SEG_B, 1).otherwise(0)).alias(
            "b_cnt"
        ),
    )


@register(
    "wasserstein_price_drift",
    oracle=f"""
    WITH {_SQL_TWO_SEG_HIST},
    tot AS (SELECT SUM(a_cnt) AS na, SUM(b_cnt) AS nb,
                   COUNT(*) AS n_values
            FROM hist),
    cum AS (
      SELECT v,
             SUM(a_cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(b_cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
             LEAD(v) OVER (ORDER BY v) - v AS gap
      FROM hist
    )
    SELECT CAST(tot.na AS BIGINT) AS n_a,
           CAST(tot.nb AS BIGINT) AS n_b,
           CAST(tot.n_values AS BIGINT) AS n_values,
           ROUND(CAST(SUM(ABS(CAST(cum.ca AS HUGEINT) * tot.nb
                              - CAST(cum.cb AS HUGEINT) * tot.na)
                          * cum.gap) AS DOUBLE)
                 / tot.na / tot.nb / 100.0, 6) AS w1_dollars
    FROM cum CROSS JOIN tot
    WHERE cum.gap IS NOT NULL
    GROUP BY tot.na, tot.nb, tot.n_values
    """,
)
def wasserstein_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 1-D Wasserstein (earth-mover) distance between two
    segments' order-value distributions — the drift metric that, unlike
    PSI (orders_psi_decile_drift), is bin-free and metrically grounded:
    W1 = integral |F_A - F_B| over the value axis, here computed on the
    integer-cents domain with NO float accumulation. Each distinct
    value's CDF gap is the cross-multiplied integer
    |ca*nb - cb*na| (exact, denominator deferred), weighted by the gap
    to the next distinct value; one division chain and a 6dp round at
    the very end. Spark's DECIMAL(38,0) and DuckDB's HUGEINT carry the
    products exactly at any realistic scale.

    Scale shape: the fact table reduces to the distinct-VALUE histogram
    first (bounded by the 2dp price domain, not the row count — the
    trimmed_order_value_stats contract), so the single-reducer prefix
    window sees value-domain-many rows; everything corpus-sized is hash
    aggregation.
    """
    hist = _two_segment_hist(spark, sf_dir)
    tot = hist.agg(
        F.sum("a_cnt").alias("na"),
        F.sum("b_cnt").alias("nb"),
        F.count(F.lit(1)).alias("n_values"),
    )
    w_ord = Window.orderBy("v")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select(
        "v",
        F.sum("a_cnt").over(w_run).alias("ca"),
        F.sum("b_cnt").over(w_run).alias("cb"),
        (F.lead("v").over(w_ord) - F.col("v")).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    contrib = (
        F.abs(
            F.col("ca").cast("decimal(38,0)") * F.col("nb")
            - F.col("cb").cast("decimal(38,0)") * F.col("na")
        )
        * F.col("gap")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb", "n_values")
        .agg(
            F.round(
                F.sum(contrib).cast("double")
                / F.col("na")
                / F.col("nb")
                / F.lit(100.0),
                6,
            ).alias("w1_dollars")
        )
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.col("n_values").cast("long").alias("n_values"),
            "w1_dollars",
        )
    )


_ER_MAX_EDIT = 4
_ER_LEN_BAND = 5  # bucket width; edit<=4 implies |len diff|<=4 < width


@register(
    "blocking_quality_certificate",
    oracle=f"""
    WITH names AS (
      SELECT p_name,
             regexp_extract(p_name, '(\\S+)$', 1) AS block,
             CAST(floor(length(p_name) / {_ER_LEN_BAND}) AS BIGINT) AS f
      FROM part GROUP BY p_name
    ),
    n AS (SELECT COUNT(*) AS n_names FROM names),
    truth AS (
      SELECT COUNT(*) AS n_true
      FROM (
        SELECT DISTINCT a.p_name AS na, b.p_name AS nb
        FROM (SELECT p_name, unnest([f - 1, f, f + 1]) AS fb FROM names) a
        JOIN names b ON a.fb = b.f AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= {_ER_MAX_EDIT}
      )
    ),
    blocked AS (
      SELECT SUM(c * (c - 1) / 2) AS n_cand
      FROM (SELECT block, COUNT(*) AS c FROM names GROUP BY block)
    ),
    retained AS (
      SELECT COUNT(*) AS n_ret
      FROM names a JOIN names b
        ON a.block = b.block AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= {_ER_MAX_EDIT}
    )
    SELECT CAST(n.n_names AS BIGINT) AS n_names,
           CAST(truth.n_true AS BIGINT) AS n_true_matches,
           CAST(blocked.n_cand AS BIGINT) AS n_blocked_candidates,
           CAST(retained.n_ret AS BIGINT) AS n_retained,
           ROUND(CAST(retained.n_ret AS DOUBLE) / truth.n_true, 6)
             AS pair_completeness,
           ROUND(1.0 - CAST(blocked.n_cand AS DOUBLE)
                       / (CAST(n.n_names AS DOUBLE)
                          * (n.n_names - 1) / 2), 6) AS reduction_ratio
    FROM n CROSS JOIN truth CROSS JOIN blocked CROSS JOIN retained
    """,
)
def blocking_quality_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality certificate for entity_resolution_fuzzy: pair
    completeness (what fraction of TRUE edit-distance<=4 matches the
    last-word block retains) and reduction ratio (what fraction of the
    all-pairs comparison space blocking eliminates) — the two standard
    record-linkage blocking metrics (Christen 2012). Completes the ER
    family's eval story the way the recall certificates do for the ANN
    families.

    Ground truth is computed COMPLETELY without a cartesian product:
    edit<=4 implies |len(a)-len(b)| <= 4 < the band width, so exploding
    each name into its three adjacent length-band buckets and
    equi-joining on the bucket covers every true match (PPJoin-style
    bounded candidate generation); candidates are verified with one
    levenshtein each. Blocked-candidate volume needs no join at all —
    it is sum over blocks of c*(c-1)/2. All counts are exact integers;
    the two ratios are single divisions rounded 6dp.
    """
    part = load_table(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "p_name",
            F.regexp_extract("p_name", r"(\S+)$", 1).alias("block"),
            F.floor(F.length("p_name") / _ER_LEN_BAND)
            .cast("long")
            .alias("f"),
        )
        .persist()  # consumed by truth join (x2), block counts, retained join
    )
    n = names.agg(F.count(F.lit(1)).alias("n_names"))
    lev_ok = (
        F.levenshtein(F.col("na"), F.col("nb")) <= _ER_MAX_EDIT
    )
    a_bands = names.select(
        F.col("p_name").alias("na"),
        F.explode(
            F.array(F.col("f") - 1, F.col("f"), F.col("f") + 1)
        ).alias("fb"),
    )
    truth = (
        a_bands.join(
            names.select(F.col("p_name").alias("nb"), F.col("f").alias("f_b")),
            (F.col("fb") == F.col("f_b")) & (F.col("na") < F.col("nb")),
        )
        .filter(lev_ok)
        .select("na", "nb")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    blocked = (
        names.groupBy("block")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            .cast("long")
            .alias("n_cand")
        )
    )
    retained = (
        names.select(F.col("p_name").alias("na"), "block")
        .join(
            names.select(F.col("p_name").alias("nb"), F.col("block").alias("_b")),
            (F.col("block") == F.col("_b")) & (F.col("na") < F.col("nb")),
        )
        .filter(lev_ok)
        .agg(F.count(F.lit(1)).alias("n_ret"))
    )
    bc = F.broadcast
    return (
        bc(n)
        .crossJoin(bc(truth))
        .crossJoin(bc(blocked))
        .crossJoin(bc(retained))
        .select(
            F.col("n_names").cast("long").alias("n_names"),
            F.col("n_true").cast("long").alias("n_true_matches"),
            F.col("n_cand").cast("long").alias("n_blocked_candidates"),
            F.col("n_ret").cast("long").alias("n_retained"),
            F.round(
                F.col("n_ret").cast("double") / F.col("n_true"), 6
            ).alias("pair_completeness"),
            F.round(
                F.lit(1.0)
                - F.col("n_cand").cast("double")
                / (
                    F.col("n_names").cast("double")
                    * (F.col("n_names") - 1)
                    / 2
                ),
                6,
            ).alias("reduction_ratio"),
        )
    )


_KANON_K = 5


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH qi AS (
      SELECT n_name AS nation, c_mktsegment AS segment,
             CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
             o_orderpriority AS sensitive
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    ),
    cls AS (
      SELECT nation, segment, order_year,
             COUNT(*) AS class_size,
             COUNT(DISTINCT sensitive) AS l_div
      FROM qi GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_rows,
           CAST(MIN(class_size) AS BIGINT) AS k_anonymity,
           CAST(MIN(l_div) AS BIGINT) AS l_diversity,
           CAST(SUM(CASE WHEN class_size < {_KANON_K}
                         THEN class_size ELSE 0 END) AS BIGINT)
             AS rows_below_k,
           ROUND(CAST(SUM(CASE WHEN class_size < {_KANON_K}
                              THEN class_size ELSE 0 END) AS DOUBLE)
                 / SUM(class_size), 6) AS frac_rows_at_risk
    FROM cls
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of the order stream under the
    quasi-identifier set (nation, market segment, order year) with order
    priority as the sensitive attribute — the release-readiness check a
    privacy review runs before publishing "anonymized" data (Sweeney
    2002; Machanavajjhala 2007): k = the smallest equivalence-class
    size (a class of 1 is a re-identifiable individual), l = the least
    sensitive-value diversity within any class (a class with one
    priority value leaks it even at high k), plus the row mass below
    the _KANON_K policy floor.

    All-integer single aggregation pyramid: one hash aggregate to the
    equivalence classes (two broadcast dim joins on the way), one more
    to the scalar audit row; the only float is the final at-risk
    fraction. Complements pii_pseudonymization (column-level masking)
    with the set-level disclosure-risk view.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    qi = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.col("o_orderpriority").alias("sensitive"),
        )
    )
    cls = qi.groupBy("nation", "segment", "order_year").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.count_distinct("sensitive").alias("l_div"),
    )
    below = F.when(F.col("class_size") < _KANON_K, F.col("class_size")).otherwise(
        0
    )
    return cls.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("class_size").cast("long").alias("n_rows"),
        F.min("class_size").cast("long").alias("k_anonymity"),
        F.min("l_div").cast("long").alias("l_diversity"),
        F.sum(below).cast("long").alias("rows_below_k"),
        F.round(
            F.sum(below).cast("double") / F.sum("class_size"), 6
        ).alias("frac_rows_at_risk"),
    )
