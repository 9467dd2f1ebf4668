"""Product-analytics and incremental-maintenance queries (SURVEY.md §2
extensions): event funnels, retention cohorts, mergeable incremental
rollups, and percentile-position windows.

The funnel/cohort tier models the analyses the reference's event stream
feeds downstream (transactions_mock_data.py event taxonomy); the
incremental rollup demonstrates the partial-aggregate merge property that
makes the engine's aggregation tier restartable/streamable at 100 TB
(state + delta → same result as full recompute, verified by the oracle
being the plain full-table aggregation).

Timestamp parity: load_table reads events.ts as its declared
TIMESTAMP_NTZ (the stored microsecond wall clock) and casts it to the
session TIMESTAMP — see sources/readers.py; oracle-side CASTs of ts to
TIMESTAMP are no-ops on that layout, so both engines order on identical
microsecond instants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans._helpers import dec, dsum, sql_dsum
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table


@register(
    "event_funnel_conversion",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    v AS (
      SELECT user_id, MIN(ts) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(DISTINCT user_id) FROM e) AS n_users,
           (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchased_after_click
    """,
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: each stage must occur strictly
    after the user's first completion of the previous stage.

    Three hash aggregates keyed by user_id plus two user-keyed joins —
    every shuffle is on the same key, so AQE coalesces them into one
    exchange lineage; no windows, no driver collects. The classic
    sessionized-funnel form every event pipeline needs.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        # persist: consumed by the click stage AND the stage-count agg —
        # unpersisted, each consumer re-executes the events scan
        .persist()
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .persist()  # same: feeds the purchase stage and its own count
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    totals = e.agg(F.countDistinct("user_id").alias("n_users"))
    return (
        totals.crossJoin(F.broadcast(v.agg(F.count(F.lit(1)).alias("n_viewed"))))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchased_after_click"))))
    )


@register(
    "user_retention_cohorts",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
    ),
    cohort AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY user_id)
    SELECT CAST(c.cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(date_diff('day', c.cohort_day, e.d) AS INT) AS day_offset,
           COUNT(DISTINCT e.user_id) AS n_active_users
    FROM e JOIN cohort c ON e.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    counted on each subsequent active day offset.

    The cohort relation is |users|-sized (small next to events) and joins
    back on user_id — at 100 TB the cohort side is the broadcast/bucketed
    side and the wide events scan aggregates map-side first.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    cohort = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        e.join(cohort, "user_id")
        .groupBy(
            # publish as timestamp: both engines print naive midnight,
            # matching the oracle's CAST(cohort_day AS TIMESTAMP)
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            F.datediff("d", "cohort_day").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


@register(
    "incremental_rollup_merge",
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS o_month,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: a pre-aggregated STATE (orders
    before 1997-01-01) merged with a DELTA partial aggregate (orders on or
    after) by summing partials — the mergeability contract that lets the
    rollup be maintained incrementally (per micro-batch or per ingest
    day) instead of recomputed.

    The oracle is the FULL recompute, so the driver proves
    merge(state, delta) == recompute — decimal partial sums make the
    merge exact. Both partials aggregate map-side before the single
    month-keyed shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("date")

    def partial(df: DataFrame) -> DataFrame:
        # o_orderdate is a TIMESTAMP column; date_trunc keeps it one on
        # both engines, so the published month is timestamp-typed twice.
        return df.groupBy(F.date_trunc("month", "o_orderdate").alias("o_month")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("price_partial"),
        )

    state = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        state.unionByName(delta)
        .groupBy("o_month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("price_partial").cast("double").alias("total_price"),
        )
    )


@register(
    "window_percentile_position",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume_d,
           CAST(ntile(10) OVER w AS INT) AS decile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def window_percentile_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile over balance within market segment
    (W1 completion — the relative-position analytics the rank/dense_rank
    query doesn't cover). Ordering includes the key for tie-free ntile.
    Partitioned by segment — no global window."""
    customer = load_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.col("c_acctbal"), F.col("c_custkey"))
    )
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_d"),
        F.ntile(10).over(w).alias("decile"),
    )


@register(
    "events_activity_grid",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value
      FROM events
    ),
    span AS (
      SELECT user_id, MIN(day) AS dmin, MAX(day) AS dmax FROM e
      GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, CAST(g AS DATE) AS day
      FROM span, unnest(generate_series(dmin, dmax, INTERVAL 1 DAY)) AS t(g)
    ),
    daily AS (
      SELECT user_id, day, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
      FROM e GROUP BY user_id, day
    )
    SELECT g.user_id,
           CAST(g.day AS VARCHAR) AS day,
           COALESCE(d.n_events, 0) AS n_events,
           COALESCE(d.day_value, 0.0) AS day_value,
           CAST(d.user_id IS NULL AS BOOLEAN) AS is_gap
    FROM grid g LEFT JOIN daily d
      ON g.user_id = d.user_id AND g.day = d.day
    """,
)
def events_activity_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled per-user daily activity grid: one row per (user, day)
    for every day between the user's first and last event — zero-filled
    where the user was silent — the dense time-series shape downstream
    models (churn, forecasting) require, which raw event logs never have.

    Grid generation is distributed: `sequence(dmin, dmax)` explodes
    per-user spans locally (no driver loop, no global calendar join), so
    at 100 TB the grid work partitions by user exactly like every other
    events-tier operator. The daily rollup joins back on the same
    (user, day) key; days published as ISO strings (date-type parity).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day"), "value"
    )
    span = e.groupBy("user_id").agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    )
    grid = span.select(
        "user_id",
        F.explode(F.expr("sequence(dmin, dmax, interval 1 day)")).alias("day"),
    )
    daily = e.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "day_value"
        ),
    )
    d = daily.alias("d")
    return (
        grid.alias("g")
        .join(
            d,
            (F.col("g.user_id") == F.col("d.user_id"))
            & (F.col("g.day") == F.col("d.day")),
            "left",
        )
        .select(
            F.col("g.user_id").alias("user_id"),
            F.col("g.day").cast("string").alias("day"),
            F.coalesce("d.n_events", F.lit(0)).alias("n_events"),
            F.coalesce("d.day_value", F.lit(0.0)).alias("day_value"),
            F.col("d.user_id").isNull().alias("is_gap"),
        )
    )


@register(
    "user_path_mining",
    oracle="""
    WITH paths AS (
      SELECT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             string_agg(event_type, '>' ORDER BY CAST(ts AS TIMESTAMP),
                        event_id) AS path,
             COUNT(*) AS n_events
      FROM events
      GROUP BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    )
    SELECT path, n_events AS path_len_events,
           COUNT(*) AS n_user_days
    FROM paths
    GROUP BY path, n_events
    HAVING COUNT(*) >= 3
    """,
)
def user_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-journey mining: per (user, day) the ordered event-type
    path (view>click>purchase...), then the frequency of each distinct
    path across all user-days — the sequence-pattern rollup product
    analytics derives funnels and anomaly signatures from.

    Path assembly is a hash aggregate keyed by (user, day): collect the
    day's events as (ts, event_id, type) structs, array_sort (ts then
    event_id — unique, so the path string is deterministic), join with
    '>'. The frequency rollup then re-keys by the path string itself.
    Both shuffles are on high-cardinality keys; no windows, no global
    ordering anywhere.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        "event_type",
    )
    paths = e.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path"),
        F.count(F.lit(1)).alias("path_len_events"),
    )
    return (
        paths.groupBy("path", "path_len_events")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .where(F.col("n_user_days") >= 3)
    )


@register(
    "association_rules_brands",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM basket),
    item AS (SELECT brand, COUNT(*) AS cnt FROM basket GROUP BY brand),
    pair AS (
      SELECT a.brand AS antecedent, c.brand AS consequent,
             COUNT(*) AS pair_count
      FROM basket a JOIN basket c
        ON a.okey = c.okey AND a.brand <> c.brand
      GROUP BY a.brand, c.brand
    )
    SELECT p.antecedent, p.consequent, p.pair_count,
           ROUND(p.pair_count * 1.0 / n.n_orders, 6) AS support,
           ROUND(p.pair_count * 1.0 / ia.cnt, 6) AS confidence,
           ROUND((p.pair_count * 1.0 * n.n_orders) / (ia.cnt * 1.0 * ic.cnt),
                 6) AS lift
    FROM pair p
    JOIN item ia ON p.antecedent = ia.brand
    JOIN item ic ON p.consequent = ic.brand
    CROSS JOIN n
    WHERE p.pair_count >= 5
    """,
)
def association_rules_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets (antecedent
    brand -> consequent brand) with support / confidence / lift — the
    co-purchase signal recommendation and assortment analytics start
    from.

    Plan shape for 100 TB: the basket relation (distinct order x brand)
    comes from one broadcast join (part is a dim) + one hash distinct
    keyed by order; the pair expansion is a self-join co-located on
    l_orderkey (both sides share the same shuffle key, ~k^2 rows per
    order for k≈4 distinct brands), immediately re-aggregated onto the
    tiny (brand, brand) key space. Item counts and the grand total are
    one extra aggregation each, broadcast back onto the 600-row rule
    table. Ratios are single integer->double divisions with identical
    parenthesization in the oracle, so support/confidence/lift match
    bit-for-bit at 6dp.
    """
    from pyspark.sql.functions import broadcast

    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    basket = (
        li.join(broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        # persist: four consumers (grand total, item counts, both pair
        # sides) — unpersisted, each re-executes the fact join+distinct
        .persist()
    )
    n_orders = basket.select(
        F.countDistinct("okey").alias("n_orders")
    )
    item = basket.groupBy("brand").agg(F.count(F.lit(1)).alias("cnt"))
    a = basket.alias("a")
    c = basket.alias("c")
    pair = (
        a.join(
            c,
            (F.col("a.okey") == F.col("c.okey"))
            & (F.col("a.brand") != F.col("c.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("antecedent"),
            F.col("c.brand").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= 5)
    )
    ia = item.select(
        F.col("brand").alias("antecedent"), F.col("cnt").alias("cnt_a")
    )
    ic = item.select(
        F.col("brand").alias("consequent"), F.col("cnt").alias("cnt_c")
    )
    return (
        pair.join(broadcast(ia), "antecedent")
        .join(broadcast(ic), "consequent")
        .crossJoin(broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            "pair_count",
            F.round(F.col("pair_count") * 1.0 / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("pair_count") * 1.0 / F.col("cnt_a"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("pair_count") * 1.0 * F.col("n_orders"))
                / (F.col("cnt_a") * 1.0 * F.col("cnt_c")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "copurchase_graph_stats",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM basket a JOIN basket b ON a.okey = b.okey AND a.pk < b.pk
    ),
    deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT u AS node FROM edges
        UNION ALL
        SELECT v AS node FROM edges
      ) GROUP BY node
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v
    ),
    agg AS (
      SELECT COUNT(*) AS n_nodes,
             SUM(degree * (degree - 1) / 2) AS n_wedges,
             MAX(degree) AS max_degree
      FROM deg
    )
    SELECT agg.n_nodes,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           agg.max_degree,
           tri.n_triangles,
           CAST(agg.n_wedges AS BIGINT) AS n_wedges,
           ROUND(3.0 * tri.n_triangles / agg.n_wedges, 6)
             AS clustering_coeff
    FROM agg CROSS JOIN tri
    """,
)
def copurchase_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph topology profile: nodes = parts, edges = 'ever
    bought together in one order'; reports edge/degree structure,
    exact triangle count, and the global clustering coefficient
    (3*triangles / wedges) — the graph-shape diagnostics a
    recommendation pipeline runs before committing to graph features.

    Triangle counting is the canonical distributed-join formulation:
    orient every edge along a total order, then two hash joins —
    edges⋈edges on the shared middle vertex to enumerate oriented
    wedges, closed against the edge set itself. The orientation used
    here is BY DEGREE (ties by id), not by id: every edge points from
    its lower-degree endpoint to its higher-degree one, so a hub with
    degree d contributes C(out,2) wedges with out = O(sqrt(m)) instead
    of C(d,2) — the refinement that keeps the wedge intermediate
    bounded on power-law graphs at 100 TB. The published counts are
    orientation-invariant, so the oracle runs the simpler id-ordered
    form and must agree exactly. Degree histogram and wedge counts are
    exact integer aggregations of the edge list.
    """
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = basket.alias("a")
    b = basket.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
        # persist: the edge list feeds the degree union (2x), the
        # orientation join, and the closure join — unpersisted, every
        # consumer re-ran the basket self-join+distinct (measured 27.9 s
        # at sf0.1 before these cuts, 36 scan nodes in the plan)
        .persist()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .persist()  # consumed as both du and dv
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        # persist: three self-join sides in the triangle closure
        .persist()
    )
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    e3 = oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e1.src") == F.col("e3.src"))
            & (F.col("e2.dst") == F.col("e3.dst")),
        )
        .select(F.count(F.lit(1)).alias("n_triangles"))
    )
    agg = deg.select(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(
            (F.col("degree") * (F.col("degree") - 1) / 2).cast("long")
        ).alias("n_wedges"),
        F.max("degree").alias("max_degree"),
    )
    n_edges = edges.select(F.count(F.lit(1)).alias("n_edges"))
    return (
        agg.crossJoin(tri)
        .crossJoin(n_edges)
        .select(
            "n_nodes",
            "n_edges",
            "max_degree",
            "n_triangles",
            F.col("n_wedges").cast("long").alias("n_wedges"),
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering_coeff"),
        )
    )


@register(
    "ewma_user_value",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(
             list_reduce(
               list(value ORDER BY CAST(ts AS TIMESTAMP), event_id),
               (acc, x) -> acc * 0.75 + x * 0.25
             ), 6) AS ewma_value
    FROM events
    GROUP BY user_id
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.25) of each user's
    event values in time order — the recency-weighted activity signal
    behind engagement scores and anomaly baselines, and the classic
    'inherently sequential' recurrence engines claim needs imperative
    code.

    Expressed relationally anyway: collect each user's values as an
    array sorted by (ts, event_id) (unique tiebreak -> deterministic
    order), seed the fold with the first value, then one
    ``F.aggregate`` pass applies s = 0.75*s + 0.25*x. The oracle's
    list_reduce folds the identically-ordered list with the identical
    expression, so the doubles match bit-for-bit at 6dp — sequential
    determinism without a single-reducer window. State is one array per
    user (~tens of events); at 100 TB you'd bound it with a slice to
    the trailing window before folding, same shape.
    """
    ev = load_table(spark, sf_dir, "events")
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"],
    )
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), vals.alias("vals"))
        .select(
            "user_id",
            "n_events",
            F.round(
                F.aggregate(
                    F.slice(F.col("vals"), F.lit(2), F.size("vals") - 1),
                    F.element_at("vals", 1),
                    lambda acc, x: acc * F.lit(0.75) + x * F.lit(0.25),
                ),
                6,
            ).alias("ewma_value"),
        )
    )


@register(
    "attribution_last_touch",
    oracle=f"""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
             value
      FROM events
    ),
    touched AS (
      SELECT *,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type
                             END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type
      FROM e
    )
    SELECT COALESCE(touch_type, 'direct') AS attributed_channel,
           COUNT(*) AS n_purchases,
           {sql_dsum('value')} AS attributed_value
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY COALESCE(touch_type, 'direct')
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: credit each purchase to the user's most
    recent preceding non-purchase interaction (view/click/signup/error;
    'direct' when the purchase is the user's first event) and roll up
    purchases and value per attributed channel — the standard marketing
    attribution rollup.

    The 'most recent preceding' lookup is last_value(... IGNORE NULLS)
    over a per-user frame ENDING ONE ROW BEFORE current — no self-join,
    no per-event scan-back; one window pass partitioned by user (the
    same shuffle key as every events-tier operator), then a hash rollup
    onto the 5-channel key. Value sums are exact decimal. At 100 TB:
    users partition independently; frame state is one running value per
    partition row — O(1) memory per user regardless of history length.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch_type", touch)
        .where(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("touch_type", F.lit("direct")).alias(
                "attributed_channel"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum("value").alias("attributed_value"),
        )
    )


@register(
    "rolling_7d_distinct_users",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events
    ),
    fanned AS (
      SELECT DISTINCT user_id, CAST(g AS DATE) AS window_end
      FROM daily,
           unnest(generate_series(day, day + INTERVAL 6 DAY,
                                  INTERVAL 1 DAY)) AS t(g)
    ),
    bounds AS (SELECT MAX(day) AS dmax FROM daily)
    SELECT CAST(f.window_end AS VARCHAR) AS window_end,
           COUNT(*) AS active_users_7d
    FROM fanned f CROSS JOIN bounds b
    WHERE f.window_end <= b.dmax
    GROUP BY f.window_end
    """,
)
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active-user counts (the WAU curve): for every day,
    the number of DISTINCT users seen in the trailing 7-day window —
    the metric COUNT(DISTINCT) OVER a sliding frame cannot express
    (distinct doesn't decompose over frames).

    The scalable reformulation: shrink events to distinct (user, day)
    pairs first (the big reduction), fan each pair to the <=7 window
    ends it contributes to (sequence explode — bounded, local), distinct
    again to collapse multi-day users per window, then a plain count per
    window end. Every step is a hash shuffle on high-cardinality keys;
    the 7x fan-out happens AFTER the daily dedup, so at 100 TB the
    fanned relation is 7 x |user-days|, not 7 x |events|. Trailing
    windows that extend past the last observed day are clipped (both
    engines), so counts cover only fully-observable days.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    fanned = daily.select(
        "user_id",
        F.explode(
            F.expr("sequence(day, day + interval 6 days, interval 1 day)")
        ).alias("window_end"),
    ).distinct()
    bounds = daily.select(F.max("day").alias("dmax"))
    from pyspark.sql.functions import broadcast

    return (
        fanned.crossJoin(broadcast(bounds))
        .where(F.col("window_end") <= F.col("dmax"))
        .groupBy(F.col("window_end").cast("string").alias("window_end"))
        .agg(F.count(F.lit(1)).alias("active_users_7d"))
    )


@register(
    "winsorized_price_stats",
    oracle="""
    WITH cuts AS (
      SELECT o_orderpriority,
             CAST(quantile_cont(o_totalprice, 0.05) AS DOUBLE) AS p05,
             CAST(quantile_cont(o_totalprice, 0.95) AS DOUBLE) AS p95
      FROM orders GROUP BY o_orderpriority
    ),
    clipped AS (
      SELECT o.o_orderpriority,
             CAST(CASE WHEN o.o_totalprice < c.p05 THEN c.p05
                       WHEN o.o_totalprice > c.p95 THEN c.p95
                       ELSE o.o_totalprice END AS DECIMAL(18,4)) AS w,
             CASE WHEN o.o_totalprice < c.p05
                  OR o.o_totalprice > c.p95 THEN 1 ELSE 0 END AS clip
      FROM orders o JOIN cuts c ON o.o_orderpriority = c.o_orderpriority
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(clip) AS BIGINT) AS n_clipped,
           ROUND(CAST(SUM(w) AS DOUBLE) / COUNT(*), 4) AS winsorized_mean
    FROM clipped
    GROUP BY o_orderpriority
    """,
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust mean: clip order totals to their group's
    [P5, P95] band, then average — the outlier-resistant location
    estimate feature pipelines prefer over raw means when upstream data
    can glitch (and the counterpart of the z-score REJECTION gate:
    winsorizing keeps the row, tames the value).

    Two passes, both group-keyed: exact interpolated percentiles per
    priority class (same PERCENTILE_CONT parity as percentiles_exact),
    broadcast the 5-row cut table back onto the fact scan, clip, and
    aggregate. Clipped values are cast to DECIMAL(18,4) BEFORE summation
    (percentile cuts are 4dp-exact here), so the mean is
    order-independent exact arithmetic — no float accumulation even
    though the clip boundaries are interpolated doubles.
    """
    from pyspark.sql.functions import broadcast

    o = load_table(spark, sf_dir, "orders")
    cuts = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("p05"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
    )
    w = (
        F.when(F.col("o_totalprice") < F.col("p05"), F.col("p05"))
        .when(F.col("o_totalprice") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("o_totalprice"))
        .cast("decimal(18,4)")
    )
    clip = (
        (F.col("o_totalprice") < F.col("p05"))
        | (F.col("o_totalprice") > F.col("p95"))
    ).cast("int")
    return (
        o.join(broadcast(cuts), "o_orderpriority")
        .select("o_orderpriority", w.alias("w"), clip.alias("clip"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("clip").cast("long").alias("n_clipped"),
            F.round(
                F.sum("w").cast("double") / F.count(F.lit(1)), 4
            ).alias("winsorized_mean"),
        )
    )


@register(
    "activity_streaks",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events
    ),
    anchored AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY day) AS INTEGER)
               AS anchor
      FROM daily
    ),
    streaks AS (
      SELECT user_id, anchor, COUNT(*) AS streak_len
      FROM anchored GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(SUM(streak_len) AS BIGINT) AS n_active_days,
           COUNT(*) AS n_streaks,
           CAST(MAX(streak_len) AS BIGINT) AS longest_streak
    FROM streaks
    GROUP BY user_id
    """,
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user (gaps-and-islands): the
    engagement shape behind habit metrics ('7-day streak') and churn
    features. An island of consecutive days shares the invariant
    day - row_number() = const; grouping on that anchor yields streak
    lengths, then a per-user rollup reports total active days, streak
    count, and the longest run.

    Everything is keyed by user: one partitioned window (row_number over
    the user's distinct days — no global ordering), two hash
    aggregations. The distinct-day dedup happens BEFORE the window, so
    the windowed relation is |user-days|, not |events|. Date arithmetic
    (date - int) is identical in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = daily.select(
        "user_id",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"),
    )
    streaks = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("streak_len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("streak_len").cast("long").alias("longest_streak"),
    )


@register(
    "benford_first_digit",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                         1, 1) AS BIGINT) AS d
      FROM orders
      WHERE o_totalprice >= 1
    ),
    n AS (SELECT COUNT(*) AS total FROM digits)
    SELECT d AS first_digit,
           COUNT(*) AS observed,
           ROUND(COUNT(*) * 1.0 / n.total, 6) AS observed_freq,
           ROUND(log10(1.0 + 1.0 / d), 6) AS benford_freq,
           ROUND(COUNT(*) * 1.0 / n.total - log10(1.0 + 1.0 / d), 6)
             AS deviation
    FROM digits CROSS JOIN n
    GROUP BY d, n.total
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order totals: observed
    leading-digit frequencies against the log10(1 + 1/d) expectation —
    the forensic-audit screen for fabricated or truncated monetary data
    (real multiplicative amounts follow Benford; synthetic uniform data,
    like this fixture, visibly deviates — the deviation column IS the
    signal).

    Digit extraction goes through the DECIMAL(18,2) string form on both
    engines (double formatting differs cross-engine; decimal formatting
    doesn't). One projection + one 9-group aggregate with the total
    re-broadcast — a single pass at any scale. The frequency ratio and
    the log expectation are each a single double expression, identical
    both sides at 6dp.
    """
    from pyspark.sql.functions import broadcast

    from ecommerce_data_pipeline_spark.plans._helpers import dec

    o = load_table(spark, sf_dir, "orders")
    digits = o.where(F.col("o_totalprice") >= 1).select(
        F.substring(dec("o_totalprice").cast("string"), 1, 1)
        .cast("long")
        .alias("d")
    )
    n = digits.select(F.count(F.lit(1)).alias("total"))
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    return (
        digits.crossJoin(broadcast(n))
        .groupBy("d", "total")
        .agg(F.count(F.lit(1)).alias("observed"))
        .select(
            F.col("d").alias("first_digit"),
            "observed",
            F.round(F.col("observed") * 1.0 / F.col("total"), 6).alias(
                "observed_freq"
            ),
            F.round(benford, 6).alias("benford_freq"),
            F.round(
                F.col("observed") * 1.0 / F.col("total") - benford, 6
            ).alias("deviation"),
        )
    )


@register(
    "top_spenders_per_nation",
    oracle=f"""
    WITH spend AS (
      SELECT n.n_name, c.c_custkey, c.c_name,
             {sql_dsum('o.o_totalprice')} AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, c.c_custkey, c.c_name
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY n_name ORDER BY revenue DESC, c_custkey
      ) AS rnk
      FROM spend
    )
    SELECT n_name, c_custkey, c_name, revenue, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def top_spenders_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by lifetime spend per nation — the canonical
    top-k-per-group report. Aggregation first (shrinks the window input
    to one row per customer), then a rank window per nation that plans
    as WindowGroupLimit: each map task keeps a 3-heap per nation, so the
    window shuffle carries O(groups · k), not O(customers). Decimal
    accumulation, id tiebreak — fully deterministic cross-engine."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # nation always broadcasts (25 rows at any scale); customer is a BIG
    # dim at target scale — leave that join to AQE (shuffle join with
    # runtime broadcast conversion when stats allow)
    spend = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_custkey", "c_name")
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("revenue"), F.asc("c_custkey")
    )
    return (
        spend.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "n_name",
            "c_custkey",
            "c_name",
            "revenue",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "events_hourly_seasonality",
    oracle="""
    WITH g AS (
      SELECT CAST(isodow(ts) AS INT) AS dow,
             CAST(hour(ts) AS INT) AS hod,
             count(*) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n_events) AS total FROM g)
    SELECT dow, hod, n_events, n_users, total_value,
           round(n_events * 1.0 / (SELECT total FROM tot), 6) AS share
    FROM g
    """,
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality grid: event volume / distinct users / value by
    (ISO day-of-week × hour-of-day) with each cell's share of total —
    the load-shape profile behind capacity planning and anomaly
    baselines. One aggregation into a ≤168-row grid; the share
    normalization is a broadcast join against a one-row total (never a
    global window)."""
    events = load_table(spark, sf_dir, "events")
    g = events.groupBy(
        F.dayofweek(F.date_sub(F.col("ts"), 1)).alias("dow"),
        F.hour("ts").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        dsum("value").alias("total_value"),
    )
    tot = g.agg(F.sum("n_events").alias("total"))
    return g.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hod",
        "n_events",
        "n_users",
        "total_value",
        F.round(F.col("n_events") / F.col("total"), 6).alias("share"),
    )


@register(
    "supplier_concentration_hhi",
    oracle=f"""
    WITH rev AS (
      SELECT p.p_type, l.l_suppkey,
             {sql_dsum('l.l_extendedprice')} AS revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_type, l.l_suppkey
    ),
    tot AS (SELECT p_type, SUM(revenue) AS total, count(*) AS n_suppliers
            FROM rev GROUP BY p_type)
    SELECT r.p_type,
           CAST(t.n_suppliers AS BIGINT) AS n_suppliers,
           round(SUM((r.revenue / t.total) * (r.revenue / t.total)), 6) AS hhi
    FROM rev r JOIN tot t ON r.p_type = t.p_type
    GROUP BY r.p_type, t.n_suppliers
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per product type via the Herfindahl-
    Hirschman index (Σ share² — 1/n = perfect competition, 1 = monopoly):
    the supply-risk metric next to the Gini/Pareto tier. Two p_type-keyed
    aggregations and a join — decimal revenue accumulation keeps the
    shares cross-engine exact before the single double division."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(dsum("l_extendedprice").alias("revenue"))
    )
    tot = rev.groupBy("p_type").agg(
        F.sum("revenue").alias("total"), F.count(F.lit(1)).alias("n_suppliers")
    )
    share = F.col("revenue") / F.col("total")
    return (
        rev.join(tot, "p_type")
        .groupBy("p_type", "n_suppliers")
        .agg(F.round(F.sum(share * share), 6).alias("hhi"))
        .select(
            "p_type",
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            "hhi",
        )
    )


@register(
    "repeat_purchase_interval",
    oracle="""
    WITH p AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT user_id,
             date_diff('microsecond', prev_ts, ts) / 86400e6 AS gap_days
      FROM p WHERE prev_ts IS NOT NULL
    )
    SELECT count(*) AS n_intervals,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_repeat_buyers,
           round(avg(gap_days), 4) AS avg_gap_days,
           round(CAST(quantile_cont(gap_days, 0.5) AS DOUBLE), 4) AS median_gap_days,
           round(CAST(quantile_cont(gap_days, 0.9) AS DOUBLE), 4) AS p90_gap_days
    FROM gaps
    """,
)
def repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution — the repeat-buying cadence
    behind churn models and replenishment campaigns: per-user gaps from
    a user-partitioned lag, then one summary row (count / buyers / mean /
    exact p50 / p90 of gap days). The window shuffles on user_id like
    the sessionizer; the percentile runs over the |purchase|-sized gap
    relation, with the approx twin as the documented 100 TB swap."""
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        p.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            (
                (F.col("ts").cast("double") - F.col("prev_ts").cast("double"))
                / 86400.0
            ).alias("gap_days"),
        )
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.count_distinct("user_id").alias("n_repeat_buyers"),
        F.round(F.avg("gap_days"), 4).alias("avg_gap_days"),
        F.round(F.percentile("gap_days", F.lit(0.5)), 4).alias("median_gap_days"),
        F.round(F.percentile("gap_days", F.lit(0.9)), 4).alias("p90_gap_days"),
    )


@register(
    "discount_quantity_lift",
    oracle=f"""
    WITH b AS (
      SELECT CAST(floor(l_discount * 20) AS INT) AS disc_bucket,
             l_quantity
      FROM lineitem
    ),
    base AS (SELECT avg(l_quantity) AS baseline FROM b WHERE disc_bucket = 0)
    SELECT disc_bucket,
           count(*) AS n_lines,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_quantity) / (SELECT baseline FROM base), 6) AS qty_lift
    FROM b GROUP BY disc_bucket
    """,
)
def discount_quantity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount→quantity lift curve: average order quantity per 5%%
    discount bucket relative to the undiscounted baseline — the
    price-sensitivity read behind promotion planning. One bucketed
    aggregation; the baseline is a broadcast one-row join (never a
    global window)."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.floor(F.col("l_discount") * 20).cast("int").alias("disc_bucket"),
        "l_quantity",
    )
    g = b.groupBy("disc_bucket").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.avg("l_quantity").alias("avg_qty_raw"),
    )
    base = g.filter(F.col("disc_bucket") == 0).select(
        F.col("avg_qty_raw").alias("baseline")
    )
    return g.crossJoin(F.broadcast(base)).select(
        "disc_bucket",
        "n_lines",
        F.round("avg_qty_raw", 6).alias("avg_qty"),
        F.round(F.col("avg_qty_raw") / F.col("baseline"), 6).alias("qty_lift"),
    )


@register(
    "events_daily_anomalies",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, count(*) AS n
      FROM events GROUP BY 1
    ),
    stats AS (SELECT avg(n) AS mu, stddev_pop(n) AS sigma FROM daily)
    SELECT day, n,
           round((n - (SELECT mu FROM stats)) / (SELECT sigma FROM stats), 6)
             AS zscore,
           abs(n - (SELECT mu FROM stats))
             > 2 * (SELECT sigma FROM stats) AS is_anomaly
    FROM daily
    """,
)
def events_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly flags: each day's event count z-scored
    against the series mean/σ (|z| > 2 ⇒ anomaly) — the monitoring
    baseline on the ingest feed. One daily aggregation; the series
    stats come back as a broadcast one-row join (never a global
    window), so the pattern holds on a years-long 100 TB feed."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date("ts").cast("timestamp").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sigma")
    )
    return daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "n",
        F.round((F.col("n") - F.col("mu")) / F.col("sigma"), 6).alias("zscore"),
        (F.abs(F.col("n") - F.col("mu")) > 2 * F.col("sigma")).alias(
            "is_anomaly"
        ),
    )


@register(
    "nation_trade_balance",
    oracle=f"""
    WITH sell AS (
      SELECT s.s_nationkey AS nationkey,
             {sql_dsum('l.l_extendedprice')} AS supplied_value
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey
    ),
    buy AS (
      SELECT c.c_nationkey AS nationkey,
             {sql_dsum('o.o_totalprice')} AS purchased_value
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    )
    SELECT n.n_name,
           coalesce(sell.supplied_value, 0) AS supplied_value,
           coalesce(buy.purchased_value, 0) AS purchased_value,
           round(coalesce(sell.supplied_value, 0)
                 - coalesce(buy.purchased_value, 0), 2) AS trade_balance
    FROM nation n
    LEFT JOIN sell ON n.n_nationkey = sell.nationkey
    LEFT JOIN buy ON n.n_nationkey = buy.nationkey
    """,
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation trade balance: value supplied (lineitem→supplier side)
    minus value purchased (orders→customer side) — two independent fact
    aggregations meeting on the dimension key, a shape no single TPC-H
    query exercises. Each fact aggregates map-side to |nations| rows
    before the broadcast joins onto the 25-row nation table."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    sell = (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(dsum("l_extendedprice").alias("supplied_value"))
    )
    buy = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(dsum("o_totalprice").alias("purchased_value"))
    )
    return (
        nation.join(sell, nation.n_nationkey == sell.nationkey, "left")
        .join(buy, nation.n_nationkey == buy.nationkey, "left")
        .select(
            "n_name",
            F.coalesce("supplied_value", F.lit(0.0)).alias("supplied_value"),
            F.coalesce("purchased_value", F.lit(0.0)).alias("purchased_value"),
            F.round(
                F.coalesce("supplied_value", F.lit(0.0))
                - F.coalesce("purchased_value", F.lit(0.0)),
                2,
            ).alias("trade_balance"),
        )
    )


@register(
    "order_fanout_distribution",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_lines,
           count(*) AS n_orders,
           round(count(*) * 1.0 / (SELECT count(*) FROM per_order), 6)
             AS order_share
    FROM per_order GROUP BY n_lines
    """,
)
def order_fanout_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-fanout profile: the distribution of lines-per-order (how many
    orders have 1, 2, … lineitems) — the statistic that prices every
    orders⋈lineitem join and flags fanout drift in incoming data. A
    two-level aggregation (key → count, count → histogram): the first
    keyed on the join key, the second on the tiny count domain; the
    total comes back as a broadcast one-row join."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    hist = per_order.groupBy("n_lines").agg(F.count(F.lit(1)).alias("n_orders"))
    total = per_order.agg(F.count(F.lit(1)).alias("total"))
    return hist.crossJoin(F.broadcast(total)).select(
        "n_lines",
        "n_orders",
        F.round(F.col("n_orders") / F.col("total"), 6).alias("order_share"),
    )


@register(
    "price_size_regression_by_brand",
    oracle="""
    SELECT p_brand,
           count(*) AS n_parts,
           round(regr_slope(p_retailprice, p_size), 6) AS slope,
           round(regr_intercept(p_retailprice, p_size), 6) AS intercept,
           round(regr_r2(p_retailprice, p_size), 6) AS r2
    FROM part GROUP BY p_brand
    """,
)
def price_size_regression_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED linear regression: price ~ size fitted independently per
    brand (slope/intercept/R²) — the per-segment trend surface behind
    pricing curves and drift monitors. One hash aggregation: regr_*
    aggregates are sum-decomposable, so each group's fit reduces
    map-side like any other partial aggregate (contrast the global
    regressions in zipf_fit/heaps_law_fit)."""
    part = load_table(spark, sf_dir, "part")
    x, y = F.col("p_size").cast("double"), F.col("p_retailprice").cast("double")
    return part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


@register(
    "segment_share_shift_quarterly",
    oracle=f"""
    WITH q AS (
      SELECT c.c_mktsegment AS segment,
             CAST(date_trunc('quarter', o.o_orderdate) AS TIMESTAMP) AS quarter,
             {sql_dsum('o.o_totalprice')} AS revenue
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT quarter, SUM(revenue) AS q_total FROM q GROUP BY quarter),
    shares AS (
      SELECT q.segment, q.quarter,
             q.revenue / t.q_total AS share
      FROM q JOIN tot t ON q.quarter = t.quarter
    )
    SELECT segment, quarter,
           round(share, 6) AS share,
           round(share - lag(share) OVER (PARTITION BY segment ORDER BY quarter),
                 6) AS share_shift
    FROM shares
    """,
)
def segment_share_shift_quarterly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter-over-quarter revenue-share shift per market segment — the
    mix-drift monitor (is BUILDING gaining share?). Segment×quarter
    aggregation, per-quarter totals joined back (the share denominator),
    then a segment-PARTITIONED lag window for the shift — all keys are
    low-cardinality dimensions, so every stage stays tiny no matter the
    fact volume."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    q = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_trunc("quarter", "o_orderdate").alias("quarter"),
        )
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    tot = q.groupBy("quarter").agg(F.sum("revenue").alias("q_total"))
    shares = q.join(F.broadcast(tot), "quarter").select(
        "segment", "quarter", (F.col("revenue") / F.col("q_total")).alias("share")
    )
    w = Window.partitionBy("segment").orderBy("quarter")
    return shares.select(
        "segment",
        "quarter",
        F.round("share", 6).alias("share"),
        F.round(F.col("share") - F.lag("share").over(w), 6).alias("share_shift"),
    )


@register(
    "holt_linear_forecast",
    # Holt's linear-trend exponential smoothing (level+trend recursion)
    # — sequential like PAV/MMR, and like them its bounded recursion has
    # an exact SQL twin: a recursive CTE stepping month-by-month. Both
    # engines run the IDENTICAL IEEE sequence — the same double
    # approximations of alpha=0.8/beta=0.2 combined in the same
    # operation order, l_new computed once and reused in the trend
    # update on both sides — on identical inputs (exact-decimal monthly
    # revenue published as double), so level/trend/fitted agree
    # bit-for-bit before the 2dp rounding (applied engine-side via
    # F.round/round, both HALF-AWAY — Python's banker's round would
    # diverge on dyadic halfway values like x.125).
    oracle="""
    WITH RECURSIVE pts0 AS (
      SELECT o_orderpriority AS g,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM orders GROUP BY 1, 2
    ),
    pts AS (
      SELECT g, month, y,
             row_number() OVER (PARTITION BY g ORDER BY month) AS i
      FROM pts0
    ),
    rec(g, i, l, b) AS (
      SELECT p.g, CAST(1 AS BIGINT), p.y,
             (SELECT y FROM pts p2 WHERE p2.g = p.g AND p2.i = 2) - p.y
      FROM pts p WHERE p.i = 1
      UNION ALL
      SELECT r.g, r.i + 1,
             0.8 * p.y + 0.2 * (r.l + r.b),
             0.2 * ((0.8 * p.y + 0.2 * (r.l + r.b)) - r.l) + 0.8 * r.b
      FROM rec r JOIN pts p ON p.g = r.g AND p.i = r.i + 1
    )
    SELECT p.g AS o_orderpriority, p.month, round(p.y, 2) AS revenue,
           round(r.l, 2) AS level, round(r.b, 2) AS trend,
           round(prev.l + prev.b, 2) AS fitted
    FROM pts p
    JOIN rec r ON r.g = p.g AND r.i = p.i
    LEFT JOIN rec prev ON prev.g = p.g AND prev.i = p.i - 1
    """,
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing of monthly revenue per order priority
    (alpha = 0.8, beta = 0.2): per month, the level/trend state and the
    one-step-ahead fitted value (l+b of the previous month) — the
    capacity-planning forecast primitive. The cluster does the
    corpus-sized reduction (exact-decimal revenue per group-month,
    map-side combined); the recursion runs as grouped-map applyInPandas
    whose batch is bounded by the CALENDAR (months per group), never by
    row count — the PAV/MMR bounded-sequential contract."""
    import pandas as pd

    orders = load_table(spark, sf_dir, "orders")
    pts = orders.groupBy(
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(dsum("o_totalprice").alias("y"))

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month", kind="mergesort")
        y = [float(v) for v in pdf["y"]]
        n = len(y)
        levels = [y[0]]
        trends = [y[1] - y[0] if n >= 2 else None]
        fitted = [None]
        for t in range(1, n):
            l_prev, b_prev = levels[-1], trends[-1]
            fitted.append(l_prev + b_prev)
            l_new = 0.8 * y[t] + 0.2 * (l_prev + b_prev)
            b_new = 0.2 * (l_new - l_prev) + 0.8 * b_prev
            levels.append(l_new)
            trends.append(b_new)
        # no rounding here: Python round() is banker's (half-to-even)
        # while the oracle's round() is half-away — rounding happens
        # engine-side below with F.round (HALF_UP), which matches
        return pd.DataFrame(
            {
                "o_orderpriority": pdf["o_orderpriority"].to_numpy(),
                "month": pdf["month"].to_numpy(),
                "revenue": y,
                "level": levels,
                "trend": trends,
                "fitted": fitted,
            }
        )

    raw = pts.groupBy("o_orderpriority").applyInPandas(
        fit,
        "o_orderpriority string, month date, revenue double, "
        "level double, trend double, fitted double",
    )
    return raw.select(
        "o_orderpriority",
        "month",
        F.round("revenue", 2).alias("revenue"),
        F.round("level", 2).alias("level"),
        F.round("trend", 2).alias("trend"),
        F.round("fitted", 2).alias("fitted"),
    )


@register(
    "seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    j AS (
      SELECT a.d, a.rev AS rev, b.rev AS rev_pred
      FROM daily a JOIN daily b ON a.d = b.d + 7
    )
    SELECT CAST(CAST(d - DATE '1970-01-01' AS BIGINT) % 7 AS INT) AS dow_idx,
           COUNT(*) AS n_days,
           CAST(SUM(rev) AS DOUBLE) AS sum_actual,
           CAST(SUM(ABS(rev - rev_pred)) AS DOUBLE) AS sum_abs_err,
           round(CAST(SUM(ABS(rev - rev_pred)) AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE), 6) AS wape
    FROM j GROUP BY 1
    """,
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's revenue with
    the same weekday one week earlier, then score WAPE per weekday.

    The forecast "model" is a self-equi-join of the daily-revenue relation
    on d = d-7 — the standard walk-forward baseline every demand-forecast
    pipeline needs before anything fancier. Error accumulates in exact
    decimals end-to-end (daily sums, |actual-forecast|, weekday totals);
    the only float op is the final WAPE division, rounded at 6dp.

    dow_idx is days-since-epoch mod 7 (0 = Thursday) — an engine-neutral
    weekday key avoiding DATE_FORMAT/DAYOFWEEK locale divergence.

    Scale notes: daily aggregation is one hash agg keyed by date; the
    self-join is date-keyed (a few thousand rows per year of history
    regardless of fact size) — broadcastable; the weekday rollup has 7
    groups. Fact rows are touched exactly once.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"), "o_totalprice"
    )
    daily = o.groupBy("d").agg(F.sum(dec("o_totalprice")).alias("rev"))
    prev = daily.select(
        F.date_add("d", 7).alias("d"), F.col("rev").alias("rev_pred")
    )
    j = daily.join(prev, "d")
    abs_err = F.abs(F.col("rev") - F.col("rev_pred"))
    epoch = F.lit("1970-01-01").cast("date")
    return (
        j.groupBy((F.datediff("d", epoch) % 7).cast("int").alias("dow_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("rev").cast("double").alias("sum_actual"),
            F.sum(abs_err).cast("double").alias("sum_abs_err"),
            F.round(
                F.sum(abs_err).cast("double") / F.sum("rev").cast("double"), 6
            ).alias("wape"),
        )
    )


@register(
    "funnel_conversion_7d",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    v AS (
      SELECT user_id, MIN(ts) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ),
    conv AS (
      SELECT v.user_id, v.t_view,
             MAX(CASE WHEN e.ts > v.t_view
                       AND e.ts <= v.t_view + INTERVAL 7 DAY
                      THEN 1 ELSE 0 END) AS converted
      FROM v LEFT JOIN e
        ON e.user_id = v.user_id AND e.event_type = 'purchase'
      GROUP BY v.user_id, v.t_view
    )
    SELECT CAST(date_trunc('month', t_view) AS DATE) AS cohort_month,
           COUNT(*) AS n_viewers,
           CAST(SUM(converted) AS BIGINT) AS n_converted_7d,
           round(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS cvr_7d
    FROM conv GROUP BY 1
    """,
)
def funnel_conversion_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-boxed funnel: of users whose FIRST view fell in month M, how
    many purchased within 7 days of that first view — the deadline-bound
    conversion metric (distinct from event_funnel_conversion's
    unconstrained ordering: a purchase 3 weeks later counts there, not
    here).

    Plan shape: first-view hash agg keyed by user, one user-keyed left
    join against the purchase slice with the time bound as a join-side
    filter, then a month rollup — all shuffles on user_id, calendar-sized
    output. The integer conversion flag aggregates exactly; the rate is
    one double division rounded at 6dp.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t_purchase")
    )
    conv = (
        v.join(p, "user_id", "left")
        .groupBy("user_id", "t_view")
        .agg(
            F.max(
                F.when(
                    (F.col("t_purchase") > F.col("t_view"))
                    & (
                        F.col("t_purchase")
                        <= F.col("t_view") + F.expr("INTERVAL 7 DAYS")
                    ),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
    )
    return conv.groupBy(
        F.date_trunc("month", "t_view").cast("date").alias("cohort_month")
    ).agg(
        F.count(F.lit(1)).alias("n_viewers"),
        F.sum("converted").cast("bigint").alias("n_converted_7d"),
        F.round(
            F.sum("converted").cast("double") / F.count(F.lit(1)), 6
        ).alias("cvr_7d"),
    )


@register(
    "revenue_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS day,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS rev_cents
      FROM orders GROUP BY 1
    ),
    cur AS (
      SELECT day, rev_cents,
             SUM(rev_cents) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx,
             ROW_NUMBER() OVER (ORDER BY day) AS k,
             SUM(rev_cents) OVER () AS total,
             COUNT(*) OVER () AS nd
      FROM daily
    ),
    cs AS (
      SELECT day, rev_cents,
             CAST(nd * pfx - k * total AS BIGINT) AS cusum_scaled
      FROM cur
    )
    SELECT day,
           CAST(rev_cents AS DOUBLE) / 100 AS revenue,
           cusum_scaled,
           abs(cusum_scaled) = MAX(abs(cusum_scaled)) OVER ()
             AS is_changepoint
    FROM cs
    """,
)
def revenue_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the daily revenue series: the
    cumulative sum of deviations from the series mean, S_k = Σ_{i≤k}
    (x_i − x̄), peaks (in |S|) at the most likely mean-shift point — the
    classic offline change-point locator a revenue monitor runs when a
    drift alarm fires. Every day is emitted with its CUSUM value and the
    argmax day flagged.

    Exactness: the whole statistic stays in integer cents — S_k is
    computed SCALED by n_days (n·prefix_k − k·total, avoiding the mean
    division entirely), so cumulative sums, the peak comparison, and the
    flag are all exact BIGINT arithmetic with no float accumulation
    anywhere; only the reported revenue column touches double (one cast
    of an exact value). Scale shape: the fact table reduces map-side to
    one row per DAY before the ordered windows run, so the unavoidable
    single-partition global-order window sees ~thousands of rows
    regardless of input size (the events_daily_anomalies discipline,
    plus an ordered prefix sum).
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    o = load_table(spark, sf_dir, "orders")
    cents = (dec("o_totalprice") * 100).cast("long")
    daily = o.groupBy(
        F.to_date("o_orderdate").cast("timestamp").alias("day")
    ).agg(F.sum(cents).alias("rev_cents"))
    w_ord = Window.orderBy("day")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cs = daily.select(
        "day",
        "rev_cents",
        (
            F.count(F.lit(1)).over(w_all) * F.sum("rev_cents").over(w_run)
            - F.row_number().over(w_ord) * F.sum("rev_cents").over(w_all)
        ).alias("cusum_scaled"),
    )
    return cs.select(
        "day",
        (F.col("rev_cents").cast("double") / 100).alias("revenue"),
        "cusum_scaled",
        (
            F.abs("cusum_scaled")
            == F.max(F.abs("cusum_scaled")).over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        ).alias("is_changepoint"),
    )


# ONE home for the repeat-purchase episode definition (first order opens
# an episode; second order = event; otherwise right-censored at the
# global max order date; o_orderkey tie-break) — shared by the KM risk
# table and its log-rank significance test so the two can never
# desynchronize. SQL fragment + Spark helper are twins.
_SQL_EPISODES = """ranked AS (
      SELECT o_custkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    firsts AS (SELECT o_custkey, o_orderdate AS f FROM ranked WHERE rn = 1),
    seconds AS (SELECT o_custkey, o_orderdate AS s FROM ranked WHERE rn = 2),
    g AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
    episodes AS (
      SELECT fi.o_custkey,
             CASE WHEN se.s IS NOT NULL THEN 1 ELSE 0 END AS is_event,
             CASE WHEN se.s IS NOT NULL
                  THEN date_diff('day', fi.f, se.s)
                  ELSE date_diff('day', fi.f, (SELECT maxd FROM g))
             END AS t_days
      FROM firsts fi LEFT JOIN seconds se USING (o_custkey)
    )"""


def _repeat_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_custkey, is_event, t_days), one row per customer — the Spark
    twin of _SQL_EPISODES. The <=2-rows-per-customer ranked relation is
    persisted: firsts AND seconds consume it, and unpersisted the
    per-customer window shuffle over the fact table would execute
    twice."""
    o = load_table(spark, sf_dir, "orders")
    ranked = (
        o.select(
            "o_custkey",
            "o_orderdate",
            F.row_number()
            .over(
                Window.partitionBy("o_custkey").orderBy(
                    "o_orderdate", "o_orderkey"
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") <= 2)
        .persist()
    )
    firsts = ranked.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("o_orderdate").alias("f")
    )
    seconds = ranked.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("o_orderdate").alias("s")
    )
    g = o.agg(F.max("o_orderdate").alias("maxd"))
    return (
        firsts.join(seconds, "o_custkey", "left")
        .crossJoin(F.broadcast(g))
        .select(
            "o_custkey",
            F.when(F.col("s").isNotNull(), 1).otherwise(0).alias("is_event"),
            F.when(F.col("s").isNotNull(), F.datediff("s", "f"))
            .otherwise(F.datediff("maxd", "f"))
            .alias("t_days"),
        )
    )


@register(
    "repeat_purchase_survival",
    oracle=f"""
    WITH {_SQL_EPISODES},
    b AS (
      SELECT CAST(t_days // 30 AS INT) AS month_bucket,
             SUM(is_event) AS d, SUM(1 - is_event) AS c
      FROM episodes GROUP BY 1
    ),
    r AS (
      SELECT month_bucket, d, c,
             (SELECT COUNT(*) FROM episodes)
               - COALESCE(SUM(d + c) OVER (ORDER BY month_bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS at_risk
      FROM b
    )
    SELECT month_bucket,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events,
           CAST(c AS BIGINT) AS n_censored,
           ROUND(CAST(d AS DOUBLE) / at_risk, 6) AS hazard,
           ROUND(PRODUCT(1 - CAST(d AS DOUBLE) / at_risk)
                 OVER (ORDER BY month_bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS km_survival
    FROM r
    """,
)
def repeat_purchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival analysis of time-to-repeat-purchase: each
    customer's first order opens an episode that ends at their second
    order (event) or at the end of the observation window (right-censored
    — the single-order customers a naive repeat-rate metric silently
    drops). Emits the classic KM risk table per 30-day bucket: subjects
    at risk, events, censored, interval hazard d/r, and the KM survival
    curve Π(1 − d_j/r_j) — "probability a customer has not yet
    reordered by month k".

    Determinism: counts (d, c, at-risk) are exact integers; hazard is a
    single double division of exact ints; the KM product multiplies the
    ~bucket-count doubles SEQUENTIALLY in bucket order on both engines
    (window product over an ordered running frame — no tree
    re-association), so the 6dp rounding matches. Censoring-in-interval
    keeps the subject at risk for that interval (the standard actuarial
    convention), encoded identically in the 1-PRECEDING window frame.

    Scale shape: one per-customer window (same shuffle key the RFM and
    retention queries use) reduced to ≤2 rows/customer map-side, then a
    ~tens-of-rows bucket table where the ordered windows run — the
    global-order window never sees fact-table cardinality.
    """
    subj = _repeat_episodes(spark, sf_dir)
    b = subj.groupBy(
        F.expr("CAST(t_days DIV 30 AS INT)").alias("month_bucket")
    ).agg(
        F.sum("is_event").alias("d"),
        F.sum(1 - F.col("is_event")).alias("c"),
    )
    n_subj = subj.agg(F.count(F.lit(1)).alias("n_subjects"))
    w_prev = Window.orderBy("month_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.orderBy("month_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = b.crossJoin(F.broadcast(n_subj)).select(
        "month_bucket",
        "d",
        "c",
        (
            F.col("n_subjects")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        ).alias("at_risk"),
    )
    return r.select(
        "month_bucket",
        F.col("at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.col("c").cast("bigint").alias("n_censored"),
        F.round(F.col("d").cast("double") / F.col("at_risk"), 6).alias(
            "hazard"
        ),
        F.round(
            F.product(
                1 - F.col("d").cast("double") / F.col("at_risk")
            ).over(w_run),
            6,
        ).alias("km_survival"),
    )


@register(
    "attribution_position_based",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
             value,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS journey
      FROM events
    ),
    touches AS (
      SELECT user_id, journey, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, journey
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, journey) AS m
      FROM e WHERE event_type <> 'purchase'
    ),
    purchases AS (
      SELECT user_id, journey,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS val_cents
      FROM e WHERE event_type = 'purchase'
    ),
    credits AS (
      SELECT t.event_type AS attributed_channel,
             CASE
               WHEN t.m = 1 THEN p.val_cents
               WHEN t.m = 2 AND t.rn = 1 THEN p.val_cents * 50 // 100
               WHEN t.m = 2 THEN p.val_cents - p.val_cents * 50 // 100
               WHEN t.rn = 1 OR t.rn = t.m THEN p.val_cents * 40 // 100
               ELSE (p.val_cents - 2 * (p.val_cents * 40 // 100)) // (t.m - 2)
                    + CASE WHEN t.rn = t.m - 1
                           THEN (p.val_cents - 2 * (p.val_cents * 40 // 100))
                                - (t.m - 2)
                                  * ((p.val_cents
                                      - 2 * (p.val_cents * 40 // 100))
                                     // (t.m - 2))
                           ELSE 0 END
             END AS credit_cents
      FROM touches t JOIN purchases p
        ON t.user_id = p.user_id AND t.journey = p.journey
      UNION ALL
      SELECT 'direct', p.val_cents
      FROM purchases p
      WHERE NOT EXISTS (SELECT 1 FROM touches t
                        WHERE t.user_id = p.user_id
                          AND t.journey = p.journey)
    )
    SELECT attributed_channel,
           COUNT(*) AS n_credits,
           CAST(SUM(credit_cents) AS DOUBLE) / 100 AS attributed_value
    FROM credits
    GROUP BY attributed_channel
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each purchase's
    credit is split across ALL touches in its journey — 40% to the first
    touch, 40% to the last, 20% shared by the middles (100% / 50-50 for
    1- and 2-touch journeys; 'direct' for touchless purchases) — the
    standard multi-touch complement to attribution_last_touch's
    winner-takes-all.

    Journeys segment at purchases: an event belongs to journey k when k
    purchases precede it in the user's (ts, event_id) order, so each
    journey carries at most one purchase and purchases never credit
    across each other.

    Exactness: credit is computed in integer CENTS with DIV splits — the
    40% shares truncate, the middle pool divides evenly, and the integer
    remainder is assigned deterministically to the last middle touch, so
    every journey's credits sum to the purchase value EXACTLY (no
    float-share leakage) and both engines agree bit-for-bit. Scale: all
    three windows and both joins share the user-id shuffle key (one
    exchange); the rollup is a 5-row hash aggregate.
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    ev = load_table(spark, sf_dir, "events")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    e = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1)
            ).over(w_prev),
            F.lit(0),
        ).alias("journey"),
    )
    wj = Window.partitionBy("user_id", "journey")
    touches = (
        e.filter(F.col("event_type") != "purchase")
        .select(
            "user_id",
            "journey",
            "event_type",
            F.row_number().over(wj.orderBy("ts", "event_id")).alias("rn"),
            F.count(F.lit(1)).over(wj).alias("m"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "journey",
        (dec("value") * 100).cast("long").alias("val_cents"),
    )
    first_last = F.expr("val_cents * 40 DIV 100")
    pool = F.col("val_cents") - 2 * first_last
    base = F.expr("(val_cents - 2 * (val_cents * 40 DIV 100)) DIV (m - 2)")
    credit = (
        F.when(F.col("m") == 1, F.col("val_cents"))
        .when(
            (F.col("m") == 2) & (F.col("rn") == 1),
            F.expr("val_cents * 50 DIV 100"),
        )
        .when(
            F.col("m") == 2,
            F.col("val_cents") - F.expr("val_cents * 50 DIV 100"),
        )
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("m")), first_last)
        .otherwise(
            base
            + F.when(
                F.col("rn") == F.col("m") - 1,
                pool - (F.col("m") - 2) * base,
            ).otherwise(0)
        )
    )
    credited = touches.join(purchases, ["user_id", "journey"]).select(
        F.col("event_type").alias("attributed_channel"),
        credit.alias("credit_cents"),
    )
    direct = (
        purchases.join(
            touches.select("user_id", "journey"),
            ["user_id", "journey"],
            "left_anti",
        )
        .select(
            F.lit("direct").alias("attributed_channel"),
            F.col("val_cents").alias("credit_cents"),
        )
    )
    return (
        credited.unionByName(direct)
        .groupBy("attributed_channel")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            (F.sum("credit_cents").cast("double") / 100).alias(
                "attributed_value"
            ),
        )
    )


# Markov attribution: fixed-point iteration count and integer scales,
# shared by the Spark DP and its recursive-CTE oracle twin. 32 steps of
# a substochastic chain bound the truncation error by (max row mass)^32
# — far below the 1e-6 probability grid itself.
_MARKOV_ITERS = 32
_MARKOV_PROB_SCALE = 1_000_000  # transition probs in micro-units
_MARKOV_P_SCALE = 1_000_000_000_000  # state values in pico-units


@register(
    "attribution_markov_removal",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
             COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS journey
      FROM events
    ),
    touches AS (
      SELECT user_id, journey, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, journey
                                ORDER BY ts, event_id) AS rn
      FROM e WHERE event_type <> 'purchase'
    ),
    purch AS (
      SELECT user_id, journey FROM e WHERE event_type = 'purchase'
    ),
    seq AS (
      SELECT t.user_id, t.journey, t.event_type AS src_ch, t.rn,
             LEAD(t.event_type) OVER (PARTITION BY t.user_id, t.journey
                                      ORDER BY t.rn) AS nxt
      FROM touches t
    ),
    trans_raw AS (
      SELECT s.src_ch AS src,
             COALESCE(s.nxt, CASE WHEN p.user_id IS NOT NULL THEN 'CONV'
                                  ELSE 'DROP' END) AS dst
      FROM seq s LEFT JOIN purch p
        ON s.user_id = p.user_id AND s.journey = p.journey
      UNION ALL
      SELECT 'START', src_ch FROM seq WHERE rn = 1
      UNION ALL
      SELECT 'START', 'CONV' FROM purch p
      WHERE NOT EXISTS (SELECT 1 FROM touches t
                        WHERE t.user_id = p.user_id
                          AND t.journey = p.journey)
    ),
    c AS (SELECT src, dst, COUNT(*) AS n FROM trans_raw GROUP BY 1, 2),
    tot AS (SELECT src, SUM(n) AS tot FROM c GROUP BY 1),
    -- MATERIALIZED: the recursive term references m/scenarios every
    -- iteration; inlined, DuckDB re-runs the whole window pipeline 32x
    -- (measured 84 s -> sub-second with materialization)
    m AS MATERIALIZED (
      SELECT c.src, c.dst,
             CAST((c.n * {_MARKOV_PROB_SCALE}) // t.tot AS BIGINT) AS prob
      FROM c JOIN tot t ON c.src = t.src
      UNION ALL SELECT 'CONV', 'CONV', {_MARKOV_PROB_SCALE}
      UNION ALL SELECT 'DROP', 'DROP', {_MARKOV_PROB_SCALE}
    ),
    channels AS (SELECT DISTINCT event_type AS ch FROM touches),
    scenarios AS MATERIALIZED (
      SELECT 'base' AS scn, CAST(NULL AS VARCHAR) AS removed
      UNION ALL SELECT ch, ch FROM channels
    ),
    states AS (
      -- explicit DISTINCT over UNION ALL: inside WITH RECURSIVE, DuckDB
      -- treats a bare UNION between these branches as UNION ALL and the
      -- duplicated absorbing state doubled every p (caught by the
      -- oracle diff: base_conversion 1.88 > 1)
      SELECT DISTINCT state FROM (
        SELECT src AS state FROM m UNION ALL SELECT dst FROM m
      ) u
    ),
    it(t, scn, state, p) AS (
      SELECT 0, s.scn, st.state,
             CAST(CASE WHEN st.state = 'CONV' THEN {_MARKOV_P_SCALE}
                       ELSE 0 END AS BIGINT)
      FROM scenarios s CROSS JOIN states st
      UNION ALL
      SELECT q.t + 1, q.scn, m.src,
             CAST(SUM(CASE WHEN s.removed IS NOT NULL AND m.dst = s.removed
                           THEN 0 ELSE m.prob * q.p END)
                  // {_MARKOV_PROB_SCALE} AS BIGINT)
      FROM it q
      JOIN m ON m.dst = q.state
      JOIN scenarios s ON s.scn = q.scn
      WHERE q.t < {_MARKOV_ITERS}
      GROUP BY q.t + 1, q.scn, m.src
    ),
    fin AS (SELECT scn, p FROM it
            WHERE t = {_MARKOV_ITERS} AND state = 'START'),
    base AS (SELECT p AS pb FROM fin WHERE scn = 'base'),
    eff AS (
      SELECT scn AS channel, p AS prem,
             CAST(CASE WHEN (SELECT pb FROM base) = 0 THEN 0
                       ELSE (((SELECT pb FROM base) - p)
                             * {_MARKOV_PROB_SCALE})
                            // (SELECT pb FROM base) END AS BIGINT)
               AS eff_scaled
      FROM fin WHERE scn <> 'base'
    )
    SELECT channel,
           ROUND(CAST((SELECT pb FROM base) AS DOUBLE)
                 / {_MARKOV_P_SCALE}, 6) AS base_conversion,
           ROUND(CAST(prem AS DOUBLE) / {_MARKOV_P_SCALE}, 6)
             AS removal_conversion,
           ROUND(CAST(eff_scaled AS DOUBLE) / {_MARKOV_PROB_SCALE}, 6)
             AS removal_effect,
           CASE WHEN (SELECT SUM(eff_scaled) FROM eff) > 0
                THEN ROUND(CAST(eff_scaled AS DOUBLE)
                           / (SELECT SUM(eff_scaled) FROM eff), 6)
           END AS attribution_share
    FROM eff
    """,
)
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution: model user journeys as
    a first-order chain over channels (+ START/CONV/DROP absorbing
    states), then credit each channel by how much the overall conversion
    probability DROPS when walks into that channel are lost — the
    data-driven attribution standard that, unlike positional rules,
    rewards channels by their causal role in the transition structure.

    Exactness across engines: transition probabilities are integers in
    micro-units ((count·1e6) DIV total) and the conversion fixpoint runs
    {_MARKOV_ITERS} synchronous iterations of p ← (Σ_j m_ij·p_j) DIV 1e6
    with p in pico-units — every step is integer arithmetic, so the
    Spark DP and the DuckDB recursive-CTE twin agree bit-for-bit, and
    removal effects are integer-scaled before the (deterministic) double
    division into shares. Products stay under 2^63 by construction
    (prob ≤ 1e6, p ≤ 1e12, ≤7 states).

    Scale shape: journey segmentation + transition extraction is the
    user-key window pass every events operator shares, reduced map-side
    to a ≤(channels+3)² count matrix; ONLY that matrix (≤ ~50 cells — a
    metadata-sized, dimension-bounded collect, the PCA/BPE trainer
    contract) comes to the driver for the 32-step integer DP; results
    re-enter Spark as a createDataFrame for the final rounding
    projection. A 100 TB event log changes nothing but the one
    aggregation pass.
    """
    ev = load_table(spark, sf_dir, "events")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    e = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1)).over(w_prev),
            F.lit(0),
        ).alias("journey"),
    )
    wj = Window.partitionBy("user_id", "journey").orderBy("ts", "event_id")
    touches = e.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "journey",
        "event_type",
        F.row_number().over(wj).alias("rn"),
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "journey"
    )
    wr = Window.partitionBy("user_id", "journey").orderBy("rn")
    seq = touches.select(
        "user_id",
        "journey",
        F.col("event_type").alias("src_ch"),
        "rn",
        F.lead("event_type").over(wr).alias("nxt"),
    )
    purch_flag = purch.withColumn("purchased", F.lit(True))
    touch_trans = (
        seq.join(purch_flag, ["user_id", "journey"], "left")
        .select(
            F.col("src_ch").alias("src"),
            F.coalesce(
                "nxt",
                F.when(F.col("purchased"), "CONV").otherwise("DROP"),
            ).alias("dst"),
        )
    )
    start_trans = seq.filter(F.col("rn") == 1).select(
        F.lit("START").alias("src"), F.col("src_ch").alias("dst")
    )
    direct_trans = purch.join(
        touches.select("user_id", "journey"), ["user_id", "journey"],
        "left_anti",
    ).select(F.lit("START").alias("src"), F.lit("CONV").alias("dst"))
    counts = (
        touch_trans.unionByName(start_trans)
        .unionByName(direct_trans)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # dimension-bounded collect: (channels+3)^2 cells at most
    rows = counts.collect()
    tot: dict[str, int] = {}
    for r in rows:
        tot[r["src"]] = tot.get(r["src"], 0) + r["n"]
    m = [
        (r["src"], r["dst"], r["n"] * _MARKOV_PROB_SCALE // tot[r["src"]])
        for r in rows
    ]
    m.append(("CONV", "CONV", _MARKOV_PROB_SCALE))
    m.append(("DROP", "DROP", _MARKOV_PROB_SCALE))
    states = sorted({s for s, _, _ in m} | {d for _, d, _ in m})
    channels = sorted(
        {r["src"] for r in rows} - {"START", "CONV", "DROP"}
    )

    def converge(removed: str | None) -> int:
        p = {s: (_MARKOV_P_SCALE if s == "CONV" else 0) for s in states}
        for _ in range(_MARKOV_ITERS):
            p = {
                s: sum(
                    0 if (removed is not None and dst == removed)
                    else prob * p[dst]
                    for src, dst, prob in m
                    if src == s
                )
                // _MARKOV_PROB_SCALE
                for s in states
            }
        return p["START"]

    pb = converge(None)
    eff = []
    for ch in channels:
        prem = converge(ch)
        eff_scaled = (
            0 if pb == 0 else (pb - prem) * _MARKOV_PROB_SCALE // pb
        )
        eff.append((ch, pb, prem, eff_scaled))
    total_eff = sum(x[3] for x in eff)
    out = spark.createDataFrame(
        [(ch, pb_, prem, es, total_eff) for ch, pb_, prem, es in eff],
        "channel string, pb long, prem long, eff_scaled long, total long",
    )
    return out.select(
        "channel",
        F.round(
            F.col("pb").cast("double") / _MARKOV_P_SCALE, 6
        ).alias("base_conversion"),
        F.round(
            F.col("prem").cast("double") / _MARKOV_P_SCALE, 6
        ).alias("removal_conversion"),
        F.round(
            F.col("eff_scaled").cast("double") / _MARKOV_PROB_SCALE, 6
        ).alias("removal_effect"),
        F.when(
            F.col("total") > 0,
            F.round(
                F.col("eff_scaled").cast("double") / F.col("total"), 6
            ),
        ).alias("attribution_share"),
    )
