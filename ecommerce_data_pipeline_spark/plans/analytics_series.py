"""Time-series, survival and statistical-decomposition queries — the
"series/statistics" tier split out of ``plans/analytics.py`` (VERDICT r9
task #4: pure move, registration order preserved by importing this
module immediately after ``analytics`` in ``plans/__init__``; no
semantic change).

Contents (chronological, exactly as they lived in analytics.py):
seasonal decomposition, cohort LTV, Siegel trend, incremental join-view
merge, cross-correlation lags, log-rank survival, ACF/Ljung-Box,
Croston demand, generalized-ESD outliers, Holt level-trend smoothing.

Timestamp parity contract: see plans/analytics.py docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans._helpers import (
    dec,
    dsum,
    rows_equal,
    sql_dsum,
)
from ecommerce_data_pipeline_spark.plans.analytics import (
    _SQL_EPISODES,
    _repeat_episodes,
)
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table

@register(
    "revenue_seasonal_decomposition",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS rev_cents
      FROM orders GROUP BY 1
    ),
    cur AS (
      SELECT d, rev_cents,
             CAST(CAST(d - DATE '1970-01-01' AS BIGINT) % 7 AS INT)
               AS dow_idx,
             SUM(rev_cents) OVER (ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win7,
             COUNT(*) OVER (ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt7
      FROM daily
    ),
    det AS (
      SELECT *, CASE WHEN cnt7 = 7
                     THEN 7 * rev_cents - win7 END AS detrended_x7
      FROM cur
    ),
    sdow AS (
      SELECT dow_idx,
             SUM(detrended_x7) AS s_sum,
             COUNT(detrended_x7) AS s_cnt
      FROM det WHERE detrended_x7 IS NOT NULL
      GROUP BY dow_idx
    )
    SELECT CAST(det.d AS TIMESTAMP) AS day,
           det.dow_idx,
           CAST(det.rev_cents AS DOUBLE) / 100 AS revenue,
           CASE WHEN det.cnt7 = 7
                THEN ROUND(CAST(det.win7 AS DOUBLE) / 700, 6) END AS trend,
           ROUND(CAST(s.s_sum AS DOUBLE) / s.s_cnt / 700, 6) AS seasonal,
           CASE WHEN det.detrended_x7 IS NOT NULL
                THEN ROUND((CAST(det.detrended_x7 AS DOUBLE)
                            - CAST(s.s_sum AS DOUBLE) / s.s_cnt) / 700, 6)
           END AS residual
    FROM det LEFT JOIN sdow s ON det.dow_idx = s.dow_idx
    """,
    tags=("extension", "analytics", "seasonality"),
)
def revenue_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily revenue
    series: trend = centered 7-day moving average (NULL at the 3-day
    edges, the textbook convention), seasonal = day-of-week mean of the
    detrended series, residual = observed − trend − seasonal — the
    decomposition a forecasting pipeline runs before model fitting, and
    the anomaly monitor's deseasonalized baseline.

    Exactness scaffolding: revenue stays in integer cents; the detrended
    series is carried SCALED by 7 (7·rev − window-sum — exact BIGINT, no
    division), so the per-dow seasonal aggregation sums exact integers
    and each output value is at most two double divisions away from
    exact ints, written with identical parenthesization in both engines.
    dow is days-since-epoch mod 7 (the seasonal_naive_backtest
    engine-neutral key — no locale/ISO ambiguity).

    Scale shape: fact table reduces map-side to one row per day; the
    ordered moving-average window and the 7-row dow join run on that
    calendar-bounded relation (the revenue_cusum_changepoint exemption
    argument); the seasonal table broadcasts back.
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    o = load_table(spark, sf_dir, "orders")
    cents = (dec("o_totalprice") * 100).cast("long")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(cents).alias("rev_cents")
    )
    epoch = F.lit("1970-01-01").cast("date")
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    cur = daily.select(
        "d",
        "rev_cents",
        (F.datediff("d", epoch) % 7).cast("int").alias("dow_idx"),
        F.sum("rev_cents").over(w7).alias("win7"),
        F.count(F.lit(1)).over(w7).alias("cnt7"),
    )
    det = cur.withColumn(
        "detrended_x7",
        F.when(
            F.col("cnt7") == 7, 7 * F.col("rev_cents") - F.col("win7")
        ),
    )
    sdow = (
        det.filter(F.col("detrended_x7").isNotNull())
        .groupBy("dow_idx")
        .agg(
            F.sum("detrended_x7").alias("s_sum"),
            F.count("detrended_x7").alias("s_cnt"),
        )
    )
    return det.join(F.broadcast(sdow), "dow_idx", "left").select(
        F.col("d").cast("timestamp").alias("day"),
        "dow_idx",
        (F.col("rev_cents").cast("double") / 100).alias("revenue"),
        F.when(
            F.col("cnt7") == 7,
            F.round(F.col("win7").cast("double") / 700, 6),
        ).alias("trend"),
        F.round(
            F.col("s_sum").cast("double") / F.col("s_cnt") / 700, 6
        ).alias("seasonal"),
        F.when(
            F.col("detrended_x7").isNotNull(),
            F.round(
                (
                    F.col("detrended_x7").cast("double")
                    - F.col("s_sum").cast("double") / F.col("s_cnt")
                )
                / 700,
                6,
            ),
        ).alias("residual"),
    )


@register(
    "cohort_ltv_curve",
    oracle="""
    WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS val_cents
      FROM orders
    ),
    cohort AS (
      SELECT o_custkey,
             CAST(date_trunc('month', MIN(d)) AS DATE) AS cohort_month
      FROM o GROUP BY o_custkey
    ),
    sized AS (
      SELECT cohort_month, COUNT(*) AS cohort_customers
      FROM cohort GROUP BY 1
    ),
    monthly AS (
      SELECT c.cohort_month,
             CAST((year(o.d) - year(c.cohort_month)) * 12
                  + (month(o.d) - month(c.cohort_month)) AS INT)
               AS month_offset,
             SUM(o.val_cents) AS rev_cents,
             COUNT(DISTINCT o.o_custkey) AS n_active
      FROM o JOIN cohort c ON o.o_custkey = c.o_custkey
      GROUP BY 1, 2
    )
    SELECT CAST(m.cohort_month AS TIMESTAMP) AS cohort_month,
           m.month_offset,
           s.cohort_customers,
           m.n_active,
           CAST(m.rev_cents AS DOUBLE) / 100 AS period_revenue,
           CAST(SUM(m.rev_cents) OVER (PARTITION BY m.cohort_month
                  ORDER BY m.month_offset
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 100 AS cumulative_revenue,
           ROUND(CAST(SUM(m.rev_cents) OVER (PARTITION BY m.cohort_month
                   ORDER BY m.month_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / s.cohort_customers / 100, 6)
             AS ltv_per_customer
    FROM monthly m JOIN sized s ON m.cohort_month = s.cohort_month
    """,
    tags=("extension", "analytics", "cohort"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value accumulation triangle: customers grouped
    by first-order month, their revenue rolled up per month offset and
    ACCUMULATED along each cohort row — LTV-per-customer at offset k is
    the curve a growth model fits (the value complement to
    user_retention_cohorts' activity counts).

    Exactness: revenue accumulates as integer cents end-to-end (the
    cumulative window sums exact BIGINTs — association-free), published
    to double once per output column; month offsets are integer
    year/month arithmetic (no interval semantics to disagree on).
    Scale: cohort assignment is the |customers|-sized min-aggregate;
    the cumulative window partitions BY COHORT over ≤ months² triangle
    rows — never fact-sized, never a global window.
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        (dec("o_totalprice") * 100).cast("long").alias("val_cents"),
    )
    cohort = o.groupBy("o_custkey").agg(
        F.trunc(F.min("d"), "month").alias("cohort_month")
    )
    sized = cohort.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_customers")
    )
    monthly = (
        o.join(cohort, "o_custkey")
        .groupBy(
            "cohort_month",
            (
                (F.year("d") - F.year("cohort_month")) * 12
                + (F.month("d") - F.month("cohort_month"))
            )
            .cast("int")
            .alias("month_offset"),
        )
        .agg(
            F.sum("val_cents").alias("rev_cents"),
            F.count_distinct("o_custkey").alias("n_active"),
        )
    )
    w_run = Window.partitionBy("cohort_month").orderBy("month_offset").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        monthly.join(F.broadcast(sized), "cohort_month")
        .select(
            F.col("cohort_month").cast("timestamp").alias("cohort_month"),
            "month_offset",
            "cohort_customers",
            "n_active",
            (F.col("rev_cents").cast("double") / 100).alias("period_revenue"),
            (F.sum("rev_cents").over(w_run).cast("double") / 100).alias(
                "cumulative_revenue"
            ),
            F.round(
                F.sum("rev_cents").over(w_run).cast("double")
                / F.col("cohort_customers")
                / 100,
                6,
            ).alias("ltv_per_customer"),
        )
    )


@register(
    # Named for the estimator it actually implements: SIEGEL repeated
    # median (median of per-day median slopes), not Theil-Sen (median
    # over ALL pairwise slopes). Registered as `theilsen_revenue_trend`
    # through r5; renamed in r6 per ADVICE before the name ossified
    # (never driver-graded under the old name; BASELINE.md maps the one
    # BENCH_r05 row).
    "siegel_revenue_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT)
               AS x,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS c
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT a.x AS x1, (b.c - a.c) * 1.0 / (b.x - a.x) AS s
      FROM daily a JOIN daily b ON a.x < b.x
    ),
    ranked AS (
      SELECT x1, s,
             row_number() OVER (PARTITION BY x1 ORDER BY s) AS rn,
             COUNT(*) OVER (PARTITION BY x1) AS cnt
      FROM pairs
    ),
    med_i AS (
      SELECT x1, AVG(s) AS m FROM ranked
      WHERE rn IN (CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT),
                   CAST(FLOOR((cnt + 2) / 2.0) AS BIGINT))
      GROUP BY x1
    ),
    mr AS (
      SELECT m,
             row_number() OVER (ORDER BY m) AS rn,
             COUNT(*) OVER () AS cnt
      FROM med_i
    ),
    slope AS (
      SELECT AVG(m) AS sc FROM mr
      WHERE rn IN (CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT),
                   CAST(FLOOR((cnt + 2) / 2.0) AS BIGINT))
    ),
    resid AS (
      SELECT daily.x, daily.c / 100.0 - (slope.sc / 100.0) * daily.x AS r,
             slope.sc AS sc
      FROM daily CROSS JOIN slope
    ),
    rr AS (
      SELECT r, sc,
             row_number() OVER (ORDER BY r) AS rn,
             COUNT(*) OVER () AS cnt
      FROM resid
    )
    SELECT CAST(MAX(cnt) AS BIGINT) AS n_days,
           round(MAX(sc) / 100.0, 6) AS slope_per_day,
           round(AVG(r), 6) AS intercept_19920101
    FROM rr
    WHERE rn IN (CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT),
                 CAST(FLOOR((cnt + 2) / 2.0) AS BIGINT))
    """,
    tags=("extension", "analytics", "robust-regression"),
)
def siegel_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-median robust trend of daily revenue: for each
    day i take the median slope to every other day, then the median of
    those per-day medians — the 50%-breakdown robust regression a
    forecasting pipeline fits when the OLS trend
    (price_size_regression_by_brand) would chase promo/outage outliers.
    Intercept = median residual at the chosen slope, anchored at the
    calendar origin 1992-01-01 (data-independent constant).

    Scale shape: the fact table reduces map-side to one row per
    calendar day, so the O(days^2) pair enumeration (a broadcast
    inequality self-join) and the per-day median windows are bounded by
    the CALENDAR (~2.4k days -> ~3M pairs) at any corpus size — the
    revenue_cusum_changepoint exemption argument. The inner medians
    partition by day; only the final medians-of-~2.4k-rows run global.

    Engine parity: revenue stays in integer cents; every slope is one
    BIGINT-difference division (deterministic double), medians select
    by exact rank (avg of the two middle values — no interpolation
    ambiguity), and the only derived floats (residuals) multiply the
    shared slope double by an integer. Both engines therefore agree
    bit-wise before the 6dp output rounding.
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    o = load_table(spark, sf_dir, "orders")
    cents = (dec("o_totalprice") * 100).cast("long")
    daily = (
        o.groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
            )
            .cast("long")
            .alias("x")
        )
        .agg(F.sum(cents).alias("c"))
        .persist()
    )
    a, b = daily.alias("a"), daily.alias("b")
    # broadcast pinned: AQE built either side from cached-stage stats
    # timing (BuildLeft reshuffled ~2.9M pairs); b is one row per day
    pairs = a.join(F.broadcast(b), F.col("a.x") < F.col("b.x")).select(
        F.col("a.x").alias("x1"),
        (
            (F.col("b.c") - F.col("a.c"))
            * F.lit(1.0)
            / (F.col("b.x") - F.col("a.x"))
        ).alias("s"),
    )

    def _median_ranks(cnt):
        lo = F.floor((cnt + 1) / F.lit(2.0)).cast("long")
        hi = F.floor((cnt + 2) / F.lit(2.0)).cast("long")
        return lo, hi

    wp = Window.partitionBy("x1").orderBy("s")
    wpc = Window.partitionBy("x1")
    ranked = pairs.select(
        "x1",
        "s",
        F.row_number().over(wp).alias("rn"),
        F.count(F.lit(1)).over(wpc).alias("cnt"),
    )
    lo, hi = _median_ranks(F.col("cnt"))
    med_i = (
        ranked.filter((F.col("rn") == lo) | (F.col("rn") == hi))
        .groupBy("x1")
        .agg(F.avg("s").alias("m"))
    )
    wg = Window.orderBy("m")
    wgc = Window.partitionBy()
    mr = med_i.select(
        "m",
        F.row_number().over(wg).alias("rn"),
        F.count(F.lit(1)).over(wgc).alias("cnt"),
    )
    lo, hi = _median_ranks(F.col("cnt"))
    slope = mr.filter((F.col("rn") == lo) | (F.col("rn") == hi)).agg(
        F.avg("m").alias("sc")
    )
    resid = daily.crossJoin(F.broadcast(slope)).select(
        (
            F.col("c") / F.lit(100.0)
            - (F.col("sc") / F.lit(100.0)) * F.col("x")
        ).alias("r"),
        "sc",
    )
    wr = Window.orderBy("r")
    rr = resid.select(
        "r",
        "sc",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wgc).alias("cnt"),
    )
    lo, hi = _median_ranks(F.col("cnt"))
    return rr.filter((F.col("rn") == lo) | (F.col("rn") == hi)).agg(
        F.max("cnt").cast("long").alias("n_days"),
        F.round(F.max("sc") / 100.0, 6).alias("slope_per_day"),
        F.round(F.avg("r"), 6).alias("intercept_19920101"),
    )


_IVM_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


@register(
    "incremental_join_view_merge",
    # Oracle = the FULL recompute of the join view; the Spark side must
    # reconstruct it from the IVM algebra, so a driver match proves
    # state + ΔL⋈O + L⋈ΔO + ΔL⋈ΔO == recompute.
    oracle=f"""
    SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS o_month,
           o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM({_IVM_REV.replace('l_', 'l.l_')}) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
    tags=("extension", "incremental", "join"),
)
def incremental_join_view_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (classical IVM algebra):
    the view V = lineitem ⋈ orders aggregated to (order month, priority)
    revenue. With both base tables split into (old, delta) at the fixed
    cutoff 1997-01-01 — lineitem by l_shipdate, orders by o_orderdate,
    deliberately DIFFERENT clocks so every cross term is non-empty —
    the engine rebuilds V as

        V = L₀⋈O₀ (state) + ΔL⋈O₀ + L₀⋈ΔO + ΔL⋈ΔO

    with each term partially aggregated to the view key before a final
    merge-by-sum, and the oracle (the monolithic recompute) proves the
    algebra exact. incremental_rollup_merge is the single-table version
    of this contract; this is what a foreachBatch maintainer of an
    ENRICHED warehouse table must compute per micro-batch — at 100 TB
    the three delta terms touch only delta-sized join inputs (the state
    term is a materialized table read, simulated here by recomputing
    it), so maintenance cost scales with the batch, not the history.

    Exactness: revenue partials accumulate in DECIMAL(18,2)-derived
    exact decimals and the merge sums partials — associative by
    construction, so the final double equals the recompute bit-wise.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("date")
    rev = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - dec("l_discount")
    )

    l_old = li.filter(F.col("l_shipdate") < cutoff)
    l_new = li.filter(F.col("l_shipdate") >= cutoff)
    o_old = o.filter(F.col("o_orderdate") < cutoff)
    o_new = o.filter(F.col("o_orderdate") >= cutoff)

    def term(lpart: DataFrame, opart: DataFrame) -> DataFrame:
        return (
            lpart.join(
                opart,
                lpart["l_orderkey"] == opart["o_orderkey"],
            )
            .groupBy(
                F.date_trunc("month", "o_orderdate").alias("o_month"),
                "o_orderpriority",
            )
            .agg(
                F.count(F.lit(1)).alias("n_partial"),
                F.sum(rev).alias("rev_partial"),
            )
        )

    terms = (
        term(l_old, o_old)  # state (materialized in production)
        .unionByName(term(l_new, o_old))  # ΔL ⋈ O₀
        .unionByName(term(l_old, o_new))  # L₀ ⋈ ΔO
        .unionByName(term(l_new, o_new))  # ΔL ⋈ ΔO
    )
    return terms.groupBy("o_month", "o_orderpriority").agg(
        F.sum("n_partial").cast("long").alias("n_lines"),
        F.sum("rev_partial").cast("double").alias("revenue"),
    )


_XCORR_SEG_X = "BUILDING"
_XCORR_SEG_Y = "MACHINERY"
_XCORR_MAX_LAG = 7


@register(
    "revenue_xcorr_lags",
    oracle=f"""
    WITH daily AS (
      SELECT c_mktsegment AS segment, CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('{_XCORR_SEG_X}', '{_XCORR_SEG_Y}')
      GROUP BY 1, 2
    ),
    x AS (SELECT day, cents FROM daily WHERE segment = '{_XCORR_SEG_X}'),
    y AS (SELECT day, cents FROM daily WHERE segment = '{_XCORR_SEG_Y}'),
    lags AS (SELECT CAST(unnest(generate_series(-{_XCORR_MAX_LAG},
                                                {_XCORR_MAX_LAG})) AS INT)
               AS lag)
    SELECT l.lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(corr(CAST(x.cents AS DOUBLE), CAST(y.cents AS DOUBLE)), 6)
             AS xcorr
    FROM x CROSS JOIN lags l
    JOIN y ON y.day = x.day + l.lag
    GROUP BY l.lag
    """,
    tags=("extension", "analytics", "timeseries"),
)
def revenue_xcorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two segments' daily revenue
    series (lags -7..+7): does BUILDING demand lead or trail MACHINERY
    demand, and by how many days — the lead-lag diagnostic behind
    demand-transfer and promotion-spillover analyses. corr(x_t, y_{t+l})
    per lag over the days where both series exist at that offset.

    Exactness: each day's revenue is an exact BIGINT cents sum (the
    revenue_cusum_changepoint discipline), so both engines correlate
    IDENTICAL values — the only float work is the corr moments, rounded
    to 6dp (precedent: stats_correlation, stable under repartitioning).
    Scale shape: the fact table reduces map-side to one row per
    (segment, day) first; the lag fan-out is a broadcast of the 15-row
    lag relation onto the calendar-bounded series, and the shifted join
    keys on (day + lag) — everything after the first aggregate is
    calendar-sized however large the input.
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = (dec("o_totalprice") * 100).cast("long")
    daily = (
        o.join(
            F.broadcast(
                c.select("c_custkey", "c_mktsegment").filter(
                    F.col("c_mktsegment").isin(_XCORR_SEG_X, _XCORR_SEG_Y)
                )
            ),
            o["o_custkey"] == c["c_custkey"],
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(F.sum(cents).alias("cents"))
    )
    x = daily.filter(F.col("segment") == _XCORR_SEG_X).select(
        F.col("day").alias("x_day"), F.col("cents").alias("x_cents")
    )
    y = daily.filter(F.col("segment") == _XCORR_SEG_Y).select(
        F.col("day").alias("y_day"), F.col("cents").alias("y_cents")
    )
    lags = spark.range(1).select(
        F.explode(
            F.lit(list(range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1)))
        ).alias("lag")
    )
    pairs = x.crossJoin(F.broadcast(lags)).join(
        y, F.col("y_day") == F.date_add("x_day", F.col("lag").cast("int"))
    )
    return pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.corr(
                F.col("x_cents").cast("double"), F.col("y_cents").cast("double")
            ),
            6,
        ).alias("xcorr"),
    )


_LR_SEG_A = "BUILDING"
_LR_SEG_B = "MACHINERY"
# chi-square 1df critical value at alpha=0.05, a shared literal in both
# engines (the DCG-gain-table discipline: no quantile function in graded
# arithmetic)
_LR_CHI2_CRIT = 3.8414588206941


@register(
    "logrank_survival_test",
    oracle=f"""
    WITH {_SQL_EPISODES},
    subj AS (
      SELECT c.c_mktsegment AS grp, e.is_event,
             CAST(e.t_days // 30 AS INT) AS b
      FROM episodes e
      JOIN customer c ON e.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('{_LR_SEG_A}', '{_LR_SEG_B}')
    ),
    per AS (
      SELECT grp, b, SUM(is_event) AS d, SUM(1 - is_event) AS c
      FROM subj GROUP BY grp, b
    ),
    grid AS (
      SELECT buckets.b, groups.grp,
             coalesce(per.d, 0) AS d, coalesce(per.c, 0) AS c
      FROM (SELECT DISTINCT b FROM per) buckets
      CROSS JOIN (SELECT DISTINCT grp FROM per) groups
      LEFT JOIN per ON per.b = buckets.b AND per.grp = groups.grp
    ),
    tot AS (SELECT grp, SUM(d + c) AS n FROM grid GROUP BY grp),
    risk AS (
      SELECT grid.b, grid.grp, grid.d,
             tot.n - coalesce(SUM(grid.d + grid.c) OVER (
               PARTITION BY grid.grp ORDER BY grid.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r
      FROM grid JOIN tot ON grid.grp = tot.grp
    ),
    wide AS (
      SELECT b,
             SUM(CASE WHEN grp = '{_LR_SEG_A}' THEN d ELSE 0 END) AS d1,
             SUM(CASE WHEN grp = '{_LR_SEG_A}' THEN r ELSE 0 END) AS n1,
             SUM(CASE WHEN grp = '{_LR_SEG_B}' THEN d ELSE 0 END) AS d2,
             SUM(CASE WHEN grp = '{_LR_SEG_B}' THEN r ELSE 0 END) AS n2
      FROM risk GROUP BY b
    ),
    terms AS (
      SELECT b, d1,
             (d1 + d2) * CAST(n1 AS DOUBLE) / (n1 + n2) AS e1,
             CASE WHEN n1 + n2 > 1
                  THEN (d1 + d2) * (CAST(n1 AS DOUBLE) / (n1 + n2))
                       * (CAST(n2 AS DOUBLE) / (n1 + n2))
                       * (n1 + n2 - d1 - d2) / (n1 + n2 - 1)
                  ELSE 0.0 END AS v1
      FROM wide WHERE d1 + d2 > 0
    ),
    folded AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_event_buckets,
             list_aggregate(list(d1 - e1 ORDER BY b), 'sum') AS ome,
             list_aggregate(list(v1 ORDER BY b), 'sum') AS var1
      FROM terms
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM tot
            WHERE grp = '{_LR_SEG_A}') AS n_group_a,
           (SELECT CAST(n AS BIGINT) FROM tot
            WHERE grp = '{_LR_SEG_B}') AS n_group_b,
           n_event_buckets,
           ROUND(ome, 6) AS o_minus_e,
           ROUND(var1, 6) AS var_logrank,
           ROUND(ome * ome / var1, 6) AS chi2,
           ome * ome / var1 > {_LR_CHI2_CRIT} AS significant_5pct
    FROM folded
    """,
    tags=("extension", "stats", "survival", "hypothesis-test"),
)
def logrank_survival_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing two segments'
    time-to-repeat-purchase survival curves — the inference companion
    to repeat_purchase_survival's descriptive KM table: per 30-day
    bucket with events, observed group-A events minus the expected
    count under the null (hypergeometric mean d*n1/n), variance
    d*(n1/n)*(n2/n)*(n-d)/(n-1), chi2 = (sum O-E)^2 / sum Var with one
    degree of freedom; significance compares the UNROUNDED statistic to
    the 1df critical value inlined as a shared literal.

    Exactness: at-risk counts, events, and the bucket grid (dense outer
    product of observed buckets x both groups, so a bucket where only
    one group has activity still contributes the other's at-risk mass)
    are all integers; the two float folds run in BUCKET order on both
    engines (sort_array / list ORDER BY — sequential, no tree
    re-association). Scale shape: the per-customer episode extraction
    is the KM query's partitioned window; everything after is
    bucket-count-sized.
    """
    customer = load_table(spark, sf_dir, "customer")
    subj = (
        _repeat_episodes(spark, sf_dir)
        .join(
            F.broadcast(
                customer.select("c_custkey", "c_mktsegment").filter(
                    F.col("c_mktsegment").isin(_LR_SEG_A, _LR_SEG_B)
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("grp"),
            "is_event",
            F.expr("CAST(t_days DIV 30 AS INT)").alias("b"),
        )
    )
    per = subj.groupBy("grp", "b").agg(
        F.sum("is_event").alias("d"),
        F.sum(1 - F.col("is_event")).alias("c"),
    ).persist()  # feeds the bucket grid, the group spine, and totals
    buckets = per.select("b").distinct()
    groups = per.select("grp").distinct()
    grid = (
        buckets.crossJoin(F.broadcast(groups))
        .join(per, ["b", "grp"], "left")
        .select(
            "b",
            "grp",
            F.coalesce("d", F.lit(0)).alias("d"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    tot = grid.groupBy("grp").agg(F.sum(F.col("d") + F.col("c")).alias("n"))
    w_prev = (
        Window.partitionBy("grp")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = grid.join(F.broadcast(tot), "grp").select(
        "b",
        "grp",
        "d",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        ).alias("r"),
    )
    wide = risk.groupBy("b").agg(
        F.sum(F.when(F.col("grp") == _LR_SEG_A, F.col("d")).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("grp") == _LR_SEG_A, F.col("r")).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("grp") == _LR_SEG_B, F.col("d")).otherwise(0)).alias("d2"),
        F.sum(F.when(F.col("grp") == _LR_SEG_B, F.col("r")).otherwise(0)).alias("n2"),
    ).filter(F.col("d1") + F.col("d2") > 0)
    n_all = F.col("n1") + F.col("n2")
    d_all = F.col("d1") + F.col("d2")
    e1 = d_all * F.col("n1").cast("double") / n_all
    v1 = F.when(
        n_all > 1,
        d_all
        * (F.col("n1").cast("double") / n_all)
        * (F.col("n2").cast("double") / n_all)
        * (n_all - d_all)
        / (n_all - 1),
    ).otherwise(F.lit(0.0))
    terms = wide.select("b", (F.col("d1") - e1).alias("ome_t"), v1.alias("v1"))

    from ecommerce_data_pipeline_spark.plans._helpers import ordered_fold

    folded = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_event_buckets"),
        ordered_fold("b", F.col("ome_t")).alias("ome"),
        ordered_fold("b", F.col("v1")).alias("var1"),
    )
    tot_a = tot.filter(F.col("grp") == _LR_SEG_A).select(
        F.col("n").cast("long").alias("n_group_a")
    )
    tot_b = tot.filter(F.col("grp") == _LR_SEG_B).select(
        F.col("n").cast("long").alias("n_group_b")
    )
    chi2 = F.col("ome") * F.col("ome") / F.col("var1")
    return (
        F.broadcast(tot_a)
        .crossJoin(F.broadcast(tot_b))
        .crossJoin(F.broadcast(folded))
        .select(
            "n_group_a",
            "n_group_b",
            "n_event_buckets",
            F.round("ome", 6).alias("o_minus_e"),
            F.round("var1", 6).alias("var_logrank"),
            F.round(chi2, 6).alias("chi2"),
            (chi2 > _LR_CHI2_CRIT).alias("significant_5pct"),
        )
    )


_ACF_MAX_LAG = 14


@register(
    "acf_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS cents
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS t, cents FROM daily
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(cents) AS s FROM idx),
    ssd AS (
      SELECT SUM((CAST(idx.cents AS HUGEINT) * tot.n - tot.s)
                 * (CAST(idx.cents AS HUGEINT) * tot.n - tot.s)) AS ssd
      FROM idx CROSS JOIN tot
    ),
    lags AS (SELECT CAST(unnest(generate_series(1, {_ACF_MAX_LAG})) AS INT)
               AS lag),
    num AS (
      SELECT l.lag,
             COUNT(*) AS n_pairs,
             SUM((CAST(a.cents AS HUGEINT) * tot.n - tot.s)
                 * (CAST(b.cents AS HUGEINT) * tot.n - tot.s)) AS num
      FROM idx a
      CROSS JOIN lags l
      JOIN idx b ON b.t = a.t + l.lag
      CROSS JOIN tot
      GROUP BY l.lag
    ),
    acf AS (
      SELECT num.lag, num.n_pairs,
             CAST(num.num AS DOUBLE) / CAST(ssd.ssd AS DOUBLE) AS r
      FROM num CROSS JOIN ssd
    )
    SELECT acf.lag,
           CAST(acf.n_pairs AS BIGINT) AS n_pairs,
           ROUND(acf.r, 6) AS acf,
           ROUND(tot.n * (tot.n + 2.0)
                 * SUM(acf.r * acf.r / (tot.n - acf.lag))
                   OVER (ORDER BY acf.lag
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS ljung_box_q
    FROM acf CROSS JOIN tot
    """,
    tags=("extension", "analytics", "timeseries", "hypothesis-test"),
)
def acf_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1..14 with the
    cumulative Ljung-Box Q statistic — the whiteness diagnostic run on
    forecast residuals and the standard first look before fitting any
    time-series model (complements revenue_xcorr_lags' CROSS-series
    view with the series' own memory).

    Exactness: centered products are computed on n-SCALED integers
    ((n*x_t - S)(n*x_{{t+k}} - S) — the n^2 factor cancels in the
    num/SSD ratio), so numerator and denominator are exact
    HUGEINT/DECIMAL(38,0) aggregates and each r_k is ONE double
    division; Q accumulates the 14 r^2/(n-k) terms through an ordered
    14-row window. Scale shape: the fact table reduces to the calendar-
    bounded daily table first; the lag fan-out is a broadcast 14-row
    relation joined on day index (the revenue_xcorr_lags pattern).
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    o = load_table(spark, sf_dir, "orders")
    cents = (dec("o_totalprice") * 100).cast("long")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents).alias("cents")
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("t"), "cents"
    ).persist()  # feeds tot, ssd, and both sides of the lag join
    tot = idx.agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
    d38 = "decimal(38,0)"
    dev = lambda c: F.col(c).cast(d38) * F.col("n") - F.col("s")  # noqa: E731
    ssd = (
        idx.crossJoin(F.broadcast(tot))
        .select((dev("cents") * dev("cents")).alias("sq"))
        .agg(F.sum("sq").alias("ssd"))
    )
    lags = spark.range(1).select(
        F.explode(F.lit(list(range(1, _ACF_MAX_LAG + 1)))).alias("lag")
    )
    a = idx.select(F.col("t").alias("ta"), F.col("cents").alias("ca"))
    b = idx.select(F.col("t").alias("tb"), F.col("cents").alias("cb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("tb") == F.col("ta") + F.col("lag"))
        .crossJoin(F.broadcast(tot))
        .select(
            "lag",
            (
                (F.col("ca").cast(d38) * F.col("n") - F.col("s"))
                * (F.col("cb").cast(d38) * F.col("n") - F.col("s"))
            ).alias("prod"),
        )
        .groupBy("lag")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("prod").alias("num"))
    )
    acf = num.crossJoin(F.broadcast(ssd)).select(
        "lag",
        "n_pairs",
        (F.col("num").cast("double") / F.col("ssd").cast("double")).alias("r"),
    )
    w_run = Window.orderBy("lag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return acf.crossJoin(F.broadcast(tot)).select(
        "lag",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round("r", 6).alias("acf"),
        F.round(
            F.col("n")
            * (F.col("n") + 2.0)
            * F.sum(
                F.col("r") * F.col("r") / (F.col("n") - F.col("lag"))
            ).over(w_run),
            6,
        ).alias("ljung_box_q"),
    )


_CROSTON_MIN_DATES = 3  # need >=2 intervals to smooth


@register(
    "croston_intermittent_demand",
    oracle=f"""
    WITH d AS (
      SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS dem
      FROM lineitem GROUP BY 1, 2
    ),
    arr AS (
      SELECT l_partkey,
             COUNT(*) AS n_dates,
             list(dem ORDER BY day) AS sizes,
             list(day ORDER BY day) AS days
      FROM d GROUP BY l_partkey
      HAVING COUNT(*) >= {_CROSTON_MIN_DATES}
    ),
    iv AS (
      SELECT l_partkey, n_dates, sizes,
             [CAST(date_diff('day', days[CAST(i AS INT) - 1],
                             days[CAST(i AS INT)]) AS DOUBLE)
              for i in generate_series(2, len(days))] AS gaps
      FROM arr
    ),
    sm AS (
      SELECT l_partkey, n_dates,
             list_reduce(sizes, (acc, x) -> acc * 0.75 + x * 0.25) AS z,
             list_reduce(gaps, (acc, x) -> acc * 0.75 + x * 0.25) AS p
      FROM iv
    )
    SELECT l_partkey,
           CAST(n_dates AS BIGINT) AS n_demand_dates,
           ROUND(z, 6) AS smoothed_size,
           ROUND(p, 6) AS smoothed_interval_days,
           ROUND(z / p, 6) AS croston_daily_rate
    FROM sm
    """,
    tags=("extension", "analytics", "forecast", "timeseries"),
)
def croston_intermittent_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (Croston 1972) for INTERMITTENT demand — the
    retail-standard forecast for slow movers, where ordinary smoothing
    (holt_linear_forecast) collapses toward zero between sparse demand
    events: smooth demand SIZES and inter-demand INTERVALS separately
    (only over the dates demand actually occurred), forecast rate =
    size / interval. Per part with at least _CROSTON_MIN_DATES (3)
    demand dates.

    Exactness: the ewma_user_value discipline — per-part arrays sorted
    by day, folds seeded with the first element, DYADIC smoothing
    weights (0.75/0.25 are exact doubles, per the architecture's
    lambda=0.5 rule) applied by identically-ordered list_reduce/
    F.aggregate on both engines; demand sizes and day gaps enter the
    folds as exact integers cast once to double. Scale shape: one hash
    aggregate to (part, day), one to per-part arrays (bounded by each
    part's demand-date count), zero windows and zero joins.
    """
    li = load_table(spark, sf_dir, "lineitem")
    d = li.groupBy(
        "l_partkey", F.to_date("l_shipdate").alias("day")
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("double").alias("dem"))
    arr = (
        d.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_dates"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "dem"))),
                lambda s: s["dem"],
            ).alias("sizes"),
            F.array_sort(F.collect_list("day")).alias("days"),
        )
        .filter(F.col("n_dates") >= _CROSTON_MIN_DATES)
    )
    gaps = F.transform(
        F.sequence(F.lit(2), F.size("days")),
        lambda i: F.datediff(
            F.element_at("days", i), F.element_at("days", i - 1)
        ).cast("double"),
    )
    smooth = lambda col: F.aggregate(  # noqa: E731
        F.slice(col, F.lit(2), F.size(col) - 1),
        F.element_at(col, 1),
        lambda acc, x: acc * F.lit(0.75) + x * F.lit(0.25),
    )
    sm = arr.select(
        "l_partkey",
        "n_dates",
        smooth(F.col("sizes")).alias("z"),
        smooth(gaps).alias("p"),
    )
    return sm.select(
        "l_partkey",
        F.col("n_dates").cast("long").alias("n_demand_dates"),
        F.round("z", 6).alias("smoothed_size"),
        F.round("p", 6).alias("smoothed_interval_days"),
        F.round(F.col("z") / F.col("p"), 6).alias("croston_daily_rate"),
    )


# ---------------------------------------------------------------------------
# Generalized ESD (Rosner) outlier test over daily revenue (r9) — the
# formal iterative outlier TEST next to the MAD gate / CUSUM locator:
# up to k suspected outliers are trimmed one at a time (most extreme
# |x − mean| of the REMAINING series), and the number of genuine
# outliers is the largest i whose test statistic R_i exceeds the
# critical value lambda_i.

_ESD_K = 5
# Rosner critical values for alpha = 0.05, computed OFFLINE in pure
# Python (statistics.NormalDist inverse CDF + first-order Cornish-
# Fisher t correction) for the REFERENCE calendar n = 2399 — the
# sf0.01+ orders day grid (1995..2001); see GRADING_BACKLOG r9 and the
# huber/attribution_markov baked-constant precedent. lambda's
# n-sensitivity is tiny at this scale (n=1094 -> 4.08, n=2399 -> 4.25;
# <0.1% within +-500 days of the reference), and baking keeps the
# cross-engine arithmetic free of inverse-CDF evaluations, which have
# no exactness guarantee across libms. Recalibration = constant swap.
_ESD_LAMBDA = (4.248075, 4.247979, 4.247883, 4.247787, 4.247691)


def _esd_r_sql(x: str, n: str, s: str, ss: str) -> str:
    """Test statistic R = |x − mean| / sd from exact BIGINT moments —
    ONE textual home per engine side; /,*,−,abs,sqrt are all exactly
    rounded IEEE ops, so identical operation order => identical bits
    (the huber normal-equation discipline; sqrt is in the safe set,
    unlike exp/log/pow)."""
    mean = f"(CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE))"
    return (
        f"abs(CAST({x} AS DOUBLE) - {mean}) / "
        f"sqrt((CAST({ss} AS DOUBLE) - {mean} * CAST({s} AS DOUBLE))"
        f" / (CAST({n} AS DOUBLE) - 1.0))"
    )


def _esd_oracle() -> str:
    ctes = [
        """daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS day,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    )""",
        "a0 AS (SELECT day, rev_cents, rev_cents // 1000 AS rev_q"
        " FROM daily)",
    ]
    selects = []
    for i in range(1, _ESD_K + 1):
        lam = _ESD_LAMBDA[i - 1]
        r = _esd_r_sql("rev_q", "n", "s", "ss")
        ctes.append(
            f"""s{i} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev_q) AS BIGINT) AS s,
             CAST(SUM(rev_q * rev_q) AS BIGINT) AS ss
      FROM a{i - 1}
    )"""
        )
        ctes.append(
            f"""c{i} AS (
      SELECT day, rev_cents, rev_q, n, s, ss
      FROM a{i - 1} CROSS JOIN s{i}
      ORDER BY abs(rev_q * n - s) DESC, day LIMIT 1
    )"""
        )
        ctes.append(
            f"""a{i} AS (
      SELECT a{i - 1}.day, a{i - 1}.rev_cents, a{i - 1}.rev_q
      FROM a{i - 1}
      WHERE a{i - 1}.day NOT IN (SELECT day FROM c{i})
    )"""
        )
        selects.append(
            f"""SELECT CAST({i} AS INT) AS round_i, day,
             CAST(rev_cents AS DOUBLE) / 100 AS revenue,
             round({r}, 6) AS r_stat,
             CAST({lam!r} AS DOUBLE) AS lambda_crit,
             round({r}, 6) > {lam!r} AS exceeds
      FROM c{i}"""
        )
    ctes.append(
        "res AS (" + "\n      UNION ALL\n      ".join(selects) + ")"
    )
    ctes.append(
        """mx AS (
      SELECT CAST(MAX(CASE WHEN exceeds THEN round_i ELSE 0 END) AS INT)
               AS n_outliers
      FROM res
    )"""
    )
    return (
        "WITH " + ",\n    ".join(ctes) + """
    SELECT round_i, day, revenue, r_stat, lambda_crit, exceeds,
           n_outliers, round_i <= n_outliers AS is_esd_outlier
    FROM res CROSS JOIN mx
    """
    )


def _esd_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ESD test series: ONE fact aggregate to the calendar-bounded
    (day, rev_cents, rev_q) daily relation (~2.4k rows at any SF)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = (dec("o_totalprice") * 100).cast("long")
    return (
        orders.groupBy(
            F.to_date("o_orderdate").cast("timestamp").alias("day")
        )
        .agg(F.sum(cents).alias("rev_cents"))
        .withColumn("rev_q", F.expr("rev_cents div 1000"))
    )


def _esd_r_col() -> F.Column:
    """The R_i test statistic — mirrors _esd_r_sql exactly: same op
    order on the same bits (IEEE determinism depends on it)."""
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    return F.abs(F.col("rev_q").cast("double") - mean) / F.sqrt(
        (F.col("ss").cast("double") - mean * F.col("s").cast("double"))
        / (F.col("n").cast("double") - F.lit(1.0))
    )


def _generalized_esd_unrolled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The pre-r14 fully-relational ESD form (5 moment aggregates + 5
    TakeOrdered picks + 4 anti-join localCheckpoints), RETAINED as the
    parity reference for the driver-fold rewrite — the pq_encode
    vectorized/fold precedent. Not registered; exercised by the r14
    parity pytest."""
    daily = _esd_daily(spark, sf_dir).localCheckpoint()
    active = daily
    per_round = []
    for i in range(1, _ESD_K + 1):
        lam = _ESD_LAMBDA[i - 1]
        stats = active.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("rev_q").cast("long").alias("s"),
            F.sum(F.col("rev_q") * F.col("rev_q"))
            .cast("long")
            .alias("ss"),
        )
        cand = (
            active.crossJoin(F.broadcast(stats))
            .orderBy(
                F.abs(F.col("rev_q") * F.col("n") - F.col("s")).desc(),
                "day",
            )
            .limit(1)
        )
        per_round.append(
            cand.select(
                F.lit(i).cast("int").alias("round_i"),
                "day",
                (F.col("rev_cents").cast("double") / 100).alias("revenue"),
                F.round(_esd_r_col(), 6).alias("r_stat"),
                F.lit(lam).alias("lambda_crit"),
                (F.round(_esd_r_col(), 6) > F.lit(lam)).alias("exceeds"),
            )
        )
        if i < _ESD_K:
            active = active.join(
                F.broadcast(cand.select("day")), "day", "left_anti"
            ).localCheckpoint()
    res = per_round[0]
    for df in per_round[1:]:
        res = res.unionByName(df)
    mx = res.agg(
        F.max(F.when(F.col("exceeds"), F.col("round_i")).otherwise(0))
        .cast("int")
        .alias("n_outliers")
    )
    return res.crossJoin(F.broadcast(mx)).select(
        "round_i",
        "day",
        "revenue",
        "r_stat",
        "lambda_crit",
        "exceeds",
        "n_outliers",
        (F.col("round_i") <= F.col("n_outliers")).alias("is_esd_outlier"),
    )


@register(
    "generalized_esd_outlier_test",
    oracle=_esd_oracle(),
    tags=("extension", "analytics", "anomaly", "robust-statistics"),
)
def generalized_esd_outlier_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rosner's generalized ESD test on the daily revenue series: k = 5
    trim rounds, each removing the most extreme remaining day (argmax
    |x·n − S| — an EXACT integer ordering equal to |x − mean|'s, so the
    removal sequence can never diverge between engines; ties break on
    day), with test statistic R_i from exact BIGINT moments and baked
    critical values (see _ESD_LAMBDA). The declared outlier count is
    the LARGEST i with R_i > lambda_i — the property that makes ESD
    robust to masking, where a plain z-score gate stops at the first
    swamped round.

    Exactness: daily revenue accumulates as DECIMAL->BIGINT cents; the
    TEST series is the $10-quantized rev_cents div 1000 (integer div on
    both engines — the statistic is scale-invariant and quantization
    keeps SS = Sum(x^2) BIGINT-safe: ~2.4e13 at sf0.01, safe through
    ~sf30; beyond, recentre by a fixed constant — the huber bound
    discipline); R_i is one shared-text double expression over
    exactly-rounded IEEE ops (_esd_r_sql), rounded 6dp BEFORE the
    lambda comparison on both engines (the decile-bin gotcha).

    Scale shape (r14 driver-fold): ONE fact aggregate builds the
    calendar-bounded daily relation (~2.4k rows of 3 integers at ANY
    corpus scale — bounded by the calendar, like the theilsen slope
    histogram), collected ONCE; the k trim-round SELECTIONS are a pure
    integer Python fold over those rows (argmax |x·n − S|, day
    tie-break — no floats, so nothing to diverge), and the published
    float columns are computed back in Spark by the identical
    expression text as the retained unrolled form
    (_generalized_esd_unrolled; bit-parity pinned by the r14 pytest).
    Job count: 31 → ~4 (collect + the 5-row certificate fold)."""
    # r14 driver-fold (VERDICT r13 item 4, guide §5): the five trim
    # rounds previously replayed as 5 moment aggregates + 5
    # TakeOrdered(1) picks + 4 anti-join localCheckpoints over the
    # materialized daily relation — 31 Spark jobs of pure barrier
    # latency. The daily relation is CALENDAR-bounded (~2.4k rows of 3
    # integers at ANY corpus scale — the theilsen size-invariance
    # argument), so the trim-round SELECTION runs on the driver instead:
    # one collect, then a pure-INTEGER Python loop (argmax |x·n − S| with
    # day tie-break — candidate choice never touches a float, so there
    # is no cross-engine fold parity to argue). Every published FLOAT
    # (revenue, r_stat, exceeds) is still computed by the same Spark
    # expression text as before, from the same exact integer inputs, so
    # the IEEE bit pattern is unchanged — pinned by
    # tests/test_round14.py::test_generalized_esd_driver_fold_matches_unrolled
    # against the retained unrolled form below.
    rows = _esd_daily(spark, sf_dir).collect()
    active = [(r["day"], r["rev_cents"], r["rev_q"]) for r in rows]
    picked = []  # (round_i, day, rev_cents, rev_q, n, s, ss, lambda)
    for i in range(1, _ESD_K + 1):
        n = len(active)
        s = sum(rq for _, _, rq in active)
        ss = sum(rq * rq for _, _, rq in active)
        # argmax |rev_q*n - s|, ties -> smallest day (exact ints)
        cand = min(active, key=lambda t: (-abs(t[2] * n - s), t[0]))
        picked.append(
            (i, cand[0], cand[1], cand[2], n, s, ss, _ESD_LAMBDA[i - 1])
        )
        active.remove(cand)
    res = spark.createDataFrame(
        picked,
        "round_i int, day timestamp, rev_cents long, rev_q long, "
        "n long, s long, ss long, lambda_crit double",
    ).select(
        "round_i",
        "day",
        (F.col("rev_cents").cast("double") / 100).alias("revenue"),
        F.round(_esd_r_col(), 6).alias("r_stat"),
        "lambda_crit",
        (F.round(_esd_r_col(), 6) > F.col("lambda_crit")).alias("exceeds"),
    )
    mx = res.agg(
        F.max(
            F.when(F.col("exceeds"), F.col("round_i")).otherwise(0)
        )
        .cast("int")
        .alias("n_outliers")
    )
    return res.crossJoin(F.broadcast(mx)).select(
        "round_i",
        "day",
        "revenue",
        "r_stat",
        "lambda_crit",
        "exceeds",
        "n_outliers",
        (F.col("round_i") <= F.col("n_outliers")).alias("is_esd_outlier"),
    )


# ---------------------------------------------------------------------------
# Holt double-exponential smoothing (level + trend) per segment (r9) —
# the recursive-forecast member of the time-series tier next to
# seasonal_naive_backtest (non-recursive) and croston (demand): the fold
# state is (level, trend), updated per day with fixed DYADIC smoothing
# constants, so every arithmetic step is an exactly-rounded IEEE op and
# the whole 1.7k-step recursion is bit-identical cross-engine.

_HOLT_ALPHA = 0.25  # level smoothing — dyadic: *0.25 / *0.75 are single
_HOLT_BETA = 0.125  # trend smoothing — IEEE multiplies, no decimal dust


def _holt_sql() -> str:
    # NOT list_reduce: DuckDB 1.0's list_reduce evaluates struct_pack
    # fields with the accumulator REBOUND IN PLACE (a later field reads
    # the newly-written value of an earlier one — probed empirically:
    # sae := acc.tr returns the NEW tr), so a multi-field recursion
    # silently diverges. A recursive CTE over the day index has
    # standard semantics and mirrors the Spark fold 1:1.
    prev = "CASE WHEN h.i = 1 THEN x.v - h.lvl ELSE h.tr END"
    lvl = (
        f"CAST({_HOLT_ALPHA!r} AS DOUBLE) * x.v + "
        f"CAST({1 - _HOLT_ALPHA!r} AS DOUBLE) * (h.lvl + {prev})"
    )
    return f"""
    WITH RECURSIVE daily AS (
      SELECT c_mktsegment AS segment, CAST(o_orderdate AS DATE) AS day,
             CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS DOUBLE) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    idx AS (
      SELECT segment, v,
             ROW_NUMBER() OVER (PARTITION BY segment ORDER BY day) AS i,
             CAST(COUNT(*) OVER (PARTITION BY segment) AS BIGINT)
               AS n_days
      FROM daily
    ),
    holt AS (
      SELECT segment, i, n_days, v AS lvl,
             CAST(0.0 AS DOUBLE) AS tr, CAST(0.0 AS DOUBLE) AS sae
      FROM idx WHERE i = 1
      UNION ALL
      SELECT x.segment, x.i, x.n_days,
             {lvl} AS lvl,
             CAST({_HOLT_BETA!r} AS DOUBLE) * (({lvl}) - h.lvl)
               + CAST({1 - _HOLT_BETA!r} AS DOUBLE) * ({prev}) AS tr,
             h.sae + abs(x.v - (h.lvl + {prev})) AS sae
      FROM holt h JOIN idx x
        ON x.segment = h.segment AND x.i = h.i + 1
    )
    SELECT segment, n_days,
           round(lvl / 100, 4) AS level_end,
           round(tr / 100, 4) AS trend_end,
           round((lvl + CAST(7 AS DOUBLE) * tr) / 100, 4) AS forecast_7d,
           CASE WHEN n_days > 1
                THEN round(sae / (CAST(n_days AS DOUBLE)
                                  - CAST(1.0 AS DOUBLE)) / 100, 4)
                ELSE NULL END AS mae_1step
    FROM holt WHERE i = n_days
    """


@register(
    "holt_winters_level_trend",
    oracle=_holt_sql(),
    tags=("extension", "analytics", "forecast"),
)
def holt_winters_level_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing over each segment's daily
    revenue series: level_t = alpha*x_t + (1-alpha)(level+trend),
    trend_t = beta*(level_t - level) + (1-beta)*trend, initialized the
    textbook way (l1 = x1, b1 = x2 - x1), with the one-step-ahead MAE
    accumulated inside the same fold. Emits the final level/trend, the
    7-day-ahead forecast level + 7*trend, and the backtest MAE —
    comparable against seasonal_naive_backtest's error.

    Cross-engine exactness WITHOUT unrolling 1.7k CTE rounds: the
    recursion folds over the day-ordered array via F.aggregate /
    list_reduce with a same-type struct accumulator, and every step is
    +, -, *, / on doubles with DYADIC constants (0.25/0.75/0.125/0.875)
    — all exactly-rounded IEEE ops in an identical textual order on
    both engines, so 1.7k chained roundings still land on the same
    bits (the ordered_fold discipline extended to a 2-state recursion).
    The day series v is the exact BIGINT cent total cast once to
    double (< 2^53, lossless).

    Scale shape: one fact aggregate to (segment, day) — calendar x
    segment bounded (~12k rows) — then a per-segment collect_list of
    <= 2.4k structs inside the aggregation buffer (dimension-bounded,
    the ordered_fold contract: NEVER over fact rows) and a 5-row
    result. The mae guard (n_days > 1) keeps a one-day segment NULL on
    both engines instead of Spark-NULL vs DuckDB-inf (the huber
    degenerate-case discipline)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cents = (dec("o_totalprice") * 100).cast("long")
    daily = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(F.sum(cents).cast("double").alias("v"))
    )
    elem = lambda v: F.struct(  # noqa: E731 — one-expression adapter
        v.alias("lvl"),
        F.lit(0.0).alias("tr"),
        F.lit(0.0).alias("sae"),
        F.lit(1).cast("long").alias("n"),
    )
    series = daily.groupBy("segment").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "v"))),
            lambda s: elem(s["v"]),
        ).alias("xs"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )

    def merge(acc, e):
        prev = F.when(acc["n"] == 1, e["lvl"] - acc["lvl"]).otherwise(
            acc["tr"]
        )
        lvl = F.lit(_HOLT_ALPHA) * e["lvl"] + F.lit(1 - _HOLT_ALPHA) * (
            acc["lvl"] + prev
        )
        return F.struct(
            lvl.alias("lvl"),
            (
                F.lit(_HOLT_BETA) * (lvl - acc["lvl"])
                + F.lit(1 - _HOLT_BETA) * prev
            ).alias("tr"),
            (acc["sae"] + F.abs(e["lvl"] - (acc["lvl"] + prev))).alias(
                "sae"
            ),
            (acc["n"] + F.lit(1).cast("long")).alias("n"),
        )

    folded = series.select(
        "segment",
        "n_days",
        F.aggregate(
            F.slice(F.col("xs"), F.lit(2), F.size("xs") - 1),
            F.element_at("xs", 1),
            merge,
        ).alias("st"),
    )
    return folded.select(
        "segment",
        "n_days",
        F.round(F.col("st.lvl") / 100, 4).alias("level_end"),
        F.round(F.col("st.tr") / 100, 4).alias("trend_end"),
        F.round(
            (F.col("st.lvl") + F.lit(7.0) * F.col("st.tr")) / 100, 4
        ).alias("forecast_7d"),
        F.when(
            F.col("n_days") > 1,
            F.round(
                F.col("st.sae")
                / (F.col("n_days").cast("double") - F.lit(1.0))
                / 100,
                4,
            ),
        ).alias("mae_1step"),
    )




# ---------------------------------------------------------------------------
# Page-Hinkley drift statistic (r11) — the sequential mean-shift
# detector of the series tier (Page 1954; Hinkley 1971): the CUSUM
# twin that tracks deviations from the RUNNING mean instead of a fixed
# reference, so it needs no training window. Published two-sided: the
# increase gap max_t (m_t − min_{s<=t} m_s) and the decrease gap
# max_t (max_{s<=t} m_s − m_t), each with its earliest achieving day.


@register(
    "page_hinkley_drift_daily",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS x
      FROM orders GROUP BY 1
    ),
    pre AS MATERIALIZED (
      SELECT day, x,
             ROW_NUMBER() OVER (ORDER BY day) AS t,
             SUM(x) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM daily
    ),
    dev AS MATERIALIZED (
      SELECT day,
             CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / CAST(t AS DOUBLE)
               AS dv
      FROM pre
    ),
    m AS MATERIALIZED (
      SELECT day,
             SUM(dv) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
      FROM dev
    ),
    g AS MATERIALIZED (
      SELECT day,
             m - MIN(m) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gi,
             MAX(m) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m AS gd
      FROM m
    ),
    tops AS (SELECT MAX(gi) AS max_gi, MAX(gd) AS max_gd FROM g)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           round(tops.max_gi / 100.0, 6) AS ph_increase_dollars,
           (SELECT MIN(day) FROM g WHERE g.gi = tops.max_gi)
             AS increase_day,
           round(tops.max_gd / 100.0, 6) AS ph_decrease_dollars,
           (SELECT MIN(day) FROM g WHERE g.gd = tops.max_gd)
             AS decrease_day
    FROM tops
    """,
    tags=("extension", "timeseries", "drift"),
)
def page_hinkley_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided Page-Hinkley drift statistic over the daily-revenue
    series (delta = 0, so the raw drift magnitudes are published in
    dollars rather than a single alarm bool against an arbitrary
    lambda): m_t = running sum of (x_t − running-mean_t); the increase
    statistic is the largest climb of m above its running minimum, the
    decrease statistic the largest fall below its running maximum, each
    dated by the EARLIEST day achieving it.

    Float discipline: daily sums are exact integer cents; the per-day
    running mean is ONE pinned division of exact prefix integers; m and
    the running extrema accumulate through ordered sequential frames
    (the no-tree-reassociation precedent), so both engines produce
    bit-identical doubles — the argmax days are therefore selected on
    IDENTICAL values (min-day tie-break), never on rounded ones.

    Scale shape: the fact reduces map-side to one row per calendar day
    first; every window runs over that calendar-bounded relation (the
    revenue_cusum_changepoint exemption argument); the final stats are
    1-row aggregates plus two filtered min-day lookups."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg((F.sum(dec("o_totalprice") * 100)).cast("long").alias("x"))
        # consumed by four window passes + the n_days agg
        .localCheckpoint()
    )
    w_seq = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = daily.select(
        "day",
        "x",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.sum("x").over(w_seq).alias("s"),
    )
    dev = pre.select(
        "day",
        (
            F.col("x").cast("double")
            - F.col("s").cast("double") / F.col("t").cast("double")
        ).alias("dv"),
    )
    m = dev.select("day", F.sum("dv").over(w_seq).alias("m"))
    g = m.select(
        "day",
        (F.col("m") - F.min("m").over(w_seq)).alias("gi"),
        (F.max("m").over(w_seq) - F.col("m")).alias("gd"),
    ).localCheckpoint()  # consumed by the tops agg + two argmax filters
    tops = g.agg(
        F.max("gi").alias("max_gi"), F.max("gd").alias("max_gd")
    )
    inc_day = (
        g.crossJoin(F.broadcast(tops))
        .filter(F.col("gi") == F.col("max_gi"))
        .agg(F.min("day").alias("increase_day"))
    )
    dec_day = (
        g.crossJoin(F.broadcast(tops))
        .filter(F.col("gd") == F.col("max_gd"))
        .agg(F.min("day").alias("decrease_day"))
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        tops.crossJoin(F.broadcast(n_days))
        .crossJoin(F.broadcast(inc_day))
        .crossJoin(F.broadcast(dec_day))
        .select(
            "n_days",
            F.round(F.col("max_gi") / 100.0, 6).alias("ph_increase_dollars"),
            "increase_day",
            F.round(F.col("max_gd") / 100.0, 6).alias("ph_decrease_dollars"),
            "decrease_day",
        )
    )


# ---------------------------------------------------------------------------
# Theil-Sen trend estimator (r11) — the STANDARD robust-slope member
# next to siegel_revenue_trend (Theil 1950; Sen 1968): the median of
# ALL pairwise daily-revenue slopes (Siegel's repeated median — median
# of per-day medians — has a higher breakdown point but Theil-Sen is
# the textbook default, so the tier publishes both). Pair census is
# CALENDAR-quadratic (C(days, 2) ~ 3M at any corpus size — the
# kendall_tau_daily contract), never corpus-quadratic.


@register(
    "theilsen_daily_trend",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS x
      FROM orders GROUP BY 1
    ),
    pairs AS MATERIALIZED (
      SELECT CAST(b.x - a.x AS DOUBLE)
             / CAST(b.day - a.day AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    hist AS MATERIALIZED (
      SELECT slope, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY slope
    ),
    tot AS (SELECT SUM(cnt) AS n FROM hist),
    cum AS (
      SELECT slope, cnt,
             SUM(cnt) OVER (ORDER BY slope
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM hist
    ),
    med AS (
      SELECT SUM(CASE
        WHEN cum.c - cum.cnt < (t.n + 1) // 2 AND (t.n + 1) // 2 <= cum.c
             AND cum.c - cum.cnt < t.n // 2 + 1 AND t.n // 2 + 1 <= cum.c
          THEN 2 * cum.slope
        WHEN (cum.c - cum.cnt < (t.n + 1) // 2 AND (t.n + 1) // 2 <= cum.c)
             OR (cum.c - cum.cnt < t.n // 2 + 1 AND t.n // 2 + 1 <= cum.c)
          THEN cum.slope
      END) AS m2
      FROM cum CROSS JOIN tot t
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           CAST(tot.n AS BIGINT) AS n_pairs,
           round(med.m2 / 2.0 / 100.0, 6) AS theilsen_slope_dollars_per_day
    FROM tot CROSS JOIN med
    """,
    tags=("extension", "timeseries", "robust"),
)
def theilsen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope of the daily-revenue series: the exact median of
    all C(days, 2) pairwise slopes, published in dollars/day (6dp).

    Float discipline: each slope is ONE pinned division of exact
    integers (cents delta / day delta) — identical doubles on both
    engines; round-to-nearest is MONOTONE, so ordering the slope
    doubles is order-consistent with ordering the true rationals
    except among double-ties, and the median selects a VALUE at a
    position, for which ties are harmless. The median itself is the
    doubled two-middle-order-statistics sum over the slope histogram
    (the brown_forsythe machinery on a double-valued domain), halved
    once at the end.

    Scale shape: the fact reduces map-side to one row per calendar day
    FIRST; the pair self-join and the prefix window are bounded by the
    CALENDAR (C(days,2) — the kendall_tau_daily contract), not the
    corpus, so the single-reducer median window sees a fixed ~10^6-row
    relation at any data scale."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    from ecommerce_data_pipeline_spark.operators.similarity import (
        spread_for_fanout,
    )

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg((F.sum(dec("o_totalprice") * 100)).cast("long").alias("x"))
        .localCheckpoint()  # consumed by both sides of the pair join
    )
    # spread the STREAM side of the C(days,2) nested-loop fan-out (r13,
    # the spread_for_fanout rule): the checkpointed calendar relation is
    # one split, so the ~3M-pair enumeration and slope projection ran in
    # a single task regardless of cores — measured same-session at
    # sf0.1: 5.33 s -> 4.04 s (two-level bucketed prefix-sum for the
    # median was also prototyped and REJECTED: 10.9 s — the extra
    # bucket window + offset join costs more than the one single-task
    # sort over the calendar-bounded histogram saves, and that
    # histogram stays ~3M rows at ANY corpus scale)
    a = spread_for_fanout(
        daily.select(F.col("day").alias("d1"), F.col("x").alias("x1"))
    )
    b = daily.select(F.col("day").alias("d2"), F.col("x").alias("x2"))
    pairs = a.join(b, F.col("d1") < F.col("d2")).select(
        (
            (F.col("x2") - F.col("x1")).cast("double")
            / F.datediff(F.col("d2"), F.col("d1")).cast("double")
        ).alias("slope")
    )
    hist = pairs.groupBy("slope").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = hist.agg(F.sum("cnt").alias("n"))
    w_pre = Window.orderBy("slope").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("slope", "cnt", F.sum("cnt").over(w_pre).alias("c"))
    j = cum.crossJoin(F.broadcast(tot))
    lo = F.expr("(n + 1) div 2")
    hi = F.expr("n div 2 + 1")
    prev_c = F.col("c") - F.col("cnt")
    covers_lo = (prev_c < lo) & (lo <= F.col("c"))
    covers_hi = (prev_c < hi) & (hi <= F.col("c"))
    med = j.agg(
        F.sum(
            F.when(covers_lo & covers_hi, 2 * F.col("slope"))
            .when(covers_lo | covers_hi, F.col("slope"))
        ).alias("m2")
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        tot.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            F.col("n").cast("long").alias("n_pairs"),
            F.round(F.col("m2") / 2.0 / 100.0, 6).alias(
                "theilsen_slope_dollars_per_day"
            ),
        )
    )


@register(
    "page_hinkley_stream_certificate",
    # The r11 streaming Page-Hinkley twin graded end-to-end as DRIVER
    # signal (the mixture/decontam certificate pattern — until now the
    # fold was pinned only by pytests): the closed daily-revenue rows
    # stream file-per-trigger through the O(1)-state sequential fold,
    # the FINAL emitted row (the fold at full saturation) is compared
    # field-by-field against page_hinkley_drift_daily's batch relation
    # (bit-identical doubles by the pinned-division discipline), and a
    # post-saturation availableNow restart must append nothing.
    # n_days/n_triggers are data-derived (the oracle recomputes them
    # from orders), so the row is non-trivial; any fold/frontier/
    # state-restore defect flips a boolean -> driver hash mismatch.
    # Eager by design: the streaming run happens at call time.
    oracle="""
    SELECT (SELECT CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE))
                   AS BIGINT) FROM orders) AS n_days,
           (SELECT CAST(LEAST(3, COUNT(DISTINCT CAST(o_orderdate AS
                   DATE))) AS BIGINT) FROM orders) AS n_triggers,
           TRUE AS final_equals_batch,
           TRUE AS replay_stable
    """,
    tags=("streaming", "timeseries", "drift", "certificate", "eager"),
)
def page_hinkley_stream_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drain the closed daily series through ``streaming/pipeline.py::
    page_hinkley_stream`` (3 file-per-trigger chunks of whole days in
    calendar order) and grade the saturated fold against the batch
    twin plus a replay-stability restart (see oracle comment). The
    daily materialization here is certificate-side only and bounded by
    the CALENDAR (one row per day); the streaming operator itself
    never collects."""
    import os
    import tempfile

    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        fold_landing,
        land_chunks,
        page_hinkley_stream,
    )
    from pyspark.sql import Row
    from pyspark.sql.types import (
        DateType,
        LongType,
        StructField,
        StructType,
    )

    orders = load_table(spark, sf_dir, "orders")
    daily = sorted(
        (
            (
                r["day"].date() if hasattr(r["day"], "date") else r["day"],
                int(r["x"]),
            )
            for r in orders.groupBy(
                F.col("o_orderdate").cast("date").alias("day")
            )
            .agg(
                (F.sum(dec("o_totalprice")) * 100)
                .cast("long")
                .alias("x")
            )
            .collect()
        )
    )  # bounded: one row per calendar day
    n = len(daily)
    cuts = [daily[: n // 3], daily[n // 3 : 2 * n // 3], daily[2 * n // 3 :]]
    chunks = [c for c in cuts if c]
    schema = StructType(
        [StructField("day", DateType()), StructField("x", LongType())]
    )
    with tempfile.TemporaryDirectory(prefix="ph_stream_cert_") as root:
        landing, out, ckpt = (
            os.path.join(root, d) for d in ("landing", "out", "ckpt")
        )
        land_chunks(chunks, schema, landing)
        streamed = fold_landing(
            spark, page_hinkley_stream, landing, schema, out, ckpt
        )
        n_rows_first = streamed.count()
        final = streamed.orderBy(F.col("n_days").desc()).limit(1).drop(
            "series"
        )
        batch_rel = page_hinkley_drift_daily(spark, sf_dir).select(
            "n_days",
            "ph_increase_dollars",
            F.col("increase_day").cast("date").alias("increase_day"),
            "ph_decrease_dollars",
            F.col("decrease_day").cast("date").alias("decrease_day"),
        )
        final_equals_batch = rows_equal(final, batch_rel)
        # post-saturation restart: must append nothing
        replay_stable = (
            fold_landing(
                spark, page_hinkley_stream, landing, schema, out, ckpt
            ).count()
            == n_rows_first
        )
    return spark.createDataFrame(
        [
            Row(
                n_days=n,
                n_triggers=len(chunks),
                final_equals_batch=bool(final_equals_batch),
                replay_stable=bool(replay_stable),
            )
        ],
        "n_days bigint, n_triggers bigint, "
        "final_equals_batch boolean, replay_stable boolean",
    )
