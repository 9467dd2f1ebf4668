"""Hypothesis tests, experiment monitors and privacy-audit certificates —
the "tests/privacy" tier split out of ``plans/profiling.py`` (VERDICT r9
task #4: pure move, registration order preserved by importing this
module immediately after ``profiling`` in ``plans/__init__``; no
semantic change).

Contents (chronological, exactly as they lived in profiling.py):
ANOVA F, Mann-Whitney U, KS test, Kruskal-Wallis, two-proportion z,
Spearman rank correlation, CUPED adjustment, layout-values certificate,
Kendall tau-b, Benjamini-Hochberg FDR, O'Brien-Fleming group-sequential
monitor, median-of-means certificate, Mann-Kendall trend, t-closeness
audit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans._helpers import rows_equal
from ecommerce_data_pipeline_spark.plans.profiling import (
    _SQL_TWO_SEG_HIST,
    _two_segment_hist,
    parquet_layout_audit,
)
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table

@register(
    "anova_f_segments",
    oracle="""
    WITH m AS (
      SELECT c.c_mktsegment AS seg,
             COUNT(*) AS n,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))
                      * CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    ),
    folded AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n_total,
             list_aggregate(list(s1 ORDER BY seg), 'sum') AS s_all,
             list_aggregate(list(s2 ORDER BY seg), 'sum') AS q_all,
             list_aggregate(list(s1 * s1 / n ORDER BY seg), 'sum') AS sq_over_n
      FROM m
    )
    SELECT k, n_total,
           ROUND(sq_over_n - s_all * s_all / n_total, 4) AS ss_between,
           ROUND(q_all - sq_over_n, 4) AS ss_within,
           ROUND(((sq_over_n - s_all * s_all / n_total) / (k - 1))
                 / ((q_all - sq_over_n) / (n_total - k)), 6) AS f_stat
    FROM folded
    """,
)
def anova_f_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for order value across the five market
    segments — the k-group generalization of ab_welch_ttest_segments'
    pairwise view (one omnibus test instead of 10 pairwise ones, the
    standard first read before any pairwise drill-down).

    All moments (n, sum, sum-of-squares) accumulate in EXACT decimals
    (2dp prices -> 4dp squares); the between/within sums of squares
    combine the five per-group terms through segment-ORDERED folds so
    both engines add the same doubles in the same sequence, then two
    divisions form F. No window, no second pass: one conditional hash
    aggregate plus a five-row reduction.
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    m = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("s1"),
            F.sum(dec("o_totalprice") * dec("o_totalprice"))
            .cast("double")
            .alias("s2"),
        )
    )

    from ecommerce_data_pipeline_spark.plans._helpers import ordered_fold

    folded = m.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        ordered_fold("seg", F.col("s1")).alias("s_all"),
        ordered_fold("seg", F.col("s2")).alias("q_all"),
        ordered_fold("seg", F.col("s1") * F.col("s1") / F.col("n")).alias(
            "sq_over_n"
        ),
    )
    ssb = F.col("sq_over_n") - F.col("s_all") * F.col("s_all") / F.col("n_total")
    ssw = F.col("q_all") - F.col("sq_over_n")
    return folded.select(
        "k",
        "n_total",
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_total") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


@register(
    "mannwhitney_u_test",
    oracle=f"""
    WITH {_SQL_TWO_SEG_HIST},
    cum AS (
      SELECT v, a_cnt, a_cnt + b_cnt AS t,
             COALESCE(SUM(a_cnt + b_cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prev_cum
      FROM hist
    ),
    agg AS (
      SELECT SUM(a_cnt) AS n1,
             SUM(t) - SUM(a_cnt) AS n2,
             SUM(t) AS n,
             SUM(CAST(a_cnt AS HUGEINT)
                 * (2 * prev_cum + t + 1)) AS r1_x2,
             SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_term
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n_a,
           CAST(n2 AS BIGINT) AS n_b,
           CAST(r1_x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2.0
             AS u_stat,
           ROUND((CAST(r1_x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
                  - CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE))
                 / (2.0 * sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                               * ((n + 1) - CAST(tie_term AS DOUBLE)
                                            / (n * CAST(n - 1 AS DOUBLE)))))
                 , 6) AS z_score
    FROM agg
    """,
)
def mannwhitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two segments'
    order-value distributions — the NONPARAMETRIC companion to
    ab_welch_ttest_segments: rank-based, so it detects stochastic
    dominance that heavy tails hide from a means test, with the
    standard tie-corrected normal approximation.

    Rank arithmetic is EXACT and integer throughout: over the
    value-domain histogram, a tied value-group's average rank doubled is
    2*prev_cum + t + 1 (integer), so the doubled rank sum R1*2, the
    doubled U, and the tie correction sum(t^3 - t) are exact
    DECIMAL(38,0)/HUGEINT aggregates; the only floats are the final
    variance expression and one division, rounded 6dp. The prefix
    window runs over distinct values (the wasserstein_price_drift
    value-domain contract).
    """
    hist = _two_segment_hist(spark, sf_dir)
    w_prev = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    t = F.col("a_cnt") + F.col("b_cnt")
    cum = hist.select(
        "a_cnt",
        t.alias("t"),
        F.coalesce(F.sum(t).over(w_prev), F.lit(0)).alias("prev_cum"),
    )
    agg = cum.agg(
        F.sum("a_cnt").alias("n1"),
        (F.sum("t") - F.sum("a_cnt")).alias("n2"),
        F.sum("t").alias("n"),
        F.sum(
            F.col("a_cnt").cast("decimal(38,0)")
            * (2 * F.col("prev_cum") + F.col("t") + 1)
        ).alias("r1_x2"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie_term"),
    )
    u_x2 = F.col("r1_x2") - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
    var = (
        F.col("n1").cast("double")
        * F.col("n2")
        / 12.0
        * (
            (F.col("n") + 1)
            - F.col("tie_term").cast("double")
            / (F.col("n") * (F.col("n") - 1).cast("double"))
        )
    )
    z = (
        u_x2.cast("double")
        - (F.col("n1").cast("decimal(38,0)") * F.col("n2")).cast("double")
    ) / (F.lit(2.0) * F.sqrt(var))
    return agg.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        (u_x2.cast("double") / 2.0).alias("u_stat"),
        F.round(z, 6).alias("z_score"),
    )


@register(
    "ks_test_price",
    oracle=f"""
    WITH {_SQL_TWO_SEG_HIST},
    tot AS (SELECT SUM(a_cnt) AS na, SUM(b_cnt) AS nb FROM hist),
    cum AS (
      SELECT SUM(a_cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(b_cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      FROM hist
    )
    SELECT CAST(tot.na AS BIGINT) AS n_a,
           CAST(tot.nb AS BIGINT) AS n_b,
           ROUND(CAST(MAX(ABS(CAST(cum.ca AS HUGEINT) * tot.nb
                              - CAST(cum.cb AS HUGEINT) * tot.na)) AS DOUBLE)
                 / (CAST(tot.na AS DOUBLE) * tot.nb), 6) AS d_stat,
           ROUND(CAST(MAX(ABS(CAST(cum.ca AS HUGEINT) * tot.nb
                              - CAST(cum.cb AS HUGEINT) * tot.na)) AS DOUBLE)
                 / (CAST(tot.na AS DOUBLE) * tot.nb)
                 * sqrt(CAST(tot.na AS DOUBLE) * tot.nb / (tot.na + tot.nb)),
                 6) AS ks_z
    FROM cum CROSS JOIN tot
    GROUP BY tot.na, tot.nb
    """,
)
def ks_test_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between two segments'
    order-value distributions: D = max |F_A - F_B|, the supremum twin of
    wasserstein_price_drift's integral (KS reacts to the single worst
    CDF gap, W1 to total transported mass — drift monitors want both),
    plus the asymptotic statistic z = D*sqrt(na*nb/(na+nb)).

    The CDF gap at every distinct value is the exact cross-multiplied
    integer |ca*nb - cb*na| (HUGEINT/DECIMAL(38,0)); MAX over integers
    is exact, and D floats only in the final division. Same
    value-domain-histogram window contract as the W1 query.
    """
    # persisted: feeds the prefix window AND the totals scalar
    hist = _two_segment_hist(spark, sf_dir).persist()
    tot = hist.agg(F.sum("a_cnt").alias("na"), F.sum("b_cnt").alias("nb"))
    w_run = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        F.sum("a_cnt").over(w_run).alias("ca"),
        F.sum("b_cnt").over(w_run).alias("cb"),
    )
    gap = F.abs(
        F.col("ca").cast("decimal(38,0)") * F.col("nb")
        - F.col("cb").cast("decimal(38,0)") * F.col("na")
    )
    d_stat = F.max(gap).cast("double") / (
        F.col("na").cast("double") * F.col("nb")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.round(d_stat, 6).alias("d_stat"),
            F.round(
                d_stat
                * F.sqrt(
                    F.col("na").cast("double")
                    * F.col("nb")
                    / (F.col("na") + F.col("nb"))
                ),
                6,
            ).alias("ks_z"),
        )
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            "d_stat",
            "ks_z",
        )
    )


@register(
    "kruskal_wallis_test",
    oracle=f"""
    WITH j AS (
      SELECT c_mktsegment AS segment,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    hist AS (
      SELECT v, segment, COUNT(*) AS cnt FROM j GROUP BY v, segment
    ),
    vt AS (SELECT v, SUM(cnt) AS t FROM hist GROUP BY v),
    cum AS (
      SELECT v, t,
             COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prev_cum
      FROM vt
    ),
    rg AS (
      SELECT hist.segment,
             SUM(hist.cnt) AS n_g,
             SUM(CAST(hist.cnt AS HUGEINT)
                 * (2 * cum.prev_cum + cum.t + 1)) AS r_x2
      FROM hist JOIN cum ON hist.v = cum.v
      GROUP BY hist.segment
    ),
    ties AS (SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_term FROM vt),
    folded AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             list_aggregate(list(CAST(r_x2 AS DOUBLE) * r_x2 / n_g
                                 ORDER BY segment), 'sum') AS rterm
      FROM rg
    )
    SELECT k, n,
           ROUND(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * rterm / 4.0
                 - 3.0 * (n + 1), 6) AS h_stat,
           ROUND((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * rterm / 4.0
                  - 3.0 * (n + 1))
                 / (1.0 - CAST(ties.tie_term AS DOUBLE)
                          / (CAST(n AS DOUBLE) * n * n - n)), 6)
             AS h_tie_corrected
    FROM folded CROSS JOIN ties
    """,
)
def kruskal_wallis_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across all five segments — the k-group
    generalization of mannwhitney_u_test (rank-based omnibus, the
    nonparametric twin of anova_f_segments), with the standard tie
    correction H' = H / (1 - sum(t^3 - t)/(N^3 - N)).

    Same exact-rank machinery as Mann-Whitney: doubled midranks are
    integers, so each group's doubled rank sum R_g*2 is an exact
    HUGEINT/DECIMAL(38,0) aggregate; H folds the five R_g^2/n_g terms
    in segment order (ordered_fold) and divides once. The doubled ranks
    cancel through the /4 in H's rank-sum term.
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec, ordered_fold

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (dec("o_totalprice") * 100).cast("long").alias("v"),
    )
    hist = j.groupBy("v", "segment").agg(F.count(F.lit(1)).alias("cnt")).persist()
    vt = hist.groupBy("v").agg(F.sum("cnt").alias("t"))
    w_prev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = vt.select(
        "v",
        "t",
        F.coalesce(F.sum("t").over(w_prev), F.lit(0)).alias("prev_cum"),
    )
    rg = (
        hist.join(cum, "v")
        .groupBy("segment")
        .agg(
            F.sum("cnt").alias("n_g"),
            F.sum(
                F.col("cnt").cast("decimal(38,0)")
                * (2 * F.col("prev_cum") + F.col("t") + 1)
            ).alias("r_x2"),
        )
    )
    ties = vt.agg(
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tie_term")
    )
    folded = rg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        ordered_fold(
            "segment",
            F.col("r_x2").cast("double") * F.col("r_x2") / F.col("n_g"),
        ).alias("rterm"),
    )
    n = F.col("n")
    h = (
        F.lit(12.0) / (n.cast("double") * (n + 1)) * F.col("rterm") / 4.0
        - 3.0 * (n + 1)
    )
    return folded.crossJoin(F.broadcast(ties)).select(
        "k",
        "n",
        F.round(h, 6).alias("h_stat"),
        F.round(
            h
            / (
                F.lit(1.0)
                - F.col("tie_term").cast("double")
                / (n.cast("double") * n * n - n)
            ),
            6,
        ).alias("h_tie_corrected"),
    )


@register(
    "two_proportion_ztest",
    oracle="""
    WITH e AS (
      SELECT CASE WHEN dayofweek(CAST(ts AS TIMESTAMP)) IN (0, 6)
                  THEN 'weekend' ELSE 'weekday' END AS cohort,
             event_type
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    c AS (
      SELECT cohort,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
             COUNT(*) AS n
      FROM e GROUP BY cohort
    ),
    wide AS (
      SELECT MAX(CASE WHEN cohort = 'weekday' THEN x END) AS x1,
             MAX(CASE WHEN cohort = 'weekday' THEN n END) AS n1,
             MAX(CASE WHEN cohort = 'weekend' THEN x END) AS x2,
             MAX(CASE WHEN cohort = 'weekend' THEN n END) AS n2
      FROM c
    )
    SELECT CAST(x1 AS BIGINT) AS conv_weekday,
           CAST(n1 AS BIGINT) AS n_weekday,
           CAST(x2 AS BIGINT) AS conv_weekend,
           CAST(n2 AS BIGINT) AS n_weekend,
           ROUND(CAST(x1 AS DOUBLE) / n1, 6) AS p_weekday,
           ROUND(CAST(x2 AS DOUBLE) / n2, 6) AS p_weekend,
           ROUND((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                 / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 6) AS z_score
    FROM wide
    """,
)
def two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on purchase conversion (purchases as a
    share of view+purchase events), weekday vs weekend cohorts — the
    PROPORTIONS member of the hypothesis-test family (Welch/ANOVA test
    means, Mann-Whitney/KS distributions, this one conversion rates:
    the experiment readout product teams actually ship). Pooled
    standard error under the null, as every A/B platform computes it.

    Counts are exact integers from one conditional hash aggregate; the
    rates, pooled variance, and z are a handful of deterministic double
    ops rounded 6dp. The weekday split uses dayofweek on the raw event
    timestamp — identical calendar arithmetic in both engines (Spark
    dayofweek is 1=Sunday..7, DuckDB dayofweek is 0=Sunday..6; each
    side tests its own weekend encoding, same membership).
    """
    events = load_table(spark, sf_dir, "events")
    cohort = F.when(
        F.dayofweek("ts").isin(1, 7), "weekend"
    ).otherwise("weekday")
    c = (
        events.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy(cohort.alias("cohort"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("x"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    wide = c.agg(
        F.max(F.when(F.col("cohort") == "weekday", F.col("x"))).alias("x1"),
        F.max(F.when(F.col("cohort") == "weekday", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("cohort") == "weekend", F.col("x"))).alias("x2"),
        F.max(F.when(F.col("cohort") == "weekend", F.col("n"))).alias("n2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (F.col("n1") + F.col("n2"))
    return wide.select(
        F.col("x1").cast("long").alias("conv_weekday"),
        F.col("n1").cast("long").alias("n_weekday"),
        F.col("x2").cast("long").alias("conv_weekend"),
        F.col("n2").cast("long").alias("n_weekend"),
        F.round(p1, 6).alias("p_weekday"),
        F.round(p2, 6).alias("p_weekend"),
        F.round(
            (p1 - p2)
            / F.sqrt(
                pp
                * (F.lit(1.0) - pp)
                * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
            ),
            6,
        ).alias("z_score"),
    )


@register(
    "spearman_rank_correlation",
    oracle="""
    WITH li AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM lineitem
    ),
    xh AS (SELECT flag, x, COUNT(*) AS t FROM li GROUP BY flag, x),
    xr AS (
      SELECT flag, x,
             2 * COALESCE(SUM(t) OVER (PARTITION BY flag ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS rx2
      FROM xh
    ),
    yh AS (SELECT flag, y, COUNT(*) AS t FROM li GROUP BY flag, y),
    yr AS (
      SELECT flag, y,
             2 * COALESCE(SUM(t) OVER (PARTITION BY flag ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS ry2
      FROM yh
    ),
    rows_ranked AS (
      SELECT li.flag, xr.rx2, yr.ry2
      FROM li
      JOIN xr ON li.flag = xr.flag AND li.x = xr.x
      JOIN yr ON li.flag = yr.flag AND li.y = yr.y
    ),
    mom AS (
      SELECT flag, COUNT(*) AS n,
             SUM(CAST(rx2 AS HUGEINT)) AS sx,
             SUM(CAST(ry2 AS HUGEINT)) AS sy,
             SUM(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
             SUM(CAST(ry2 AS HUGEINT) * ry2) AS syy,
             SUM(CAST(rx2 AS HUGEINT) * ry2) AS sxy
      FROM rows_ranked GROUP BY flag
    )
    SELECT flag,
           CAST(n AS BIGINT) AS n_rows,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
             AS spearman_rho
    FROM mom
    """,
)
def spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price per
    return flag — the rank-based companion to stats_correlation's
    Pearson: monotone-association strength that outliers and curvature
    can't distort. Midranks handle ties.

    Exactness: DOUBLED midranks are integers (the mannwhitney_u_test
    construction, here per (flag, variable) partition), and Pearson is
    affine-invariant, so rho computed on doubled ranks equals rho on
    midranks — every moment (n, sums, squares, cross products) is an
    exact HUGEINT/DECIMAL(38,0) aggregate and the ONLY float work is
    the final (n*sxy - sx*sy)/sqrt(...) with a 6dp round. The rank
    windows are partitioned by flag over per-variable value histograms
    (value-domain bounded); ranked values join back to rows by (flag,
    value) — hash joins against histogram-sized relations.
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
        (dec("l_extendedprice") * 100).cast("long").alias("y"),
    ).persist()  # feeds both rank histograms AND the row-level joins

    def rank2(col: str, alias: str) -> DataFrame:
        h = li.groupBy("flag", col).agg(F.count(F.lit(1)).alias("t"))
        w = (
            Window.partitionBy("flag")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return h.select(
            "flag",
            col,
            (
                2 * F.coalesce(F.sum("t").over(w), F.lit(0))
                + F.col("t")
                + 1
            ).alias(alias),
        )

    ranked = li.join(rank2("x", "rx2"), ["flag", "x"]).join(
        rank2("y", "ry2"), ["flag", "y"]
    )
    d38 = "decimal(38,0)"
    mom = ranked.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx2").cast(d38)).alias("sx"),
        F.sum(F.col("ry2").cast(d38)).alias("sy"),
        F.sum(F.col("rx2").cast(d38) * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2").cast(d38) * F.col("ry2")).alias("syy"),
        F.sum(F.col("rx2").cast(d38) * F.col("ry2")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return mom.select(
        "flag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(num / F.sqrt(denx * deny), 6).alias("spearman_rho"),
    )


_CUPED_SALT = "cuped1#"
_CUPED_CUTOVER = "1996-01-01"


def _sql_cuped_bucket() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_hash60

    return f"(({_sql_hash60('c_custkey', _CUPED_SALT)}) % 100)"


@register(
    "cuped_adjusted_ab",
    oracle=f"""
    WITH per_cust AS (
      SELECT c.c_custkey,
             CASE WHEN ({_sql_cuped_bucket()}) < 50 THEN 1 ELSE 0 END AS treat,
             COALESCE(SUM(CASE WHEN o.o_orderdate < TIMESTAMP '{_CUPED_CUTOVER}'
                          THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END),
                      0) AS x,
             COALESCE(SUM(CASE WHEN o.o_orderdate >= TIMESTAMP '{_CUPED_CUTOVER}'
                          THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END),
                      0) AS y
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ),
    pooled AS (
      SELECT COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM per_cust
    ),
    arms AS (
      SELECT treat, COUNT(*) AS n_arm, SUM(x) AS sx_arm, SUM(y) AS sy_arm
      FROM per_cust GROUP BY treat
    ),
    wide AS (
      SELECT MAX(CASE WHEN treat = 1 THEN n_arm END) AS n_t,
             MAX(CASE WHEN treat = 1 THEN sx_arm END) AS sx_t,
             MAX(CASE WHEN treat = 1 THEN sy_arm END) AS sy_t,
             MAX(CASE WHEN treat = 0 THEN n_arm END) AS n_c,
             MAX(CASE WHEN treat = 0 THEN sx_arm END) AS sx_c,
             MAX(CASE WHEN treat = 0 THEN sy_arm END) AS sy_c
      FROM arms
    )
    SELECT CAST(wide.n_t AS BIGINT) AS n_treat,
           CAST(wide.n_c AS BIGINT) AS n_ctrl,
           ROUND(CAST(wide.sy_t AS DOUBLE) / wide.n_t
                 - CAST(wide.sy_c AS DOUBLE) / wide.n_c, 4) AS diff_raw,
           ROUND(CAST(pooled.n * pooled.sxy - pooled.sx * pooled.sy AS DOUBLE)
                 / CAST(pooled.n * pooled.sxx - pooled.sx * pooled.sx
                        AS DOUBLE), 6) AS theta,
           ROUND((CAST(wide.sy_t AS DOUBLE) / wide.n_t
                  - CAST(wide.sy_c AS DOUBLE) / wide.n_c)
                 - (CAST(pooled.n * pooled.sxy - pooled.sx * pooled.sy
                         AS DOUBLE)
                    / CAST(pooled.n * pooled.sxx - pooled.sx * pooled.sx
                           AS DOUBLE))
                   * (CAST(wide.sx_t AS DOUBLE) / wide.n_t
                      - CAST(wide.sx_c AS DOUBLE) / wide.n_c), 4)
             AS diff_cuped,
           ROUND(CAST(pooled.n * pooled.sxy - pooled.sx * pooled.sy AS DOUBLE)
                 * CAST(pooled.n * pooled.sxy - pooled.sx * pooled.sy
                        AS DOUBLE)
                 / (CAST(pooled.n * pooled.sxx - pooled.sx * pooled.sx
                         AS DOUBLE)
                    * CAST(pooled.n * pooled.syy - pooled.sy * pooled.sy
                           AS DOUBLE)), 6) AS var_reduction_rho2
    FROM wide CROSS JOIN pooled
    """,
)
def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013):
    per-customer post-period revenue adjusted by the pre-period
    covariate, Y_adj = Y - theta*(X - E[X]) with theta = cov(X,Y)/var(X)
    — the standard trick that cuts experiment runtimes by the rho^2
    factor reported here. Arms are the did_revenue_estimate hash-split
    placebo (true effect 0), so diff_cuped doubles as an A/A check that
    the adjustment itself introduces no bias.

    Everything reduces to EXACT decimal moments: per-customer pre/post
    sums over 2dp prices (LEFT JOIN keeps zero-activity customers in
    the assignment population), pooled n/sx/sy/sxx/sxy/syy and per-arm
    sums — the arm mean of Y_adj needs NO per-row float because it
    equals meanY_arm - theta*(meanX_arm - meanX_pooled), and the
    pooled-mean terms cancel in the arm DIFFERENCE. Floats appear only
    in the final theta/means divisions. Scale: one fact hash aggregate
    to customers, one more to scalars.
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    pre = F.col("o_orderdate") < F.lit(_CUPED_CUTOVER).cast("timestamp")
    per_cust = (
        customer.select("c_custkey")
        .join(orders, customer["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.when(pre, dec("o_totalprice"))), F.lit(0).cast("decimal(18,2)")
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(~pre, dec("o_totalprice"))), F.lit(0).cast("decimal(18,2)")
            ).alias("y"),
        )
        .select(
            (_hash60(F.col("c_custkey"), _CUPED_SALT) % 100 < 50)
            .cast("int")
            .alias("treat"),
            "x",
            "y",
        )
        .persist()  # feeds the pooled moments AND the per-arm sums
    )
    pooled = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    arms = per_cust.groupBy("treat").agg(
        F.count(F.lit(1)).alias("n_arm"),
        F.sum("x").alias("sx_arm"),
        F.sum("y").alias("sy_arm"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("treat") == 1, F.col("n_arm"))).alias("n_t"),
        F.max(F.when(F.col("treat") == 1, F.col("sx_arm"))).alias("sx_t"),
        F.max(F.when(F.col("treat") == 1, F.col("sy_arm"))).alias("sy_t"),
        F.max(F.when(F.col("treat") == 0, F.col("n_arm"))).alias("n_c"),
        F.max(F.when(F.col("treat") == 0, F.col("sx_arm"))).alias("sx_c"),
        F.max(F.when(F.col("treat") == 0, F.col("sy_arm"))).alias("sy_c"),
    )
    cov_num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    varx_num = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vary_num = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    theta = cov_num / varx_num
    dy = F.col("sy_t").cast("double") / F.col("n_t") - F.col("sy_c").cast(
        "double"
    ) / F.col("n_c")
    dx = F.col("sx_t").cast("double") / F.col("n_t") - F.col("sx_c").cast(
        "double"
    ) / F.col("n_c")
    return wide.crossJoin(F.broadcast(pooled)).select(
        F.col("n_t").cast("long").alias("n_treat"),
        F.col("n_c").cast("long").alias("n_ctrl"),
        F.round(dy, 4).alias("diff_raw"),
        F.round(theta, 6).alias("theta"),
        F.round(dy - theta * dx, 4).alias("diff_cuped"),
        F.round(cov_num * cov_num / (varx_num * vary_num), 6).alias(
            "var_reduction_rho2"
        ),
    )


@register(
    "layout_values_certificate",
    # VALUE certificate for parquet_layout_audit (rows-only above): the
    # r6 layout_audit_certificate pinned aggregate invariants (row sums,
    # range span) but never the audit's PER-FILE values. Here every
    # (file_name, n_rows, min_key, max_key) row is checked against an
    # independent computation path — the file list comes from the
    # filesystem (driver-side, metadata-scale) and each file is scanned
    # on its own, so an input_file_name/grouping defect (rows attributed
    # to the wrong file, a dropped file, a split double-count) flips the
    # multiset-equality boolean even when totals still balance. Oracle:
    # exact table-level values from the view + constants the audit must
    # reproduce. Eager by nature (exceptAll set-diffs).
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS total_rows,
           min(o_orderkey) AS table_min_key,
           max(o_orderkey) AS table_max_key,
           TRUE AS per_file_values_match,
           TRUE AS file_count_matches,
           TRUE AS has_files
    FROM orders
    """,
)
def layout_values_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file value check of the physical-layout audit (see oracle
    comment). The independent side unions one bounded scan per physical
    file — file COUNT is metadata-scale by the audit's own contract, so
    the driver-side listing and per-file reads are not a scale hazard."""
    import glob as _glob
    import os as _os

    from pyspark.sql import Row

    # Guard FIRST, before ANY read touches the path: a missing table or
    # a part-file-less directory must grade as has_files=False rather
    # than crash — schema inference on the audit side would raise
    # before a later guard could run (r8 review finding).
    root = _os.path.join(sf_dir, "orders.parquet")
    paths = (
        sorted(_glob.glob(_os.path.join(root, "*.parquet")))
        if _os.path.isdir(root)
        else ([root] if _os.path.exists(root) else [])
    )
    if not paths:
        return spark.createDataFrame(
            [
                Row(
                    total_rows=None,
                    table_min_key=None,
                    table_max_key=None,
                    per_file_values_match=False,
                    file_count_matches=False,
                    has_files=False,
                )
            ],
            "total_rows bigint, table_min_key bigint, "
            "table_max_key bigint, per_file_values_match boolean, "
            "file_count_matches boolean, has_files boolean",
        )
    audit = parquet_layout_audit(spark, sf_dir)
    per_file = None
    for p in paths:
        # Label each independent scan with input_file_name() ITSELF
        # (same regexp as the audit) instead of the filesystem
        # basename: both sides then share Hadoop's URI encoding BY
        # CONSTRUCTION — a hand-rolled percent-quote either under- or
        # over-encodes relative to Path.toUri for legal-but-unusual
        # names like 'part=0.parquet' (r8 review finding).
        one = (
            spark.read.parquet(p)
            .groupBy(
                F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias(
                    "file_name"
                )
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
            )
        )
        per_file = one if per_file is None else per_file.unionByName(one)
    values_match = rows_equal(audit, per_file)
    n_audit_files = audit.count()
    orders = load_table(spark, sf_dir, "orders")
    table = orders.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.min("o_orderkey").alias("table_min_key"),
        F.max("o_orderkey").alias("table_max_key"),
    )
    return table.select(
        "total_rows",
        "table_min_key",
        "table_max_key",
        F.lit(bool(values_match)).alias("per_file_values_match"),
        F.lit(bool(n_audit_files == len(paths))).alias("file_count_matches"),
        F.lit(bool(len(paths) >= 1)).alias("has_files"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b rank concordance (r9) — the pairwise member of the
# correlation tier next to spearman_rank_correlation (rank moments) and
# stats_corr_covar (product moments): tau-b counts concordant vs
# discordant day pairs directly, with the standard tie corrections
# (Kendall 1945), so it is exact on integer data with no rank midpoints.


@register(
    "kendall_tau_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN (a.x < b.x AND a.y < b.y)
                    OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS conc,
             CASE WHEN (a.x < b.x AND a.y > b.y)
                    OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS disc,
             CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 ELSE 0 END AS ty,
             CASE WHEN a.x = b.x AND a.y = b.y THEN 1 ELSE 0 END AS txy
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(conc) AS BIGINT) AS concordant,
             CAST(SUM(disc) AS BIGINT) AS discordant,
             CAST(SUM(tx) AS BIGINT) AS ties_x_only,
             CAST(SUM(ty) AS BIGINT) AS ties_y_only,
             CAST(SUM(txy) AS BIGINT) AS ties_both
      FROM pairs
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
    SELECT nd.n_days, agg.n_pairs, agg.concordant, agg.discordant,
           agg.ties_x_only, agg.ties_y_only, agg.ties_both,
           round(CAST(agg.concordant - agg.discordant AS DOUBLE)
                 / sqrt(CAST(agg.n_pairs - agg.ties_x_only - agg.ties_both
                             AS DOUBLE)
                        * CAST(agg.n_pairs - agg.ties_y_only - agg.ties_both
                               AS DOUBLE)), 6) AS tau_b
    FROM agg CROSS JOIN nd
    """,
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily order COUNT and daily revenue: every
    unordered day pair is classified concordant / discordant / tied
    (x-only, y-only, both), and tau_b = (C - D) /
    sqrt((n0 - n1)(n0 - n2)) with n1/n2 the x-/y-tied pair counts —
    the exact tie-corrected form, reported next to the raw pair
    census so the tie structure is auditable.

    Exactness: x is a BIGINT count, y an exact BIGINT cent sum;
    concordance is pure COMPARISON logic (no products of measures, so
    no overflow at any SF); the single float op is the final division
    by a sqrt of exact BIGINT differences (both exactly-rounded IEEE,
    shared text), rounded 6dp both sides.

    Scale shape: ONE fact aggregate reduces orders to the CALENDAR
    (~2.4k rows, localCheckpointed — the ESD discipline), and the
    O(days^2/2) = ~2.9M-row pair relation is a broadcast range self-
    join on that bounded grid — the siegel_revenue_trend contract:
    quadratic in the calendar, never in the corpus."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum((dec("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("y"),
        )
        .localCheckpoint()  # calendar-bounded; feeds both join sides
    )
    from ecommerce_data_pipeline_spark.operators.similarity import (
        spread_for_fanout,
    )

    # spread the stream side of the C(days,2) fan-out (r13, the
    # theilsen_daily_trend note): the checkpointed calendar is one
    # split, so the ~3M-pair classification ran single-task
    a = spread_for_fanout(
        daily.select(
            F.col("day").alias("day_a"), F.col("x").alias("xa"),
            F.col("y").alias("ya"),
        )
    )
    b = daily.select(
        F.col("day").alias("day_b"), F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    pairs = a.join(F.broadcast(b), F.col("day_a") < F.col("day_b")).select(
        F.when(
            ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")))
            | ((F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb"))),
            1,
        )
        .otherwise(0)
        .alias("conc"),
        F.when(
            ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")))
            | ((F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb"))),
            1,
        )
        .otherwise(0)
        .alias("disc"),
        F.when(
            (F.col("xa") == F.col("xb")) & (F.col("ya") != F.col("yb")), 1
        )
        .otherwise(0)
        .alias("tx"),
        F.when(
            (F.col("ya") == F.col("yb")) & (F.col("xa") != F.col("xb")), 1
        )
        .otherwise(0)
        .alias("ty"),
        F.when(
            (F.col("xa") == F.col("xb")) & (F.col("ya") == F.col("yb")), 1
        )
        .otherwise(0)
        .alias("txy"),
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("conc").cast("long").alias("concordant"),
        F.sum("disc").cast("long").alias("discordant"),
        F.sum("tx").cast("long").alias("ties_x_only"),
        F.sum("ty").cast("long").alias("ties_y_only"),
        F.sum("txy").cast("long").alias("ties_both"),
    )
    nd = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return agg.crossJoin(F.broadcast(nd)).select(
        "n_days",
        "n_pairs",
        "concordant",
        "discordant",
        "ties_x_only",
        "ties_y_only",
        "ties_both",
        F.round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.sqrt(
                (
                    F.col("n_pairs")
                    - F.col("ties_x_only")
                    - F.col("ties_both")
                ).cast("double")
                * (
                    F.col("n_pairs")
                    - F.col("ties_y_only")
                    - F.col("ties_both")
                ).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR control over the per-brand discount-effect
# screen (r9) — the multiple-testing member of the statistics tier: the
# per-test z machinery exists (welch/two-proportion), but a 25-brand
# screen that rejects every |z| > 1.96 inflates the family-wise false
# discovery rate; BH (Benjamini & Hochberg 1995) orders the tests and
# applies the rank-scaled threshold p_(i) <= i*alpha/K. Executed on the
# |z| scale: reject at rank i iff |z|_(i) >= Phi^-1(1 - (i*alpha/K)/2),
# with the K inverse-normal critical values BAKED as Python-computed
# constants (the ESD-lambda discipline — stdlib NormalDist, no scipy).

_BH_ALPHA = 0.05
_BH_K = 25  # TPC-H brand universe: Brand#11..Brand#55
_BH_DISCOUNT_GATE = 0.05  # high-discount arm: l_discount >= 0.05


def _bh_crits() -> list[float]:
    from statistics import NormalDist

    nd = NormalDist()
    return [
        nd.inv_cdf(1.0 - (_BH_ALPHA * i / _BH_K) / 2.0)
        for i in range(1, _BH_K + 1)
    ]


_BH_CRIT = _bh_crits()


def _bh_welch_z(s1: str, n1: str, ss1: str, s0: str, n0: str, ss0: str) -> str:
    """Welch z from exact integer moments — ONE textual home per engine
    side (the _esd_r_sql discipline): /,*,−,sqrt are exactly-rounded
    IEEE ops, so identical op order => identical bits."""
    m1 = f"(CAST({s1} AS DOUBLE) / CAST({n1} AS DOUBLE))"
    m0 = f"(CAST({s0} AS DOUBLE) / CAST({n0} AS DOUBLE))"
    v1 = (
        f"((CAST({ss1} AS DOUBLE) - {m1} * CAST({s1} AS DOUBLE))"
        f" / (CAST({n1} AS DOUBLE) - 1.0))"
    )
    v0 = (
        f"((CAST({ss0} AS DOUBLE) - {m0} * CAST({s0} AS DOUBLE))"
        f" / (CAST({n0} AS DOUBLE) - 1.0))"
    )
    return (
        f"({m1} - {m0}) / sqrt({v1} / CAST({n1} AS DOUBLE)"
        f" + {v0} / CAST({n0} AS DOUBLE))"
    )


def _bh_sql() -> str:
    z = _bh_welch_z("s1", "n1", "ss1", "s0", "n0", "ss0")
    crit_case = " ".join(
        f"WHEN {i + 1} THEN CAST({c!r} AS DOUBLE)"
        for i, c in enumerate(_BH_CRIT)
    )
    return f"""
    WITH moments AS (
      SELECT p.p_brand AS brand,
             CAST(SUM(CASE WHEN l.l_discount >= {_BH_DISCOUNT_GATE!r}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN l.l_discount >= {_BH_DISCOUNT_GATE!r}
                           THEN CAST(l.l_quantity AS BIGINT) END)
                  AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN l.l_discount >= {_BH_DISCOUNT_GATE!r}
                           THEN CAST(l.l_quantity AS BIGINT)
                                * CAST(l.l_quantity AS BIGINT) END)
                  AS BIGINT) AS ss1,
             CAST(SUM(CASE WHEN l.l_discount < {_BH_DISCOUNT_GATE!r}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN l.l_discount < {_BH_DISCOUNT_GATE!r}
                           THEN CAST(l.l_quantity AS BIGINT) END)
                  AS BIGINT) AS s0,
             CAST(SUM(CASE WHEN l.l_discount < {_BH_DISCOUNT_GATE!r}
                           THEN CAST(l.l_quantity AS BIGINT)
                                * CAST(l.l_quantity AS BIGINT) END)
                  AS BIGINT) AS ss0
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    ),
    zs AS (
      SELECT brand, n1, n0, round({z}, 6) AS z6
      FROM moments WHERE n1 > 1 AND n0 > 1
    ),
    ranked AS (
      SELECT a.brand, a.n1, a.n0, a.z6, abs(a.z6) AS az6,
             CAST(COUNT(*) AS INT) AS bh_rank
      FROM zs a JOIN zs b
        ON abs(b.z6) > abs(a.z6)
        OR (abs(b.z6) = abs(a.z6) AND b.brand <= a.brand)
      GROUP BY a.brand, a.n1, a.n0, a.z6
    ),
    gated AS (
      SELECT brand, n1, n0, z6, az6, bh_rank,
             CASE bh_rank {crit_case}
               ELSE CAST({_BH_CRIT[-1]!r} AS DOUBLE) END AS crit,
             az6 >= (CASE bh_rank {crit_case}
               ELSE CAST({_BH_CRIT[-1]!r} AS DOUBLE) END) AS passes_at_rank
      FROM ranked
    ),
    nd AS (
      SELECT CAST(COALESCE(MAX(CASE WHEN passes_at_rank THEN bh_rank END),
                           0) AS INT) AS n_discoveries
      FROM gated
    )
    SELECT g.brand, g.n1 AS n_high_discount, g.n0 AS n_low_discount,
           g.z6 AS welch_z, g.bh_rank, round(g.crit, 6) AS crit_z,
           g.passes_at_rank, nd.n_discoveries,
           g.bh_rank <= nd.n_discoveries AS is_discovery
    FROM gated g CROSS JOIN nd
    """


@register(
    "benjamini_hochberg_fdr",
    oracle=_bh_sql(),
)
def benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH step-up FDR control over the 25-brand discount-effect screen:
    per brand, a Welch z of l_quantity between high-discount
    (>= 0.05) and low-discount lines from exact BIGINT moments; tests
    ranked by |z| (6dp, brand tiebreak — a deterministic total order on
    both engines); rank i is a discovery iff some rank j >= i has
    |z|_(j) >= Phi^-1(1 - (alpha*j/K)/2) — the step-up "largest passing
    rank" rule (same in-band max-rank shape as ESD's n_outliers), with
    the 25 inverse-normal critical values baked from stdlib NormalDist
    at plan-build time (identical literals in both engines — the
    critical-value discipline that keeps erf/inv_cdf out of BOTH query
    engines entirely).

    Exactness: quantities are integers so all six moments are BIGINT;
    z is one shared-text IEEE expression (_bh_welch_z) rounded 6dp
    BEFORE ranking and gating; ranking is a <= 25x25 broadcast
    self-join on the localCheckpointed test relation (no global
    window); the degenerate n<=1 arms are filtered identically on both
    sides (huber discipline).

    Scale shape: ONE fact aggregate (lineitem x broadcast part -> 25
    moment rows) ends the fact lineage; everything after is metadata-
    scale algebra."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    hi = dec("l_discount") >= F.lit(_BH_DISCOUNT_GATE).cast("decimal(18,2)")
    q = F.col("l_quantity").cast("long")
    moments = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("n1"),
            F.sum(F.when(hi, q)).cast("long").alias("s1"),
            F.sum(F.when(hi, q * q)).cast("long").alias("ss1"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("n0"),
            F.sum(F.when(~hi, q)).cast("long").alias("s0"),
            F.sum(F.when(~hi, q * q)).cast("long").alias("ss0"),
        )
    )
    z = _bh_welch_z("s1", "n1", "ss1", "s0", "n0", "ss0")
    zs = (
        moments.filter((F.col("n1") > 1) & (F.col("n0") > 1))
        .select(
            "brand",
            "n1",
            "n0",
            F.round(F.expr(z), 6).alias("z6"),
        )
        .localCheckpoint()  # <= 25 rows; feeds both rank-join sides
    )
    a, b = zs.alias("a"), zs.alias("b")
    ranked = (
        a.join(
            F.broadcast(b),
            (F.abs(F.col("b.z6")) > F.abs(F.col("a.z6")))
            | (
                (F.abs(F.col("b.z6")) == F.abs(F.col("a.z6")))
                & (F.col("b.brand") <= F.col("a.brand"))
            ),
        )
        .groupBy(
            F.col("a.brand").alias("brand"),
            F.col("a.n1").alias("n1"),
            F.col("a.n0").alias("n0"),
            F.col("a.z6").alias("z6"),
        )
        .agg(F.count(F.lit(1)).cast("int").alias("bh_rank"))
        .withColumn("az6", F.abs(F.col("z6")))
    )
    crit = F.element_at(
        F.array(*[F.lit(c) for c in _BH_CRIT]),
        F.least(F.col("bh_rank"), F.lit(_BH_K)),
    )
    gated = ranked.select(
        "brand",
        "n1",
        "n0",
        "z6",
        "az6",
        "bh_rank",
        crit.alias("crit"),
        (F.col("az6") >= crit).alias("passes_at_rank"),
    )
    nd = gated.agg(
        F.coalesce(
            F.max(F.when(F.col("passes_at_rank"), F.col("bh_rank"))),
            F.lit(0),
        )
        .cast("int")
        .alias("n_discoveries")
    )
    return gated.crossJoin(F.broadcast(nd)).select(
        "brand",
        F.col("n1").alias("n_high_discount"),
        F.col("n0").alias("n_low_discount"),
        F.col("z6").alias("welch_z"),
        "bh_rank",
        F.round(F.col("crit"), 6).alias("crit_z"),
        "passes_at_rank",
        "n_discoveries",
        (F.col("bh_rank") <= F.col("n_discoveries")).alias("is_discovery"),
    )


# ---------------------------------------------------------------------------
# Group-sequential monitoring with O'Brien-Fleming-shaped boundaries
# (r9) — the interim-analysis member of the experimentation tier: cuped/
# welch read an experiment ONCE at the end; a monitored experiment is
# tested at K interim looks, and naive repeated z>1.96 testing inflates
# type-I error several-fold. The OBF shape b_k = C * sqrt(K/k) spends
# almost no alpha early (look 1 needs |z| > ~5) and ~z_{alpha/2} at the
# final look (O'Brien & Brien-Fleming 1979; normal-approximation form with
# C = Phi^-1(1-alpha/2), the conservative textbook shape). Interims are
# pinned to the REFERENCE CALENDAR (order years 1995..2001, K=7 — the
# ESD baked-constant discipline), boundaries baked as Python floats.

_OBF_SALT = "obf1#"
_OBF_YEARS = list(range(1995, 2002))  # K = 7 calendar interims (testdata order calendar 1995..2001)
_OBF_K = len(_OBF_YEARS)


def _obf_boundaries() -> list[float]:
    from statistics import NormalDist

    c = NormalDist().inv_cdf(1.0 - 0.05 / 2.0)
    return [c * math.sqrt(_OBF_K / k) for k in range(1, _OBF_K + 1)]


_OBF_BOUND = _obf_boundaries()


def _obf_sql() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_hash60

    z = _bh_welch_z("cs1", "cn1", "css1", "cs0", "cn0", "css0")
    rows = " UNION ALL ".join(
        f"SELECT CAST({k + 1} AS INT) AS look_k,"
        f" CAST({y} AS INT) AS through_year,"
        f" CAST({_OBF_BOUND[k]!r} AS DOUBLE) AS boundary_z"
        for k, y in enumerate(_OBF_YEARS)
    )
    return f"""
    WITH per_order AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr,
             CASE WHEN ({_sql_hash60('o_orderkey', _OBF_SALT)}) % 100 < 50
                  THEN 1 ELSE 0 END AS arm,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               // 100 AS dollars
      FROM orders
    ),
    yearly AS (
      SELECT yr, arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dollars) AS BIGINT) AS s,
             CAST(SUM(dollars * dollars) AS BIGINT) AS ss
      FROM per_order GROUP BY 1, 2
    ),
    looks AS ({rows}),
    cumm AS (
      SELECT l.look_k, l.through_year, l.boundary_z,
             CAST(COALESCE(SUM(CASE WHEN y.arm = 1 THEN y.n END), 0)
                  AS BIGINT) AS cn1,
             CAST(COALESCE(SUM(CASE WHEN y.arm = 1 THEN y.s END), 0)
                  AS BIGINT) AS cs1,
             CAST(COALESCE(SUM(CASE WHEN y.arm = 1 THEN y.ss END), 0)
                  AS BIGINT) AS css1,
             CAST(COALESCE(SUM(CASE WHEN y.arm = 0 THEN y.n END), 0)
                  AS BIGINT) AS cn0,
             CAST(COALESCE(SUM(CASE WHEN y.arm = 0 THEN y.s END), 0)
                  AS BIGINT) AS cs0,
             CAST(COALESCE(SUM(CASE WHEN y.arm = 0 THEN y.ss END), 0)
                  AS BIGINT) AS css0
      FROM looks l LEFT JOIN yearly y ON y.yr <= l.through_year
      GROUP BY 1, 2, 3
    ),
    zs AS (
      SELECT look_k, through_year, boundary_z, cn1, cn0,
             CASE WHEN cn1 > 1 AND cn0 > 1
                  THEN round({z}, 6) END AS welch_z
      FROM cumm
    ),
    fc AS (
      SELECT CAST(COALESCE(MIN(CASE WHEN abs(welch_z) >= boundary_z
                                    THEN look_k END), 0) AS INT)
               AS first_crossing_k
      FROM zs
    )
    SELECT zs.look_k, zs.through_year,
           zs.cn1 AS n_treat_cum, zs.cn0 AS n_ctrl_cum,
           zs.welch_z, round(zs.boundary_z, 6) AS boundary_z,
           COALESCE(abs(zs.welch_z) >= zs.boundary_z, FALSE) AS crossed,
           fc.first_crossing_k,
           fc.first_crossing_k > 0
             AND zs.look_k >= fc.first_crossing_k AS stopped
    FROM zs CROSS JOIN fc
    """


@register(
    "group_sequential_obf_monitor",
    oracle=_obf_sql(),
)
def group_sequential_obf_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential experiment monitor: orders are hash-split into
    an A/A experiment (portable 60-bit hash on o_orderkey), and at each
    of K=7 calendar interims (through-year 1995..2001) the cumulative
    Welch z on order value (whole dollars) is compared against the
    baked OBF-shaped boundary C*sqrt(K/k). Emits the full monitoring
    table — cumulative arm sizes, z, boundary, crossed, the first
    crossing look (0 = never, the expected A/A outcome), and the
    stopped flag from that look onward.

    Exactness: dollar values are exact BIGINTs (cents div 100 — bounds
    ss ~ 3.8e15 at sf0.01, BIGINT-safe through ~sf1000); the cumulative
    moments come from a LOOKS x yearly range join (a 7 x 14-row
    broadcast algebra, no window at all); z is the shared-text
    _bh_welch_z expression rounded 6dp before the boundary comparison,
    and the boundaries are data-independent Python literals (so the
    float-feeds-comparison gotcha cannot bite). Degenerate looks
    (either arm <= 1) publish NULL z and crossed=false identically.

    Scale shape: ONE fact hash aggregate to (year, arm) — 14 rows —
    ends the fact lineage; the look grid is a broadcast literal
    relation (the HLL day-grid precedent)."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    orders = load_table(spark, sf_dir, "orders")
    yearly = (
        orders.select(
            F.year("o_orderdate").alias("yr"),
            (_hash60(F.col("o_orderkey"), _OBF_SALT) % 100 < 50)
            .cast("int")
            .alias("arm"),
            F.expr(
                "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT) div 100 AS BIGINT)"
            ).alias("dollars"),
        )
        .groupBy("yr", "arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("dollars").cast("long").alias("s"),
            F.sum(F.col("dollars") * F.col("dollars"))
            .cast("long")
            .alias("ss"),
        )
        .localCheckpoint()  # 14 rows; ends the fact lineage
    )
    looks = spark.createDataFrame(
        [(k + 1, y, _OBF_BOUND[k]) for k, y in enumerate(_OBF_YEARS)],
        "look_k int, through_year int, boundary_z double",
    )
    cumm = (
        looks.join(
            F.broadcast(yearly), yearly["yr"] <= looks["through_year"], "left"
        )
        .groupBy("look_k", "through_year", "boundary_z")
        .agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("arm") == arm, F.col(c))), F.lit(0)
                )
                .cast("long")
                .alias(f"c{c}{arm}")
                for arm in (1, 0)
                for c in ("n", "s", "ss")
            ]
        )
    )
    z = _bh_welch_z("cs1", "cn1", "css1", "cs0", "cn0", "css0")
    zs = cumm.select(
        "look_k",
        "through_year",
        "boundary_z",
        "cn1",
        "cn0",
        F.when(
            (F.col("cn1") > 1) & (F.col("cn0") > 1), F.round(F.expr(z), 6)
        ).alias("welch_z"),
    ).localCheckpoint()  # 7 rows; feeds the crossing scan + output
    fc = zs.agg(
        F.coalesce(
            F.min(
                F.when(
                    F.abs(F.col("welch_z")) >= F.col("boundary_z"),
                    F.col("look_k"),
                )
            ),
            F.lit(0),
        )
        .cast("int")
        .alias("first_crossing_k")
    )
    return zs.crossJoin(F.broadcast(fc)).select(
        "look_k",
        "through_year",
        F.col("cn1").alias("n_treat_cum"),
        F.col("cn0").alias("n_ctrl_cum"),
        "welch_z",
        F.round(F.col("boundary_z"), 6).alias("boundary_z"),
        F.coalesce(
            F.abs(F.col("welch_z")) >= F.col("boundary_z"), F.lit(False)
        ).alias("crossed"),
        "first_crossing_k",
        (
            (F.col("first_crossing_k") > 0)
            & (F.col("look_k") >= F.col("first_crossing_k"))
        ).alias("stopped"),
    )


# ---------------------------------------------------------------------------
# Median-of-means robust mean (r9) — the estimator behind every
# heavy-tail-robust distributed aggregation (Nemirovsky & Yudin 1983;
# the streaming formulation in Alon-Matias-Szegedy): shard the stream
# into B deterministic buckets, average each bucket exactly, publish the
# MEDIAN of the bucket means. A single adversarial/corrupt shard moves
# the median by one order statistic instead of dragging the global mean
# — the certificate next to trimmed/winsorized stats (value-domain
# robustness) covering SHARD-domain robustness.

_MOM_BUCKETS = 32
_MOM_SALT = "mom1#"


def _mom_sql() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_hash60

    h = _sql_hash60("o_orderkey", _MOM_SALT)
    m = "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    ma, mc = m.replace("s", "a.s").replace("n", "a.n"), m.replace(
        "s", "c.s"
    ).replace("n", "c.n")
    return f"""
    WITH vals AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             ({h}) % {_MOM_BUCKETS} AS b
      FROM orders
    ),
    bm AS MATERIALIZED (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM vals GROUP BY 1
    ),
    ranked AS MATERIALIZED (
      SELECT a.b, a.n, a.s, {ma} AS m,
             CAST(COUNT(*) AS INT) AS rk
      FROM bm a JOIN bm c
        ON ({mc}) < ({ma}) OR (({mc}) = ({ma}) AND c.b <= a.b)
      GROUP BY a.b, a.n, a.s
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(SUM(n) AS BIGINT) AS n_all,
             CAST(SUM(s) AS BIGINT) AS s_all
      FROM bm
    ),
    med AS (
      SELECT
        (SELECT r.m FROM ranked r CROSS JOIN tot t
         WHERE r.rk = (t.n_buckets + 1) // 2) AS m_lo,
        (SELECT r.m FROM ranked r CROSS JOIN tot t
         WHERE r.rk = t.n_buckets // 2 + 1) AS m_hi
    )
    SELECT tot.n_all AS n_orders, tot.n_buckets,
           round(CAST(tot.s_all AS DOUBLE) / CAST(tot.n_all AS DOUBLE)
                 / 100.0, 4) AS plain_mean,
           round((med.m_lo + med.m_hi) / 2.0 / 100.0, 4) AS mom_mean,
           round((SELECT MIN(m) FROM ranked) / 100.0, 4)
             AS min_bucket_mean,
           round((SELECT MAX(m) FROM ranked) / 100.0, 4)
             AS max_bucket_mean,
           round(abs((med.m_lo + med.m_hi) / 2.0
                     - CAST(tot.s_all AS DOUBLE)
                       / CAST(tot.n_all AS DOUBLE)) / 100.0, 4)
             AS mom_vs_mean_gap
    FROM tot CROSS JOIN med
    """


@register(
    "median_of_means_certificate",
    oracle=_mom_sql(),
)
def median_of_means_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means over order values: orders shard into 32
    deterministic portable-hash buckets, each bucket's mean is ONE
    division over exact BIGINT cent sums, and the published estimator
    is the median of the 32 bucket means (even count: midpoint of the
    two central order statistics) — reported against the plain mean
    and the bucket-mean envelope, so the driver hash certifies both
    the estimator and its shard spread.

    Exactness: bucket means are shared-text divisions of exact
    integers (bit-identical cross-engine, so the COMPARISON-based
    median ranking cannot flip — the float-feeds-comparison gotcha is
    satisfied by construction, with the bucket id as tiebreak);
    ranking is a 32x32 broadcast self-join on the localCheckpointed
    bucket relation, no window.

    Scale shape: ONE fact hash aggregate to 32 rows (partial combine
    collapses each map task to <= 32 rows before the shuffle — the
    estimator was DESIGNED for exactly this topology); everything
    after is metadata-scale."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    orders = load_table(spark, sf_dir, "orders")
    bm = (
        orders.select(
            (dec("o_totalprice") * 100).cast("long").alias("cents"),
            (_hash60(F.col("o_orderkey"), _MOM_SALT) % _MOM_BUCKETS).alias(
                "b"
            ),
        )
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
        )
        .localCheckpoint()  # 32 rows; feeds both rank-join sides + totals
    )
    m = F.col("s").cast("double") / F.col("n").cast("double")
    withm = bm.select("b", "n", "s", m.alias("m"))
    a, c = withm.alias("a"), withm.alias("c")
    ranked = (
        a.join(
            F.broadcast(c),
            (F.col("c.m") < F.col("a.m"))
            | ((F.col("c.m") == F.col("a.m")) & (F.col("c.b") <= F.col("a.b"))),
        )
        .groupBy(
            F.col("a.b").alias("b"),
            F.col("a.n").alias("n"),
            F.col("a.s").alias("s"),
            F.col("a.m").alias("m"),
        )
        .agg(F.count(F.lit(1)).cast("int").alias("rk"))
        .localCheckpoint()  # 32 rows; feeds median picks + envelope
    )
    tot = bm.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n").cast("long").alias("n_all"),
        F.sum("s").cast("long").alias("s_all"),
    )
    picks = ranked.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.when(
                F.col("rk")
                == F.expr("CAST((n_buckets + 1) div 2 AS INT)"),
                F.col("m"),
            )
        ).alias("m_lo"),
        F.max(
            F.when(
                F.col("rk")
                == F.expr("CAST(n_buckets div 2 AS INT) + 1"),
                F.col("m"),
            )
        ).alias("m_hi"),
        F.min("m").alias("m_min"),
        F.max("m").alias("m_max"),
    )
    mom = (F.col("m_lo") + F.col("m_hi")) / F.lit(2.0)
    plain = F.col("s_all").cast("double") / F.col("n_all").cast("double")
    return tot.crossJoin(F.broadcast(picks)).select(
        F.col("n_all").alias("n_orders"),
        "n_buckets",
        F.round(plain / F.lit(100.0), 4).alias("plain_mean"),
        F.round(mom / F.lit(100.0), 4).alias("mom_mean"),
        F.round(F.col("m_min") / F.lit(100.0), 4).alias("min_bucket_mean"),
        F.round(F.col("m_max") / F.lit(100.0), 4).alias("max_bucket_mean"),
        F.round(F.abs(mom - plain) / F.lit(100.0), 4).alias(
            "mom_vs_mean_gap"
        ),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (r9) — the nonparametric TREND member of the
# time-series tier (Mann 1945, Kendall 1975): S = sum of sign(y_j - y_i)
# over time-ordered pairs, with the tie-corrected variance and the
# continuity-corrected normal z. Complements kendall_tau_daily (which
# measures x-y association) and siegel/cusum (which estimate/locate the
# trend): this one TESTS monotonic trend existence distribution-free.

_MK_Z_CRIT = 1.959963984540054  # Phi^-1(0.975), baked (stdlib NormalDist)


def _mk_sql() -> str:
    z = (
        "CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)"
        " / sqrt(var_s)"
        " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)"
        " / sqrt(var_s)"
        " ELSE 0.0 END"
    )
    return f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y)
      WHERE t > 1
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
    var_cte AS (
      SELECT nd.n_days, pairs.s_stat, ties.tie_term,
             CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                  - ties.tie_term AS DOUBLE) / 18.0 AS var_s
      FROM nd CROSS JOIN pairs CROSS JOIN ties
    )
    SELECT n_days, s_stat, tie_term,
           round(var_s, 4) AS var_s,
           round({z}, 6) AS mk_z,
           round({z}, 6) > {_MK_Z_CRIT!r} AS increasing,
           round({z}, 6) < -{_MK_Z_CRIT!r} AS decreasing
    FROM var_cte
    """


@register(
    "mann_kendall_trend",
    oracle=_mk_sql(),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on daily revenue: S from the
    time-ordered pair census (sign sums — pure comparisons on exact
    BIGINT cent totals, no measure products), tie-corrected variance
    [n(n-1)(2n+5) - sum t(t-1)(2t+5)] / 18 with the tie term an exact
    BIGINT over the y-value groups, and the continuity-corrected z
    compared two-sided against the baked 1.96 critical value (rounded
    6dp BEFORE the comparison on both engines — the decile-bin gotcha).

    Scale shape: one fact aggregate to the localCheckpointed calendar
    grid; the pair census is the kendall_tau_daily broadcast range
    self-join (quadratic in the CALENDAR, never the corpus); the tie
    groups are a <= |distinct y| aggregate of the same grid."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum((dec("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
        .localCheckpoint()  # calendar-bounded; feeds pairs, ties, n
    )
    a = daily.select(F.col("day").alias("day_a"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("day_b"), F.col("y").alias("yb"))
    pairs = (
        a.join(F.broadcast(b), F.col("day_a") < F.col("day_b"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    nd = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    var_s = (
        (
            F.col("n_days")
            * (F.col("n_days") - 1)
            * (2 * F.col("n_days") + 5)
            - F.col("tie_term")
        ).cast("double")
        / F.lit(18.0)
    ).alias("var_s_raw")
    base = (
        nd.crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(ties))
        .select("n_days", "s_stat", "tie_term", var_s)
    )
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat").cast("double") - F.lit(1.0))
            / F.sqrt(F.col("var_s_raw")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat").cast("double") + F.lit(1.0))
            / F.sqrt(F.col("var_s_raw")),
        )
        .otherwise(F.lit(0.0))
    )
    z6 = F.round(z, 6)
    return base.select(
        "n_days",
        "s_stat",
        "tie_term",
        F.round(F.col("var_s_raw"), 4).alias("var_s"),
        z6.alias("mk_z"),
        (z6 > F.lit(_MK_Z_CRIT)).alias("increasing"),
        (z6 < -F.lit(_MK_Z_CRIT)).alias("decreasing"),
    )


# ---------------------------------------------------------------------------
# t-closeness audit (r9) — the third rung of the privacy-audit ladder
# (Li/Li/Venkatasubramanian, ICDE 2007): k-anonymity bounds class SIZE,
# l-diversity bounds distinct sensitive values, but a class can satisfy
# both while its sensitive DISTRIBUTION leaks (99% URGENT in one class
# vs 20% globally). t-closeness bounds the distance between each
# class's sensitive distribution and the global one — here the
# categorical total-variation distance, which is EXACT in integers:
# TVD_c = sum_s |cnt_cs*N - g_s*n_c| / (2*n_c*N).

_TCLOSE_T = 0.2  # released classes must sit within TVD 0.2 of global


def _tclose_sql() -> str:
    return f"""
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
             CAST(COUNT(*) AS BIGINT) AS n_c
      FROM qi GROUP BY 1, 2, 3
    ),
    cs AS (
      SELECT nation, segment, order_year, sensitive,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM qi GROUP BY 1, 2, 3, 4
    ),
    dom AS (
      SELECT sensitive, CAST(COUNT(*) AS BIGINT) AS g
      FROM qi GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM qi),
    grid AS (
      SELECT c.nation, c.segment, c.order_year, c.n_c,
             d.sensitive, d.g, COALESCE(cs.cnt, 0) AS cnt
      FROM cls c CROSS JOIN dom d
      LEFT JOIN cs ON cs.nation = c.nation AND cs.segment = c.segment
        AND cs.order_year = c.order_year AND cs.sensitive = d.sensitive
    ),
    tvd AS (
      SELECT g2.nation, g2.segment, g2.order_year, g2.n_c,
             CAST(SUM(abs(g2.cnt * tot.n - g2.g * g2.n_c)) AS BIGINT)
               AS num,
             CAST(MAX(tot.n) AS BIGINT) AS n
      FROM grid g2 CROSS JOIN tot
      GROUP BY 1, 2, 3, 4
    ),
    scored AS (
      SELECT nation, segment, order_year, n_c,
             round(CAST(num AS DOUBLE)
                   / (2.0 * CAST(n_c AS DOUBLE) * CAST(n AS DOUBLE)), 6)
               AS tvd
      FROM tvd
    ),
    summry AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
             round(MAX(tvd), 6) AS max_tvd,
             CAST(SUM(CASE WHEN tvd > {_TCLOSE_T!r} THEN n_c ELSE 0 END)
                  AS BIGINT) AS rows_breaching
      FROM scored
    )
    SELECT s.nation, s.segment, s.order_year,
           s.n_c AS class_size, s.tvd,
           s.tvd <= {_TCLOSE_T!r} AS meets_t,
           g.n_classes, g.max_tvd, g.rows_breaching
    FROM scored s CROSS JOIN summry g
    """


@register(
    "t_closeness_audit",
    oracle=_tclose_sql(),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness over the k_anonymity_audit framing (QI = nation x
    segment x order-year, sensitive = order priority): per equivalence
    class, the total-variation distance between the class's sensitive
    distribution and the global one, computed as the EXACT BIGINT
    sum |cnt_cs*N - g_s*n_c| over the full (class x sensitive-domain)
    grid — zero-count cells included via the domain cross join, or the
    distance silently undercounts — divided once at publication.
    Emits the per-class audit plus the global summary (max TVD, rows in
    breaching classes) so the driver hash grades both the ladder rung
    (tvd <= t) and the distances themselves (6dp, rounded BEFORE the
    t comparison on both engines).

    Scale shape: the QI relation is built once, unpinned (four
    aggregate consumers: classes, class x sensitive cells, sensitive
    domain, total); everything downstream is
    classes x |domain| grid algebra (~875 x 5 at any SF — calendar x
    dims bounded), broadcast-joined. No windows."""
    qi = (
        load_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey", "c_mktsegment"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
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
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    cs = qi.groupBy("nation", "segment", "order_year", "sensitive").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    dom = qi.groupBy("sensitive").agg(
        F.count(F.lit(1)).cast("long").alias("g")
    )
    tot = qi.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = (
        cls.crossJoin(F.broadcast(dom))
        .join(
            cs,
            ["nation", "segment", "order_year", "sensitive"],
            "left",
        )
        .select(
            "nation",
            "segment",
            "order_year",
            "n_c",
            "g",
            F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cnt"),
        )
    )
    tvd = (
        grid.crossJoin(F.broadcast(tot))
        .groupBy("nation", "segment", "order_year", "n_c")
        .agg(
            F.sum(
                F.abs(F.col("cnt") * F.col("n") - F.col("g") * F.col("n_c"))
            )
            .cast("long")
            .alias("num"),
            F.max("n").cast("long").alias("n"),
        )
    )
    scored = tvd.select(
        "nation",
        "segment",
        "order_year",
        "n_c",
        F.round(
            F.col("num").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_c").cast("double")
                * F.col("n").cast("double")
            ),
            6,
        ).alias("tvd"),
    ).localCheckpoint()  # classes x 1 — bounded; feeds output + summary
    glob = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.round(F.max("tvd"), 6).alias("max_tvd"),
        F.sum(
            F.when(F.col("tvd") > _TCLOSE_T, F.col("n_c")).otherwise(0)
        )
        .cast("long")
        .alias("rows_breaching"),
    )
    return scored.crossJoin(F.broadcast(glob)).select(
        "nation",
        "segment",
        "order_year",
        F.col("n_c").alias("class_size"),
        "tvd",
        (F.col("tvd") <= F.lit(_TCLOSE_T)).alias("meets_t"),
        "n_classes",
        "max_tvd",
        "rows_breaching",
    )

