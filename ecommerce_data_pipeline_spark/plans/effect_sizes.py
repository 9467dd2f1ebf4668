"""Ordinal effect sizes and rank-dispersion tests over the two-segment
order-value histogram (Cliff's delta, Hellinger/Bhattacharyya drift,
Ansari-Bradley) — split out of ``plans/profiling_tests.py`` at r13
(that module sat within 5% of the 2,500-LoC guideline after the r12
batches; the verdict asked the next touch to carry the split). Pure
move: plans and oracles byte-identical, registration order preserved
by importing this module immediately after profiling_tests in
``plans/__init__`` (these three blocks were that module's
registration TAIL — the hypothesis_ladder/placement precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans.profiling import (
    _SQL_TWO_SEG_HIST,
    _two_segment_hist,
)
from ecommerce_data_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Cliff's delta ordinal effect size (r12 batch 5) — the EFFECT-SIZE
# companion to mannwhitney_u_test (Cliff 1993), exactly as cramers_v is
# chi_square's: the U test says whether BUILDING and MACHINERY order
# values differ; delta = P(X>Y) - P(X<Y) says by HOW MUCH on a
# scale-free [-1, 1] axis that survives the n-inflation making every U
# significant at 100 TB row counts. Vargha-Delaney A = (delta+1)/2 is
# published alongside (the "probability of superiority" reviewers ask
# for), with the Romano et al. 2006 magnitude band.


@register(
    "cliffs_delta_segments",
    oracle=f"""
    WITH {_SQL_TWO_SEG_HIST},
    cum AS (
      SELECT v, a_cnt, b_cnt,
             COALESCE(SUM(b_cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prev_b
      FROM hist
    ),
    agg AS (
      SELECT SUM(a_cnt) AS n1, SUM(b_cnt) AS n2,
             SUM(CAST(a_cnt AS HUGEINT) * prev_b) AS gt,
             SUM(CAST(a_cnt AS HUGEINT) * b_cnt) AS tie
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           CAST(gt AS BIGINT) AS n_gt,
           CAST(CAST(n1 AS HUGEINT) * n2 - gt - tie AS BIGINT) AS n_lt,
           CAST(tie AS BIGINT) AS n_tie,
           ROUND(CAST(gt - (CAST(n1 AS HUGEINT) * n2 - gt - tie) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * n2), 6) AS cliffs_delta,
           ROUND(CAST(2 * gt + tie AS DOUBLE)
                 / (2.0 * CAST(n1 AS DOUBLE) * n2), 6) AS vd_a_measure,
           CASE
             WHEN ABS(CAST(gt - (CAST(n1 AS HUGEINT) * n2 - gt - tie)
                           AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)) < 0.147
               THEN 'negligible'
             WHEN ABS(CAST(gt - (CAST(n1 AS HUGEINT) * n2 - gt - tie)
                           AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)) < 0.33
               THEN 'small'
             WHEN ABS(CAST(gt - (CAST(n1 AS HUGEINT) * n2 - gt - tie)
                           AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)) < 0.474
               THEN 'medium'
             ELSE 'large'
           END AS magnitude
    FROM agg
    """,
)
def cliffs_delta_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between the BUILDING and MACHINERY order-value
    distributions (the mannwhitney/wasserstein/ks segment pair):
    dominance counts, delta, Vargha-Delaney A, and the Romano
    magnitude band.

    Exactness: gt and tie are exact HUGEINT/DECIMAL(38,0) products of
    histogram counts against the prefix-cumulative window; lt is
    DERIVED (n1*n2 - gt - tie — the identity the replay test also
    checks), so one window covers both directions; delta and A are one
    pinned double division each, and the band compares the UNROUNDED
    delta against literal thresholds identically in both engines (the
    cohens_kappa Landis-Koch precedent).

    Scale shape: the mannwhitney value-domain contract — the fact
    table reduces map-side to the distinct-value histogram, the prefix
    window runs over distinct prices, and everything after is one
    scalar fold."""
    hist = _two_segment_hist(spark, sf_dir)
    w_prev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "a_cnt",
        "b_cnt",
        F.coalesce(F.sum("b_cnt").over(w_prev), F.lit(0)).alias("prev_b"),
    )
    agg = cum.agg(
        F.sum("a_cnt").alias("n1"),
        F.sum("b_cnt").alias("n2"),
        F.sum(F.col("a_cnt").cast("decimal(38,0)") * F.col("prev_b")).alias(
            "gt"
        ),
        F.sum(F.col("a_cnt").cast("decimal(38,0)") * F.col("b_cnt")).alias(
            "tie"
        ),
    )
    lt = F.col("n1").cast("decimal(38,0)") * F.col("n2") - F.col("gt") - F.col(
        "tie"
    )
    delta = (F.col("gt") - lt).cast("double") / (
        F.col("n1").cast("double") * F.col("n2")
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        F.col("gt").cast("long").alias("n_gt"),
        lt.cast("long").alias("n_lt"),
        F.col("tie").cast("long").alias("n_tie"),
        F.round(delta, 6).alias("cliffs_delta"),
        F.round(
            (F.lit(2).cast("decimal(38,0)") * F.col("gt") + F.col("tie")).cast(
                "double"
            )
            / (F.lit(2.0) * F.col("n1").cast("double") * F.col("n2")),
            6,
        ).alias("vd_a_measure"),
        F.when(F.abs(delta) < 0.147, F.lit("negligible"))
        .when(F.abs(delta) < 0.33, F.lit("small"))
        .when(F.abs(delta) < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("magnitude"),
    )


# ---------------------------------------------------------------------------
# Hellinger / Bhattacharyya drift (r12 batch 7) — the BOUNDED member
# completing the two-sample drift tier: PSI explodes on empty bins, KS
# reads only the worst CDF gap, W1 is unbounded in price units;
# Hellinger H = sqrt(1 - BC), BC = sum sqrt(p_i q_i), is a true metric
# on [0, 1] that degrades gracefully on disjoint support — the number
# monitoring teams alert on when distributions may drift off the
# training support entirely.


@register(
    "hellinger_price_drift",
    # Binning is ALL-INTEGER: bin = (v - vmin) * 20 // (vmax - vmin + 1)
    # over integer cents, so bin membership cannot flip cross-engine
    # (the orders_psi_decile_drift lesson, solved by construction
    # instead of by rounding bounds). Each bin's term sqrt(a_i * b_i)
    # is one deterministic double of an exact integer product; the
    # <= 20 terms accumulate through an ordered running frame keyed by
    # bin (the cramers_v pinned-order discipline — terms nonnegative,
    # so the frame MAX is the total), and BC/H are two pinned
    # divisions + sqrts, greatest(0, .) guarding the 1-ulp BC > 1 case.
    oracle=f"""
    WITH {_SQL_TWO_SEG_HIST},
    rng AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM hist),
    binned AS (
      SELECT (hist.v - rng.vmin) * 20 // (rng.vmax - rng.vmin + 1) AS bin,
             SUM(a_cnt) AS a_cnt, SUM(b_cnt) AS b_cnt
      FROM hist CROSS JOIN rng
      GROUP BY 1
    ),
    tot AS (SELECT SUM(a_cnt) AS na, SUM(b_cnt) AS nb FROM binned),
    terms AS (
      SELECT bin,
             sqrt(CAST(CAST(a_cnt AS HUGEINT) * b_cnt AS DOUBLE)) AS t
      FROM binned
    ),
    seq AS (
      SELECT SUM(t) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM terms
    ),
    s AS (SELECT MAX(cum) AS s FROM seq)
    SELECT CAST((SELECT COUNT(*) FROM binned) AS BIGINT) AS n_bins,
           CAST(tot.na AS BIGINT) AS n_a, CAST(tot.nb AS BIGINT) AS n_b,
           ROUND(s.s / sqrt(CAST(CAST(tot.na AS HUGEINT) * tot.nb AS DOUBLE)),
                 6) AS bhattacharyya_coef,
           ROUND(sqrt(GREATEST(0.0,
                 1.0 - s.s / sqrt(CAST(CAST(tot.na AS HUGEINT) * tot.nb
                                       AS DOUBLE)))), 6) AS hellinger
    FROM s CROSS JOIN tot
    """,
)
def hellinger_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance and Bhattacharyya coefficient between the
    BUILDING and MACHINERY order-value distributions over 20
    integer-arithmetic equal-width bins (see oracle comment for the
    exactness ladder: integer binning -> per-bin deterministic sqrt ->
    pinned-order accumulation -> two pinned divisions).

    Scale shape: the fact table reduces map-side to the two-segment
    value histogram, the bin fold is a <= value-domain hash aggregate
    down to 20 rows, and everything after is metadata-scale — the
    ordered frame sees 20 rows whatever the corpus."""
    # persisted: feeds the range scalar AND the binned aggregate
    hist = _two_segment_hist(spark, sf_dir).persist()
    rng = hist.agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"))
    from ecommerce_data_pipeline_spark.plans._helpers import exact_floor_div

    # exact integer binning (NOT F.floor of a long/long double division:
    # provably safe at cents scale, but the exact form costs nothing and
    # keeps the all-integer claim literally true at any width)
    binned = (
        hist.crossJoin(F.broadcast(rng))
        .groupBy(
            exact_floor_div(
                (F.col("v") - F.col("vmin")) * 20,
                F.col("vmax") - F.col("vmin") + 1,
            )
            .cast("long")
            .alias("bin")
        )
        .agg(F.sum("a_cnt").alias("a_cnt"), F.sum("b_cnt").alias("b_cnt"))
    )
    tot = binned.agg(F.sum("a_cnt").alias("na"), F.sum("b_cnt").alias("nb"))
    terms = binned.select(
        "bin",
        F.sqrt(
            (F.col("a_cnt").cast("decimal(38,0)") * F.col("b_cnt")).cast(
                "double"
            )
        ).alias("t"),
    )
    w_seq = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = terms.select(F.sum("t").over(w_seq).alias("cum")).agg(
        F.max("cum").alias("s")
    )
    n_bins = binned.agg(F.count(F.lit(1)).cast("long").alias("n_bins"))
    bc = F.col("s") / F.sqrt(
        (F.col("na").cast("decimal(38,0)") * F.col("nb")).cast("double")
    )
    return (
        n_bins.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(s))
        .select(
            "n_bins",
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.round(bc, 6).alias("bhattacharyya_coef"),
            F.round(F.sqrt(F.greatest(F.lit(0.0), 1.0 - bc)), 6).alias(
                "hellinger"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Ansari-Bradley dispersion test (r12 batch 9) — the DISPERSION member
# completing the two-sample ladder (Ansari & Bradley 1960): Mann-
# Whitney reads location, KS the worst CDF gap, Cliff's delta the
# effect size; AB ranks from BOTH ends (min and max get rank 1, the
# middle the highest), so a sample concentrated in the middle scores
# high and a sample in the tails scores low — a scale/spread test with
# no variance computation and no normality assumption.


@register(
    "ansari_bradley_dispersion",
    # Scores are QUARTER-RANK integer units: each tie group's both-ends
    # midrank S2/(2t) is quantized with the exact rational half-up rule
    # at unit 4 (grid 0.25 vs a score range of ~n/2 — statistically
    # indistinguishable, and the z below is the EXACT normal-approx
    # test for the linear rank statistic with these quantized scores:
    # the permutation mean/variance are computed from the same m_i, so
    # the construction is self-consistent, the cramers_v/kappa
    # discipline). The both-ends positional sum over a tie group
    # spanning sorted positions [l, r] has the closed triangular form
    # split at h = (n+1)//2; every quantity through the z numerator and
    # the variance product is an exact HUGEINT/DECIMAL(38,0) integer
    # (bounds: n*M2 ~ 4n^4 quarter-units^2 passes DECIMAL(38,0) to
    # n ~ 1.2e9 rows in the two segments; coarsen the unit beyond).
    # z = (n*W - n1*M) / sqrt(n1*n2*(n*M2 - M^2) / (n-1)) — one
    # division inside the sqrt, one outside, identical text in both
    # engines.
    oracle=f"""
    WITH {_SQL_TWO_SEG_HIST},
    nn AS (SELECT SUM(a_cnt + b_cnt) AS n,
                  (SUM(a_cnt + b_cnt) + 1) // 2 AS h
           FROM hist),
    pos AS (
      SELECT v, a_cnt, b_cnt, a_cnt + b_cnt AS t,
             COALESCE(SUM(a_cnt + b_cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
               AS l,
             COALESCE(SUM(a_cnt + b_cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (a_cnt + b_cnt) AS r
      FROM hist
    ),
    scored AS (
      SELECT a_cnt, t,
             (2 * 4 * (2 * (
               CASE WHEN LEAST(r, nn.h) >= l
                    THEN LEAST(r, nn.h) * (LEAST(r, nn.h) + 1) // 2
                         - (l - 1) * l // 2
                    ELSE 0 END
               + CASE WHEN r >= GREATEST(l, nn.h + 1)
                      THEN (nn.n + 1) * (r - GREATEST(l, nn.h + 1) + 1)
                           - (r * (r + 1) // 2
                              - (GREATEST(l, nn.h + 1) - 1)
                                * GREATEST(l, nn.h + 1) // 2)
                      ELSE 0 END))
              + 2 * t) // (2 * 2 * t) AS m
      FROM pos CROSS JOIN nn
    ),
    agg AS (
      SELECT SUM(a_cnt) AS n1,
             SUM(t) - SUM(a_cnt) AS n2,
             SUM(t) AS n,
             SUM(CAST(a_cnt AS HUGEINT) * m) AS w,
             SUM(CAST(t AS HUGEINT) * m) AS mm,
             SUM(CAST(t AS HUGEINT) * m * m) AS m2
      FROM scored
    )
    SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           CAST(w AS BIGINT) AS w_quarter_units,
           ROUND(CAST(CAST(n AS HUGEINT) * w - n1 * mm AS DOUBLE)
                 / sqrt(CAST(CAST(n1 AS HUGEINT) * n2
                             * (CAST(n AS HUGEINT) * m2 - mm * mm) AS DOUBLE)
                        / CAST(n - 1 AS DOUBLE)), 6) AS z_score
    FROM agg
    """,
)
def ansari_bradley_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley rank-dispersion test between the BUILDING and
    MACHINERY order-value distributions: both-ends midrank scores in
    quarter-rank integer units (see oracle comment), the A-sample score
    sum W, and the permutation-variance normal z.

    Scale shape: the mannwhitney value-domain contract — the fact table
    reduces map-side to the two-segment distinct-value histogram, one
    prefix window assigns sorted positions over distinct values, the
    both-ends score is closed-form positional arithmetic, and the test
    folds to one scalar row."""
    hist = _two_segment_hist(spark, sf_dir)
    t = F.col("a_cnt") + F.col("b_cnt")
    w_prev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pos = hist.select(
        "a_cnt",
        t.alias("t"),
        (F.coalesce(F.sum(t).over(w_prev), F.lit(0)) + 1).alias("l"),
        (F.coalesce(F.sum(t).over(w_prev), F.lit(0)) + t).alias("r"),
    )
    from ecommerce_data_pipeline_spark.plans._helpers import exact_floor_div

    nn = hist.agg(
        F.sum(t).alias("n"),
        # exact-integer ceil(N/2) = (N+1)//2 (consistency with the
        # exact_floor_div discipline; the double form is exact only
        # below ~2^53 — r12 advice)
        exact_floor_div(F.sum(t) + F.lit(1), F.lit(2))
        .cast("long")
        .alias("h"),
    )
    lo_hi = F.least(F.col("r"), F.col("h"))
    part1 = F.when(
        lo_hi >= F.col("l"),
        lo_hi.cast("decimal(38,0)") * (lo_hi + 1) / 2
        - (F.col("l") - 1).cast("decimal(38,0)") * F.col("l") / 2,
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    lo2 = F.greatest(F.col("l"), F.col("h") + 1)
    part2 = F.when(
        F.col("r") >= lo2,
        (F.col("n") + 1).cast("decimal(38,0)") * (F.col("r") - lo2 + 1)
        - (
            F.col("r").cast("decimal(38,0)") * (F.col("r") + 1) / 2
            - (lo2 - 1).cast("decimal(38,0)") * lo2 / 2
        ),
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    # consecutive-integer triangular sums are always even products /2 —
    # the decimal division is exact; S2 doubles them back to integers
    from ecommerce_data_pipeline_spark.plans._helpers import (
        half_up_ratio_units,
    )

    s2 = (F.lit(2).cast("decimal(38,0)") * (part1 + part2)).cast(
        "decimal(38,0)"
    )
    scored = pos.crossJoin(F.broadcast(nn)).select(
        "a_cnt",
        "t",
        half_up_ratio_units(
            s2, (F.lit(2).cast("decimal(38,0)") * F.col("t")), 4
        ).alias("m"),
    )
    agg = scored.agg(
        F.sum("a_cnt").alias("n1"),
        (F.sum("t") - F.sum("a_cnt")).alias("n2"),
        F.sum("t").alias("n"),
        F.sum(F.col("a_cnt").cast("decimal(38,0)") * F.col("m")).alias("w"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("m")).alias("mm"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("m") * F.col("m")
        ).alias("m2"),
    )
    num = (
        F.col("n").cast("decimal(38,0)") * F.col("w")
        - F.col("n1").cast("decimal(38,0)") * F.col("mm")
    )
    var_prod = (
        F.col("n1").cast("decimal(38,0)")
        * F.col("n2")
        * (
            F.col("n").cast("decimal(38,0)") * F.col("m2")
            - F.col("mm") * F.col("mm")
        )
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        F.col("w").cast("long").alias("w_quarter_units"),
        F.round(
            num.cast("double")
            / F.sqrt(
                var_prod.cast("double") / (F.col("n") - 1).cast("double")
            ),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Cramér–von Mises two-sample test (r13) — the QUADRATIC-EDF member of
# the drift tier (Anderson 1962): PSI bins, KS takes the max CDF gap,
# W1 integrates the gap, Hellinger compares binned sqrt-densities; CvM
# integrates the SQUARED gap over the empirical mixture, catching
# distributed small deviations KS misses. T = U/(nmN) - (4mn-1)/(6N),
# U = n*sum_i (r_i - i)^2 + m*sum_j (s_j - j)^2 over combined midranks.
#
# Integer discipline: per distinct-value cell, the within-sample index
# runs over a consecutive block, so the cell's contribution to 12U is
# the closed form g(a, c) = 3ac^2 - 6ca(a+1) + 2a(a+1)(2a+1) with
# c = r2 - 2*prefix (r2 = doubled combined midrank) — EXACT integers
# end to end (verified against direct midrank enumeration and a
# Fraction replay in tests/test_statistics.py); the statistic is emitted
# as exact u12 plus half-up micros, zero floats anywhere.


@register(
    "cramer_von_mises_two_sample",
    oracle=f"""
    WITH {_SQL_TWO_SEG_HIST},
    pre AS (
      SELECT v, a_cnt, b_cnt,
             COALESCE(SUM(a_cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a0,
             COALESCE(SUM(b_cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b0
      FROM hist
    ),
    nn AS (SELECT CAST(SUM(a_cnt) AS BIGINT) AS n,
                  CAST(SUM(b_cnt) AS BIGINT) AS m FROM hist),
    cells AS (
      SELECT a_cnt, b_cnt, a0, b0,
             2*(a0 + b0) + (a_cnt + b_cnt) + 1 AS r2
      FROM pre
    ),
    u AS (
      SELECT CAST(SUM(
        CASE WHEN a_cnt > 0 THEN
          n * (3*a_cnt*CAST(r2 - 2*a0 AS HUGEINT)*CAST(r2 - 2*a0 AS HUGEINT)
               - 6*CAST(r2 - 2*a0 AS HUGEINT)*a_cnt*(a_cnt+1)
               + 2*CAST(a_cnt AS HUGEINT)*(a_cnt+1)*(2*a_cnt+1))
        ELSE 0 END +
        CASE WHEN b_cnt > 0 THEN
          m * (3*b_cnt*CAST(r2 - 2*b0 AS HUGEINT)*CAST(r2 - 2*b0 AS HUGEINT)
               - 6*CAST(r2 - 2*b0 AS HUGEINT)*b_cnt*(b_cnt+1)
               + 2*CAST(b_cnt AS HUGEINT)*(b_cnt+1)*(2*b_cnt+1))
        ELSE 0 END) AS HUGEINT) AS u12
      FROM cells CROSS JOIN nn
    )
    SELECT n AS n_a, m AS n_b, CAST(u12 AS BIGINT) AS u12,
           CAST((2*1000000*(u12 - 2*CAST(n AS HUGEINT)*m*(4*m*n - 1))
                 + 12*CAST(n AS HUGEINT)*m*(n + m))
                // (2*12*CAST(n AS HUGEINT)*m*(n + m)) AS BIGINT)
             AS t_micros
    FROM u CROSS JOIN nn
    """,
)
def cramer_von_mises_two_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CvM T between BUILDING and MACHINERY order-value distributions
    (the ansari/cliffs two-segment histogram). Scale shape: one
    fact-pass to the distinct-value histogram, two value-domain-bounded
    prefix windows, a scalar fold — the 2dp price grid bounds every
    post-aggregate relation regardless of order count."""
    # persist: hist feeds the prefix-window branch AND the count
    # aggregate (the hellinger two-consumer precedent) — without it the
    # fact join + histogram aggregate execute twice (r13 review)
    return _cvm_from_hist(_two_segment_hist(spark, sf_dir).persist())


def _cvm_from_hist(hist: DataFrame) -> DataFrame:
    """CvM statistic row from a (v, a_cnt, b_cnt) histogram — factored
    so the identical-samples hand pin drives the PRODUCTION algebra
    (the _page_trend_from_cells precedent)."""
    from ecommerce_data_pipeline_spark.plans._helpers import (
        half_up_ratio_units,
    )

    w_prev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pre = hist.select(
        "a_cnt",
        "b_cnt",
        F.coalesce(F.sum("a_cnt").over(w_prev), F.lit(0)).alias("a0"),
        F.coalesce(F.sum("b_cnt").over(w_prev), F.lit(0)).alias("b0"),
    )
    nn = hist.agg(
        F.sum("a_cnt").cast("long").alias("n"),
        F.sum("b_cnt").cast("long").alias("m"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cells = pre.select(
        "a_cnt",
        "b_cnt",
        "a0",
        "b0",
        (2 * (F.col("a0") + F.col("b0")) + F.col("a_cnt") + F.col("b_cnt") + 1)
        .alias("r2"),
    )

    def g(cnt, prefix, scale):
        c = d38(F.col("r2") - 2 * F.col(prefix))
        a = F.col(cnt)
        return F.when(
            a > 0,
            d38(F.col(scale))
            * (
                3 * d38(a) * c * c
                - 6 * c * d38(a) * (a + 1)
                + 2 * d38(a) * (a + 1) * (2 * a + 1)
            ),
        ).otherwise(F.lit(0).cast("decimal(38,0)"))

    u = cells.crossJoin(F.broadcast(nn)).agg(
        F.sum(g("a_cnt", "a0", "n") + g("b_cnt", "b0", "m"))
        .cast("decimal(38,0)")
        .alias("u12")
    )
    out = u.crossJoin(F.broadcast(nn))
    p = d38(F.col("u12")) - 2 * d38(F.col("n")) * F.col("m") * (
        4 * d38(F.col("m")) * F.col("n") - 1
    )
    q = 12 * d38(F.col("n")) * F.col("m") * (F.col("n") + F.col("m"))
    return out.select(
        F.col("n").alias("n_a"),
        F.col("m").alias("n_b"),
        F.col("u12").cast("long").alias("u12"),
        half_up_ratio_units(p, q, 1_000_000).alias("t_micros"),
    )
