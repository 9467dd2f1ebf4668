"""The matched-samples hypothesis ladder (two-proportion z ->
McNemar -> Cochran Q on participation; Friedman on activity levels;
Brown-Forsythe on dispersion) and its shared baked chi-square critical
ladder — split out of ``plans/profiling_tests.py`` at r11 (that module
re-breached the 2,500-LoC guideline when the r11 batch-2 tests landed;
pure move, plans and oracles byte-identical, registration order
preserved by importing this module immediately after profiling_tests
in ``plans/__init__``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table


# ---------------------------------------------------------------------------
# McNemar paired-proportion test (r10 batch 2) — the PAIRED member of
# the hypothesis-test tier (McNemar 1947; Edwards 1948 continuity
# correction): each customer is their own control across two periods,
# so the test reads ONLY the discordant pairs (active-then-churned vs
# newly-activated) — the standard before/after retention significance
# check that two-proportion z gets wrong by ignoring the pairing.

_MCN_SPLIT = "1998-01-01"  # period A = [1995, 1998), period B = [1998, 2001]

# chi-square upper-tail critical values, df 1..12, baked — ONE textual
# home for the whole hypothesis ladder (review r10: the McNemar dict
# originally carried its own 1%-value copy that differed from the
# Cochran ladder's df=1 entry in the last ulp — two doubles for one
# mathematical threshold). Cochran's Q below indexes by df; McNemar
# reads the df=1 entries.
_CHI2_CRIT_05 = (
    3.841458820694124, 5.991464547107979, 7.814727903251179,
    9.487729036781154, 11.070497693516351, 12.591587243743977,
    14.067140449340169, 15.50731305586545, 16.918977604620448,
    18.307038053275146, 19.67513757268249, 21.02606981748307,
)
_CHI2_CRIT_01 = (
    6.6348966010212145, 9.21034037197618, 11.344866730144373,
    13.276704135987622, 15.08627246938899, 16.811893829770927,
    18.475306906582357, 20.090235029663233, 21.665994333461924,
    23.209251158954356, 24.724970311318277, 26.216967305535853,
)
_MCN_CHI2_CRIT = {"05": _CHI2_CRIT_05[0], "01": _CHI2_CRIT_01[0]}


@register(
    "mcnemar_repeat_purchase",
    oracle=f"""
    WITH per_cust AS MATERIALIZED (
      SELECT o_custkey,
             CAST(MAX(CASE WHEN o_orderdate < TIMESTAMP '{_MCN_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS in_a,
             CAST(MAX(CASE WHEN o_orderdate >= TIMESTAMP '{_MCN_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS in_b
      FROM orders GROUP BY o_custkey
    ),
    flags AS (
      SELECT c.c_custkey,
             COALESCE(p.in_a, 0) AS in_a,
             COALESCE(p.in_b, 0) AS in_b
      FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
    ),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
             CAST(SUM((1 - in_a) * (1 - in_b)) AS BIGINT) AS n_neither,
             CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS n_a_only,
             CAST(SUM((1 - in_a) * in_b) AS BIGINT) AS n_b_only
      FROM flags
    ),
    stat AS (
      SELECT *,
             CASE WHEN n_a_only + n_b_only > 0 THEN
               CAST((abs(n_a_only - n_b_only) - 1)
                    * (abs(n_a_only - n_b_only) - 1) AS DOUBLE)
               / CAST(n_a_only + n_b_only AS DOUBLE)
             END AS x2
      FROM cells
    )
    SELECT n_customers, n_both, n_neither, n_a_only, n_b_only,
           round(x2, 6) AS mcnemar_stat,
           x2 > {_MCN_CHI2_CRIT["05"]!r} AS significant_05,
           x2 > {_MCN_CHI2_CRIT["01"]!r} AS significant_01
    FROM stat
    """,
)
def mcnemar_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (Edwards continuity correction) for whether the
    customer base's purchase participation CHANGED between the two
    calendar halves (A = orders before 1998, B = 1998 on; the testdata
    calendar is 1995–2001 — ARCHITECTURE.md §19): pairs are customers,
    the statistic (|b−c|−1)²/(b+c) reads only the discordant cells
    (active-then-lapsed b vs newly-active c), and significance is
    published against the baked chi-square(1) critical ladder (the
    BH-FDR/OBF convention — no incomplete-gamma in either engine).

    Exactness: the 2x2 cells are exact BIGINT sums over 0/1 flags; the
    statistic is ONE double division from exact integers with pinned
    expression shape; significance booleans compare the UNROUNDED
    double to shared-text constants, so both engines agree bit-wise.

    Scale shape (the aggregate-then-join skew discipline): per-customer
    period flags reduce the fact FIRST (one map-side-combined groupBy —
    a celebrity customer's million orders collapse before any join),
    then LEFT-join onto the customer spine so never-ordered customers
    land in n_neither; the final 2x2 is one whole-relation aggregate.
    No windows, no per-row floats, nothing keyed wider than custkey."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    split = F.lit(_MCN_SPLIT).cast("timestamp")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.when(F.col("o_orderdate") < split, 1).otherwise(0))
        .cast("long")
        .alias("in_a"),
        F.max(F.when(F.col("o_orderdate") >= split, 1).otherwise(0))
        .cast("long")
        .alias("in_b"),
    )
    flags = (
        cust.select("c_custkey")
        .join(per_cust, cust["c_custkey"] == per_cust["o_custkey"], "left")
        .select(
            F.coalesce(F.col("in_a"), F.lit(0)).alias("in_a"),
            F.coalesce(F.col("in_b"), F.lit(0)).alias("in_b"),
        )
    )
    cells = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
        F.sum((1 - F.col("in_a")) * (1 - F.col("in_b")))
        .cast("long")
        .alias("n_neither"),
        F.sum(F.col("in_a") * (1 - F.col("in_b")))
        .cast("long")
        .alias("n_a_only"),
        F.sum((1 - F.col("in_a")) * F.col("in_b"))
        .cast("long")
        .alias("n_b_only"),
    )
    d = F.abs(F.col("n_a_only") - F.col("n_b_only"))
    x2 = F.when(
        F.col("n_a_only") + F.col("n_b_only") > 0,
        ((d - 1) * (d - 1)).cast("double")
        / (F.col("n_a_only") + F.col("n_b_only")).cast("double"),
    )
    return cells.select(
        "n_customers",
        "n_both",
        "n_neither",
        "n_a_only",
        "n_b_only",
        F.round(x2, 6).alias("mcnemar_stat"),
        (x2 > F.lit(_MCN_CHI2_CRIT["05"])).alias("significant_05"),
        (x2 > F.lit(_MCN_CHI2_CRIT["01"])).alias("significant_01"),
    )


# ---------------------------------------------------------------------------
# Cochran's Q (r10 batch 3) — the k-treatment generalization of McNemar
# (Cochran 1950, "The comparison of percentages in matched samples"):
# each user is a matched block, each event type a treatment, x_ij = 1
# iff user i performed type j; Q tests whether participation rates
# differ across the k types. Reduces to McNemar (without continuity
# correction) at k = 2 — the ladder structure mirrors the privacy tier
# (k-anon -> l-div -> t-close) on the hypothesis side
# (two-proportion z -> McNemar -> Cochran Q).

# critical values: _CHI2_CRIT_05/_CHI2_CRIT_01 (the shared ladder
# defined above the McNemar section — df is data-derived, so the
# ladder covers the plausible taxonomy range and publishes NULL
# beyond it)


def _sql_crit_ladder(vals: tuple[float, ...]) -> str:
    arms = " ".join(
        f"WHEN {df} THEN {v!r}" for df, v in enumerate(vals, start=1)
    )
    return f"CASE df {arms} END"


@register(
    "cochran_q_event_types",
    oracle=f"""
    WITH x AS MATERIALIZED (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    cols AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(c) AS BIGINT) AS t,
             CAST(SUM(c * c) AS BIGINT) AS sum_col_sq
      FROM (SELECT event_type, COUNT(*) AS c FROM x GROUP BY event_type)
    ),
    rws AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(r * r) AS BIGINT) AS sum_row_sq
      FROM (SELECT user_id, COUNT(*) AS r FROM x GROUP BY user_id)
    ),
    stat AS (
      SELECT cols.k, rws.n_users, cols.t, cols.sum_col_sq, rws.sum_row_sq,
             CAST(cols.k - 1 AS BIGINT) AS df,
             CASE WHEN cols.k * cols.t - rws.sum_row_sq > 0 THEN
               CAST((cols.k - 1) * (cols.k * cols.sum_col_sq
                                    - cols.t * cols.t) AS DOUBLE)
               / CAST(cols.k * cols.t - rws.sum_row_sq AS DOUBLE)
             END AS q
      FROM cols CROSS JOIN rws
    )
    SELECT n_users, CAST(k AS BIGINT) AS k_treatments, t AS grand_total,
           sum_col_sq, sum_row_sq, df,
           round(q, 6) AS q_stat,
           q > ({_sql_crit_ladder(_CHI2_CRIT_05)}) AS significant_05,
           q > ({_sql_crit_ladder(_CHI2_CRIT_01)}) AS significant_01
    FROM stat
    """,
)
def cochran_q_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over the user x event-type participation matrix: do
    the k event types have equal per-user participation rates?
    Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²) over the exact integer
    column/row marginals of the 0/1 matrix; significance reads the
    baked chi-square ladder at df = k−1 (NULL beyond df 12 — the
    McNemar convention; df is 4 on this taxonomy). The degenerate
    denominator (every user did every type) publishes NULL on both
    engines (the huber guard).

    Exactness: marginals and both sums of squares are exact BIGINTs
    from a DISTINCT (user, type) relation; ONE pinned double division;
    significance booleans compare the unrounded double to shared-text
    constants.

    Scale shape: the distinct projection is one map-side-combinable
    dedup; the column marginal aggregates k rows, the row marginal one
    row per user — two hash aggregates and a 1-row cross join, no
    windows, no collects, nothing wider than user_id on the wire."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.select("user_id", "event_type").distinct()
    cols = (
        x.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum("c").cast("long").alias("t"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_col_sq"),
        )
    )
    rws = (
        x.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("r"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.col("r") * F.col("r")).cast("long").alias("sum_row_sq"),
        )
    )
    st = cols.crossJoin(F.broadcast(rws))
    den = F.col("k") * F.col("t") - F.col("sum_row_sq")
    q = F.when(
        den > 0,
        (
            (F.col("k") - 1)
            * (F.col("k") * F.col("sum_col_sq") - F.col("t") * F.col("t"))
        ).cast("double")
        / den.cast("double"),
    )
    df_col = (F.col("k") - 1).cast("long")
    crit_05 = F.lit(None).cast("double")
    crit_01 = F.lit(None).cast("double")
    for dfv in range(len(_CHI2_CRIT_05), 0, -1):
        crit_05 = F.when(
            df_col == dfv, F.lit(_CHI2_CRIT_05[dfv - 1])
        ).otherwise(crit_05)
        crit_01 = F.when(
            df_col == dfv, F.lit(_CHI2_CRIT_01[dfv - 1])
        ).otherwise(crit_01)
    return st.select(
        "n_users",
        F.col("k").alias("k_treatments"),
        F.col("t").alias("grand_total"),
        "sum_col_sq",
        "sum_row_sq",
        df_col.alias("df"),
        F.round(q, 6).alias("q_stat"),
        (q > crit_05).alias("significant_05"),
        (q > crit_01).alias("significant_01"),
    )

# ---------------------------------------------------------------------------
# Friedman rank test (r11) — the RANK-based k-related-samples member of
# the matched-block ladder (Friedman 1937; tie-corrected form per
# Conover 1999): Cochran's Q asks "equal participation RATES across k
# event types?" over the 0/1 matrix; Friedman asks the stronger "equal
# activity LEVELS?" over the per-user per-type event COUNTS, ranking
# the k counts within each user block so one hyperactive user cannot
# dominate (the rank transform is the celebrity-skew immunizer on the
# hypothesis side).


@register(
    "friedman_rank_test_events",
    oracle=f"""
    WITH counts AS MATERIALIZED (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT u.user_id, t.event_type
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    ),
    filled AS MATERIALIZED (
      SELECT g.user_id, g.event_type, COALESCE(c.cnt, 0) AS cnt
      FROM grid g LEFT JOIN counts c
        ON g.user_id = c.user_id AND g.event_type = c.event_type
    ),
    ranked AS MATERIALIZED (
      SELECT event_type,
             CAST(2 * RANK() OVER (PARTITION BY user_id ORDER BY cnt)
                  + COUNT(*) OVER (PARTITION BY user_id, cnt) - 1
                  AS BIGINT) AS d
      FROM filled
    ),
    pt AS (
      SELECT event_type, CAST(SUM(d) AS BIGINT) AS dj,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM ranked GROUP BY event_type
    ),
    sc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(MAX(nb) AS BIGINT) AS n
      FROM pt
    ),
    sdev AS (
      SELECT SUM(CAST(pt.dj - sc.n * (sc.k + 1) AS HUGEINT)
                 * (pt.dj - sc.n * (sc.k + 1))) AS s
      FROM pt CROSS JOIN sc
    ),
    a2 AS (
      SELECT SUM(CAST(d AS HUGEINT) * d) AS a2 FROM ranked
    ),
    stat AS (
      SELECT sc.n, sc.k, CAST(sc.k - 1 AS BIGINT) AS df,
             CAST(sdev.s AS BIGINT) AS sum_sq_dev,
             CASE WHEN a2.a2 - sc.n * sc.k * (sc.k + 1) * (sc.k + 1)
                       > 0 THEN
               CAST((sc.k - 1) * sdev.s AS DOUBLE)
               / CAST(a2.a2
                      - sc.n * sc.k * (sc.k + 1) * (sc.k + 1) AS DOUBLE)
             END AS t
      FROM sc CROSS JOIN sdev CROSS JOIN a2
    )
    SELECT n AS n_blocks, k AS k_treatments, df, sum_sq_dev,
           round(t, 6) AS friedman_stat,
           t > ({_sql_crit_ladder(_CHI2_CRIT_05)}) AS significant_05,
           t > ({_sql_crit_ladder(_CHI2_CRIT_01)}) AS significant_01
    FROM stat
    """,
)
def friedman_rank_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman's rank test over the user x event-type COUNT matrix
    (blocks = users, treatments = the k observed event types, absent
    cells filled with 0 via the user x type grid): do the k event types
    have equal per-user activity levels? Uses the tie-corrected form
    (Conover 1999) T = (k-1)·Σ_j(R_j − n(k+1)/2)² / (A − nk(k+1)²/4)
    with A = Σ r² — ties are pervasive here (every user missing a type
    contributes a tied 0), so the uncorrected 1937 statistic would be
    badly conservative.

    Exactness (the doubled-rank trick): within-block average ranks live
    on the half-integer grid, so the plan carries d = 2·rank_min +
    ties − 1 = twice the average rank — an exact integer. In doubled
    terms T = (k−1)·Σ_j(D_j − n(k+1))² / (A₂ − nk(k+1)²) with
    A₂ = Σd² — both the deviation sum and A₂-minus-centering scale by
    exactly 4, so the doubling cancels. (An r11 review caught the
    first cut dividing by an extra n — Conover's T1 has NO outer n;
    pinned numerically in the replay test against the no-ties classic
    χ² = 12ΣR²/(nk(k+1)) − 3n(k+1) identity.)
    Rank sums, Σd², and the squared deviations are exact integers
    (DECIMAL(38,0) / HUGEINT for the squares — at 1e9 blocks the
    deviation squares pass 1e20, the HITS wide-type bound); T is ONE
    pinned double division of exact integers; significance reads the
    shared baked chi-square ladder at df = k−1. Degenerate denominator
    (all k counts tied in every block) publishes NULL on both engines.

    Scale shape: per-(user, type) counts are one map-side-combinable
    groupBy; the grid is a user-dim cross join against the BROADCAST
    k-row type list; ranking is a window over user-keyed partitions of
    EXACTLY k rows (bounded by the type taxonomy, never by order
    volume — a celebrity user still contributes k rows); everything
    after is k-row / 1-row aggregates. One fact shuffle, one user-keyed
    window shuffle, no collects."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    users = ev.select("user_id").distinct()
    types = ev.select("event_type").distinct()
    filled = (
        users.crossJoin(F.broadcast(types))
        .join(counts, ["user_id", "event_type"], "left")
        .select(
            "user_id",
            "event_type",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    w_rank = Window.partitionBy("user_id").orderBy("cnt")
    w_tie = Window.partitionBy("user_id", "cnt")
    ranked = filled.select(
        "event_type",
        (
            2 * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_tie)
            - 1
        )
        .cast("long")
        .alias("d"),
    ).persist()  # consumed by the per-type rank sums AND the A2 aggregate
    pt = ranked.groupBy("event_type").agg(
        F.sum("d").cast("long").alias("dj"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    sc = pt.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("nb").cast("long").alias("n"),
    )
    dev = F.col("dj") - F.col("n") * (F.col("k") + 1)
    sdev = (
        pt.crossJoin(F.broadcast(sc))
        .agg(
            F.sum(dev.cast("decimal(38,0)") * dev).alias("s"),
            F.max("n").alias("n"),
            F.max("k").alias("k"),
        )
    )
    a2 = ranked.agg(
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("a2")
    )
    st = sdev.crossJoin(F.broadcast(a2))
    den = (
        F.col("a2")
        - F.col("n").cast("decimal(38,0)")
        * F.col("k")
        * (F.col("k") + 1)
        * (F.col("k") + 1)
    )
    t = F.when(
        den > 0,
        ((F.col("k") - 1) * F.col("s")).cast("double") / den.cast("double"),
    )
    df_col = (F.col("k") - 1).cast("long")
    crit_05 = F.lit(None).cast("double")
    crit_01 = F.lit(None).cast("double")
    for dfv in range(len(_CHI2_CRIT_05), 0, -1):
        crit_05 = F.when(
            df_col == dfv, F.lit(_CHI2_CRIT_05[dfv - 1])
        ).otherwise(crit_05)
        crit_01 = F.when(
            df_col == dfv, F.lit(_CHI2_CRIT_01[dfv - 1])
        ).otherwise(crit_01)
    return st.select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        df_col.alias("df"),
        F.col("s").cast("long").alias("sum_sq_dev"),
        F.round(t, 6).alias("friedman_stat"),
        (t > crit_05).alias("significant_05"),
        (t > crit_01).alias("significant_01"),
    )

# ---------------------------------------------------------------------------
# Brown-Forsythe variance-homogeneity test (r11) — the dispersion member
# of the hypothesis tier (Brown & Forsythe 1974): one-way ANOVA on the
# absolute deviations from each group's MEDIAN. The median-based variant
# (vs Levene's mean-based 1960 original) is the robust one, and the only
# one expressible exactly here: group medians of integer cents live on
# the half-integer grid, so DOUBLED deviations |2x − m2| are exact
# integers (the friedman doubled-rank trick; the F ratio is invariant to
# the common x2 scaling). Bartlett's test — the classic alternative —
# needs ln() of data-derived variances and is excluded by the
# portability rule (the BOCPD/Kleinberg precedent, GRADING_BACKLOG.md).


@register(
    "brown_forsythe_variance_test",
    oracle=f"""
    WITH fact AS MATERIALIZED (
      SELECT o_orderpriority AS g,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM orders
    ),
    hist AS MATERIALIZED (
      SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM fact GROUP BY 1, 2
    ),
    tot AS MATERIALIZED (SELECT g, SUM(cnt) AS nj FROM hist GROUP BY g),
    cum AS (
      SELECT g, v, cnt,
             SUM(cnt) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM hist
    ),
    med AS MATERIALIZED (
      SELECT cum.g,
             CAST(SUM(CASE
               WHEN cum.c - cum.cnt < (t.nj + 1) // 2
                    AND (t.nj + 1) // 2 <= cum.c
                    AND cum.c - cum.cnt < t.nj // 2 + 1
                    AND t.nj // 2 + 1 <= cum.c THEN 2 * cum.v
               WHEN (cum.c - cum.cnt < (t.nj + 1) // 2
                     AND (t.nj + 1) // 2 <= cum.c)
                    OR (cum.c - cum.cnt < t.nj // 2 + 1
                        AND t.nj // 2 + 1 <= cum.c) THEN cum.v
             END) AS BIGINT) AS m2
      FROM cum JOIN tot t ON cum.g = t.g GROUP BY cum.g
    ),
    dev AS MATERIALIZED (
      SELECT f.g, ABS(2 * f.v - m.m2) AS dz
      FROM fact f JOIN med m ON f.g = m.g
    ),
    pg AS MATERIALIZED (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS nj,
             CAST(SUM(dz) AS BIGINT) AS s,
             SUM(CAST(dz AS HUGEINT) * dz) AS q
      FROM dev GROUP BY g
    ),
    seq AS (
      SELECT nj, s, q,
             SUM(CAST(CAST(s AS HUGEINT) * s AS DOUBLE)
                 / CAST(nj AS DOUBLE))
               OVER (ORDER BY g
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_u
      FROM pg
    ),
    agg AS (
      SELECT CAST(SUM(nj) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(s) AS BIGINT) AS s_tot, SUM(q) AS q_tot,
             MAX(cum_u) AS sum_u
      FROM seq
    ),
    stat AS (
      SELECT n, k, s_tot,
             CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
             sum_u - CAST(CAST(s_tot AS HUGEINT) * s_tot AS DOUBLE)
                     / CAST(n AS DOUBLE) AS bn,
             CAST(q_tot AS DOUBLE) - sum_u AS wn
      FROM agg
    ),
    fstat AS (
      SELECT *,
             CASE WHEN wn > 0 AND k > 1 THEN
               (bn / CAST(k - 1 AS DOUBLE)) / (wn / CAST(n - k AS DOUBLE))
             END AS bf
      FROM stat
    )
    SELECT n AS n_total, k AS k_groups, df1, df2,
           s_tot AS sum_abs_dev2,
           round(bf, 6) AS bf_stat,
           (CAST(k - 1 AS DOUBLE) * bf)
             > ({_sql_crit_ladder(_CHI2_CRIT_05).replace("df", "df1")})
             AS significant_05,
           (CAST(k - 1 AS DOUBLE) * bf)
             > ({_sql_crit_ladder(_CHI2_CRIT_01).replace("df", "df1")})
             AS significant_01
    FROM fstat
    """,
)
def brown_forsythe_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test: do the five order-priority classes have
    equal PRICE DISPERSION? One-way ANOVA F on |x − median_g| with the
    exact doubled-deviation encoding (dz = |2x − m2_g|, m2_g = the
    doubled group median — an exact integer from the two middle order
    statistics; the common x2 scale cancels in F). Significance uses
    the large-sample (k−1)·F ~ chi-square(k−1) bound from the shared
    baked ladder (df2 is in the thousands at every graded SF, where the
    F and chi-square quantiles agree to 3 decimals) — documented
    approximation, same convention as the other ladder tests.

    Exactness: medians come from per-group DISTINCT-VALUE histogram
    prefix sums (pure integers — the wasserstein/range-partition
    machinery, never a fact-row sort); deviations, their sums, and
    sums of squares are exact integers (DECIMAL(38,0)/HUGEINT for the
    squares). The only floats: one S_g²/n_g division per group
    accumulated in PINNED group order via an ordered running-sum frame
    (the repeat_purchase_survival no-tree-reassociation discipline —
    identical left-to-right IEEE sums on both engines; terms are
    nonnegative so the frame MAX is the final prefix), then the
    fixed-shape between/within assembly on a single row.

    Scale shape: one (g, v) histogram shuffle (value-domain bounded);
    the prefix window runs per group over distinct VALUES, not rows;
    the k-row median relation broadcasts back onto the fact for the
    deviation pass (aggregate-then-join — a hot priority class never
    skews a join); then one map-side-combinable groupBy and k-row
    arithmetic. No fact-row windows, no collects."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    orders = load_table(spark, sf_dir, "orders")
    fact = orders.select(
        F.col("o_orderpriority").alias("g"),
        (dec("o_totalprice") * 100).cast("long").alias("v"),
    )
    hist = fact.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = hist.groupBy("g").agg(F.sum("cnt").alias("nj"))
    w_pre = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "g", "v", "cnt", F.sum("cnt").over(w_pre).alias("c")
    )
    j = cum.join(F.broadcast(tot), "g")
    lo = F.expr("(nj + 1) div 2")
    hi = F.expr("nj div 2 + 1")
    prev = F.col("c") - F.col("cnt")
    covers_lo = (prev < lo) & (lo <= F.col("c"))
    covers_hi = (prev < hi) & (hi <= F.col("c"))
    med = j.groupBy("g").agg(
        F.sum(
            F.when(covers_lo & covers_hi, 2 * F.col("v"))
            .when(covers_lo | covers_hi, F.col("v"))
        )
        .cast("long")
        .alias("m2")
    )
    dev = fact.join(F.broadcast(med), "g").select(
        "g", F.abs(2 * F.col("v") - F.col("m2")).alias("dz")
    )
    pg = dev.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("nj"),
        F.sum("dz").cast("long").alias("s"),
        F.sum(F.col("dz").cast("decimal(38,0)") * F.col("dz")).alias("q"),
    )
    w_seq = Window.orderBy("g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    u = (F.col("s").cast("decimal(38,0)") * F.col("s")).cast(
        "double"
    ) / F.col("nj").cast("double")
    seq = pg.select(
        "nj", "s", "q", F.sum(u).over(w_seq).alias("cum_u")
    )
    agg = seq.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s").cast("long").alias("s_tot"),
        F.sum("q").alias("q_tot"),
        F.max("cum_u").alias("sum_u"),
    )
    bn = F.col("sum_u") - (
        F.col("s_tot").cast("decimal(38,0)") * F.col("s_tot")
    ).cast("double") / F.col("n").cast("double")
    wn = F.col("q_tot").cast("double") - F.col("sum_u")
    bf = F.when(
        (wn > 0) & (F.col("k") > 1),
        (bn / (F.col("k") - 1).cast("double"))
        / (wn / (F.col("n") - F.col("k")).cast("double")),
    )
    df_col = (F.col("k") - 1).cast("long")
    crit_05 = F.lit(None).cast("double")
    crit_01 = F.lit(None).cast("double")
    for dfv in range(len(_CHI2_CRIT_05), 0, -1):
        crit_05 = F.when(
            df_col == dfv, F.lit(_CHI2_CRIT_05[dfv - 1])
        ).otherwise(crit_05)
        crit_01 = F.when(
            df_col == dfv, F.lit(_CHI2_CRIT_01[dfv - 1])
        ).otherwise(crit_01)
    chi = df_col.cast("double") * bf
    return agg.select(
        F.col("n").alias("n_total"),
        F.col("k").alias("k_groups"),
        df_col.alias("df1"),
        (F.col("n") - F.col("k")).cast("long").alias("df2"),
        F.col("s_tot").alias("sum_abs_dev2"),
        F.round(bf, 6).alias("bf_stat"),
        (chi > crit_05).alias("significant_05"),
        (chi > crit_01).alias("significant_01"),
    )

# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test (r11) — the RANDOMNESS member of the ladder
# (Wald & Wolfowitz 1940): is the daily-revenue series' above/below-
# median pattern consistent with independence, or does it cluster
# (momentum) / alternate (over-dispersion)? The classic model-free
# companion to the Mann-Kendall trend test: MK asks "is there a
# monotone drift?", runs asks "is the sign sequence itself random?".

_RUNS_Z_05 = 1.959963984540054  # Phi^-1(0.975), baked (the Wilson constant)
_RUNS_Z_01 = 2.5758293035489004  # Phi^-1(0.995)


@register(
    "runs_test_daily_revenue",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ),
    hist AS (
      SELECT rev AS v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM daily GROUP BY rev
    ),
    tot AS (SELECT SUM(cnt) AS n FROM hist),
    cum AS (
      SELECT v, cnt,
             SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM hist
    ),
    med AS (
      SELECT CAST(SUM(CASE
        WHEN cum.c - cum.cnt < (t.n + 1) // 2 AND (t.n + 1) // 2 <= cum.c
             AND cum.c - cum.cnt < t.n // 2 + 1 AND t.n // 2 + 1 <= cum.c
          THEN 2 * cum.v
        WHEN (cum.c - cum.cnt < (t.n + 1) // 2 AND (t.n + 1) // 2 <= cum.c)
             OR (cum.c - cum.cnt < t.n // 2 + 1 AND t.n // 2 + 1 <= cum.c)
          THEN cum.v
      END) AS BIGINT) AS m2
      FROM cum CROSS JOIN tot t
    ),
    marks AS MATERIALIZED (
      SELECT day, CASE WHEN 2 * rev > m.m2 THEN 1 ELSE 0 END AS s
      FROM daily CROSS JOIN med m
      WHERE 2 * rev <> m.m2
    ),
    seq AS (
      SELECT s, LAG(s) OVER (ORDER BY day) AS prev FROM marks
    ),
    agg AS (
      SELECT CAST(COALESCE(SUM(s), 0) AS BIGINT) AS a,
             CAST(COALESCE(SUM(1 - s), 0) AS BIGINT) AS b,
             CAST(1 + COALESCE(SUM(CASE WHEN prev IS NOT NULL AND s <> prev
                                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS r
      FROM seq
    ),
    stat AS (
      SELECT a, b, r, a + b AS n,
             CASE WHEN a > 0 AND b > 0 AND 2 * a * b > a + b THEN
               CAST((a + b) * (r - 1) - 2 * a * b AS DOUBLE)
               / sqrt(CAST(2 * a * b * (2 * a * b - a - b) AS DOUBLE)
                      / CAST(a + b - 1 AS DOUBLE))
             END AS z
      FROM agg
    )
    SELECT n AS n_days, a AS n_above, b AS n_below, r AS n_runs,
           round(z, 6) AS z_stat,
           abs(z) > {_RUNS_Z_05!r} AS significant_05,
           abs(z) > {_RUNS_Z_01!r} AS significant_01
    FROM stat
    """,
)
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily-revenue sign sequence:
    split days at the EXACT series median (doubled-median trick —
    m2 = the two middle order statistics' sum, an exact integer;
    days exactly AT the median are excluded, the standard treatment),
    count the runs of consecutive same-sign days, and compare to the
    exact null moments mu = 2ab/N + 1, sigma^2 = 2ab(2ab-N)/(N^2(N-1))
    via the N-scaled z = (N(R-1) - 2ab) / sqrt(2ab(2ab-N)/(N-1)) — one
    pinned division over one pinned sqrt of exact integers (calendar-
    bounded magnitudes: 2ab <= N^2/2 ~ 3e6, never near BIGINT).
    Two-sided significance against the baked normal quantiles: z << 0
    means fewer runs than chance (momentum/clustering), z >> 0 means
    alternation (over-dispersion).

    Exactness: daily revenues accumulate in DECIMAL cents; the median
    comes from the distinct-value histogram prefix (the wasserstein
    machinery); signs, run boundaries, a/b/R are pure integers; the
    single float assembly has pinned shape on both engines.

    Scale shape: the fact reduces map-side to one row per calendar day
    FIRST, so the two unpartitioned windows (value-histogram prefix,
    day-ordered lag) run over calendar-bounded relations (~10^3 rows
    at any corpus size — the revenue_cusum_changepoint contract,
    exempted with that argument in the global-window sweep)."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg((F.sum(dec("o_totalprice") * 100)).cast("long").alias("rev"))
    hist = daily.groupBy(F.col("rev").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = hist.agg(F.sum("cnt").alias("n"))
    w_pre = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("v", "cnt", F.sum("cnt").over(w_pre).alias("c"))
    j = cum.crossJoin(F.broadcast(tot))
    lo = F.expr("(n + 1) div 2")
    hi = F.expr("n div 2 + 1")
    prev_c = F.col("c") - F.col("cnt")
    covers_lo = (prev_c < lo) & (lo <= F.col("c"))
    covers_hi = (prev_c < hi) & (hi <= F.col("c"))
    med = j.agg(
        F.sum(
            F.when(covers_lo & covers_hi, 2 * F.col("v"))
            .when(covers_lo | covers_hi, F.col("v"))
        )
        .cast("long")
        .alias("m2")
    )
    marks = (
        daily.crossJoin(F.broadcast(med))
        .filter(2 * F.col("rev") != F.col("m2"))
        .select(
            "day",
            F.when(2 * F.col("rev") > F.col("m2"), 1).otherwise(0).alias("s"),
        )
    )
    w_day = Window.orderBy("day")
    seq = marks.select("s", F.lag("s").over(w_day).alias("prev"))
    agg = seq.agg(
        F.coalesce(F.sum("s"), F.lit(0)).cast("long").alias("a"),
        F.coalesce(F.sum(1 - F.col("s")), F.lit(0)).cast("long").alias("b"),
        (
            1
            + F.coalesce(
                F.sum(
                    F.when(
                        F.col("prev").isNotNull()
                        & (F.col("s") != F.col("prev")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("r"),
    )
    n = F.col("a") + F.col("b")
    two_ab = 2 * F.col("a") * F.col("b")
    z = F.when(
        (F.col("a") > 0) & (F.col("b") > 0) & (two_ab > n),
        (n * (F.col("r") - 1) - two_ab).cast("double")
        / F.sqrt((two_ab * (two_ab - n)).cast("double") / (n - 1).cast("double")),
    )
    return agg.select(
        n.cast("long").alias("n_days"),
        F.col("a").alias("n_above"),
        F.col("b").alias("n_below"),
        F.col("r").alias("n_runs"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > F.lit(_RUNS_Z_05)).alias("significant_05"),
        (F.abs(z) > F.lit(_RUNS_Z_01)).alias("significant_01"),
    )

# ---------------------------------------------------------------------------
# Cohen's kappa (r11 batch 8) — inter-rater agreement between two
# document QUALITY GATES (Cohen 1960): a length gate and a
# words-density gate each label every document keep/drop; kappa is the
# agreement corrected for chance — the number a curation pipeline
# reads before trusting one cheap gate as a proxy for another. Landis
# & Koch (1977) interpretation bands published alongside.

_KAPPA_MIN_CHARS = 200  # gate A: document length
_KAPPA_MIN_SPACES = 30  # gate B: whitespace count (word-density proxy)


@register(
    "cohens_kappa_quality_gates",
    oracle=f"""
    WITH flags AS MATERIALIZED (
      SELECT CASE WHEN n_chars >= {_KAPPA_MIN_CHARS} THEN 1 ELSE 0 END AS ga,
             CASE WHEN length(text) - length(replace(text, ' ', ''))
                       >= {_KAPPA_MIN_SPACES} THEN 1 ELSE 0 END AS gb
      FROM documents
    ),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ga * gb) AS BIGINT) AS both_keep,
             CAST(SUM(ga * (1 - gb)) AS BIGINT) AS a_only,
             CAST(SUM((1 - ga) * gb) AS BIGINT) AS b_only,
             CAST(SUM((1 - ga) * (1 - gb)) AS BIGINT) AS both_drop
      FROM flags
    ),
    stat AS (
      SELECT *,
             n * (both_keep + both_drop) AS agree_n,
             (both_keep + a_only) * (both_keep + b_only)
             + (b_only + both_drop) * (a_only + both_drop) AS chance_nn
      FROM cells
    ),
    k AS (
      SELECT *,
             CASE WHEN n * n - chance_nn > 0 THEN
               CAST(agree_n - chance_nn AS DOUBLE)
               / CAST(n * n - chance_nn AS DOUBLE)
             END AS kappa
      FROM stat
    )
    SELECT n, both_keep, a_only, b_only, both_drop,
           round(CAST(agree_n AS DOUBLE) / CAST(n * n AS DOUBLE), 6)
             AS observed_agreement,
           round(CAST(chance_nn AS DOUBLE) / CAST(n * n AS DOUBLE), 6)
             AS chance_agreement,
           round(kappa, 6) AS kappa,
           CASE WHEN kappa IS NULL THEN NULL
                WHEN kappa <= 0.0 THEN 'poor'
                WHEN kappa <= 0.2 THEN 'slight'
                WHEN kappa <= 0.4 THEN 'fair'
                WHEN kappa <= 0.6 THEN 'moderate'
                WHEN kappa <= 0.8 THEN 'substantial'
                ELSE 'almost perfect' END AS agreement_level
    FROM k
    """,
)
def cohens_kappa_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two binary document-quality gates (length
    >= {chars} chars vs whitespace count >= {spaces} — the cheap
    word-density proxy): the 2x2 agreement matrix, observed and chance
    agreement, kappa, and its Landis-Koch band.

    Exactness: the matrix is exact BIGINT sums over 0/1 flags computed
    with identical string/length expressions on both engines; kappa is
    ONE pinned division of exact integers — kappa = (n·agree − Σ
    marginal products) / (n² − Σ marginal products), i.e. po and pe
    cleared over the common n² denominator with no intermediate float
    (the replay pytest re-derives it from the po/pe DEFINITION on
    floats — the Friedman independent-identity rule); the band CASE compares
    the UNROUNDED double to shared-text constants. The degenerate
    chance_nn == n² case (both gates constant) publishes NULL.

    Scale shape: one projection with two codegen'd flag expressions,
    one whole-relation aggregate — a single map-side-combinable pass,
    no joins, no windows, no collects."""
    docs = load_table(spark, sf_dir, "documents")
    ga = F.when(F.col("n_chars") >= _KAPPA_MIN_CHARS, 1).otherwise(0)
    gb = F.when(
        F.length("text") - F.length(F.regexp_replace("text", " ", ""))
        >= _KAPPA_MIN_SPACES,
        1,
    ).otherwise(0)
    flags = docs.select(ga.alias("ga"), gb.alias("gb"))
    cells = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("ga") * F.col("gb")).cast("long").alias("both_keep"),
        F.sum(F.col("ga") * (1 - F.col("gb"))).cast("long").alias("a_only"),
        F.sum((1 - F.col("ga")) * F.col("gb")).cast("long").alias("b_only"),
        F.sum((1 - F.col("ga")) * (1 - F.col("gb")))
        .cast("long")
        .alias("both_drop"),
    )
    agree_n = F.col("n") * (F.col("both_keep") + F.col("both_drop"))
    chance_nn = (F.col("both_keep") + F.col("a_only")) * (
        F.col("both_keep") + F.col("b_only")
    ) + (F.col("b_only") + F.col("both_drop")) * (
        F.col("a_only") + F.col("both_drop")
    )
    den = F.col("n") * F.col("n") - chance_nn
    kappa = F.when(
        den > 0,
        (agree_n - chance_nn).cast("double") / den.cast("double"),
    )
    level = (
        F.when(kappa.isNull(), F.lit(None).cast("string"))
        .when(kappa <= 0.0, F.lit("poor"))
        .when(kappa <= 0.2, F.lit("slight"))
        .when(kappa <= 0.4, F.lit("fair"))
        .when(kappa <= 0.6, F.lit("moderate"))
        .when(kappa <= 0.8, F.lit("substantial"))
        .otherwise(F.lit("almost perfect"))
    )
    return cells.select(
        "n",
        "both_keep",
        "a_only",
        "b_only",
        "both_drop",
        F.round(
            agree_n.cast("double")
            / (F.col("n") * F.col("n")).cast("double"),
            6,
        ).alias("observed_agreement"),
        F.round(
            chance_nn.cast("double")
            / (F.col("n") * F.col("n")).cast("double"),
            6,
        ).alias("chance_agreement"),
        F.round(kappa, 6).alias("kappa"),
        level.alias("agreement_level"),
    )


cohens_kappa_quality_gates.__doc__ = cohens_kappa_quality_gates.__doc__.format(
    chars=_KAPPA_MIN_CHARS, spaces=_KAPPA_MIN_SPACES
)

# ---------------------------------------------------------------------------
# Cramér's V (r11 batch 8) — the EFFECT-SIZE companion to
# chi_square_contingency (Cramér 1946): the chi-square statistic says
# whether segment and priority are associated; V = sqrt(chi2 / (n·
# min(r−1, c−1))) says HOW MUCH, on a scale-free [0, 1] axis that
# survives the n-inflation that makes every chi-square "significant"
# at 100 TB row counts — the reason a profiling tier needs both.


@register(
    "cramers_v_segment_priority",
    oracle="""
    WITH cells AS MATERIALIZED (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    rt AS (SELECT segment, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
    ct AS (SELECT priority, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    grid AS (
      SELECT rt.segment, rt.r, ct.priority, ct.c,
             COALESCE(cells.o, 0) AS o
      FROM rt CROSS JOIN ct
      LEFT JOIN cells ON cells.segment = rt.segment
                     AND cells.priority = ct.priority
    ),
    terms AS (
      SELECT grid.segment, grid.priority,
             CAST(CAST(n.n AS HUGEINT) * grid.o - grid.r * grid.c AS DOUBLE)
             * CAST(CAST(n.n AS HUGEINT) * grid.o - grid.r * grid.c AS DOUBLE)
             / CAST(CAST(n.n AS HUGEINT) * grid.r * grid.c AS DOUBLE) AS t
      FROM grid CROSS JOIN n
    ),
    seq AS (
      SELECT SUM(t) OVER (ORDER BY segment, priority
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM terms
    ),
    dims AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS r,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS c
    ),
    stat AS (
      SELECT n.n, dims.r, dims.c,
             (SELECT MAX(cum) FROM seq) AS chi2,
             CAST((dims.r - 1) * (dims.c - 1) AS BIGINT) AS df
      FROM n CROSS JOIN dims
    )
    SELECT n AS n_rows, r AS n_segments, c AS n_priorities, df,
           round(chi2, 6) AS chi2,
           round(sqrt(chi2 / (CAST(n AS DOUBLE)
                 * CAST(LEAST(r - 1, c - 1) AS DOUBLE))), 6) AS cramers_v
    FROM stat
    """,
)
def cramers_v_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for the segment x priority contingency (the
    chi_square_contingency table, reduced to one effect-size row):
    chi2 summed over the r x c cells and V = sqrt(chi2 / (n ·
    min(r−1, c−1))).

    Exactness: cell counts and marginals are exact integers; each
    cell's chi2 term is ONE pinned division with the exact-integer
    numerator (n·o − r·c)² over n·r·c (HUGEINT/DECIMAL(38,0) products —
    n·o passes BIGINT near n ~ 3e9); the <= 25 per-cell doubles
    accumulate through an ordered running frame keyed by (segment,
    priority) — the Brown-Forsythe pinned-order discipline, terms
    nonnegative so the frame MAX is the total — and V is one final
    sqrt of that deterministic sum.

    Scale shape: one fact join + groupBy to the taxonomy-bounded cell
    grid (<= 25 rows), marginals and everything after are metadata-
    scale arithmetic. The chi-square ladder is NOT consulted — V is an
    effect size, not a test; its companion query publishes the
    per-cell contributions."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cells = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == cust["c_custkey"],
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .persist()  # consumed by marginals, n, and the term join
    )
    rt = cells.groupBy("segment").agg(F.sum("o").cast("long").alias("r"))
    ct = cells.groupBy("priority").agg(F.sum("o").cast("long").alias("c"))
    n_df = cells.agg(F.sum("o").cast("long").alias("n"))
    dev = (
        F.col("n").cast("decimal(38,0)") * F.col("o")
        - F.col("r").cast("decimal(38,0)") * F.col("c")
    )
    term = dev.cast("double") * dev.cast("double") / (
        F.col("n").cast("decimal(38,0)") * F.col("r") * F.col("c")
    ).cast("double")
    # FULL marginal grid, not just observed cells: an empty (segment,
    # priority) cell still contributes (0 − e)²/e — omitting it would
    # undercount chi2 identically on both engines (the kappa lesson:
    # the oracle can't catch a shared semantic hole; the replay test's
    # textbook form iterates the full grid and would)
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(cells, ["segment", "priority"], "left")
        .select(
            "segment",
            "priority",
            "r",
            "c",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        )
    )
    terms = grid.crossJoin(F.broadcast(n_df)).select(
        "segment", "priority", term.alias("t")
    )
    w_seq = Window.orderBy("segment", "priority").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seq = terms.select(F.sum("t").over(w_seq).alias("cum"))
    chi2 = seq.agg(F.max("cum").alias("chi2"))
    dims = rt.agg(F.count(F.lit(1)).cast("long").alias("r")).crossJoin(
        F.broadcast(ct.agg(F.count(F.lit(1)).cast("long").alias("c")))
    )
    return (
        n_df.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(chi2))
        .select(
            F.col("n").alias("n_rows"),
            F.col("r").alias("n_segments"),
            F.col("c").alias("n_priorities"),
            ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("df"),
            F.round(F.col("chi2"), 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n").cast("double")
                        * F.least(F.col("r") - 1, F.col("c") - 1).cast(
                            "double"
                        )
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-alternative trend test (r12 batch 3) —
# the ORDERED member of the k-group rank ladder (Jonckheere 1954;
# Terpstra 1952): Kruskal-Wallis asks "do the five priority groups'
# order-value distributions differ AT ALL"; JT asks "do they shift
# MONOTONICALLY with priority", which is what a pipeline actually
# wants to know about an ordinal factor. JT = sum over ordered group
# pairs i < j of the Mann-Whitney count #{x in i < y in j} (+ half
# ties), with the Hollander-Wolfe tie-corrected normal approximation.


def _jt_doubled_statistic(cells: DataFrame) -> DataFrame:
    """Doubled Jonckheere-Terpstra statistic U2 = sum_{i<j}
    (2*#{x_i < y_j} + #{x_i = y_j}) over a (g, v, cnt) histogram via
    the dense grid + two integer prefix windows — factored out so the
    hand-pinned pytest drives the PRODUCTION window algebra with a
    synthetic relation (the _chi_square_grid lesson: an inline test
    replica keeps passing after the plan changes). Returns a 1-row
    DataFrame with column ``u2`` (DECIMAL(38,0))."""
    gs = cells.select("g").distinct()
    vs = cells.select("v").distinct()
    grid = (
        gs.crossJoin(vs)
        .join(cells, ["g", "v"], "left")
        .select(
            "g",
            "v",
            F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cnt"),
        )
    )
    w_eq = Window.partitionBy("v").orderBy("g").rowsBetween(
        Window.unboundedPreceding, -1
    )
    eqlow = grid.select(
        "g",
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_eq), F.lit(0).cast("long")).alias(
            "eq_low"
        ),
    )
    w_blw = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    blw = eqlow.select(
        "cnt",
        "eq_low",
        F.coalesce(F.sum("eq_low").over(w_blw), F.lit(0).cast("long")).alias(
            "blw_low"
        ),
    )
    return blw.agg(
        F.sum(
            F.col("cnt").cast("decimal(38,0)")
            * (2 * F.col("blw_low") + F.col("eq_low"))
        ).alias("u2")
    )


@register(
    "jonckheere_terpstra_priority_trend",
    # Doubled statistic U2 = 2*#(x<y) + #(x=y) keeps every rank count an
    # exact integer (the mannwhitney_u_test doubled-midrank discipline).
    # Over the (group, value)-histogram DENSE grid: eq_low = counts of
    # LOWER-ordered groups at the same value (per-value window over the
    # k group rows), blw_low = their cumulative count strictly below v
    # (per-group prefix window over the value domain), so
    # U2 = sum cells cnt * (2*blw_low + eq_low). Mean and the 3-term
    # tie-corrected variance are closed forms of the group sizes n_g and
    # the value tie-group sizes t_v — exact HUGEINT/DECIMAL(38,0) sums,
    # three pinned double divisions summed left-to-right identically in
    # both engines, one sqrt.
    oracle="""
    WITH cells AS MATERIALIZED (
      SELECT o_orderpriority AS g,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1, 2
    ),
    gs AS (SELECT g FROM cells GROUP BY g),
    vs AS (SELECT v FROM cells GROUP BY v),
    grid AS (
      SELECT gs.g, vs.v, COALESCE(cells.cnt, 0) AS cnt
      FROM gs CROSS JOIN vs
      LEFT JOIN cells ON cells.g = gs.g AND cells.v = vs.v
    ),
    eqlow AS (
      SELECT g, v, cnt,
             COALESCE(SUM(cnt) OVER (PARTITION BY v ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS eq_low
      FROM grid
    ),
    blw AS (
      SELECT g, v, cnt, eq_low,
             COALESCE(SUM(eq_low) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS blw_low
      FROM eqlow
    ),
    u AS (SELECT SUM(CAST(cnt AS HUGEINT) * (2 * blw_low + eq_low)) AS u2
          FROM blw),
    ng AS (SELECT g, SUM(cnt) AS n_g FROM cells GROUP BY g),
    tv AS (SELECT v, SUM(cnt) AS t FROM cells GROUP BY v),
    s AS (
      SELECT (SELECT SUM(n_g) FROM ng) AS n,
             (SELECT COUNT(*) FROM ng) AS k,
             (SELECT SUM(CAST(n_g AS HUGEINT) * n_g) FROM ng) AS sum_ng2,
             (SELECT SUM(CAST(n_g AS HUGEINT)*(n_g-1)*(2*n_g+5)) FROM ng) AS g1,
             (SELECT SUM(CAST(n_g AS HUGEINT)*(n_g-1)*(n_g-2)) FROM ng) AS g2,
             (SELECT SUM(CAST(n_g AS HUGEINT)*(n_g-1)) FROM ng) AS g3,
             (SELECT SUM(CAST(t AS HUGEINT)*(t-1)*(2*t+5)) FROM tv) AS t1,
             (SELECT SUM(CAST(t AS HUGEINT)*(t-1)*(t-2)) FROM tv) AS t2,
             (SELECT SUM(CAST(t AS HUGEINT)*(t-1)) FROM tv) AS t3
    )
    SELECT CAST(s.k AS BIGINT) AS k_groups, CAST(s.n AS BIGINT) AS n,
           CAST(u.u2 AS BIGINT) AS jt_u2,
           CAST((CAST(s.n AS HUGEINT)*s.n - s.sum_ng2)//2 AS BIGINT) AS mean_u2,
           ROUND((CAST(u.u2 AS DOUBLE)
                  - CAST((CAST(s.n AS HUGEINT)*s.n - s.sum_ng2)//2 AS DOUBLE))
                 / (2.0 * sqrt(
                     CAST(CAST(s.n AS HUGEINT)*(s.n-1)*(2*s.n+5)
                          - s.g1 - s.t1 AS DOUBLE) / 72.0
                   + CAST(s.g2 AS DOUBLE) * CAST(s.t2 AS DOUBLE)
                     / (36.0 * CAST(s.n AS DOUBLE) * (s.n-1) * (s.n-2))
                   + CAST(s.g3 AS DOUBLE) * CAST(s.t3 AS DOUBLE)
                     / (8.0 * CAST(s.n AS DOUBLE) * (s.n-1)))), 6) AS z_score
    FROM u CROSS JOIN s
    """,
)
def jonckheere_terpstra_priority_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jonckheere-Terpstra test for a monotone trend of order value
    across the FIVE ORDERED priority levels ('1-URGENT' < ... <
    '5-LOW', the natural string order): doubled statistic
    U2 = sum_{i<j} (2*#{x_i < y_j} + #{x_i = y_j}), its null mean, and
    the tie-corrected normal z (Hollander & Wolfe 1973 variance).

    Exactness: all pair counts come from the (group, value) histogram
    via two integer prefix windows (see oracle comment), accumulated in
    DECIMAL(38,0)/HUGEINT (U2 <= n^2 passes BIGINT only below n ~ 3e9);
    mean and variance are closed forms of exact integer group/tie
    sizes; the z is three pinned double divisions summed left-to-right
    plus one sqrt, identical text in both engines, rounded 6dp.

    Scale shape: one hash aggregate to the (k x value-domain) histogram,
    a dense k-row grid per value, one per-value window (<= k rows per
    partition) and one per-group prefix window over the value domain
    (the mannwhitney/wasserstein value-domain contract — bounded by the
    price grid, not the row count); everything after is a scalar fold.
    (r14 measured-and-LEFT: three U2 subplan forms were interleaved at
    sf0.1 — the dense-grid windows 1.51 s, a broadcast-spine variant
    1.54 s, a per-value map + HOF-prefix variant 2.07 s (the pq
    interpreted-lambda trap at |v| scale). The shipped form is already
    the fastest; the wall is the fact aggregate, not the grid.)"""
    cells = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("g"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint()  # consumed by grid, ng, tv
    )
    u = _jt_doubled_statistic(cells)
    ng = cells.groupBy("g").agg(F.sum("cnt").alias("n_g"))
    tv = cells.groupBy("v").agg(F.sum("cnt").alias("t"))
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s_g = ng.agg(
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(d("n_g") * F.col("n_g")).alias("sum_ng2"),
        F.sum(d("n_g") * (F.col("n_g") - 1) * (2 * F.col("n_g") + 5)).alias(
            "g1"
        ),
        F.sum(d("n_g") * (F.col("n_g") - 1) * (F.col("n_g") - 2)).alias("g2"),
        F.sum(d("n_g") * (F.col("n_g") - 1)).alias("g3"),
    )
    s_t = tv.agg(
        F.sum(d("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).alias("t1"),
        F.sum(d("t") * (F.col("t") - 1) * (F.col("t") - 2)).alias("t2"),
        F.sum(d("t") * (F.col("t") - 1)).alias("t3"),
    )
    s = s_g.crossJoin(F.broadcast(s_t))
    mean2 = F.floor(
        (F.col("n").cast("decimal(38,0)") * F.col("n") - F.col("sum_ng2")) / 2
    ).cast("decimal(38,0)")
    var = (
        (
            F.col("n").cast("decimal(38,0)")
            * (F.col("n") - 1)
            * (2 * F.col("n") + 5)
            - F.col("g1")
            - F.col("t1")
        ).cast("double")
        / F.lit(72.0)
        + F.col("g2").cast("double")
        * F.col("t2").cast("double")
        / (
            F.lit(36.0)
            * F.col("n").cast("double")
            * (F.col("n") - 1)
            * (F.col("n") - 2)
        )
        + F.col("g3").cast("double")
        * F.col("t3").cast("double")
        / (F.lit(8.0) * F.col("n").cast("double") * (F.col("n") - 1))
    )
    return u.crossJoin(F.broadcast(s)).select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n").cast("long").alias("n"),
        F.col("u2").cast("long").alias("jt_u2"),
        mean2.cast("long").alias("mean_u2"),
        F.round(
            (F.col("u2").cast("double") - mean2.cast("double"))
            / (F.lit(2.0) * F.sqrt(var)),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Mood's median test (r12 batch 3) — the ROBUST omnibus member of the
# k-group ladder (Mood 1950; Brown & Mood 1951): classify every order
# as above vs at-or-below the GRAND lower median and chi-square the
# resulting 2 x k table. Cruder than Kruskal-Wallis but immune to tail
# shape entirely (only the sign of v - median enters) — the location
# test a pipeline reaches for when segment price distributions have
# wildly different spreads and even ranks overweight the tails.


@register(
    "moods_median_test",
    # The grand median is the LOWER median (smallest v with cumulative
    # count >= ceil(N/2)) — an exact integer order statistic both
    # engines read off the value-domain histogram, so there is no
    # interpolation float to disagree on. Cell counts are dense by
    # construction (conditional sums over every segment); expected
    # counts and the two per-segment (o-e)^2/e terms are written
    # identically in both engines, summed above-term-first.
    oracle="""
    WITH cells AS MATERIALIZED (
      SELECT c.c_mktsegment AS segment,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    vt AS (SELECT v, SUM(cnt) AS cnt FROM cells GROUP BY v),
    cum AS (
      SELECT v, SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM vt
    ),
    nt AS (SELECT SUM(cnt) AS n FROM vt),
    med AS (
      SELECT MIN(v) AS med FROM cum CROSS JOIN nt WHERE c >= (nt.n + 1) // 2
    ),
    seg AS (
      SELECT segment,
             CAST(SUM(cnt) AS BIGINT) AS n_g,
             CAST(SUM(CASE WHEN v > med.med THEN cnt ELSE 0 END) AS BIGINT)
               AS n_above
      FROM cells CROSS JOIN med GROUP BY segment
    ),
    tot AS (SELECT SUM(n_g) AS n, SUM(n_above) AS a FROM seg)
    SELECT seg.segment, seg.n_g, seg.n_above,
           seg.n_g - seg.n_above AS n_at_or_below,
           med.med AS median_cents,
           ROUND((seg.n_g * 1.0 * tot.a) / tot.n, 6) AS expected_above,
           ROUND(((seg.n_above - (seg.n_g * 1.0 * tot.a) / tot.n)
                  * (seg.n_above - (seg.n_g * 1.0 * tot.a) / tot.n))
                 / ((seg.n_g * 1.0 * tot.a) / tot.n)
                 + (((seg.n_g - seg.n_above)
                     - (seg.n_g * 1.0 * (tot.n - tot.a)) / tot.n)
                    * ((seg.n_g - seg.n_above)
                       - (seg.n_g * 1.0 * (tot.n - tot.a)) / tot.n))
                   / ((seg.n_g * 1.0 * (tot.n - tot.a)) / tot.n), 6)
             AS chi2_contribution
    FROM seg CROSS JOIN tot CROSS JOIN med
    """,
)
def moods_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test of order value across the five market
    segments: the 2 x k contingency of above vs at-or-below the grand
    lower median, published per segment with expected counts and
    chi2 contributions (their sum is the statistic, df = k - 1).

    Exactness: the median is an integer order statistic off the
    value-domain histogram; all cells are exact integers; each
    segment's contribution is two pinned (o-e)^2/e doubles summed
    above-first, written identically in both engines, rounded 6dp.

    Scale shape: one fact-pass hash aggregate to the (segment x value)
    histogram (localCheckpointed — feeds the median scan and the
    segment fold), one value-domain prefix window for the median (the
    wasserstein/mannwhitney bounded-domain contract), then
    metadata-scale arithmetic; the 1-row median and totals broadcast."""
    from pyspark.sql.functions import broadcast

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cells = (
        o.join(broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint()  # feeds the median scan and the segment fold
    )
    vt = cells.groupBy("v").agg(F.sum("cnt").alias("cnt"))
    w_run = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vt.select("v", F.sum("cnt").over(w_run).alias("c"))
    nt = vt.agg(F.sum("cnt").alias("n"))
    from ecommerce_data_pipeline_spark.plans._helpers import exact_floor_div

    med = (
        cum.crossJoin(broadcast(nt))
        # exact-integer ceil(n/2) = (n+1)//2 — route through
        # exact_floor_div for consistency with the repo's exact-integer
        # discipline (F.floor of a double division is exact only below
        # ~2^53 rows; r12 advice)
        .filter(F.col("c") >= exact_floor_div(F.col("n") + 1, F.lit(2)))
        .agg(F.min("v").alias("med"))
    )
    seg = (
        cells.crossJoin(broadcast(med))
        .groupBy("segment")
        .agg(
            F.sum("cnt").cast("long").alias("n_g"),
            F.sum(F.when(F.col("v") > F.col("med"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_above"),
        )
    )
    tot = seg.agg(F.sum("n_g").alias("n"), F.sum("n_above").alias("a"))
    e_above = (F.col("n_g") * 1.0 * F.col("a")) / F.col("n")
    e_below = (F.col("n_g") * 1.0 * (F.col("n") - F.col("a"))) / F.col("n")
    n_below = F.col("n_g") - F.col("n_above")
    return (
        seg.crossJoin(broadcast(tot))
        .crossJoin(broadcast(med))
        .select(
            "segment",
            "n_g",
            "n_above",
            n_below.alias("n_at_or_below"),
            F.col("med").alias("median_cents"),
            F.round(e_above, 6).alias("expected_above"),
            F.round(
                ((F.col("n_above") - e_above) * (F.col("n_above") - e_above))
                / e_above
                + ((n_below - e_below) * (n_below - e_below)) / e_below,
                6,
            ).alias("chi2_contribution"),
        )
    )


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test (r12 batch 5) — the BINARY-OUTCOME member
# of the ordered-groups ladder (Cochran 1954; Armitage 1955):
# Jonckheere-Terpstra asks whether a CONTINUOUS response shifts
# monotonically with the ordinal factor; Cochran-Armitage asks the same
# of a PROPORTION (here: the fraction of fulfilled orders, status 'F',
# across the five priority levels with their natural integer scores).


@register(
    "cochran_armitage_priority_trend",
    # z is restated in the cross-multiplied exact-integer form:
    # z = (T*N - R*S1) / sqrt(R*(N-R)*(N*S2 - S1^2) / N), where T = sum
    # s_i * r_i, S1 = sum s_i * n_i, S2 = sum s_i^2 * n_i — algebraically
    # identical to the textbook (T - pbar*S1)/sqrt(pbar*(1-pbar)*
    # (S2 - S1^2/N)) but with ONE division (inside the sqrt) and one
    # final division on exact HUGEINT/DECIMAL(38,0) integers, so there
    # is no intermediate float for the engines to disagree on.
    oracle="""
    WITH g AS MATERIALIZED (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM orders GROUP BY 1
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             SUM(n) AS nn, SUM(r) AS rr,
             SUM(CAST(s AS HUGEINT) * r) AS t,
             SUM(CAST(s AS HUGEINT) * n) AS s1,
             SUM(CAST(s AS HUGEINT) * s * n) AS s2
      FROM g
    )
    SELECT k AS k_groups, CAST(nn AS BIGINT) AS n,
           CAST(rr AS BIGINT) AS n_success,
           CAST(t AS BIGINT) AS t_stat,
           ROUND(CAST(t * CAST(nn AS HUGEINT) - rr * s1 AS DOUBLE)
                 / sqrt(CAST(CAST(rr AS HUGEINT) * (nn - rr)
                             * (CAST(nn AS HUGEINT) * s2 - s1 * s1) AS DOUBLE)
                        / CAST(nn AS DOUBLE)), 6) AS z_score
    FROM agg
    """,
)
def cochran_armitage_priority_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Armitage test for a linear trend in the fulfilled-order
    proportion across the five ordered priority levels (scores = the
    leading priority digit 1..5): the score-weighted success statistic
    T = sum s_i r_i and the trend z in the cross-multiplied
    exact-integer form (see oracle comment).

    Exactness: per-group sizes and success counts are one hash
    aggregate; T, S1, S2 and both z factors are exact
    DECIMAL(38,0)/HUGEINT integers; the z is one division inside the
    sqrt and one outside, written identically in both engines, 6dp.

    Scale shape: one map-side-combined aggregate to k = 5 rows, then a
    scalar fold — no windows, no joins, nothing grows with the fact
    table."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("s")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("long")
            .alias("r"),
        )
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").alias("nn"),
        F.sum("r").alias("rr"),
        F.sum(d("s") * F.col("r")).alias("t"),
        F.sum(d("s") * F.col("n")).alias("s1"),
        F.sum(d("s") * F.col("s") * F.col("n")).alias("s2"),
    )
    num = (
        F.col("t") * F.col("nn").cast("decimal(38,0)")
        - F.col("rr").cast("decimal(38,0)") * F.col("s1")
    )
    den2 = (
        F.col("rr").cast("decimal(38,0)")
        * (F.col("nn") - F.col("rr"))
        * (
            F.col("nn").cast("decimal(38,0)") * F.col("s2")
            - F.col("s1") * F.col("s1")
        )
    )
    return agg.select(
        F.col("k").alias("k_groups"),
        F.col("nn").cast("long").alias("n"),
        F.col("rr").cast("long").alias("n_success"),
        F.col("t").cast("long").alias("t_stat"),
        F.round(
            num.cast("double")
            / F.sqrt(den2.cast("double") / F.col("nn").cast("double")),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Page's trend test (r13) — the ORDERED-alternatives member of the
# repeated-measures tier (Page 1963): where Friedman asks "do the k
# treatments differ at all?", Page's L asks "do they INCREASE in a
# pre-specified order?" — here, is per-segment annual revenue trending
# across the ordered calendar years, with each market segment serving
# as its own block? L = sum_j j*R_j over within-block ranks; large |z|
# = a monotone year trend consistent across segments.
#
# Integer discipline: within-block midranks are DOUBLED (2*below + eq
# + 1 — the Jonckheere/Mood convention), so L2 = 2L, E[L2] =
# m*k*(k+1)^2/2 and the tie-conditional 12*Var(L2) = k*(k+1)*
# sum_cells (R2 - (k+1))^2 are all exact integers; with no ties this
# reduces to the textbook Var(L) = m*k^2*(k+1)^2*(k-1)/144 (verified
# in tests/test_statistics.py). Only the final z folds to a double,
# rounded at 6dp from identical integer inputs on both engines.


@register(
    "page_trend_yearly_revenue",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS segment, year(o.o_orderdate) AS y,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    segs AS (SELECT DISTINCT segment FROM cells),
    yrs AS (SELECT DISTINCT y FROM cells),
    grid AS (
      SELECT s.segment, yr.y, COALESCE(rev, 0) AS rev
      FROM segs s CROSS JOIN yrs yr
      LEFT JOIN cells c ON c.segment = s.segment AND c.y = yr.y),
    years AS (SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY y) AS BIGINT) AS j
              FROM yrs),
    ranked AS (
      SELECT segment, y,
             CAST(2 * RANK() OVER (PARTITION BY segment ORDER BY rev)
                  + COUNT(*) OVER (PARTITION BY segment, rev) - 1
                  AS BIGINT) AS r2
      FROM grid),
    kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM yrs),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM segs),
    agg AS (
      SELECT CAST(SUM(j * r2) AS BIGINT) AS l2,
             CAST(SUM((r2 - (k + 1)) * (r2 - (k + 1))) AS BIGINT) AS s
      FROM ranked JOIN years USING (y) CROSS JOIN kk)
    SELECT m AS n_blocks, k AS k_treatments, l2,
           CAST(m * k * (k + 1) * (k + 1) // 2 AS BIGINT) AS e_l2,
           CAST(k * (k + 1) * s AS BIGINT) AS var_l2_x12,
           round((l2 - e_l2) / sqrt(k * (k + 1) * s / 12.0), 6) AS z_score
    FROM agg CROSS JOIN kk CROSS JOIN mm
    """,
)
def page_trend_yearly_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Page's L trend test: blocks = customer market segments,
    ordered treatments = calendar years, measure = exact-decimal
    revenue. The dense segment x year grid (zero-revenue cells
    included — the chi-square dense-grid rule) keeps every block at
    the same k.

    Scale shape: one fact-pass hash aggregate to the m x k cell grid
    (broadcast customer dim), then every window runs over that
    taxonomy x calendar-bounded grid — the segment-partitioned rank
    windows see k rows each, the year-index window <= k rows. The
    corpus is touched exactly once regardless of order count."""
    return _page_trend_from_cells(_segment_year_cells(spark, sf_dir))


def _segment_year_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared repeated-measures grid: per (market segment, calendar
    year) exact-decimal revenue — blocks x ordered treatments for
    Page's L and judges x objects for Kendall's W."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").alias("y"),
        )
        # exact-decimal sum (the registry parity rule): a raw double
        # sum could tie/untie near-equal cells differently per engine
        # and flip the rank windows downstream (r13 review finding)
        .agg(F.sum(dec("o_totalprice")).alias("rev"))
        # persist, NOT localCheckpoint: checkpointing truncates lineage
        # so inputFiles() is empty and bench.py's scan-floor
        # attribution would subtract a zero floor (r13 review finding)
        .persist()  # feeds segs/yrs/grid on every consumer
    )


def _grid_ranked_arrays(cells: DataFrame) -> DataFrame:
    """Per-SEGMENT dense-grid rank vectors for the (segment x year)
    family, computed ROW-LOCALLY from collected arrays (r14, guide
    §2.4): one row per segment carrying

      ys   — the GLOBAL sorted year spine (same array every row),
      revs — the zero-filled revenue vector over ys,
      r2s  — the doubled within-segment midranks (2·rank + ties − 1,
             rank = 1 + #{v < x}, ties = #{v = x} — exactly the
             rank()/count() window algebra, evaluated per cell on the
             <= k-element array),
      ts   — each cell's tie-group size #{v = x}.

    Replaces the segs×yrs grid join + two window shuffles of the r13
    form: the grid is taxonomy × calendar bounded (~35 cells at ANY
    corpus size), so k²-element HOF lambdas per segment are ~50
    interpreted evaluations TOTAL — nothing like the pq per-row trap —
    while the job/exchange count of every consumer collapses."""
    ys1 = cells.agg(F.sort_array(F.collect_set("y")).alias("ys"))  # 1 row
    per_seg = cells.groupBy("segment").agg(
        F.map_from_entries(F.collect_list(F.struct("y", "rev"))).alias("rm")
    )
    filled = per_seg.crossJoin(F.broadcast(ys1)).select(
        "segment",
        "ys",
        F.expr(
            "transform(ys, yy -> coalesce(element_at(rm, yy), 0))"
        ).alias("revs"),
    )
    return filled.select(
        "segment",
        "ys",
        "revs",
        F.expr(
            "transform(revs, x -> CAST("
            "2 * (size(filter(revs, v -> v < x)) + 1)"
            " + size(filter(revs, v -> v = x)) - 1 AS BIGINT))"
        ).alias("r2s"),
        F.expr(
            "transform(revs, x -> "
            "CAST(size(filter(revs, v -> v = x)) AS BIGINT))"
        ).alias("ts"),
    )


def _page_trend_from_cells(cells: DataFrame) -> DataFrame:
    """Page's L statistic row from a (segment, y, rev) cell relation —
    factored so the hand-pinned pytest drives the PRODUCTION algebra
    (the _jt_doubled_statistic precedent) instead of an inline
    replica. r14: ranks come from _grid_ranked_arrays (row-local; the
    exact rank()/count() integers), and the whole statistic folds in
    ONE aggregate over the per-segment array relation — no grid join,
    no window shuffles, no separate kk/mm aggregates."""
    from ecommerce_data_pipeline_spark.plans._helpers import exact_floor_div

    g = _grid_ranked_arrays(cells)
    per_seg = g.select(
        F.size("ys").cast("long").alias("k"),
        # l2_seg = sum_j j * r2[j]  (j = 1-based year index; ys sorted)
        F.expr(
            "aggregate(zip_with(r2s, sequence(1, size(r2s)),"
            " (r, j) -> r * CAST(j AS BIGINT)),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("l2_seg"),
        # s_seg = sum_j (r2[j] - (k+1))^2
        F.expr(
            "aggregate(transform(r2s,"
            " r -> (r - (size(ys) + 1)) * (r - (size(ys) + 1))),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("s_seg"),
    )
    out = per_seg.agg(
        F.sum("l2_seg").cast("long").alias("l2"),
        F.sum("s_seg").cast("long").alias("s"),
        F.max("k").cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    e_l2 = exact_floor_div(
        F.col("m") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1),
        F.lit(2),
    ).cast("long")
    var_x12 = (F.col("k") * (F.col("k") + 1) * F.col("s")).cast("long")
    return out.select(
        F.col("m").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.col("l2"),
        e_l2.alias("e_l2"),
        var_x12.alias("var_l2_x12"),
        F.round(
            (F.col("l2") - e_l2).cast("double")
            / F.sqrt(var_x12.cast("double") / F.lit(12.0)),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Kendall's W coefficient of concordance (r13) — the AGREEMENT member
# of the repeated-measures trio (Kendall & Babington Smith 1939):
# Friedman asks "do the treatments differ?", Page asks "do they trend
# in a given order?", W asks "how strongly do the m judges agree at
# all?" on a normalized [0, 1] scale (W = chi2_Friedman / (m(k-1))).
# Judges = market segments ranking the calendar years by revenue.
#
# Integer discipline: doubled within-judge midranks (the Jonckheere /
# Mood / Page convention) make the column rank sums R2_j and the
# centered square sum S2x4 = sum_j (R2_j - m(k+1))^2 = 4S exact
# integers; with the tie correction T = sum_b sum_groups (t^3 - t),
# W = 12S / (m^2(k^3 - k) - mT) = 3*S2x4 / (m^2(k^3-k) - mT) — exact
# integer numerator/denominator, one 6dp double fold at the end.


@register(
    "kendalls_w_concordance",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS segment, year(o.o_orderdate) AS y,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    segs AS (SELECT DISTINCT segment FROM cells),
    yrs AS (SELECT DISTINCT y FROM cells),
    grid AS (
      SELECT s.segment, yr.y, COALESCE(rev, 0) AS rev
      FROM segs s CROSS JOIN yrs yr
      LEFT JOIN cells c ON c.segment = s.segment AND c.y = yr.y),
    ranked AS (
      SELECT segment, y,
             CAST(2 * RANK() OVER (PARTITION BY segment ORDER BY rev)
                  + COUNT(*) OVER (PARTITION BY segment, rev) - 1
                  AS BIGINT) AS r2
      FROM grid),
    kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM yrs),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM segs),
    colsum AS (SELECT y, SUM(r2) AS r2j FROM ranked GROUP BY y),
    s2 AS (SELECT CAST(SUM((r2j - m*(k+1)) * (r2j - m*(k+1))) AS BIGINT)
                    AS s2x4
           FROM colsum CROSS JOIN kk CROSS JOIN mm),
    tg AS (SELECT DISTINCT segment, rev,
                  CAST(COUNT(*) OVER (PARTITION BY segment, rev)
                       AS BIGINT) AS t
           FROM grid),
    tc AS (SELECT CAST(SUM(t*t*t - t) AS BIGINT) AS tsum FROM tg)
    SELECT m AS n_judges, k AS k_objects, s2x4,
           tsum AS tie_correction,
           CAST(3 * s2x4 AS BIGINT) AS w_num,
           CAST(m*m*(k*k*k - k) - m*tsum AS BIGINT) AS w_den,
           round(3.0 * s2x4 / (m*m*(k*k*k - k) - m*tsum), 6) AS w_stat
    FROM s2 CROSS JOIN tc CROSS JOIN kk CROSS JOIN mm
    """,
)
def kendalls_w_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W over the shared segment x year revenue grid (judges
    = segments, objects = years). Scale shape identical to Page's L:
    one fact-pass aggregate to the m x k grid, then taxonomy x
    calendar-bounded windows and O(1) arithmetic."""
    return _kendalls_w_from_cells(_segment_year_cells(spark, sf_dir))


def _kendalls_w_from_cells(cells: DataFrame) -> DataFrame:
    """Kendall's W statistic row from a (segment, y, rev) cell relation
    — factored so the hand-pinned pytest drives the PRODUCTION algebra
    (the _page_trend_from_cells precedent). r14: ranks and tie-group
    sizes come from _grid_ranked_arrays (row-local), the per-year rank
    sums fold through one posexplode + one k-group aggregate, and the
    tie correction folds in the SAME pass via the per-cell identity
    Σ_cells (t² − 1) = Σ_groups (t³ − t) (each group of size t
    contributes t cells of t² − 1) — no grid join, no windows, no
    distinct, no separate kk/mm aggregates."""
    g = _grid_ranked_arrays(cells)
    ex = g.select(
        F.size("ys").cast("long").alias("k"),
        F.posexplode(F.arrays_zip("r2s", "ts")).alias("i", "cell"),
    )
    per_year = ex.groupBy("i").agg(
        F.sum("cell.r2s").cast("long").alias("r2j"),
        F.sum(F.col("cell.ts") * F.col("cell.ts") - 1)
        .cast("long")
        .alias("tpart"),
        F.max("k").cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    out = per_year.agg(
        F.sum(
            (F.col("r2j") - F.col("m") * (F.col("k") + 1))
            * (F.col("r2j") - F.col("m") * (F.col("k") + 1))
        )
        .cast("long")
        .alias("s2x4"),
        F.sum("tpart").cast("long").alias("tsum"),
        F.max("k").cast("long").alias("k"),
        F.max("m").cast("long").alias("m"),
    )
    w_den = (
        F.col("m") * F.col("m")
        * (F.col("k") * F.col("k") * F.col("k") - F.col("k"))
        - F.col("m") * F.col("tsum")
    ).cast("long")
    return out.select(
        F.col("m").alias("n_judges"),
        F.col("k").alias("k_objects"),
        F.col("s2x4"),
        F.col("tsum").alias("tie_correction"),
        (3 * F.col("s2x4")).cast("long").alias("w_num"),
        w_den.alias("w_den"),
        F.round(
            (3.0 * F.col("s2x4")).cast("double") / w_den.cast("double"),
            6,
        ).alias("w_stat"),
    )


# ---------------------------------------------------------------------------
# Quade test (r13) — the WEIGHTED member completing the
# repeated-measures quartet (Quade 1979): Friedman weighs every block
# equally; Quade weights each block by the rank of its RANGE, so
# blocks where the treatments actually separate dominate — the more
# powerful choice when effect sizes differ across blocks (k <= ~5
# guidance in Conover). Blocks = market segments, treatments = years.
#
# Integer discipline: doubled within-block midranks r2 and doubled
# range-ranks q2 make S4 = q2*(r2 - (k+1)) = 4*S_ij exact integers;
# A2x16 = sum S4^2 and Bx16m = sum_j (sum_b S4_bj)^2 fold the
# statistic to the exact rational F = (m-1)*Bx16m / (m*A2x16 - Bx16m)
# (the 16 and m factors cancel), emitted as exact integers + one 6dp
# double. Complete-tie degeneracy (denominator 0) yields NULL on both
# engines via NULLIF.


@register(
    "quade_weighted_friedman",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS segment, year(o.o_orderdate) AS y,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    segs AS (SELECT DISTINCT segment FROM cells),
    yrs AS (SELECT DISTINCT y FROM cells),
    grid AS (
      SELECT s.segment, yr.y, COALESCE(rev, 0) AS rev
      FROM segs s CROSS JOIN yrs yr
      LEFT JOIN cells c ON c.segment = s.segment AND c.y = yr.y),
    ranked AS (
      SELECT segment, y,
             CAST(2 * RANK() OVER (PARTITION BY segment ORDER BY rev)
                  + COUNT(*) OVER (PARTITION BY segment, rev) - 1
                  AS BIGINT) AS r2
      FROM grid),
    rng AS (SELECT segment, MAX(rev) - MIN(rev) AS range
            FROM grid GROUP BY segment),
    qrank AS (
      SELECT segment,
             CAST(2 * RANK() OVER (ORDER BY range)
                  + COUNT(*) OVER (PARTITION BY range) - 1
                  AS BIGINT) AS q2
      FROM rng),
    kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM yrs),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM segs),
    s4 AS (
      SELECT r.segment, r.y, q.q2 * (r.r2 - (k + 1)) AS s4
      FROM ranked r JOIN qrank q USING (segment) CROSS JOIN kk),
    a2 AS (SELECT CAST(SUM(s4 * s4) AS BIGINT) AS a2x16 FROM s4),
    colsum AS (SELECT y, SUM(s4) AS s4j FROM s4 GROUP BY y),
    bb AS (SELECT CAST(SUM(s4j * s4j) AS BIGINT) AS bx16m FROM colsum)
    SELECT m AS n_blocks, k AS k_treatments, a2x16, bx16m,
           CAST((m - 1) * bx16m AS BIGINT) AS f_num,
           CAST(m * a2x16 - bx16m AS BIGINT) AS f_den,
           round(CAST((m - 1) * bx16m AS DOUBLE)
                 / NULLIF(m * a2x16 - bx16m, 0), 6) AS f_stat
    FROM a2 CROSS JOIN bb CROSS JOIN kk CROSS JOIN mm
    """,
)
def quade_weighted_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade's range-weighted rank test over the shared segment x year
    revenue grid. Scale shape identical to Page/W: one fact-pass
    aggregate to the m x k grid, then every window runs over the
    taxonomy x calendar-bounded grid or the m-row range spine."""
    return _quade_from_cells(_segment_year_cells(spark, sf_dir))


def _quade_from_cells(cells: DataFrame) -> DataFrame:
    """Quade statistic row from a (segment, y, rev) cell relation —
    factored so the hand-pinned pytest drives the PRODUCTION algebra
    (the _page_trend_from_cells precedent). r14: within-block ranks and
    the block range come from _grid_ranked_arrays (row-local); only the
    m-row range-rank window remains (bounded by the segment taxonomy),
    and both statistic sums fold through one posexplode + one k-group
    aggregate — no grid join/localCheckpoint, no per-cell windows, no
    separate kk/mm aggregates."""
    g = _grid_ranked_arrays(cells)
    rng = g.select(
        F.size("ys").cast("long").alias("k"),
        "r2s",
        (F.array_max("revs") - F.array_min("revs")).alias("range"),
    )
    # range-rank windows run over the m-row block spine (bounded by the
    # segment taxonomy)
    w_q = Window.orderBy("range")
    w_qt = Window.partitionBy("range")
    qrank = rng.select(
        "k",
        "r2s",
        (2 * F.rank().over(w_q) + F.count(F.lit(1)).over(w_qt) - 1)
        .cast("long")
        .alias("q2"),
    )
    ex = qrank.select(
        "k", "q2", F.posexplode("r2s").alias("i", "r2")
    ).select(
        "k",
        "i",
        (F.col("q2") * (F.col("r2") - (F.col("k") + 1)))
        .cast("long")
        .alias("s4"),
    )
    per_year = ex.groupBy("i").agg(
        F.sum("s4").cast("long").alias("s4j"),
        F.sum(F.col("s4") * F.col("s4")).cast("long").alias("a2part"),
        F.max("k").cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    out = per_year.agg(
        F.sum("a2part").cast("long").alias("a2x16"),
        F.sum(F.col("s4j") * F.col("s4j")).cast("long").alias("bx16m"),
        F.max("k").cast("long").alias("k"),
        F.max("m").cast("long").alias("m"),
    )
    f_num = ((F.col("m") - 1) * F.col("bx16m")).cast("long")
    f_den = (F.col("m") * F.col("a2x16") - F.col("bx16m")).cast("long")
    return out.select(
        F.col("m").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        "a2x16",
        "bx16m",
        f_num.alias("f_num"),
        f_den.alias("f_den"),
        F.round(
            f_num.cast("double")
            / F.nullif(f_den.cast("double"), F.lit(0.0)),
            6,
        ).alias("f_stat"),
    )
