"""Deterministic sketch structures (SURVEY.md §2 extension tier):
Count-Min heavy-hitter estimation and Bloom-filter join pre-filtering.

The engine's other sketches (HLL, GK percentiles) register rows-only
because their internals are engine-specific. These two are built instead
on the PORTABLE 60-bit md5-polynomial hash (same construction as
``hash_split_train_test`` — 1-based instr/strpos over the first 15 hex
digits), so the full sketch state and every estimate are bit-identical in
DuckDB and the queries get EXACT oracles — sketch algorithms promoted to
the strongest correctness tier.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table

_HEX = "0123456789abcdef"


def _digest(col: Column, salt: str) -> Column:
    """md5 hex digest of salt||key — project this ONCE per row, then
    feed the named column to _poly_from_hex. Inlining the digest into
    the polynomial would re-evaluate md5 in every one of the 15 terms
    (measured 10x slowdown at sf0.1 before the split)."""
    return F.md5(F.concat(F.lit(salt), col.cast("string")))


def _poly_from_hex(h: Column) -> Column:
    """Value of the first 15 hex digits of a digest column as a 60-bit
    BIGINT. Spark evaluates it as one conv(hex,16,10) call; the DuckDB
    oracle (no conv function) computes the SAME VALUE as the
    digit-polynomial in _sql_hash60 — value parity, not expression
    parity, is the contract. (A 15-term instr/substring polynomial on
    the Spark side was 10-20x slower: CollapseProject re-inlines the
    md5 into every term, so each row paid 15 digests per hash.)"""
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def _hash60(col: Column, salt: str) -> Column:
    """Portable 60-bit hash (digest inlined — fine for small relations;
    hot paths should project _digest first)."""
    return _poly_from_hex(_digest(col, salt))


def _sql_poly(col: str) -> str:
    """DuckDB digit-polynomial over an already-projected md5 hex column —
    the SQL twin of _poly_from_hex. Shared with plans/sampling_plans.py
    (hash split / weighted sampling) so the 60-bit hash construction has
    one home per engine side."""
    return " + ".join(
        f"(strpos('{_HEX}', substr({col}, {i + 1}, 1)) - 1)"
        f" * {16 ** (14 - i)}"
        for i in range(15)
    )


def _sql_hash60(expr: str, salt: str) -> str:
    inner = f"md5('{salt}' || CAST({expr} AS VARCHAR))"
    return _sql_poly(inner)


_CMS_D = 3  # hash functions (rows of the sketch)
_CMS_W = 512  # buckets per row


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH updates AS (
      SELECT l_partkey, j,
             CASE j
               WHEN 0 THEN ({_sql_hash60('l_partkey', 'cms0#')}) % {_CMS_W}
               WHEN 1 THEN ({_sql_hash60('l_partkey', 'cms1#')}) % {_CMS_W}
               ELSE ({_sql_hash60('l_partkey', 'cms2#')}) % {_CMS_W}
             END AS bucket
      FROM lineitem CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
    ),
    sketch AS (
      SELECT j, bucket, COUNT(*) AS cnt
      FROM updates GROUP BY j, bucket
    ),
    exact AS (
      SELECT l_partkey, COUNT(*) AS exact_count
      FROM lineitem GROUP BY l_partkey
    ),
    probes AS (
      SELECT e.l_partkey, e.exact_count, u.j, u.bucket
      FROM exact e
      JOIN (SELECT DISTINCT l_partkey, j, bucket FROM updates) u
        ON e.l_partkey = u.l_partkey
    ),
    est AS (
      SELECT p.l_partkey, p.exact_count,
             MIN(s.cnt) AS cms_estimate
      FROM probes p JOIN sketch s
        ON p.j = s.j AND p.bucket = s.bucket
      GROUP BY p.l_partkey, p.exact_count
    )
    SELECT l_partkey, exact_count,
           CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(cms_estimate - exact_count AS BIGINT) AS overestimate
    FROM est
    WHERE exact_count >= 45
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch heavy-hitter report: estimate per-part order
    frequency from a d=3 x w=512 counter matrix and compare against the
    exact counts for every part above the heavy-hitter threshold —
    overestimate >= 0 always (CMS never undercounts), and the sketch is
    a fixed 1.5k-counter structure however large the input.

    This is the mergeable-state scale story: each partition folds its
    rows into d*w counters (map-side combine), partial sketches add
    element-wise, and queries are d lookups + a min — at 100 TB the
    sketch is a constant-size substitute for the full-key frequency
    table, and the exact-count comparison here is the calibration run
    you'd do at small scale before trusting it. Built on the portable
    md5-polynomial hash so DuckDB reproduces every counter exactly (see
    module docstring); the d updates per row are an explode to (j,
    bucket) pairs, a hash aggregate, and a broadcast of the tiny sketch
    back onto the distinct-key probe set.
    """
    from pyspark.sql.functions import broadcast

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")

    def bucketed(df):
        # two projections: digests once per row, THEN the polynomials —
        # keeps md5 evaluation at d per row, not d*15 (see _digest)
        with_h = df.select(
            "l_partkey",
            *[
                _digest(F.col("l_partkey"), f"cms{j}#").alias(f"h{j}")
                for j in range(_CMS_D)
            ],
        )
        return with_h.select(
            "l_partkey",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            (_poly_from_hex(F.col(f"h{j}")) % _CMS_W).alias(
                                "bucket"
                            ),
                        )
                        for j in range(_CMS_D)
                    ]
                )
            ).alias("u"),
        ).select(
            "l_partkey",
            F.col("u.j").alias("j"),
            F.col("u.bucket").alias("bucket"),
        )

    sketch = bucketed(li).groupBy("j", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    exact = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("exact_count"))
    # probe buckets recomputed on the DISTINCT keys (|keys| rows, not
    # |updates|): no second pass over the fact relation
    probes = exact.join(bucketed(exact.select("l_partkey")), "l_partkey")
    est = (
        probes.join(broadcast(sketch), ["j", "bucket"])
        .groupBy("l_partkey", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.where(F.col("exact_count") >= 45).select(
        "l_partkey",
        "exact_count",
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("exact_count"))
        .cast("long")
        .alias("overestimate"),
    )


_BLOOM_M = 8192  # bits
_BLOOM_K = 3  # hashes


@register(
    "bloom_join_prefilter",
    oracle=f"""
    WITH dim_keys AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    ),
    bits AS (
      SELECT DISTINCT
             CASE j
               WHEN 0 THEN ({_sql_hash60('c_custkey', 'bloom0#')}) % {_BLOOM_M}
               WHEN 1 THEN ({_sql_hash60('c_custkey', 'bloom1#')}) % {_BLOOM_M}
               ELSE ({_sql_hash60('c_custkey', 'bloom2#')}) % {_BLOOM_M}
             END AS pos
      FROM dim_keys CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
    ),
    probe AS (
      SELECT o_orderkey, o_custkey, j,
             CASE j
               WHEN 0 THEN ({_sql_hash60('o_custkey', 'bloom0#')}) % {_BLOOM_M}
               WHEN 1 THEN ({_sql_hash60('o_custkey', 'bloom1#')}) % {_BLOOM_M}
               ELSE ({_sql_hash60('o_custkey', 'bloom2#')}) % {_BLOOM_M}
             END AS pos
      FROM orders CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
    ),
    passed AS (
      SELECT p.o_orderkey, p.o_custkey
      FROM probe p JOIN bits b ON p.pos = b.pos
      GROUP BY p.o_orderkey, p.o_custkey
      HAVING COUNT(DISTINCT p.j) = {_BLOOM_K}
    ),
    truth AS (
      SELECT o.o_orderkey
      FROM orders o JOIN dim_keys d ON o.o_custkey = d.c_custkey
    )
    SELECT (SELECT COUNT(*) FROM orders) AS n_orders,
           (SELECT COUNT(*) FROM passed) AS n_passed,
           (SELECT COUNT(*) FROM truth) AS n_true_matches,
           (SELECT COUNT(*) FROM passed) - (SELECT COUNT(*) FROM truth)
             AS n_false_positives,
           ROUND(((SELECT COUNT(*) FROM passed)
                  - (SELECT COUNT(*) FROM truth)) * 1.0
                 / (SELECT COUNT(*) FROM orders), 6) AS fp_rate
    """,
)
def bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pre-filter, measured: build an m=8192/k=3 Bloom
    set from the dimension side's join keys (AUTOMOBILE customers),
    probe every fact row, and report pass/true/false-positive counts —
    the runtime-filter pattern (Spark's own bloom runtime filters,
    `spark.sql.optimizer.runtime.bloomFilter.enabled`) made explicit
    and cross-engine-verifiable.

    Why it matters at 100 TB: a shuffle join ships EVERY fact row;
    pushing the dim side's compact bit-set to the fact scan first drops
    non-matching rows before the exchange, shrinking the shuffle to
    (selectivity + fp_rate) of the input. The bit-set here is the
    distinct set-bit table (a few hundred rows, broadcast); a row
    passes when all k probe positions hit. The fp accounting against
    the true semi-join is the calibration that sizes m/k for a target
    false-positive budget.
    """
    from pyspark.sql.functions import broadcast

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim_keys = cust.where(F.col("c_mktsegment") == "AUTOMOBILE").select(
        "c_custkey"
    )
    bits = dim_keys.select(
        F.explode(
            F.array(
                *[
                    (_hash60(F.col("c_custkey"), f"bloom{j}#") % _BLOOM_M)
                    for j in range(_BLOOM_K)
                ]
            )
        ).alias("pos")
    ).distinct()
    probe = orders.select(
        "o_orderkey",
        "o_custkey",
        *[
            _digest(F.col("o_custkey"), f"bloom{j}#").alias(f"h{j}")
            for j in range(_BLOOM_K)
        ],
    ).select(
        "o_orderkey",
        "o_custkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (_poly_from_hex(F.col(f"h{j}")) % _BLOOM_M).alias(
                            "pos"
                        ),
                    )
                    for j in range(_BLOOM_K)
                ]
            )
        ).alias("u"),
    ).select(
        "o_orderkey", "o_custkey", F.col("u.j").alias("j"), F.col("u.pos").alias("pos")
    )
    passed = (
        probe.join(broadcast(bits), "pos")
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.countDistinct("j").alias("k_hits"))
        .where(F.col("k_hits") == _BLOOM_K)
        .select(F.count(F.lit(1)).alias("n_passed"))
    )
    truth = (
        orders.join(broadcast(dim_keys), orders.o_custkey == dim_keys.c_custkey)
        .select(F.count(F.lit(1)).alias("n_true_matches"))
    )
    n_orders = orders.select(F.count(F.lit(1)).alias("n_orders"))
    return (
        n_orders.crossJoin(passed)
        .crossJoin(truth)
        .select(
            "n_orders",
            "n_passed",
            "n_true_matches",
            (F.col("n_passed") - F.col("n_true_matches")).alias(
                "n_false_positives"
            ),
            F.round(
                (F.col("n_passed") - F.col("n_true_matches"))
                * 1.0
                / F.col("n_orders"),
                6,
            ).alias("fp_rate"),
        )
    )


# ---------------------------------------------------------------------------
# HLL union over a sliding time window (r8 — GRADING_BACKLOG
# "hyperloglog_union_over_time"), on the portable hash like CMS/Bloom
# above, so the full register state and the estimate are bit-identical
# cross-engine and the query gets an EXACT oracle.

_HLLU_M = 64  # registers (p = 6)
_HLLU_WIN = 7  # trailing window, days
# alpha_m * m^2 * 2^54: the raw-estimate numerator as ONE Python float
# constant (single division per output row keeps IEEE determinism).
_HLLU_ALPHA = 0.7213 / (1.0 + 1.079 / _HLLU_M)
_HLLU_NUM = _HLLU_ALPHA * _HLLU_M * _HLLU_M * float(2**54)
# Small-range (linear-counting) table m*ln(m/V) for V = 1..m-1, rounded
# once in Python and inlined as literals in BOTH engines — ln never runs
# inside either engine (the band-tuning-grid precedent).
_HLLU_LC = {
    v: round(_HLLU_M * _math.log(_HLLU_M / v), 4) for v in range(1, _HLLU_M)
}
_SQL_HLLU_LC = (
    "CASE v_zero "
    + " ".join(f"WHEN {v} THEN {e}" for v, e in _HLLU_LC.items())
    + " END"
)
# 2.5·m: the standard small-range switch threshold.
_HLLU_SMALL = 2.5 * _HLLU_M


@register(
    "hyperloglog_union_over_time",
    oracle=f"""
    WITH base AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
             ({_sql_hash60("user_id", "hllu#")}) AS h
      FROM events
    ),
    slots AS (
      SELECT day, user_id,
             h % {_HLLU_M} AS bucket,
             CASE WHEN h // {_HLLU_M} = 0 THEN {2**53}
                  ELSE (h // {_HLLU_M}) & (-(h // {_HLLU_M})) END AS lsb
      FROM base
    ),
    daily AS (
      SELECT day, bucket, MAX(lsb) AS lsb_max
      FROM slots GROUP BY 1, 2
    ),
    grid AS (SELECT DISTINCT day FROM base),
    merged AS (
      SELECT g.day, d.bucket, MAX(d.lsb_max) AS lsb_max
      FROM grid g JOIN daily d
        ON d.day BETWEEN g.day - INTERVAL {_HLLU_WIN - 1} DAY AND g.day
      GROUP BY 1, 2
    ),
    sketch AS (
      SELECT day,
             CAST(COUNT(*) AS BIGINT) AS buckets_present,
             CAST({_HLLU_M} - COUNT(*) AS BIGINT) AS v_zero,
             CAST(SUM({2**53} // lsb_max)
                  + ({_HLLU_M} - COUNT(*)) * {2**54} AS BIGINT) AS sum_int
      FROM merged GROUP BY day
    ),
    exact AS (
      SELECT g.day, COUNT(DISTINCT s.user_id) AS exact_distinct
      FROM grid g JOIN slots s
        ON s.day BETWEEN g.day - INTERVAL {_HLLU_WIN - 1} DAY AND g.day
      GROUP BY 1
    ),
    est AS (
      SELECT day, buckets_present, v_zero, sum_int,
             {_HLLU_NUM!r} / sum_int AS e_raw
      FROM sketch
    )
    SELECT est.day, buckets_present, v_zero, sum_int,
           round(CASE WHEN v_zero > 0 AND e_raw <= {_HLLU_SMALL!r}
                      THEN {_SQL_HLLU_LC}
                      ELSE e_raw END, 4) AS hll_estimate,
           CAST(exact_distinct AS BIGINT) AS exact_distinct,
           round(abs(round(CASE WHEN v_zero > 0 AND e_raw <= {_HLLU_SMALL!r}
                                THEN {_SQL_HLLU_LC}
                                ELSE e_raw END, 4) - exact_distinct)
                 / exact_distinct, 4) AS rel_error
    FROM est JOIN exact ON est.day = exact.day
    """,
)
def hyperloglog_union_over_time(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding 7-day distinct users per day via DAILY HyperLogLog
    sketches merged over the trailing window — the mergeability property
    that makes HLL the 100 TB distinct-count structure: each day
    materializes m = 64 registers (a days×64-row relation, metadata
    scale), and any window union is a register-wise MAX, never a rescan
    of the raw events. The estimate is graded against the exact trailing
    distinct count (the evaluation yardstick — at production scale the
    exact side is what HLL exists to avoid).

    Engine-portability (the CMS/Bloom discipline): the hash is the
    60-bit md5 polynomial; bucket = h mod 64; the register value is the
    TRAILING-zero geometric statistic of the remaining 54 bits, kept as
    ``lsb = q & −q`` (a power of two, so register MAX-merge = integer
    max, and the harmonic-mean term 2^{{−rho}} scaled by 2^54 is the
    EXACT integer 2^53/lsb). Register sums are BIGINT (≤ 64·2^54 = 2^60,
    no HUGEINT risk); alpha·m²·2^54 and the 63-entry linear-counting
    table m·ln(m/V) are Python-computed literals in BOTH engines, so the
    only runtime float is one division (+4dp round). Window merge is a
    7-day range join against the distinct-day grid — daily-sketch rows
    fan out ≤ 7×, and empty-day drain needs no dense grid because
    registers carry no decay."""
    events = load_table(spark, sf_dir, "events")
    h = _hash60(F.col("user_id"), "hllu#")
    # h >> 6, NOT floor(h/64): the double division would round the
    # 60-bit hash at bit 53 and desync the registers from the oracle
    q = F.shiftright(F.col("h"), 6)
    slots = events.select(
        F.to_date("ts").alias("day"), "user_id", h.alias("h")
    ).select(
        "day",
        "user_id",
        (F.col("h") % _HLLU_M).alias("bucket"),
        F.when(q == 0, F.lit(2**53))
        .otherwise(q.bitwiseAND(-q))
        .alias("lsb"),
    )
    # UNPINNED — the grid / sketch / exact branches re-scan events (4
    # column-pruned passes) which local[32] overlaps for free; the r8
    # A/B with the daily sketch persisted measured 2x SLOWER walls
    # (0.53 vs 1.06 s at sf0.1) because the materialization barrier
    # serializes the branches. Plan pinned in tests/test_scale_paths.py.
    daily = slots.groupBy("day", "bucket").agg(F.max("lsb").alias("lsb_max"))
    g = slots.select("day").distinct().withColumnRenamed("day", "gday")
    merged = (
        F.broadcast(g)
        .join(
            daily,
            (F.col("day") >= F.date_sub(F.col("gday"), _HLLU_WIN - 1))
            & (F.col("day") <= F.col("gday")),
        )
        .groupBy("gday", "bucket")
        .agg(F.max("lsb_max").alias("lsb_max"))
    )
    sketch = merged.groupBy("gday").agg(
        F.count(F.lit(1)).cast("long").alias("buckets_present"),
        (F.lit(_HLLU_M) - F.count(F.lit(1))).cast("long").alias("v_zero"),
        (
            F.sum(F.floor(F.lit(2**53) / F.col("lsb_max")))
            + (F.lit(_HLLU_M) - F.count(F.lit(1))) * F.lit(2**54)
        )
        .cast("long")
        .alias("sum_int"),
    )
    exact = (
        F.broadcast(g)
        .join(
            slots,
            (F.col("day") >= F.date_sub(F.col("gday"), _HLLU_WIN - 1))
            & (F.col("day") <= F.col("gday")),
        )
        .groupBy("gday")
        .agg(F.count_distinct("user_id").cast("long").alias("exact_distinct"))
    )
    e_raw = F.lit(_HLLU_NUM) / F.col("sum_int")
    lc = None
    for v, e in _HLLU_LC.items():
        cond = F.col("v_zero") == v
        lc = F.when(cond, e) if lc is None else lc.when(cond, e)
    estimate = F.round(
        F.when((F.col("v_zero") > 0) & (e_raw <= _HLLU_SMALL), lc).otherwise(
            e_raw
        ),
        4,
    )
    return (
        sketch.join(exact, "gday")
        .select(
            F.col("gday").alias("day"),
            "buckets_present",
            "v_zero",
            "sum_int",
            estimate.alias("hll_estimate"),
            "exact_distinct",
            F.round(
                F.abs(estimate - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable equi-width histogram quantiles over a sliding window (r8) —
# the percentile twin of hyperloglog_union_over_time: daily integer
# sketches, window-merged by pure addition, estimates graded against the
# exact windowed percentile.

_HQ_BINS = 32
_HQ_WIDTH = 2000  # cents per bin ($20); bin 31 clamps the tail
_HQ_WIN = 7  # trailing window, days
_HQ_QS = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))


@register(
    "histogram_quantile_window_merge",
    oracle=f"""
    WITH vals AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(round(value * 100) AS BIGINT) AS vc,
             value
      FROM events
    ),
    hist AS (
      SELECT day,
             CAST(LEAST({_HQ_BINS - 1}, vc // {_HQ_WIDTH}) AS INT) AS bin,
             COUNT(*) AS cnt
      FROM vals GROUP BY 1, 2
    ),
    grid AS (SELECT DISTINCT day FROM vals),
    merged AS (
      SELECT g.day AS gday, h.bin, CAST(SUM(h.cnt) AS BIGINT) AS mcnt
      FROM grid g JOIN hist h
        ON h.day BETWEEN g.day - INTERVAL {_HQ_WIN - 1} DAY AND g.day
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT gday, bin, mcnt,
             SUM(mcnt) OVER (PARTITION BY gday ORDER BY bin
                             ROWS UNBOUNDED PRECEDING) AS c,
             SUM(mcnt) OVER (PARTITION BY gday) AS n
      FROM merged
    ),
    qs(qtag, q) AS (VALUES {", ".join(f"('{t}', {q})" for t, q in _HQ_QS)}),
    picked AS (
      SELECT gday, qtag, n,
             round((bin * {_HQ_WIDTH} + {float(_HQ_WIDTH)} * (q * (n - 1) + 1 - (c - mcnt)) / mcnt)
                   / 100.0, 4) AS est
      FROM cum CROSS JOIN qs
      WHERE c >= q * (n - 1) + 1 AND (c - mcnt) < q * (n - 1) + 1
    ),
    est_wide AS (
      SELECT gday, CAST(MAX(n) AS BIGINT) AS n_window,
             MAX(CASE WHEN qtag = 'p50' THEN est END) AS est_p50,
             MAX(CASE WHEN qtag = 'p90' THEN est END) AS est_p90,
             MAX(CASE WHEN qtag = 'p99' THEN est END) AS est_p99
      FROM picked GROUP BY gday
    ),
    exact AS (
      SELECT g.day AS gday,
             round(quantile_cont(v.value, 0.5), 4) AS exact_p50,
             round(quantile_cont(v.value, 0.9), 4) AS exact_p90,
             round(quantile_cont(v.value, 0.99), 4) AS exact_p99
      FROM grid g JOIN vals v
        ON v.day BETWEEN g.day - INTERVAL {_HQ_WIN - 1} DAY AND g.day
      GROUP BY 1
    )
    SELECT e.gday AS day, n_window,
           est_p50, exact_p50, est_p90, exact_p90, est_p99, exact_p99
    FROM est_wide e JOIN exact USING (gday)
    """,
)
def histogram_quantile_window_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding 7-day value percentiles (p50/p90/p99) from DAILY
    equi-width histogram sketches — the quantile member of the
    mergeable-sketch family (HLL = distinct counts, CMS = frequencies,
    this = distribution shape): each day materializes ≤ 32 integer bin
    counts, any window union is pure count ADDITION, and a percentile
    estimate is one in-bin linear interpolation over the merged counts.
    At 100 TB the daily sketch relation is days×32 rows; re-scanning raw
    events per window — the exact side computed here as the evaluation
    yardstick — is exactly what the sketch exists to avoid.

    Exactness: bins are fixed integer-cent ranges (width $20, tail
    clamp), counts are BIGINT, and the interpolation
    bin_lo + width·(q·N − cum_before)/count is the same single-rounded
    double expression in both engines; the exact side leans on the
    percentile ↔ quantile_cont 4dp parity precedent
    (percentiles_exact). Window merge reuses the HLL pattern: range
    join against the broadcast distinct-day grid, 7× sketch-row
    fan-out, no dense grid."""
    events = load_table(spark, sf_dir, "events")
    vals = events.select(
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
        "value",
    )
    # Same tradeoff as the HLL union's daily sketch: UNPINNED (local[32]
    # overlaps the redundant column-pruned event scans for free, while
    # a persist barrier serializes the branches — measured 2x wall).
    hist = vals.groupBy(
        "day",
        F.least(F.lit(_HQ_BINS - 1), F.floor(F.col("vc") / _HQ_WIDTH))
        .cast("int")
        .alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    grid = vals.select("day").distinct().withColumnRenamed("day", "gday")
    in_window = (
        F.col("day") >= F.date_sub(F.col("gday"), _HQ_WIN - 1)
    ) & (F.col("day") <= F.col("gday"))
    merged = (
        F.broadcast(grid)
        .join(hist, in_window)
        .groupBy("gday", "bin")
        .agg(F.sum("cnt").cast("long").alias("mcnt"))
    )
    w_cum = (
        Window.partitionBy("gday")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("gday")
    cum = merged.select(
        "gday",
        "bin",
        "mcnt",
        F.sum("mcnt").over(w_cum).alias("c"),
        F.sum("mcnt").over(w_all).alias("n"),
    )
    qs = spark.createDataFrame(list(_HQ_QS), "qtag string, q double")
    # continuous 1-indexed target rank q*(N-1)+1 — the SAME rank
    # convention as percentile/quantile_cont, so the estimate and the
    # exact value share (or neighbor) a bin and the error is bounded
    # by two bin widths
    target = F.col("q") * (F.col("n") - 1) + 1
    picked = (
        cum.crossJoin(F.broadcast(qs))
        .filter((F.col("c") >= target) & ((F.col("c") - F.col("mcnt")) < target))
        .select(
            "gday",
            "qtag",
            "n",
            F.round(
                (
                    F.col("bin") * _HQ_WIDTH
                    + F.lit(float(_HQ_WIDTH))
                    * (target - (F.col("c") - F.col("mcnt")))
                    / F.col("mcnt")
                )
                / F.lit(100.0),
                4,
            ).alias("est"),
        )
    )
    est_wide = picked.groupBy("gday").agg(
        F.max("n").cast("long").alias("n_window"),
        F.max(F.when(F.col("qtag") == "p50", F.col("est"))).alias("est_p50"),
        F.max(F.when(F.col("qtag") == "p90", F.col("est"))).alias("est_p90"),
        F.max(F.when(F.col("qtag") == "p99", F.col("est"))).alias("est_p99"),
    )
    exact = (
        F.broadcast(grid)
        .join(vals, in_window)
        .groupBy("gday")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("exact_p50"),
            F.round(F.percentile("value", F.lit(0.9)), 4).alias("exact_p90"),
            F.round(F.percentile("value", F.lit(0.99)), 4).alias(
                "exact_p99"
            ),
        )
    )
    return est_wide.join(exact, "gday").select(
        F.col("gday").alias("day"),
        "n_window",
        "est_p50",
        "exact_p50",
        "est_p90",
        "exact_p90",
        "est_p99",
        "exact_p99",
    )


# ---------------------------------------------------------------------------
# KMV (theta) sketch set-intersection (r9) — the INTERSECTION member of
# the sketch tier: HLL registers union beautifully (hyperloglog_union_
# over_time) but cannot intersect; the k-minimum-values sketch (Beyer et
# al., SIGMOD 2007, "On synopses for distinct-value estimation under
# multiset operations") supports union AND intersection by keeping the k
# smallest hash values per set. Built on the portable 60-bit hash, so
# sketch contents, thresholds and every estimate are bit-identical
# cross-engine — the cms/bloom promotion discipline.

_KMV_K = 256
_KMV_SALT = "kmv1#"
_KMV_M = float(1 << 60)  # hash-space size as the ONE double literal
_KMV_YEAR_A = 1996
_KMV_YEAR_B = 2000


def _kmv_sql() -> str:
    h = _sql_hash60("c", _KMV_SALT)
    return f"""
    WITH base AS MATERIALIZED (
      SELECT o_custkey AS c,
             MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = {_KMV_YEAR_A}
                      THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = {_KMV_YEAR_B}
                      THEN 1 ELSE 0 END) AS in_b
      FROM orders GROUP BY 1
    ),
    hashed AS MATERIALIZED (
      SELECT c, in_a, in_b, ({h}) AS h FROM base
      WHERE in_a = 1 OR in_b = 1
    ),
    ska AS MATERIALIZED (
      SELECT c, h FROM hashed WHERE in_a = 1
      ORDER BY h, c LIMIT {_KMV_K}
    ),
    skb AS MATERIALIZED (
      SELECT c, h FROM hashed WHERE in_b = 1
      ORDER BY h, c LIMIT {_KMV_K}
    ),
    l AS MATERIALIZED (
      SELECT c, h FROM (
        SELECT c, h FROM ska UNION SELECT c, h FROM skb
      ) ORDER BY h, c LIMIT {_KMV_K}
    ),
    lstats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_l,
             CAST(MAX(h) AS BIGINT) AS theta
      FROM l
    ),
    common AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_common
      FROM l
      WHERE l.c IN (SELECT c FROM ska) AND l.c IN (SELECT c FROM skb)
    ),
    exact AS (
      SELECT CAST(SUM(in_a) AS BIGINT) AS exact_a,
             CAST(SUM(in_b) AS BIGINT) AS exact_b,
             CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS exact_intersection,
             CAST(SUM(CASE WHEN in_a = 1 OR in_b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS exact_union
      FROM base
    ),
    est AS (
      SELECT lstats.n_l, lstats.theta, common.n_common,
             CASE WHEN lstats.n_l < {_KMV_K}
                  THEN CAST(lstats.n_l AS DOUBLE)
                  ELSE CAST({_KMV_K - 1} AS DOUBLE)
                       * CAST({_KMV_M!r} AS DOUBLE)
                       / CAST(lstats.theta AS DOUBLE)
             END AS est_union
      FROM lstats CROSS JOIN common
    )
    SELECT exact.exact_a, exact.exact_b, exact.exact_union,
           exact.exact_intersection,
           CAST({_KMV_K} AS INT) AS sketch_k,
           est.n_l AS union_sketch_size, est.n_common,
           round(est.est_union, 2) AS est_union,
           round(CAST(est.n_common AS DOUBLE) / CAST(est.n_l AS DOUBLE)
                 * est.est_union, 2) AS est_intersection,
           round(abs(est.est_union - CAST(exact.exact_union AS DOUBLE))
                 / CAST(exact.exact_union AS DOUBLE), 4)
             AS rel_err_union,
           CASE WHEN exact.exact_intersection > 0
                THEN round(abs(CAST(est.n_common AS DOUBLE)
                           / CAST(est.n_l AS DOUBLE) * est.est_union
                           - CAST(exact.exact_intersection AS DOUBLE))
                       / CAST(exact.exact_intersection AS DOUBLE), 4)
           END AS rel_err_intersection
    FROM exact CROSS JOIN est
    """


@register(
    "kmv_sketch_intersection",
    oracle=_kmv_sql(),
)
def kmv_sketch_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta sketch estimate of |customers active in 1996 AND in
    2000| next to the exact answer: each set keeps its k=256 smallest
    portable-hash values; the union sketch is the k smallest of the
    combined sketches with threshold theta = its max hash;
    est_union = (k-1)*M/theta (the KMV distinct-value estimator, exact
    count when the union sketch is unsaturated), and
    est_intersection = (common fraction within the union sketch) *
    est_union — the theta-sketch composition HLL cannot express.

    Exactness: hash values are exact BIGINTs; sketch membership uses
    the deterministic (h, custkey) total order so even a boundary tie
    picks the same elements on both engines; the estimates are shared-
    text double expressions over exact integers; relative errors are
    published against the exact aggregates computed from the SAME base
    relation — the certificate is in-band, so the driver hash grades
    the sketch's accuracy too.

    Scale shape: ONE fact aggregate to the per-customer membership
    relation (persisted: feeds the hash projection and the exact
    counts); sketches are TakeOrdered(k) reductions (map-side partial
    top-k, no global sort materialization — the deterministic-top-k O3
    contract); everything downstream is <= 256-row broadcast algebra."""
    orders = load_table(spark, sf_dir, "orders")
    base = (
        orders.groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.max(
                F.when(F.year("o_orderdate") == _KMV_YEAR_A, 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.year("o_orderdate") == _KMV_YEAR_B, 1).otherwise(0)
            ).alias("in_b"),
        )
        .persist()  # feeds the hash projection AND the exact counts
    )
    hashed = base.filter(
        (F.col("in_a") == 1) | (F.col("in_b") == 1)
    ).select(
        "c", "in_a", "in_b", _hash60(F.col("c"), _KMV_SALT).alias("h")
    )
    ska = (
        hashed.filter(F.col("in_a") == 1)
        .select("c", "h")
        .orderBy("h", "c")
        .limit(_KMV_K)
        .localCheckpoint()  # <= k rows; feeds L and the common probe
    )
    skb = (
        hashed.filter(F.col("in_b") == 1)
        .select("c", "h")
        .orderBy("h", "c")
        .limit(_KMV_K)
        .localCheckpoint()
    )
    l_sketch = (
        ska.union(skb)
        .distinct()
        .orderBy("h", "c")
        .limit(_KMV_K)
        .localCheckpoint()
    )
    lstats = l_sketch.agg(
        F.count(F.lit(1)).cast("long").alias("n_l"),
        F.max("h").cast("long").alias("theta"),
    )
    common = (
        l_sketch.join(ska.select("c"), "c", "left_semi")
        .join(skb.select("c"), "c", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    exact = base.agg(
        F.sum("in_a").cast("long").alias("exact_a"),
        F.sum("in_b").cast("long").alias("exact_b"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("exact_intersection"),
        F.sum(
            F.when((F.col("in_a") == 1) | (F.col("in_b") == 1), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("exact_union"),
    )
    est_union = F.when(
        F.col("n_l") < _KMV_K, F.col("n_l").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1))
        * F.lit(_KMV_M)
        / F.col("theta").cast("double")
    )
    est = (
        lstats.crossJoin(F.broadcast(common))
        .select("n_l", "theta", "n_common", est_union.alias("est_union"))
    )
    ei = (
        F.col("n_common").cast("double")
        / F.col("n_l").cast("double")
        * F.col("est_union")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersection",
        F.lit(_KMV_K).cast("int").alias("sketch_k"),
        F.col("n_l").alias("union_sketch_size"),
        "n_common",
        F.round(F.col("est_union"), 2).alias("est_union"),
        F.round(ei, 2).alias("est_intersection"),
        F.round(
            F.abs(F.col("est_union") - F.col("exact_union").cast("double"))
            / F.col("exact_union").cast("double"),
            4,
        ).alias("rel_err_union"),
        F.when(
            F.col("exact_intersection") > 0,
            F.round(
                F.abs(ei - F.col("exact_intersection").cast("double"))
                / F.col("exact_intersection").cast("double"),
                4,
            ),
        ).alias("rel_err_intersection"),
    )
