"""Placement & physical-layout audits (SURVEY.md §2 extensions) — the
operators you run BEFORE moving bytes at 100 TB: exact range-partition
balance (the rank-true twin of Spark's sampled RangePartitioner), the
consistent-hashing ring resize audit (Karger et al. 1997), and the
rendezvous/HRW placement twin (Thaler & Ravishankar 1996).

Split out of plans/profiling.py at r11 (verdict task #7: that module had
re-breached the 2,500-LoC guideline) — pure move, every plan and oracle
byte-identical; the shared 60-bit portable hash stays in plans/sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table


_RANGE_PARTS = 32


@register(
    "range_partition_balance",
    oracle=f"""
    WITH hist AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             COUNT(*) AS cnt
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT SUM(cnt) AS n FROM hist),
    cum AS (
      SELECT v, cnt,
             SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
               AS prev_cum
      FROM hist
    ),
    assigned AS (
      SELECT cnt,
             LEAST(CAST(floor(prev_cum * {_RANGE_PARTS} / tot.n) AS BIGINT),
                   {_RANGE_PARTS - 1}) + 1 AS pid
      FROM cum CROSS JOIN tot
    ),
    sizes AS (SELECT pid, SUM(cnt) AS sz FROM assigned GROUP BY pid)
    SELECT CAST(tot.n AS BIGINT) AS n_rows,
           {_RANGE_PARTS} AS n_partitions,
           CAST(COUNT(*) AS BIGINT) AS n_nonempty,
           CAST(MAX(sz) AS BIGINT) AS max_size,
           CAST(MIN(sz) AS BIGINT) AS min_size,
           ROUND(CAST(MAX(sz) AS DOUBLE) * {_RANGE_PARTS} / tot.n, 6)
             AS imbalance_factor
    FROM sizes CROSS JOIN tot
    GROUP BY tot.n
    """,
)
def range_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT audit of rank-based range partitioning on the order-value
    column: the balance a RangePartitioner would achieve with perfect
    (rank-exact, not sampled) boundaries at P=_RANGE_PARTS partitions.
    Spark plans range exchanges from reservoir samples; this certificate
    computes the true boundary assignment from the value histogram and
    reports max/min partition sizes and the imbalance factor
    (max_size x P / n — 1.0 is perfect, >>1 means a hot value pins a
    partition). The layout-planning twin of zorder_layout_key: run it
    before choosing a sort/partition column for a 100 TB table.

    The boundary math never materializes boundaries: a value-bucket's
    partition id is LEAST(floor(prev_cum x P / n), P-1) + 1 — monotone
    arithmetic over the prefix counts, so a hot value spanning several
    target ranks keeps ALL its rows in its first partition (exactly how
    ties behave in a real range exchange) and the skipped partitions
    surface as empty. All-integer except the final factor; the prefix
    window runs over the distinct-VALUE histogram (value-domain
    bounded, the wasserstein_price_drift contract).
    """
    from ecommerce_data_pipeline_spark.plans._helpers import dec

    orders = load_table(spark, sf_dir, "orders")
    hist = (
        orders.select((dec("o_totalprice") * 100).cast("long").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # consumed by the prefix-window branch AND the two tot scalars —
        # unpersisted, the fact scan + hash agg would plan three times
        .persist()
    )
    tot = hist.agg(F.sum("cnt").alias("n"))
    w_run = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "cnt", (F.sum("cnt").over(w_run) - F.col("cnt")).alias("prev_cum")
    )
    pid = (
        F.least(
            F.floor(
                F.col("prev_cum") * _RANGE_PARTS / F.col("n")
            ).cast("long"),
            F.lit(_RANGE_PARTS - 1),
        )
        + 1
    )
    sizes = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy(pid.alias("pid"))
        .agg(F.sum("cnt").alias("sz"))
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nonempty"),
            F.max("sz").cast("long").alias("max_size"),
            F.min("sz").cast("long").alias("min_size"),
            F.round(
                F.max("sz").cast("double") * _RANGE_PARTS / F.col("n"), 6
            ).alias("imbalance_factor"),
        )
        .select(
            F.col("n").cast("long").alias("n_rows"),
            F.lit(_RANGE_PARTS).alias("n_partitions"),
            "n_nonempty",
            "max_size",
            "min_size",
            "imbalance_factor",
        )
    )


# ---------------------------------------------------------------------------
# Consistent-hashing rebalance audit (r10) — the placement/layout member
# next to range_partition_balance: customers assigned to shards via a
# hash ring with virtual nodes (Karger et al. 1997, "Consistent hashing
# and random trees"), then the N -> N+1 resize replayed to measure the
# moved-key fraction against the 1/(N+1) theory bound — THE property
# that makes consistent hashing the resize-safe layout at 100 TB (a
# modulo layout moves ~N/(N+1) of all keys on resize; the ring moves
# only the slice the new shard captures).

_CHR_SHARDS = 8  # shards before the resize
_CHR_VNODES = 16  # virtual nodes per shard
_CHR_RING_SALT = "chr-ring#"
_CHR_KEY_SALT = "chr-key#"


def _chr_sql() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_hash60

    n, v = _CHR_SHARDS, _CHR_VNODES
    ring_expr = _sql_hash60(
        "CAST(g.shard AS VARCHAR) || ':' || CAST(g.vnode AS VARCHAR)",
        _CHR_RING_SALT,
    )
    key_expr = _sql_hash60("c_custkey", _CHR_KEY_SALT)

    def arcs(name: str, ring: str) -> str:
        return f"""{name} AS MATERIALIZED (
      SELECT r.shard, r.pos,
             COALESCE((SELECT MAX(r2.pos) FROM {ring} r2
                       WHERE r2.pos < r.pos), -1) AS prev_pos,
             (SELECT MAX(pos) FROM {ring}) AS max_pos
      FROM {ring} r
    )"""

    def asg(name: str, arcs_name: str) -> str:
        return f"""{name} AS MATERIALIZED (
      SELECT k.custkey, a.shard
      FROM keys k JOIN {arcs_name} a
        ON (k.kpos > a.prev_pos AND k.kpos <= a.pos)
        OR (a.prev_pos = -1 AND k.kpos > a.max_pos)
    )"""

    return f"""
    WITH grid AS (
      SELECT s.shard, v.vnode
      FROM range(0, {n + 1}) s(shard), range(0, {v}) v(vnode)
    ),
    ringpts AS MATERIALIZED (
      SELECT g.shard, g.vnode, ({ring_expr}) AS pos FROM grid g
    ),
    ring_a AS (SELECT * FROM ringpts WHERE shard < {n}),
    ring_b AS (SELECT * FROM ringpts),
    {arcs("arcs_a", "ring_a")},
    {arcs("arcs_b", "ring_b")},
    keys AS MATERIALIZED (
      SELECT c_custkey AS custkey, ({key_expr}) AS kpos FROM customer
    ),
    {asg("asg_a", "arcs_a")},
    {asg("asg_b", "arcs_b")},
    pairs AS MATERIALIZED (
      SELECT a.custkey, a.shard AS shard_a, b.shard AS shard_b
      FROM asg_a a JOIN asg_b b ON a.custkey = b.custkey
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_keys,
             CAST(COUNT(*) FILTER (shard_a <> shard_b) AS BIGINT) AS n_moved
      FROM pairs
    ),
    shard_grid AS (SELECT s.shard FROM range(0, {n + 1}) s(shard)),
    before_c AS (
      SELECT shard_a AS shard, CAST(COUNT(*) AS BIGINT) AS n_before
      FROM pairs GROUP BY shard_a
    ),
    after_c AS (
      SELECT shard_b AS shard,
             CAST(COUNT(*) AS BIGINT) AS n_after,
             CAST(COUNT(*) FILTER (shard_a <> shard_b) AS BIGINT)
               AS n_moved_in
      FROM pairs GROUP BY shard_b
    )
    SELECT g.shard,
           COALESCE(b.n_before, 0) AS n_before,
           COALESCE(a.n_after, 0) AS n_after,
           COALESCE(a.n_moved_in, 0) AS n_moved_in,
           tot.total_keys,
           tot.n_moved,
           round(CAST(tot.n_moved AS DOUBLE)
                 / CAST(tot.total_keys AS DOUBLE), 6) AS moved_frac,
           CAST({round(1.0 / (_CHR_SHARDS + 1), 6)!r} AS DOUBLE)
             AS theory_frac
    FROM shard_grid g
    LEFT JOIN before_c b ON g.shard = b.shard
    LEFT JOIN after_c a ON g.shard = a.shard
    CROSS JOIN tot
    """


@register(
    "consistent_hashing_rebalance_audit",
    oracle=_chr_sql(),
)
def consistent_hashing_rebalance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Consistent-hashing placement audit: customers assigned to 8
    shards via a 128-point hash ring (16 virtual nodes per shard,
    portable 60-bit md5 positions), then the 8 → 9 resize replayed on
    the extended 144-point ring; per shard the before/after key counts
    and arrivals, plus the global moved-key fraction against the
    1/(N+1) = 1/9 theory expectation. Pure integer ring arithmetic —
    positions and comparisons are exact BIGINTs; the ONLY float is the
    final moved_frac division (exact ints → one pinned division).

    Scale shape (r13 form): the ring is not just metadata — it is a
    PLAN-BUILD-TIME CONSTANT (md5 of "shard:vnode" + salt, data-
    independent), so each epoch's key→shard lookup compiles to one
    codegen'd sorted CASE chain over the 128/144 literal ring
    positions: shard = shard of the first position >= kpos, else the
    wrap-around owner (the smallest position's shard — identical to
    the (prev_pos, pos] arc ownership the oracle replays). The whole
    audit is then ONE projection + ONE hash aggregate to the 9x9
    (shard_a, shard_b) transition matrix; per-shard counts, arrivals
    and the moved fraction all fold from those <=81 rows. The previous
    form paid two BroadcastNestedLoopJoins (fact x 144 arcs each), two
    arc-construction self-joins, a persisted fact-shaped intermediate
    and three separate fact passes — measured same-session at sf0.1:
    3.47 s -> 0.72 s, 22 jobs -> ~5. At 100 TB the projection
    pipelines with the scan; no key-keyed shuffle exists anywhere.
    Wrap-around: keys above the max position belong to the smallest
    position's shard.
    At 100 TB this is the resize audit you run BEFORE moving bytes:
    the moved set is exactly the keys the new shard captures (~1/9),
    vs ~8/9 for a modulo layout."""
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    n, v = _CHR_SHARDS, _CHR_VNODES
    # Advisor r10: arcs are keyed on pos alone, so two ring points with
    # colliding 60-bit positions would yield duplicate (prev_pos, pos]
    # arcs and double-assign every key in that range, breaking the
    # exactly-one-owner property. Ring positions are DATA-INDEPENDENT
    # constants (md5 of "shard:vnode" + salt), so distinctness is a
    # static property of (_CHR_SHARDS, _CHR_VNODES, _CHR_RING_SALT):
    # assert it at plan-build time in pure Python — zero Spark jobs, and
    # a colliding reconfiguration fails loudly before either engine runs.
    import hashlib

    ring_positions = [
        int(
            hashlib.md5(
                f"{_CHR_RING_SALT}{s}:{vn}".encode()
            ).hexdigest()[:15],
            16,
        )
        for s in range(n + 1)
        for vn in range(v)
    ]
    assert len(set(ring_positions)) == len(ring_positions), (
        "consistent-hashing ring has colliding 60-bit positions — "
        "change _CHR_RING_SALT or the shard/vnode grid"
    )
    # plan-build-time ring lookup (see docstring): sorted CASE chain per
    # epoch — first ring position >= kpos owns the key, wrap to the
    # smallest position's shard. Built as ONE parsed SQL expression (the
    # pq_encode selectExpr rule: per-branch Column objects cost O(ring)
    # py4j round-trips at plan-build time).
    ring = sorted(
        (p, s)
        for p, (s, vn) in zip(
            ring_positions,
            ((s, vn) for s in range(n + 1) for vn in range(v)),
        )
    )

    def shard_case(pairs_sorted: list[tuple[int, int]]) -> str:
        branches = " ".join(
            f"WHEN kpos <= {p}L THEN {s}" for p, s in pairs_sorted
        )
        return f"CASE {branches} ELSE {pairs_sorted[0][1]} END"

    case_a = shard_case([(p, s) for p, s in ring if s < n])
    case_b = shard_case(ring)

    cust = load_table(spark, sf_dir, "customer")
    # kpos is projected once, then both epoch CASE chains read the
    # column; the md5 under it is cheap enough that codegen inlining
    # (the _digest CollapseProject note) costs microseconds per row —
    # no materialization barrier needed now that there is no per-arc
    # join loop to amplify it. NOTE (advisor r13): after CollapseProject
    # every CASE branch references the digest expression — one-digest-
    # per-row relies on codegen common-subexpression elimination
    # (spark.sql.subexpressionElimination.enabled, default true); if
    # that conf is ever disabled, re-add a materialization barrier here.
    pairs = cust.select(
        _hash60(F.col("c_custkey"), _CHR_KEY_SALT).alias("kpos")
    ).selectExpr(
        f"{case_a} AS shard_a",
        f"{case_b} AS shard_b",
    )
    # ONE fact pass to the <=81-row (shard_a, shard_b) transition
    # matrix; everything below folds from it (no persisted fact-shaped
    # intermediate, no repeated passes)
    matrix = pairs.groupBy("shard_a", "shard_b").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    before_c = matrix.groupBy(F.col("shard_a").alias("shard")).agg(
        F.sum("n").cast("long").alias("n_before")
    )
    after_c = matrix.groupBy(F.col("shard_b").alias("shard")).agg(
        F.sum("n").cast("long").alias("n_after"),
        F.sum(
            F.when(F.col("shard_a") != F.col("shard_b"), F.col("n")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_moved_in"),
    )
    tot = matrix.agg(
        F.sum("n").cast("long").alias("total_keys"),
        F.sum(
            F.when(F.col("shard_a") != F.col("shard_b"), F.col("n")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_moved"),
    )
    shard_grid = spark.createDataFrame(
        [(s,) for s in range(n + 1)], "shard int"
    )
    return (
        shard_grid.join(F.broadcast(before_c), "shard", "left")
        .join(F.broadcast(after_c), "shard", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "shard",
            F.coalesce(F.col("n_before"), F.lit(0)).cast("long").alias("n_before"),
            F.coalesce(F.col("n_after"), F.lit(0)).cast("long").alias("n_after"),
            F.coalesce(F.col("n_moved_in"), F.lit(0))
            .cast("long")
            .alias("n_moved_in"),
            "total_keys",
            "n_moved",
            F.round(
                F.col("n_moved").cast("double")
                / F.col("total_keys").cast("double"),
                6,
            ).alias("moved_frac"),
            F.lit(round(1.0 / (n + 1), 6)).alias("theory_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) hashing audit (r10 batch 4) — the second placement
# scheme next to consistent_hashing_rebalance_audit (Thaler & Ravishankar
# 1996, "highest random weight"): every key independently scores all N
# shards and joins the argmax, so placement needs NO ring metadata at
# all and the N -> N+1 resize moves exactly the keys the new shard
# out-scores — the same 1/(N+1) expectation as the ring, with perfect
# per-shard balance (no vnode variance). The two audits together
# document the placement trade: HRW = O(N) hashes per key, zero
# metadata, perfect balance; ring = O(1) lookup against a metadata
# relation, vnode-bounded imbalance.

_HRW_SHARDS = 8
_HRW_SALT = "hrw#"


def _hrw_sql() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_hash60

    n = _HRW_SHARDS
    scores = ", ".join(
        _sql_hash60("c_custkey", f"{_HRW_SALT}{j}:") for j in range(n + 1)
    )
    return f"""
    WITH scored AS MATERIALIZED (
      SELECT c_custkey AS custkey, [{scores}] AS sc FROM customer
    ),
    asg AS MATERIALIZED (
      SELECT custkey,
             list_indexof(sc[1:{n}], list_max(sc[1:{n}])) - 1 AS shard_a,
             list_indexof(sc, list_max(sc)) - 1 AS shard_b
      FROM scored
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_keys,
             CAST(COUNT(*) FILTER (shard_a <> shard_b) AS BIGINT) AS n_moved
      FROM asg
    ),
    shard_grid AS (SELECT s.shard FROM range(0, {n + 1}) s(shard)),
    before_c AS (
      SELECT shard_a AS shard, CAST(COUNT(*) AS BIGINT) AS n_before
      FROM asg GROUP BY shard_a
    ),
    after_c AS (
      SELECT shard_b AS shard,
             CAST(COUNT(*) AS BIGINT) AS n_after,
             CAST(COUNT(*) FILTER (shard_a <> shard_b) AS BIGINT)
               AS n_moved_in
      FROM asg GROUP BY shard_b
    )
    SELECT g.shard,
           COALESCE(b.n_before, 0) AS n_before,
           COALESCE(a.n_after, 0) AS n_after,
           COALESCE(a.n_moved_in, 0) AS n_moved_in,
           tot.total_keys,
           tot.n_moved,
           round(CAST(tot.n_moved AS DOUBLE)
                 / CAST(tot.total_keys AS DOUBLE), 6) AS moved_frac,
           CAST({round(1.0 / (_HRW_SHARDS + 1), 6)!r} AS DOUBLE)
             AS theory_frac
    FROM shard_grid g
    LEFT JOIN before_c b ON g.shard = b.shard
    LEFT JOIN after_c a ON g.shard = a.shard
    CROSS JOIN tot
    """


@register(
    "rendezvous_hashing_audit",
    oracle=_hrw_sql(),
)
def rendezvous_hashing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous/HRW placement audit: every customer scores all 9
    shards with the portable 60-bit hash and joins the highest score;
    epoch A reads the argmax over shards 0–7, epoch B over all 9 —
    computed from ONE score array per row, so the resize replay costs
    nothing extra. Emits the same per-shard relation as the ring audit
    (before/after/arrivals + global moved fraction vs 1/(N+1)).

    Exactness: scores and argmax are pure integer comparisons; ties
    break to the FIRST maximal index on both engines (Spark
    array_position and DuckDB list_indexof both return the first
    occurrence); the only float is the final moved_frac division.

    Scale shape: placement is ENTIRELY per-row — N+1 codegen'd hash
    expressions and an array argmax, no join, no metadata relation, no
    shuffle of any kind until the 9-row shard rollup (contrast the ring
    audit's broadcast-arc BNLJ: HRW trades O(N) hashes per key for
    zero lookup state and perfect balance — the standard trade at
    small-N shard counts). A pure-add resize can only move keys INTO
    the new shard (old pairwise scores are unchanged), pinned by the
    conservation pytest."""
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    n = _HRW_SHARDS
    cust = load_table(spark, sf_dir, "customer")
    arr = F.array(
        *[
            _hash60(F.col("c_custkey"), f"{_HRW_SALT}{j}:")
            for j in range(n + 1)
        ]
    )
    scored = cust.select(F.col("c_custkey").alias("custkey"), arr.alias("sc"))
    first8 = F.slice(F.col("sc"), 1, n)
    asg = scored.select(
        (F.array_position(first8, F.array_max(first8)) - 1)
        .cast("int")
        .alias("shard_a"),
        (F.array_position(F.col("sc"), F.array_max(F.col("sc"))) - 1)
        .cast("int")
        .alias("shard_b"),
    )
    # r14 (the r13 consistent-hashing lesson, guide §1.2 step 1): the
    # audit's every output folds from the (shard_a, shard_b) TRANSITION
    # MATRIX, so ONE projection + ONE hash aggregate to <= 81 rows
    # replaces the persisted fact-shaped assignment relation and its
    # THREE separate aggregation passes (tot / before_c / after_c each
    # re-read the cache; the 9 per-row hashes now run exactly once per
    # key, pipelined with the scan — no persist memory at 100 TB either).
    # localCheckpoint: the matrix feeds three consumers below; 81 rows.
    mat = (
        asg.groupBy("shard_a", "shard_b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint()
    )
    moved = F.col("shard_a") != F.col("shard_b")
    tot = mat.agg(
        F.sum("cnt").cast("long").alias("total_keys"),
        F.sum(F.when(moved, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_moved"),
    )
    before_c = mat.groupBy(F.col("shard_a").alias("shard")).agg(
        F.sum("cnt").cast("long").alias("n_before")
    )
    after_c = mat.groupBy(F.col("shard_b").alias("shard")).agg(
        F.sum("cnt").cast("long").alias("n_after"),
        F.sum(F.when(moved, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_moved_in"),
    )
    shard_grid = spark.createDataFrame(
        [(s,) for s in range(n + 1)], "shard int"
    )
    return (
        shard_grid.join(F.broadcast(before_c), "shard", "left")
        .join(F.broadcast(after_c), "shard", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "shard",
            F.coalesce(F.col("n_before"), F.lit(0))
            .cast("long")
            .alias("n_before"),
            F.coalesce(F.col("n_after"), F.lit(0))
            .cast("long")
            .alias("n_after"),
            F.coalesce(F.col("n_moved_in"), F.lit(0))
            .cast("long")
            .alias("n_moved_in"),
            "total_keys",
            "n_moved",
            F.round(
                F.col("n_moved").cast("double")
                / F.col("total_keys").cast("double"),
                6,
            ).alias("moved_frac"),
            F.lit(round(1.0 / (n + 1), 6)).alias("theory_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout key (r11) — the locality-preserving twin of
# zorder_layout_key (Hilbert 1891 curve; xy2d walk per Warren, Hacker's
# Delight §16 / the classic Wikipedia formulation): unlike Morton
# order, the Hilbert curve has NO long diagonal jumps — consecutive
# keys are always grid-adjacent — so range scans over the sorted table
# touch tighter (x, y) rectangles and parquet min/max footers prune
# better on both dimensions (measurably fewer files per box query than
# Z-order at the same file count; Faloutsos & Roseman 1989).

_HILBERT_ORDER = 8  # 8 bits/dim -> the same 256x256 domain as zorder
_HILBERT_SIDE = 1 << _HILBERT_ORDER


def _hilbert_d(x: int, y: int) -> int:
    """Pure-Python xy2d walk in the MASKED form — coordinates are
    reduced mod s after each bit is consumed, so every intermediate
    stays in [0, s) and the SQL twin's (v // s) % 2 bit tests agree
    (the canonical textbook walk lets flips go NEGATIVE, where
    Python's two's-complement `&` and SQL's truncating `%` diverge —
    probed: 218/300 cells wrong). Verified cell-for-cell identical to
    the canonical walk over the full 256x256 grid, bijective, and
    unit-step adjacent (the locality pytest re-derives all three)."""
    d = 0
    s = _HILBERT_SIDE >> 1
    while s > 0:
        rx = (x // s) % 2
        ry = (y // s) % 2
        d += s * s * ((3 * rx) ^ ry)
        x %= s
        y %= s
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def _hilbert_sql() -> str:
    """Oracle: the same walk UNROLLED as 8 chained MATERIALIZED CTE
    steps (materialization per step — the exponential-inlining guard,
    ARCHITECTURE.md §19 — and bit tests as (v // s) % 2 arithmetic, no
    engine bitwise ops). Value parity with the Spark lookup relation is
    the contract (the md5-vs-digit-polynomial precedent)."""
    ctes = [
        """b AS (
      SELECT o_orderkey,
             o_custkey % 256 AS xb,
             (CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 256 AS yb
      FROM orders
    )""",
        """h0 AS MATERIALIZED (
      SELECT o_orderkey, xb, yb, xb AS x0, yb AS y0, CAST(0 AS BIGINT) AS d0
      FROM b
    )""",
    ]
    # per-step DISTINCT column names (x{j}, y{j}, d{j}) — DuckDB lateral
    # column aliases would otherwise shadow the source column inside the
    # same SELECT list and feed the d accumulator the ALREADY-ROTATED
    # coordinates (probed: 218/300 wrong with reused names)
    for j, i in enumerate(range(_HILBERT_ORDER - 1, -1, -1), start=1):
        s = 1 << i
        p = j - 1
        rx = f"(x{p} // {s}) % 2"
        ry = f"(y{p} // {s}) % 2"
        # masked form: coordinates reduced mod s once the bit is read,
        # so flips never go negative (see _hilbert_d)
        mx = f"(x{p} % {s})"
        my = f"(y{p} % {s})"
        ctes.append(
            f"""h{j} AS MATERIALIZED (
      SELECT o_orderkey, xb, yb,
             CASE WHEN {ry} = 0 THEN
               (CASE WHEN {rx} = 1 THEN {s - 1} - {my} ELSE {my} END)
             ELSE {mx} END AS x{j},
             CASE WHEN {ry} = 0 THEN
               (CASE WHEN {rx} = 1 THEN {s - 1} - {mx} ELSE {mx} END)
             ELSE {my} END AS y{j},
             d{p} + {s * s} * (CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0
                                    WHEN {rx} = 0 AND {ry} = 1 THEN 1
                                    WHEN {rx} = 1 AND {ry} = 1 THEN 2
                                    ELSE 3 END) AS d{j}
      FROM h{j - 1}
    )"""
        )
    last = _HILBERT_ORDER
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT o_orderkey, CAST(xb AS BIGINT) AS xb, CAST(yb AS BIGINT) AS yb,
           CAST(d{last} AS BIGINT) AS hval,
           CAST(d{last} // 1024 AS BIGINT) AS file_id
    FROM h{last}
    """
    )


@register(
    "hilbert_layout_key",
    oracle=_hilbert_sql(),
)
def hilbert_layout_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over (customer, order-day) — the
    same 256x256 bucket domain and file_id = key // 1024 assignment as
    zorder_layout_key, so the two layouts are directly comparable
    file-for-file. Sorting a 100 TB fact table by hval gives every file
    a tight min/max footer in BOTH dimensions with no Morton diagonal
    jumps (consecutive Hilbert keys are always grid-adjacent — the
    locality property pinned in pytest over the full domain walk).

    Engine split (value parity, not expression parity — the
    md5/digit-polynomial precedent): an 8-step state-machine unroll as
    chained Spark selects would CollapseProject into an exponentially
    duplicated expression tree (each step references x/y 3-4 times —
    the CHR kpos lesson at the 8th power), so the Spark side instead
    materializes the curve as a CONSTANT 65,536-row (xb, yb) -> hval
    lookup relation (metadata-bounded: its size is fixed by the grid
    order whatever the corpus) and broadcast-joins the fact onto it:
    one narrow projection + one broadcast hash join, ZERO shuffle,
    unchanged at any scale. The oracle unrolls the walk as 8
    MATERIALIZED CTE steps instead (per-step materialization is the
    exponential-inlining guard).

    Exactness: the curve is pure integer arithmetic; the lookup is
    generated by the same xy2d walk the replay pytest re-derives."""
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("long").alias("xb"),
        (
            F.datediff(
                F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
            )
            % 256
        )
        .cast("long")
        .alias("yb"),
    )
    lookup = spark.createDataFrame(
        [
            (x, y, _hilbert_d(x, y))
            for x in range(_HILBERT_SIDE)
            for y in range(_HILBERT_SIDE)
        ],
        "xb long, yb long, hval long",
    )
    return b.join(F.broadcast(lookup), ["xb", "yb"]).select(
        "o_orderkey",
        "xb",
        "yb",
        "hval",
        F.floor(F.col("hval") / F.lit(1024)).cast("long").alias("file_id"),
    )
