"""Item-item collaborative filtering over the order/lineitem stream
(SURVEY.md §2 extensions — the recommendation tier an e-commerce
pipeline feeds from its fact stream).

Classic co-occurrence CF: two parts are similar when they appear in the
same orders more often than their individual popularity predicts. The
score is the cosine of the binary order-incidence vectors,
cooc(i,j) / sqrt(n_i * n_j) — counts are exact integers, sqrt/division
are single correctly-rounded IEEE ops, so the 6dp-rounded score is
bit-identical cross-engine.

Scale notes (100 TB): the pair generation is a self-equi-join on
l_orderkey — pair volume is Σ_orders m² where m is the per-order basket
size (bounded by business reality, ~single digits), never corpus².
The popularity relation is part-dimension-sized. The final ranking
window partitions by item over its candidate neighbors (≤ basket-mates
count), not a global sort. A cooc ≥ 2 support floor prunes the long
singleton tail before the join+window stages, the same support-pruning
contract as association_rules_brands.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table

_MIN_COOC = 2
_TOP_NEIGHBORS = 3


def _cf_scored_pairs(li: DataFrame) -> DataFrame:
    """Symmetric scored neighbor relation (i, j, cooc, n_i, n_j, cos_sim)
    from a distinct (l_orderkey, l_partkey) incidence relation — the
    shared model-build under item_item_cf_topk (full-corpus neighbors)
    and cf_holdout_hitrate (train-split model). Persisted inputs are the
    caller's concern; this adds its own persist on the pair relation
    (consumed by both union branches)."""
    # broadcast pinned: AQE broadcast the corpus-sized pair relation
    # instead, shuffled first or not by stats timing; pop is one row per part
    pop = F.broadcast(
        li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orders"))
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("i"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("j"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("cooc"))
        .filter(F.col("cooc") >= _MIN_COOC)
        .persist()
    )
    sym = pairs.unionByName(
        pairs.select(F.col("j").alias("i"), F.col("i").alias("j"), "cooc")
    )
    return (
        sym.join(pop.withColumnRenamed("l_partkey", "i"), "i")
        .withColumnRenamed("n_orders", "n_i")
        .join(
            pop.select(
                F.col("l_partkey").alias("j"), F.col("n_orders").alias("n_j")
            ),
            "j",
        )
        .withColumn(
            "cos_sim",
            F.round(
                F.col("cooc").cast("double")
                / F.sqrt(
                    F.col("n_i").cast("double") * F.col("n_j").cast("double")
                ),
                6,
            ),
        )
    )


@register(
    "item_item_cf_topk",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pop AS (
      SELECT l_partkey, COUNT(*) AS n_orders FROM li GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS i, b.l_partkey AS j, COUNT(*) AS cooc
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_MIN_COOC}
    ),
    sym AS (
      SELECT i, j, cooc FROM pairs
      UNION ALL
      SELECT j AS i, i AS j, cooc FROM pairs
    ),
    scored AS (
      SELECT sym.i, sym.j, sym.cooc,
             pi.n_orders AS n_i, pj.n_orders AS n_j,
             round(CAST(sym.cooc AS DOUBLE)
                   / sqrt(CAST(pi.n_orders AS DOUBLE)
                          * CAST(pj.n_orders AS DOUBLE)), 6) AS cos_sim
      FROM sym
      JOIN pop pi ON sym.i = pi.l_partkey
      JOIN pop pj ON sym.j = pj.l_partkey
    )
    SELECT i AS part_i, j AS part_j, cooc, n_i, n_j, cos_sim,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY i
                                   ORDER BY cos_sim DESC, j ASC) AS rnk
      FROM scored
    )
    WHERE rnk <= {_TOP_NEIGHBORS}
    """,
    tags=("extension", "recommendation", "join"),
)
def item_item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 co-purchased neighbors per part (_TOP_NEIGHBORS), scored by
    binary cosine over order incidence (support floor _MIN_COOC = 2).

    The basket self-join, popularity join, and ranking window all key on
    the part id, so AQE reuses one partitioning across the last two
    stages; the (orderkey-keyed) pair stage's volume is bounded by basket
    size squared per order.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # consumed by the popularity agg AND both sides of the pair
        # self-join — unpersisted, the distinct shuffle executes 3×
        .persist()
    )
    scored = _cf_scored_pairs(li)
    w = Window.partitionBy("i").orderBy(F.desc("cos_sim"), F.asc("j"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _TOP_NEIGHBORS)
        .select(
            F.col("i").alias("part_i"),
            F.col("j").alias("part_j"),
            "cooc",
            "n_i",
            "n_j",
            "cos_sim",
            "rnk",
        )
    )


# Integer-micro DCG gain table (1e6/log2(rank+1), rounded once in Python
# and inlined as LITERALS in both engines — the JL-certificate precedent
# for keeping libm out of graded arithmetic entirely). _IDCG_MICRO[m] is
# the ideal DCG for a holdout basket of m relevant items (cumulative).
_GAIN_MICRO = (1000000, 630930, 500000, 430677, 386853)
_IDCG_MICRO = (1000000, 1630930, 2130930, 2561607, 2948460)
_REC_K = 5

_SQL_GAIN_CASE = "CASE rnk " + " ".join(
    f"WHEN {r + 1} THEN {g}" for r, g in enumerate(_GAIN_MICRO)
) + " END"
_SQL_IDCG_CASE = (
    f"CASE LEAST({_REC_K}, basket) "
    + " ".join(f"WHEN {m + 1} THEN {v}" for m, v in enumerate(_IDCG_MICRO))
    + " END"
)


@register(
    "cf_holdout_hitrate",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderkey, o_custkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC,
                                         o_orderkey DESC) AS rn,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n_ord
      FROM orders
    ),
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    li_tr AS (
      SELECT li.l_orderkey, li.l_partkey
      FROM li JOIN ranked ON li.l_orderkey = ranked.o_orderkey
      WHERE rn >= 2 AND n_ord >= 2
    ),
    hist AS (
      SELECT DISTINCT ranked.o_custkey, li.l_partkey
      FROM li JOIN ranked ON li.l_orderkey = ranked.o_orderkey
      WHERE rn >= 2 AND n_ord >= 2
    ),
    pop AS (SELECT l_partkey, COUNT(*) AS n_orders FROM li_tr GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS i, b.l_partkey AS j, COUNT(*) AS cooc
      FROM li_tr a JOIN li_tr b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_MIN_COOC}
    ),
    sym AS (
      SELECT i, j, cooc FROM pairs
      UNION ALL
      SELECT j AS i, i AS j, cooc FROM pairs
    ),
    scored AS (
      SELECT sym.i, sym.j,
             CAST(round(round(CAST(sym.cooc AS DOUBLE)
                              / sqrt(CAST(pi.n_orders AS DOUBLE)
                                     * CAST(pj.n_orders AS DOUBLE)), 6)
                        * 1000000) AS BIGINT) AS cos_micro
      FROM sym
      JOIN pop pi ON sym.i = pi.l_partkey
      JOIN pop pj ON sym.j = pj.l_partkey
    ),
    recs AS (
      SELECT h.o_custkey, s.j, SUM(s.cos_micro) AS score_micro
      FROM hist h JOIN scored s ON h.l_partkey = s.i
      LEFT JOIN hist seen ON seen.o_custkey = h.o_custkey
                         AND seen.l_partkey = s.j
      WHERE seen.l_partkey IS NULL
      GROUP BY h.o_custkey, s.j
    ),
    topk AS (
      SELECT o_custkey, j, rnk FROM (
        SELECT o_custkey, j,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY score_micro DESC, j ASC) AS rnk
        FROM recs
      ) WHERE rnk <= {_REC_K}
    ),
    testb AS (
      SELECT DISTINCT ranked.o_custkey, li.l_partkey
      FROM li JOIN ranked ON li.l_orderkey = ranked.o_orderkey
      WHERE rn = 1 AND n_ord >= 2
    ),
    bs AS (SELECT o_custkey, COUNT(*) AS basket FROM testb GROUP BY 1),
    hits AS (
      SELECT t.o_custkey,
             SUM({_SQL_GAIN_CASE}) AS dcg_micro,
             COUNT(*) AS n_hits
      FROM topk t JOIN testb b ON t.o_custkey = b.o_custkey
                              AND t.j = b.l_partkey
      GROUP BY t.o_custkey
    ),
    peruser AS (
      SELECT bs.o_custkey,
             CASE WHEN coalesce(hits.n_hits, 0) > 0 THEN 1 ELSE 0 END AS hit,
             round(CAST(coalesce(hits.dcg_micro, 0) AS DOUBLE)
                   / ({_SQL_IDCG_CASE}), 6) AS ndcg
      FROM bs LEFT JOIN hits ON bs.o_custkey = hits.o_custkey
    )
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           round(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS hit_rate,
           round(list_aggregate(list_sort(list(ndcg)), 'sum') / COUNT(*), 6)
             AS mean_ndcg
    FROM peruser JOIN customer ON peruser.o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("extension", "recommendation", "backtest", "certificate"),
)
def cf_holdout_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-last-basket-out backtest of the item-item CF recommender:
    every customer's most recent order is held out, the co-occurrence
    model trains on the remainder, each customer gets top-5
    recommendations scored by SUMMED neighbor similarity over their
    train history (classic itemCF scoring), and the held-out basket
    grades them — per-segment hit-rate@5 and mean NDCG@5. This is the
    recommender twin of markov_next_event_backtest: the quality
    certificate that turns the CF model from "produces neighbors" into
    "predicts future purchases measurably better than nothing".

    Exactness: similarity mass is accumulated in INTEGER MICROS (the
    6dp-rounded cosine times 1e6 — BIGINT sums, no float order
    dependence), and the DCG gain table 1e6/log2(r+1) is rounded once
    in Python and inlined as literals in BOTH engines, so per-user DCG
    and ideal-DCG are exact integers; the only floats are the final
    per-user ndcg division (rounded 6dp) and the segment-level sorted
    folds. Scale shape: everything keys on customer or part; the
    holdout split is a partitioned window over each customer's orders,
    the scoring join fans out history x neighbors (basket-bounded), and
    the per-user ranking window sees only that user's candidates.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w_u = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    ranked = (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.row_number().over(w_u).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("o_custkey")).alias(
                "n_ord"
            ),
        )
        .filter(F.col("n_ord") >= 2)
        .persist()  # feeds the train AND test branches
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist()  # joined against both order splits
    )
    li_tr = (
        li.join(
            ranked.filter(F.col("rn") >= 2).select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .persist()  # feeds the CF model build AND the history relation
    )
    hist = li_tr.select("o_custkey", "l_partkey").distinct().persist()
    scored = _cf_scored_pairs(li_tr.select("l_orderkey", "l_partkey")).select(
        "i",
        "j",
        F.round(F.col("cos_sim") * 1e6, 0).cast("long").alias("cos_micro"),
    )
    recs = (
        hist.join(scored, hist["l_partkey"] == scored["i"])
        .groupBy("o_custkey", "j")
        .agg(F.sum("cos_micro").alias("score_micro"))
        .join(
            hist.select(
                F.col("o_custkey").alias("_cu"), F.col("l_partkey").alias("_pk")
            ),
            (F.col("o_custkey") == F.col("_cu")) & (F.col("j") == F.col("_pk")),
            "left_anti",
        )
    )
    w_rec = Window.partitionBy("o_custkey").orderBy(
        F.desc("score_micro"), F.asc("j")
    )
    topk = (
        recs.select("o_custkey", "j", F.row_number().over(w_rec).alias("rnk"))
        .filter(F.col("rnk") <= _REC_K)
    )
    testb = (
        li.join(
            ranked.filter(F.col("rn") == 1).select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .select("o_custkey", "l_partkey")
        .distinct()
        .persist()  # grades hits AND sizes the ideal DCG
    )
    bs = testb.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("basket"))
    gain = F.element_at(
        F.lit(list(_GAIN_MICRO)), F.col("rnk").cast("int")
    ).cast("long")
    hits = (
        topk.join(
            testb.withColumnRenamed("l_partkey", "j"), ["o_custkey", "j"]
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(gain).alias("dcg_micro"),
            F.count(F.lit(1)).alias("n_hits"),
        )
    )
    idcg = F.element_at(
        F.lit(list(_IDCG_MICRO)),
        F.least(F.lit(_REC_K), F.col("basket")).cast("int"),
    ).cast("long")
    peruser = bs.join(hits, "o_custkey", "left").select(
        "o_custkey",
        F.when(F.coalesce(F.col("n_hits"), F.lit(0)) > 0, 1)
        .otherwise(0)
        .alias("hit"),
        F.round(
            F.coalesce(F.col("dcg_micro"), F.lit(0)).cast("double") / idcg, 6
        ).alias("ndcg"),
    )
    return (
        peruser.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            peruser["o_custkey"] == customer["c_custkey"],
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("hit").cast("long").alias("n_hit"),
            F.round(F.sum("hit").cast("double") / F.count(F.lit(1)), 6).alias(
                "hit_rate"
            ),
            F.round(
                F.aggregate(
                    F.sort_array(F.collect_list("ndcg")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count(F.lit(1)),
                6,
            ).alias("mean_ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# nDCG@k ranking evaluation (r8 — GRADING_BACKLOG "ndcg_ranking_eval")

# Rank-discount weights 1e6/log2(rank+1) for the bounded k grid, rounded
# ONCE in Python and inlined as literals in both engines (the
# _GAIN_MICRO precedent) — libm never touches graded arithmetic.
_NDCG_K = 10
_W_MICRO = tuple(
    round(1_000_000 / _math.log2(r + 1)) for r in range(1, _NDCG_K + 1)
)
# Graded-relevance gain 2^rel − 1 for rel ∈ {0,1,2,3} (the standard
# exponential nDCG gain), as an integer lookup.
_REL_GAIN = (0, 1, 3, 7)
_NDCG_SPLIT = "1999-01-01"

_SQL_W_CASE = (
    "CASE rnk "
    + " ".join(f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_W_MICRO))
    + " END"
)
_SQL_IW_CASE = (
    "CASE irnk "
    + " ".join(f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_W_MICRO))
    + " END"
)
_SQL_REL_GAIN = (
    "CASE rel " + " ".join(f"WHEN {i} THEN {g}" for i, g in enumerate(_REL_GAIN))
    + " END"
)


@register(
    "ndcg_ranking_eval",
    oracle=f"""
    WITH seg_orders AS (
      SELECT o_orderkey, o_orderdate, c_mktsegment AS segment
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    train AS (
      SELECT segment, l_partkey,
             SUM(CAST(l_quantity AS BIGINT)) AS train_qty
      FROM lineitem JOIN seg_orders ON l_orderkey = o_orderkey
      WHERE o_orderdate < DATE '{_NDCG_SPLIT}'
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT segment, l_partkey, rnk FROM (
        SELECT segment, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY train_qty DESC,
                                           l_partkey ASC) AS rnk
        FROM train
      ) WHERE rnk <= {_NDCG_K}
    ),
    test_rel AS (
      SELECT segment, l_partkey,
             LEAST(3, COUNT(DISTINCT l_orderkey)) AS rel
      FROM lineitem JOIN seg_orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= DATE '{_NDCG_SPLIT}'
      GROUP BY 1, 2
    ),
    dcg AS (
      SELECT r.segment,
             COUNT(*) AS n_ranked,
             SUM(({_SQL_REL_GAIN.replace("rel", "coalesce(t.rel, 0)")})
                 * ({_SQL_W_CASE})) AS dcg_micro
      FROM ranked r LEFT JOIN test_rel t
        ON r.segment = t.segment AND r.l_partkey = t.l_partkey
      GROUP BY r.segment
    ),
    ideal AS (
      SELECT segment,
             COUNT(*) AS n_relevant,
             SUM(CASE WHEN irnk <= {_NDCG_K}
                      THEN ({_SQL_REL_GAIN}) * ({_SQL_IW_CASE})
                      ELSE 0 END) AS idcg_micro
      FROM (
        SELECT segment, rel,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY rel DESC, l_partkey ASC) AS irnk
        FROM test_rel
      )
      GROUP BY segment
    )
    SELECT d.segment,
           CAST(d.n_ranked AS BIGINT) AS n_ranked,
           CAST(i.n_relevant AS BIGINT) AS n_relevant,
           CAST(d.dcg_micro AS BIGINT) AS dcg_micro,
           CAST(i.idcg_micro AS BIGINT) AS idcg_micro,
           CASE WHEN i.idcg_micro > 0
                THEN round(CAST(d.dcg_micro AS DOUBLE) / i.idcg_micro, 6)
           END AS ndcg
    FROM dcg d JOIN ideal i USING (segment)
    """,
    tags=("extension", "recommendation", "evaluation"),
)
def ndcg_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 evaluation of a retrieval ranking against GRADED
    relevance — the ranking-evaluation surface cf_holdout_hitrate's
    binary-hit nDCG does not cover (VERDICT r7 task #2). The "system"
    ranks parts per market segment by pre-split sales volume (a
    popularity retriever); ground truth grades each part by its
    post-split distinct-order count capped at 3, with the standard
    exponential gain 2^rel − 1. nDCG = DCG over the system's top-10
    divided by the ideal DCG of the best possible ordering of ALL
    relevant items.

    Exactness: rank-discount weights 1e6/log2(r+1) are Python-rounded
    literals in BOTH engines (_W_MICRO); gains and relevance grades are
    integers, so DCG/IDCG are exact BIGINT sums — the only float is the
    final 6dp-rounded division. Scale shape: train/test aggregates
    shuffle on (segment, partkey); both ranking windows partition by
    segment over the part-dimension-bounded AGGREGATE (never the fact
    table), and the weight/gain grids are literal when-ladders inside
    codegen. No collects, no cartesian products."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    seg_orders = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == F.col("c_custkey"),
    ).select(
        "o_orderkey", "o_orderdate", F.col("c_mktsegment").alias("segment")
    )
    fact = li.select("l_orderkey", "l_partkey", "l_quantity").join(
        seg_orders, li["l_orderkey"] == seg_orders["o_orderkey"]
    )
    split = F.lit(_NDCG_SPLIT).cast("date")
    # ONE fact pass for both periods: conditional aggregates split
    # train/test inside a single (segment, partkey) groupBy — a group
    # with no train rows yields NULL train_qty (≡ absent from a
    # train-filtered aggregate), no test orders yields rel 0 (≡ absent
    # from test_rel). Halves the fact-side join+shuffle vs two filtered
    # aggregates — at sf0.1 the walls tie inside host noise (A/B mins
    # 1.38–1.58 s both forms), but the saved pass is the term that
    # grows with the fact table, so the one-pass shape wins at scale.
    is_train = F.col("o_orderdate") < split
    both = fact.groupBy("segment", "l_partkey").agg(
        F.sum(
            F.when(is_train, F.col("l_quantity").cast("bigint"))
        ).alias("train_qty"),
        F.least(
            F.lit(3),
            F.count_distinct(F.when(~is_train, F.col("l_orderkey"))),
        )
        .cast("int")
        .alias("rel"),
    ).persist()  # two consumers (ranking + relevance); harness-owned cleanup
    train = both.filter(F.col("train_qty").isNotNull()).select(
        "segment", "l_partkey", "train_qty"
    )
    w_rank = Window.partitionBy("segment").orderBy(
        F.desc("train_qty"), F.asc("l_partkey")
    )
    ranked = (
        train.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= _NDCG_K)
        .select("segment", "l_partkey", "rnk")
    )
    test_rel = both.filter(F.col("rel") >= 1).select(
        "segment", "l_partkey", "rel"
    )
    gain_arr = F.array(*[F.lit(g) for g in _REL_GAIN])
    w_arr = F.array(*[F.lit(w) for w in _W_MICRO])
    dcg = (
        ranked.join(test_rel, ["segment", "l_partkey"], "left")
        .select(
            "segment",
            (
                F.element_at(gain_arr, F.coalesce(F.col("rel"), F.lit(0)) + 1)
                * F.element_at(w_arr, F.col("rnk"))
            ).alias("term"),
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ranked"),
            F.sum("term").cast("long").alias("dcg_micro"),
        )
    )
    w_ideal = Window.partitionBy("segment").orderBy(
        F.desc("rel"), F.asc("l_partkey")
    )
    ideal = (
        test_rel.withColumn("irnk", F.row_number().over(w_ideal))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_relevant"),
            F.sum(
                F.when(
                    F.col("irnk") <= _NDCG_K,
                    F.element_at(gain_arr, F.col("rel") + 1)
                    * F.element_at(w_arr, F.col("irnk")),
                ).otherwise(0)
            )
            .cast("long")
            .alias("idcg_micro"),
        )
    )
    return dcg.join(ideal, "segment").select(
        "segment",
        "n_ranked",
        "n_relevant",
        "dcg_micro",
        "idcg_micro",
        F.when(
            F.col("idcg_micro") > 0,
            F.round(
                F.col("dcg_micro").cast("double") / F.col("idcg_micro"), 6
            ),
        ).alias("ndcg"),
    )
