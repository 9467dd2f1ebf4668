"""Distributed-ML primitives: Stupid-Backoff LM scoring, hashed-feature
linear classification, and a fully-relational Lloyd (k-means) step.

These close the three remaining "training-data pipeline at 100 TB"
surfaces that the corpus_mining / similarity tiers did not yet cover:

- ``stupid_backoff_trigram_score``: the canonical DISTRIBUTED language-
  model scoring scheme (Brants et al., EMNLP 2007, "Large Language
  Models in Machine Translation") — Stupid Backoff was designed
  expressly because Kneser-Ney's normalized probabilities don't shard:
  backoff with a fixed penalty needs only raw n-gram counts, which are
  one hash aggregate each. Count tables join back to the scored stream
  by n-gram key — at 100 TB every relation here is either
  vocabulary-sized (broadcastable) or hash-partitioned by n-gram.
- ``hashed_linear_classifier``: fastText-style quality-classifier
  INFERENCE over hashed unigram features. The hashing trick bounds
  model state at any corpus size (B buckets, not |vocab| weights), and
  integer-milli weights make the accumulation EXACT (BIGINT sum), so
  the only float op is the final margin division + sigmoid.
- ``kmeans_lloyd_step_certificate``: one Lloyd iteration computed
  entirely relationally (no driver-side collect, unlike IVF's bounded
  sample training in operators/ivf.py) — assignment is a broadcast
  join against the (k × dim)-row centroid relation, the re-estimate is
  one hash aggregate. This is the scale path for clustering 10^9
  embeddings where even a sample collect is unwanted.

Reference context: the reference repo (Javier009/eCommerce_Data_Pipeline)
has no ML tier at all — its analytics stop at the Redshift-Data-API
INSERTs issued by `mock_data_generation/dimension_tables_mock.py` and
`mock_data_generation/transactions_mock_data.py`. These operators are
part of the survey's extension tier (SURVEY.md §2.10), not a port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.text import tokens
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table

# One home per engine side for the portable tokenizer and the doc split
# (sketches.py docstring contract): import, don't re-declare — a drifted
# copy would silently desynchronize this module's train/test membership
# from bigram_heldout_logprob's.
from ecommerce_data_pipeline_spark.plans.corpus_mining import (  # noqa: E402
    _SQL_SPLIT80,
    _SQL_TOKENS,
)
from ecommerce_data_pipeline_spark.plans.sketches import (  # noqa: E402
    _sql_hash60,
)

_SB_ALPHA = 0.4  # Brants et al.'s fixed backoff penalty


def _train_test(spark: SparkSession, sf_dir: str):
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_b", _hash60(F.col("doc_id"), "split#") % 100
    )
    return docs.filter(F.col("_b") < 80), docs.filter(F.col("_b") >= 80)


@register(
    "stupid_backoff_trigram_score",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, {_SQL_SPLIT80} AS b FROM documents),
    tok AS (SELECT doc_id, b, {_SQL_TOKENS} AS ts FROM d),
    tri AS (SELECT doc_id, b,
                   unnest([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                           for i in generate_series(1, len(ts)-2)]) AS s
            FROM tok),
    bg AS (SELECT doc_id, b,
                  unnest([ts[i] || ' ' || ts[i+1]
                          for i in generate_series(1, len(ts)-1)]) AS s
           FROM tok),
    un AS (SELECT doc_id, b, unnest(ts) AS s FROM tok),
    c3 AS (SELECT s, count(*) AS c3 FROM tri WHERE b < 80 GROUP BY s),
    c2 AS (SELECT s, count(*) AS c2 FROM bg WHERE b < 80 GROUP BY s),
    c1 AS (SELECT s, count(*) AS c1 FROM un WHERE b < 80 GROUP BY s),
    nv AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                  CAST(count(DISTINCT s) AS DOUBLE) AS v
           FROM un WHERE b < 80),
    dt AS (SELECT doc_id, s, count(*) AS c_dt
           FROM tri WHERE b >= 80 GROUP BY doc_id, s),
    scored AS (
      SELECT dt.doc_id, dt.c_dt,
             CASE
               WHEN c3.c3 IS NOT NULL
                 THEN ln(c3.c3 / CAST(ctx.c2 AS DOUBLE))
               WHEN bo.c2 IS NOT NULL
                 THEN ln(CAST({_SB_ALPHA} AS DOUBLE)
                         * bo.c2 / CAST(w2.c1 AS DOUBLE))
               ELSE ln(CAST({_SB_ALPHA * _SB_ALPHA} AS DOUBLE)
                       * (coalesce(w3.c1, 0) + 1) / (nv.n + nv.v))
             END AS lp
      FROM dt
      LEFT JOIN c3 ON dt.s = c3.s
      LEFT JOIN c2 ctx
        ON split_part(dt.s, ' ', 1) || ' ' || split_part(dt.s, ' ', 2) = ctx.s
      LEFT JOIN c2 bo
        ON split_part(dt.s, ' ', 2) || ' ' || split_part(dt.s, ' ', 3) = bo.s
      LEFT JOIN c1 w2 ON split_part(dt.s, ' ', 2) = w2.s
      LEFT JOIN c1 w3 ON split_part(dt.s, ' ', 3) = w3.s
      CROSS JOIN nv
    )
    SELECT doc_id,
           CAST(SUM(c_dt) AS BIGINT) AS n_trigrams,
           ROUND(
             list_aggregate(list_sort(list(c_dt * lp)), 'sum') / SUM(c_dt),
             6) AS avg_logscore
    FROM scored GROUP BY doc_id
    """,
)
def stupid_backoff_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out trigram scoring under a Stupid-Backoff LM (Brants et al.
    2007) estimated on the hash-80% train split: S(w3|w1 w2) falls back
    trigram -> bigram -> add-one unigram with a fixed 0.4 penalty per
    level. The scheme's whole point is distribution-friendliness: raw
    counts only (no normalization over continuations), so the model fit
    is three hash aggregates and scoring is key-partitioned joins.

    Backoff invariant exploited for the join plan: a train trigram's
    context bigram necessarily occurs in train (c3 NOT NULL implies ctx
    c2 NOT NULL), and likewise a train bigram's first word, so the CASE
    never divides by NULL. Per-doc averaging uses the registry's
    sorted-fold float discipline (sum order fixed cross-engine); docs
    with fewer than 3 tokens contribute no trigrams and drop out, same
    as the bigram twin (corpus_mining.bigram_heldout_logprob).

    r14 measured-and-REJECTED: fusing the four tokenize passes into one
    persisted (t0, t1, t2) lead-window relation (guide §2.4). Rows
    identical, but interleaved A/B at sf0.1 went 2.14 s -> 3.07 s: the
    persist SERIALIZES a pass Spark otherwise runs as four concurrent
    subtree stages on idle cores, and the n=2/unigram passes are
    cheaper than the shared n=3 window. On a saturated cluster the
    shared pass would read fewer scan bytes (not measured).
    """
    from ecommerce_data_pipeline_spark.operators.similarity import shingle_rows

    train, test = _train_test(spark, sf_dir)
    tri_train = (
        shingle_rows(train, n=3, distinct=False)
        .withColumnsRenamed({"id": "doc_id"})
    )
    bg_train = (
        shingle_rows(train, n=2, distinct=False)
        .withColumnsRenamed({"id": "doc_id"})
    )
    un_train = train.select(
        "doc_id", F.explode(tokens("text")).alias("s")
    ).persist()  # feeds unigram counts AND the N/V scalar
    c3 = tri_train.groupBy("s").agg(F.count(F.lit(1)).alias("c3"))
    c2 = bg_train.groupBy("s").agg(F.count(F.lit(1)).alias("c2"))
    c1 = un_train.groupBy("s").agg(F.count(F.lit(1)).alias("c1"))
    nv = un_train.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count_distinct("s").cast("double").alias("v"),
    )
    dt = (
        shingle_rows(test, n=3, distinct=False)
        .withColumnsRenamed({"id": "doc_id"})
        .groupBy("doc_id", "s")
        .agg(F.count(F.lit(1)).alias("c_dt"))
    )
    part = lambda i: F.split_part(F.col("s"), F.lit(" "), F.lit(i))  # noqa: E731
    joined = (
        dt.withColumn("w1", part(1))
        .withColumn("w2", part(2))
        .withColumn("w3", part(3))
        .join(c3, "s", "left")
        .join(
            c2.select(F.col("s").alias("_ctx"), F.col("c2").alias("c2_ctx")),
            F.concat_ws(" ", "w1", "w2") == F.col("_ctx"),
            "left",
        )
        .join(
            c2.select(F.col("s").alias("_bo"), F.col("c2").alias("c2_bo")),
            F.concat_ws(" ", "w2", "w3") == F.col("_bo"),
            "left",
        )
        .join(
            c1.select(F.col("s").alias("_w2"), F.col("c1").alias("c1_w2")),
            F.col("w2") == F.col("_w2"),
            "left",
        )
        .join(
            c1.select(F.col("s").alias("_w3"), F.col("c1").alias("c1_w3")),
            F.col("w3") == F.col("_w3"),
            "left",
        )
        .crossJoin(F.broadcast(nv))
    )
    lp = (
        F.when(
            F.col("c3").isNotNull(),
            F.log(F.col("c3") / F.col("c2_ctx").cast("double")),
        )
        .when(
            F.col("c2_bo").isNotNull(),
            F.log(F.lit(_SB_ALPHA) * F.col("c2_bo") / F.col("c1_w2").cast("double")),
        )
        .otherwise(
            F.log(
                F.lit(_SB_ALPHA * _SB_ALPHA)
                * (F.coalesce(F.col("c1_w3"), F.lit(0)) + 1)
                / (F.col("n") + F.col("v"))
            )
        )
    )
    return (
        joined.select("doc_id", "c_dt", (F.col("c_dt") * lp).alias("term"))
        .groupBy("doc_id")
        .agg(
            F.sum("c_dt").cast("long").alias("n_trigrams"),
            F.round(
                F.aggregate(
                    F.sort_array(F.collect_list("term")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.sum("c_dt"),
                6,
            ).alias("avg_logscore"),
        )
    )


# --- hashed-feature linear classifier (fastText-style inference) ----------

_FTX_B = 256  # feature buckets: model state is B weights at ANY corpus size
_FTX_SALT = "ftx1#"
# Deterministic integer-milli weights derived from the bucket id via a
# Knuth multiplicative mix — stands in for trained weights (no model file
# in the sandbox) while keeping inference arithmetic EXACT and portable.
_FTX_MIX = 2654435761


def _sql_bucket_poly() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_poly

    return _sql_poly("h")


def _ftx_w_milli(term_col) -> "F.Column":
    """Integer-milli weight of one token occurrence (shared by the
    classifier and its calibration audit — one home for the
    hash-bucket->weight construction)."""
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    b = _hash60(term_col, _FTX_SALT) % _FTX_B
    return (b * F.lit(_FTX_MIX)) % 2001 - 1000


def _ftx_prob(margin_col, n_col) -> "F.Column":
    """6dp sigmoid of the normalized margin (shared float chain — both
    consumers must round the SAME expression for cross-query parity)."""
    raw = margin_col.cast("double") / (1000.0 * n_col)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)), 6)


# SQL twins of _ftx_w_milli/_ftx_prob — one home per fragment, mirroring
# the Python helpers, so the classifier and its calibration audit can
# never desynchronize their weight or sigmoid chains.
_SQL_FTX_W = f"(b * {_FTX_MIX}) % 2001 - 1000"
_SQL_FTX_PROB = (
    "ROUND(1.0 / (1.0 + exp(-(CAST(SUM(w_milli) AS DOUBLE)"
    " / (1000.0 * COUNT(*))))), 6)"
)


def _sql_ftx_perdoc() -> str:
    """Shared CTE chain ending at perdoc(doc_id, lang, prob) — one home
    for the per-doc probability scaffold both calibration audits build
    their oracles on."""
    return f"""tok AS (
      SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    h AS (SELECT doc_id, lang, md5('{_FTX_SALT}' || term) AS h FROM tok),
    feat AS (SELECT doc_id, lang, ({_sql_bucket_poly()}) % {_FTX_B} AS b FROM h),
    w AS (SELECT doc_id, lang, {_SQL_FTX_W} AS w_milli FROM feat),
    perdoc AS (
      SELECT doc_id, lang, {_SQL_FTX_PROB} AS prob
      FROM w GROUP BY doc_id, lang
    )"""


def _ftx_doc_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, prob) per scored document — the Spark twin of
    _sql_ftx_perdoc(), shared by the reliability bins and the isotonic
    recalibration."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(tokens("text")).alias("term"))
    return (
        tok.select(
            "doc_id", "lang", _ftx_w_milli(F.col("term")).alias("w_milli")
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w_milli").alias("margin_milli"),
        )
        .select(
            "lang",
            _ftx_prob(F.col("margin_milli"), F.col("n_tokens")).alias("prob"),
        )
    )


@register(
    "hashed_linear_classifier",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    h AS (SELECT doc_id, md5('{_FTX_SALT}' || term) AS h FROM tok),
    feat AS (SELECT doc_id, ({_sql_bucket_poly()}) % {_FTX_B} AS b FROM h),
    w AS (SELECT doc_id, {_SQL_FTX_W} AS w_milli FROM feat)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(w_milli) AS BIGINT) AS margin_milli,
           {_SQL_FTX_PROB} AS prob_keep,
           SUM(w_milli) > 0 AS predicted_keep
    FROM w GROUP BY doc_id
    """,
)
def hashed_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality-classifier INFERENCE over hashed
    unigram features (Joulin et al. 2017's hashing trick): each token
    hashes into one of B=256 buckets via the engine's portable
    md5-polynomial, each bucket carries a deterministic integer-milli
    weight (a Knuth multiplicative mix of the bucket id — the stand-in
    for trained weights, which don't exist in this sandbox), and a doc's
    margin is the EXACT BIGINT sum of its tokens' weights. The only
    float ops are the final margin normalization (one division) and the
    sigmoid, rounded to 6dp — no order-dependent float accumulation
    anywhere, so the oracle hash-matches bit-wise.

    At 100 TB this is one hash aggregate over the token stream; the
    "model" is B integers regardless of vocabulary size — the entire
    reason the hashing trick is the production norm for corpus-scale
    quality filters (CCNet, fastText lid.176).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    per_doc = (
        tok.select("doc_id", _ftx_w_milli(F.col("term")).alias("w_milli"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("w_milli").cast("long").alias("margin_milli"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "margin_milli",
        _ftx_prob(F.col("margin_milli"), F.col("n_tokens")).alias("prob_keep"),
        (F.col("margin_milli") > 0).alias("predicted_keep"),
    )


# --- split-conformal prediction intervals ----------------------------------

_CP_ALPHA = 0.1  # nominal miscoverage: 90% intervals
_CP_SALT = "conf1#"


def _sql_cp_bucket() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_hash60

    return f"(({_sql_hash60('o_orderkey', _CP_SALT)}) % 100)"


_SQL_CP_BUCKET = _sql_cp_bucket()


@register(
    "conformal_interval_coverage",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_totalprice, c_mktsegment AS segment,
             {_SQL_CP_BUCKET} AS bkt
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    mu AS (
      SELECT segment,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS mu,
             COUNT(*) AS n_train
      FROM o WHERE bkt < 60 GROUP BY segment
    ),
    cal AS (
      SELECT o.segment, abs(o.o_totalprice - mu.mu) AS r, o.o_orderkey
      FROM o JOIN mu ON o.segment = mu.segment
      WHERE bkt >= 60 AND bkt < 80
    ),
    q AS (
      SELECT segment, n_cal, r AS q_hat
      FROM (
        SELECT segment, r, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY r, o_orderkey) AS k,
               COUNT(*) OVER (PARTITION BY segment) AS n_cal
        FROM cal
      )
      WHERE k = LEAST(CAST(ceil({1.0 - _CP_ALPHA} * (n_cal + 1)) AS BIGINT),
                      n_cal)
    ),
    test AS (
      SELECT o.segment,
             CASE WHEN abs(o.o_totalprice - mu.mu) <= q.q_hat
                  THEN 1 ELSE 0 END AS hit
      FROM o
      JOIN mu ON o.segment = mu.segment
      JOIN q ON o.segment = q.segment
      WHERE bkt >= 80
    )
    SELECT test.segment,
           MAX(mu.n_train) AS n_train,
           MAX(q.n_cal) AS n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(MAX(q.q_hat), 6) AS q_hat,
           ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS coverage
    FROM test
    JOIN mu ON test.segment = mu.segment
    JOIN q ON test.segment = q.segment
    GROUP BY test.segment
    """,
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al.; Lei et al. 2018)
    around a per-segment mean-price predictor, with realized test
    coverage — the distribution-free uncertainty-quantification primitive
    a prediction service wraps around ANY point model. Three disjoint
    hash splits of orders (train 60 / calibration 20 / test 20, the
    engine's portable md5-polynomial so membership is stable as data
    grows): the train split fits the predictor (exact-decimal sum / one
    double division), the calibration split takes q_hat = the
    ceil((1-alpha)(n+1))-th SMALLEST absolute residual (rank-exact, id
    tiebreak — no float quantile interpolation to diverge cross-engine),
    and the test split reports the fraction covered by prediction +/-
    q_hat.

    Scale shape: the residual rank runs as a window partitioned by
    segment — each partition is one segment's calibration slice, never
    the corpus; everything else is hash aggregates and broadcastable
    (segments x 1)-row model joins. Conformal guarantee: coverage
    concentrates on >= 90% (up to split randomness), which the pytest
    pins with a tolerance band.
    """
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    o = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .select(
            "o_orderkey",
            "o_totalprice",
            F.col("c_mktsegment").alias("segment"),
            (_hash60(F.col("o_orderkey"), _CP_SALT) % 100).alias("bkt"),
        )
    )
    mu = (
        o.filter(F.col("bkt") < 60)
        .groupBy("segment")
        .agg(
            (
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mu"),
            F.count(F.lit(1)).alias("n_train"),
        )
    )
    resid = F.abs(F.col("o_totalprice") - F.col("mu"))
    cal = (
        o.filter((F.col("bkt") >= 60) & (F.col("bkt") < 80))
        .join(F.broadcast(mu), "segment")
        .select("segment", resid.alias("r"), "o_orderkey")
    )
    w = Window.partitionBy("segment").orderBy("r", "o_orderkey")
    k_target = F.ceil(F.lit(1.0 - _CP_ALPHA) * (F.col("n_cal") + 1)).cast("long")
    q = (
        cal.select(
            "segment",
            "r",
            F.row_number().over(w).alias("k"),
            F.count(F.lit(1)).over(Window.partitionBy("segment")).alias("n_cal"),
        )
        # clamp to n_cal: a tiny calibration slice (k_target > n_cal)
        # degrades to the max residual instead of silently DROPPING the
        # segment through the downstream inner joins
        .filter(F.col("k") == F.least(k_target, F.col("n_cal")))
        .select("segment", "n_cal", F.col("r").alias("q_hat"))
    )
    hit = F.when(resid <= F.col("q_hat"), 1).otherwise(0)
    return (
        o.filter(F.col("bkt") >= 80)
        .join(F.broadcast(mu), "segment")
        .join(F.broadcast(q), "segment")
        .groupBy("segment")
        .agg(
            F.max("n_train").alias("n_train"),
            F.max("n_cal").alias("n_cal"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.round(F.max("q_hat"), 6).alias("q_hat"),
            F.round(F.sum(hit).cast("double") / F.count(F.lit(1)), 6).alias(
                "coverage"
            ),
        )
    )


# --- fully-relational Lloyd step -------------------------------------------


@register(
    "kmeans_lloyd_step_certificate",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label, CAST(i AS INT) - 1 AS pos,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cent AS (SELECT label AS cluster_id, pos, avg(val) AS m
             FROM ex GROUP BY label, pos),
    d2 AS (SELECT e.vec_id, c.cluster_id,
                  round(SUM((e.val - c.m) * (e.val - c.m)), 6) AS d2r
           FROM ex e JOIN cent c ON e.pos = c.pos
           GROUP BY e.vec_id, c.cluster_id),
    assign AS (
      SELECT vec_id, cluster_id
      FROM d2
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2r, cluster_id) = 1
    ),
    newc AS (SELECT a.cluster_id, e.pos, avg(e.val) AS m2,
                    count(DISTINCT e.vec_id) AS n
             FROM assign a JOIN ex e ON a.vec_id = e.vec_id
             GROUP BY a.cluster_id, e.pos)
    SELECT newc.cluster_id,
           CAST(MAX(newc.n) AS BIGINT) AS n_assigned,
           array_to_string(
             list(printf('%.6f', round(newc.m2, 6)) ORDER BY newc.pos),
             ',') AS centroid,
           ROUND(SUM((newc.m2 - cent.m) * (newc.m2 - cent.m)), 6)
             AS shift_sq
    FROM newc JOIN cent ON newc.cluster_id = cent.cluster_id
                       AND newc.pos = cent.pos
    GROUP BY newc.cluster_id
    """,
)
def kmeans_lloyd_step_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) iteration computed ENTIRELY relationally — the
    certificate that clustering scales past what IVF's bounded sample
    collect (operators/ivf.py:27) covers. Init = per-label centroids
    (k=10 from the label column, same relation as
    embedding_label_centroids); assign = nearest centroid by squared L2
    (distance rounded to 6dp, centroid-id tiebreak — deterministic
    cross-engine); re-estimate = per-(cluster,pos) mean. Output per
    cluster: size, the new centroid (fixed-format %.6f CSV, precedent:
    embedding_label_centroids), and the squared centroid shift — the
    convergence measure a driver loop would test.

    Plan shape at scale: the exploded stream shuffles once by pos-join
    against the (k x dim)-row broadcast centroid relation, distances are
    one hash aggregate keyed (vec_id, cluster), the argmin another, the
    re-estimate a third. No driver-side state beyond the plan itself —
    clusterings of 10^9 vectors run exactly this DAG per iteration.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double")).persist()
    cent = ex.groupBy(F.col("label").alias("cluster_id"), "pos").agg(
        F.avg("val").alias("m")
    )
    diff = F.col("val") - F.col("m")
    d2 = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "cluster_id")
        .agg(F.round(F.sum(diff * diff), 6).alias("d2r"))
    )
    assign = d2.groupBy("vec_id").agg(
        F.min(F.struct("d2r", "cluster_id")).getField("cluster_id").alias(
            "cluster_id"
        )
    )
    newc = (
        assign.join(ex, "vec_id")
        .groupBy("cluster_id", "pos")
        .agg(
            F.avg("val").alias("m2"),
            F.count_distinct("vec_id").alias("n"),
        )
    )
    return (
        newc.join(cent, ["cluster_id", "pos"])
        .groupBy("cluster_id")
        .agg(
            F.max("n").cast("long").alias("n_assigned"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m2"))),
                    lambda s: F.format_string("%.6f", F.round(s["m2"], 6)),
                ),
            ).alias("centroid"),
            F.round(
                F.sum((F.col("m2") - F.col("m")) * (F.col("m2") - F.col("m"))),
                6,
            ).alias("shift_sq"),
        )
    )


_CAL_BINS = 10
_CAL_POS_LANG = "en"


@register(
    "classifier_calibration_bins",
    oracle=f"""
    WITH {_sql_ftx_perdoc()}
    SELECT LEAST(CAST(floor(prob * 10) AS INT), {_CAL_BINS - 1}) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(ROUND(prob * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / COUNT(*), 6) AS avg_confidence,
           ROUND(CAST(SUM(CASE WHEN lang = '{_CAL_POS_LANG}' THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS frac_positive
    FROM perdoc
    GROUP BY 1
    """,
)
def classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the hashed linear classifier: documents
    bucketed by predicted keep-probability into 10 confidence bins, each
    bin reporting its mean confidence vs the observed positive rate
    (positive := lang = 'en', the deterministic stand-in label). The
    calibration audit every production quality filter ships with — a
    well-calibrated filter's (avg_confidence, frac_positive) pairs sit
    on the diagonal; the gap is the reliability term of the Brier
    decomposition.

    Shares the classifier's exact arithmetic via _ftx_w_milli/_ftx_prob
    (BIGINT margins, one sigmoid rounded 6dp), so both engines bin
    IDENTICAL doubles — floor(prob*10) cannot straddle engines. One
    extra hash aggregate over the per-doc relation; bins are 10 rows at
    any corpus size.
    """
    perdoc = _ftx_doc_probs(spark, sf_dir)
    bin_ = F.least(
        F.floor(F.col("prob") * 10).cast("int"), F.lit(_CAL_BINS - 1)
    )
    pos = F.when(F.col("lang") == _CAL_POS_LANG, 1).otherwise(0)
    # integer-micro mean, NOT a collect_list fold: prob is already
    # 6dp-rounded, so round(prob*1e6) is an exact BIGINT per doc and the
    # per-bin state is O(1) — a list fold would buffer a corpus-sized
    # array in the densest bin
    micro = F.round(F.col("prob") * 1e6, 0).cast("long")
    return perdoc.groupBy(bin_.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum(micro).cast("double")
            / F.lit(1000000.0)
            / F.count(F.lit(1)),
            6,
        ).alias("avg_confidence"),
        F.round(F.sum(pos).cast("double") / F.count(F.lit(1)), 6).alias(
            "frac_positive"
        ),
    )


@register(
    "classifier_isotonic_recalibration",
    # PAV minimax closed form over the 2dp-binned prob domain (<=101
    # points by construction) — the discount_response_isotonic oracle
    # pattern applied to classifier calibration.
    oracle=f"""
    WITH {_sql_ftx_perdoc()},
    pts AS (
      SELECT round(prob, 2) AS x,
             CAST(SUM(CASE WHEN lang = '{_CAL_POS_LANG}' THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) AS y,
             CAST(COUNT(*) AS DOUBLE) AS w
      FROM perdoc GROUP BY 1
    ),
    iv AS (
      SELECT j.x AS xj, k.x AS xk, sum(p.y * p.w) / sum(p.w) AS m
      FROM pts j
      JOIN pts k ON k.x >= j.x
      JOIN pts p ON p.x >= j.x AND p.x <= k.x
      GROUP BY j.x, k.x
    ),
    inner_min AS (
      SELECT i.x AS xi, iv.xj, min(iv.m) AS mn
      FROM iv JOIN pts i ON iv.xj <= i.x AND iv.xk >= i.x
      GROUP BY i.x, iv.xj
    ),
    fit AS (SELECT xi AS x, max(mn) AS y_fit FROM inner_min GROUP BY xi)
    SELECT round(p.x, 2) AS prob_bin,
           CAST(p.w AS BIGINT) AS n_docs,
           round(p.y, 6) AS frac_positive,
           round(f.y_fit, 6) AS calibrated
    FROM pts p JOIN fit f ON f.x = p.x
    """,
)
def classifier_isotonic_recalibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic (PAV) recalibration curve for the hashed linear
    classifier: raw keep-probabilities binned to 2dp, each bin's
    observed positive rate fitted with the least-squares NON-DECREASING
    curve — the standard post-hoc calibrator (Zadrozny-Elkan 2002) that
    turns a discriminative score into a usable probability, and the
    actionable sequel to classifier_calibration_bins' diagnostic view.

    Same split of labor as discount_response_isotonic: the corpus
    reduces map-side to <=101 (bin, rate, weight) points, PAV runs as a
    grouped-map over that bounded relation (operators/calibration.py —
    the Python stage NEVER sees corpus-sized data), and the oracle
    grades the fit through PAV's minimax closed form. Monotonicity and
    weighted-mean preservation are pinned in pytest.
    """
    from ecommerce_data_pipeline_spark.operators.calibration import (
        isotonic_fit_per_group,
    )

    perdoc = _ftx_doc_probs(spark, sf_dir)
    pos = F.when(F.col("lang") == _CAL_POS_LANG, 1).otherwise(0)
    pts = (
        perdoc.groupBy(F.round("prob", 2).alias("x"))
        .agg(
            (F.sum(pos).cast("double") / F.count(F.lit(1))).alias("y"),
            F.count(F.lit(1)).cast("double").alias("w"),
        )
        .withColumn("_g", F.lit(1))
    )
    fit = isotonic_fit_per_group(
        pts, group_col="_g", x_col="x", y_col="y", weight_col="w"
    )
    return fit.select(
        F.round("x", 2).alias("prob_bin"),
        F.col("w").cast("long").alias("n_docs"),
        F.round("y", 6).alias("frac_positive"),
        F.round("y_fit", 6).alias("calibrated"),
    )


@register(
    "classifier_auc_gini",
    oracle=f"""
    WITH {_sql_ftx_perdoc()},
    hist AS (
      SELECT prob AS v,
             SUM(CASE WHEN lang = '{_CAL_POS_LANG}' THEN 1 ELSE 0 END)
               AS a_cnt,
             SUM(CASE WHEN lang = '{_CAL_POS_LANG}' THEN 0 ELSE 1 END)
               AS b_cnt
      FROM perdoc GROUP BY prob
    ),
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
             SUM(CAST(a_cnt AS HUGEINT)
                 * (2 * prev_cum + t + 1)) AS r1_x2
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos,
           CAST(n2 AS BIGINT) AS n_neg,
           ROUND(CAST(r1_x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
                 / (2.0 * CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE)), 6)
             AS auc,
           ROUND(CAST(r1_x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
                 / (CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE)) - 1.0, 6)
             AS gini
    FROM agg
    """,
)
def classifier_auc_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC and Gini coefficient of the hashed classifier against the
    lang='en' stand-in label — the DISCRIMINATION metric completing the
    calibration pair (reliability bins + isotonic curve measure whether
    probabilities mean what they say; AUC measures whether the score
    ORDERS positives above negatives at all). AUC is the Mann-Whitney U
    normalized by n_pos*n_neg, so the mannwhitney_u_test machinery
    applies verbatim: doubled integer midranks over the score-value
    histogram make the rank sum exact (ties get midrank credit — the
    standard tie-aware AUC), with ONE double division at the end; Gini
    = 2*AUC - 1 from the same exact numerator. The prefix window runs
    over distinct 6dp scores (value-domain bounded).
    """
    perdoc = _ftx_doc_probs(spark, sf_dir)
    pos = F.when(F.col("lang") == _CAL_POS_LANG, 1).otherwise(0)
    hist = perdoc.groupBy(F.col("prob").alias("v")).agg(
        F.sum(pos).alias("a_cnt"),
        F.sum(1 - pos).alias("b_cnt"),
    )
    w_prev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    t = F.col("a_cnt") + F.col("b_cnt")
    cum = hist.select(
        "a_cnt",
        t.alias("t"),
        F.coalesce(F.sum(t).over(w_prev), F.lit(0)).alias("prev_cum"),
    )
    agg = cum.agg(
        F.sum("a_cnt").alias("n1"),
        (F.sum("t") - F.sum("a_cnt")).alias("n2"),
        F.sum(
            F.col("a_cnt").cast("decimal(38,0)")
            * (2 * F.col("prev_cum") + F.col("t") + 1)
        ).alias("r1_x2"),
    )
    u_x2 = F.col("r1_x2") - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
    denom = (F.col("n1").cast("decimal(38,0)") * F.col("n2")).cast("double")
    return agg.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n2").cast("long").alias("n_neg"),
        F.round(u_x2.cast("double") / (F.lit(2.0) * denom), 6).alias("auc"),
        F.round(u_x2.cast("double") / denom - F.lit(1.0), 6).alias("gini"),
    )


@register(
    "stratified_kfold_assignment",
    # Fold id comes from the portable 60-bit md5 polynomial
    # (plans/sketches._hash60 ≡ _sql_hash60): deterministic, stable as
    # the corpus grows (a doc's fold never changes when neighbours
    # arrive), and bit-identical in both engines. Output is the
    # (stratum × fold) audit grid — shares are single exact divisions.
    oracle=f"""
    WITH folds AS (
      SELECT lang,
             CAST(({_sql_hash60('doc_id', 'kfold#')}) % 5 AS INT) AS fold
      FROM documents
    ),
    grid AS (
      SELECT lang, fold, COUNT(*) AS n_docs
      FROM folds GROUP BY 1, 2
    ),
    totals AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_total
               FROM grid GROUP BY lang)
    SELECT g.lang, g.fold, g.n_docs, t.lang_total,
           round(g.n_docs * 1.0 / t.lang_total, 6) AS fold_share,
           round(g.n_docs * 5.0 / t.lang_total, 6) AS balance_vs_uniform
    FROM grid g JOIN totals t USING (lang)
    """,
)
def stratified_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based 5-fold cross-validation assignment,
    stratified per language, with the balance audit a practitioner reads
    before trusting the folds (balance_vs_uniform ≈ 1.0 everywhere, or
    the hash is biased / a stratum is too small to stratify).

    Complements hash_split_train_test (single 80/20 split) and
    leakage_safe_split (cluster-aware): k-fold is the model-selection
    split. Fold assignment is embarrassingly parallel (one hash per
    row); the audit is two metadata-scale hash aggs. At 100 TB the fold
    column is what you'd persist next to the data — recomputable from
    doc_id alone."""
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    docs = load_table(spark, sf_dir, "documents")
    grid = (
        docs.select(
            "lang",
            (_hash60(F.col("doc_id"), "kfold#") % 5).cast("int").alias("fold"),
        )
        .groupBy("lang", "fold")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    totals = grid.groupBy("lang").agg(
        F.sum("n_docs").cast("bigint").alias("lang_total")
    )
    return grid.join(F.broadcast(totals), "lang").select(
        "lang",
        "fold",
        "n_docs",
        "lang_total",
        F.round(F.col("n_docs") / F.col("lang_total"), 6).alias("fold_share"),
        F.round(F.col("n_docs") * 5.0 / F.col("lang_total"), 6).alias(
            "balance_vs_uniform"
        ),
    )


# ---------------------------------------------------------------------------
# Robust regression: Huber IRLS, 2 unrolled reweighting rounds after OLS
# (r8 — GRADING_BACKLOG "robust_regression_huber_irls")

_HUB_C = 100_000.0  # Huber delta in cents ($1000) — fixed, not data-derived
_HUB_SPLIT_NUM = 1000.0 * _HUB_C  # w_milli numerator, folded once in Python


def _sql_huber_fit(m: str) -> str:
    """Fit (slope, intercept) from a moments CTE ``m`` carrying DOUBLE
    columns (sw, sx, sy, sxx, sxy) — the one textual home for the
    normal-equation expression so BOTH rounds and BOTH engines share the
    exact operation order (IEEE determinism depends on it).

    The denominator sw·sxx − sx² is wrapped in NULLIF (advisor r8): a
    brand whose line items all share one quantity has zero x-variance,
    where Spark's Divide returns NULL but DuckDB's double division
    returns ±inf — an engine-divergent degenerate. NULLIF makes the
    degenerate brand NULL on both sides (the Spark twin guards with
    when(denom != 0); NULL then propagates through a and the reweight
    rounds identically). Unreachable with TPC-H quantities at graded
    SFs — the guard pins the contract, not a live case."""
    denom = f"NULLIF({m}.sw * {m}.sxx - {m}.sx * {m}.sx, 0)"
    return f"""
      SELECT p_brand,
             ({m}.sw * {m}.sxy - {m}.sx * {m}.sy)
               / {denom} AS b,
             ({m}.sy - ({m}.sw * {m}.sxy - {m}.sx * {m}.sy)
                       / {denom} * {m}.sx)
               / {m}.sw AS a
      FROM {m}
    """


@register(
    "robust_regression_huber_irls",
    oracle=f"""
    WITH base AS (
      SELECT p_brand,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    m0 AS (
      SELECT p_brand,
             CAST(COUNT(*) AS DOUBLE) AS sw,
             CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(x * y) AS BIGINT) AS DOUBLE) AS sxy,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM base GROUP BY p_brand
    ),
    f0 AS ({_sql_huber_fit("m0")}),
    r1 AS (
      SELECT base.p_brand, x, y,
             CASE WHEN abs(y - f0.a - f0.b * x) <= {_HUB_C!r} THEN 1000
                  ELSE CAST(round({_HUB_SPLIT_NUM!r}
                                  / abs(y - f0.a - f0.b * x)) AS BIGINT)
             END AS w
      FROM base JOIN f0 ON base.p_brand = f0.p_brand
    ),
    m1 AS (
      SELECT p_brand,
             CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) AS sw,
             CAST(CAST(SUM(w * x) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(w * y) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(w * x * x) AS BIGINT) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(w * x * y) AS BIGINT) AS DOUBLE) AS sxy
      FROM r1 GROUP BY p_brand
    ),
    f1 AS ({_sql_huber_fit("m1")}),
    r2 AS (
      SELECT base.p_brand, x, y,
             CASE WHEN abs(y - f1.a - f1.b * x) <= {_HUB_C!r} THEN 1000
                  ELSE CAST(round({_HUB_SPLIT_NUM!r}
                                  / abs(y - f1.a - f1.b * x)) AS BIGINT)
             END AS w
      FROM base JOIN f1 ON base.p_brand = f1.p_brand
    ),
    m2 AS (
      SELECT p_brand,
             CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) AS sw,
             CAST(CAST(SUM(w * x) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(w * y) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(w * x * x) AS BIGINT) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(w * x * y) AS BIGINT) AS DOUBLE) AS sxy,
             CAST(SUM(w) AS BIGINT) AS sum_w_milli,
             CAST(COUNT(*) FILTER (w < 1000) AS BIGINT) AS n_downweighted
      FROM r2 GROUP BY p_brand
    ),
    f2 AS ({_sql_huber_fit("m2")})
    SELECT m0.p_brand,
           m0.n AS n_rows,
           round(f0.b, 4) AS slope_ols,
           round(f0.a, 2) AS intercept_ols,
           round(f2.b, 4) AS slope_huber,
           round(f2.a, 2) AS intercept_huber,
           m2.sum_w_milli,
           m2.n_downweighted
    FROM m0
    JOIN f0 ON m0.p_brand = f0.p_brand
    JOIN f2 ON m0.p_brand = f2.p_brand
    JOIN m2 ON m0.p_brand = m2.p_brand
    """,
)
def robust_regression_huber_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand robust linear regression of line-item price (cents) on
    quantity via Huber IRLS — ordinary least squares, then TWO unrolled
    reweighting rounds where each row's weight is the Huber
    min(1, c/|residual|) (c = $1000, fixed): outlier rows lose influence
    instead of dragging the slope, the standard robust alternative to
    OLS on heavy-tailed spend data. Fixed round count ⇒ a chained-CTE
    oracle (the attribution_markov precedent); IRLS converges
    geometrically, so 2 rounds is the documented production setting, not
    a truncation artifact.

    Exactness discipline: raw AND weighted moments accumulate as exact
    BIGINT sums (x ≤ 50, y ≤ 1.1e7 cents, w ≤ 1000 milli — per-brand
    bound ≈ 5.5e11·n, BIGINT-safe through ~sf10; beyond that, recentre
    x/y by fixed constants or widen to DECIMAL). The normal-equation
    arithmetic happens in DOUBLE cast from those exact integers with
    ONE shared expression shape (_sql_huber_fit mirrors the Spark
    column graph), so every fit, residual, and quantized weight is
    bit-identical cross-engine; weights are re-quantized to integer
    millis each round, which resets any accumulated float divergence to
    zero. Scale shape: three hash aggregates on brand + three broadcast
    joins of the 25-row fit relation back to the fact — no windows, no
    collects, and the brand grid bounds every intermediate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # persist: the (brand, x, y) base feeds THREE moment passes (m0 and
    # the two reweight rounds) — unpinned, each pass re-runs the scan +
    # broadcast join (A/B at sf0.1: 1.88 → 1.80 s; the gap widens with
    # fact size since the pinned form scans once). Cleanup is
    # harness-owned, same contract as doc_novelty_score.
    base = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .select(
            "p_brand",
            F.col("l_quantity").cast("bigint").alias("x"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
        )
        .persist()
    )

    def moments(rel: DataFrame, w: F.Column) -> DataFrame:
        return rel.groupBy("p_brand").agg(
            F.sum(w).cast("bigint").cast("double").alias("sw"),
            F.sum(w * F.col("x")).cast("bigint").cast("double").alias("sx"),
            F.sum(w * F.col("y")).cast("bigint").cast("double").alias("sy"),
            F.sum(w * F.col("x") * F.col("x"))
            .cast("bigint")
            .cast("double")
            .alias("sxx"),
            F.sum(w * F.col("x") * F.col("y"))
            .cast("bigint")
            .cast("double")
            .alias("sxy"),
            F.sum(w).cast("bigint").alias("sum_w_milli"),
            F.sum(F.when(w < 1000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_downweighted"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )

    def fit(m: DataFrame) -> DataFrame:
        # mirror _sql_huber_fit exactly: same op order, b inlined into a;
        # when(denom != 0) == SQL NULLIF — a zero-x-variance brand fits
        # NULL on both engines instead of Spark-NULL vs DuckDB-inf
        denom = F.col("sw") * F.col("sxx") - F.col("sx") * F.col("sx")
        b = (F.col("sw") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
            F.when(denom != 0, denom)
        )
        return m.select(
            "p_brand", b.alias("b"), ((F.col("sy") - b * F.col("sx")) / F.col("sw")).alias("a")
        )

    def reweight(f: DataFrame) -> DataFrame:
        j = base.join(F.broadcast(f), "p_brand")
        r_abs = F.abs(F.col("y") - F.col("a") - F.col("b") * F.col("x"))
        w = (
            F.when(r_abs <= _HUB_C, F.lit(1000))
            .otherwise(F.round(F.lit(_HUB_SPLIT_NUM) / r_abs).cast("bigint"))
            .alias("w")
        )
        return j.select("p_brand", "x", "y", w)

    # OLS: weight ≡ 1000 milli would also work, but COUNT/plain sums keep
    # m0's integers minimal; the fit only sees the DOUBLE casts either way.
    # r14 (guide §5 — cache the true multi-consumer cut points): m0 and
    # m2 each have TWO consumers (their fit AND the final rollup), and
    # the r13 plan dump shows ZERO ReusedExchange — the planner replayed
    # each 25-row moment aggregate's whole fact pass per consumer, 5
    # passes over the persisted base for a 3-pass IRLS. Checkpointing
    # the <= 25-row moment relations pins the pass count at the IRLS
    # minimum (3) and collapses the broadcast-build chains to
    # metadata-sized inputs. m1 has one consumer but checkpointing it
    # keeps f1's broadcast build off the fact path too.
    m0 = moments(base, F.lit(1)).localCheckpoint()  # fact pass 1
    f0 = fit(
        m0.select(
            "p_brand",
            F.col("sw").alias("sw"),
            "sx",
            "sy",
            "sxx",
            "sxy",
        )
    )
    m1 = moments(reweight(f0), F.col("w")).localCheckpoint()  # fact pass 2
    f1 = fit(m1)
    m2 = moments(reweight(f1), F.col("w")).localCheckpoint()  # fact pass 3
    f2 = fit(m2)
    return (
        m0.select("p_brand", F.col("n").alias("n_rows"))
        .join(f0.select("p_brand", F.col("b").alias("b0"), F.col("a").alias("a0")), "p_brand")
        .join(f2.select("p_brand", F.col("b").alias("b2"), F.col("a").alias("a2")), "p_brand")
        .join(m2.select("p_brand", "sum_w_milli", "n_downweighted"), "p_brand")
        .select(
            "p_brand",
            "n_rows",
            F.round(F.col("b0"), 4).alias("slope_ols"),
            F.round(F.col("a0"), 2).alias("intercept_ols"),
            F.round(F.col("b2"), 4).alias("slope_huber"),
            F.round(F.col("a2"), 2).alias("intercept_huber"),
            "sum_w_milli",
            "n_downweighted",
        )
    )


@register(
    "expected_calibration_error_eval",
    # ECE's bin terms stay INTEGER until one division: n_b·|acc_b −
    # conf_b| = |1e6·pos_b − Σ prob_micro_b| / 1e6, so the weighted sum
    # is an exact BIGINT sum divided once by 1e6·N — no float fold
    # ordering anywhere. Brier gets the same treatment in micro².
    oracle=f"""
    WITH {_sql_ftx_perdoc()},
    binned AS (
      SELECT LEAST(CAST(floor(prob * 10) AS INT), {_CAL_BINS - 1}) AS bin,
             CAST(ROUND(prob * 1000000) AS BIGINT) AS p_micro,
             CASE WHEN lang = '{_CAL_POS_LANG}' THEN 1 ELSE 0 END AS y
      FROM perdoc
    ),
    per_bin AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(p_micro) AS BIGINT) AS conf_micro,
             CAST(SUM(y) AS BIGINT) AS pos_b
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(n_b) AS BIGINT) AS n,
             CAST(SUM(abs(1000000 * pos_b - conf_micro)) AS BIGINT)
               AS ece_num,
             CAST(COUNT(*) AS BIGINT) AS n_bins_occupied,
             MAX(CAST(abs(1000000 * pos_b - conf_micro) AS DOUBLE)
                 / (1000000.0 * n_b)) AS mce
      FROM per_bin
    ),
    brier AS (
      SELECT CAST(SUM((p_micro - 1000000 * y) * (p_micro - 1000000 * y))
                  AS BIGINT) AS b_num
      FROM binned
    )
    SELECT n AS n_docs, n_bins_occupied,
           round(CAST(ece_num AS DOUBLE) / (1000000.0 * n), 6) AS ece,
           round(mce, 6) AS mce,
           round(CAST(b_num AS DOUBLE) / (1e12 * n), 6) AS brier
    FROM tot CROSS JOIN brier
    """,
)
def expected_calibration_error_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scalar calibration metrics for the hashed classifier — ECE
    (expected calibration error: bin-weight-averaged |accuracy −
    confidence| over the 10 reliability bins), MCE (the worst bin), and
    the Brier score. Completes the calibration tier:
    classifier_calibration_bins draws the reliability DIAGRAM,
    classifier_isotonic_recalibration FIXES miscalibration, this query
    reduces it to the scalars a model-selection loop thresholds on.

    Exactness: probabilities enter as 6dp-rounded micros (the shared
    _ftx_prob chain), so each bin's n_b·|acc−conf| collapses to the
    INTEGER |1e6·pos_b − Σp_micro| — ECE is one exact BIGINT sum and a
    single division; Brier is the same trick in micro² (bounded ~1e12
    per doc, BIGINT-safe to ~9M docs; widen to DECIMAL beyond). MCE is
    a max of per-bin single divisions. Scale shape: the token explode +
    per-doc aggregate is the classifier's own inference pass; the bin
    reduction is 10 rows."""
    probs = _ftx_doc_probs(spark, sf_dir)
    binned = probs.select(
        F.least(
            F.floor(F.col("prob") * 10).cast("int"), F.lit(_CAL_BINS - 1)
        ).alias("bin"),
        F.round(F.col("prob") * 1000000).cast("long").alias("p_micro"),
        F.when(F.col("lang") == _CAL_POS_LANG, 1).otherwise(0).alias("y"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("p_micro").cast("long").alias("conf_micro"),
        F.sum("y").cast("long").alias("pos_b"),
    )
    dev = F.abs(F.lit(1000000) * F.col("pos_b") - F.col("conf_micro"))
    tot = per_bin.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.sum(dev).cast("long").alias("ece_num"),
        F.count(F.lit(1)).cast("long").alias("n_bins_occupied"),
        F.max(
            dev.cast("double") / (F.lit(1000000.0) * F.col("n_b"))
        ).alias("mce"),
    )
    brier = binned.agg(
        F.sum(
            (F.col("p_micro") - F.lit(1000000) * F.col("y"))
            * (F.col("p_micro") - F.lit(1000000) * F.col("y"))
        )
        .cast("long")
        .alias("b_num")
    )
    return tot.crossJoin(F.broadcast(brier)).select(
        F.col("n").alias("n_docs"),
        "n_bins_occupied",
        F.round(F.col("ece_num").cast("double") / (F.lit(1000000.0) * F.col("n")), 6).alias("ece"),
        F.round(F.col("mce"), 6).alias("mce"),
        F.round(F.col("b_num").cast("double") / (F.lit(1e12) * F.col("n")), 6).alias("brier"),
    )


# ---------------------------------------------------------------------------
# Qini uplift curve (r9) — the uplift-model evaluation standard
# (Radcliffe, "Using control groups to target on predicted lift", 2007):
# rank the population by a targeting score, and at each score decile
# compare cumulative treated conversions against the control conversions
# scaled to the treated exposure. Completes the experimentation tier
# (ab_welch / cuped / did measure AVERAGE effects; Qini measures how
# well a score ORDERS customers by incremental response).

_QINI_SALT = "qini1#"
_QINI_CUTOVER = "1996-01-01"
_QINI_BIN_CENTS = 2_500_000  # $25k score bands
_QINI_BIN_CAP = 800  # ≤801 bands whatever the corpus size


def _qini_sql() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_hash60

    bucket = f"(({_sql_hash60('c.c_custkey', _QINI_SALT)}) % 100)"
    return f"""
    WITH per_cust AS (
      SELECT c.c_custkey,
             CASE WHEN ({bucket}) < 50 THEN 1 ELSE 0 END AS treat,
             CAST(COALESCE(SUM(CASE WHEN o.o_orderdate
                                         < TIMESTAMP '{_QINI_CUTOVER}'
                            THEN CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                                      * 100 AS BIGINT) END), 0) AS BIGINT)
               AS pre_cents,
             CAST(COALESCE(SUM(CASE WHEN o.o_orderdate
                                         >= TIMESTAMP '{_QINI_CUTOVER}'
                            THEN 1 END), 0) AS BIGINT) AS post_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    binned AS (
      SELECT LEAST(pre_cents // {_QINI_BIN_CENTS}, {_QINI_BIN_CAP}) AS bin,
             treat,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN post_orders > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM per_cust GROUP BY 1, 2
    ),
    bins_tot AS (
      SELECT bin, CAST(SUM(n) AS BIGINT) AS n_bin FROM binned GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM binned),
    cum AS (
      SELECT bin,
             CAST(COALESCE(SUM(n_bin) OVER (ORDER BY bin DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_before
      FROM bins_tot
    ),
    decs AS (
      SELECT cum.bin,
             CAST((10 * cum.n_before) // tot.n_total AS INT) AS decile
      FROM cum CROSS JOIN tot
    ),
    dec_agg AS (
      SELECT d.decile, b.treat,
             CAST(SUM(b.n) AS BIGINT) AS n,
             CAST(SUM(b.conv) AS BIGINT) AS conv
      FROM binned b JOIN decs d ON b.bin = d.bin
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT decile,
             CAST(COALESCE(MAX(CASE WHEN treat = 1 THEN n END), 0)
                  AS BIGINT) AS n_t,
             CAST(COALESCE(MAX(CASE WHEN treat = 1 THEN conv END), 0)
                  AS BIGINT) AS conv_t,
             CAST(COALESCE(MAX(CASE WHEN treat = 0 THEN n END), 0)
                  AS BIGINT) AS n_c,
             CAST(COALESCE(MAX(CASE WHEN treat = 0 THEN conv END), 0)
                  AS BIGINT) AS conv_c
      FROM dec_agg GROUP BY decile
    ),
    cumw AS (
      SELECT decile, n_t, conv_t, n_c, conv_c,
             CAST(SUM(n_t) OVER w AS BIGINT) AS cn_t,
             CAST(SUM(conv_t) OVER w AS BIGINT) AS cconv_t,
             CAST(SUM(n_c) OVER w AS BIGINT) AS cn_c,
             CAST(SUM(conv_c) OVER w AS BIGINT) AS cconv_c
      FROM wide
      WINDOW w AS (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT decile,
           n_t AS n_treat, n_c AS n_ctrl,
           conv_t AS conv_treat, conv_c AS conv_ctrl,
           CASE WHEN n_t > 0 AND n_c > 0
                THEN round(CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                           - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE),
                           6) END AS uplift_rate_diff,
           CASE WHEN cn_c > 0
                THEN round(CAST(cconv_t * cn_c - cconv_c * cn_t AS DOUBLE)
                           / CAST(cn_c AS DOUBLE), 4) END AS qini_value
    FROM cumw
    """


@register(
    "qini_uplift_curve",
    oracle=_qini_sql(),
)
def qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve over banded score deciles: customers are
    assigned to treatment/control by the portable 60-bit hash split
    (the cuped/did convention), scored by their PRE-period revenue (a
    deterministic stand-in for an uplift model's score), and bucketed
    into $25k score BANDS capped at 800 — deciles are assigned to whole
    bands by cumulative population share (banded deciles: decile =
    (10 * customers-in-higher-bands) div N), so no global per-customer
    sort exists anywhere in the plan. Per decile the query emits arm
    sizes, converter counts (>= 1 post-period order), the uplift rate
    difference, and the Qini value g(t) = cum_conv_t - cum_conv_c *
    (cum_n_t / cum_n_c), computed as ONE division of exact BIGINT
    cross-products.

    Exactness: scores are exact cent sums; every count is BIGINT; the
    two published ratios are single guarded double divisions rounded
    on both engines (the huber NULL-guard discipline for an empty arm).

    Scale shape: one fact hash aggregate to customers (shared with
    cuped's per_cust shape), one aggregate to <= 801 score bands, and
    ALL ordering work happens on the band grid — the two running
    windows scan <= 801 and <= 10 rows regardless of corpus size (the
    wasserstein value-histogram contract). At 100 TB the only shuffle
    is the per-customer aggregate."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    pre = F.col("o_orderdate") < F.lit(_QINI_CUTOVER).cast("timestamp")
    # r14 (guide §2.3 "aggregate before you shuffle"): the fact side is
    # pre-aggregated per customer BEFORE meeting the customer spine —
    # map-side partial aggregation compacts the orders exchange to one
    # row per (custkey, measure pair) instead of shipping every order
    # row through the join; the join then matches two customer-sized
    # relations. Value-identical: the old (customer ⋈ orders) groupBy
    # summed exactly these orders per customer, with the same
    # NULL→0 coalescing for customers lacking (pre-/post-period)
    # orders; treat is a pure function of c_custkey either way.
    ocust = orders.groupBy(F.col("o_custkey").alias("okey")).agg(
        F.sum(F.when(pre, (dec("o_totalprice") * 100).cast("long")))
        .alias("pre_raw"),
        F.sum(F.when(~pre, 1)).alias("post_raw"),
    )
    per_cust = (
        customer.select("c_custkey")
        .join(ocust, F.col("c_custkey") == F.col("okey"), "left")
        .select(
            (_hash60(F.col("c_custkey"), _QINI_SALT) % 100 < 50)
            .cast("int")
            .alias("treat"),
            F.coalesce(F.col("pre_raw"), F.lit(0))
            .cast("long")
            .alias("pre_cents"),
            F.coalesce(F.col("post_raw"), F.lit(0))
            .cast("long")
            .alias("post_orders"),
        )
    )
    binned = (
        per_cust.groupBy(
            F.least(
                F.expr(f"pre_cents div {_QINI_BIN_CENTS}"),
                F.lit(_QINI_BIN_CAP).cast("long"),
            ).alias("bin"),
            "treat",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("post_orders") > 0, 1).otherwise(0))
            .cast("long")
            .alias("conv"),
        )
        .localCheckpoint()  # <= 1602 rows; feeds bands, totals, rejoin
    )
    bins_tot = binned.groupBy("bin").agg(
        F.sum("n").cast("long").alias("n_bin")
    )
    tot = binned.agg(F.sum("n").cast("long").alias("n_total"))
    w_before = (
        Window.orderBy(F.col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = bins_tot.select(
        "bin",
        F.coalesce(F.sum("n_bin").over(w_before), F.lit(0))
        .cast("long")
        .alias("n_before"),
    )
    decs = cum.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.expr("CAST((10 * n_before) div n_total AS INT)").alias("decile"),
    )
    dec_agg = (
        binned.join(F.broadcast(decs), "bin")
        .groupBy("decile", "treat")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("conv").cast("long").alias("conv"),
        )
    )
    wide = dec_agg.groupBy("decile").agg(
        F.coalesce(F.max(F.when(F.col("treat") == 1, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("n_t"),
        F.coalesce(
            F.max(F.when(F.col("treat") == 1, F.col("conv"))), F.lit(0)
        )
        .cast("long")
        .alias("conv_t"),
        F.coalesce(F.max(F.when(F.col("treat") == 0, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("n_c"),
        F.coalesce(
            F.max(F.when(F.col("treat") == 0, F.col("conv"))), F.lit(0)
        )
        .cast("long")
        .alias("conv_c"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cumw = wide.select(
        "decile",
        "n_t",
        "conv_t",
        "n_c",
        "conv_c",
        F.sum("n_t").over(w_cum).cast("long").alias("cn_t"),
        F.sum("conv_t").over(w_cum).cast("long").alias("cconv_t"),
        F.sum("n_c").over(w_cum).cast("long").alias("cn_c"),
        F.sum("conv_c").over(w_cum).cast("long").alias("cconv_c"),
    )
    return cumw.select(
        "decile",
        F.col("n_t").alias("n_treat"),
        F.col("n_c").alias("n_ctrl"),
        F.col("conv_t").alias("conv_treat"),
        F.col("conv_c").alias("conv_ctrl"),
        F.when(
            (F.col("n_t") > 0) & (F.col("n_c") > 0),
            F.round(
                F.col("conv_t").cast("double") / F.col("n_t").cast("double")
                - F.col("conv_c").cast("double")
                / F.col("n_c").cast("double"),
                6,
            ),
        ).alias("uplift_rate_diff"),
        F.when(
            F.col("cn_c") > 0,
            F.round(
                (
                    F.col("cconv_t") * F.col("cn_c")
                    - F.col("cconv_c") * F.col("cn_t")
                ).cast("double")
                / F.col("cn_c").cast("double"),
                4,
            ),
        ).alias("qini_value"),
    )


# ---------------------------------------------------------------------------
# ALS half-step certificate (r9) — one exact alternating-least-squares
# user-side update (Koren/Bell/Volinsky 2009; the distributed
# formulation of Zhou et al., "Large-scale parallel collaborative
# filtering for the Netflix prize", AAIM 2008): with item factors FIXED,
# each user's rank-2 factor solves a 2x2 ridge normal equation in closed
# form, and the loss DECREASE has the closed form b^T A^{-1} b — a
# rational with denominator det(A), so quantizing (SCALE*num) div det
# gives an exact BIGINT per user that sums exactly across any partition
# order. The certificate a distributed trainer needs — "this step
# cannot increase the loss" — is graded in-band per segment.

_ALS_LAMBDA = 4  # ridge, integer so A stays an integer matrix
_ALS_SCALE = 10_000  # loss improvement published in 1e-4 units
_ALS_SALT_1 = "alsA#"
_ALS_SALT_2 = "alsB#"


def _als_sql() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_hash60

    h1 = _sql_hash60("p_brand", _ALS_SALT_1)
    h2 = _sql_hash60("p_brand", _ALS_SALT_2)
    return f"""
    WITH factors AS MATERIALIZED (
      SELECT p_brand AS brand,
             CASE WHEN (({h1}) % 5 - 2) = 0 AND (({h2}) % 5 - 2) = 0
                  THEN 1 ELSE ({h1}) % 5 - 2 END AS y1,
             ({h2}) % 5 - 2 AS y2
      FROM (SELECT p_brand FROM part GROUP BY 1)
    ),
    ratings AS (
      SELECT o.o_custkey AS u, p.p_brand AS brand,
             CAST(COUNT(*) AS BIGINT) AS r
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    normal AS (
      SELECT rt.u,
             CAST({_ALS_LAMBDA} + SUM(f.y1 * f.y1) AS BIGINT) AS a11,
             CAST(SUM(f.y1 * f.y2) AS BIGINT) AS a12,
             CAST({_ALS_LAMBDA} + SUM(f.y2 * f.y2) AS BIGINT) AS a22,
             CAST(SUM(rt.r * f.y1) AS BIGINT) AS b1,
             CAST(SUM(rt.r * f.y2) AS BIGINT) AS b2,
             CAST(SUM(rt.r * rt.r) AS BIGINT) AS sse0
      FROM ratings rt JOIN factors f ON rt.brand = f.brand
      GROUP BY 1
    ),
    per_user AS (
      SELECT u, sse0,
             a11 * a22 - a12 * a12 AS det,
             a22 * b1 * b1 - 2 * a12 * b1 * b2 + a11 * b2 * b2 AS num
      FROM normal
    ),
    quant AS (
      SELECT u, sse0,
             CAST(({_ALS_SCALE} * num) // det AS BIGINT) AS imp_q
      FROM per_user
    )
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(q.sse0) AS BIGINT) AS sse_before,
           CAST(SUM(q.imp_q) AS DOUBLE) / {_ALS_SCALE}.0
             AS loss_improvement,
           CAST(MIN(q.imp_q) AS BIGINT) AS min_user_improvement_q,
           CAST(MIN(q.imp_q) AS BIGINT) >= 0 AS never_increases_loss
    FROM quant q JOIN customer c ON q.u = c.c_custkey
    GROUP BY 1
    """


@register(
    "als_implicit_step_certificate",
    oracle=_als_sql(),
)
def als_implicit_step_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One exact ALS user-half-step over the (customer x brand)
    order-count matrix: item factors are deterministic hash-derived
    integer rank-2 vectors in [-2, 2] (zero vector fixed up, so A is
    always PD with ridge lambda=4); each user's normal-equation system
    A x = b is a 2x2 INTEGER matrix, and the ridge-loss decrease of
    the closed-form solve is b^T A^{-1} b = num/det — published as the
    exact BIGINT (SCALE*num) div det per user, so the per-segment sum
    is partition-order-independent. never_increases_loss (min per-user
    improvement >= 0) is the in-band certificate: A PD implies
    b^T A^{-1} b >= 0, and BOTH engines must agree row-for-row.

    Magnitudes: |y| <= 2 so A entries <= lambda + 4*25 = 104, det <=
    ~1.1e4; b <= 2 * sum(r) — at sf100 a user's total line count ~1e4,
    so num ~ 1e10 and SCALE*num ~ 1e14, BIGINT-safe through ~sf10k
    (recentre SCALE if ever needed — the huber bound discipline).

    Scale shape: the rating build is the cf/copurchase fact shape (two
    fact joins, one (user, brand) hash aggregate); the normal-equation
    sums are ONE more user-keyed aggregate over a broadcast 25-row
    factor join; the 2x2 solve is closed-form scalar algebra (no
    iteration, no collect — the fully-relational Lloyd-step discipline
    extended to ALS); the rollup joins the customer dim broadcast."""
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    customer = load_table(spark, sf_dir, "customer")
    y1_raw = (_hash60(F.col("brand"), _ALS_SALT_1) % 5) - 2
    y2 = (_hash60(F.col("brand"), _ALS_SALT_2) % 5) - 2
    factors = (
        part.select(F.col("p_brand").alias("brand"))
        .distinct()
        .select(
            "brand",
            F.when((y1_raw == 0) & (y2 == 0), F.lit(1))
            .otherwise(y1_raw)
            .alias("y1"),
            y2.alias("y2"),
        )
        # r14: the r13 form localCheckpointed this 25-row relation, but
        # it has exactly ONE consumer (the broadcast into the ratings
        # join) — a single-consumer checkpoint is a pure extra job
        # (guide §5: cache only multi-consumer cut points)
    )
    ratings = (
        li.select("l_orderkey", "l_partkey")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("p_brand").alias("brand")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    normal = (
        ratings.join(F.broadcast(factors), "brand")
        .groupBy("u")
        .agg(
            (F.lit(_ALS_LAMBDA) + F.sum(F.col("y1") * F.col("y1")))
            .cast("long")
            .alias("a11"),
            F.sum(F.col("y1") * F.col("y2")).cast("long").alias("a12"),
            (F.lit(_ALS_LAMBDA) + F.sum(F.col("y2") * F.col("y2")))
            .cast("long")
            .alias("a22"),
            F.sum(F.col("r") * F.col("y1")).cast("long").alias("b1"),
            F.sum(F.col("r") * F.col("y2")).cast("long").alias("b2"),
            F.sum(F.col("r") * F.col("r")).cast("long").alias("sse0"),
        )
    )
    per_user = normal.select(
        "u",
        "sse0",
        (F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")).alias(
            "det"
        ),
        (
            F.col("a22") * F.col("b1") * F.col("b1")
            - F.lit(2) * F.col("a12") * F.col("b1") * F.col("b2")
            + F.col("a11") * F.col("b2") * F.col("b2")
        ).alias("num"),
    )
    quant = per_user.select(
        "u",
        "sse0",
        F.expr(f"CAST(({_ALS_SCALE} * num) div det AS BIGINT)").alias(
            "imp_q"
        ),
    )
    return (
        quant.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            quant["u"] == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("sse0").cast("long").alias("sse_before"),
            (
                F.sum("imp_q").cast("double") / F.lit(float(_ALS_SCALE))
            ).alias("loss_improvement"),
            F.min("imp_q").cast("long").alias("min_user_improvement_q"),
            (F.min("imp_q").cast("long") >= 0).alias("never_increases_loss"),
        )
    )


# ---------------------------------------------------------------------------
# Quantile treatment effect (r9) — the DISTRIBUTIONAL member of the
# experimentation tier: mean effects (welch/cuped/did) can be zero while
# the treatment reshapes the outcome distribution; QTE(p) = Q_treat(p) -
# Q_ctrl(p) reads the effect at each quantile (Doksum 1974). Exact
# type-1 (lower) quantiles over the per-arm outcome histogram — the
# mannwhitney/wasserstein value-domain discipline, so no percentile
# interpolation floats exist anywhere.

_QTE_SALT = "qini1#"  # same assignment as the Qini curve — one experiment
_QTE_CUTOVER = "1996-01-01"
_QTE_PS = (10, 25, 50, 75, 90)


def _qte_sql() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_hash60

    bucket = f"(({_sql_hash60('c.c_custkey', _QTE_SALT)}) % 100)"
    grid = " UNION ALL ".join(
        f"SELECT CAST({p} AS INT) AS p" for p in _QTE_PS
    )
    return f"""
    WITH per_cust AS (
      SELECT CASE WHEN ({bucket}) < 50 THEN 1 ELSE 0 END AS treat,
             CAST(COALESCE(SUM(CASE WHEN o.o_orderdate
                                         >= TIMESTAMP '{_QTE_CUTOVER}'
                            THEN CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                                      * 100 AS BIGINT) END), 0) AS BIGINT)
               AS y
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ),
    hist AS MATERIALIZED (
      SELECT treat, y, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY treat ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM per_cust GROUP BY treat, y
    ),
    arms AS (
      SELECT treat, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY 1
    ),
    grid AS ({grid}),
    picks AS (
      SELECT g.p, h.treat,
             CAST(MIN(CASE WHEN h.cum * 100 >= g.p * a.n
                           THEN h.y END) AS BIGINT) AS q
      FROM grid g
      CROSS JOIN hist h
      JOIN arms a ON h.treat = a.treat
      GROUP BY g.p, h.treat
    ),
    wide AS (
      SELECT p,
             CAST(MAX(CASE WHEN treat = 1 THEN q END) AS BIGINT) AS q_t,
             CAST(MAX(CASE WHEN treat = 0 THEN q END) AS BIGINT) AS q_c
      FROM picks GROUP BY p
    )
    SELECT p AS quantile_pct,
           CAST(q_t AS DOUBLE) / 100.0 AS q_treat,
           CAST(q_c AS DOUBLE) / 100.0 AS q_ctrl,
           CAST(q_t - q_c AS DOUBLE) / 100.0 AS qte
    FROM wide
    """


@register(
    "quantile_treatment_effect",
    oracle=_qte_sql(),
)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QTE curve over the hash-split A/A: per arm, the exact type-1
    quantile of per-customer post-period revenue at p in {10, 25, 50,
    75, 90} — Q(p) = min value whose cumulative count reaches
    ceil(p*n/100), evaluated as the INTEGER comparison cum*100 >= p*n
    (no division, no interpolation, so quantile membership can never
    flip between engines) — and the per-quantile difference.

    Scale shape: one fact aggregate to per-customer outcomes (the cuped
    per_cust shape), one aggregate to the per-(arm, value) histogram
    with a PARTITIONED cumulative window (2 arm partitions over the
    value domain — the mannwhitney histogram contract), then a 5-row
    quantile grid crossed against the checkpointed histogram."""
    from ecommerce_data_pipeline_spark.plans._helpers import dec
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    post = F.col("o_orderdate") >= F.lit(_QTE_CUTOVER).cast("timestamp")
    per_cust = (
        customer.select("c_custkey")
        .join(orders, customer["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.when(post, (dec("o_totalprice") * 100).cast("long"))),
                F.lit(0),
            )
            .cast("long")
            .alias("y")
        )
        .select(
            (_hash60(F.col("c_custkey"), _QTE_SALT) % 100 < 50)
            .cast("int")
            .alias("treat"),
            "y",
        )
    )
    w_cum = (
        Window.partitionBy("treat")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist = (
        per_cust.groupBy("treat", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "treat",
            "y",
            "cnt",
            F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        )
        .localCheckpoint()  # value-domain bounded; feeds arms + picks
    )
    arms = hist.groupBy("treat").agg(F.sum("cnt").cast("long").alias("n"))
    grid = spark.createDataFrame([(p,) for p in _QTE_PS], "p int")
    picks = (
        grid.crossJoin(F.broadcast(hist))
        .join(F.broadcast(arms), "treat")
        .groupBy("p", "treat")
        .agg(
            F.min(
                F.when(
                    F.col("cum") * 100 >= F.col("p") * F.col("n"),
                    F.col("y"),
                )
            )
            .cast("long")
            .alias("q")
        )
    )
    wide = picks.groupBy("p").agg(
        F.max(F.when(F.col("treat") == 1, F.col("q")))
        .cast("long")
        .alias("q_t"),
        F.max(F.when(F.col("treat") == 0, F.col("q")))
        .cast("long")
        .alias("q_c"),
    )
    return wide.select(
        F.col("p").alias("quantile_pct"),
        (F.col("q_t").cast("double") / F.lit(100.0)).alias("q_treat"),
        (F.col("q_c").cast("double") / F.lit(100.0)).alias("q_ctrl"),
        ((F.col("q_t") - F.col("q_c")).cast("double") / F.lit(100.0)).alias(
            "qte"
        ),
    )
