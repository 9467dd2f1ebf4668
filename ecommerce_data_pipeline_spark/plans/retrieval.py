"""Retrieval-scoring and corpus-hygiene queries over the documents table
(SURVEY.md §2.11 extensions — the ranking/contamination tier of an
LLM-training-data pipeline): TF-IDF term weighting, BM25 scoring,
benchmark-contamination n-gram overlap, and intra-document repetition
signals.

All four are exact-deterministic cross-engine:
- term/document frequencies are integers (bit-exact);
- the only floats are single ln()/division chains evaluated in a fixed
  order and rounded at 6dp on both sides;
- rankings order by the ROUNDED score with a lexicographic tie-break, so
  the window result cannot depend on last-ulp libm differences.

Scale notes (100 TB): document-frequency and corpus-statistic relations
are vocabulary-sized (or single-row) and broadcast; everything else is a
single explode→hash-aggregate pipeline shuffled by (doc_id, term), with
per-doc windows partitioned by doc_id — no global windows, no driver
collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.similarity import shingle_rows
from ecommerce_data_pipeline_spark.operators.text import tokens
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table

# duckdb twin of operators/text.py::tokens (same as text_analysis.py)
_SQL_TOKENS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"


def _term_freqs(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — the explode→hash-aggregate token relation."""
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rnk
      FROM scored
    )
    WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (idf = ln(N/df), raw-count tf).

    The document-frequency relation is vocabulary-sized → broadcast; the
    corpus row count is a single-row aggregate → broadcast. Ranking is on
    the 6dp-rounded score (term tie-break), so ordering is engine-stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = _term_freqs(docs)
    df_rel = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_rel), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


_BM25_TERMS = ("join", "scan", "stream")
_K1, _B = 1.2, 0.75


def _fold(parts):
    """Left-associative fixed-order sum of Column/SQL-text parts — the
    determinism contract: per-term contributions are combined in term
    order, never a float SUM across shuffled rows."""
    from functools import reduce
    from operator import add

    return reduce(add, parts)


def _per_doc_tf(docs: DataFrame, with_dl: bool = False) -> DataFrame:
    """(doc_id, tf_<term>..., [dl]) — per-document frequencies of the
    fixed query terms (plus total token count when ``with_dl``). Shared
    by bm25_search and rrf_rank_fusion so both scorers read the same
    document statistics."""
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    aggs = [
        F.coalesce(
            F.sum(F.when(F.col("term") == t, 1).otherwise(0)), F.lit(0)
        ).alias(f"tf_{t}")
        for t in _BM25_TERMS
    ]
    if with_dl:
        aggs.append(F.count("term").alias("dl"))
    return (
        docs.select("doc_id").join(tok, "doc_id", "left").groupBy("doc_id").agg(*aggs)
    )


def _sql_per_doc_tf(name: str, with_dl: bool = False) -> str:
    """DuckDB CTE twin of ``_per_doc_tf`` (assumes a ``tok`` CTE)."""
    cols = " , ".join(
        f"COALESCE(SUM(CASE WHEN term = '{t}' THEN 1 ELSE 0 END), 0) AS tf_{t}"
        for t in _BM25_TERMS
    )
    dl = ",\n             COUNT(term) AS dl" if with_dl else ""
    return (
        f"{name} AS (\n"
        f"      SELECT d.doc_id,\n"
        f"             {cols}{dl}\n"
        f"      FROM documents d LEFT JOIN tok ON d.doc_id = tok.doc_id\n"
        f"      GROUP BY d.doc_id\n"
        f"    )"
    )


def _d(x: float) -> str:
    """Double literal for DuckDB. Bare decimal literals parse as DECIMAL
    there (decimal arithmetic would diverge from Spark's IEEE doubles);
    the e0 suffix forces DOUBLE with the exact same bit pattern."""
    return f"{x!r}e0"


def _sql_bm25_part(term: str) -> str:
    """One query-term contribution — parenthesized to replay the Spark
    Column expression's evaluation order operation-for-operation."""
    idf = (
        f"ln({_d(1.0)} + ((CAST(n_docs AS DOUBLE) - CAST(df_{term} AS DOUBLE)) + {_d(0.5)})"
        f" / (CAST(df_{term} AS DOUBLE) + {_d(0.5)}))"
    )
    denom = (
        f"(CAST(tf_{term} AS DOUBLE) + {_d(_K1)} * ({_d(1.0 - _B)}"
        f" + ({_d(_B)} * CAST(dl AS DOUBLE)) / avgdl))"
    )
    return (
        f"CASE WHEN tf_{term} > 0 THEN"
        f" ({idf} * (CAST(tf_{term} AS DOUBLE) * {_d(_K1 + 1.0)})) / {denom}"
        f" ELSE {_d(0.0)} END"
    )


@register(
    "bm25_search",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    {_sql_per_doc_tf("dl", with_dl=True)},
    stats AS (
      SELECT COUNT(*) AS n_docs,
             {" , ".join(f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in _BM25_TERMS)},
             CAST(SUM(CAST(dl AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    )
    SELECT doc_id,
           CAST(dl AS BIGINT) AS dl,
           {" , ".join(f"CAST(tf_{t} AS BIGINT) AS tf_{t}" for t in _BM25_TERMS)},
           round({" + ".join(_sql_bm25_part(t) for t in _BM25_TERMS)}, 6) AS bm25
    FROM dl CROSS JOIN stats
    WHERE {" + ".join(f"tf_{t}" for t in _BM25_TERMS)} > 0
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25(k1=1.2, b=0.75) document scores for a fixed 3-term query.

    Per-term contributions are separate columns added in a FIXED order
    (never a float SUM across shuffled rows), so the score is bit-stable;
    published rounded at 6dp. The corpus-statistics relation is one row →
    broadcast. Scales as one token aggregation + one map-side join.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = _per_doc_tf(docs, with_dl=True)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
        (
            F.sum(F.col("dl").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )

    def part(t: str):
        tf = F.col(f"tf_{t}").cast("double")
        df_t = F.col(f"df_{t}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
        )
        denom = tf + F.lit(_K1) * (
            F.lit(1.0 - _B) + F.lit(_B) * F.col("dl").cast("double") / F.col("avgdl")
        )
        return F.when(
            F.col(f"tf_{t}") > 0, idf * (tf * F.lit(_K1 + 1.0)) / denom
        ).otherwise(F.lit(0.0))

    score = F.round(_fold([part(t) for t in _BM25_TERMS]), 6)
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(_fold([F.col(f"tf_{t}") for t in _BM25_TERMS]) > 0)
        .select(
            "doc_id",
            F.col("dl").cast("bigint").alias("dl"),
            *[F.col(f"tf_{t}").cast("bigint").alias(f"tf_{t}") for t in _BM25_TERMS],
            score.alias("bm25"),
        )
    )


@register(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - 3),
               i -> array_to_string(toks[i:i+4], ' ')))) AS s
      FROM d WHERE len(toks) >= 5
    ),
    bench AS (SELECT DISTINCT s FROM g WHERE doc_id < 25)
    SELECT g.doc_id, COUNT(*) AS n_shared_5grams
    FROM g JOIN bench USING (s)
    WHERE g.doc_id >= 25
    GROUP BY g.doc_id
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: corpus documents sharing 5-gram
    shingles with a held-out benchmark set (doc_id < 25 here).

    The benchmark gram set is small by construction (eval suites are tiny
    next to a corpus) → broadcast semi-side; the corpus side is the
    explode-first shingle pipeline (operators/similarity.py::shingle_rows),
    so the whole check is one shuffle-free-after-shingling broadcast join +
    hash aggregate. This is the standard decontamination pass an LLM data
    pipeline runs against eval benchmarks.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = shingle_rows(docs, n=5, distinct=True)
    bench = grams.filter(F.col("id") < 25).select("s").distinct()
    return (
        grams.filter(F.col("id") >= 25)
        .join(F.broadcast(bench), "s")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_shared_5grams"))
    )


@register(
    "doc_repetition_stats",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    mx AS (
      SELECT doc_id, term, tf, MAX(tf) OVER (PARTITION BY doc_id) AS max_tf
      FROM tf
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           round(COUNT(*) * 1.0 / SUM(tf), 6) AS distinct_ratio,
           CAST(MAX(tf) AS BIGINT) AS top_tf,
           MIN(CASE WHEN tf = max_tf THEN term END) AS top_term,
           round(MAX(tf) * 1.0 / SUM(tf), 6) AS top_term_ratio
    FROM mx
    GROUP BY doc_id
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: distinct-token ratio and the mass
    of the single most frequent token (ties broken to the lexicographically
    smallest term). High top_term_ratio / low distinct_ratio flags
    boilerplate and degenerate documents before training.

    One explode→aggregate pass; the max-tf window partitions by doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = _term_freqs(docs)
    w = Window.partitionBy("doc_id")
    mx = tf.withColumn("max_tf", F.max("tf").over(w))
    return mx.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.count(F.lit(1)) / F.sum("tf"), 6).alias("distinct_ratio"),
        F.max("tf").alias("top_tf"),
        F.min(F.when(F.col("tf") == F.col("max_tf"), F.col("term"))).alias("top_term"),
        F.round(F.max("tf") / F.sum("tf"), 6).alias("top_term_ratio"),
    )


_RRF_K = 60
_RRF_TOPN = 20


def _sql_tfidf_part(term: str) -> str:
    """One query-term TF-IDF contribution, parenthesized to mirror the
    Spark Column expression operation-for-operation."""
    return (
        f"CASE WHEN tf_{term} > 0 THEN"
        f" CAST(tf_{term} AS DOUBLE)"
        f" * ln(CAST(n_docs AS DOUBLE) / CAST(df_{term} AS DOUBLE))"
        f" ELSE {_d(0.0)} END"
    )


@register(
    "rrf_rank_fusion",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    {_sql_per_doc_tf("per_doc")},
    stats AS (
      SELECT COUNT(*) AS n_docs,
             {" , ".join(f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in _BM25_TERMS)}
      FROM per_doc
    ),
    matched AS (
      SELECT doc_id,
             {" + ".join(f"tf_{t}" for t in _BM25_TERMS)} AS tf_total,
             round({" + ".join(_sql_tfidf_part(t) for t in _BM25_TERMS)}, 6)
               AS tfidf_total
      FROM per_doc CROSS JOIN stats
      WHERE {" + ".join(f"tf_{t}" for t in _BM25_TERMS)} > 0
    ),
    lex AS (
      SELECT doc_id, CAST(row_number() OVER (
               ORDER BY tf_total DESC, doc_id ASC) AS INT) AS lex_rank
      FROM matched QUALIFY lex_rank <= {_RRF_TOPN}
    ),
    sem AS (
      SELECT doc_id, CAST(row_number() OVER (
               ORDER BY tfidf_total DESC, doc_id ASC) AS INT) AS tfidf_rank
      FROM matched QUALIFY tfidf_rank <= {_RRF_TOPN}
    )
    SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
           lex_rank, tfidf_rank,
           round(COALESCE({_d(1.0)} / ({_RRF_K} + lex_rank), {_d(0.0)})
                 + COALESCE({_d(1.0)} / ({_RRF_K} + tfidf_rank), {_d(0.0)}), 6)
             AS rrf_score
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    """,
)
def rrf_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings (raw term
    frequency vs TF-IDF) for the fixed 3-term query: the standard way a
    serving stack combines lexical and weighted scorers without score
    calibration. score = Σ_lists 1/(60 + rank), over each list's top-20.

    Scale notes: each ranking is orderBy+limit — Spark plans that as
    TakeOrderedAndProject (per-partition top-k, then a 20-row merge on the
    driver side of the exchange), NOT a single-reducer global window; the
    rank-assignment window then runs over ≤20 rows. The fusion join is
    20×20. Scores: per-term contributions added in fixed column order,
    rounded at 6dp before ranking (doc_id tie-break), so ordering is
    engine-stable; the RRF sum is two doubles in fixed order, rounded 6dp.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = _per_doc_tf(docs)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )

    def tfidf_part(t: str):
        tf = F.col(f"tf_{t}").cast("double")
        return F.when(
            F.col(f"tf_{t}") > 0,
            tf
            * F.log(
                F.col("n_docs").cast("double") / F.col(f"df_{t}").cast("double")
            ),
        ).otherwise(F.lit(0.0))

    matched = (
        per_doc.crossJoin(F.broadcast(stats))
        .withColumn("tf_total", _fold([F.col(f"tf_{t}") for t in _BM25_TERMS]))
        .filter(F.col("tf_total") > 0)
        .withColumn(
            "tfidf_total",
            F.round(_fold([tfidf_part(t) for t in _BM25_TERMS]), 6),
        )
        .select("doc_id", "tf_total", "tfidf_total")
        # consumed by BOTH rankers — unpersisted, the token aggregation
        # would execute twice
        .persist()
    )

    def top_ranked(order_col: str, rank_name: str) -> DataFrame:
        topn = matched.orderBy(F.desc(order_col), F.asc("doc_id")).limit(_RRF_TOPN)
        w = Window.orderBy(F.desc(order_col), F.asc("doc_id"))
        return topn.withColumn(
            rank_name, F.row_number().over(w).cast("int")
        ).select("doc_id", rank_name)

    lex = top_ranked("tf_total", "lex_rank")
    sem = top_ranked("tfidf_total", "tfidf_rank")
    fused = lex.join(sem, "doc_id", "full")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("tfidf_rank")), F.lit(0.0)
        ),
        6,
    )
    return fused.select("doc_id", "lex_rank", "tfidf_rank", rrf.alias("rrf_score"))
