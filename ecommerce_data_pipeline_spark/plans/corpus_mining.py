"""Corpus-level text mining queries (SURVEY.md §2.11 extension tier):
frequent n-gram vocabulary, per-document novelty against the corpus, and
per-language adaptive quality gating. All pure Column expressions over the
``documents`` table — shingling/tokenizing is row-local (zero shuffle),
the corpus statistics are single hash aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.similarity import shingle_rows
from ecommerce_data_pipeline_spark.operators.text import token_count, tokens
from ecommerce_data_pipeline_spark.plans._helpers import (
    exact_floor_div,
    rows_equal,
)
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table

_SQL_TOKENS = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)


@register(
    "top_bigrams",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
    bg AS (SELECT unnest([ts[i] || ' ' || ts[i+1]
                          for i in generate_series(1, len(ts)-1)]) AS bigram
           FROM tok),
    counted AS (SELECT bigram, count(*) AS n FROM bg GROUP BY bigram)
    SELECT bigram, n FROM counted
    ORDER BY n DESC, bigram
    LIMIT 25
    """,
    tags=("extension", "text", "ngram"),
)
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide frequent-bigram mining — the vocabulary/collocation
    profile that drives tokenizer audits and boilerplate detection.
    Shingles via posexplode + lead (codegen'd — the array-HOF form is
    interpreted and ~10× slower, see operators/similarity.shingle_rows);
    the count is one map-side-combined hash aggregation, and the top-k is
    a TakeOrdered (no global sort). Deterministic ties: count desc,
    bigram asc."""
    docs = load_table(spark, sf_dir, "documents")
    bg = shingle_rows(docs, n=2, distinct=False).select(
        F.col("s").alias("bigram")
    )
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(25)
    )


@register(
    "doc_novelty_score",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                        for i in generate_series(1, len(ts)-2)])) AS s
           FROM tok),
    df AS (SELECT s, count(DISTINCT doc_id) AS docs FROM sh GROUP BY s),
    per_doc AS (
      SELECT sh.doc_id,
             count(*) AS n_shingles,
             count(*) FILTER (df.docs >= 2) AS n_dup_shingles
      FROM sh JOIN df USING (s) GROUP BY sh.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(p.n_dup_shingles, 0) AS BIGINT) AS n_dup_shingles,
           CASE WHEN p.n_shingles > 0
                THEN round(1.0 - p.n_dup_shingles * 1.0 / p.n_shingles, 6)
           END AS novelty
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    tags=("extension", "text", "dedup"),
)
def doc_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of the doc's distinct 3-gram
    shingles that appear in NO other document (1 = all content unique to
    this doc). The corpus-side signal between exact dedup (identical
    docs) and near-dedup (pairwise similarity): cheap — one shingle
    document-frequency aggregation, one join back — and it ranks partial
    boilerplate that pairwise thresholds miss. At 100 TB both sides
    shuffle on the shingle hash; no pairwise expansion anywhere.
    Shingles via the codegen'd posexplode+lead path (shingle_rows)."""
    docs = load_table(spark, sf_dir, "documents")
    # Persisted: the shingle relation feeds BOTH the document-frequency
    # aggregate and the join-back. (A COUNT OVER (PARTITION BY s) window
    # needs no persist, but puts every row of a hot boilerplate shingle
    # into ONE task with no map-side partial aggregation.) Cleanup is
    # harness-owned: bench.py clears the session cache before every
    # execution; a one-shot run is bounded by LRU eviction.
    sh = (
        shingle_rows(docs, n=3, distinct=True)
        .withColumnsRenamed({"id": "doc_id"})
        .persist()
    )
    # Shingle document frequency: with (doc_id, s) distinct by
    # construction, row count per shingle IS its distinct-doc count —
    # partial-aggregates map-side, so a hot shingle ships one partial
    # per task, not every row.
    df_rel = sh.groupBy("s").agg(F.count(F.lit(1)).alias("docs"))
    per_doc = (
        # shuffle_hash pinned: AQE broadcast whichever side's cached
        # stats landed first; both sides grow with the shingle vocabulary
        sh.join(df_rel.hint("shuffle_hash"), "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("docs") >= 2, 1).otherwise(0)).alias(
                "n_dup_shingles"
            ),
        )
    )
    return docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
        F.coalesce("n_dup_shingles", F.lit(0))
        .cast("bigint")
        .alias("n_dup_shingles"),
        F.when(
            F.col("n_shingles") > 0,
            F.round(
                1.0 - F.col("n_dup_shingles") / F.col("n_shingles"), 6
            ),
        ).alias("novelty"),
    )


@register(
    "lang_adaptive_length_gate",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, len({_SQL_TOKENS}) AS n_tokens
                 FROM documents),
    bounds AS (SELECT lang,
                      quantile_cont(n_tokens, 0.10) AS lo,
                      quantile_cont(n_tokens, 0.90) AS hi
               FROM tok GROUP BY lang)
    SELECT t.lang,
           count(*) AS n_docs,
           count(*) FILTER (t.n_tokens >= b.lo AND t.n_tokens <= b.hi)
             AS n_kept,
           round(count(*) FILTER (t.n_tokens >= b.lo AND t.n_tokens <= b.hi)
                 * 1.0 / count(*), 6) AS kept_frac,
           round(CAST(b.lo AS DOUBLE), 4) AS lo,
           round(CAST(b.hi AS DOUBLE), 4) AS hi
    FROM tok t JOIN bounds b USING (lang)
    GROUP BY t.lang, b.lo, b.hi
    """,
    tags=("extension", "text", "quality"),
)
def lang_adaptive_length_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language ADAPTIVE quality gate: instead of one global length
    band, each language keeps its [p10, p90] token-count band — the
    data-derived filter a multilingual training mix needs (a fixed global
    band over/under-filters low-resource languages). PERCENTILE_CONT
    interpolation matches DuckDB's quantile_cont exactly at 4dp
    (precedent: percentiles_exact). Two aggregations over the lang key —
    at corpus scale both partition on lang (use the approx-percentile
    twin when a single language's group outgrows a partition's sort)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", token_count("text").alias("n_tokens"))
    bounds = tok.groupBy("lang").agg(
        F.percentile("n_tokens", F.lit(0.10)).alias("lo_raw"),
        F.percentile("n_tokens", F.lit(0.90)).alias("hi_raw"),
    )
    kept = F.when(
        (F.col("n_tokens") >= F.col("lo_raw"))
        & (F.col("n_tokens") <= F.col("hi_raw")),
        1,
    ).otherwise(0)
    return (
        tok.join(bounds, "lang")
        .groupBy("lang", "lo_raw", "hi_raw")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.round(F.sum(kept) / F.count(F.lit(1)), 6).alias("kept_frac"),
        )
        .select(
            "lang",
            "n_docs",
            "n_kept",
            "kept_frac",
            F.round(F.col("lo_raw").cast("double"), 4).alias("lo"),
            F.round(F.col("hi_raw").cast("double"), 4).alias("hi"),
        )
    )


@register(
    "lang_confusion_matrix",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, lang,
             CASE WHEN len(list_filter({_SQL_TOKENS},
                          t -> t IN ('the','and','of','a')))
                       >= len(list_filter({_SQL_TOKENS},
                          t -> t IN ('el','la','de','y')))
                  THEN 'en' ELSE 'es' END AS guessed_lang
      FROM documents
    )
    SELECT lang, guessed_lang,
           count(*) AS n_docs,
           round(count(*) * 1.0 /
                 sum(count(*)) OVER (PARTITION BY lang), 6) AS lang_share
    FROM g GROUP BY lang, guessed_lang
    """,
    tags=("extension", "text", "quality"),
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix — the drift monitor
    between upstream metadata and the engine's own language-ID heuristic
    (same stopword argmax as lang_id_heuristic). Per-row codegen'd
    counters, one aggregation, one tiny window over the matrix itself:
    cost is one corpus scan at any scale."""
    from ecommerce_data_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    en = F.array(*[F.lit(x) for x in ("the", "and", "of", "a")])
    es = F.array(*[F.lit(x) for x in ("el", "la", "de", "y")])
    en_hits = F.size(F.filter(t, lambda x: F.array_contains(en, x)))
    es_hits = F.size(F.filter(t, lambda x: F.array_contains(es, x)))
    from pyspark.sql import Window

    g = docs.select(
        "lang",
        F.when(en_hits >= es_hits, "en").otherwise("es").alias("guessed_lang"),
    )
    counts = g.groupBy("lang", "guessed_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "guessed_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias(
            "lang_share"
        ),
    )


@register(
    "zipf_fit",
    oracle=f"""
    WITH tok AS (SELECT unnest({_SQL_TOKENS}) AS term FROM documents),
    counts AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
    ranked AS (
      SELECT term, freq,
             row_number() OVER (ORDER BY freq DESC, term) AS rnk
      FROM counts
    )
    SELECT count(*) AS n_terms,
           CAST(max(freq) AS BIGINT) AS top_freq,
           round(regr_slope(ln(freq), ln(rnk)), 6) AS zipf_slope,
           round(regr_intercept(ln(freq), ln(rnk)), 6) AS zipf_intercept,
           round(regr_r2(ln(freq), ln(rnk)), 6) AS r2
    FROM ranked
    """,
    tags=("extension", "text", "stats"),
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus token-frequency distribution:
    log-frequency regressed on log-rank (natural text ≈ slope −1;
    boilerplate-heavy or synthetic corpora bend away — a one-row corpus
    health check). Term counting is one map-side-combined aggregation;
    the vocabulary (not the corpus) feeds the ranking window and the
    regression is a single codegen'd reduced aggregate. Deterministic
    ranks: freq desc, term asc."""
    from ecommerce_data_pipeline_spark.operators.text import tokens
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("term"))
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    # global frequency rank WITHOUT a single-reducer window (the repo
    # invariant): bucket-offset ranking à la global_row_ids — each
    # distinct freq is a bucket; a bucket's offset is the count of terms
    # with strictly higher freq (self-join on the tiny per-freq count
    # table), and ranks within a bucket come from a freq-PARTITIONED
    # window ordered by term
    per_freq = counts.groupBy("freq").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = (
        per_freq.alias("hi")
        .join(per_freq.alias("lo"), F.col("lo.freq") > F.col("hi.freq"), "left")
        .groupBy(F.col("hi.freq").alias("freq"))
        .agg(F.coalesce(F.sum("lo.cnt"), F.lit(0)).alias("offset"))
    )
    w = Window.partitionBy("freq").orderBy("term")
    ranked = counts.join(F.broadcast(offsets), "freq").withColumn(
        "rnk", F.row_number().over(w) + F.col("offset")
    )
    lf, lr = F.log(F.col("freq")), F.log(F.col("rnk"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.max("freq").cast("bigint").alias("top_freq"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lf, lr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lf, lr), 6).alias("r2"),
    )


def _pagerank_oracle() -> str:
    """Unrolled-iteration PageRank oracle: fixed rounds → chained CTEs
    (DuckDB disallows aggregates in a recursive CTE's recursive term, so
    the recurrence is unrolled instead — byte-for-byte the same
    computation the Spark loop runs)."""
    iterations, damping = 5, 0.85
    parts = [
        """
    e0 AS (SELECT DISTINCT l.l_suppkey + 10000000 AS id1, o.o_custkey AS id2
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    bidir AS (SELECT id1 AS u, id2 AS v FROM e0
              UNION SELECT id2, id1 FROM e0),
    deg AS (SELECT u AS node, count(*) AS deg FROM bidir GROUP BY u),
    p AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
    r0 AS (SELECT node, deg, 1.0 / (SELECT n FROM p) AS rank FROM deg)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(f"""
    r{i} AS (
      SELECT d.node, d.deg,
             (1.0 - {damping}) / (SELECT n FROM p)
             + {damping} * sum(r.rank / r.deg) AS rank
      FROM bidir b
      JOIN r{i-1} r ON r.node = b.u
      JOIN deg d ON d.node = b.v
      GROUP BY d.node, d.deg
    )""")
    return (
        "WITH" + ",".join(parts)
        + f"""
    SELECT node, CAST(deg AS BIGINT) AS deg, round(rank, 6) AS rank
    FROM r{iterations}
    """
    )


@register(
    "supplier_customer_pagerank",
    oracle=_pagerank_oracle(),
    tags=("extension", "graph", "iterative"),
)
def supplier_customer_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected supplier↔customer trade graph
    (edges = distinct (supplier, customer) pairs through orders) — the
    second iterative-algorithm family next to connected components,
    fully oracle-checked: fixed 5 rounds of the textbook recurrence,
    replayed by the oracle as unrolled CTEs. Per round one node-keyed
    join + one aggregation (operators/graph.py::pagerank); supplier ids
    offset by 1e7 into a shared node-id space."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") + 10000000).alias("id1"),
            F.col("o_custkey").alias("id2"),
        )
        .distinct()
    )
    from ecommerce_data_pipeline_spark.operators.graph import pagerank

    pr = pagerank(edges)
    return pr.select(
        "node",
        F.col("deg").cast("bigint").alias("deg"),
        F.round("rank", 6).alias("rank"),
    )


@register(
    "temperature_resample_weights",
    oracle=f"""
    WITH avail AS (
      SELECT lang, CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n_tokens) AS total FROM avail),
    shares AS (
      SELECT lang, n_tokens,
             n_tokens * 1.0 / (SELECT total FROM tot) AS natural_share,
             pow(n_tokens * 1.0 / (SELECT total FROM tot), 0.3) AS w
      FROM avail
    ),
    wtot AS (SELECT SUM(w) AS wsum FROM shares)
    SELECT lang, n_tokens,
           round(natural_share, 6) AS natural_share,
           round(w / (SELECT wsum FROM wtot), 6) AS temp_share,
           round((w / (SELECT wsum FROM wtot)) / natural_share, 6)
             AS upsample_factor
    FROM shares
    """,
    tags=("extension", "text", "ml-prep"),
)
def temperature_resample_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling (the UniMax/mT5 recipe):
    per-language sampling shares ∝ natural_share^α with α = 0.3 —
    flattening the distribution so low-resource languages are upsampled
    WITHOUT a hand-written target table (contrast curriculum_mix_planner,
    which takes explicit targets). One corpus aggregation; both
    normalizations are broadcast joins against one-row totals (never a
    global window); everything after is per-row arithmetic."""
    from ecommerce_data_pipeline_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    avail = docs.groupBy("lang").agg(
        F.sum(token_count("text")).cast("long").alias("n_tokens")
    )
    total = avail.agg(F.sum("n_tokens").alias("total"))
    shares = avail.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_tokens",
        (F.col("n_tokens") / F.col("total")).alias("natural_share"),
        F.pow(F.col("n_tokens") / F.col("total"), F.lit(0.3)).alias("w"),
    )
    wtot = shares.agg(F.sum("w").alias("wsum"))
    return shares.crossJoin(F.broadcast(wtot)).select(
        "lang",
        "n_tokens",
        F.round("natural_share", 6).alias("natural_share"),
        F.round(F.col("w") / F.col("wsum"), 6).alias("temp_share"),
        F.round((F.col("w") / F.col("wsum")) / F.col("natural_share"), 6).alias(
            "upsample_factor"
        ),
    )


@register(
    "bigram_pmi",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
    uni AS (SELECT unnest(ts) AS w FROM tok),
    uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    un AS (SELECT SUM(c) AS n FROM uc),
    bg AS (SELECT unnest([struct_pack(w1 := ts[i], w2 := ts[i+1])
                          for i in generate_series(1, len(ts)-1)]) AS b
           FROM tok),
    bc AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c FROM bg GROUP BY 1, 2),
    bn AS (SELECT SUM(c) AS n FROM bc)
    SELECT w1, w2, bc.c AS n_pair,
           round(ln((bc.c * 1.0 / (SELECT n FROM bn))
                    / ((u1.c * 1.0 / (SELECT n FROM un))
                       * (u2.c * 1.0 / (SELECT n FROM un)))), 6) AS pmi
    FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w
    ORDER BY n_pair DESC, w1, w2
    LIMIT 20
    """,
    tags=("extension", "text", "ngram", "stats"),
)
def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of the 20 most frequent bigrams —
    the collocation-strength statistic (PMI ≈ 0: independent co-occurrence;
    high PMI: a true collocation; tokenizer-merge and boilerplate-phrase
    signal). Unigram and bigram counts are two map-side-combined
    aggregations over the codegen'd shingle stream; totals broadcast as
    one-row joins; the top-20 is a TakeOrdered. Deterministic ties:
    count desc, then (w1, w2)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = shingle_rows(docs, n=1, distinct=False)
    uc = tok.groupBy(F.col("s").alias("w")).agg(F.count(F.lit(1)).alias("c"))
    un = uc.agg(F.sum("c").alias("n_uni"))
    bg = shingle_rows(docs, n=2, distinct=False).select(
        F.split_part(F.col("s"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("s"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    bn = bc.agg(F.sum("n_pair").alias("n_bg"))
    u1 = uc.withColumnsRenamed({"w": "w1", "c": "c1"})
    u2 = uc.withColumnsRenamed({"w": "w2", "c": "c2"})
    pmi = F.log(
        (F.col("n_pair") / F.col("n_bg"))
        / ((F.col("c1") / F.col("n_uni")) * (F.col("c2") / F.col("n_uni")))
    )
    return (
        bc.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(un))
        .crossJoin(F.broadcast(bn))
        .select("w1", "w2", "n_pair", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.desc("n_pair"), "w1", "w2")
        .limit(20)
    )


@register(
    "heaps_law_fit",
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, unnest({_SQL_TOKENS}) AS w
                 FROM documents),
    per_source AS (
      SELECT source,
             count(*) AS n_tokens,
             count(DISTINCT w) AS vocab
      FROM tok GROUP BY source
    )
    SELECT count(*) AS n_sources,
           round(regr_slope(ln(vocab), ln(n_tokens)), 6) AS heaps_beta,
           round(exp(regr_intercept(ln(vocab), ln(n_tokens))), 6) AS heaps_k,
           round(regr_r2(ln(vocab), ln(n_tokens)), 6) AS r2
    FROM per_source
    """,
    tags=("extension", "text", "stats"),
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit (vocab ≈ K·tokens^β) across sources — the
    vocabulary-growth health check next to zipf_fit: natural text sits
    near β ≈ 0.4–0.6; duplicated or templated sources bend low. One
    tokens-keyed aggregation per source (count + count distinct), then a
    single reduced log-log regression over the |sources|-row relation."""
    docs = load_table(spark, sf_dir, "documents")
    tok = shingle_rows(docs, n=1, distinct=False).withColumnsRenamed(
        {"id": "doc_id"}
    ).join(load_table(spark, sf_dir, "documents").select("doc_id", "source"), "doc_id")
    per_source = tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("s").alias("vocab"),
    )
    lv, lt = F.log(F.col("vocab")), F.log(F.col("n_tokens"))
    return per_source.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.round(F.regr_slope(lv, lt), 6).alias("heaps_beta"),
        F.round(F.exp(F.regr_intercept(lv, lt)), 6).alias("heaps_k"),
        F.round(F.regr_r2(lv, lt), 6).alias("r2"),
    )


@register(
    "doc_char_class_profile",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           round(avg(len(regexp_extract_all(text, '[0-9]'))
                     * 1.0 / greatest(length(text), 1)), 6) AS digit_ratio,
           round(avg(len(regexp_extract_all(text, '[A-Z]'))
                     * 1.0 / greatest(length(text), 1)), 6) AS upper_ratio,
           round(avg(len(regexp_extract_all(text, '[ ]'))
                     * 1.0 / greatest(length(text), 1)), 6) AS space_ratio,
           round(avg(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
                     * 1.0 / greatest(length(text), 1)), 6) AS symbol_ratio
    FROM documents GROUP BY source
    """,
    tags=("extension", "text", "quality"),
)
def doc_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class fingerprint (digit/upper/space/symbol
    density) — the cheap first-pass quality signature that separates
    prose from tables, code, and boilerplate feeds before any
    tokenization. Row-local regexp counters (codegen'd), one
    aggregation by source."""
    docs = load_table(spark, sf_dir, "documents")

    def ratio(pattern):
        n = F.length(F.regexp_replace("text", pattern, ""))
        return (F.length("text") - n) / F.greatest(
            F.length("text"), F.lit(1)
        )

    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(ratio(r"[0-9]")), 6).alias("digit_ratio"),
        F.round(F.avg(ratio(r"[A-Z]")), 6).alias("upper_ratio"),
        F.round(F.avg(ratio(r"[ ]")), 6).alias("space_ratio"),
        F.round(F.avg(ratio(r"[^a-zA-Z0-9 ]")), 6).alias("symbol_ratio"),
    )


@register(
    "bigram_logprob_score",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
    bg AS (SELECT doc_id,
                  unnest([ts[i] || ' ' || ts[i+1]
                          for i in generate_series(1, len(ts)-1)]) AS s
           FROM tok),
    bgc AS (SELECT s, count(*) AS c_bg FROM bg GROUP BY s),
    w1c AS (SELECT split_part(s, ' ', 1) AS w1, count(*) AS c_w1
            FROM bg GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT u.term) AS DOUBLE) AS vsize
          FROM (SELECT unnest(ts) AS term FROM tok) u),
    db AS (SELECT doc_id, s, count(*) AS c_db FROM bg GROUP BY doc_id, s)
    SELECT db.doc_id,
           CAST(SUM(db.c_db) AS BIGINT) AS n_bigrams,
           ROUND(
             list_aggregate(
               list_sort(list(db.c_db * ln((bgc.c_bg + 1) / (w1c.c_w1 + v.vsize)))),
               'sum'
             ) / SUM(db.c_db), 6) AS avg_logprob
    FROM db
    JOIN bgc USING (s)
    JOIN w1c ON split_part(db.s, ' ', 1) = w1c.w1
    CROSS JOIN v
    GROUP BY db.doc_id
    """,
    tags=("extension", "text", "quality", "lm"),
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram log-probability under the corpus's own
    add-one-smoothed bigram language model — the next perplexity proxy up
    from `unigram_logprob_score`: context-sensitive, so it downranks
    word-salad documents whose unigram profile looks normal but whose
    transitions are improbable (shuffled text, keyword stuffing, OCR
    shred), which a unigram model cannot see.

    Model: P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), V = corpus vocab
    size. Model and scoring are one query: corpus bigram counts and
    per-context totals (two hash aggs over the same codegen'd
    posexplode+lead bigram stream), V as a broadcast 1-row aggregate,
    joined back onto per-doc bigram counts (all joins keyed on the bigram
    / context hash — even at corpus scale). The per-doc float sum folds
    in SORTED order on both engines (sort_array+aggregate vs
    list_sort+list_aggregate) so doubles match at 6dp — the
    unigram_logprob_score discipline. Docs with <2 tokens have no
    bigrams and drop out on both sides."""
    bcast = F.broadcast
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        shingle_rows(docs, n=2, distinct=False)
        .withColumnsRenamed({"id": "doc_id"})
        # persist: three consumers (bigram counts, context counts,
        # per-doc counts) — each re-ran the explode+lead otherwise
        .persist()
    )
    bgc = bg.groupBy("s").agg(F.count(F.lit(1)).alias("c_bg"))
    w1 = F.split_part(F.col("s"), F.lit(" "), F.lit(1))
    w1c = (
        bg.select(w1.alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_w1"))
    )
    tok = docs.select(
        F.explode(tokens("text")).alias("term")
    )
    v = tok.select(
        F.count_distinct("term").cast("double").alias("vsize")
    )
    db = bg.groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("c_db"))
    joined = (
        # shuffle_hash pinned: AQE broadcast whichever side's cached
        # stats landed first; both sides grow with the bigram vocabulary
        db.join(bgc.hint("shuffle_hash"), "s")
        .withColumn("w1", w1)
        .join(w1c, "w1")
        .crossJoin(bcast(v))
    )
    term = F.col("c_db") * F.log(
        (F.col("c_bg") + 1) / (F.col("c_w1") + F.col("vsize"))
    )
    return joined.groupBy("doc_id").agg(
        F.sum("c_db").cast("long").alias("n_bigrams"),
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list(term)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.sum("c_db"),
            6,
        ).alias("avg_logprob"),
    )


@register(
    "token_frequency_spectrum",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    cf AS (SELECT term, count(*) AS c FROM tok GROUP BY term)
    SELECT c AS freq,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(c * count(*) AS BIGINT) AS token_mass
    FROM cf GROUP BY c
    """,
    tags=("extension", "text", "vocab"),
)
def token_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies spectrum of the corpus vocabulary: for
    each occurrence count c, how many types occur exactly c times and how
    much token mass they carry. The diagnostic under Good-Turing
    smoothing, tokenizer-vocabulary sizing, and corpus health (a swollen
    hapax band = OCR noise / random ids; a missing one = template text).

    Two chained hash aggregations (term counts → count-of-counts), both
    map-side combined; the result is ~O(√corpus_tokens) rows by
    Zipf's law, so the full spectrum is returned with no top-k cut."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(tokens("text")).alias("term")
    )
    cf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    return cf.groupBy(F.col("c").alias("freq")).agg(
        F.count(F.lit(1)).alias("n_types"),
        (F.col("freq") * F.count(F.lit(1))).alias("token_mass"),
    )


@register(
    "source_overlap_matrix",
    oracle=f"""
    WITH tok AS (SELECT source, {_SQL_TOKENS} AS ts FROM documents),
    ss AS (SELECT DISTINCT source,
                  unnest(list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                        for i in generate_series(1, len(ts)-2)])) AS s
           FROM tok),
    sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
    shared AS (SELECT a.source AS source_a, b.source AS source_b,
                      count(*) AS shared
               FROM ss a JOIN ss b ON a.s = b.s AND a.source <> b.source
               GROUP BY 1, 2)
    SELECT sh.source_a, sh.source_b, sh.shared,
           CAST(za.n AS BIGINT) AS size_a,
           round(sh.shared * 1.0 / za.n, 6) AS overlap_a_in_b
    FROM shared sh JOIN sizes za ON sh.source_a = za.source
    """,
    tags=("extension", "dedup", "contamination"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle-overlap matrix BETWEEN sources: what fraction
    of source A's distinct 3-gram shingles also appear in source B. The
    corpus-curation contamination audit one level above document pairs —
    it surfaces wholesale mirroring/syndication between feeds (drop or
    downweight a source) where per-document thresholds only ever see
    individual pairs.

    Scale shape: the self-join runs on the DISTINCT (source, shingle)
    relation, so per-shingle fan-out is bounded by the number of SOURCES
    sharing it (≤ |sources|², independent of corpus size) — unlike the
    per-document pair join this needs no df cap. Output is the
    |sources|² matrix; both aggregations shuffle on the shingle hash."""
    docs = load_table(spark, sf_dir, "documents")
    # shingle per DOCUMENT (keying shingle_rows on source directly would
    # join token runs across document boundaries), then map doc → source
    sh = shingle_rows(docs, n=3, distinct=True).withColumnsRenamed(
        {"id": "doc_id"}
    )
    ss = (
        # doc_id-keyed join: the (doc_id, source) map is corpus-sized, so
        # broadcasting it contradicts the scale contract — both sides
        # hash on doc_id (AQE may still pick broadcast at small SF)
        sh.join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "s")
        .distinct()
        # persist: three consumers (sizes + both self-join sides) would
        # otherwise each re-run the shingle explode+distinct
        .persist()
    )
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = ss.alias("a"), ss.alias("b")
    shared = (
        a.join(
            # shuffle_hash pinned: AQE broadcast whichever side's cached
            # stats landed first; (source, shingle) grows with the corpus
            b.hint("shuffle_hash"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") != F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            sizes.withColumnsRenamed({"source": "source_a", "n": "size_a"}),
            "source_a",
        )
        .select(
            "source_a",
            "source_b",
            "shared",
            F.col("size_a").cast("long").alias("size_a"),
            F.round(F.col("shared") / F.col("size_a"), 6).alias(
                "overlap_a_in_b"
            ),
        )
    )


@register(
    "cross_doc_substring_dups",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
    w AS (
      SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS win
      FROM tok, unnest(generate_series(1, len(ts) - 7)) AS g(i)
    )
    SELECT md5(win) AS window_md5,
           min(win) AS window_text,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc
    FROM w
    GROUP BY md5(win)
    HAVING count(DISTINCT doc_id) >= 2
    """,
    tags=("extension", "dedup", "text"),
)
def cross_doc_substring_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-granular duplication detection (the ExactSubstr shape of
    Lee et al. 2022, 'Deduplicating Training Data Makes Language Models
    Better'): every 8-token sliding window is keyed and windows occurring
    in ≥2 distinct documents surface as removable duplicated spans —
    catching boilerplate and quotation overlap that document-level
    near-dedup (jaccard ≥ 0.8) never fires on.

    Their suffix-array construction is replaced by the Spark-native
    equivalent: per-row window expansion via the codegen'd
    posexplode+lead shingle path (~n_tokens windows per doc, linear
    fan-out — the array-HOF transform/slice form was measured 2.5×
    slower here, consistent with shingle_rows' 10× finding) followed by
    ONE hash aggregate on the window key. The md5 window key (not the
    window text) is what shuffles at scale; the text rides along here
    for interpretability on an already-tiny group set. Memory is flat:
    no per-doc state, no suffix array."""
    docs = load_table(spark, sf_dir, "documents")
    wins = shingle_rows(docs, n=8, distinct=False).select(
        F.col("id").alias("doc_id"), F.col("s").alias("win")
    )
    return (
        wins.groupBy(F.md5(F.col("win")).alias("window_md5"))
        .agg(
            F.min("win").alias("window_text"),
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "bpe_vocab_learn",
    oracle=None,  # iterative data-dependent merge loop has no SQL twin;
    # tests pin the merge sequence against a naive reference BPE and
    # under repartition (tests/test_text_properties.py)
    tags=("extension", "text", "tokenizer"),
)
def bpe_vocab_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 20 BPE merges from the corpus (Sennrich et al.
    2016): the cluster does the corpus-sized word-type count reduction,
    the driver runs the merge loop on the capped word table — the same
    bounded-collect trainer contract as PQ/IVF/PCA (see operators/bpe.py
    for the scale argument). Output: merge rank, the merged pair, and
    its weighted pair frequency at merge time."""
    from ecommerce_data_pipeline_spark.operators.bpe import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, num_merges=20)
    return spark.createDataFrame(
        [
            (i + 1, a, b, a + b, int(c))
            for i, (a, b, c) in enumerate(merges)
        ],
        "rank int, left string, right string, merged string, pair_count bigint",
    )


@register(
    "bpe_segmentation_stats",
    oracle=None,  # depends on the learned merge table (engine-side state)
    tags=("extension", "text", "tokenizer"),
)
def bpe_segmentation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE vocabulary back to the corpus: per document,
    word-token count vs subword count under 20 merges and the resulting
    compression ratio — the fertility metric a tokenizer team watches
    per language/source slice.

    The application path is distributed the cheap way: ``segment_word``
    runs once per WORD TYPE on the driver (bounded table), and the
    word → subword-count map goes back as a BROADCAST join against the
    exploded token stream — no Python worker touches corpus-sized data,
    and unseen words (beyond the cap at real scale) degrade gracefully
    to the character-count upper bound via coalesce."""
    from ecommerce_data_pipeline_spark.operators.bpe import (
        learn_bpe_merges,
        segment_word,
        word_type_counts,
    )
    from ecommerce_data_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    counts = word_type_counts(docs)  # ONE corpus reduction feeds both
    merges = learn_bpe_merges(docs, num_merges=20, word_counts=counts)
    wmap = [(w, len(segment_word(w, merges))) for w, _ in counts]
    wdf = F.broadcast(
        spark.createDataFrame(wmap, "w string, n_sub int")
    )
    exploded = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    return (
        exploded.join(wdf, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.coalesce(F.col("n_sub"), F.length("w") + F.lit(1))
            ).cast("long").alias("n_subwords"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_subwords",
            F.round(F.col("n_subwords") * F.lit(1.0) / F.col("n_tokens"), 6).alias(
                "subwords_per_token"
            ),
        )
    )


@register(
    "bpe_roundtrip_certificate",
    # Certificate pattern (cf. sketch/pca certificates): the learned
    # merge TABLE is engine-state (rows-only above), but the tokenizer
    # CONTRACT is oracle-gradable — segmentation must be lossless
    # (concat of subwords reconstructs every word), subword counts must
    # sit in [1, chars+1], greedy-max merge counts are provably
    # non-increasing (a new pair's count is bounded by the count of the
    # merge that created it), and 20 merges can only compress the corpus
    # vs the character baseline. The exact corpus totals (word tokens,
    # word types, character-baseline subwords) are computed independently
    # by both engines; any tokenizer defect flips a boolean.
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    t -> t <> '')) AS word
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_word_tokens,
           CAST(count(DISTINCT word) AS BIGINT) AS n_word_types,
           CAST(sum(length(word) + 1) AS BIGINT) AS char_subword_baseline,
           TRUE AS merges_within_requested,
           TRUE AS all_words_roundtrip,
           TRUE AS subword_counts_within_bounds,
           TRUE AS merge_counts_nonincreasing,
           TRUE AS compression_within_bounds
    FROM tok
    """,
    tags=("extension", "text", "tokenizer", "certificate"),
)
def bpe_roundtrip_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-correctness certificate for the BPE trainer
    (operators/bpe.py): driver-side checks run per WORD TYPE on the
    capped table (corpus-size-free, same bounded-collect contract as the
    trainer itself); the corpus totals and the compression bound run
    CLUSTER-side as one broadcast-join + hash aggregate over the token
    stream — no Python touches corpus-sized data."""
    from ecommerce_data_pipeline_spark.operators.bpe import (
        END,
        learn_bpe_merges,
        segment_word,
        word_type_counts,
    )
    from ecommerce_data_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    counts = word_type_counts(docs)  # ONE corpus reduction feeds all
    merges = learn_bpe_merges(docs, num_merges=20, word_counts=counts)
    seg = {w: segment_word(w, merges) for w, _ in counts}
    all_roundtrip = all("".join(s) == w + END for w, s in seg.items())
    bounds_ok = all(1 <= len(s) <= len(w) + 1 for w, s in seg.items())
    mono = all(
        merges[i][2] >= merges[i + 1][2] for i in range(len(merges) - 1)
    )
    wdf = F.broadcast(
        spark.createDataFrame(
            [(w, len(s)) for w, s in seg.items()], "w string, n_sub int"
        )
    )
    exploded = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    agg = (
        exploded.join(wdf, "w", "left")
        .agg(
            F.count(F.lit(1)).alias("n_word_tokens"),
            F.count_distinct("w").alias("n_word_types"),
            F.sum(F.length("w") + F.lit(1))
            .cast("long")
            .alias("char_subword_baseline"),
            F.sum(F.coalesce(F.col("n_sub"), F.length("w") + F.lit(1)))
            .cast("long")
            .alias("total_subwords"),
        )
    )
    # boolean, not the literal count 20: learn_bpe_merges legitimately
    # stops early when no pair remains (degenerate corpora), and a
    # cross-engine `n_merges = 20` column would flag that as a defect
    merges_ok = 0 < len(merges) <= 20
    return agg.select(
        "n_word_tokens",
        "n_word_types",
        "char_subword_baseline",
        F.lit(bool(merges_ok)).alias("merges_within_requested"),
        F.lit(all_roundtrip).alias("all_words_roundtrip"),
        F.lit(bounds_ok).alias("subword_counts_within_bounds"),
        F.lit(mono).alias("merge_counts_nonincreasing"),
        (
            (F.col("total_subwords") >= F.col("n_word_tokens"))
            & (F.col("total_subwords") <= F.col("char_subword_baseline"))
        ).alias("compression_within_bounds"),
    )


_SQL_SPLIT80 = (
    "((" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('split#' || CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (14 - i)}"
        for i in range(15)
    ) + ") % 100)"
)


@register(
    "bigram_heldout_logprob",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, {_SQL_SPLIT80} AS b FROM documents),
    tok AS (SELECT doc_id, b, {_SQL_TOKENS} AS ts FROM d),
    bg AS (SELECT doc_id, b,
                  unnest([ts[i] || ' ' || ts[i+1]
                          for i in generate_series(1, len(ts)-1)]) AS s
           FROM tok),
    bgc AS (SELECT s, count(*) AS c_bg FROM bg WHERE b < 80 GROUP BY s),
    w1c AS (SELECT split_part(s, ' ', 1) AS w1, count(*) AS c_w1
            FROM bg WHERE b < 80 GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT u.term) AS DOUBLE) AS vsize
          FROM (SELECT unnest(ts) AS term FROM tok WHERE b < 80) u),
    db AS (SELECT doc_id, s, count(*) AS c_db
           FROM bg WHERE b >= 80 GROUP BY doc_id, s)
    SELECT db.doc_id,
           CAST(SUM(db.c_db) AS BIGINT) AS n_bigrams,
           ROUND(
             list_aggregate(
               list_sort(list(db.c_db * ln((coalesce(bgc.c_bg, 0) + 1)
                                           / (coalesce(w1c.c_w1, 0) + v.vsize)))),
               'sum'
             ) / SUM(db.c_db), 6) AS avg_logprob
    FROM db
    LEFT JOIN bgc USING (s)
    LEFT JOIN w1c ON split_part(db.s, ' ', 1) = w1c.w1
    CROSS JOIN v
    GROUP BY db.doc_id
    """,
    tags=("extension", "text", "quality", "lm", "ml-prep"),
)
def bigram_heldout_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT language-model evaluation: the add-one-smoothed bigram LM
    is estimated on the hash-80% TRAIN split only and scores the 20%
    TEST split's documents — the eval-hygiene twin of
    `bigram_logprob_score` (which scores the corpus under its own LM and
    therefore flatters memorized text). Unseen test bigrams/contexts
    take the smoothed floor via LEFT joins + coalesce(0) instead of the
    in-corpus version's inner joins; the split is the same engine-
    portable md5-polynomial used by hash_split_train_test, so a doc's
    split never changes as the corpus grows. Same sorted-fold float
    discipline; the whole model fit + eval is two hash aggs, a broadcast
    vocab scalar, and two left joins keyed on the bigram/context."""
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60

    bcast = F.broadcast
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_b", _hash60(F.col("doc_id"), "split#") % 100
    )
    train = docs.filter(F.col("_b") < 80)
    test = docs.filter(F.col("_b") >= 80)
    bg_train = (
        shingle_rows(train, n=2, distinct=False)
        .withColumnsRenamed({"id": "doc_id"})
        .persist()  # feeds bigram AND context counts
    )
    bgc = bg_train.groupBy("s").agg(F.count(F.lit(1)).alias("c_bg"))
    w1 = F.split_part(F.col("s"), F.lit(" "), F.lit(1))
    w1c = (
        bg_train.select(w1.alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_w1"))
    )
    v = (
        train.select(F.explode(tokens("text")).alias("term"))
        .select(F.count_distinct("term").cast("double").alias("vsize"))
    )
    db = (
        shingle_rows(test, n=2, distinct=False)
        .withColumnsRenamed({"id": "doc_id"})
        .groupBy("doc_id", "s")
        .agg(F.count(F.lit(1)).alias("c_db"))
    )
    joined = (
        db.join(bgc, "s", "left")
        .withColumn("w1", w1)
        .join(w1c, "w1", "left")
        .crossJoin(bcast(v))
    )
    term = F.col("c_db") * F.log(
        (F.coalesce(F.col("c_bg"), F.lit(0)) + 1)
        / (F.coalesce(F.col("c_w1"), F.lit(0)) + F.col("vsize"))
    )
    return joined.groupBy("doc_id").agg(
        F.sum("c_db").cast("long").alias("n_bigrams"),
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list(term)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.sum("c_db"),
            6,
        ).alias("avg_logprob"),
    )


_OOV_VOCAB_K = 10


@register(
    "oov_rate_by_source",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    freq AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
    vocab AS (
      SELECT term FROM freq
      QUALIFY row_number() OVER (ORDER BY cnt DESC, term ASC) <= {_OOV_VOCAB_K}
    )
    SELECT tok.source,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           round(CAST(SUM(CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS oov_rate
    FROM tok LEFT JOIN vocab ON tok.term = vocab.term
    GROUP BY tok.source
    """,
    tags=("extension", "text", "tokenizer"),
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary occurrence rate per source against the corpus
    top-10 (_OOV_VOCAB_K) vocabulary — the tokenizer-coverage gate: a source
    whose token mass falls outside the planned vocabulary will fragment
    into long subword sequences (fertility blow-up) or <unk> mass.

    Vocabulary selection is deterministic (count desc, term asc) and runs
    as orderBy+limit — TakeOrderedAndProject, distributed top-k. The
    vocab is broadcast back onto the token stream (vocabulary-sized by
    construction); per-source aggregation is one hash agg. The only float
    is the final rate division, 6dp.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("term"))
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(_OOV_VOCAB_K)
        .select("term", F.lit(1).alias("_in_vocab"))
    )
    oov_flag = F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov_flag).cast("bigint").alias("n_oov"),
            F.round(
                F.sum(oov_flag).cast("double") / F.count(F.lit(1)), 6
            ).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every raw document
# by how much more likely its hashed-unigram features are under the
# TARGET domain's feature distribution than under the raw pool's.
_DSIR_B = 512  # hashed-feature buckets: bounds model state at ANY corpus size
_DSIR_SALT = "dsir1#"
_DSIR_TARGET_LANG = "en"


def _dsir_sql_poly() -> str:
    from ecommerce_data_pipeline_spark.plans.sketches import _sql_poly

    return _sql_poly("h")


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    feat AS (
      SELECT doc_id, lang, md5('{_DSIR_SALT}' || term) AS h FROM tok
    ),
    fb AS (
      SELECT doc_id, lang, ({_dsir_sql_poly()}) % {_DSIR_B} AS b FROM feat
    ),
    docb AS (
      SELECT doc_id, lang, b, COUNT(*) AS c FROM fb GROUP BY doc_id, lang, b
    ),
    bl AS (
      SELECT b, SUM(c) AS rc,
             COALESCE(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN c END), 0) AS tc
      FROM docb GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(rc) AS DOUBLE) AS r_total,
             CAST(SUM(tc) AS DOUBLE) AS t_total
      FROM bl
    ),
    lw AS (
      SELECT bl.b,
             round(ln((bl.tc + 1.0) / (tot.t_total + {_DSIR_B}))
                   - ln((bl.rc + 1.0) / (tot.r_total + {_DSIR_B})), 9) AS w
      FROM bl CROSS JOIN tot
    )
    SELECT docb.doc_id,
           CAST(SUM(docb.c) AS BIGINT) AS n_tokens,
           round(list_aggregate(list_sort(list(docb.c * lw.w)), 'sum'), 6)
             AS log_importance,
           round(list_aggregate(list_sort(list(docb.c * lw.w)), 'sum'), 6) > 0.0
             AS target_like
    FROM docb JOIN lw ON docb.b = lw.b
    GROUP BY docb.doc_id
    """,
    tags=("extension", "text", "curation", "llm-data"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: log p_target(doc) - p_raw(doc) under two
    smoothed hashed-unigram bag models (target = the 'en' slice, raw =
    the whole pool), the importance-resampling score used to upsample
    raw web data toward a target domain before LLM pretraining. Output:
    per doc the token count, the log importance weight, and the
    `target_like` selection flag (weight > 0 = more target-like than
    the pool average; the resampling step would draw by this weight).

    Scale shape: ONE tokenize+digest pass over the corpus, reduced
    immediately to per-(doc, bucket) counts (≤ docs x 512 rows however
    long the documents are); bucket-level model state is 512 rows by
    construction (the hashing trick bounds it at ANY corpus size), so
    the per-doc scoring join broadcasts the model. No global window:
    selection is the data-parallel weight>0 flag, not a corpus-wide
    rank. Docs whose text yields zero [a-z0-9] tokens (e.g. pure-CJK)
    have no features and are absent, matching the oracle.

    Engine parity: the feature hash is the portable 60-bit md5
    polynomial (plans/sketches.py::_poly_from_hex; at 100 TB swap for
    xxhash64 — same contract as hash_split_train_test). Each bucket's
    log-ratio is rounded to 9dp BEFORE the per-doc fold (ln last-ulp
    discipline, precedent: weighted_sample_orders) and the fold runs in
    sorted order, so the 6dp outputs and the weight>0 flag match
    bit-wise.
    """
    from pyspark.sql.functions import broadcast

    from ecommerce_data_pipeline_spark.plans.sketches import (
        _digest,
        _poly_from_hex,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("term")
    )
    # r13 (guide §2.3, dictionary-encode): hash the VOCABULARY once, not
    # every token instance — the md5+conv digest runs over distinct
    # terms (vocab-bounded at any corpus size) and maps back onto the
    # token stream via a broadcast join, instead of per exploded row.
    # Same bucket per term, so docb is row-identical (probed at sf0.1:
    # 109,959 rows equal; docb materialization 1.47 s -> 0.86 s).
    vmap = (
        tok.select("term")
        .distinct()
        .select(
            "term",
            (
                _poly_from_hex(_digest(F.col("term"), _DSIR_SALT)) % _DSIR_B
            ).alias("b"),
        )
    )
    fb = tok.join(F.broadcast(vmap), "term")
    # Aggregation pyramid: per-(doc,bucket) counts feed BOTH the bucket
    # model and the final scoring join — one pass over the exploded
    # tokens, persisted at its smallest shape.
    docb = (
        fb.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    bl = docb.groupBy("b").agg(
        F.sum("c").alias("rc"),
        F.coalesce(
            F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, F.col("c"))),
            F.lit(0),
        ).alias("tc"),
    )
    tot = bl.agg(
        F.sum("rc").cast("double").alias("r_total"),
        F.sum("tc").cast("double").alias("t_total"),
    )
    lw = bl.crossJoin(broadcast(tot)).select(
        "b",
        F.round(
            F.log((F.col("tc") + 1.0) / (F.col("t_total") + _DSIR_B))
            - F.log((F.col("rc") + 1.0) / (F.col("r_total") + _DSIR_B)),
            9,
        ).alias("w"),
    )
    logw = F.round(
        F.aggregate(
            F.sort_array(F.collect_list(F.col("c") * F.col("w"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    return (
        docb.join(broadcast(lw), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            # fold once; the flag derives from the aggregated column so
            # the sorted collect_list isn't evaluated twice
            logw.alias("log_importance"),
        )
        .withColumn("target_like", F.col("log_importance") > 0.0)
    )


_DP_TOP_TERMS = 20


@register(
    "term_dispersion_dp",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS n_s FROM tok GROUP BY source),
    n AS (SELECT SUM(n_s) AS n_total FROM sizes),
    tf AS (SELECT term, source, COUNT(*) AS f_ts FROM tok GROUP BY 1, 2),
    top AS (
      SELECT term, SUM(f_ts) AS f_t FROM tf GROUP BY term
      QUALIFY ROW_NUMBER() OVER (ORDER BY SUM(f_ts) DESC, term ASC)
              <= {_DP_TOP_TERMS}
    ),
    grid AS (
      SELECT top.term, top.f_t, sizes.source, sizes.n_s,
             coalesce(tf.f_ts, 0) AS f_ts
      FROM top CROSS JOIN sizes
      LEFT JOIN tf ON tf.term = top.term AND tf.source = sizes.source
    )
    SELECT term,
           CAST(MAX(f_t) AS BIGINT) AS freq,
           ROUND(0.5 * CAST(SUM(ABS(CAST(f_ts AS HUGEINT) * n.n_total
                                    - CAST(n_s AS HUGEINT) * f_t))
                            AS DOUBLE)
                 / (MAX(f_t) * CAST(MAX(n.n_total) AS DOUBLE)), 6) AS dp
    FROM grid CROSS JOIN n
    GROUP BY term
    """,
    tags=("extension", "text", "corpus-stats"),
)
def term_dispersion_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' DP (deviation of proportions) dispersion for the corpus
    top-20 terms: how unevenly a term spreads across sources relative
    to the sources' token-mass shares — DP = 0.5 * sum over sources of
    |term-share - size-share|, 0 = perfectly proportional, ->1 =
    concentrated in one source. The corpus-linguistics complement to
    raw frequency: a high-frequency term with high DP is a
    source-idiosyncrasy (boilerplate, one crawl's artifact), not
    general vocabulary — exactly what a curation pass wants to catch
    before it pollutes a sampled training mix.

    Exactness: the proportion gap is cross-multiplied into integers
    (|f_ts*N - n_s*F_t|, DECIMAL(38,0)/HUGEINT carry), summed exactly,
    with ONE division + halving at the end. The term x source grid is
    dense (top-terms x sources, with zero-count cells contributing the
    full size share), top-K x source-count rows at any corpus size.
    Scale: one tokenize pass -> (term, source) hash agg; the top-K is
    TakeOrderedAndProject; the grid is a broadcast cross of two tiny
    relations.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("term", "source").agg(
        F.count(F.lit(1)).alias("f_ts")
    ).persist()  # feeds sizes, the top-K, and the grid fill
    sizes = tf.groupBy("source").agg(F.sum("f_ts").alias("n_s"))
    n = sizes.agg(F.sum("n_s").alias("n_total"))
    top = (
        tf.groupBy("term")
        .agg(F.sum("f_ts").alias("f_t"))
        .orderBy(F.desc("f_t"), F.asc("term"))
        .limit(_DP_TOP_TERMS)
    )
    grid = (
        top.crossJoin(F.broadcast(sizes))
        .join(tf, ["term", "source"], "left")
        .select(
            "term",
            "f_t",
            "n_s",
            F.coalesce("f_ts", F.lit(0)).alias("f_ts"),
        )
    )
    gap = F.abs(
        F.col("f_ts").cast("decimal(38,0)") * F.col("n_total")
        - F.col("n_s").cast("decimal(38,0)") * F.col("f_t")
    )
    return (
        grid.crossJoin(F.broadcast(n))
        .groupBy("term")
        .agg(
            F.max("f_t").cast("long").alias("freq"),
            F.round(
                F.lit(0.5)
                * F.sum(gap).cast("double")
                / (F.max("f_t") * F.max("n_total").cast("double")),
                6,
            ).alias("dp"),
        )
    )


@register(
    "quantile_normalize_doclen",
    oracle="""
    WITH src AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n_s
      FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM documents),
    hist AS (
      SELECT n_chars AS v, COUNT(*) AS cnt FROM documents GROUP BY 1
    ),
    ranges AS (
      SELECT v,
             COALESCE(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
               AS lo,
             SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
      FROM hist
    ),
    pooled AS (
      SELECT CAST(unnest(generate_series(CAST(lo AS BIGINT),
                                         CAST(hi AS BIGINT))) AS BIGINT) AS k,
             v
      FROM ranges
    ),
    mapped AS (
      SELECT src.doc_id, src.source, src.n_chars,
             CAST(ceil(CAST((2 * src.r - 1) * tot.n AS DOUBLE)
                       / (2 * src.n_s)) AS BIGINT) AS k
      FROM src CROSS JOIN tot
    )
    SELECT mapped.doc_id, mapped.source, mapped.n_chars,
           pooled.v AS normalized_chars
    FROM mapped JOIN pooled ON mapped.k = pooled.k
    """,
    tags=("extension", "text", "ml-prep", "normalization"),
)
def quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length across sources: every
    doc's n_chars is replaced by the POOLED distribution's value at the
    doc's within-source quantile (midpoint convention k =
    ceil((2r-1)N/(2n_s))) — the batch-effect correction that puts
    sources with systematically different length profiles on one scale
    before length-based quality gates fire (the bioinformatics
    quantile-normalization standard applied to corpus curation).

    Fully distributed with NO range join: the pooled inverse-CDF is
    materialized as one row per RANK by exploding each distinct-value
    histogram row across its cumulative-rank span (linear total volume
    — exactly N rows), so the lookup is a plain equi-join on the rank.
    Ranks are exact integers (windows partitioned by source / over the
    value histogram); the midpoint mapping is the only float, and
    ceil of an exact ratio of integers is engine-identical. Output is a
    full-corpus transformation (one row per doc), the engine's
    feature-transformer shape.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    ).persist()  # feeds ranks, totals, and the histogram
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    src = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w_src).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_s"),
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    hist = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_ord = Window.orderBy("v")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranges = hist.select(
        "v",
        (F.coalesce(F.sum("cnt").over(w_prev), F.lit(0)) + 1).alias("lo"),
        F.sum("cnt").over(w_run).alias("hi"),
    )
    pooled = ranges.select(
        F.explode(F.sequence("lo", "hi")).alias("k"), "v"
    )
    k = F.ceil(
        ((2 * F.col("r") - 1) * F.col("n")).cast("double")
        / (2 * F.col("n_s"))
    ).cast("long")
    mapped = src.crossJoin(F.broadcast(tot)).select(
        "doc_id", "source", "n_chars", k.alias("k")
    )
    return mapped.join(pooled, "k").select(
        "doc_id",
        "source",
        "n_chars",
        F.col("v").alias("normalized_chars"),
    )


@register(
    "vocab_coverage_curve",
    # Deterministic ranks: freq desc, term asc (the zipf_fit tie-break).
    # Every output is an integer sum or one exact division, so no float
    # discipline is needed anywhere.
    oracle=f"""
    WITH tok AS (SELECT unnest({_SQL_TOKENS}) AS term FROM documents),
    counts AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
    ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, term) AS rnk
      FROM counts
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vocab,
           CAST(SUM(freq) AS BIGINT) AS total_tokens,
           round(SUM(freq) FILTER (rnk <= 10) * 1.0 / SUM(freq), 6)
             AS cov_10,
           round(SUM(freq) FILTER (rnk <= 100) * 1.0 / SUM(freq), 6)
             AS cov_100,
           round(SUM(freq) FILTER (rnk <= 1000) * 1.0 / SUM(freq), 6)
             AS cov_1000,
           round(SUM(freq) FILTER (rnk <= 10000) * 1.0 / SUM(freq), 6)
             AS cov_10000
    FROM ranked
    """,
    tags=("extension", "text", "tokenizer"),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the share of total corpus token mass
    covered by the top-{10, 100, 1k, 10k} most frequent terms — the
    first chart a tokenizer design reads (where the curve saturates is
    where growing the vocab stops buying compression; a curve that
    saturates too early says the corpus is boilerplate-heavy).

    Term counting is one map-side-combined fact-scale aggregation.
    After that NOTHING touches individual terms: every term in a
    frequency bucket contributes the same mass, so the top-k cut needs
    only (freq, bucket size, bucket rank-offset) — a bucket with offset
    o and size c has min(c, max(0, k−o)) of its terms inside any top-k.
    This kills the per-term rank window entirely (the freq=1 hapax
    bucket is ~half the VOCABULARY — at corpus scale that window
    partition is a single-task sort; zipf_fit still pays it because its
    regression genuinely needs per-term ranks, this query does not).
    The whole curve is one aggregate over the ~|distinct freq|-row
    bucket grid. Rank ties are irrelevant by construction — any
    tie-break yields the same mass."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("term"))
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    per_freq = counts.groupBy("freq").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = (
        per_freq.alias("hi")
        .join(per_freq.alias("lo"), F.col("lo.freq") > F.col("hi.freq"), "left")
        .groupBy(F.col("hi.freq").alias("freq"))
        .agg(F.coalesce(F.sum("lo.cnt"), F.lit(0)).alias("offset"))
    )
    grid = per_freq.join(F.broadcast(offsets), "freq")

    def cov(k: int):
        in_topk = F.least(
            F.col("cnt"), F.greatest(F.lit(0).cast("long"), F.lit(k) - F.col("offset"))
        )
        return F.round(
            F.sum(F.col("freq") * in_topk)
            / F.sum(F.col("freq") * F.col("cnt")),
            6,
        ).alias(f"cov_{k}")

    return grid.agg(
        F.sum("cnt").cast("bigint").alias("n_vocab"),
        F.sum(F.col("freq") * F.col("cnt")).cast("bigint").alias(
            "total_tokens"
        ),
        cov(10),
        cov(100),
        cov(1000),
        cov(10000),
    )


# ---------------------------------------------------------------------------
# Mixture-convergence monitor (r12 batch 4) — the STRATIFIED-MIX audit a
# training-data loader runs while a corpus streams in: after each
# arrival batch, how far is the CUMULATIVE per-source mixture from the
# planned target mixture (L1 distance in exact integer micros), and
# which source deviates most. Its incremental twin is
# ``streaming/pipeline.py::mixture_monitor_stream`` (same integer
# arithmetic folded one batch at a time; stream == batch pinned in
# tests/test_round12.py).

# Arrival-batch width in doc_ids. Deliberately NOT a multiple of the
# fixture's 20-source round-robin period, so interior batches carry
# nonzero deviations (a multiple would make every checkpoint trivially
# uniform and the query trivially green).
_MIX_BATCH_DOCS = 37


@register(
    "mixture_convergence_monitor",
    # ZERO floats anywhere: shares are rounded to integer micros with
    # the exact rational half-up rule round(p/q) = (2p + q) // (2q)
    # (p, q > 0), computed in HUGEINT/DECIMAL(38,0), so every column is
    # an exact integer and the driver hash cannot see float noise. The
    # target mixture is the full-corpus share (the "plan" the loader
    # was given); dev(b, s) = cum_share_micros - tgt_micros over the
    # DENSE batch x source grid (a source unseen by batch b still
    # contributes |-tgt| to the L1 — the chi_square zero-cell lesson).
    oracle=f"""
    WITH cells AS MATERIALIZED (
      SELECT doc_id // {_MIX_BATCH_DOCS} AS batch_id, source,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2
    ),
    srcs AS (SELECT source, SUM(cnt) AS total_s FROM cells GROUP BY source),
    tot AS (SELECT SUM(cnt) AS total FROM cells),
    tgt AS (
      SELECT source,
             (2 * 1000000 * CAST(total_s AS HUGEINT) + tot.total)
               // (2 * tot.total) AS tgt_micros
      FROM srcs CROSS JOIN tot
    ),
    batches AS (SELECT batch_id, SUM(cnt) AS bsize FROM cells GROUP BY batch_id),
    grid AS (
      SELECT b.batch_id, s.source, COALESCE(c.cnt, 0) AS cnt
      FROM batches b CROSS JOIN srcs s
      LEFT JOIN cells c ON c.batch_id = b.batch_id AND c.source = s.source
    ),
    cum AS (
      SELECT batch_id, source,
             SUM(cnt) OVER (PARTITION BY source ORDER BY batch_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
      FROM grid
    ),
    ctot AS (
      SELECT batch_id,
             SUM(bsize) OVER (ORDER BY batch_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_total
      FROM batches
    ),
    dev AS (
      SELECT cum.batch_id, cum.source, ctot.cum_total,
             (2 * 1000000 * CAST(cum.cum_cnt AS HUGEINT) + ctot.cum_total)
               // (2 * ctot.cum_total)
             - tgt.tgt_micros AS dev_micros
      FROM cum
      JOIN ctot ON cum.batch_id = ctot.batch_id
      JOIN tgt ON cum.source = tgt.source
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY batch_id
                 ORDER BY ABS(dev_micros) DESC, source) AS rn
      FROM dev
    ),
    l1 AS (
      SELECT batch_id, CAST(MAX(cum_total) AS BIGINT) AS n_docs_cum,
             CAST(SUM(ABS(dev_micros)) AS BIGINT) AS l1_dev_micros
      FROM dev GROUP BY batch_id
    )
    SELECT CAST(l1.batch_id AS BIGINT) AS batch_id, l1.n_docs_cum,
           l1.l1_dev_micros,
           r.source AS max_dev_source,
           CAST(ABS(r.dev_micros) AS BIGINT) AS max_abs_dev_micros
    FROM l1 JOIN ranked r ON l1.batch_id = r.batch_id AND r.rn = 1
    """,
    tags=("extension", "curation", "monitoring", "mixture"),
)
def mixture_convergence_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arrival-batch mixture convergence report: cumulative
    per-source share vs the planned target mixture (the full-corpus
    share), as exact integer micros — L1 deviation and the worst source
    per batch. The report a stratified data loader reads to decide
    whether the stream needs rebalancing before training starts.

    Exactness: pure integer arithmetic end to end — shares round to
    micros with the rational half-up rule (2p + q) // (2q) in
    DECIMAL(38,0)/HUGEINT; deviations, L1 sums, and the argmax
    (|dev| desc, source asc) are integer/string comparisons.

    Scale shape: one fact-pass hash aggregate to the (batch x source)
    cell table (localCheckpointed — feeds targets, the grid, and batch
    sizes), a dense grid join, one per-source prefix window over the
    batch axis and one batch-axis running total (both bounded by the
    arrival calendar, not the corpus), then metadata-scale joins. The
    streaming twin folds the same integers one batch at a time with
    O(#sources) state."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.groupBy(
            # exact integer floor — keeps the "pure integer arithmetic
            # end to end" discipline literal (F.floor(x / int) is a
            # double division; exact below 2^53 but inconsistent with
            # the exact_floor_div rule the same plan relies on)
            exact_floor_div(F.col("doc_id"), F.lit(_MIX_BATCH_DOCS))
            .cast("long")
            .alias("batch_id"),
            "source",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint()  # feeds srcs/tot/batches/grid
    )
    srcs = cells.groupBy("source").agg(F.sum("cnt").alias("total_s"))
    tot = cells.agg(F.sum("cnt").alias("total"))

    from ecommerce_data_pipeline_spark.plans._helpers import (
        half_up_ratio_units,
    )

    def half_up_micros(p, q):
        # exact integer division — F.floor(decimal / decimal) rounds the
        # quotient to scale 6 HALF_UP before the floor and lands one
        # micro high near .9999995 boundaries (r12 review finding)
        return half_up_ratio_units(p, q, 1_000_000)

    tgt = srcs.crossJoin(F.broadcast(tot)).select(
        "source",
        half_up_micros(F.col("total_s"), F.col("total")).alias("tgt_micros"),
    )
    batches = cells.groupBy("batch_id").agg(F.sum("cnt").alias("bsize"))
    grid = (
        batches.crossJoin(F.broadcast(srcs.select("source")))
        .join(cells, ["batch_id", "source"], "left")
        .select(
            "batch_id",
            "source",
            F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cnt"),
        )
    )
    w_cum = Window.partitionBy("source").orderBy("batch_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        "batch_id", "source", F.sum("cnt").over(w_cum).alias("cum_cnt")
    )
    w_tot = Window.orderBy("batch_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ctot = batches.select(
        "batch_id", F.sum("bsize").over(w_tot).alias("cum_total")
    )
    dev = (
        cum.join(ctot, "batch_id")
        .join(F.broadcast(tgt), "source")
        .select(
            "batch_id",
            "source",
            "cum_total",
            (
                half_up_micros(F.col("cum_cnt"), F.col("cum_total"))
                - F.col("tgt_micros")
            ).alias("dev_micros"),
        )
    )
    w_rank = Window.partitionBy("batch_id").orderBy(
        F.abs(F.col("dev_micros")).desc(), F.asc("source")
    )
    ranked = dev.withColumn("rn", F.row_number().over(w_rank)).filter(
        F.col("rn") == 1
    )
    l1 = dev.groupBy("batch_id").agg(
        F.max("cum_total").cast("long").alias("n_docs_cum"),
        F.sum(F.abs(F.col("dev_micros"))).cast("long").alias("l1_dev_micros"),
    )
    return l1.join(ranked, "batch_id").select(
        F.col("batch_id").cast("long").alias("batch_id"),
        "n_docs_cum",
        "l1_dev_micros",
        F.col("source").alias("max_dev_source"),
        F.abs(F.col("dev_micros")).cast("long").alias("max_abs_dev_micros"),
    )


@register(
    "mixture_monitor_stream_certificate",
    # The streaming mixture monitor graded end-to-end as driver signal
    # (the streaming_flagship_certificate pattern): the arrival-batch
    # cells stream file-per-trigger through the stateful fold, the
    # union of emitted rows is set-diffed BOTH directions against the
    # batch twin's relation, and a post-drain availableNow restart must
    # append nothing. n_batches/n_docs are data-derived (the oracle
    # recomputes them from documents), so the row is non-trivial; any
    # fold/frontier/state-restore defect flips a boolean -> driver hash
    # mismatch. Eager by design: the streaming run and the set-diffs
    # happen at call time; the returned relation is the certificate.
    oracle=f"""
    SELECT (SELECT CAST(COUNT(DISTINCT doc_id // {_MIX_BATCH_DOCS}) AS BIGINT)
            FROM documents) AS n_batches,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           TRUE AS stream_equals_batch,
           TRUE AS replay_stable
    """,
    tags=("streaming", "mixture", "certificate", "eager"),
)
def mixture_monitor_stream_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drain the per-(batch, source) arrival cells through
    ``streaming/pipeline.py::mixture_monitor_stream`` (3 file-per-
    trigger chunks of whole batches, landed in arrival order) and grade
    the emitted relation against ``mixture_convergence_monitor``'s
    batch relation plus a replay-stability restart (see oracle
    comment). The target mixture is derived batch-side with the same
    exact rational rule and handed to the fold as the plan target —
    the deployment contract."""
    import os
    import tempfile

    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        fold_landing,
        land_chunks,
        mixture_monitor_stream,
    )
    from pyspark.sql import Row
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.groupBy(
            # exact integer floor — keeps the "pure integer arithmetic
            # end to end" discipline literal (F.floor(x / int) is a
            # double division; exact below 2^53 but inconsistent with
            # the exact_floor_div rule the same plan relies on)
            exact_floor_div(F.col("doc_id"), F.lit(_MIX_BATCH_DOCS))
            .cast("long")
            .alias("batch_id"),
            "source",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    )  # bounded: batches x sources (arrival calendar x taxonomy)
    totals: dict[str, int] = {}
    for r in cells:
        totals[r["source"]] = totals.get(r["source"], 0) + int(r["cnt"])
    total = sum(totals.values())
    target = {
        s: (2 * 1_000_000 * t + total) // (2 * total)
        for s, t in totals.items()
    }
    batches = sorted({int(r["batch_id"]) for r in cells})
    n = len(batches)
    cuts = [
        set(batches[: n // 3]),
        set(batches[n // 3 : 2 * n // 3]),
        set(batches[2 * n // 3 :]),
    ]
    schema = StructType(
        [
            StructField("batch_id", LongType()),
            StructField("source", StringType()),
            StructField("cnt", LongType()),
        ]
    )

    def monitor(stream: DataFrame) -> DataFrame:
        return mixture_monitor_stream(stream, target)

    with tempfile.TemporaryDirectory(prefix="mix_monitor_cert_") as root:
        landing, out, ckpt = (
            os.path.join(root, d) for d in ("landing", "out", "ckpt")
        )
        land_chunks(
            [
                [
                    (int(r["batch_id"]), r["source"], int(r["cnt"]))
                    for r in cells
                    if int(r["batch_id"]) in cut
                ]
                for cut in cuts
                if cut
            ],
            schema,
            landing,
        )
        streamed = fold_landing(spark, monitor, landing, schema, out, ckpt)
        n_rows_first = streamed.count()
        batch_rel = mixture_convergence_monitor(spark, sf_dir)
        stream_equals_batch = rows_equal(streamed, batch_rel)
        # post-saturation restart: must append nothing
        replay_stable = (
            fold_landing(spark, monitor, landing, schema, out, ckpt).count()
            == n_rows_first
        )
    return spark.createDataFrame(
        [
            Row(
                n_batches=n,
                n_docs=total,
                stream_equals_batch=bool(stream_equals_batch),
                replay_stable=bool(replay_stable),
            )
        ],
        "n_batches bigint, n_docs bigint, stream_equals_batch boolean, "
        "replay_stable boolean",
    )


# --- streaming decontamination monitor (r13) --------------------------------
# Benchmark = the first _DECON_BENCH_DOCS documents (the convention
# contamination_ngram_overlap pins at doc_id < 25), assembled in shards
# of _DECON_SHARD_DOCS docs. A corpus document is contaminated at shard
# b if it shares a 5-gram with a benchmark gram FIRST exposed by shard
# b' <= b. Eval suites are tiny next to a training corpus, so the gram
# index is broadcast-side; the corpus side is one shingle pass + one
# broadcast join + a doc-keyed aggregate — linear, no shuffle beyond
# the doc-keyed agg, scale-safe at any corpus size.
_DECON_SHARD_DOCS = 5
_DECON_BENCH_DOCS = 25

_DECON_SQL_GRAMS = f"""
    d AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    g AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')))) AS s
      FROM d WHERE len(toks) >= 5),
    bench AS MATERIALIZED (
      SELECT s, MIN(doc_id // {_DECON_SHARD_DOCS}) AS shard_id
      FROM g WHERE doc_id < {_DECON_BENCH_DOCS} GROUP BY s),
    hits AS (
      SELECT g.doc_id, MIN(b.shard_id) AS first_shard
      FROM g JOIN bench b USING (s)
      WHERE g.doc_id >= {_DECON_BENCH_DOCS} GROUP BY g.doc_id)
"""


def _decon_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct candidate contamination hits ``(shard_id, doc_id)``:
    corpus documents sharing a distinct 5-gram with the benchmark,
    attributed to the shard that FIRST exposes that gram (the dedup a
    live pipeline applies so re-exposed grams don't re-alert)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = shingle_rows(docs, n=5, distinct=True)
    bench = (
        grams.filter(F.col("id") < _DECON_BENCH_DOCS)
        .groupBy("s")
        .agg(
            F.min(
                exact_floor_div(F.col("id"), F.lit(_DECON_SHARD_DOCS))
            )
            .cast("long")
            .alias("shard_id")
        )
    )
    return (
        grams.filter(F.col("id") >= _DECON_BENCH_DOCS)
        .join(F.broadcast(bench), "s")
        .select("shard_id", F.col("id").alias("doc_id"))
        .distinct()
    )


def _decon_curve(
    spark: SparkSession, sf_dir: str, hits: DataFrame
) -> DataFrame:
    """Dense per-shard contamination growth curve from a ``(doc_id,
    first_shard)`` hits relation: every benchmark shard gets a row
    (zero-new shards included — the chi-square dense-grid lesson), with
    running benchmark-size and contaminated-doc totals. The ordered
    windows run over the SHARD spine — bounded by benchmark size /
    shard size, never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.filter(F.col("doc_id") < _DECON_BENCH_DOCS)
        .groupBy(
            exact_floor_div(F.col("doc_id"), F.lit(_DECON_SHARD_DOCS))
            .cast("long")
            .alias("shard_id")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("nb"))
    )
    per = hits.groupBy(F.col("first_shard").alias("shard_id")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("shard_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        sh.join(per, "shard_id", "left")
        .select(
            "shard_id", "nb", F.coalesce("n_new", F.lit(0)).alias("n_new")
        )
        .select(
            "shard_id",
            F.sum("nb").over(w).cast("long").alias("n_bench_docs_cum"),
            F.col("n_new").cast("long").alias("n_new_docs"),
            F.sum("n_new").over(w).cast("long").alias("n_cum_docs"),
        )
    )


@register(
    "decontamination_growth_monitor",
    oracle=f"""
    WITH {_DECON_SQL_GRAMS},
    per AS (SELECT first_shard AS shard_id, COUNT(*) AS n_new
            FROM hits GROUP BY 1),
    sh AS (SELECT doc_id // {_DECON_SHARD_DOCS} AS shard_id,
                  COUNT(*) AS nb
           FROM documents WHERE doc_id < {_DECON_BENCH_DOCS} GROUP BY 1)
    SELECT sh.shard_id,
           CAST(SUM(nb) OVER (ORDER BY sh.shard_id) AS BIGINT)
             AS n_bench_docs_cum,
           CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new_docs,
           CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY sh.shard_id)
                AS BIGINT) AS n_cum_docs
    FROM sh LEFT JOIN per USING (shard_id)
    """,
    tags=("extension", "text", "dedup", "streaming-twin"),
)
def decontamination_growth_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benchmark-decontamination growth curve: as an eval benchmark is
    assembled shard by shard, how many NEW corpus documents does each
    shard contaminate, and how does the cumulative contaminated set
    grow? The report a curation pipeline watches to decide when a
    growing benchmark has stopped invalidating training documents
    (flat tail = the corpus' contamination exposure is saturated).

    Batch twin of ``streaming/pipeline.py::decontam_monitor_stream``;
    integer counts end to end. Scale shape: one corpus shingle pass, a
    broadcast join against the (tiny) benchmark gram index with
    min-shard attribution, a doc-keyed min, then shard-spine windows
    bounded by the benchmark size — the corpus is touched exactly
    once."""
    hits = _decon_candidate_pairs(spark, sf_dir).groupBy("doc_id").agg(
        F.min("shard_id").alias("first_shard")
    )
    return _decon_curve(spark, sf_dir, hits)


@register(
    "decontam_monitor_stream_certificate",
    # The streaming decontamination monitor graded end-to-end as driver
    # signal (the mixture_monitor_stream_certificate pattern): the
    # candidate hit pairs stream file-per-trigger through the
    # doc-keyed stateful fold, the union of emitted (doc_id,
    # first_shard) rows is set-diffed BOTH directions against the batch
    # hits relation, the per-shard curve rebuilt from the streamed rows
    # is set-diffed against decontamination_growth_monitor's relation,
    # and a post-drain availableNow restart must append nothing.
    # n_shards / n_bench_docs / n_contaminated_docs are data-derived
    # (the oracle recomputes them from documents), so the row is
    # non-trivial; any fold/state/restore defect flips a boolean ->
    # driver hash mismatch. Eager by design: the streaming run and the
    # set-diffs happen at call time; the returned relation is the
    # certificate.
    oracle=f"""
    WITH {_DECON_SQL_GRAMS}
    SELECT (SELECT CAST(COUNT(DISTINCT doc_id // {_DECON_SHARD_DOCS})
                   AS BIGINT)
            FROM documents WHERE doc_id < {_DECON_BENCH_DOCS})
             AS n_shards,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE doc_id < {_DECON_BENCH_DOCS}) AS n_bench_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hits)
             AS n_contaminated_docs,
           TRUE AS stream_equals_batch,
           TRUE AS curve_equals_monitor,
           TRUE AS replay_stable
    """,
    tags=("streaming", "text", "dedup", "certificate", "eager"),
)
def decontam_monitor_stream_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drain the candidate contamination hit pairs through
    ``streaming/pipeline.py::decontam_monitor_stream`` (3 file-per-
    trigger chunks of whole benchmark shards, landed in shard order)
    and grade the emitted ledger against the batch hits relation AND
    the growth-curve twin, plus a replay-stability restart (see oracle
    comment). The pair materialization here is certificate-side only
    and bounded by contaminated-doc count x shards — the streaming
    operator itself never collects."""
    import os
    import tempfile

    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        decontam_monitor_stream,
        fold_landing,
        land_chunks,
    )
    from pyspark.sql import Row
    from pyspark.sql.types import LongType, StructField, StructType

    pairs = [
        (int(r["shard_id"]), int(r["doc_id"]))
        for r in _decon_candidate_pairs(spark, sf_dir).collect()
    ]  # bounded: contaminated docs x shards (benchmark-scale, not corpus)
    shards = sorted({s for s, _ in pairs})
    n_shards_hit = len(shards)
    cuts = [
        set(shards[: n_shards_hit // 3]),
        set(shards[n_shards_hit // 3 : 2 * n_shards_hit // 3]),
        set(shards[2 * n_shards_hit // 3 :]),
    ]
    schema = StructType(
        [
            StructField("shard_id", LongType()),
            StructField("doc_id", LongType()),
        ]
    )
    with tempfile.TemporaryDirectory(prefix="decon_monitor_cert_") as root:
        landing, out, ckpt = (
            os.path.join(root, d) for d in ("landing", "out", "ckpt")
        )
        # zero candidate pairs is a VALID graded state (the oracle
        # answers n_contaminated_docs=0, booleans TRUE): the empty
        # landing folds to an empty ledger
        land_chunks(
            [[(s, d) for s, d in pairs if s in cut] for cut in cuts if cut],
            schema,
            landing,
        )
        streamed = fold_landing(
            spark, decontam_monitor_stream, landing, schema, out, ckpt
        )
        n_rows_first = streamed.count()
        batch_hits = (
            _decon_candidate_pairs(spark, sf_dir)
            .groupBy("doc_id")
            .agg(F.min("shard_id").alias("first_shard"))
        )
        stream_equals_batch = rows_equal(streamed, batch_hits)
        curve_stream = _decon_curve(spark, sf_dir, streamed)
        curve_batch = decontamination_growth_monitor(spark, sf_dir)
        curve_equals_monitor = rows_equal(curve_stream, curve_batch)
        # post-saturation restart: must append nothing
        replay_stable = (
            fold_landing(
                spark, decontam_monitor_stream, landing, schema, out, ckpt
            ).count()
            == n_rows_first
        )
    # data-derived like the oracle (dense doc_ids make these equal
    # to the constants, but deriving them keeps the parity honest)
    bench_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _DECON_BENCH_DOCS
    )
    n_bench = bench_docs.count()
    n_shards = (
        bench_docs.select(
            exact_floor_div(
                F.col("doc_id"), F.lit(_DECON_SHARD_DOCS)
            ).alias("sh")
        )
        .distinct()
        .count()
    )
    return spark.createDataFrame(
        [
            Row(
                n_shards=int(n_shards),
                n_bench_docs=int(n_bench),
                n_contaminated_docs=int(batch_hits.count()),
                stream_equals_batch=bool(stream_equals_batch),
                curve_equals_monitor=bool(curve_equals_monitor),
                replay_stable=bool(replay_stable),
            )
        ],
        "n_shards bigint, n_bench_docs bigint, "
        "n_contaminated_docs bigint, stream_equals_batch boolean, "
        "curve_equals_monitor boolean, replay_stable boolean",
    )


def merge_spans(spans: DataFrame) -> DataFrame:
    """Classic island merge over (doc_id, st, en) token spans: a span
    opens a new island iff its start exceeds the running max end of
    its predecessors within the doc; islands reduce to (doc_id,
    island_id, a, b). Windows PARTITIONED BY doc — bounded by matches
    per doc. Factored so the pinned pytest drives the PRODUCTION
    algebra (the _cvm_from_hist precedent)."""
    w_run = Window.partitionBy("doc_id").orderBy("st").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.partitionBy("doc_id").orderBy("st").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    isl = spans.withColumn(
        "new_island",
        F.when(
            F.col("st") > F.coalesce(F.max("en").over(w_run), F.lit(-1)),
            1,
        ).otherwise(0),
    ).withColumn("island_id", F.sum("new_island").over(w_cum))
    return isl.groupBy("doc_id", "island_id").agg(
        F.min("st").alias("a"), F.max("en").alias("b")
    )



@register(
    "decontam_span_removal_stats",
    # The ACTION that follows the decontamination monitor: per
    # contaminated corpus document, the union of all matched 5-gram
    # token spans (the text a decontaminating pipeline would excise)
    # and what remains. Overlapping/adjacent-overlapping matches merge
    # via the classic island pass: sort spans by start, a span opens a
    # new island iff its start exceeds the running max end of its
    # predecessors; islands then reduce to (min start, max end).
    # Integer counts + one half-up permille — zero floats.
    oracle=f"""
    WITH d AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    g AS MATERIALIZED (
      SELECT doc_id, unnest(range(1, len(toks) - 3)) AS p,
             len(toks) AS n_tokens
      FROM d WHERE len(toks) >= 5),
    gs AS (SELECT g.doc_id, g.p, g.n_tokens,
                  array_to_string(t.toks[g.p:g.p+4], ' ') AS s
           FROM g JOIN d t USING (doc_id)),
    bench AS MATERIALIZED (
      SELECT DISTINCT s FROM gs WHERE doc_id < {_DECON_BENCH_DOCS}),
    spans AS (
      SELECT gs.doc_id, gs.p AS st, gs.p + 4 AS en, gs.n_tokens
      FROM gs JOIN bench USING (s)
      WHERE gs.doc_id >= {_DECON_BENCH_DOCS}),
    isl AS (
      SELECT doc_id, st, en, n_tokens,
             CASE WHEN st > COALESCE(MAX(en) OVER (
               PARTITION BY doc_id ORDER BY st
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS new_island
      FROM spans),
    isl2 AS (
      SELECT doc_id, st, en, n_tokens,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY st
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island_id
      FROM isl),
    per_island AS (
      SELECT doc_id, island_id, MAX(n_tokens) AS n_tokens,
             MIN(st) AS a, MAX(en) AS b
      FROM isl2 GROUP BY doc_id, island_id)
    SELECT doc_id, CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(b - a + 1) AS BIGINT) AS n_contaminated_tokens,
           CAST(MAX(n_tokens) - SUM(b - a + 1) AS BIGINT)
             AS n_clean_tokens,
           CAST((2 * 1000 * SUM(b - a + 1) + MAX(n_tokens))
                // (2 * MAX(n_tokens)) AS BIGINT)
             AS contamination_permille
    FROM per_island GROUP BY doc_id
    """,
    tags=("extension", "text", "dedup"),
)
def decontam_span_removal_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Span-level decontamination accounting: for each corpus document
    sharing a 5-gram with the benchmark (doc_id < 25), the merged
    token-span union to excise, the surviving token count, and the
    contamination share in half-up permille.

    Scale shape: one positional shingle pass (posexplode + lead — the
    shingle_rows discipline, windows partitioned by doc), a broadcast
    join against the tiny benchmark gram set, then island-merge
    windows PARTITIONED BY doc over each doc's matched spans (bounded
    by matches per doc, not the corpus)."""
    from ecommerce_data_pipeline_spark.operators.text import tokens
    from ecommerce_data_pipeline_spark.plans._helpers import (
        half_up_ratio_units,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id"),
        F.posexplode(tokens("text")).alias("pos", "tok"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    n_tok = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    cols = [F.col("tok").alias("t0")] + [
        F.lead("tok", i).over(w_doc).alias(f"t{i}") for i in range(1, 5)
    ]
    grams = (
        tok.select("doc_id", "pos", *cols)
        .filter(F.col("t4").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.concat_ws(" ", *[f"t{i}" for i in range(5)]).alias("s"),
        )
    )
    bench = (
        grams.filter(F.col("doc_id") < _DECON_BENCH_DOCS)
        .select("s")
        .distinct()
    )
    spans = (
        grams.filter(F.col("doc_id") >= _DECON_BENCH_DOCS)
        .join(F.broadcast(bench), "s")
        .select(
            "doc_id",
            F.col("pos").alias("st"),
            (F.col("pos") + 4).alias("en"),
        )
    )
    agg = merge_spans(spans).groupBy("doc_id").agg(
        F.sum(F.col("b") - F.col("a") + 1)
        .cast("long")
        .alias("n_contaminated_tokens")
    )
    return agg.join(n_tok, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_contaminated_tokens",
        (F.col("n_tokens") - F.col("n_contaminated_tokens"))
        .cast("long")
        .alias("n_clean_tokens"),
        half_up_ratio_units(
            F.col("n_contaminated_tokens"), F.col("n_tokens"), 1_000
        ).alias("contamination_permille"),
    )
