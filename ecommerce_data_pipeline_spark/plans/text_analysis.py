"""Text-analysis queries over the documents table (SURVEY.md §2.11 —
the LLM-training-data operators: token counting, quality scoring,
language profiling, fingerprinting).

All Column-expression based (operators/text.py); each has an exact DuckDB
oracle built from the same token definition
(``lower(text)`` split on ``[^a-z0-9]+``, empties dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecommerce_data_pipeline_spark.operators.text import (
    mean_token_length,
    punct_ratio,
    rolling_fingerprint,
    stopword_ratio,
    token_count,
    tokens,
)
from ecommerce_data_pipeline_spark.plans._helpers import sql_davg
from ecommerce_data_pipeline_spark.plans.registry import register
from ecommerce_data_pipeline_spark.sources.readers import load_table

# duckdb twin of operators/text.py::tokens
_SQL_TOKENS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_SQL_STOPWORDS = "['the', 'a', 'of', 'and', 'to', 'in']"


@register(
    "token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(length({_SQL_TOKENS}) AS INT) AS n_tokens,
           n_chars
    FROM documents
    """,
)
def token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/punctuation token counting (the sizing primitive of any
    training-data pipeline)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens"), "n_chars"
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(length({_SQL_TOKENS}) AS INT) AS n_tokens,
           round(CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))) * 1.0 / length(text)
                 ELSE 0.0 END, 6) AS punct_ratio,
           round(CASE WHEN length({_SQL_TOKENS}) > 0
                 THEN length(list_filter({_SQL_TOKENS}, t -> list_contains({_SQL_STOPWORDS}, t))) * 1.0
                      / length({_SQL_TOKENS})
                 ELSE 0.0 END, 6) AS stopword_ratio,
           round(CASE WHEN length({_SQL_TOKENS}) > 0
                 THEN list_sum(list_transform({_SQL_TOKENS}, t -> length(t))) * 1.0
                      / length({_SQL_TOKENS})
                 ELSE 0.0 END, 6) AS mean_token_len
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features: punctuation density, stopword ratio, mean token
    length — the standard cheap filters before expensive model scoring.
    Ratios are int/int divisions → deterministic doubles, rounded at 6dp
    on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(stopword_ratio("text", _STOPWORDS), 6).alias("stopword_ratio"),
        F.round(mean_token_length("text"), 6).alias("mean_token_len"),
    )


@register(
    "lang_profile",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           {sql_davg('n_chars')} AS avg_chars,
           CAST(SUM(length({_SQL_TOKENS})) AS BIGINT) AS total_tokens,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language distribution + size profile (the partition-planning
    view of a multilingual training set)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
            / F.count("n_chars")
        ).alias("avg_chars"),
        F.sum(token_count("text")).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "lang_id_heuristic",
    oracle=f"""
    SELECT doc_id, lang,
           round(CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) * 1.0 / length(text)
                 ELSE 0.0 END, 6) AS non_ascii_ratio,
           CAST(length(list_filter({_SQL_TOKENS},
                t -> list_contains(['the','and','of','a'], t))) AS INT) AS en_hits,
           CAST(length(list_filter({_SQL_TOKENS},
                t -> list_contains(['el','la','de','y'], t))) AS INT) AS es_hits,
           CASE WHEN length(list_filter({_SQL_TOKENS}, t -> list_contains(['the','and','of','a'], t)))
                     >= length(list_filter({_SQL_TOKENS}, t -> list_contains(['el','la','de','y'], t)))
                THEN 'en' ELSE 'es' END AS guessed_lang
    FROM documents
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language-ID heuristic: ASCII ratio + per-language
    stopword hit counts, argmax as the guess. (A real pipeline swaps the
    stopword lists for char-n-gram profiles; the plan shape — a few
    codegen'd counters per row, no shuffle — is the point.)"""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    en = F.array(*[F.lit(x) for x in ("the", "and", "of", "a")])
    es = F.array(*[F.lit(x) for x in ("el", "la", "de", "y")])
    en_hits = F.size(F.filter(t, lambda x: F.array_contains(en, x)))
    es_hits = F.size(F.filter(t, lambda x: F.array_contains(es, x)))
    ascii_stripped = F.regexp_replace(F.col("text"), r"[\x00-\x7F]", "")
    non_ascii = F.when(
        F.length("text") > 0, F.length(ascii_stripped) / F.length("text")
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        "lang",
        F.round(non_ascii, 6).alias("non_ascii_ratio"),
        en_hits.alias("en_hits"),
        es_hits.alias("es_hits"),
        F.when(en_hits >= es_hits, "en").otherwise("es").alias("guessed_lang"),
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(list_aggregate({_SQL_TOKENS}, 'string_agg', ' ')) AS fingerprint,
           substr(md5(list_aggregate({_SQL_TOKENS}, 'string_agg', ' ')), 1, 4) AS shard_key
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint over the normalized token stream (md5) + a
    16-bit shard prefix — the identity/bucketing key for exact dedup and
    distributed shuffling of a 100 TB corpus."""
    docs = load_table(spark, sf_dir, "documents")
    fp = rolling_fingerprint("text")
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("shard_key"),
    )


@register(
    "length_histogram",
    oracle="""
    SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bucket,
           CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket_lo,
           COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (100-char buckets) — the width_bucket
    rollup for corpus shaping."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / 100)
    return docs.groupBy(
        bucket.alias("bucket"), (bucket * 100).alias("bucket_lo")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "chunk_documents",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents),
    starts AS (
      SELECT doc_id, ts, unnest(generate_series(0, CAST(floor((len(ts)-1)/48) AS BIGINT))) AS chunk_id
      FROM tok WHERE len(ts) > 0
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           array_to_string(ts[chunk_id*48+1 : chunk_id*48+64], ' ') AS chunk_text,
           CAST(least(len(ts) - chunk_id*48, 64) AS INT) AS n_tokens
    FROM starts
    """,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, 16 overlap →
    stride 48): the unit step before tokenization in a training-data
    pipeline. Row-local — zero shuffle."""
    from ecommerce_data_pipeline_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs)


@register(
    "pack_documents",
    oracle=f"""
    WITH n AS (
      SELECT source AS shard, doc_id,
             CAST(length({_SQL_TOKENS}) AS INT) AS n_tokens FROM documents
    ),
    binned AS (
      SELECT shard, doc_id, n_tokens,
             CAST(floor((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_tokens) * 1.0 / 512) AS INT) AS bin_id
      FROM n
    )
    SELECT shard, bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
    FROM binned GROUP BY shard, bin_id
    """,
)
def pack_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing into 512-token bins via prefix-sum
    binning — keeps training batches dense without a sequential packer.

    The graded form packs PER SHARD (``source``): each shard's prefix sum
    is an independent partitioned window, so the plan is fully parallel —
    no global single-reducer window (bins never need to span shards).
    ``doc_ids`` is CSV-serialized (driver canonicalizer hashes scalar
    cells only)."""
    from ecommerce_data_pipeline_spark.operators.text import pack_documents

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_documents(docs, budget_tokens=512, shard_col="source")
    return packed.select(
        "shard",
        "bin_id",
        "n_docs",
        "total_tokens",
        F.concat_ws(
            ",", F.transform("doc_ids", lambda d: d.cast("string"))
        ).alias("doc_ids"),
    )


@register(
    "inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    td AS (SELECT DISTINCT term, doc_id FROM tok)
    SELECT term,
           COUNT(*) AS doc_freq,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             AS postings
    FROM td
    GROUP BY term
    HAVING COUNT(*) >= 5
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the posting lists of an inverted index (term -> sorted doc
    ids) for terms appearing in >= 5 documents — the retrieval-side twin
    of the TF-IDF/BM25 scorers, and the shuffle shape every index build
    at 100 TB reduces to.

    Plan: explode tokens -> distinct (term, doc_id) -> hash-aggregate by
    term with collect_set. Everything partitions by term, so posting
    lists build fully in parallel; the df >= 5 HAVING prunes the long
    tail of singleton terms before the expensive list materialization is
    published. Postings are numerically sorted then CSV-serialized
    (scalar-only public projection).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda d: d.cast("string"),
                ),
            ).alias("postings"),
        )
        .where(F.col("doc_freq") >= 5)
    )


@register(
    "token_entropy",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    counts AS (
      SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_terms,
           ROUND(
             ln(CAST(SUM(c) AS DOUBLE))
             - list_aggregate(
                 list_sort(list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))),
                 'sum'
               ) / CAST(SUM(c) AS DOUBLE),
             6
           ) AS shannon_entropy
    FROM counts
    GROUP BY doc_id
    """,
)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    classic repetition/diversity quality signal (low entropy = boilerplate
    or degenerate repetition; complements doc_repetition_stats).

    Uses H = ln(N) - (1/N) * sum(c * ln c) over exact integer term counts
    so only the final transcendental step is floating-point, and folds the
    c*ln(c) terms in SORTED order on both engines (sort_array + aggregate
    here, list_sort + list_aggregate in the oracle) so the double
    accumulation is bit-identical cross-engine — same discipline as the
    exact-moment correlation query. Two hash aggregations, both keyed by
    doc_id: no global state, scales by document count.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_terms"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.aggregate(
                F.sort_array(
                    F.collect_list(
                        F.col("c").cast("double")
                        * F.log(F.col("c").cast("double"))
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.sum("c").cast("double"),
            6,
        ).alias("shannon_entropy"),
    )


@register(
    "filter_funnel_attribution",
    oracle=f"""
    WITH flags AS (
      SELECT doc_id,
             CAST(length({_SQL_TOKENS}) < 20 AS INT) AS f_short,
             CAST(length(list_distinct({_SQL_TOKENS})) * 1.0
                  < 0.3 * length({_SQL_TOKENS}) AS INT) AS f_repetitive,
             CAST(list_sum(list_transform({_SQL_TOKENS}, t -> length(t)))
                  * 1.0 > 8.0 * length({_SQL_TOKENS}) AS INT) AS f_long_tok
      FROM documents
    )
    SELECT rule, CAST(n_flagged AS BIGINT) AS n_flagged,
           ROUND(n_flagged * 1.0 / (SELECT COUNT(*) FROM flags), 6)
             AS pct_of_corpus
    FROM (
      SELECT 'short' AS rule, SUM(f_short) AS n_flagged FROM flags
      UNION ALL
      SELECT 'repetitive', SUM(f_repetitive) FROM flags
      UNION ALL
      SELECT 'long_tokens', SUM(f_long_tok) FROM flags
      UNION ALL
      SELECT 'any_rule',
             SUM(CAST(f_short + f_repetitive + f_long_tok > 0 AS INT))
      FROM flags
      UNION ALL
      SELECT 'survivors',
             SUM(CAST(f_short + f_repetitive + f_long_tok = 0 AS INT))
      FROM flags
    )
    """,
)
def filter_funnel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule rejection attribution for a corpus-cleaning chain: how
    many documents each quality rule (too short / repetitive /
    gibberish-length tokens) would drop on its own, how many trip ANY
    rule, and how many survive — the observability report a data team
    reads before turning a filter on (a rule that silently drops 40% of
    a source is a bug, not a filter).

    One pass: every rule evaluates as an int flag in a single projection
    over the token array (computed once per row), then one global
    aggregate emits the 5-row funnel via conditional sums — adding a
    rule is adding a column, not a pass. Ratios are single divisions at
    6dp. The composition twin of clean_corpus_pipeline, which applies
    the rules; this query explains them.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    flags = docs.select(
        (F.size(toks) < 20).cast("int").alias("f_short"),
        (
            F.size(F.array_distinct(toks)) * 1.0 < 0.3 * F.size(toks)
        ).cast("int").alias("f_repetitive"),
        (
            F.aggregate(
                F.transform(toks, lambda t: F.length(t)),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            * 1.0
            > 8.0 * F.size(toks)
        ).cast("int").alias("f_long_tok"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_short").alias("short"),
        F.sum("f_repetitive").alias("repetitive"),
        F.sum("f_long_tok").alias("long_tokens"),
        F.sum(
            (
                (F.col("f_short") + F.col("f_repetitive") + F.col("f_long_tok"))
                > 0
            ).cast("int")
        ).alias("any_rule"),
        F.sum(
            (
                (F.col("f_short") + F.col("f_repetitive") + F.col("f_long_tok"))
                == 0
            ).cast("int")
        ).alias("survivors"),
    )
    long_form = agg.selectExpr(
        "n_docs",
        "stack(5, 'short', short, 'repetitive', repetitive, "
        "'long_tokens', long_tokens, 'any_rule', any_rule, "
        "'survivors', survivors) as (rule, n_flagged)",
    )
    return long_form.select(
        "rule",
        "n_flagged",
        F.round(F.col("n_flagged") * 1.0 / F.col("n_docs"), 6).alias(
            "pct_of_corpus"
        ),
    )


@register(
    "curriculum_mix_planner",
    oracle=f"""
    WITH avail AS (
      SELECT lang,
             CAST(SUM(length({_SQL_TOKENS})) AS BIGINT) AS available_tokens
      FROM documents GROUP BY lang
    ),
    targets AS (
      SELECT * FROM (VALUES ('en', 0.5), ('de', 0.15), ('fr', 0.15),
                            ('es', 0.1), ('zh', 0.1)) t(lang, weight)
    )
    SELECT a.lang,
           a.available_tokens,
           CAST(ROUND(t.weight * 50000, 0) AS BIGINT) AS target_tokens,
           ROUND(t.weight * 50000 / a.available_tokens, 6) AS epochs,
           ROUND(least(t.weight * 50000 / a.available_tokens, 1.0), 6)
             AS sample_rate,
           CAST(t.weight * 50000 / a.available_tokens > 1.0 AS BOOLEAN)
             AS needs_repetition
    FROM avail a JOIN targets t ON a.lang = t.lang
    """,
)
def curriculum_mix_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planner: given per-language available token
    counts and a target mixture (50% en / 15% de / 15% fr / 10% es /
    10% zh of a 50k-token budget), derive each source's sampling rate —
    or its repetition factor ('epochs' > 1) when the target wants more
    tokens than the source has. This is the arithmetic behind every
    data-mixture card (e.g. the up/down-sampling tables in LLM training
    reports), run as a query so the plan updates when the corpus does.

    One aggregation over the corpus (token counts per source), one
    broadcast join against the 5-row target table (an inline VALUES
    relation on both engines), pure projection after that. The
    downstream consumer is stratified_sample_langs, whose per-stratum
    fractions this query computes.
    """
    from pyspark.sql.functions import broadcast

    docs = load_table(spark, sf_dir, "documents")
    avail = docs.groupBy("lang").agg(
        F.sum(F.size(tokens("text"))).cast("long").alias("available_tokens")
    )
    targets = spark.createDataFrame(
        [("en", 0.5), ("de", 0.15), ("fr", 0.15), ("es", 0.1), ("zh", 0.1)],
        "lang string, weight double",
    )
    need = F.col("weight") * 50000 / F.col("available_tokens")
    return avail.join(broadcast(targets), "lang").select(
        "lang",
        "available_tokens",
        F.round(F.col("weight") * 50000, 0).cast("long").alias(
            "target_tokens"
        ),
        F.round(need, 6).alias("epochs"),
        F.round(F.least(need, F.lit(1.0)), 6).alias("sample_rate"),
        (need > 1.0).alias("needs_repetition"),
    )


@register(
    "unigram_logprob_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    cf AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
    totals AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM cf),
    dt AS (
      SELECT doc_id, term, COUNT(*) AS c_dt FROM tok GROUP BY doc_id, term
    )
    SELECT dt.doc_id,
           CAST(SUM(dt.c_dt) AS BIGINT) AS n_tokens,
           ROUND(
             list_aggregate(
               list_sort(list(dt.c_dt * ln(cf.c / totals.t))),
               'sum'
             ) / SUM(dt.c_dt), 6) AS avg_logprob
    FROM dt
    JOIN cf ON dt.term = cf.term
    CROSS JOIN totals
    GROUP BY dt.doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's
    own unigram language model — the cheap perplexity proxy used to
    rank documents by 'typicality' before an expensive LM-based quality
    filter (very low scores = rare-token noise; suspiciously high =
    boilerplate).

    Shape: corpus term frequencies (one hash agg), broadcast total,
    join back onto per-doc term counts (partitioned by term), then a
    per-doc rollup. The doc-level sum of c*ln(p) terms folds in SORTED
    order on both engines (sort_array+aggregate vs
    list_sort+list_aggregate) so the doubles match at 6dp — same
    discipline as token_entropy. Model and scoring are ONE query: no
    side-channel vocabulary file to ship.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    cf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    totals = cf.select(F.sum("c").cast("double").alias("t"))
    dt = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c_dt"))
    from pyspark.sql.functions import broadcast

    joined = dt.join(cf, "term").crossJoin(broadcast(totals))
    return joined.groupBy("doc_id").agg(
        F.sum("c_dt").cast("long").alias("n_tokens"),
        F.round(
            F.aggregate(
                F.sort_array(
                    F.collect_list(
                        F.col("c_dt") * F.log(F.col("c") / F.col("t"))
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.sum("c_dt"),
            6,
        ).alias("avg_logprob"),
    )


_SW6 = ("the", "a", "of", "and", "to", "in")
_SQL_STOP_HITS = " + ".join(
    f"(CASE WHEN list_contains({_SQL_TOKENS}, '{w}') THEN 1 ELSE 0 END)"
    for w in _SW6
)




def _gopher_metrics():
    """The Gopher gate's metric Columns, shared by gopher_quality_flags
    (per-doc flags) and source_quality_dashboard (rollup) so the
    thresholds and expressions can never drift apart. Returns
    (n_tokens, mean_token_len, alpha_token_ratio, stop_hits, passes_all)
    built over ONE tokenization."""
    ts = tokens("text")
    n = F.size(ts)
    mtl = F.round(
        F.when(
            n > 0,
            F.aggregate(
                F.transform(ts, lambda x: F.length(x)),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            )
            * F.lit(1.0)
            / n,
        ).otherwise(F.lit(0.0)),
        6,
    )
    alpha_ratio = F.round(
        F.when(
            n > 0,
            F.size(F.filter(ts, lambda x: x.rlike("[a-z]"))) * F.lit(1.0) / n,
        ).otherwise(F.lit(0.0)),
        6,
    )
    stop_hits = None
    for w in _SW6:
        hit = F.array_contains(ts, w).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    passes = (
        (n >= 50) & (n <= 100000)
        & (mtl >= 3.0) & (mtl <= 10.0)
        & (alpha_ratio >= 0.8) & (stop_hits >= 2)
    )
    return n, mtl, alpha_ratio, stop_hits, passes


@register(
    "gopher_quality_flags",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {_SQL_TOKENS} AS ts,
             CAST({_SQL_STOP_HITS} AS INT) AS stop_hits
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(length(ts) AS INT) AS n_tokens,
             round(CASE WHEN length(ts) > 0
                   THEN list_sum(list_transform(ts, x -> length(x))) * 1.0 / length(ts)
                   ELSE 0.0 END, 6) AS mean_token_len,
             round(CASE WHEN length(ts) > 0
                   THEN length(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) * 1.0
                        / length(ts)
                   ELSE 0.0 END, 6) AS alpha_token_ratio,
             stop_hits
      FROM t
    )
    SELECT doc_id, n_tokens, mean_token_len, alpha_token_ratio, stop_hits,
           (n_tokens >= 50 AND n_tokens <= 100000) AS flag_word_count,
           (mean_token_len >= 3.0 AND mean_token_len <= 10.0) AS flag_mean_word_len,
           (alpha_token_ratio >= 0.8) AS flag_alpha_tokens,
           (stop_hits >= 2) AS flag_stopwords,
           (n_tokens >= 50 AND n_tokens <= 100000
            AND mean_token_len >= 3.0 AND mean_token_len <= 10.0
            AND alpha_token_ratio >= 0.8 AND stop_hits >= 2) AS passes_all
    FROM m
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1,
    adapted to the fixture's single-line ASCII docs): per-document word
    count bounds, mean word length bounds, alphabetic-token ratio, and
    minimum distinct-stopword hits, plus the conjunctive pass flag the
    downstream corpus filter consumes.

    All rules are row-local Column expressions over ONE tokenization —
    no shuffle at any scale; the expensive model-based scorers run only
    on `passes_all` survivors (this gate typically removes a double-digit
    percentage of a web corpus for ~zero cost). Stopword hits expand to
    a static 6-term boolean sum, identical in the oracle, so the gate is
    exactly replayed by DuckDB including tie behavior at the bounds."""
    n, mtl, alpha_ratio, stop_hits, _ = _gopher_metrics()
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        mtl.alias("mean_token_len"),
        alpha_ratio.alias("alpha_token_ratio"),
        stop_hits.cast("int").alias("stop_hits"),
    )
    f_wc = (F.col("n_tokens") >= 50) & (F.col("n_tokens") <= 100000)
    f_mwl = (F.col("mean_token_len") >= 3.0) & (F.col("mean_token_len") <= 10.0)
    f_alpha = F.col("alpha_token_ratio") >= 0.8
    f_stop = F.col("stop_hits") >= 2
    return m.select(
        "doc_id", "n_tokens", "mean_token_len", "alpha_token_ratio", "stop_hits",
        f_wc.alias("flag_word_count"),
        f_mwl.alias("flag_mean_word_len"),
        f_alpha.alias("flag_alpha_tokens"),
        f_stop.alias("flag_stopwords"),
        (f_wc & f_mwl & f_alpha & f_stop).alias("passes_all"),
    )


@register(
    "source_quality_dashboard",
    oracle=f"""
    WITH t AS (
      SELECT source, lang,
             {_SQL_TOKENS} AS ts,
             CAST({_SQL_STOP_HITS} AS INT) AS stop_hits
      FROM documents
    ),
    m AS (
      SELECT source, lang,
             CAST(length(ts) AS INT) AS n_tokens,
             round(CASE WHEN length(ts) > 0
                   THEN list_sum(list_transform(ts, x -> length(x))) * 1.0 / length(ts)
                   ELSE 0.0 END, 6) AS mtl,
             round(CASE WHEN length(ts) > 0
                   THEN length(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) * 1.0
                        / length(ts)
                   ELSE 0.0 END, 6) AS alpha,
             stop_hits
      FROM t
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(sum(n_tokens) * 1.0 / count(*), 6) AS avg_tokens,
           CAST(count(*) FILTER (n_tokens >= 50 AND n_tokens <= 100000
                                 AND mtl >= 3.0 AND mtl <= 10.0
                                 AND alpha >= 0.8 AND stop_hits >= 2)
                AS BIGINT) AS n_pass_gopher,
           round(count(*) FILTER (n_tokens >= 50 AND n_tokens <= 100000
                                  AND mtl >= 3.0 AND mtl <= 10.0
                                  AND alpha >= 0.8 AND stop_hits >= 2)
                 * 1.0 / count(*), 6) AS gopher_pass_rate
    FROM m
    GROUP BY source, lang
    """,
)
def source_quality_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(source, language) curation dashboard: document and token
    volumes plus the Gopher-gate pass rate — the table a data-sourcing
    team reads to decide which feeds are worth cleaning vs cutting.
    Composition query: the same row-local gate expressions as
    gopher_quality_flags rolled up in ONE map-side-combined aggregation
    (no join, no second scan; at 100 TB the group count is
    sources × languages, metadata-sized)."""
    n, _mtl, _alpha, _stop, passes = _gopher_metrics()
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source", "lang",
            n.alias("n_tokens"),
            passes.cast("int").alias("p"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.sum("n_tokens") * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "avg_tokens"
            ),
            F.sum("p").cast("long").alias("n_pass_gopher"),
            F.round(F.sum("p") * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "gopher_pass_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010): candidate phrases are the
# maximal token runs between stopwords/punctuation; word score =
# degree/frequency over the doc's co-occurrence graph; phrase score =
# sum of member word scores.
_RAKE_STOP_RE = "\\b(the|a|of|and|to|in)\\b"


@register(
    "rake_keyword_extraction",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents
    ),
    occ0 AS (
      SELECT doc_id,
             unnest(string_split(
               regexp_replace(t, '{_RAKE_STOP_RE}', '|', 'g'), '|')) AS p
      FROM norm
    ),
    occ AS (
      SELECT doc_id, trim(p) AS phrase FROM occ0 WHERE trim(p) <> ''
    ),
    wl0 AS (SELECT doc_id, string_split(phrase, ' ') AS ws FROM occ),
    wl AS (SELECT doc_id, unnest(ws) AS w, length(ws) AS plen FROM wl0),
    wstat AS (
      SELECT doc_id, w, round(SUM(plen) * 1.0 / COUNT(*), 6) AS wscore
      FROM wl GROUP BY doc_id, w
    ),
    cand AS (SELECT DISTINCT doc_id, phrase FROM occ),
    cw0 AS (SELECT doc_id, phrase, string_split(phrase, ' ') AS ws FROM cand),
    cw AS (SELECT doc_id, phrase, unnest(ws) AS w FROM cw0),
    scored AS (
      SELECT cw.doc_id, cw.phrase,
             round(list_aggregate(list_sort(list(st.wscore)), 'sum'), 6)
               AS phrase_score,
             CAST(COUNT(*) AS INT) AS n_words
      FROM cw JOIN wstat st ON cw.doc_id = st.doc_id AND cw.w = st.w
      GROUP BY cw.doc_id, cw.phrase
    )
    SELECT doc_id, phrase, phrase_score, n_words, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY phrase_score DESC, phrase
             ) AS rnk
      FROM scored
    ) r
    WHERE rnk <= 3
    """,
)
def rake_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: top-3 candidate phrases per document.
    Candidates are maximal token runs between stopword/punctuation
    delimiters; each word scores degree/frequency (degree = summed
    length of the phrase occurrences containing it — rewarding words
    that appear inside long collocations), and a phrase scores the sum
    of its member word scores. The cheap unsupervised keyword tagger a
    curation pipeline runs to label web documents before topic mixing.

    Scale shape: everything is row-local explode + per-(doc, word) /
    per-(doc, phrase) hash aggregation — state never exceeds the
    tokenized corpus, there is no cross-document join, and the ranking
    window partitions by doc_id. The phrase-occurrence relation is
    persisted once and feeds both the word-statistics pass (with
    multiplicity) and the distinct candidate list.

    Engine parity: word scores are one rational division rounded at
    6dp; phrase scores fold the member scores in sorted order
    (sort_array+aggregate vs list_sort+list_aggregate, the
    unigram_logprob_score discipline). Pure-CJK docs tokenize to
    nothing and are absent on both sides.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    marked = F.regexp_replace(norm, _RAKE_STOP_RE, "|")
    occ = (
        docs.select("doc_id", F.explode(F.split(marked, "\\|")).alias("p"))
        .select("doc_id", F.trim(F.col("p")).alias("phrase"))
        .filter(F.col("phrase") != "")
        .persist()
    )
    wl = occ.select(
        "doc_id", F.split("phrase", " ").alias("ws")
    ).select(
        "doc_id",
        F.explode("ws").alias("w"),
        F.size("ws").alias("plen"),
    )
    wstat = wl.groupBy("doc_id", "w").agg(
        F.round(
            F.sum("plen") * F.lit(1.0) / F.count(F.lit(1)), 6
        ).alias("wscore")
    )
    cw = (
        occ.distinct()
        .select("doc_id", "phrase", F.explode(F.split("phrase", " ")).alias("w"))
    )
    scored = (
        cw.join(wstat, ["doc_id", "w"])
        .groupBy("doc_id", "phrase")
        .agg(
            F.round(
                F.aggregate(
                    F.sort_array(F.collect_list("wscore")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("phrase_score"),
            F.count(F.lit(1)).cast("int").alias("n_words"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("phrase_score"), F.asc("phrase")
    )
    return (
        scored.select(
            "doc_id",
            "phrase",
            "phrase_score",
            "n_words",
            F.row_number().over(w).cast("int").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


# --- r13 batch 2: corpus-mixture and keyness operators ----------------------


@register(
    "lang_temperature_sampling_weights",
    # alpha = 0.5 temperature-scaled sampling weights over per-language
    # token mass — the multilingual upsampling rule (XLM-R / mBERT
    # style: w_l ∝ p_l^alpha flattens the language distribution so
    # low-resource languages are seen more often than their raw share).
    # Integer discipline: sqrt(n) is quantized ONCE by floor to micros
    # (both engines compute sqrt of the same exact integer -> identical
    # IEEE double -> identical floor), and every share/boost after that
    # is an exact integer half-up ratio — no float sums whose order
    # could differ between engines.
    oracle=f"""
    WITH src AS (
      SELECT lang, CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n
      FROM documents GROUP BY lang),
    sq AS (SELECT lang, n,
                  CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
                    AS sqm
           FROM src),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                   CAST(SUM(sqm) AS BIGINT) AS sqs FROM sq)
    SELECT lang, n AS n_tokens,
           CAST((2 * 1000000 * n + nn) // (2 * nn) AS BIGINT) AS p_micros,
           CAST((2 * 1000000 * sqm + sqs) // (2 * sqs) AS BIGINT)
             AS w_alpha_micros,
           CAST((2 * 1000 * CAST(sqm AS HUGEINT) * nn
                 + CAST(sqs AS HUGEINT) * n)
                // (2 * CAST(sqs AS HUGEINT) * n) AS BIGINT)
             AS boost_permille
    FROM sq CROSS JOIN tot
    """,
)
def lang_temperature_sampling_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled sampling weights per language at alpha = 1/2:
    w_l = sqrt(n_l) / sum_m sqrt(n_m) over token mass, with the raw
    share p_l and the implied up/down-sampling boost w_l / p_l in
    permille (boost > 1000 = upsampled low-resource language). The
    curation knob a multilingual training-data pipeline applies before
    packing.

    Scale shape: one corpus pass to per-language token counts (the
    aggregate is language-keyed — O(#langs) rows), then metadata-scale
    arithmetic; sqrt is applied to the per-language totals only."""
    docs = load_table(spark, sf_dir, "documents")
    masses = docs.groupBy("lang").agg(
        F.sum(token_count("text")).cast("long").alias("n")
    )
    return _temperature_weights_from_masses(masses)


def _temperature_weights_from_masses(src: DataFrame) -> DataFrame:
    """alpha=1/2 temperature weights from a (lang, n) token-mass
    relation. (A r13 refactor bug renamed this body into a duplicate
    _epoch_allocation_from_masses definition, silently shadowed by the
    real waterfill below — the full oracle suite caught the swapped
    columns; keep helper names unique per module.)"""
    from ecommerce_data_pipeline_spark.plans._helpers import (
        half_up_ratio_units,
    )

    sq = src.select(
        "lang",
        "n",
        F.floor(F.sqrt(F.col("n").cast("double")) * 1000000)
        .cast("long")
        .alias("sqm"),
    )
    tot = sq.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("sqm").cast("long").alias("sqs"),
    )
    return sq.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("n").alias("n_tokens"),
        half_up_ratio_units(F.col("n"), F.col("nn"), 1_000_000).alias(
            "p_micros"
        ),
        half_up_ratio_units(F.col("sqm"), F.col("sqs"), 1_000_000).alias(
            "w_alpha_micros"
        ),
        half_up_ratio_units(
            F.col("sqm").cast("decimal(38,0)") * F.col("nn"),
            F.col("sqs").cast("decimal(38,0)") * F.col("n"),
            1_000,
        ).alias("boost_permille"),
    )


@register(
    "keyness_chi2_terms",
    # Corpus keyness (AntConc/WordSmith style): the top-20 terms whose
    # frequency most distinguishes the English subcorpus from the rest,
    # ranked by the 2x2 chi-square statistic — computed as ONE exact
    # rational N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) in DECIMAL(38,0) /
    # HUGEINT and quantized half-up to micros, so the ranking key is an
    # exact integer on both engines (no float chi2 parity risk).
    # DF >= 5 filter: hapax terms make chi2 unstable and their micros
    # ties would churn the top-20 tail.
    # Exactness envelope: DECIMAL(38,0) holds 2e6*N*(ad-bc)^2 up to
    # ~1e8 tokens per subcorpus; beyond that (true 100 TB corpora)
    # the documented path is the same plan with the quantization unit
    # dropped to 1 (or the statistic in doubles) — the ranking is
    # scale-invariant to that choice.
    oracle=f"""
    WITH tok AS (SELECT lang = 'en' AS grp, unnest({_SQL_TOKENS}) AS term
                 FROM documents),
    tf AS (SELECT term,
                  CAST(SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(SUM(CASE WHEN grp THEN 0 ELSE 1 END) AS BIGINT) AS b
           FROM tok GROUP BY term
           HAVING SUM(CASE WHEN grp THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN grp THEN 0 ELSE 1 END) >= 5),
    tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta,
                   CAST(SUM(b) AS BIGINT) AS tb FROM tf)
    SELECT term, a AS tf_en, b AS tf_rest,
           CAST((2 * 1000000 * CAST(ta + tb AS HUGEINT)
                   * (CAST(a AS HUGEINT) * (tb - b)
                      - CAST(b AS HUGEINT) * (ta - a))
                   * (CAST(a AS HUGEINT) * (tb - b)
                      - CAST(b AS HUGEINT) * (ta - a))
                 + CAST(a + b AS HUGEINT) * (ta + tb - a - b) * ta * tb)
                // (2 * CAST(a + b AS HUGEINT) * (ta + tb - a - b)
                    * ta * tb) AS BIGINT) AS chi2_micros
    FROM tf CROSS JOIN tot
    ORDER BY chi2_micros DESC, term LIMIT 20
    """,
)
def keyness_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 keyness terms for the English subcorpus vs the rest by
    exact-integer 2x2 chi-square micros (see oracle comment). The
    deterministic (chi2 desc, term asc) top-20 is a TakeOrdered — no
    full sort materializes.

    Scale shape: one explode -> term-keyed hash aggregate (map-side
    combined), a 1-row broadcast of the marginals, per-term O(1)
    arithmetic, then top-k. DF-filtered at >= 5 occurrences."""
    from ecommerce_data_pipeline_spark.plans._helpers import (
        half_up_ratio_units,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("lang") == "en").alias("grp"),
        F.explode(tokens("text")).alias("term"),
    )
    tf = (
        tok.groupBy("term")
        .agg(
            F.sum(F.when(F.col("grp"), 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("grp"), 0).otherwise(1))
            .cast("long")
            .alias("b"),
        )
        .filter(F.col("a") + F.col("b") >= 5)
    )
    tot = tf.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("b").cast("long").alias("tb"),
    )
    j = tf.crossJoin(F.broadcast(tot))
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    diff = d38(F.col("a")) * (F.col("tb") - F.col("b")) - d38(
        F.col("b")
    ) * (F.col("ta") - F.col("a"))
    num = d38(F.col("ta") + F.col("tb")) * diff * diff
    den = (
        d38(F.col("a") + F.col("b"))
        * (F.col("ta") + F.col("tb") - F.col("a") - F.col("b"))
        * F.col("ta")
        * F.col("tb")
    )
    return (
        j.select(
            "term",
            F.col("a").alias("tf_en"),
            F.col("b").alias("tf_rest"),
            half_up_ratio_units(num, den, 1_000_000).alias("chi2_micros"),
        )
        .orderBy(F.col("chi2_micros").desc(), F.col("term"))
        .limit(20)
    )


@register(
    "token_budget_epoch_allocation",
    # Data-constrained sampling (the Muennighoff/XLM-R practice): given
    # a token BUDGET of 2 epochs of the corpus and a hard cap of 4
    # epochs per language, allocate budget toward the alpha=1/2
    # temperature weights — low-resource languages are upsampled until
    # they hit the epoch cap, and the capped mass redistributes to the
    # rest. Exact capped WATERFILL, fully relational: sort languages by
    # token mass (for w = floor-sqrt micros, the cap-binding ratio
    # R*n/w is monotone in n, so caps bind smallest-first), flag
    # capped_j by the cross-multiplied integer inequality
    # (B - prefix_cap) * w_j > R*n_j * (suffix_w), then fold the
    # uncapped pool's exact rational share. Validated against a
    # brute-force exact waterfill on 5000 random instances
    # (tests/test_text_properties.py drives the same check on seeded
    # random instances).
    oracle=f"""
    WITH src AS (
      SELECT lang, CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n
      FROM documents GROUP BY lang),
    sq AS (SELECT lang, n,
                  CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
                    AS sqm
           FROM src),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                   CAST(SUM(sqm) AS BIGINT) AS sqs FROM sq),
    ordered AS (
      SELECT lang, n, sqm,
             COALESCE(SUM(4 * n) OVER (ORDER BY n, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS pref_cap,
             COALESCE(SUM(sqm) OVER (ORDER BY n, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS pref_sqm
      FROM sq),
    flagged AS (
      SELECT lang, n, sqm,
             CAST(2 * nn - pref_cap AS HUGEINT) * sqm
               > CAST(4 * n AS HUGEINT) * (sqs - pref_sqm) AS capped
      FROM ordered CROSS JOIN tot),
    pool AS (
      SELECT CAST(2 * (SELECT nn FROM tot)
                  - COALESCE(SUM(CASE WHEN capped THEN 4 * n END), 0)
                  AS BIGINT) AS num,
             CAST(COALESCE(SUM(CASE WHEN NOT capped THEN sqm END), 0)
                  AS BIGINT) AS den
      FROM flagged)
    SELECT lang, n AS n_tokens, capped,
           CASE WHEN capped THEN CAST(4 * n AS BIGINT)
                ELSE CAST((2 * CAST(num AS HUGEINT) * sqm + den)
                          // (2 * CAST(den AS HUGEINT)) AS BIGINT)
           END AS alloc_tokens,
           CAST((2 * 1000 * CAST(CASE WHEN capped THEN 4 * n
                 ELSE (2 * CAST(num AS HUGEINT) * sqm + den)
                      // (2 * CAST(den AS HUGEINT)) END AS HUGEINT)
                 + n) // (2 * CAST(n AS HUGEINT)) AS BIGINT)
             AS epochs_millis
    FROM flagged CROSS JOIN pool
    """,
)
def token_budget_epoch_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Capped temperature-weighted token-budget allocation per language
    (see oracle comment): alloc_tokens sums to the 2-epoch budget
    (within half-up units), no language exceeds 4 epochs, and
    epochs_millis shows the realized repetition factor.

    Scale shape: one corpus pass to the language-keyed token masses,
    then every window runs over the O(#langs) spine."""
    docs = load_table(spark, sf_dir, "documents")
    masses = docs.groupBy("lang").agg(
        F.sum(token_count("text")).cast("long").alias("n")
    )
    return _epoch_allocation_from_masses(masses)


def _epoch_allocation_from_masses(src: DataFrame) -> DataFrame:
    """Capped waterfill from a (lang, n) token-mass relation — factored
    so the hypothesis pytest drives the PRODUCTION algebra against a
    brute-force exact waterfill (the _cvm_from_hist precedent)."""
    from ecommerce_data_pipeline_spark.plans._helpers import (
        half_up_ratio_units,
    )

    sq = src.select(
        "lang",
        "n",
        F.floor(F.sqrt(F.col("n").cast("double")) * 1000000)
        .cast("long")
        .alias("sqm"),
    ).persist()  # feeds tot, the ordered windows, and the pool fold
    tot = sq.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("sqm").cast("long").alias("sqs"),
    )
    w_prev = Window.orderBy("n", "lang").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ordered = sq.select(
        "lang",
        "n",
        "sqm",
        F.coalesce(F.sum(4 * F.col("n")).over(w_prev), F.lit(0)).alias(
            "pref_cap"
        ),
        F.coalesce(F.sum("sqm").over(w_prev), F.lit(0)).alias("pref_sqm"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    flagged = ordered.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        "sqm",
        (
            d38(2 * F.col("nn") - F.col("pref_cap")) * F.col("sqm")
            > d38(4 * F.col("n")) * (F.col("sqs") - F.col("pref_sqm"))
        ).alias("capped"),
        "nn",
    ).persist()  # feeds the pool fold and the final projection
    pool = flagged.agg(
        (
            2 * F.max("nn")
            - F.coalesce(
                F.sum(F.when(F.col("capped"), 4 * F.col("n"))), F.lit(0)
            )
        )
        .cast("long")
        .alias("num"),
        F.coalesce(
            F.sum(F.when(~F.col("capped"), F.col("sqm"))), F.lit(0)
        )
        .cast("long")
        .alias("den"),
    )
    j = flagged.crossJoin(F.broadcast(pool))
    uncapped_alloc = half_up_ratio_units(
        d38(F.col("num")) * F.col("sqm"), d38(F.col("den")), 1
    )
    alloc = F.when(F.col("capped"), (4 * F.col("n")).cast("long")).otherwise(
        uncapped_alloc
    )
    return j.select(
        "lang",
        F.col("n").alias("n_tokens"),
        "capped",
        alloc.alias("alloc_tokens"),
        half_up_ratio_units(alloc, F.col("n"), 1_000).alias(
            "epochs_millis"
        ),
    )
