"""Text-analysis operators over document tables (SURVEY.md §2.11).

All pure Column expressions (split/filter/transform/aggregate higher-order
functions) — no Python UDFs, so the whole layer stays inside whole-stage
codegen and scales linearly with executors. The unit of text is the
``documents.text`` column (FIXTURES.md §B).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: str | Column) -> Column:
    """Lowercased word tokens; empty fragments dropped."""
    return F.filter(
        F.split(F.lower(_c(col)), TOKEN_SPLIT_RE), lambda t: t != F.lit("")
    )


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def punct_ratio(col: str | Column) -> Column:
    """Fraction of characters that are punctuation."""
    c = _c(col)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[.!?,;:]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(col: str | Column, stopwords: tuple[str, ...]) -> Column:
    """Fraction of tokens that are stopwords (quality-scoring feature)."""
    t = tokens(col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    return F.when(F.size(t) > 0, hits / F.size(t)).otherwise(F.lit(0.0))


def mean_token_length(col: str | Column) -> Column:
    t = tokens(col)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(t) > 0, total / F.size(t)).otherwise(F.lit(0.0))


def rolling_fingerprint(col: str | Column) -> Column:
    """Deterministic 128-bit document fingerprint (md5 of the normalized
    token stream) — content-identity key robust to whitespace/case noise."""
    return F.md5(F.concat_ws(" ", tokens(col)))


def chunk_documents(docs):
    """Split documents into overlapping token-window chunks — the
    pre-tokenization unit step of an LLM training pipeline.

    Chunk i covers tokens [i·stride, i·stride + 64) with stride = 64 − 16
    (a 16-token overlap); the final partial window is kept.
    Pure Column ops: one sequence over chunk starts + slice/concat per
    chunk, exploded to (doc, chunk) rows. No shuffle at all — chunking is
    embarrassingly row-local.
    """
    from pyspark.sql import functions as F

    chunk_tokens, overlap = 64, 16
    stride = chunk_tokens - overlap
    t = tokens("text")
    n = F.size(t)
    # chunk start positions (1-based): 1, 1+stride, ... while start <= n
    n_chunks = F.when(n <= 0, 0).otherwise(
        F.floor((n - 1) / stride) + 1
    )
    # drop trailing windows that add no new tokens (start beyond n)
    starts = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    chunks = F.filter(
        F.transform(
            starts,
            lambda i: F.struct(
                i.alias("chunk_id"),
                F.concat_ws(" ", F.slice(t, i * stride + 1, chunk_tokens)).alias(
                    "chunk_text"
                ),
                F.least(n - i * stride, F.lit(chunk_tokens)).alias("n_tokens"),
            ),
        ),
        lambda c: c.getField("n_tokens") > 0,
    )
    import pyspark.sql.functions as _F

    return docs.select(
        "doc_id", _F.explode(chunks).alias("c")
    ).select(
        "doc_id",
        _F.col("c.chunk_id").cast("int").alias("chunk_id"),
        _F.col("c.chunk_text").alias("chunk_text"),
        _F.col("c.n_tokens").cast("int").alias("n_tokens"),
    )


def pack_documents(docs, shard_col: str, budget_tokens: int = 512):
    """Sequence packing: assign documents to fixed-budget bins in a
    deterministic order (doc id) via cumulative token counts — the
    'example packing' step that keeps training batches dense.

    bin = floor((cumsum(n_tokens) − n_tokens) / budget): a document
    starts a new bin when its prefix-sum crosses the budget boundary.

    SCALE: packing runs independently per ``shard_col`` value (source
    file, hash bucket, …), which is semantically fine — bins never need
    to span shards — and fully parallel, never one global-window
    reducer. Output bins are keyed (shard, bin_id).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_n = docs.select(
        F.col("doc_id"),
        token_count("text").alias("n_tokens"),
        F.col(shard_col).alias("shard"),
    )
    packed = with_n.withColumn(
        "bin_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget_tokens).cast(
            "int"
        ),
    )
    return packed.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
    )

