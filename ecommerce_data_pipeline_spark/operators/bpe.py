"""Byte-pair-encoding vocabulary learning over a distributed corpus.

The tokenizer-training shape (Sennrich et al. 2016; GPT-2 practice):
BPE merges are learned from WORD-TYPE counts, not the raw token stream —
so the cluster's job is the one heavy reduction

    corpus → explode(tokens) → groupBy(word) → count
           → orderBy(count desc, word) → limit(100,000)

and the merge loop itself runs driver-side over the collected word-count
table. That split is the 100 TB contract used by every trainer in this
repo (PQ/IVF codebooks, PCA): the collect is bounded by 100,000 word
types — word-type growth is Heaps-sublinear and the cap keeps it flat — while
the corpus-sized work (token explosion + count) stays distributed and
map-side combined. HuggingFace's tokenizers train the same way on a
single node AFTER an external word-count pass; here Spark IS that pass.

Determinism: the word table is collected under a total order
(count desc, word asc — ties broken lexically), and each merge step
picks max by (pair_count, lexicographically smallest pair), so the merge
sequence is a pure function of the corpus — verified against a naive
reference implementation and under repartition in tests/test_text_properties.py.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.text import tokens

END = "</w>"


def word_type_counts(docs: DataFrame) -> list[tuple[str, int]]:
    """The distributed half: word-type → occurrence count of ``text``,
    capped under a total order (deterministic across partition layouts)."""
    rows = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(100_000)
        .collect()
    )
    return [(r["w"], r["c"]) for r in rows]


def learn_bpe_merges(
    docs: DataFrame,
    num_merges: int = 20,
    word_counts: list[tuple[str, int]] | None = None,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges; returns [(left, right, pair_count)]
    in merge order. Driver work is O(word_types × merges) on the capped
    table — corpus-size-free. Pass ``word_counts`` (from
    ``word_type_counts``) to reuse an already-collected table instead of
    re-running the corpus reduction."""
    if word_counts is None:
        word_counts = word_type_counts(docs)
    vocab: dict[tuple[str, ...], int] = {
        tuple(w) + (END,): c for w, c in word_counts
    }
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += c
        if not pairs:
            break
        # highest count; ties broken by lexicographically smallest pair
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        merged = a + b
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, c in vocab.items():
            out = []
            i = 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def segment_word(word: str, merges: list[tuple[str, str, int]]) -> list[str]:
    """Apply learned merges to one word (driver/test helper — the
    distributed application path broadcasts the word→n_subwords map,
    see plans/corpus_mining.py::bpe_segmentation_stats)."""
    sym = list(word) + [END]
    for a, b, _ in merges:
        out = []
        i = 0
        while i < len(sym):
            if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym
