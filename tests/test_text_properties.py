"""Property-based tests for the text-pipeline operators: pack_documents
is compared against an independent sequential Python reference over
hypothesis-generated corpora — the distributed prefix-sum binning must
equal the obvious one-pass packer for ANY token distribution, shard
layout, and budget.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.text import pack_documents


def _reference_pack(rows, budget):
    """Sequential one-pass packer: per shard, docs in id order; a doc
    opens a new bin when the running total would cross the budget
    boundary (bin = floor((cumsum - n)/budget))."""
    out = {}
    by_shard = {}
    for doc_id, shard, n in rows:
        by_shard.setdefault(shard, []).append((doc_id, n))
    for shard, docs in by_shard.items():
        cum = 0
        for doc_id, n in sorted(docs):
            cum += n
            bin_id = (cum - n) // budget
            key = (shard, bin_id)
            agg = out.setdefault(key, [0, 0, []])
            agg[0] += 1
            agg[1] += n
            agg[2].append(doc_id)
    return {
        k: (v[0], v[1], sorted(v[2])) for k, v in out.items()
    }


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=40),  # tokens per doc
            st.integers(min_value=0, max_value=2),  # shard
        ),
        min_size=1,
        max_size=60,
    ),
    budget=st.sampled_from([16, 64, 512]),
)
def test_pack_documents_matches_sequential_reference(spark, data, budget):
    rows = [
        (i, f"s{shard}", n_tok) for i, (n_tok, shard) in enumerate(data)
    ]
    # synthesize text with exactly n_tok single-letter tokens
    df = spark.createDataFrame(
        [(doc_id, shard, "x " * n) for doc_id, shard, n in rows],
        ["doc_id", "shard", "text"],
    )
    packed = pack_documents(
        df, budget_tokens=budget, shard_col="shard"
    ).collect()
    got = {
        (r["shard"], r["bin_id"]): (
            r["n_docs"],
            r["total_tokens"],
            sorted(r["doc_ids"]),
        )
        for r in packed
    }
    want = _reference_pack(rows, budget)
    assert got == want
    # global invariants: partition (every doc exactly once), conservation
    assert sum(v[0] for v in got.values()) == len(rows)
    assert sum(v[1] for v in got.values()) == sum(n for _, _, n in rows)


def test_bpe_merge_sequence_matches_reference_and_is_layout_independent(spark):
    """The distributed BPE trainer must reproduce a naive single-process
    reference BPE (same tokenization, same tie-breaks) exactly, and be
    invariant to partition layout."""
    import re
    from collections import Counter

    from ecommerce_data_pipeline_spark.operators.bpe import (
        END,
        learn_bpe_merges,
        segment_word,
    )
    from ecommerce_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    merges = learn_bpe_merges(docs, num_merges=12)
    assert len(merges) == 12

    # reference: pure-Python BPE over the same corpus
    texts = [r["text"] for r in docs.select("text").collect()]
    words = Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                words[w] += 1
    vocab = {tuple(w) + (END,): c for w, c in words.items()}
    ref = []
    for _ in range(12):
        pairs = Counter()
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += c
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        ref.append((a, b, cnt))
        nv = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    assert merges == ref

    # layout independence
    merges2 = learn_bpe_merges(docs.repartition(7), num_merges=12)
    assert merges2 == merges

    # segmentation is lossless: concatenating subwords restores word+END
    for w in list(words)[:20]:
        assert "".join(segment_word(w, merges)) == w + END


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-3, max_value=3), min_size=4, max_size=4
        ),
        min_size=6,
        max_size=18,
    ),
    lam_pct=st.sampled_from([25, 50, 75]),
)
def test_mmr_rerank_matches_greedy_reference(spark, vecs, lam_pct):
    """mmr_rerank == an independent driver-side greedy MMR on random
    integer vectors (exact FP: integer coords → exact dots/norms)."""
    import math

    from ecommerce_data_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    # drop zero vectors (undefined cosine) and dedup ids
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(vecs)
        if any(x != 0 for x in v)
    ]
    if len(rows) < 3:
        return
    lam = lam_pct / 100.0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q_ids = [rows[0][0], rows[1][0]]
    q = df.filter(F.col("vec_id").isin(q_ids))
    k, pool = 3, 5
    got = {}
    for r in mmr_rerank(q, df, k=k, pool=pool, lam=lam).collect():
        got.setdefault(r["query_id"], []).append((r["mmr_rank"], r["cand_id"]))

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(
            d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))),
            6,
        )

    by_id = dict(rows)
    for qid in q_ids:
        scored = sorted(
            (
                (-cos(by_id[qid], v), i)
                for i, v in rows
                if i != qid
            ),
        )[:pool]
        cands = [i for _, i in scored]
        rel = {i: -s for s, i in scored}
        chosen = []
        while cands and len(chosen) < k:
            if not chosen:
                best = min(cands, key=lambda i: (-rel[i], i))
            else:
                best = min(
                    cands,
                    key=lambda i: (
                        -(lam * rel[i]
                          - (1 - lam)
                          * max(cos(by_id[i], by_id[c]) for c in chosen)),
                        i,
                    ),
                )
            chosen.append(best)
            cands.remove(best)
        expect = [(r + 1, c) for r, c in enumerate(chosen)]
        assert sorted(got.get(qid, [])) == expect, (qid, got.get(qid), expect)


def _round_half_up(v: float, digits: int) -> float:
    """Mirror F.round: HALF_UP on the shortest decimal repr. Python's
    built-in round() is banker's on the exact binary value and diverges
    on e.g. odd/3200.0 sums whose 7th digit is 5."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP))


def _trim_reference(values: list[float]) -> tuple[float, float, float, float]:
    """Naive rank-based 5% trim/winsorize on a sorted copy (cents-exact)."""
    cents = sorted(round(v * 100) for v in values)
    n = len(cents)
    k = n // 20
    kept = cents[k : n - k]
    trimmed = sum(kept) / (100.0 * len(kept))
    winsorized = (sum(kept) + k * (kept[0] + kept[-1])) / (100.0 * n)
    return (
        _round_half_up(trimmed, 6),
        _round_half_up(winsorized, 6),
        kept[0] / 100.0,
        kept[-1] / 100.0,
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cents=st.lists(
        st.integers(min_value=1, max_value=5000),  # 2dp values in cents
        min_size=1,
        max_size=60,
    )
)
def test_trimmed_stats_match_naive_rank_reference(spark, tmp_path_factory, cents):
    """The histogram retention-band arithmetic in trimmed_order_value_stats
    must reproduce naive sorted-list rank trimming on arbitrary data —
    including duplicate-heavy lists where one histogram bucket straddles a
    cut boundary."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ecommerce_data_pipeline_spark.plans.registry import REGISTRY

    values = [c / 100.0 for c in cents]
    tmp = tmp_path_factory.mktemp("trim")
    pq.write_table(
        pa.table(
            {"o_orderpriority": ["X"] * len(values), "o_totalprice": values}
        ),
        str(tmp / "orders.parquet"),
    )
    row = (
        REGISTRY["trimmed_order_value_stats"].fn(spark, str(tmp)).collect()[0]
    )
    exp_trim, exp_wins, exp_lo, exp_hi = _trim_reference(values)
    assert row["trimmed_mean"] == exp_trim
    assert row["winsorized_mean"] == exp_wins
    assert row["low_cut"] == exp_lo
    assert row["high_cut"] == exp_hi
    assert row["n_trim_each_side"] == len(values) // 20


def test_vocab_coverage_curve_is_monotone_and_bounded(spark):
    """Coverage by construction: nondecreasing in k, each in (0, 1],
    and consistent with the corpus's own totals (total token mass and
    vocabulary size recomputed independently from the tokens
    expression)."""
    from ecommerce_data_pipeline_spark.operators.text import tokens
    from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    row = REGISTRY["vocab_coverage_curve"].fn(spark, SF_SMOKE).first()
    covs = [row["cov_10"], row["cov_100"], row["cov_1000"], row["cov_10000"]]
    assert all(0.0 < c <= 1.0 for c in covs)
    assert covs == sorted(covs)
    docs = load_table(spark, SF_SMOKE, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("term"))
    indep = tok.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_distinct("term").alias("vocab"),
    ).first()
    assert row["total_tokens"] == indep["total"]
    assert row["n_vocab"] == indep["vocab"]
    # full-vocab coverage closes at exactly 1 when k >= vocab size
    if row["n_vocab"] <= 10000:
        assert covs[-1] == 1.0
