"""Property-based tests for the text-pipeline operators and the corpus
queries: pack_documents is compared against an independent sequential
Python reference over hypothesis-generated corpora — the distributed
prefix-sum binning must equal the obvious one-pass packer for ANY token
distribution, shard layout, and budget. The corpus-mining and
text-analysis queries (decontamination curve and span removal,
language temperature weights, keyness, the epoch allocation waterfill)
are replayed in pure Python at sf0.001 or driven through their
production helpers on planted inputs.
"""

from __future__ import annotations

import math
import os
import re
from fractions import Fraction

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.text import pack_documents
from tests.conftest import SF_SMOKE


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


# ---------------------------------------------------------------------------
# Corpus replays at sf0.001: an independent pure-Python tokenization
# (pandas + a regex tokenizer, no Spark), shared by the decontamination,
# language-weighting and keyness replays.


@pytest.fixture(scope="module")
def doc_tokens() -> list[tuple[int, str, list[str]]]:
    """(doc_id, lang, tokens) for every sf0.001 document."""
    docs = pd.read_parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    return [
        (
            int(doc_id),
            lang,
            [t for t in re.split(r"[^a-z0-9]+", str(text).lower()) if t],
        )
        for doc_id, lang, text in zip(docs["doc_id"], docs["lang"], docs["text"])
    ]


def _python_growth_curve(doc_tokens):
    """Independent pure-Python recomputation of the decontamination
    growth curve: set algebra over the tokenized corpus — none of the
    plan's min-shard-per-gram algebra (it dedups per benchmark DOC,
    then mins over docs, which must agree)."""
    grams = {
        doc_id: {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}
        for doc_id, _, toks in doc_tokens
    }
    bench_ids = sorted(g for g in grams if g < 25)
    corpus_ids = sorted(g for g in grams if g >= 25)
    shard_of = {d: d // 5 for d in bench_ids}
    shards = sorted({shard_of[d] for d in bench_ids})
    first = {}
    for c in corpus_ids:
        hits = [
            shard_of[b] for b in bench_ids if grams[c] & grams[b]
        ]
        if hits:
            first[c] = min(hits)
    rows = []
    cum_b = cum_c = 0
    for s in shards:
        cum_b += sum(1 for d in bench_ids if shard_of[d] == s)
        new = sum(1 for v in first.values() if v == s)
        cum_c += new
        rows.append((s, cum_b, new, cum_c))
    return rows


def test_decontamination_growth_monitor_python_replay(spark, doc_tokens):
    """The registered plan's curve at sf0.001 must equal the
    independent Python set-algebra computation row for row."""
    from ecommerce_data_pipeline_spark.plans.corpus_mining import (
        decontamination_growth_monitor,
    )

    got = sorted(
        (
            r["shard_id"],
            r["n_bench_docs_cum"],
            r["n_new_docs"],
            r["n_cum_docs"],
        )
        for r in decontamination_growth_monitor(spark, SF_SMOKE).collect()
    )
    assert got == _python_growth_curve(doc_tokens)
    # non-degenerate fixture: something must actually be contaminated
    assert got[-1][3] > 0


def test_decontam_certificate_grades_empty_pair_set(spark, monkeypatch):
    """Zero candidate pairs is a VALID graded state, not a crash: with
    no hits the drain lands nothing, the ledger is empty, the curve is
    the all-zero shard spine, and every boolean is TRUE (reading the
    never-created landing output must not raise 'Path does not
    exist')."""
    from ecommerce_data_pipeline_spark.plans import corpus_mining as cm

    monkeypatch.setattr(
        cm,
        "_decon_candidate_pairs",
        lambda s, d: spark.createDataFrame([], "shard_id long, doc_id long"),
    )
    r = cm.decontam_monitor_stream_certificate(spark, SF_SMOKE).collect()[0]
    assert r["n_contaminated_docs"] == 0
    assert r["stream_equals_batch"]
    assert r["curve_equals_monitor"]
    assert r["replay_stable"]


# ---------------------------------------------------------------------------
# decontam_span_removal_stats


def test_decontam_span_removal_python_replay(spark, doc_tokens):
    """Independent replay at sf0.001: matched positions by direct
    5-gram set membership, and the span union counted by MARKING
    COVERED POSITIONS IN A SET — no interval merging, no islands, so a
    defect in the plan's running-max island algebra cannot hide."""
    from ecommerce_data_pipeline_spark.plans.corpus_mining import (
        decontam_span_removal_stats,
    )

    toks = {doc_id: ts for doc_id, _, ts in doc_tokens}
    bench = set()
    for d, ts in toks.items():
        if d < 25:
            bench |= {
                " ".join(ts[i : i + 5]) for i in range(len(ts) - 4)
            }
    expected = {}
    for d, ts in toks.items():
        if d < 25:
            continue
        covered = set()
        for i in range(len(ts) - 4):
            if " ".join(ts[i : i + 5]) in bench:
                covered |= set(range(i, i + 5))
        if covered:
            n, c = len(ts), len(covered)
            expected[d] = (
                n, c, n - c, (2 * 1000 * c + n) // (2 * n),
            )
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_contaminated_tokens"],
            r["n_clean_tokens"],
            r["contamination_permille"],
        )
        for r in decontam_span_removal_stats(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert expected, "fixture must contain contaminated docs"


def test_decontam_span_islands_merge_overlaps(spark):
    """The PRODUCTION island pass (corpus_mining.merge_spans) on
    planted spans: overlapping matches (0,4) and (2,6) merge into one
    [0, 6] island (7 tokens), a disjoint match at (10,14) stays
    separate — total 12 tokens, not the 15 a naive per-span sum would
    claim."""
    from ecommerce_data_pipeline_spark.plans.corpus_mining import (
        merge_spans,
    )

    spans = spark.createDataFrame(
        [(1, 0, 4), (1, 2, 6), (1, 10, 14)], ["doc_id", "st", "en"]
    )
    got = sorted(
        (r["island_id"], r["a"], r["b"]) for r in merge_spans(spans).collect()
    )
    assert got == [(1, 0, 6), (2, 10, 14)]
    assert sum(b - a + 1 for _, a, b in got) == 12


# ---------------------------------------------------------------------------
# lang_temperature_sampling_weights


def test_lang_temperature_weights_python_replay(spark, doc_tokens):
    """Independent integer replay: token counts from the regex
    tokenizer, sqrt/floor/half-up in pure Python, full-row equality."""
    from ecommerce_data_pipeline_spark.plans.text_analysis import (
        lang_temperature_sampling_weights,
    )

    n = {}
    for _, lang, toks in doc_tokens:
        n[lang] = n.get(lang, 0) + len(toks)
    sqm = {l: math.floor(math.sqrt(v) * 1_000_000) for l, v in n.items()}
    nn, sqs = sum(n.values()), sum(sqm.values())
    expected = sorted(
        (
            l,
            n[l],
            (2 * 1_000_000 * n[l] + nn) // (2 * nn),
            (2 * 1_000_000 * sqm[l] + sqs) // (2 * sqs),
            (2 * 1_000 * sqm[l] * nn + sqs * n[l]) // (2 * sqs * n[l]),
        )
        for l in n
    )
    got = sorted(
        (
            r["lang"], r["n_tokens"], r["p_micros"], r["w_alpha_micros"],
            r["boost_permille"],
        )
        for r in lang_temperature_sampling_weights(spark, SF_SMOKE).collect()
    )
    assert got == expected


def test_lang_temperature_weights_flatten(spark):
    """The alpha = 1/2 rule FLATTENS the distribution: the dominant
    language (en) is downsampled (boost < 1000), every low-resource
    language upsampled (boost > 1000), and the weights still sum to ~1
    (within one half-up unit per language)."""
    from ecommerce_data_pipeline_spark.plans.text_analysis import (
        lang_temperature_sampling_weights,
    )

    rows = {
        r["lang"]: r
        for r in lang_temperature_sampling_weights(spark, SF_SMOKE).collect()
    }
    assert rows["en"]["boost_permille"] < 1000
    for lang, r in rows.items():
        if lang != "en":
            assert r["boost_permille"] > 1000, lang
    assert abs(sum(r["w_alpha_micros"] for r in rows.values()) - 1_000_000) \
        <= len(rows)


# ---------------------------------------------------------------------------
# keyness_chi2_terms


def test_keyness_chi2_python_replay(spark, doc_tokens):
    """Independent replay with Fraction-exact chi-square: token counts
    in pure Python, chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) via
    fractions.Fraction, half-up micros by the rational rule, then the
    same (chi2 desc, term asc) top-20 — full row equality."""
    from ecommerce_data_pipeline_spark.plans.text_analysis import (
        keyness_chi2_terms,
    )

    a, b = {}, {}
    for _, lang, toks in doc_tokens:
        tgt = a if lang == "en" else b
        for t in toks:
            tgt[t] = tgt.get(t, 0) + 1
    terms = {t for t in set(a) | set(b) if a.get(t, 0) + b.get(t, 0) >= 5}
    ta = sum(a.get(t, 0) for t in terms)
    tb = sum(b.get(t, 0) for t in terms)
    scored = []
    for t in terms:
        x, y = a.get(t, 0), b.get(t, 0)
        c, d = ta - x, tb - y
        chi2 = Fraction(
            (ta + tb) * (x * d - y * c) ** 2,
            (x + y) * (c + d) * ta * tb,
        )
        micros = (2 * 1_000_000 * chi2.numerator
                  + chi2.denominator) // (2 * chi2.denominator)
        scored.append((-micros, t, x, y))
    scored.sort()
    expected = [(t, x, y, -neg) for neg, t, x, y in scored[:20]]
    got = [
        (r["term"], r["tf_en"], r["tf_rest"], r["chi2_micros"])
        for r in keyness_chi2_terms(spark, SF_SMOKE).collect()
    ]
    assert got == expected


# ---------------------------------------------------------------------------
# token_budget_epoch_allocation


def _waterfill_bruteforce(n, R=4):
    """Exact capped waterfill by trying every capped-prefix size with
    Fraction arithmetic — the definition, not the plan's flag algebra.
    Returns {lang: exact Fraction allocation} for budget B = 2*sum(n)."""
    B = 2 * sum(n.values())
    langs = sorted(n, key=lambda l: (n[l], l))
    sqm = {l: math.floor(math.sqrt(n[l]) * 1_000_000) for l in n}
    for k in range(len(langs) + 1):
        capped, un = langs[:k], langs[k:]
        num = B - sum(R * n[l] for l in capped)
        den = sum(sqm[l] for l in un)
        if den == 0:
            if num >= 0:
                return {l: Fraction(R * n[l]) for l in langs}
            continue
        t = Fraction(num, den)
        if (
            num >= 0
            and all(t * sqm[l] <= R * n[l] for l in un)
            and all(t * sqm[l] >= R * n[l] for l in capped)
        ):
            out = {l: Fraction(R * n[l]) for l in capped}
            out.update({l: t * sqm[l] for l in un})
            return out
    raise AssertionError("no waterfill solution")


def test_epoch_allocation_matches_bruteforce(spark):
    """The production relational flag algebra against the brute-force
    exact waterfill on adversarial planted instances: a language
    forced into the 4-epoch cap (tiny mass next to a giant), equal
    masses (tie ordering), and a two-language near-boundary case."""
    from ecommerce_data_pipeline_spark.plans.text_analysis import (
        _epoch_allocation_from_masses,
    )

    cases = [
        {"tiny": 10, "giant": 100000},          # tiny must cap at 4 epochs
        {"a": 500, "b": 500, "c": 500},          # ties: uniform, uncapped
        {"lo": 100, "mid": 5000, "hi": 20000},   # lo caps, others share
        {"x": 7, "y": 13},
    ]
    for n in cases:
        exact = _waterfill_bruteforce(n)
        src = spark.createDataFrame(list(n.items()), ["lang", "n"])
        got = {
            r["lang"]: r
            for r in _epoch_allocation_from_masses(src).collect()
        }
        assert set(got) == set(n)
        for lang, a in exact.items():
            row = got[lang]
            half_up = (2 * a.numerator + a.denominator) // (
                2 * a.denominator
            )
            assert row["alloc_tokens"] == half_up, (n, lang, a)
            assert row["capped"] == (a == 4 * n[lang]), (n, lang)
            assert row["alloc_tokens"] <= 4 * n[lang]
        total = sum(r["alloc_tokens"] for r in got.values())
        assert abs(total - 2 * sum(n.values())) <= len(n)


def test_epoch_allocation_hypothesis_random(spark):
    """Randomized instances (seeded): production == brute force on 25
    draws spanning 1-6 languages and budgets that exercise both the
    all-uncapped and multi-capped regimes."""
    import random

    from ecommerce_data_pipeline_spark.plans.text_analysis import (
        _epoch_allocation_from_masses,
    )

    rng = random.Random(1307)
    for _ in range(25):
        m = rng.randint(1, 6)
        n = {f"l{i}": rng.randint(1, 50000) for i in range(m)}
        exact = _waterfill_bruteforce(n)
        src = spark.createDataFrame(list(n.items()), ["lang", "n"])
        got = {
            r["lang"]: r["alloc_tokens"]
            for r in _epoch_allocation_from_masses(src).collect()
        }
        for lang, a in exact.items():
            half_up = (2 * a.numerator + a.denominator) // (
                2 * a.denominator
            )
            assert got[lang] == half_up, (n, lang)
