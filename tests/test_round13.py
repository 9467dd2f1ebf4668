"""Property tests for the round-13 additions. First family: the
streaming decontamination monitor (`decontam_monitor_stream`) — the
doc-keyed stateful twin of `decontamination_growth_monitor` — covering
stream==batch parity on a planted landing, checkpoint restart,
tolerated (harmless) disorder, and the result-corrupting shard
regression that must raise. The growth monitor itself is replayed
against an INDEPENDENT pure-Python n-gram computation at sf0.001
(ARCHITECTURE §21: never mirror the plan's own algebra).
"""

from __future__ import annotations

import os
import re

from pyspark.sql.types import LongType, StructField, StructType

_PAIR_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("doc_id", LongType()),
    ]
)


def _fold_pairs(spark, tmp_path, chunks, ckpt="ckpt"):
    """Land each chunk of (shard_id, doc_id) pairs as one file (numbering
    continues on a second call) and fold the landing file-per-trigger
    through decontam_monitor_stream under the checkpoint ``ckpt``;
    returns the emitted rows as a sorted list of (doc_id, first_shard)."""
    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        decontam_monitor_stream,
        fold_landing,
        land_chunks,
    )

    d = str(tmp_path / "landing")
    land_chunks(chunks, _PAIR_SCHEMA, d)
    out = fold_landing(
        spark, decontam_monitor_stream, d, _PAIR_SCHEMA,
        str(tmp_path / "out"), str(tmp_path / ckpt),
    )
    return sorted((r["doc_id"], r["first_shard"]) for r in out.collect())


def test_decontam_stream_matches_batch_ledger(spark, tmp_path):
    """Planted pairs across 3 in-order triggers: the union of emitted
    rows must be exactly one (doc, min shard) row per doc — including a
    doc hit twice WITHIN a trigger (folded by min, order-free) and a
    doc re-hit in a LATER trigger (no second emission)."""
    chunks = [
        [(0, 100), (1, 100), (0, 101)],  # doc 100 twice in-trigger
        [(2, 102), (2, 100)],            # doc 100 re-hit later: no-op
        [(4, 103)],
    ]
    got = _fold_pairs(spark, tmp_path, chunks)
    assert got == [(100, 0), (101, 0), (102, 2), (103, 4)]


def test_decontam_stream_tolerates_harmless_disorder(spark, tmp_path):
    """A doc whose FIRST-ever hit arrives after a globally larger shard
    has already streamed is still graded correctly — the per-doc
    contract only rejects disorder that would corrupt an emitted row."""
    chunks = [
        [(3, 200)],          # shard 3 first, globally out of order
        [(1, 201)],          # smaller shard later, but a NEW doc: fine
        [(4, 200), (4, 201)],  # re-hits above both frontiers: no-ops
    ]
    got = _fold_pairs(spark, tmp_path, chunks)
    assert got == [(200, 3), (201, 1)]


def test_decontam_stream_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart across a half-drained landing zone: the resumed
    fold must restore per-doc flagged state — doc 300, flagged in the
    first run, must NOT re-emit when re-hit after the restart. Refolding
    the whole landing under a fresh checkpoint into the same output
    re-runs each trigger with its old batch id, which replaces its own
    emissions: the output still holds each emission once."""
    _fold_pairs(spark, tmp_path, [[(0, 300), (1, 301)]])
    # 300 re-hit post-restart: restored state
    got = _fold_pairs(spark, tmp_path, [[(2, 300), (2, 302)]])
    assert got == [(300, 0), (301, 1), (302, 2)]
    assert _fold_pairs(spark, tmp_path, [], ckpt="ckpt_fresh") == got


def test_decontam_stream_rejects_shard_regression(spark, tmp_path):
    """A benchmark shard arriving BELOW a doc's flagged shard would make
    the already-emitted first_shard wrong — append-only landings cannot
    retract, so the fold must fail loudly on THE specific contract."""
    import pytest as _pytest
    from pyspark.sql.streaming import StreamingQueryException

    chunks = [
        [(3, 400)],  # doc 400 graded contaminated at shard 3
        [(1, 400)],  # shard 1 arrives late: first_shard=3 was WRONG
    ]
    with _pytest.raises(StreamingQueryException, match="graded contaminated"):
        _fold_pairs(spark, tmp_path, chunks)


def _python_growth_curve(sf_dir):
    """Independent pure-Python recomputation of the decontamination
    growth curve: pandas + a regex tokenizer + set algebra — no Spark,
    no SQL, none of the plan's min-shard-per-gram algebra (it dedups
    per benchmark DOC, then mins over docs, which must agree)."""
    import pandas as pd

    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    grams = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = [t for t in re.split(r"[^a-z0-9]+", str(text).lower()) if t]
        grams[int(doc_id)] = {
            " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
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


def test_decontamination_growth_monitor_python_replay(spark):
    """The registered plan's curve at sf0.001 must equal the
    independent Python set-algebra computation row for row."""
    from ecommerce_data_pipeline_spark.plans.corpus_mining import (
        decontamination_growth_monitor,
    )
    from tests.conftest import SF_SMOKE

    got = sorted(
        (
            r["shard_id"],
            r["n_bench_docs_cum"],
            r["n_new_docs"],
            r["n_cum_docs"],
        )
        for r in decontamination_growth_monitor(spark, SF_SMOKE).collect()
    )
    assert got == _python_growth_curve(SF_SMOKE)
    # non-degenerate fixture: something must actually be contaminated
    assert got[-1][3] > 0


# ---------------------------------------------------------------------------
# Page's trend test (r13): hand-pinned textbook example through the
# PRODUCTION helper (_page_trend_from_cells — the _jt_doubled_statistic
# precedent), plus the no-ties variance reduction to the published
# closed form.


def test_page_trend_hand_pinned(spark):
    """3 blocks x 4 ordered treatments, no ties, hand-computed ranks.

    Block A values 10<20<30<40 -> ranks 1,2,3,4 aligned with order;
    B: 5<6<8<7 -> ranks 1,2,4,3; C: 100>90, 70, 80 -> values
    100,90,70,80 -> ranks 4,3,1,2. L = sum j*r_j =
    A: 1+4+9+16=30; B: 1+4+12+12=29; C: 4+6+3+8=21 -> L=80, L2=160.
    E[L] = m*k*(k+1)^2/4 = 3*4*25/4 = 75 -> E[L2]=150.
    No ties: Var(L) = m*k^2*(k+1)^2*(k-1)/144 = 3*16*25*3/144 = 25
    -> 12*Var(L2) = 48*Var(L) = 1200. z = (80-75)/5 = 1.0."""
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _page_trend_from_cells,
    )

    rows = [
        ("A", 1, 10.0), ("A", 2, 20.0), ("A", 3, 30.0), ("A", 4, 40.0),
        ("B", 1, 5.0), ("B", 2, 6.0), ("B", 3, 8.0), ("B", 4, 7.0),
        ("C", 1, 100.0), ("C", 2, 90.0), ("C", 3, 70.0), ("C", 4, 80.0),
    ]
    cells = spark.createDataFrame(rows, ["segment", "y", "rev"])
    out = _page_trend_from_cells(cells).collect()
    assert len(out) == 1
    r = out[0]
    assert (
        r["n_blocks"], r["k_treatments"], r["l2"], r["e_l2"],
        r["var_l2_x12"],
    ) == (3, 4, 160, 150, 1200)
    assert r["z_score"] == 1.0


def test_page_trend_ties_use_midranks(spark):
    """A fully tied block contributes mean ranks (R2 = k+1 for every
    cell) — zero trend signal and ZERO variance contribution, so the
    statistic must come entirely from the untied block. Block A all
    equal -> R2 = 5 each; block B 1..4 as before."""
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _page_trend_from_cells,
    )

    rows = [
        ("A", 1, 7.0), ("A", 2, 7.0), ("A", 3, 7.0), ("A", 4, 7.0),
        ("B", 1, 10.0), ("B", 2, 20.0), ("B", 3, 30.0), ("B", 4, 40.0),
    ]
    cells = spark.createDataFrame(rows, ["segment", "y", "rev"])
    r = _page_trend_from_cells(cells).collect()[0]
    # l2: A: (1+2+3+4)*5 = 50; B: 2*(1+4+9+16) = 60 -> 110
    # e_l2 = 2*4*25/2 = 100; var: only B contributes
    # S_B = (2-5)^2+(4-5)^2+(6-5)^2+(8-5)^2 = 9+1+1+9 = 20
    # var_l2_x12 = k(k+1)*S = 4*5*20 = 400
    assert (r["l2"], r["e_l2"], r["var_l2_x12"]) == (110, 100, 400)


def test_page_trend_registered_dense_grid(spark):
    """The registered query's grid is dense: n_blocks*k_treatments
    cells even though the statistic folds to one row, and the moments
    satisfy the no-ties closed form when var matches it (revenue sums
    are 2dp-decimal — ties are absent at sf0.001, so the textbook
    Var(L) = m*k^2*(k+1)^2*(k-1)/144 must equal var_l2_x12/48)."""
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        page_trend_yearly_revenue,
    )
    from tests.conftest import SF_SMOKE

    r = page_trend_yearly_revenue(spark, SF_SMOKE).collect()[0]
    m, k = r["n_blocks"], r["k_treatments"]
    assert m == 5 and k == 7
    assert r["e_l2"] == m * k * (k + 1) * (k + 1) // 2
    assert r["var_l2_x12"] == 48 * (m * k * k * (k + 1) * (k + 1) * (k - 1)) // 144


# ---------------------------------------------------------------------------
# Kendall's W (r13 batch 2): hand-pinned examples through the
# production helper, plus registered-query invariants.


def test_kendalls_w_perfect_agreement(spark):
    """3 judges ranking 3 objects identically -> W = 1 exactly.
    R2_j = 6, 12, 18; m(k+1) = 12 -> S2x4 = 72, w_num = 216,
    w_den = 9*24 = 216."""
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _kendalls_w_from_cells,
    )

    rows = [
        (j, o, float(o * 10)) for j in ("A", "B", "C") for o in (1, 2, 3)
    ]
    cells = spark.createDataFrame(rows, ["segment", "y", "rev"])
    r = _kendalls_w_from_cells(cells).collect()[0]
    assert (r["s2x4"], r["w_num"], r["w_den"], r["tie_correction"]) == (
        72, 216, 216, 0,
    )
    assert r["w_stat"] == 1.0


def test_kendalls_w_tied_judge_correction(spark):
    """One fully tied judge (R2 = k+1 everywhere, tie group t = 3 ->
    T = 24) + one informative judge: S2x4 = 8, w_num = 24,
    w_den = 4*24 - 2*24 = 48 -> W = 0.5. Without the tie correction
    W would be 24/96 = 0.25 — so the test fails if T is dropped."""
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _kendalls_w_from_cells,
    )

    rows = [
        ("A", 1, 7.0), ("A", 2, 7.0), ("A", 3, 7.0),
        ("B", 1, 10.0), ("B", 2, 20.0), ("B", 3, 30.0),
    ]
    cells = spark.createDataFrame(rows, ["segment", "y", "rev"])
    r = _kendalls_w_from_cells(cells).collect()[0]
    assert (r["s2x4"], r["w_num"], r["w_den"], r["tie_correction"]) == (
        8, 24, 48, 24,
    )
    assert r["w_stat"] == 0.5


def test_kendalls_w_registered_invariants(spark):
    """Registered query at sf0.001: W in [0, 1], the denominator
    matches m^2(k^3-k) - mT, and 2dp-decimal revenue sums admit no
    ties (T = 0)."""
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        kendalls_w_concordance,
    )
    from tests.conftest import SF_SMOKE

    r = kendalls_w_concordance(spark, SF_SMOKE).collect()[0]
    m, k = r["n_judges"], r["k_objects"]
    assert (m, k) == (5, 7)
    assert r["tie_correction"] == 0
    assert r["w_den"] == m * m * (k ** 3 - k)
    assert 0.0 <= r["w_stat"] <= 1.0
    assert r["w_num"] == 3 * r["s2x4"]


# ---------------------------------------------------------------------------
# lang_temperature_sampling_weights (r13 batch 2)


def test_lang_temperature_weights_python_replay(spark):
    """Independent integer replay: token counts via pandas + the regex
    tokenizer, sqrt/floor/half-up in pure Python, full-row equality."""
    import math

    import pandas as pd

    from ecommerce_data_pipeline_spark.plans.text_analysis import (
        lang_temperature_sampling_weights,
    )
    from tests.conftest import SF_SMOKE

    docs = pd.read_parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    n = {}
    for lang, text in zip(docs["lang"], docs["text"]):
        toks = [t for t in re.split(r"[^a-z0-9]+", str(text).lower()) if t]
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
    from tests.conftest import SF_SMOKE

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
# keyness_chi2_terms (r13 batch 2)


def test_keyness_chi2_python_replay(spark):
    """Independent replay with Fraction-exact chi-square: token counts
    in pure Python, chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) via
    fractions.Fraction, half-up micros by the rational rule, then the
    same (chi2 desc, term asc) top-20 — full row equality."""
    from fractions import Fraction

    import pandas as pd

    from ecommerce_data_pipeline_spark.plans.text_analysis import (
        keyness_chi2_terms,
    )
    from tests.conftest import SF_SMOKE

    docs = pd.read_parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    a, b = {}, {}
    for lang, text in zip(docs["lang"], docs["text"]):
        toks = [t for t in re.split(r"[^a-z0-9]+", str(text).lower()) if t]
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
# cramer_von_mises_two_sample (r13 batch 3)


def test_cvm_matches_direct_enumeration_replay(spark):
    """Independent replay at sf0.001: direct per-observation midrank
    enumeration with fractions.Fraction (no cells, no closed forms —
    the textbook U = n*sum(r_i - i)^2 + m*sum(s_j - j)^2), then the
    exact T and the half-up micros rule."""
    from collections import Counter
    from fractions import Fraction

    from ecommerce_data_pipeline_spark.plans.effect_sizes import (
        cramer_von_mises_two_sample,
    )
    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    rows = (
        o.join(c, o.o_custkey == c.c_custkey)
        .selectExpr(
            "c_mktsegment AS s",
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v",
        )
        .filter("s IN ('BUILDING', 'MACHINERY')")
        .collect()
    )
    x = sorted(int(r.v) for r in rows if r.s == "BUILDING")
    y = sorted(int(r.v) for r in rows if r.s == "MACHINERY")
    n, m = len(x), len(y)
    N = n + m
    cnt = Counter(x) + Counter(y)
    rank_of, pos = {}, 0
    for v in sorted(cnt):
        rank_of[v] = Fraction(2 * pos + cnt[v] + 1, 2)
        pos += cnt[v]
    u = n * sum(
        (rank_of[v] - (i + 1)) ** 2 for i, v in enumerate(x)
    ) + m * sum((rank_of[v] - (j + 1)) ** 2 for j, v in enumerate(y))
    t = u / (n * m * N) - Fraction(4 * m * n - 1, 6 * N)
    t_micros = (2 * 1_000_000 * t.numerator + t.denominator) // (
        2 * t.denominator
    )

    r = cramer_von_mises_two_sample(spark, SF_SMOKE).collect()[0]
    assert (r["n_a"], r["n_b"]) == (n, m)
    assert Fraction(r["u12"], 12) == u
    assert r["t_micros"] == t_micros
    assert t > 0  # CvM is nonnegative; fixture must be non-degenerate


def test_cvm_identical_samples_near_zero(spark):
    """Two identical samples through the PRODUCTION cell algebra
    (_cvm_from_hist): every value is a cross-sample tie, the EDF gap is
    0 everywhere, and T collapses exactly to 0. Hand derivation for
    x = y = [1, 2, 3]: midranks 1.5, 3.5, 5.5 -> per-sample sum
    (0.5^2 + 1.5^2 + 2.5^2) = 8.75, U = 6 * 8.75 = 52.5, u12 = 630;
    T = 52.5/54 - 35/36 = 0 exactly. A sign flip in any g(a, c) term
    breaks u12 == 630."""
    from ecommerce_data_pipeline_spark.plans.effect_sizes import (
        _cvm_from_hist,
    )

    hist = spark.createDataFrame(
        [(1, 1, 1), (2, 1, 1), (3, 1, 1)], ["v", "a_cnt", "b_cnt"]
    )
    r = _cvm_from_hist(hist).collect()[0]
    assert (r["n_a"], r["n_b"], r["u12"], r["t_micros"]) == (3, 3, 630, 0)


def test_decontam_certificate_grades_empty_pair_set(spark, monkeypatch):
    """Zero candidate pairs is a VALID graded state, not a crash: with
    no hits the drain lands nothing, the ledger is empty, the curve is
    the all-zero shard spine, and every boolean is TRUE (r13 review:
    the pre-fix path raised 'Path does not exist' reading the never-
    created landing output)."""
    from ecommerce_data_pipeline_spark.plans import corpus_mining as cm
    from tests.conftest import SF_SMOKE

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
# quade_weighted_friedman (r13 batch 4)


def _quade_direct(blocks):
    """Textbook Quade with Fraction midranks — real-valued ranks and
    range weights, none of the plan's doubled-integer algebra."""
    from fractions import Fraction

    m = len(blocks)
    k = len(next(iter(blocks.values())))

    def midranks(vals):
        return [
            Fraction(
                2 * sum(1 for w in vals if w < v)
                + sum(1 for w in vals if w == v)
                + 1,
                2,
            )
            for v in vals
        ]

    ranges = {b: max(v) - min(v) for b, v in blocks.items()}
    rvals = list(ranges.values())
    qof = {
        b: Fraction(
            2 * sum(1 for w in rvals if w < ranges[b])
            + sum(1 for w in rvals if w == ranges[b])
            + 1,
            2,
        )
        for b in blocks
    }
    s = {
        b: [qof[b] * (r - Fraction(k + 1, 2)) for r in midranks(v)]
        for b, v in blocks.items()
    }
    a = sum(x * x for row in s.values() for x in row)
    sj = [sum(s[b][j] for b in blocks) for j in range(k)]
    bstat = Fraction(sum(x * x for x in sj), m)
    return m, k, a, bstat


def test_quade_matches_textbook_fraction_replay(spark):
    """Planted 3x3 design with a fully tied block (range 0, weight
    rank 1) and an untied trend block: the production doubled-integer
    algebra must satisfy a2x16 = 16A, bx16m = 16mB, and
    f_num/f_den = (m-1)B/(A-B) computed independently with Fractions."""
    from fractions import Fraction

    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _quade_from_cells,
    )

    blocks = {
        "A": [1.0, 2.0, 3.0],
        "B": [10.0, 30.0, 20.0],
        "C": [5.0, 5.0, 5.0],
    }
    rows = [
        (b, j + 1, v)
        for b, vals in blocks.items()
        for j, v in enumerate(vals)
    ]
    cells = spark.createDataFrame(rows, ["segment", "y", "rev"])
    r = _quade_from_cells(cells).collect()[0]
    m, k, a, bstat = _quade_direct(blocks)
    assert (r["n_blocks"], r["k_treatments"]) == (m, k)
    assert Fraction(r["a2x16"], 16) == a
    assert Fraction(r["bx16m"], 16 * m) == bstat
    f = Fraction(m - 1) * bstat / (a - bstat)
    assert Fraction(r["f_num"], 1) / Fraction(r["f_den"], 1) == f
    assert r["f_stat"] == round(float(f), 6)


def test_quade_registered_invariants(spark):
    """Registered query at sf0.001: no ties anywhere (2dp decimal
    sums), so A2x16 collapses to the closed form
    sum_q (2q)^2 * k(k^2-1)/3 = 4*(m(m+1)(2m+1)/6)*k(k^2-1)/3 — a
    data-independent constant; and F > 0."""
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        quade_weighted_friedman,
    )
    from tests.conftest import SF_SMOKE

    r = quade_weighted_friedman(spark, SF_SMOKE).collect()[0]
    m, k = r["n_blocks"], r["k_treatments"]
    assert (m, k) == (5, 7)
    expected_a = 4 * (m * (m + 1) * (2 * m + 1) // 6) * (k * (k * k - 1) // 3)
    assert r["a2x16"] == expected_a
    assert r["f_den"] == m * r["a2x16"] - r["bx16m"]
    assert r["f_stat"] > 0


# ---------------------------------------------------------------------------
# decontam_span_removal_stats (r13 batch 5)


def test_decontam_span_removal_python_replay(spark):
    """Independent replay at sf0.001: matched positions by direct
    5-gram set membership, and the span union counted by MARKING
    COVERED POSITIONS IN A SET — no interval merging, no islands, so a
    defect in the plan's running-max island algebra cannot hide."""
    import pandas as pd

    from ecommerce_data_pipeline_spark.plans.corpus_mining import (
        decontam_span_removal_stats,
    )
    from tests.conftest import SF_SMOKE

    docs = pd.read_parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    toks = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks[int(doc_id)] = [
            t for t in re.split(r"[^a-z0-9]+", str(text).lower()) if t
        ]
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
# token_budget_epoch_allocation (r13 batch 5)


def _waterfill_bruteforce(n, R=4):
    """Exact capped waterfill by trying every capped-prefix size with
    Fraction arithmetic — the definition, not the plan's flag algebra.
    Returns {lang: exact Fraction allocation} for budget B = 2*sum(n)."""
    import math
    from fractions import Fraction

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
    from fractions import Fraction

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
