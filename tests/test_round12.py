"""Property tests for the round-12 fixes/additions. First: the
chi_square_contingency zero-cell repair (r11 verdict task #1) — the
statistic must be computed over the DENSE marginal grid, so a planted
EMPTY (segment, priority) cell contributes (0 - e)^2 / e. The replay
cross-checks an independent textbook computation on a hand-built tiny
table (ARCHITECTURE §21: never mirror the plan's own algebra).
"""

from __future__ import annotations

import math

from pyspark.sql.types import LongType, StringType, StructField, StructType

from ecommerce_data_pipeline_spark.plans.profiling import _chi_square_grid


def test_chi_square_planted_empty_cell(spark):
    """2x2 design where one cell is EMPTY: textbook chi2 over the full
    grid includes the empty cell's (0 - e)^2 / e term; the pre-r12
    observed-cells-only form would drop it. Verifies (a) the grid row
    for the empty cell exists with observed=0, (b) every cell's
    expected and contribution match the textbook values at 6dp, and
    (c) the summed statistic equals the full-grid chi2 — which differs
    from the observed-only sum, so the test can actually fail."""
    rows = (
        [("A", "P1")] * 6
        + [("A", "P2")] * 4
        + [("B", "P1")] * 5
        # (B, P2) planted empty
    )
    joined = spark.createDataFrame(rows, ["segment", "priority"])
    out = {
        (r["segment"], r["priority"]): r
        for r in _chi_square_grid(joined).collect()
    }

    # textbook: observed grid with the empty cell explicit
    obs = {("A", "P1"): 6, ("A", "P2"): 4, ("B", "P1"): 5, ("B", "P2"): 0}
    n = sum(obs.values())
    rt = {"A": 10, "B": 5}
    ct = {"P1": 11, "P2": 4}
    assert set(out) == set(obs), "dense grid must include the empty cell"

    chi2_full = 0.0
    for (s, p), o in obs.items():
        e = rt[s] * ct[p] / n
        contrib = (o - e) ** 2 / e
        chi2_full += contrib
        row = out[(s, p)]
        assert row["observed"] == o
        assert math.isclose(row["expected"], round(e, 6), abs_tol=1e-9)
        assert math.isclose(
            row["chi2_contribution"], round(contrib, 6), abs_tol=1e-9
        )

    engine_chi2 = sum(r["chi2_contribution"] for r in out.values())
    assert math.isclose(engine_chi2, chi2_full, abs_tol=5e-6)
    # the regression this guards: observed-only sum omits the empty
    # cell's full expected mass — materially smaller
    chi2_observed_only = chi2_full - (rt["B"] * ct["P2"] / n)
    assert engine_chi2 > chi2_observed_only + 1.0


# ---------------------------------------------------------------------------
# jonckheere_terpstra_priority_trend


def test_jonckheere_terpstra_matches_bruteforce_replay(spark):
    """Independent replay (ARCHITECTURE §21): JT by DIRECT pair
    enumeration over the raw sf0.001 rows (no histograms, no windows),
    the Hollander-Wolfe tie-corrected variance written fresh from the
    textbook form, plus the pair-count identity
    sum_{i<j} (U2_ij + U2_ji) = 2 * sum_{i<j} n_i n_j."""
    import math

    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        jonckheere_terpstra_priority_trend,
    )
    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE
    from collections import defaultdict

    rows = (
        load_table(spark, SF_SMOKE, "orders")
        .selectExpr(
            "o_orderpriority AS g",
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v",
        )
        .collect()
    )
    groups = defaultdict(list)
    for r in rows:
        groups[r.g].append(int(r.v))
    keys = sorted(groups)
    u2 = u2_rev = 0
    for i in range(len(keys)):
        for j in range(i + 1, len(keys)):
            for x in groups[keys[i]]:
                for y in groups[keys[j]]:
                    if x < y:
                        u2 += 2
                    elif x == y:
                        u2 += 1
                        u2_rev += 1
                    else:
                        u2_rev += 2
    ngs = [len(groups[k]) for k in keys]
    n = sum(ngs)
    # identity: forward + reverse doubled counts cover every inter-group pair
    assert u2 + u2_rev == 2 * sum(
        ngs[i] * ngs[j]
        for i in range(len(ngs))
        for j in range(i + 1, len(ngs))
    )
    mean2 = (n * n - sum(g * g for g in ngs)) // 2
    tie = defaultdict(int)
    for vals in groups.values():
        for v in vals:
            tie[v] += 1
    tv = list(tie.values())
    var = (
        (
            n * (n - 1) * (2 * n + 5)
            - sum(g * (g - 1) * (2 * g + 5) for g in ngs)
            - sum(t * (t - 1) * (2 * t + 5) for t in tv)
        )
        / 72.0
        + sum(g * (g - 1) * (g - 2) for g in ngs)
        * sum(t * (t - 1) * (t - 2) for t in tv)
        / (36.0 * n * (n - 1) * (n - 2))
        + sum(g * (g - 1) for g in ngs)
        * sum(t * (t - 1) for t in tv)
        / (8.0 * n * (n - 1))
    )
    z = (u2 - mean2) / (2.0 * math.sqrt(var))

    got = jonckheere_terpstra_priority_trend(spark, SF_SMOKE).collect()[0]
    assert got["k_groups"] == len(keys)
    assert got["n"] == n
    assert got["jt_u2"] == u2
    assert got["mean_u2"] == mean2
    assert math.isclose(got["z_score"], round(z, 6), abs_tol=2e-6)


def test_jonckheere_terpstra_hand_pinned_example(spark):
    """Hand-pinned 3-group example with a planted tie across groups:
    A=(1,3), B=(2,3), C=(4,5). Forward pair walks: A-B pairs
    (1<2, 1<3, 3>2, 3=3) -> U2=2+2+0+1=5; A-C all four < -> 8;
    B-C all four < -> 8; total U2=21. n=6, sum ng^2=12 ->
    mean2=(36-12)/2=12."""
    import pyspark.sql.functions as F

    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _jt_doubled_statistic,
    )

    df = spark.createDataFrame(
        [("A", 1), ("A", 3), ("B", 2), ("B", 3), ("C", 4), ("C", 5)],
        ["g", "v"],
    )
    # Drives the PRODUCTION window algebra (_jt_doubled_statistic, the
    # same helper the registered plan calls) with a synthetic relation
    # whose expected value 21 is hand-derived above.
    cells = df.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    u2 = _jt_doubled_statistic(cells).collect()[0]["u2"]
    assert int(u2) == 21


# ---------------------------------------------------------------------------
# moods_median_test


def test_moods_median_matches_python_replay(spark):
    """Independent replay: median by SORTING the raw sf0.001 values
    (lower median = element at index ceil(n/2)-1), per-segment
    above/at-or-below counts by direct comparison, chi2 by the textbook
    2 x k loop — no histograms, no windows."""
    import math
    from collections import defaultdict

    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        moods_median_test,
    )
    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    rows = (
        o.join(c, o.o_custkey == c.c_custkey)
        .selectExpr(
            "c_mktsegment AS segment",
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v",
        )
        .collect()
    )
    vals = sorted(int(r.v) for r in rows)
    n = len(vals)
    med = vals[(n + 1) // 2 - 1]  # lower median
    above = defaultdict(int)
    total = defaultdict(int)
    for r in rows:
        total[r.segment] += 1
        if int(r.v) > med:
            above[r.segment] += 1
    a_tot = sum(above.values())

    got = {r["segment"]: r for r in moods_median_test(spark, SF_SMOKE).collect()}
    assert set(got) == set(total)
    for seg in total:
        e_a = total[seg] * a_tot / n
        e_b = total[seg] * (n - a_tot) / n
        o_a = above[seg]
        o_b = total[seg] - o_a
        contrib = (o_a - e_a) ** 2 / e_a + (o_b - e_b) ** 2 / e_b
        row = got[seg]
        assert row["median_cents"] == med
        assert row["n_g"] == total[seg]
        assert row["n_above"] == o_a
        assert row["n_at_or_below"] == o_b
        assert math.isclose(row["expected_above"], round(e_a, 6), abs_tol=1e-9)
        assert math.isclose(
            row["chi2_contribution"], round(contrib, 6), abs_tol=2e-6
        )


def test_moods_median_hand_pinned_example():
    """Hand-pinned lower-median convention: for n=4 values (1,2,3,4)
    the lower median is the ceil(4/2)=2nd order statistic = 2; for n=5
    values (1,2,3,4,5) it is the 3rd = 3 — the (n+1)//2 position the
    plan and oracle both read off the cumulative histogram."""
    for vals, want in ([1, 2, 3, 4], 2), ([1, 2, 3, 4, 5], 3):
        assert vals[(len(vals) + 1) // 2 - 1] == want


# ---------------------------------------------------------------------------
# mixture_convergence_monitor + mixture_monitor_stream


def _mix_cells(spark):
    """The (batch_id, source, cnt) arrival-batch cells at SF_SMOKE, as
    plain Python rows, batch-ordered."""
    from collections import defaultdict

    from ecommerce_data_pipeline_spark.plans.corpus_mining import (
        _MIX_BATCH_DOCS,
    )
    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    cells = defaultdict(int)
    for r in docs.collect():
        cells[(int(r.doc_id) // _MIX_BATCH_DOCS, r.source)] += 1
    return sorted((b, s, c) for (b, s), c in cells.items())


def _mix_target(cells):
    """Planned target mixture (source -> integer micros) from the full
    corpus with the same exact rational half-up rule as both twins."""
    from collections import defaultdict

    total_s = defaultdict(int)
    for _, s, c in cells:
        total_s[s] += c
    total = sum(total_s.values())
    return {
        s: (2 * 1000000 * t + total) // (2 * total)
        for s, t in total_s.items()
    }


_MIX_SCHEMA = StructType(
    [
        StructField("batch_id", LongType()),
        StructField("source", StringType()),
        StructField("cnt", LongType()),
    ]
)


def _mix_chunks(cells):
    """The cells as 3 batch-ordered row lists, whole batches per chunk
    (a batch must close within one trigger)."""
    batches = sorted({b for b, _, _ in cells})
    n = len(batches)
    cuts = [batches[: n // 3], batches[n // 3 : 2 * n // 3], batches[2 * n // 3 :]]
    return [[(b, s, c) for b, s, c in cells if b in set(cut)] for cut in cuts]


def _mix_fold(spark, tmp_path, chunks, target):
    """Land ``chunks`` one file each and fold them through
    mixture_monitor_stream against ``target``."""
    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        fold_landing,
        land_chunks,
        mixture_monitor_stream,
    )

    d = str(tmp_path / "mix_landing")
    land_chunks(chunks, _MIX_SCHEMA, d)
    return fold_landing(
        spark,
        lambda s: mixture_monitor_stream(s, target),
        d,
        _MIX_SCHEMA,
        str(tmp_path / "mix_out"),
        str(tmp_path / "mix_ckpt"),
    )


def _mix_batch_expected(spark):
    from ecommerce_data_pipeline_spark.plans.corpus_mining import (
        mixture_convergence_monitor,
    )
    from tests.conftest import SF_SMOKE

    return _mix_rows(mixture_convergence_monitor(spark, SF_SMOKE).collect())


def _mix_rows(rows):
    return sorted(
        (
            r["batch_id"],
            r["n_docs_cum"],
            r["l1_dev_micros"],
            r["max_dev_source"],
            r["max_abs_dev_micros"],
        )
        for r in rows
    )


def test_mixture_stream_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart across a half-drained landing zone: the resumed
    fold must continue from checkpointed per-source counts and land on
    the same relation as the batch computation."""
    cells = _mix_cells(spark)
    chunks, target = _mix_chunks(cells), _mix_target(cells)
    _mix_fold(spark, tmp_path, chunks[:2], target)
    got = _mix_rows(_mix_fold(spark, tmp_path, chunks[2:], target).collect())
    assert got == _mix_batch_expected(spark)


def test_mixture_stream_rejects_reordered_batches(spark, tmp_path):
    """A batch at or before the folded frontier must RAISE (cumulative
    counts make every report a prefix fold), not be silently
    re-absorbed."""
    import pytest as _pytest
    from pyspark.sql.streaming import StreamingQueryException

    chunks = [[(0, "a", 3), (1, "b", 2)], [(1, "a", 1)]]
    # the stream must fail on THE frontier contract specifically — a
    # bare StreamingQueryException would let any unrelated failure
    # (schema error, landing-path issue) pass (r12 advice)
    with _pytest.raises(StreamingQueryException, match="folded frontier"):
        _mix_fold(spark, tmp_path, chunks, {"a": 600000, "b": 400000})


def test_mixture_stream_rejects_unplanned_source(spark, tmp_path):
    """A source outside the planned target mixture must RAISE — counting
    it would silently shift every other source's share."""
    import pytest as _pytest
    from pyspark.sql.streaming import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="target mixture"):
        _mix_fold(spark, tmp_path, [[(0, "rogue", 1)]], {"a": 1000000})


# ---------------------------------------------------------------------------
# The r12 slate-emission pin moved to tests/test_round13.py (the r13
# slate supersedes it; the pins it was generated with are recorded in
# plans/registry.py's r12 history and GRADING_BACKLOG.md).


# ---------------------------------------------------------------------------
# cliffs_delta_segments


def test_cliffs_delta_matches_bruteforce_replay(spark):
    """Independent replay: dominance counts by DIRECT pair enumeration
    over the raw sf0.001 rows (no histograms, no derived lt), the
    gt + lt + tie = n1*n2 identity, and delta/A from the definitions."""
    import math

    from ecommerce_data_pipeline_spark.plans.profiling import (
        _W1_SEG_A,
        _W1_SEG_B,
    )
    from ecommerce_data_pipeline_spark.plans.effect_sizes import (
        cliffs_delta_segments,
    )
    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    rows = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(c.c_mktsegment.isin(_W1_SEG_A, _W1_SEG_B))
        .selectExpr(
            "c_mktsegment AS segment",
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v",
        )
        .collect()
    )
    a = [int(r.v) for r in rows if r.segment == _W1_SEG_A]
    b = [int(r.v) for r in rows if r.segment == _W1_SEG_B]
    gt = lt = tie = 0
    for x in a:
        for y in b:
            if x > y:
                gt += 1
            elif x < y:
                lt += 1
            else:
                tie += 1
    assert gt + lt + tie == len(a) * len(b)  # the derived-lt identity
    delta = (gt - lt) / (len(a) * len(b))
    a_measure = (2 * gt + tie) / (2 * len(a) * len(b))

    got = cliffs_delta_segments(spark, SF_SMOKE).collect()[0]
    assert got["n_a"] == len(a) and got["n_b"] == len(b)
    assert got["n_gt"] == gt and got["n_lt"] == lt and got["n_tie"] == tie
    assert math.isclose(got["cliffs_delta"], round(delta, 6), abs_tol=1e-9)
    assert math.isclose(got["vd_a_measure"], round(a_measure, 6), abs_tol=1e-9)
    want_band = (
        "negligible" if abs(delta) < 0.147
        else "small" if abs(delta) < 0.33
        else "medium" if abs(delta) < 0.474
        else "large"
    )
    assert got["magnitude"] == want_band


def test_cliffs_delta_hand_pinned_example():
    """Hand-pinned dominance: A=(1,2,3), B=(2,2) -> pairs
    (1<2 x2, 2=2 x2, 3>2 x2): gt=2, lt=2, tie=2, delta=0,
    A-measure=(4+2)/12=0.5 — the textbook symmetric case."""
    a, b = [1, 2, 3], [2, 2]
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    tie = sum(1 for x in a for y in b if x == y)
    assert (gt, lt, tie) == (2, 2, 2)
    assert (gt - lt) / (len(a) * len(b)) == 0.0
    assert (2 * gt + tie) / (2 * len(a) * len(b)) == 0.5


# ---------------------------------------------------------------------------
# cochran_armitage_priority_trend


def test_cochran_armitage_matches_textbook_replay(spark):
    """Independent replay in the TEXTBOOK pbar form — z = (T - pbar*S1)
    / sqrt(pbar*(1-pbar)*(S2 - S1^2/N)) — against the plan's
    cross-multiplied integer form (different algebra, same value)."""
    import math
    from collections import defaultdict

    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        cochran_armitage_priority_trend,
    )
    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "orders")
        .selectExpr(
            "CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s",
            "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y",
        )
        .collect()
    )
    n_g = defaultdict(int)
    r_g = defaultdict(int)
    for r in rows:
        n_g[int(r.s)] += 1
        r_g[int(r.s)] += int(r.y)
    N = sum(n_g.values())
    R = sum(r_g.values())
    T = sum(s * r_g[s] for s in n_g)
    S1 = sum(s * n_g[s] for s in n_g)
    S2 = sum(s * s * n_g[s] for s in n_g)
    pbar = R / N
    z = (T - pbar * S1) / math.sqrt(
        pbar * (1 - pbar) * (S2 - S1 * S1 / N)
    )

    got = cochran_armitage_priority_trend(spark, SF_SMOKE).collect()[0]
    assert got["k_groups"] == len(n_g)
    assert got["n"] == N
    assert got["n_success"] == R
    assert got["t_stat"] == T
    assert math.isclose(got["z_score"], round(z, 6), abs_tol=2e-6)


def test_cochran_armitage_hand_pinned_example():
    """Hand-pinned perfect trend: scores (1,2), groups of 2 with
    successes (0, 2): N=4, R=2, T=4, S1=6, S2=10, pbar=.5 ->
    num = 4 - 3 = 1; var = .25*(10 - 9) = .25 -> z = 2."""
    import math

    N, R, T, S1, S2 = 4, 2, 4, 6, 10
    pbar = R / N
    z = (T - pbar * S1) / math.sqrt(pbar * (1 - pbar) * (S2 - S1 * S1 / N))
    assert z == 2.0
    # and the plan's cross-multiplied integer form agrees
    z2 = (T * N - R * S1) / math.sqrt(R * (N - R) * (N * S2 - S1 * S1) / N)
    assert math.isclose(z2, 2.0, abs_tol=1e-12)


# ---------------------------------------------------------------------------
# exact rational rounding (r12 review finding: F.floor of a Spark
# decimal division rounds the quotient to scale 6 HALF_UP first and
# lands one unit high near .9999995 boundaries)


def test_half_up_ratio_units_exact_at_boundary(spark):
    """The helper must agree with Python's exact integer rule at the
    adversarial boundary the review found (p=500001, q=1000001: the
    true quotient 500000.9999995... must floor to 500000 after the
    half-up adjustment — naive floor-of-decimal-division says 500001),
    and across a sweep of near-boundary denominators."""
    from ecommerce_data_pipeline_spark.plans._helpers import (
        half_up_ratio_units,
    )
    import pyspark.sql.functions as F

    cases = [(500001, 1000001), (1, 3), (2, 3), (1, 2), (999999, 1000000)]
    cases += [(k, 10**6 + 1) for k in (1, 500000, 500001, 10**6)]
    df = spark.createDataFrame(cases, "p long, q long")
    got = {
        (r["p"], r["q"]): r["u"]
        for r in df.select(
            "p",
            "q",
            half_up_ratio_units(F.col("p"), F.col("q"), 1_000_000).alias("u"),
        ).collect()
    }
    for p, q in cases:
        assert got[(p, q)] == (2 * 1_000_000 * p + q) // (2 * q), (p, q)


def test_mixture_stream_state_survives_colon_source(spark, tmp_path):
    """A source name containing ':' must round-trip through the state
    CSV (the count is the LAST field, parsed with rsplit) — and a
    target with ',' in a name is rejected at construction."""
    import pytest as _pytest

    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        mixture_monitor_stream,
    )

    with _pytest.raises(ValueError, match="record separator"):
        mixture_monitor_stream(None, {"bad,name": 1_000_000})

    # two chunks => two triggers => the colon-bearing counts must be
    # parsed back OUT of checkpointed state on the second trigger
    chunks = [
        [(0, "lang:en", 3), (0, "lang:fr", 1)],
        [(1, "lang:en", 1), (1, "lang:fr", 3)],
    ]
    got = _mix_fold(
        spark, tmp_path, chunks, {"lang:en": 500_000, "lang:fr": 500_000}
    )
    rows = {r["batch_id"]: r for r in got.collect()}
    # batch 0: en 3/4 = 750000 (dev +250000), fr 1/4 (dev -250000)
    assert rows[0]["l1_dev_micros"] == 500_000
    assert rows[0]["max_dev_source"] == "lang:en"
    # batch 1 cumulative: en 4/8, fr 4/8 — exactly on target
    assert rows[1]["l1_dev_micros"] == 0
    assert rows[1]["n_docs_cum"] == 8


# ---------------------------------------------------------------------------
# hellinger_price_drift


def test_hellinger_matches_python_replay(spark):
    """Independent replay: bins by Python integer arithmetic over the
    raw sf0.001 rows, BC/H from the textbook definitions over
    normalized probabilities (NOT the plan's sqrt(a*b)/sqrt(na*nb)
    factorization — algebraically equal, different float path), plus
    the identity BC <= 1 and the self-distance H(p, p) = 0 pin."""
    import math
    from collections import Counter

    from ecommerce_data_pipeline_spark.plans.profiling import (
        _W1_SEG_A,
        _W1_SEG_B,
    )
    from ecommerce_data_pipeline_spark.plans.effect_sizes import (
        hellinger_price_drift,
    )
    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    rows = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(c.c_mktsegment.isin(_W1_SEG_A, _W1_SEG_B))
        .selectExpr(
            "c_mktsegment AS segment",
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v",
        )
        .collect()
    )
    vals = [int(r.v) for r in rows]
    vmin, vmax = min(vals), max(vals)
    a, b = Counter(), Counter()
    for r in rows:
        i = (int(r.v) - vmin) * 20 // (vmax - vmin + 1)
        (a if r.segment == _W1_SEG_A else b)[i] += 1
    na, nb = sum(a.values()), sum(b.values())
    bins = sorted(set(a) | set(b))
    bc = sum(math.sqrt((a[i] / na) * (b[i] / nb)) for i in bins)
    h = math.sqrt(max(0.0, 1.0 - bc))

    got = hellinger_price_drift(spark, SF_SMOKE).collect()[0]
    assert got["n_bins"] == len(bins)
    assert got["n_a"] == na and got["n_b"] == nb
    assert bc <= 1.0 + 1e-12
    assert math.isclose(got["bhattacharyya_coef"], round(bc, 6), abs_tol=2e-6)
    assert math.isclose(got["hellinger"], round(h, 6), abs_tol=2e-6)
    # self-distance pin: identical histograms -> BC=1, H=0
    self_bc = sum(math.sqrt((a[i] / na) * (a[i] / na)) for i in sorted(a))
    assert math.isclose(self_bc, 1.0, abs_tol=1e-12)


# ---------------------------------------------------------------------------
# ansari_bradley_dispersion


def test_ansari_bradley_matches_enumeration_replay(spark):
    """Independent replay: pooled sort of the raw sf0.001 rows, per-item
    both-ends score by DIRECT position enumeration min(i, n+1-i) (no
    closed triangular forms), tie-group midranks by direct averaging,
    the same quarter-unit quantization rule, and the permutation
    mean/variance from the textbook definitional sums."""
    import math
    from collections import defaultdict

    from ecommerce_data_pipeline_spark.plans.profiling import (
        _W1_SEG_A,
        _W1_SEG_B,
    )
    from ecommerce_data_pipeline_spark.plans.effect_sizes import (
        ansari_bradley_dispersion,
    )
    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    rows = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(c.c_mktsegment.isin(_W1_SEG_A, _W1_SEG_B))
        .selectExpr(
            "c_mktsegment AS segment",
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v",
        )
        .collect()
    )
    pooled = sorted(int(r.v) for r in rows)
    n = len(pooled)
    by_value = defaultdict(list)  # value -> 1-indexed positions
    for i, v in enumerate(pooled, start=1):
        by_value[v].append(i)
    m = {}
    for v, positions in by_value.items():
        s2 = 2 * sum(min(i, n + 1 - i) for i in positions)
        t = len(positions)
        m[v] = (2 * 4 * s2 + 2 * t) // (2 * 2 * t)
    w = sum(m[int(r.v)] for r in rows if r.segment == _W1_SEG_A)
    big_m = sum(m[v] for v in pooled)
    m2 = sum(m[v] ** 2 for v in pooled)
    n1 = sum(1 for r in rows if r.segment == _W1_SEG_A)
    n2 = n - n1
    z = (n * w - n1 * big_m) / math.sqrt(
        n1 * n2 * (n * m2 - big_m * big_m) / (n - 1)
    )

    got = ansari_bradley_dispersion(spark, SF_SMOKE).collect()[0]
    assert got["n_a"] == n1 and got["n_b"] == n2
    assert got["w_quarter_units"] == w
    assert math.isclose(got["z_score"], round(z, 6), abs_tol=2e-6)


def test_ansari_bradley_hand_pinned_scores():
    """Hand-pinned both-ends scores: n=4 distinct values rank
    1,2,2,1 -> quarters (4,8,8,4); a midpoint-straddling tie at n=3
    (values 5,5,7): positions 1-2 average (1+2)/2=1.5 -> 6 quarters,
    position 3 ranks 1 -> 4 quarters."""
    def q(positions, n):
        s2 = 2 * sum(min(i, n + 1 - i) for i in positions)
        t = len(positions)
        return (2 * 4 * s2 + 2 * t) // (2 * 2 * t)

    assert [q([i], 4) for i in (1, 2, 3, 4)] == [4, 8, 8, 4]
    assert q([1, 2], 3) == 6
    assert q([3], 3) == 4
