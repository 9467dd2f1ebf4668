"""Property tests for the round-11 additions; the graph-tier ones (core
decomposition, modularity, butterfly census, link prediction, k-truss)
live in test_graph.py. Value parity vs DuckDB is covered by the
registry-wide diff in test_oracle.py.
"""

from __future__ import annotations

from pyspark.sql.types import DateType, LongType, StructField, StructType

from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# mechanical slate emission (r10 verdict task #8)

# The exact pins the r11 slate was generated with (recorded verbatim in
# the registry.py comment): plans touched this round + the four r10
# bench movers under bracketed re-measure.
# The r11 slate-emission pin moved to tests/test_round12.py (the r12
# arrivals change the --through 10 emission by design: never-graded
# queries lead every emission, so each round's pin supersedes the
# last — the r12 test pins the --through 11 invocation).


# ---------------------------------------------------------------------------
# friedman_rank_test_events


def test_friedman_matches_python_replay(spark):
    """Independent replay: per-user per-type counts, grid-filled zeros,
    within-block average ranks (doubled), and the Conover tie-corrected
    statistic — every published column must match, including the
    chi-square ladder booleans."""
    from collections import Counter

    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _CHI2_CRIT_01,
        _CHI2_CRIT_05,
    )

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type")
        .collect()
    )
    counts = Counter((r.user_id, r.event_type) for r in ev)
    users = sorted({r.user_id for r in ev})
    types = sorted({r.event_type for r in ev})
    n, k = len(users), len(types)
    a2 = 0
    dj = dict.fromkeys(types, 0)
    for u in users:
        vals = {t: counts.get((u, t), 0) for t in types}
        for t in types:
            below = sum(1 for x in vals.values() if x < vals[t])
            ties = sum(1 for x in vals.values() if x == vals[t])
            d = 2 * (below + 1) + ties - 1  # doubled average rank
            dj[t] += d
            a2 += d * d
    s = sum((dj[t] - n * (k + 1)) ** 2 for t in types)
    den = a2 - n * k * (k + 1) * (k + 1)  # Conover T1: NO outer n factor
    t_stat = float((k - 1) * s) / float(den)
    # cross-check vs the classic no-ties-form identity on a synthetic
    # tie-free matrix: chi2 = 12*sum(R_j^2)/(nk(k+1)) - 3n(k+1) must
    # equal the Conover form when there are no ties
    _n, _k = 7, 4
    _ranks = [[(i + j) % _k + 1 for j in range(_k)] for i in range(_n)]
    _rj = [sum(_ranks[i][j] for i in range(_n)) for j in range(_k)]
    _classic = 12.0 * sum(r * r for r in _rj) / (_n * _k * (_k + 1)) - 3.0 * _n * (_k + 1)
    _dj = [2 * r for r in _rj]
    _a2 = sum((2 * _ranks[i][j]) ** 2 for i in range(_n) for j in range(_k))
    _s = sum((d - _n * (_k + 1)) ** 2 for d in _dj)
    _conover = (_k - 1) * _s / (_a2 - _n * _k * (_k + 1) * (_k + 1))
    assert abs(_classic - _conover) < 1e-9
    rows = (
        REGISTRY["friedman_rank_test_events"].fn(spark, SF_SMOKE).collect()
    )
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_blocks, r.k_treatments, r.df) == (n, k, k - 1)
    assert r.sum_sq_dev == s
    import decimal

    assert r.friedman_stat == float(
        decimal.Decimal(repr(t_stat)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )
    assert r.significant_05 == (t_stat > _CHI2_CRIT_05[k - 2])
    assert r.significant_01 == (t_stat > _CHI2_CRIT_01[k - 2])


# ---------------------------------------------------------------------------
# brown_forsythe_variance_test


def test_brown_forsythe_matches_python_replay(spark):
    """Independent replay: exact doubled group medians from sorted
    integer cents, doubled absolute deviations, the pinned-order
    left-to-right accumulation of S_g^2/n_g, and the final F assembly —
    the replay reproduces the plan's float path op-for-op so the 6dp
    statistic must match exactly."""
    from collections import defaultdict

    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _CHI2_CRIT_01,
        _CHI2_CRIT_05,
    )

    rows_in = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    groups = defaultdict(list)
    for r in rows_in:
        groups[r.o_orderpriority].append(int(round(r.o_totalprice * 100)))
    sum_u = 0.0
    s_tot = 0
    q_tot = 0
    n_tot = 0
    for g in sorted(groups):  # pinned group order
        vals = sorted(groups[g])
        nj = len(vals)
        m2 = vals[(nj + 1) // 2 - 1] + vals[nj // 2]
        dzs = [abs(2 * v - m2) for v in vals]
        s = sum(dzs)
        sum_u += float(s * s) / float(nj)
        s_tot += s
        q_tot += sum(d * d for d in dzs)
        n_tot += nj
    k = len(groups)
    bn = sum_u - float(s_tot * s_tot) / float(n_tot)
    wn = float(q_tot) - sum_u
    bf = (bn / float(k - 1)) / (wn / float(n_tot - k))
    rows = (
        REGISTRY["brown_forsythe_variance_test"].fn(spark, SF_SMOKE).collect()
    )
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_total, r.k_groups, r.df1, r.df2) == (
        n_tot,
        k,
        k - 1,
        n_tot - k,
    )
    assert r.sum_abs_dev2 == s_tot
    import decimal

    assert r.bf_stat == float(
        decimal.Decimal(repr(bf)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )
    chi = (k - 1) * bf
    assert r.significant_05 == (chi > _CHI2_CRIT_05[k - 2])
    assert r.significant_01 == (chi > _CHI2_CRIT_01[k - 2])


# ---------------------------------------------------------------------------
# hilbert_layout_key


def test_hilbert_curve_properties_and_replay(spark):
    """Three independent checks: (1) the full 256x256 walk is a
    BIJECTION onto [0, 65536); (2) consecutive keys are always
    grid-ADJACENT (|dx|+|dy| = 1 — the locality property that
    distinguishes Hilbert from Morton order, which has 255-cell
    diagonal jumps); (3) the query's per-order keys equal the Python
    walk re-derived from (custkey, order-day)."""
    from ecommerce_data_pipeline_spark.plans.placement import (
        _HILBERT_SIDE,
        _hilbert_d,
    )

    cells = {}
    for x in range(_HILBERT_SIDE):
        for y in range(_HILBERT_SIDE):
            cells[_hilbert_d(x, y)] = (x, y)
    assert len(cells) == _HILBERT_SIDE * _HILBERT_SIDE  # bijection
    for d in range(_HILBERT_SIDE * _HILBERT_SIDE - 1):
        x1, y1 = cells[d]
        x2, y2 = cells[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d  # unit-step locality

    epoch = __import__("datetime").date(1970, 1, 1)
    rows = REGISTRY["hilbert_layout_key"].fn(spark, SF_SMOKE).collect()
    src = {
        r.o_orderkey: (r.o_custkey, r.o_orderdate)
        for r in load_table(spark, SF_SMOKE, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .collect()
    }
    assert len(rows) == len(src)
    for r in rows:
        ck, od = src[r.o_orderkey]
        xb = ck % 256
        yb = (od.date() - epoch).days % 256 if hasattr(od, "date") else (od - epoch).days % 256
        assert (r.xb, r.yb) == (xb, yb)
        assert r.hval == _hilbert_d(xb, yb)
        assert r.file_id == r.hval // 1024


# ---------------------------------------------------------------------------
# runs_test_daily_revenue


def test_runs_test_matches_python_replay(spark):
    """Independent replay: daily cents, exact doubled median, the
    above/below sequence in day order, the run count, and the N-scaled
    z assembly — all published columns must match."""
    from collections import defaultdict

    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _RUNS_Z_01,
        _RUNS_Z_05,
    )

    rows_in = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_orderdate", "o_totalprice")
        .collect()
    )
    days = defaultdict(int)
    for r in rows_in:
        d = r.o_orderdate.date() if hasattr(r.o_orderdate, "date") else r.o_orderdate
        days[d] += int(round(r.o_totalprice * 100))
    vals = sorted(days.values())
    nall = len(vals)
    m2 = vals[(nall + 1) // 2 - 1] + vals[nall // 2]
    seq = [
        1 if 2 * days[d] > m2 else 0
        for d in sorted(days)
        if 2 * days[d] != m2
    ]
    a = sum(seq)
    b = len(seq) - a
    runs = 1 + sum(1 for i in range(1, len(seq)) if seq[i] != seq[i - 1])
    n = a + b
    import math

    z = (n * (runs - 1) - 2 * a * b) / math.sqrt(
        (2 * a * b * (2 * a * b - n)) / (n - 1)
    )
    rows = REGISTRY["runs_test_daily_revenue"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_days, r.n_above, r.n_below, r.n_runs) == (n, a, b, runs)
    import decimal

    assert r.z_stat == float(
        decimal.Decimal(repr(z)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )
    assert r.significant_05 == (abs(z) > _RUNS_Z_05)
    assert r.significant_01 == (abs(z) > _RUNS_Z_01)


# ---------------------------------------------------------------------------
# page_hinkley_drift_daily


def test_page_hinkley_matches_python_replay(spark):
    """Sequential replay of the exact float path: per-day running-mean
    deviations, the drift cumsum, running extrema, two-sided gap maxima
    and their earliest days — all published columns must match."""
    from collections import defaultdict

    rows_in = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_orderdate", "o_totalprice")
        .collect()
    )
    days = defaultdict(int)
    for r in rows_in:
        d = r.o_orderdate.date() if hasattr(r.o_orderdate, "date") else r.o_orderdate
        days[d] += int(round(r.o_totalprice * 100))
    s = 0
    m = 0.0
    run_min = run_max = 0.0
    max_gi = max_gd = None
    gi_day = gd_day = None
    first = True
    for t, d in enumerate(sorted(days), start=1):
        s += days[d]
        m += float(days[d]) - float(s) / float(t)
        if first:
            run_min = run_max = m
            first = False
        run_min = min(run_min, m)
        run_max = max(run_max, m)
        gi = m - run_min
        gd = run_max - m
        if max_gi is None or gi > max_gi:
            max_gi, gi_day = gi, d
        if max_gd is None or gd > max_gd:
            max_gd, gd_day = gd, d
    rows = REGISTRY["page_hinkley_drift_daily"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    import decimal

    def r6(x):
        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    assert r.n_days == len(days)
    assert r.ph_increase_dollars == r6(max_gi / 100.0)
    assert r.ph_decrease_dollars == r6(max_gd / 100.0)
    inc = r.increase_day.date() if hasattr(r.increase_day, "date") else r.increase_day
    dec_ = r.decrease_day.date() if hasattr(r.decrease_day, "date") else r.decrease_day
    assert inc == gi_day
    assert dec_ == gd_day


# ---------------------------------------------------------------------------
# page_hinkley_stream (streaming twin of page_hinkley_drift_daily)


_PH_SCHEMA = StructType(
    [StructField("day", DateType()), StructField("x", LongType())]
)


def _ph_daily_chunks(spark):
    """The smoke daily-revenue series as 3 day-ordered row lists (a
    landing zone of closed daily rows)."""
    from collections import defaultdict

    rows_in = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_orderdate", "o_totalprice")
        .collect()
    )
    days = defaultdict(int)
    for r in rows_in:
        d = (
            r.o_orderdate.date()
            if hasattr(r.o_orderdate, "date")
            else r.o_orderdate
        )
        days[d] += int(round(r.o_totalprice * 100))
    ordered = sorted(days)
    n = len(ordered)
    return [
        [(day, days[day]) for day in sl]
        for sl in (ordered[: n // 3], ordered[n // 3 : 2 * n // 3],
                   ordered[2 * n // 3 :])
    ]


def _ph_final_row(rows):
    last = max(rows, key=lambda r: r["n_days"])
    return (
        last["n_days"],
        last["ph_increase_dollars"],
        last["increase_day"],
        last["ph_decrease_dollars"],
        last["decrease_day"],
    )


def _ph_batch_expected(spark):
    r = REGISTRY["page_hinkley_drift_daily"].fn(spark, SF_SMOKE).collect()[0]
    def _d(x):
        return x.date() if hasattr(x, "date") else x
    return (
        r["n_days"],
        r["ph_increase_dollars"],
        _d(r["increase_day"]),
        r["ph_decrease_dollars"],
        _d(r["decrease_day"]),
    )


def test_page_hinkley_stream_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart across a half-drained landing zone: the resumed
    fold must continue from checkpointed state and land on the same
    final row as the batch computation."""
    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        fold_landing,
        land_chunks,
        page_hinkley_stream,
    )

    chunks = _ph_daily_chunks(spark)
    d, out, ckpt = (str(tmp_path / n) for n in ("landing", "out", "ckpt"))
    land_chunks(chunks[:2], _PH_SCHEMA, d)
    fold_landing(spark, page_hinkley_stream, d, _PH_SCHEMA, out, ckpt)
    land_chunks(chunks[2:], _PH_SCHEMA, d)
    rows = fold_landing(
        spark, page_hinkley_stream, d, _PH_SCHEMA, out, ckpt
    ).collect()
    assert _ph_final_row(rows) == _ph_batch_expected(spark)


def test_page_hinkley_stream_rejects_reordered_days(spark, tmp_path):
    """A day at or before the folded frontier must RAISE (the running
    mean makes every statistic a prefix fold — a silent re-fold would
    corrupt the whole suffix), not be silently absorbed."""
    import datetime

    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        fold_landing,
        land_chunks,
        page_hinkley_stream,
    )

    d = str(tmp_path / "bad_landing")
    day0 = datetime.date(1995, 1, 2)
    land_chunks(
        [
            [(day0, 100), (day0 + datetime.timedelta(days=1), 200)],
            [(day0, 300)],
        ],
        _PH_SCHEMA,
        d,
    )
    with pytest.raises(StreamingQueryException, match="folded frontier"):
        fold_landing(
            spark, page_hinkley_stream, d, _PH_SCHEMA,
            str(tmp_path / "out"), str(tmp_path / "ckpt"),
        )


# ---------------------------------------------------------------------------
# theilsen_daily_trend


def test_theilsen_matches_python_replay(spark):
    """Brute-force replay: all pairwise slopes as Python floats (same
    one-division shape), exact two-middle median — every published
    column must match."""
    from collections import defaultdict

    rows_in = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_orderdate", "o_totalprice")
        .collect()
    )
    days = defaultdict(int)
    for r in rows_in:
        d = (
            r.o_orderdate.date()
            if hasattr(r.o_orderdate, "date")
            else r.o_orderdate
        )
        days[d] += int(round(r.o_totalprice * 100))
    ds = sorted(days)
    slopes = []
    for i in range(len(ds)):
        for j in range(i + 1, len(ds)):
            slopes.append(
                float(days[ds[j]] - days[ds[i]])
                / float((ds[j] - ds[i]).days)
            )
    slopes.sort()
    n = len(slopes)
    m2 = slopes[(n + 1) // 2 - 1] + slopes[n // 2]
    rows = REGISTRY["theilsen_daily_trend"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_days, r.n_pairs) == (len(ds), n)
    import decimal

    assert r.theilsen_slope_dollars_per_day == float(
        decimal.Decimal(repr(m2 / 2.0 / 100.0)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


# ---------------------------------------------------------------------------
# cohens_kappa_quality_gates


def test_cohens_kappa_matches_definition_replay(spark):
    """Independent replay from the po/pe DEFINITION (the Friedman
    independent-identity rule — never re-derive the plan's cleared-
    fraction form): build the 2x2 in Python, compute po, pe, kappa =
    (po − pe)/(1 − pe) in floats, and compare every published column
    including the Landis-Koch band."""
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _KAPPA_MIN_CHARS,
        _KAPPA_MIN_SPACES,
    )

    rows_in = (
        load_table(spark, SF_SMOKE, "documents")
        .select("text", "n_chars")
        .collect()
    )
    bk = ao = bo = bd = 0
    for r in rows_in:
        ga = r.n_chars >= _KAPPA_MIN_CHARS
        gb = r.text.count(" ") >= _KAPPA_MIN_SPACES
        if ga and gb:
            bk += 1
        elif ga:
            ao += 1
        elif gb:
            bo += 1
        else:
            bd += 1
    n = bk + ao + bo + bd
    po = (bk + bd) / n
    pe = ((bk + ao) * (bk + bo) + (bo + bd) * (ao + bd)) / (n * n)
    kappa = (po - pe) / (1 - pe)
    bands = [
        (0.0, "poor"),
        (0.2, "slight"),
        (0.4, "fair"),
        (0.6, "moderate"),
        (0.8, "substantial"),
    ]
    level = "almost perfect"
    for hi, name in bands:
        if kappa <= hi:
            level = name
            break
    rows = (
        REGISTRY["cohens_kappa_quality_gates"].fn(spark, SF_SMOKE).collect()
    )
    assert len(rows) == 1
    r = rows[0]
    assert (r.n, r.both_keep, r.a_only, r.b_only, r.both_drop) == (
        n,
        bk,
        ao,
        bo,
        bd,
    )
    assert abs(r.observed_agreement - po) < 1e-6
    assert abs(r.chance_agreement - pe) < 1e-6
    assert abs(r.kappa - kappa) < 1e-6
    assert -1.0 <= r.kappa <= 1.0
    assert r.agreement_level == level


# ---------------------------------------------------------------------------
# cramers_v_segment_priority


def test_cramers_v_matches_definition_replay(spark):
    """Independent replay from the textbook definition: chi2 = sum
    (o−e)²/e with e = r·c/n (NOT the plan's cleared-integer form), then
    V = sqrt(chi2/(n·min(r−1,c−1))) — published values must agree to
    1e-6, and V must sit in [0, 1]."""
    from collections import Counter

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cust = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    seg = {r.c_custkey: r.c_mktsegment for r in cust.collect()}
    cells = Counter(
        (seg[r.o_custkey], r.o_orderpriority) for r in orders.collect()
    )
    n = sum(cells.values())
    rt = Counter()
    ct = Counter()
    for (s, p), o in cells.items():
        rt[s] += o
        ct[p] += o
    chi2 = 0.0
    for s in rt:
        for p in ct:
            e = rt[s] * ct[p] / n
            o = cells.get((s, p), 0)
            chi2 += (o - e) ** 2 / e
    import math

    v = math.sqrt(chi2 / (n * min(len(rt) - 1, len(ct) - 1)))
    rows = (
        REGISTRY["cramers_v_segment_priority"].fn(spark, SF_SMOKE).collect()
    )
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_rows, r.n_segments, r.n_priorities, r.df) == (
        n,
        len(rt),
        len(ct),
        (len(rt) - 1) * (len(ct) - 1),
    )
    assert abs(r.chi2 - chi2) < 1e-5
    assert abs(r.cramers_v - v) < 1e-6
    assert 0.0 <= r.cramers_v <= 1.0
