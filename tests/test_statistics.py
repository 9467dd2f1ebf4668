"""Statistics-family tests: independent Python replays of the
hypothesis-ladder, profiling-test, effect-size and analytics-series
queries at sf0.001, plus hand-pinned textbook examples driven through
the production helpers. Each replay follows the textbook or definition
form, never the plan's own algebra. Value-level oracle parity is
covered by the registry-wide oracle diff in test_oracle.py.
"""

from __future__ import annotations

import decimal
import math
from collections import Counter, defaultdict
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans.profiling import (
    _W1_SEG_A,
    _W1_SEG_B,
    _chi_square_grid,
)
from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE, md5_60


def _r6(x: float) -> float:
    """``x`` rounded HALF_UP to 6 decimals, as the plans publish it."""
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


@pytest.fixture(scope="module")
def segment_cents(order_cents, segment_of) -> list[tuple[str, int]]:
    """(customer market segment, order cents) for every order."""
    return [(segment_of[r.o_custkey], r.cents) for r in order_cents]


# ---------------------------------------------------------------------------
# generalized_esd_outlier_test


def test_esd_matches_python_replay(spark, daily_cents):
    """Independent Python replay of Rosner's trim rounds over the same
    quantized daily series: removal days, R statistics (6dp) and the
    declared outlier count must match the plan exactly."""
    series = {d: v // 1000 for d, v in daily_cents.items()}
    expected = []
    active = dict(series)
    for i in range(1, 6):
        n = len(active)
        s = sum(active.values())
        ss = sum(v * v for v in active.values())
        day = min(active, key=lambda d: (-abs(active[d] * n - s), d))
        x = active[day]
        mean = s / n
        r = abs(x - mean) / math.sqrt((ss - mean * s) / (n - 1.0))
        expected.append((i, day, round(r, 6)))
        del active[day]
    df = REGISTRY["generalized_esd_outlier_test"].fn(spark, SF_SMOKE)
    assert dict(df.dtypes)["day"] == "timestamp"
    rows = sorted(df.collect(), key=lambda r: r["round_i"])
    assert [
        (r["round_i"], r["day"].date(), r["r_stat"]) for r in rows
    ] == expected
    # outlier-count semantics: largest exceeding round, flags <= it
    n_out = max(
        (r["round_i"] for r in rows if r["exceeds"]), default=0
    )
    for r in rows:
        assert r["n_outliers"] == n_out
        assert r["is_esd_outlier"] == (r["round_i"] <= n_out)
        assert r["lambda_crit"] > 4  # baked reference-calendar constants


# ---------------------------------------------------------------------------
# holt_winters_level_trend


def test_holt_fold_matches_python_recursion(spark, order_cents, segment_of):
    """The per-segment fold must equal the plain Python Holt recursion
    (identical IEEE op order) — and MAE must be non-negative with the
    forecast consistent with (level, trend)."""
    rows = {
        r["segment"]: r
        for r in REGISTRY["holt_winters_level_trend"].fn(spark, SF_SMOKE).collect()
    }
    daily = defaultdict(int)
    for r in order_cents:
        daily[(segment_of[r.o_custkey], r.o_orderdate.date())] += r.cents
    by_seg: dict[str, list] = {}
    for (seg, day), cents in daily.items():
        by_seg.setdefault(seg, []).append((day, float(cents)))
    for seg, pts in by_seg.items():
        xs = [v for _, v in sorted(pts)]
        lvl, tr, sae, n = xs[0], 0.0, 0.0, 1
        for x in xs[1:]:
            prev = (x - lvl) if n == 1 else tr
            pred = lvl + prev
            new_lvl = 0.25 * x + 0.75 * pred
            tr = 0.125 * (new_lvl - lvl) + 0.875 * prev
            sae += abs(x - pred)
            lvl = new_lvl
            n += 1
        got = rows[seg]
        assert got["n_days"] == len(xs)
        assert got["level_end"] == round(lvl / 100, 4)
        assert got["trend_end"] == round(tr / 100, 4)
        assert got["forecast_7d"] == round((lvl + 7.0 * tr) / 100, 4)
        assert got["mae_1step"] == round(sae / (len(xs) - 1.0) / 100, 4)
        assert got["mae_1step"] >= 0


# ---------------------------------------------------------------------------
# kendall_tau_daily


def test_kendall_matches_python_replay(spark, order_cents, daily_cents):
    """O(n^2) Python pair census over the same exact daily series: all
    five pair classes and tau-b must match."""
    n_orders = Counter(r.o_orderdate.date() for r in order_cents)
    pts = [(n_orders[d], daily_cents[d]) for d in daily_cents]
    n = len(pts)
    conc = disc = tx = ty = txy = 0
    for i in range(n):
        xi, yi = pts[i]
        for j in range(i + 1, n):
            xj, yj = pts[j]
            if xi == xj and yi == yj:
                txy += 1
            elif xi == xj:
                tx += 1
            elif yi == yj:
                ty += 1
            elif (xi < xj) == (yi < yj):
                conc += 1
            else:
                disc += 1
    n_pairs = n * (n - 1) // 2
    [r] = REGISTRY["kendall_tau_daily"].fn(spark, SF_SMOKE).collect()
    assert (
        r.n_days,
        r.n_pairs,
        r.concordant,
        r.discordant,
        r.ties_x_only,
        r.ties_y_only,
        r.ties_both,
    ) == (n, n_pairs, conc, disc, tx, ty, txy)
    tau = (conc - disc) / math.sqrt(
        (n_pairs - tx - txy) * (n_pairs - ty - txy)
    )
    assert abs(r.tau_b - tau) < 1e-6


# ---------------------------------------------------------------------------
# benjamini_hochberg_fdr


def test_bh_fdr_matches_python_replay(spark):
    """Python replay of the Welch-z screen and the BH step-up rule,
    including the 6dp HALF_UP rounding the rank order keys use."""
    from ecommerce_data_pipeline_spark.plans.profiling_tests import (
        _BH_CRIT,
        _BH_DISCOUNT_GATE,
    )

    part_brand = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, SF_SMOKE, "part")
        .select("p_partkey", "p_brand")
        .collect()
    }
    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select(
            "l_partkey",
            F.col("l_quantity").cast("long").alias("q"),
            (
                F.col("l_discount").cast("decimal(18,2)")
                >= F.lit(_BH_DISCOUNT_GATE).cast("decimal(18,2)")
            ).alias("hi"),
        )
        .collect()
    )
    mom = defaultdict(lambda: [0, 0, 0, 0, 0, 0])  # n1,s1,ss1,n0,s0,ss0
    for r in li:
        m = mom[part_brand[r.l_partkey]]
        off = 0 if r.hi else 3
        m[off] += 1
        m[off + 1] += r.q
        m[off + 2] += r.q * r.q

    zs = {}
    for brand, (n1, s1, ss1, n0, s0, ss0) in mom.items():
        if n1 > 1 and n0 > 1:
            m1, m0 = s1 / n1, s0 / n0
            v1 = (ss1 - m1 * s1) / (n1 - 1.0)
            v0 = (ss0 - m0 * s0) / (n0 - 1.0)
            zs[brand] = _r6((m1 - m0) / math.sqrt(v1 / n1 + v0 / n0))
    order = sorted(zs, key=lambda b: (-abs(zs[b]), b))
    rank = {b: i + 1 for i, b in enumerate(order)}
    n_disc = max(
        (rank[b] for b in zs if abs(zs[b]) >= _BH_CRIT[rank[b] - 1]),
        default=0,
    )
    got = {
        r.brand: r
        for r in REGISTRY["benjamini_hochberg_fdr"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(zs)
    for b in zs:
        r = got[b]
        assert abs(r.welch_z - zs[b]) < 1e-9, b
        assert r.bh_rank == rank[b], b
        assert r.n_discoveries == n_disc
        assert r.is_discovery == (rank[b] <= n_disc)
        assert r.passes_at_rank == (abs(zs[b]) >= _BH_CRIT[rank[b] - 1])


# ---------------------------------------------------------------------------
# group_sequential_obf_monitor


def test_obf_monitor_matches_python_replay(spark):
    """Python replay of the calendar-interim cumulative Welch monitor,
    including the portable hash arm split and the baked boundaries."""
    from ecommerce_data_pipeline_spark.plans.profiling_tests import (
        _OBF_BOUND,
        _OBF_SALT,
        _OBF_YEARS,
    )

    orders = (
        load_table(spark, SF_SMOKE, "orders")
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("yr"),
            F.expr(
                "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                " AS BIGINT) div 100 AS BIGINT)"
            ).alias("dollars"),
        )
        .collect()
    )

    def arm(key):
        return 1 if md5_60(f"{_OBF_SALT}{key}") % 100 < 50 else 0

    got = {
        r.look_k: r
        for r in REGISTRY["group_sequential_obf_monitor"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(range(1, len(_OBF_YEARS) + 1))
    # replay every look INDEPENDENTLY first (z, crossed, first crossing
    # all from the replay, never from the plan's own outputs — a
    # tautology otherwise), then diff the full monitoring table
    replay = {}
    first_crossing = 0
    for k, y in enumerate(_OBF_YEARS, start=1):
        sub = [(arm(r.o_orderkey), r.dollars) for r in orders if r.yr <= y]
        n1 = sum(1 for a, _ in sub if a == 1)
        n0 = len(sub) - n1
        z = None
        if n1 > 1 and n0 > 1:
            s1 = sum(d for a, d in sub if a == 1)
            ss1 = sum(d * d for a, d in sub if a == 1)
            s0 = sum(d for a, d in sub if a == 0)
            ss0 = sum(d * d for a, d in sub if a == 0)
            m1, m0 = s1 / n1, s0 / n0
            v1 = (ss1 - m1 * s1) / (n1 - 1.0)
            v0 = (ss0 - m0 * s0) / (n0 - 1.0)
            z = (m1 - m0) / math.sqrt(v1 / n1 + v0 / n0)
        crossed = z is not None and abs(z) >= _OBF_BOUND[k - 1]
        if crossed and first_crossing == 0:
            first_crossing = k
        replay[k] = (n1, n0, z, crossed)
    for k in replay:
        n1, n0, z, crossed = replay[k]
        r = got[k]
        assert (r.n_treat_cum, r.n_ctrl_cum) == (n1, n0), k
        if z is None:
            assert r.welch_z is None and not r.crossed, k
        else:
            # A/A |z| sits far from the >=1.96 boundaries, so the
            # replay's crossing verdict is tolerance-robust
            assert abs(r.welch_z - z) < 1e-5, k
            assert min(abs(abs(z) - b) for b in _OBF_BOUND) > 1e-3
            assert r.crossed == crossed, k
        assert r.first_crossing_k == first_crossing, k
        assert r.stopped == (
            first_crossing > 0 and k >= first_crossing
        ), k


# ---------------------------------------------------------------------------
# median_of_means_certificate


def test_mom_matches_python_replay(spark, order_cents):
    """Python replay of the 32-bucket shard-mean median; the estimator
    must sit inside the bucket-mean envelope and at the exact median of
    the replayed means."""
    from ecommerce_data_pipeline_spark.plans.profiling_tests import (
        _MOM_BUCKETS,
        _MOM_SALT,
    )

    agg = defaultdict(lambda: [0, 0])
    for r in order_cents:
        cell = agg[md5_60(f"{_MOM_SALT}{r.o_orderkey}") % _MOM_BUCKETS]
        cell[0] += 1
        cell[1] += r.cents
    means = sorted(s / n for n, s in agg.values())
    nb = len(means)
    mom = (means[(nb + 1) // 2 - 1] + means[nb // 2]) / 2.0
    plain = sum(s for _, s in agg.values()) / sum(n for n, _ in agg.values())
    [r] = (
        REGISTRY["median_of_means_certificate"].fn(spark, SF_SMOKE).collect()
    )
    assert r.n_buckets == nb
    assert r.n_orders == len(order_cents)
    assert abs(r.mom_mean - mom / 100.0) < 1e-4
    assert abs(r.plain_mean - plain / 100.0) < 1e-4
    assert r.min_bucket_mean <= r.mom_mean <= r.max_bucket_mean
    assert abs(r.mom_vs_mean_gap - abs(mom - plain) / 100.0) < 1e-4


# ---------------------------------------------------------------------------
# mann_kendall_trend


def test_mann_kendall_matches_python_replay(spark, daily_cents):
    """O(n^2) Python replay of S, the tie-corrected variance and the
    continuity-corrected z."""
    from ecommerce_data_pipeline_spark.plans.profiling_tests import _MK_Z_CRIT

    ys = [daily_cents[d] for d in sorted(daily_cents)]
    n = len(ys)
    s = sum(
        (ys[j] > ys[i]) - (ys[j] < ys[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    tie_term = sum(
        t * (t - 1) * (2 * t + 5)
        for t in Counter(ys).values()
        if t > 1
    )
    var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    z = (
        (s - 1) / math.sqrt(var_s)
        if s > 0
        else (s + 1) / math.sqrt(var_s) if s < 0 else 0.0
    )
    [r] = REGISTRY["mann_kendall_trend"].fn(spark, SF_SMOKE).collect()
    assert (r.n_days, r.s_stat, r.tie_term) == (n, s, tie_term)
    assert abs(r.var_s - var_s) < 1e-3
    assert abs(r.mk_z - z) < 1e-6
    assert r.increasing == (round(z, 6) > _MK_Z_CRIT)
    assert r.decreasing == (round(z, 6) < -_MK_Z_CRIT)
    assert not (r.increasing and r.decreasing)


# ---------------------------------------------------------------------------
# wilson_interval_funnel


def test_wilson_funnel_matches_python_replay(spark):
    """Python replay of the funnel counts and closed-form Wilson bounds;
    intervals must bracket the rate and sit inside [0, 1]."""
    from ecommerce_data_pipeline_spark.plans.analytics_graph import (
        _WILSON_Z,
        _WILSON_Z2,
    )

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type", "ts")
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    n_users = len(by_user)
    n_v = n_c = n_p = 0
    for evs in by_user.values():
        t_view = min(
            (r.ts for r in evs if r.event_type == "view"), default=None
        )
        if t_view is None:
            continue
        n_v += 1
        t_click = min(
            (
                r.ts
                for r in evs
                if r.event_type == "click" and r.ts > t_view
            ),
            default=None,
        )
        if t_click is None:
            continue
        n_c += 1
        if any(
            r.event_type == "purchase" and r.ts > t_click for r in evs
        ):
            n_p += 1

    def wilson(k, n):
        ph = k / n
        den = 1.0 + _WILSON_Z2 / n
        half = _WILSON_Z * math.sqrt(
            ph * (1.0 - ph) / n + _WILSON_Z2 / (4.0 * n * n)
        )
        ctr = ph + _WILSON_Z2 / (2.0 * n)
        return (ctr - half) / den, (ctr + half) / den

    expected = {
        "view_of_users": (n_users, n_v),
        "click_after_view": (n_v, n_c),
        "purchase_after_click": (n_c, n_p),
    }
    got = {
        r.step: r
        for r in REGISTRY["wilson_interval_funnel"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(expected)
    for step, (n, k) in expected.items():
        r = got[step]
        assert (r.n_trials, r.n_successes) == (n, k), step
        if n:
            lo, hi = wilson(k, n)
            assert abs(r.rate - k / n) < 1e-6
            assert abs(r.wilson_lo - lo) < 1e-6
            assert abs(r.wilson_hi - hi) < 1e-6
            assert 0.0 <= r.wilson_lo <= r.rate <= r.wilson_hi <= 1.0


# ---------------------------------------------------------------------------
# mcnemar_repeat_purchase


def test_mcnemar_matches_python_replay(spark, order_cents, custkeys):
    import datetime

    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _MCN_CHI2_CRIT,
        _MCN_SPLIT,
    )

    split = datetime.datetime.fromisoformat(_MCN_SPLIT)
    flags = {}
    for r in order_cents:
        a, b = flags.get(r.o_custkey, (0, 0))
        if r.o_orderdate < split:
            a = 1
        else:
            b = 1
        flags[r.o_custkey] = (a, b)
    cells = {"both": 0, "neither": 0, "a": 0, "b": 0}
    for c in custkeys:
        a, b = flags.get(c, (0, 0))
        cells[
            "both" if a and b else "neither" if not (a or b) else "a" if a else "b"
        ] += 1
    row = REGISTRY["mcnemar_repeat_purchase"].fn(spark, SF_SMOKE).collect()[0]
    assert row["n_customers"] == len(custkeys)
    assert (row["n_both"], row["n_neither"], row["n_a_only"], row["n_b_only"]) == (
        cells["both"],
        cells["neither"],
        cells["a"],
        cells["b"],
    )
    b_, c_ = cells["a"], cells["b"]
    if b_ + c_:
        x2 = (abs(b_ - c_) - 1) ** 2 / (b_ + c_)
        assert row["mcnemar_stat"] == round(x2, 6)
        assert row["significant_05"] == (x2 > _MCN_CHI2_CRIT["05"])
        assert row["significant_01"] == (x2 > _MCN_CHI2_CRIT["01"])


# ---------------------------------------------------------------------------
# cochran_q_event_types


@pytest.fixture(scope="module")
def user_event_types(spark) -> set[tuple[int, str]]:
    """The distinct (user_id, event_type) pairs of the events table."""
    return {
        (r["user_id"], r["event_type"])
        for r in load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type")
        .collect()
    }


def test_cochran_q_matches_python_replay(spark, user_event_types):
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _CHI2_CRIT_01,
        _CHI2_CRIT_05,
    )

    col = {}
    row = {}
    for u, t in user_event_types:
        col[t] = col.get(t, 0) + 1
        row[u] = row.get(u, 0) + 1
    k = len(col)
    t_tot = sum(col.values())
    scs = sum(c * c for c in col.values())
    srs = sum(r * r for r in row.values())
    den = k * t_tot - srs
    q = (k - 1) * (k * scs - t_tot * t_tot) / den if den > 0 else None
    r0 = REGISTRY["cochran_q_event_types"].fn(spark, SF_SMOKE).collect()[0]
    assert (
        r0["n_users"],
        r0["k_treatments"],
        r0["grand_total"],
        r0["sum_col_sq"],
        r0["sum_row_sq"],
        r0["df"],
    ) == (len(row), k, t_tot, scs, srs, k - 1)
    if q is None:
        assert r0["q_stat"] is None
    else:
        assert r0["q_stat"] == round(q, 6)
        assert r0["significant_05"] == (q > _CHI2_CRIT_05[k - 2])
        assert r0["significant_01"] == (q > _CHI2_CRIT_01[k - 2])


def test_cochran_q_reduces_to_uncorrected_mcnemar_at_k2(user_event_types):
    """The ladder claim, pinned algebraically on the live data: restrict
    the matrix to two treatments and Cochran's Q equals the UNCORRECTED
    McNemar statistic (b-c)^2/(b+c) — the identity that makes Q the
    k-treatment rung above mcnemar_repeat_purchase."""
    pairs = user_event_types
    types = sorted({t for _, t in pairs})[:2]
    users = {u for u, _ in pairs}
    b = sum(
        1
        for u in users
        if (u, types[0]) in pairs and (u, types[1]) not in pairs
    )
    c = sum(
        1
        for u in users
        if (u, types[0]) not in pairs and (u, types[1]) in pairs
    )
    # Q over the 2-column matrix, rows = users touching either type
    rows2 = {
        u: ((u, types[0]) in pairs) + ((u, types[1]) in pairs)
        for u in users
    }
    rows2 = {u: r for u, r in rows2.items() if r}
    k = 2
    col = [
        sum(1 for u in rows2 if (u, t) in pairs) for t in types
    ]
    t_tot = sum(col)
    scs = sum(x * x for x in col)
    srs = sum(r * r for r in rows2.values())
    den = k * t_tot - srs
    if den and b + c:
        q = (k - 1) * (k * scs - t_tot * t_tot) / den
        assert math.isclose(q, (b - c) ** 2 / (b + c), rel_tol=1e-12)


# ---------------------------------------------------------------------------
# friedman_rank_test_events


def test_friedman_matches_python_replay(spark):
    """Independent replay: per-user per-type counts, grid-filled zeros,
    within-block average ranks (doubled), and the Conover tie-corrected
    statistic — every published column must match, including the
    chi-square ladder booleans."""
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
    assert r.friedman_stat == _r6(t_stat)
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
    assert r.bf_stat == _r6(bf)
    chi = (k - 1) * bf
    assert r.significant_05 == (chi > _CHI2_CRIT_05[k - 2])
    assert r.significant_01 == (chi > _CHI2_CRIT_01[k - 2])


# ---------------------------------------------------------------------------
# runs_test_daily_revenue


def test_runs_test_matches_python_replay(spark, daily_cents):
    """Independent replay: daily cents, exact doubled median, the
    above/below sequence in day order, the run count, and the N-scaled
    z assembly — all published columns must match."""
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        _RUNS_Z_01,
        _RUNS_Z_05,
    )

    days = daily_cents
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
    z = (n * (runs - 1) - 2 * a * b) / math.sqrt(
        (2 * a * b * (2 * a * b - n)) / (n - 1)
    )
    rows = REGISTRY["runs_test_daily_revenue"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_days, r.n_above, r.n_below, r.n_runs) == (n, a, b, runs)
    assert r.z_stat == _r6(z)
    assert r.significant_05 == (abs(z) > _RUNS_Z_05)
    assert r.significant_01 == (abs(z) > _RUNS_Z_01)


# ---------------------------------------------------------------------------
# page_hinkley_drift_daily


def test_page_hinkley_matches_python_replay(spark, daily_cents):
    """Sequential replay of the exact float path: per-day running-mean
    deviations, the drift cumsum, running extrema, two-sided gap maxima
    and their earliest days — all published columns must match."""
    days = daily_cents
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
    df = REGISTRY["page_hinkley_drift_daily"].fn(spark, SF_SMOKE)
    dtypes = dict(df.dtypes)
    assert (dtypes["increase_day"], dtypes["decrease_day"]) == ("date", "date")
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_days == len(days)
    assert r.ph_increase_dollars == _r6(max_gi / 100.0)
    assert r.ph_decrease_dollars == _r6(max_gd / 100.0)
    assert r.increase_day == gi_day
    assert r.decrease_day == gd_day


# ---------------------------------------------------------------------------
# theilsen_daily_trend


def test_theilsen_matches_python_replay(spark, daily_cents):
    """Brute-force replay: all pairwise slopes as Python floats (same
    one-division shape), exact two-middle median — every published
    column must match."""
    days = daily_cents
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
    assert r.theilsen_slope_dollars_per_day == _r6(m2 / 2.0 / 100.0)


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


def test_cramers_v_matches_definition_replay(spark, segment_of):
    """Independent replay from the textbook definition: chi2 = sum
    (o−e)²/e with e = r·c/n (NOT the plan's cleared-integer form), then
    V = sqrt(chi2/(n·min(r−1,c−1))) — published values must agree to
    1e-6, and V must sit in [0, 1]."""
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cells = Counter(
        (segment_of[r.o_custkey], r.o_orderpriority) for r in orders.collect()
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


# ---------------------------------------------------------------------------
# chi_square_contingency: the statistic runs over the DENSE marginal
# grid, so an EMPTY (segment, priority) cell contributes (0 - e)^2 / e


def test_chi_square_planted_empty_cell(spark):
    """2x2 design where one cell is EMPTY: textbook chi2 over the full
    grid includes the empty cell's (0 - e)^2 / e term; an
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
    """Independent replay: JT by DIRECT pair enumeration over the raw
    sf0.001 rows (no histograms, no windows), the Hollander-Wolfe
    tie-corrected variance written fresh from the textbook form, plus
    the pair-count identity
    sum_{i<j} (U2_ij + U2_ji) = 2 * sum_{i<j} n_i n_j."""
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        jonckheere_terpstra_priority_trend,
    )

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


def test_moods_median_matches_python_replay(spark, segment_cents):
    """Independent replay: median by SORTING the raw sf0.001 values
    (lower median = element at index ceil(n/2)-1), per-segment
    above/at-or-below counts by direct comparison, chi2 by the textbook
    2 x k loop — no histograms, no windows."""
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        moods_median_test,
    )

    vals = sorted(v for _, v in segment_cents)
    n = len(vals)
    med = vals[(n + 1) // 2 - 1]  # lower median
    above = defaultdict(int)
    total = defaultdict(int)
    for segment, v in segment_cents:
        total[segment] += 1
        if v > med:
            above[segment] += 1
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
# cliffs_delta_segments


def test_cliffs_delta_matches_bruteforce_replay(spark, segment_cents):
    """Independent replay: dominance counts by DIRECT pair enumeration
    over the raw sf0.001 rows (no histograms, no derived lt), the
    gt + lt + tie = n1*n2 identity, and delta/A from the definitions."""
    from ecommerce_data_pipeline_spark.plans.effect_sizes import (
        cliffs_delta_segments,
    )

    a = [v for s, v in segment_cents if s == _W1_SEG_A]
    b = [v for s, v in segment_cents if s == _W1_SEG_B]
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
    from ecommerce_data_pipeline_spark.plans.hypothesis_ladder import (
        cochran_armitage_priority_trend,
    )

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
    N, R, T, S1, S2 = 4, 2, 4, 6, 10
    pbar = R / N
    z = (T - pbar * S1) / math.sqrt(pbar * (1 - pbar) * (S2 - S1 * S1 / N))
    assert z == 2.0
    # and the plan's cross-multiplied integer form agrees
    z2 = (T * N - R * S1) / math.sqrt(R * (N - R) * (N * S2 - S1 * S1) / N)
    assert math.isclose(z2, 2.0, abs_tol=1e-12)


# ---------------------------------------------------------------------------
# exact rational rounding: F.floor of a Spark decimal division rounds
# the quotient to scale 6 HALF_UP first and lands one unit high near
# .9999995 boundaries


def test_half_up_ratio_units_exact_at_boundary(spark):
    """The helper must agree with Python's exact integer rule at the
    adversarial boundary (p=500001, q=1000001: the true quotient
    500000.9999995... must floor to 500000 after the half-up
    adjustment — naive floor-of-decimal-division says 500001), and
    across a sweep of near-boundary denominators."""
    from ecommerce_data_pipeline_spark.plans._helpers import (
        half_up_ratio_units,
    )

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


# ---------------------------------------------------------------------------
# hellinger_price_drift


def test_hellinger_matches_python_replay(spark, segment_cents):
    """Independent replay: bins by Python integer arithmetic over the
    raw sf0.001 rows, BC/H from the textbook definitions over
    normalized probabilities (NOT the plan's sqrt(a*b)/sqrt(na*nb)
    factorization — algebraically equal, different float path), plus
    the identity BC <= 1 and the self-distance H(p, p) = 0 pin."""
    from ecommerce_data_pipeline_spark.plans.effect_sizes import (
        hellinger_price_drift,
    )

    rows = [(s, v) for s, v in segment_cents if s in (_W1_SEG_A, _W1_SEG_B)]
    vals = [v for _, v in rows]
    vmin, vmax = min(vals), max(vals)
    a, b = Counter(), Counter()
    for segment, v in rows:
        i = (v - vmin) * 20 // (vmax - vmin + 1)
        (a if segment == _W1_SEG_A else b)[i] += 1
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


def test_ansari_bradley_matches_enumeration_replay(spark, segment_cents):
    """Independent replay: pooled sort of the raw sf0.001 rows, per-item
    both-ends score by DIRECT position enumeration min(i, n+1-i) (no
    closed triangular forms), tie-group midranks by direct averaging,
    the same quarter-unit quantization rule, and the permutation
    mean/variance from the textbook definitional sums."""
    from ecommerce_data_pipeline_spark.plans.effect_sizes import (
        ansari_bradley_dispersion,
    )

    rows = [(s, v) for s, v in segment_cents if s in (_W1_SEG_A, _W1_SEG_B)]
    pooled = sorted(v for _, v in rows)
    n = len(pooled)
    by_value = defaultdict(list)  # value -> 1-indexed positions
    for i, v in enumerate(pooled, start=1):
        by_value[v].append(i)
    m = {}
    for v, positions in by_value.items():
        s2 = 2 * sum(min(i, n + 1 - i) for i in positions)
        t = len(positions)
        m[v] = (2 * 4 * s2 + 2 * t) // (2 * 2 * t)
    w = sum(m[v] for s, v in rows if s == _W1_SEG_A)
    big_m = sum(m[v] for v in pooled)
    m2 = sum(m[v] ** 2 for v in pooled)
    n1 = sum(1 for s, _ in rows if s == _W1_SEG_A)
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


# ---------------------------------------------------------------------------
# page_trend_yearly_revenue: hand-pinned textbook examples through the
# production helper (_page_trend_from_cells), plus the no-ties variance
# reduction to the published closed form


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

    r = page_trend_yearly_revenue(spark, SF_SMOKE).collect()[0]
    m, k = r["n_blocks"], r["k_treatments"]
    assert m == 5 and k == 7
    assert r["e_l2"] == m * k * (k + 1) * (k + 1) // 2
    assert r["var_l2_x12"] == 48 * (m * k * k * (k + 1) * (k + 1) * (k - 1)) // 144


# ---------------------------------------------------------------------------
# kendalls_w_concordance: hand-pinned examples through the production
# helper, plus registered-query invariants


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

    r = kendalls_w_concordance(spark, SF_SMOKE).collect()[0]
    m, k = r["n_judges"], r["k_objects"]
    assert (m, k) == (5, 7)
    assert r["tie_correction"] == 0
    assert r["w_den"] == m * m * (k ** 3 - k)
    assert 0.0 <= r["w_stat"] <= 1.0
    assert r["w_num"] == 3 * r["s2x4"]


# ---------------------------------------------------------------------------
# cramer_von_mises_two_sample


def test_cvm_matches_direct_enumeration_replay(spark, segment_cents):
    """Independent replay at sf0.001: direct per-observation midrank
    enumeration with fractions.Fraction (no cells, no closed forms —
    the textbook U = n*sum(r_i - i)^2 + m*sum(s_j - j)^2), then the
    exact T and the half-up micros rule."""
    from ecommerce_data_pipeline_spark.plans.effect_sizes import (
        cramer_von_mises_two_sample,
    )

    x = sorted(v for s, v in segment_cents if s == "BUILDING")
    y = sorted(v for s, v in segment_cents if s == "MACHINERY")
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


# ---------------------------------------------------------------------------
# quade_weighted_friedman


def _quade_direct(blocks):
    """Textbook Quade with Fraction midranks — real-valued ranks and
    range weights, none of the plan's doubled-integer algebra."""
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

    r = quade_weighted_friedman(spark, SF_SMOKE).collect()[0]
    m, k = r["n_blocks"], r["k_treatments"]
    assert (m, k) == (5, 7)
    expected_a = 4 * (m * (m + 1) * (2 * m + 1) // 6) * (k * (k * k - 1) // 3)
    assert r["a2x16"] == expected_a
    assert r["f_den"] == m * r["a2x16"] - r["bx16m"]
    assert r["f_stat"] > 0
