"""Property tests for the round-9 queries: generalized ESD (Python
replay of the trim rounds), Holt smoothing (fold invariants), the
watermark late-data audit (pinned against a REAL Structured Streaming
withWatermark query drained file-per-trigger), and the CDC compaction
IO audit (Python replay of the bucket ledger). Value-level oracle
parity is covered by the registry-wide oracle diff in test_oracle.py.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
from ecommerce_data_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# generalized_esd_outlier_test


def test_esd_matches_python_replay(spark):
    """Independent Python replay of Rosner's trim rounds over the same
    quantized daily series: removal days, R statistics (6dp) and the
    declared outlier count must match the plan exactly."""
    daily = {
        r["day"]: r["rev"]
        for r in load_table(spark, SF_SMOKE, "orders")
        .groupBy(F.to_date("o_orderdate").cast("timestamp").alias("day"))
        .agg(
            F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
            .alias("rev")
        )
        .collect()
    }
    series = {d: int(v) // 1000 for d, v in daily.items()}
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
    rows = sorted(
        REGISTRY["generalized_esd_outlier_test"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r["round_i"],
    )
    assert [(r["round_i"], r["day"], r["r_stat"]) for r in rows] == expected
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


def test_holt_fold_matches_python_recursion(spark):
    """The per-segment fold must equal the plain Python Holt recursion
    (identical IEEE op order) — and MAE must be non-negative with the
    forecast consistent with (level, trend)."""
    rows = {
        r["segment"]: r
        for r in REGISTRY["holt_winters_level_trend"].fn(spark, SF_SMOKE).collect()
    }
    daily = (
        load_table(spark, SF_SMOKE, "orders")
        .join(
            load_table(spark, SF_SMOKE, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
            .cast("double")
            .alias("v")
        )
        .collect()
    )
    by_seg: dict[str, list] = {}
    for r in daily:
        by_seg.setdefault(r["segment"], []).append((r["day"], r["v"]))
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
# watermark_late_data_audit: batch replay vs REAL Structured Streaming


def test_watermark_audit_matches_real_streaming(spark, tmp_path):
    """THE semantics pin: the batch replay's accepted counts must equal
    a real ``withWatermark('ts','5 minutes')`` windowed count drained
    with one arrival-hour file per trigger, in APPEND mode — the mode
    whose late-input filter (drop iff window.end <= watermark) is
    exactly the audit's contract. (Update mode was probed and does NOT
    filter: an evicted window RE-OPENS with reset state when a too-late
    row arrives — the loss manifests as a count reset, not a missing
    row, so only append can pin the audit row-for-row.) Append emits
    each window once, when the watermark passes its end — so the
    comparison set is the replay's windows with w_end <= final
    watermark; tail windows never finalize by stream end."""
    from collections import defaultdict

    from ecommerce_data_pipeline_spark.plans.events_plans import (
        _WM_DELAY_MS,
        _WM_JITTER_S,
        _WM_SLOT_MS,
    )
    from ecommerce_data_pipeline_spark.plans.sketches import _hash60
    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        drain,
        land_chunks,
        read_file_stream,
    )
    from tests.stream_harness import run_available_now

    # land events as one file per ARRIVAL hour (the audit's trigger
    # definition), restricted to the first 24 arrival hours; the same
    # row subset is also a tmp sf-dir for the batch replay
    events = load_table(spark, SF_SMOKE, "events")
    arr_ms = F.unix_millis("ts") + (
        _hash60(F.col("event_id"), "wm#") % _WM_JITTER_S
    ) * 1000
    tagged = events.withColumn("arr_ms", arr_ms).withColumn(
        "trig", F.expr(f"arr_ms div {_WM_SLOT_MS}")
    ).drop("arr_ms")
    trigs = [
        r["trig"]
        for r in tagged.select("trig").distinct().orderBy("trig").collect()
    ][:24]
    subset = tagged.filter(F.col("trig").isin(trigs))
    land, sfdir = str(tmp_path / "wm_landing"), str(tmp_path / "wm_sf")
    subset.drop("trig").write.mode("overwrite").parquet(
        f"{sfdir}/events.parquet"
    )
    by_trig = defaultdict(list)
    for r in subset.collect():
        by_trig[r["trig"]].append(r[:-1])  # trig is the last column
    land_chunks([by_trig[t] for t in trigs], events.schema, land)

    replay = {
        (r["window_start"], r["event_type"]): (
            r["n_total"],
            r["n_accepted"],
        )
        for r in REGISTRY["watermark_late_data_audit"]
        .fn(spark, sfdir)
        .collect()
    }
    assert sum(t for t, _ in replay.values()) > 0
    assert any(a < t for t, a in replay.values()), (
        "fixture produced no late drops — jitter/trigger mismatch?"
    )
    # final watermark after the availableNow tail batch: global max
    # event time minus delay (epoch ms, session-tz consistent with
    # the replay's unix_millis)
    ev = spark.read.parquet(f"{sfdir}/events.parquet")
    final_wm = (
        ev.agg(F.max(F.unix_millis("ts"))).first()[0] - _WM_DELAY_MS
    )

    stream = read_file_stream(
        spark, land, events.schema, max_files_per_trigger=1
    )
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
    )
    q, name = run_available_now(
        agg, str(tmp_path / "wm_ckpt"), output_mode="append"
    )
    drain(q)
    rows = spark.table(name).collect()
    got = {
        (r["window"]["start"], r["event_type"]): r["count"]
        for r in rows
    }
    assert len(got) == len(rows), "append emitted a window twice"

    starts = sorted({k[0] for k in replay})
    ms_of = dict(
        spark.createDataFrame([(s,) for s in starts], "ws timestamp")
        .select("ws", F.unix_millis("ws").alias("ms"))
        .collect()
    )
    expected = {
        k: acc
        for k, (_tot, acc) in replay.items()
        if acc > 0 and ms_of[k[0]] + _WM_SLOT_MS <= final_wm
    }
    assert got == expected


def test_watermark_audit_invariants(spark):
    rows = REGISTRY["watermark_late_data_audit"].fn(spark, SF_SMOKE).collect()
    assert rows
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert sum(r["n_total"] for r in rows) == n_events
    for r in rows:
        assert r["n_total"] == r["n_accepted"] + r["n_dropped"]
        if r["n_dropped"] == 0:
            assert r["dropped_value"] is None
        else:
            assert r["dropped_value"] is not None


# ---------------------------------------------------------------------------
# cdc_compaction_io_audit


def test_cdc_io_audit_matches_python_ledger_and_snapshot(spark):
    """Independent Python replay of the bucket ledger (per-key last-op
    transitions -> bucket liveness -> per-batch COW/MOR rows), plus the
    cross-operator invariant: the ledger's final per-bucket liveness
    must sum to exactly cdc_apply_snapshot's row count (same changelog,
    same last-writer-wins semantics)."""
    rows = sorted(
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r["ts"].date(), r["ts"], r["event_id"]),
    )
    buckets = 16
    by_kb: dict = {}  # (user, day) -> last (ts, event_id, is_del)
    ops: dict = {}  # (bucket, day) -> [n_ops, n_del]
    for r in rows:
        day = r["ts"].date()
        b = r["user_id"] % buckets
        o = ops.setdefault((b, day), [0, 0])
        o[0] += 1
        is_del = 1 if r["event_type"] == "error" else 0
        o[1] += is_del
        cur = by_kb.get((r["user_id"], day))
        if cur is None or (r["ts"], r["event_id"]) > cur[:2]:
            by_kb[(r["user_id"], day)] = (r["ts"], r["event_id"], is_del)
    # per-key transitions in day order
    alive: dict = {}  # user -> 0/1
    deltas: dict = {}  # (bucket, day) -> delta
    days = sorted({d for (_u, d) in by_kb})
    for d in days:
        for (u, dd), (_t, _e, is_del) in by_kb.items():
            if dd != d:
                continue
            now = 0 if is_del else 1
            prev = alive.get(u, 0)
            deltas[(u % buckets, d)] = deltas.get((u % buckets, d), 0) + (
                now - prev
            )
            alive[u] = now
    # bucket cumulative liveness + per-batch ledger
    bucket_alive: dict = {}
    expected: dict = {}
    cum_ops = 0
    for d in days:
        n_ops = n_del = cow = touched = 0
        for b in range(buckets):
            if (b, d) not in ops:
                continue
            touched += 1
            n_ops += ops[(b, d)][0]
            n_del += ops[(b, d)][1]
            bucket_alive[b] = bucket_alive.get(b, 0) + deltas.get(
                (b, d), 0
            )
            cow += bucket_alive[b]
        cum_ops += n_ops
        expected[d] = (
            n_ops,
            n_del,
            touched,
            cow,
            n_ops,
            cum_ops,
            round(cow / n_ops, 4),
        )
    got = {
        r["batch_day"]: (
            r["n_ops"],
            r["n_deletes"],
            r["n_buckets_touched"],
            r["cow_rows_written"],
            r["mor_rows_written"],
            r["mor_reader_rows"],
            r["cow_write_amplification"],
        )
        for r in REGISTRY["cdc_compaction_io_audit"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # cross-operator: final liveness == compacted snapshot cardinality
    snap_n = REGISTRY["cdc_apply_snapshot"].fn(spark, SF_SMOKE).count()
    assert sum(bucket_alive.values()) == sum(
        1 for v in alive.values() if v
    ) == snap_n


# ---------------------------------------------------------------------------
# attribution_shapley_values


def test_shapley_matches_python_replay(spark):
    """Independent exact-Fraction replay of the coalition game: journey
    masks, v(S) over all 2^k subsets, phi_i from factorial weights —
    channel credits, touched counts and the efficiency identity must
    match the plan bit-for-bit (the published division is int/int in
    float, reproducible in Python)."""
    from collections import defaultdict

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("val_cents"),
        )
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    channels = sorted(
        {r.event_type for r in rows if r.event_type != "purchase"}
    )
    bit = {c: 1 << i for i, c in enumerate(channels)}
    k = len(channels)
    coal_v = defaultdict(int)
    coal_n = defaultdict(int)
    for evs in by_user.values():
        evs.sort(key=lambda r: (r.ts, r.event_id))
        mask = 0
        for r in evs:
            if r.event_type == "purchase":
                coal_v[mask] += r.val_cents
                coal_n[mask] += 1
                mask = 0
            else:
                mask |= bit[r.event_type]

    def v(s):
        return sum(cv for m, cv in coal_v.items() if (m & s) == m)

    full = (1 << k) - 1
    fact = math.factorial
    expected = {}
    for c in channels:
        b = bit[c]
        phi_num = sum(
            fact(bin(s).count("1")) * fact(k - 1 - bin(s).count("1"))
            * (v(s | b) - v(s))
            for s in range(1 << k)
            if not s & b
        )
        touched = sum(n for m, n in coal_n.items() if m & b)
        expected[c] = (
            touched,
            phi_num / (fact(k) * 100.0),
            (v(full) - v(0)) / 100.0,
        )
    got = {
        r.channel: r
        for r in REGISTRY["attribution_shapley_values"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(channels)
    for c, (touched, shap, attributable) in expected.items():
        r = got[c]
        assert r.touched_journeys == touched, c
        assert r.shapley_value == shap, c
        assert r.attributable_value == attributable, c
        assert r.efficiency_gap_num == 0, c
    # efficiency: credits distribute exactly v(N) - v(empty)
    assert (
        sum(round(e[1] * 100 * fact(k)) for e in expected.values())
        == fact(k) * (v(full) - v(0))
    )


# ---------------------------------------------------------------------------
# qini_uplift_curve


def test_qini_matches_python_replay(spark):
    """Python replay of the banded-decile Qini construction, including
    the portable md5-polynomial arm assignment: per-decile arm sizes,
    converter counts, uplift and Qini values must match the plan."""
    import hashlib
    from collections import defaultdict
    from datetime import datetime

    from ecommerce_data_pipeline_spark.plans.ml_ops import (
        _QINI_BIN_CAP,
        _QINI_BIN_CENTS,
        _QINI_CUTOVER,
        _QINI_SALT,
    )

    orders = (
        load_table(spark, SF_SMOKE, "orders")
        .select(
            "o_custkey",
            "o_orderdate",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .collect()
    )
    custkeys = [
        r.c_custkey
        for r in load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey")
        .collect()
    ]
    cut = datetime.fromisoformat(_QINI_CUTOVER)
    pre = defaultdict(int)
    post = defaultdict(int)
    for r in orders:
        if r.o_orderdate < cut:
            pre[r.o_custkey] += r.cents
        else:
            post[r.o_custkey] += 1

    def treat(key):
        h = hashlib.md5(f"{_QINI_SALT}{key}".encode()).hexdigest()
        return 1 if int(h[:15], 16) % 100 < 50 else 0

    binned = defaultdict(lambda: [0, 0])  # (bin, treat) -> [n, conv]
    for key in custkeys:
        b = min(pre[key] // _QINI_BIN_CENTS, _QINI_BIN_CAP)
        cell = binned[(b, treat(key))]
        cell[0] += 1
        cell[1] += 1 if post[key] > 0 else 0
    n_total = sum(v[0] for v in binned.values())
    bins_desc = sorted({b for b, _ in binned}, reverse=True)
    decile_of, before = {}, 0
    for b in bins_desc:
        decile_of[b] = (10 * before) // n_total
        before += sum(binned[(b, t)][0] for t in (0, 1) if (b, t) in binned)
    agg = defaultdict(lambda: [0, 0, 0, 0])  # decile -> n_t,conv_t,n_c,conv_c
    for (b, t), (n, conv) in binned.items():
        row = agg[decile_of[b]]
        if t == 1:
            row[0] += n
            row[1] += conv
        else:
            row[2] += n
            row[3] += conv
    got = {
        r.decile: r
        for r in REGISTRY["qini_uplift_curve"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(agg)
    cn_t = cconv_t = cn_c = cconv_c = 0
    for d in sorted(agg):
        n_t, conv_t, n_c, conv_c = agg[d]
        cn_t += n_t
        cconv_t += conv_t
        cn_c += n_c
        cconv_c += conv_c
        r = got[d]
        assert (r.n_treat, r.conv_treat, r.n_ctrl, r.conv_ctrl) == (
            n_t,
            conv_t,
            n_c,
            conv_c,
        ), d
        if n_t and n_c:
            assert abs(r.uplift_rate_diff - (conv_t / n_t - conv_c / n_c)) < 1e-6
        if cn_c:
            assert (
                abs(r.qini_value - (cconv_t * cn_c - cconv_c * cn_t) / cn_c)
                < 1e-4
            )


# ---------------------------------------------------------------------------
# kendall_tau_daily


def test_kendall_matches_python_replay(spark):
    """O(n^2) Python pair census over the same exact daily series: all
    five pair classes and tau-b must match."""
    daily = (
        load_table(spark, SF_SMOKE, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("y"),
        )
        .collect()
    )
    pts = [(r.x, r.y) for r in daily]
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
# dp_contribution_bounding


def test_dp_bounding_matches_python_replay(spark):
    """Python replay of the cap-and-clip ledger: per-segment true vs
    bounded aggregates, realized sensitivities, and the closed-form
    bound certificate."""
    from collections import defaultdict

    from ecommerce_data_pipeline_spark.plans.entity_resolution import (
        _DP_CAP_ORDERS,
        _DP_CLIP_CENTS,
    )

    seg_of = {
        r.c_custkey: r.c_mktsegment
        for r in load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey", "c_mktsegment")
        .collect()
    }
    orders = (
        load_table(spark, SF_SMOKE, "orders")
        .select(
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .collect()
    )
    by_user = defaultdict(list)
    for r in orders:
        by_user[r.o_custkey].append(r)
    seg = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
    # true_orders, kept, true_cents, bounded_cents, max_u_cents, max_u_orders
    for key, rows in by_user.items():
        rows.sort(key=lambda r: (r.o_orderdate, r.o_orderkey))
        s = seg[seg_of[key]]
        u_cents = 0
        for i, r in enumerate(rows):
            clip = min(r.cents, _DP_CLIP_CENTS)
            s[0] += 1
            s[2] += r.cents
            if i < _DP_CAP_ORDERS:
                s[1] += 1
                s[3] += clip
                u_cents += clip
        s[4] = max(s[4], u_cents)
        s[5] = max(s[5], len(rows))
    got = {
        r.segment: r
        for r in REGISTRY["dp_contribution_bounding"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(seg)
    bound = _DP_CAP_ORDERS * _DP_CLIP_CENTS
    for name, s in seg.items():
        r = got[name]
        assert r.true_orders == s[0]
        assert r.kept_orders == s[1]
        assert r.dropped_orders == s[0] - s[1]
        assert r.true_revenue == s[2] / 100.0
        assert r.bounded_revenue == s[3] / 100.0
        assert r.max_user_bounded_contribution == s[4] / 100.0
        assert r.max_user_orders_raw == s[5]
        assert r.l1_sensitivity_bound == bound / 100.0
        assert r.bound_holds


# ---------------------------------------------------------------------------
# benjamini_hochberg_fdr


def test_bh_fdr_matches_python_replay(spark):
    """Python replay of the Welch-z screen and the BH step-up rule,
    including the 6dp HALF_UP rounding the rank order keys use."""
    import decimal
    from collections import defaultdict

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

    def round6(x):
        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    zs = {}
    for brand, (n1, s1, ss1, n0, s0, ss0) in mom.items():
        if n1 > 1 and n0 > 1:
            m1, m0 = s1 / n1, s0 / n0
            v1 = (ss1 - m1 * s1) / (n1 - 1.0)
            v0 = (ss0 - m0 * s0) / (n0 - 1.0)
            zs[brand] = round6((m1 - m0) / math.sqrt(v1 / n1 + v0 / n0))
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
    import hashlib

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
        h = hashlib.md5(f"{_OBF_SALT}{key}".encode()).hexdigest()
        return 1 if int(h[:15], 16) % 100 < 50 else 0

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
# kmv_sketch_intersection


def test_kmv_matches_python_replay(spark):
    """Python replay of the KMV construction — per-set sketches, union
    sketch, theta, and both estimators — plus the unsaturated-sketch
    exactness property."""
    import hashlib

    from ecommerce_data_pipeline_spark.plans.sketches import (
        _KMV_K,
        _KMV_M,
        _KMV_SALT,
        _KMV_YEAR_A,
        _KMV_YEAR_B,
    )

    rows = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_custkey", F.year("o_orderdate").alias("yr"))
        .collect()
    )
    in_a, in_b = set(), set()
    for r in rows:
        if r.yr == _KMV_YEAR_A:
            in_a.add(r.o_custkey)
        if r.yr == _KMV_YEAR_B:
            in_b.add(r.o_custkey)

    def h(c):
        return int(
            hashlib.md5(f"{_KMV_SALT}{c}".encode()).hexdigest()[:15], 16
        )

    ska = set(sorted(in_a, key=lambda c: (h(c), c))[:_KMV_K])
    skb = set(sorted(in_b, key=lambda c: (h(c), c))[:_KMV_K])
    l = sorted(ska | skb, key=lambda c: (h(c), c))[:_KMV_K]
    n_l, theta = len(l), max(h(c) for c in l)
    n_common = sum(1 for c in l if c in ska and c in skb)
    est_union = (
        float(n_l) if n_l < _KMV_K else (_KMV_K - 1) * _KMV_M / theta
    )
    est_inter = n_common / n_l * est_union
    [r] = REGISTRY["kmv_sketch_intersection"].fn(spark, SF_SMOKE).collect()
    assert (r.exact_a, r.exact_b) == (len(in_a), len(in_b))
    assert r.exact_union == len(in_a | in_b)
    assert r.exact_intersection == len(in_a & in_b)
    assert (r.union_sketch_size, r.n_common) == (n_l, n_common)
    assert abs(r.est_union - est_union) < 0.01
    assert abs(r.est_intersection - est_inter) < 0.01
    if n_l < _KMV_K:  # unsaturated sketches ARE the sets — estimator exact
        assert r.est_union == r.exact_union


# ---------------------------------------------------------------------------
# median_of_means_certificate


def test_mom_matches_python_replay(spark):
    """Python replay of the 32-bucket shard-mean median; the estimator
    must sit inside the bucket-mean envelope and at the exact median of
    the replayed means."""
    import hashlib
    from collections import defaultdict

    from ecommerce_data_pipeline_spark.plans.profiling_tests import (
        _MOM_BUCKETS,
        _MOM_SALT,
    )

    rows = (
        load_table(spark, SF_SMOKE, "orders")
        .select(
            "o_orderkey",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .collect()
    )
    agg = defaultdict(lambda: [0, 0])
    for r in rows:
        hh = hashlib.md5(f"{_MOM_SALT}{r.o_orderkey}".encode()).hexdigest()
        cell = agg[int(hh[:15], 16) % _MOM_BUCKETS]
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
    assert r.n_orders == len(rows)
    assert abs(r.mom_mean - mom / 100.0) < 1e-4
    assert abs(r.plain_mean - plain / 100.0) < 1e-4
    assert r.min_bucket_mean <= r.mom_mean <= r.max_bucket_mean
    assert abs(r.mom_vs_mean_gap - abs(mom - plain) / 100.0) < 1e-4


# ---------------------------------------------------------------------------
# als_implicit_step_certificate


def test_als_step_matches_python_replay(spark):
    """Exact-Fraction replay of the rank-2 ridge solve: per-segment
    aggregates must match, and for a sample of users the closed-form
    improvement b^T A^-1 b must equal loss(0) - loss(x*) computed by
    actually solving the 2x2 system in rationals."""
    import hashlib
    from collections import defaultdict
    from fractions import Fraction

    from ecommerce_data_pipeline_spark.plans.ml_ops import (
        _ALS_LAMBDA,
        _ALS_SALT_1,
        _ALS_SALT_2,
        _ALS_SCALE,
    )

    def h60(v, salt):
        return int(
            hashlib.md5(f"{salt}{v}".encode()).hexdigest()[:15], 16
        )

    brands = {
        r.p_brand
        for r in load_table(spark, SF_SMOKE, "part")
        .select("p_brand")
        .collect()
    }
    fac = {}
    for b in brands:
        y1 = h60(b, _ALS_SALT_1) % 5 - 2
        y2 = h60(b, _ALS_SALT_2) % 5 - 2
        if y1 == 0 and y2 == 0:
            y1 = 1
        fac[b] = (y1, y2)
    part_brand = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, SF_SMOKE, "part")
        .select("p_partkey", "p_brand")
        .collect()
    }
    cust_of = {
        r.o_orderkey: r.o_custkey
        for r in load_table(spark, SF_SMOKE, "orders")
        .select("o_orderkey", "o_custkey")
        .collect()
    }
    seg_of = {
        r.c_custkey: r.c_mktsegment
        for r in load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey", "c_mktsegment")
        .collect()
    }
    ratings = defaultdict(int)
    for r in (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    ):
        ratings[(cust_of[r.l_orderkey], part_brand[r.l_partkey])] += 1
    users = defaultdict(lambda: [0, 0, 0, 0, 0, 0])  # a11,a12,a22,b1,b2,sse0
    for (u, b), r in ratings.items():
        y1, y2 = fac[b]
        s = users[u]
        s[0] += y1 * y1
        s[1] += y1 * y2
        s[2] += y2 * y2
        s[3] += r * y1
        s[4] += r * y2
        s[5] += r * r
    seg = defaultdict(lambda: [0, 0, 0, None])  # n, sse0, imp_q, min_imp
    for u, (q11, q12, q22, b1, b2, sse0) in users.items():
        a11, a22 = _ALS_LAMBDA + q11, _ALS_LAMBDA + q22
        det = a11 * a22 - q12 * q12
        num = a22 * b1 * b1 - 2 * q12 * b1 * b2 + a11 * b2 * b2
        imp_q = (_ALS_SCALE * num) // det
        s = seg[seg_of[u]]
        s[0] += 1
        s[1] += sse0
        s[2] += imp_q
        s[3] = imp_q if s[3] is None else min(s[3], imp_q)
    got = {
        r.segment: r
        for r in REGISTRY["als_implicit_step_certificate"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(seg)
    for name, (n, sse0, imp_q, min_imp) in seg.items():
        r = got[name]
        assert r.n_users == n
        assert r.sse_before == sse0
        assert r.loss_improvement == imp_q / _ALS_SCALE
        assert r.min_user_improvement_q == min_imp
        assert r.never_increases_loss == (min_imp >= 0)
        assert min_imp >= 0  # PD system: the step can never hurt
    # algebra check on a user sample: b^T A^-1 b == loss(0) - loss(x*)
    for u in sorted(users)[:20]:
        q11, q12, q22, b1, b2, _ = users[u]
        a11, a22 = _ALS_LAMBDA + q11, _ALS_LAMBDA + q22
        det = a11 * a22 - q12 * q12
        x1 = Fraction(a22 * b1 - q12 * b2, det)
        x2 = Fraction(a11 * b2 - q12 * b1, det)
        # ridge loss difference: loss(x) - loss(0)
        #   = x^T A x - 2 b^T x  (ratings-squared terms cancel)
        dloss = (
            a11 * x1 * x1
            + 2 * q12 * x1 * x2
            + a22 * x2 * x2
            - 2 * (b1 * x1 + b2 * x2)
        )
        num = a22 * b1 * b1 - 2 * q12 * b1 * b2 + a11 * b2 * b2
        assert dloss == -Fraction(num, det)


# ---------------------------------------------------------------------------
# mann_kendall_trend


def test_mann_kendall_matches_python_replay(spark):
    """O(n^2) Python replay of S, the tie-corrected variance and the
    continuity-corrected z."""
    from collections import Counter

    from ecommerce_data_pipeline_spark.plans.profiling_tests import _MK_Z_CRIT

    daily = sorted(
        (r.day, r.y)
        for r in load_table(spark, SF_SMOKE, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("y")
        )
        .collect()
    )
    ys = [y for _, y in daily]
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
# quantile_treatment_effect


def test_qte_matches_python_replay(spark):
    """Python replay of the type-1 per-arm quantiles (ceil(p*n/100)
    order statistic) and the QTE differences, hash arm split included."""
    import hashlib
    from datetime import datetime

    from ecommerce_data_pipeline_spark.plans.ml_ops import (
        _QTE_CUTOVER,
        _QTE_PS,
        _QTE_SALT,
    )

    orders = (
        load_table(spark, SF_SMOKE, "orders")
        .select(
            "o_custkey",
            "o_orderdate",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .collect()
    )
    custkeys = [
        r.c_custkey
        for r in load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey")
        .collect()
    ]
    cut = datetime.fromisoformat(_QTE_CUTOVER)
    y = {k: 0 for k in custkeys}
    for r in orders:
        if r.o_orderdate >= cut:
            y[r.o_custkey] += r.cents
    arms = {0: [], 1: []}
    for k in custkeys:
        h = hashlib.md5(f"{_QTE_SALT}{k}".encode()).hexdigest()
        arms[1 if int(h[:15], 16) % 100 < 50 else 0].append(y[k])
    for a in arms.values():
        a.sort()

    def q(vals, p):
        n = len(vals)
        rank = -(-p * n // 100)  # ceil(p*n/100)
        return vals[rank - 1]

    got = {
        r.quantile_pct: r
        for r in REGISTRY["quantile_treatment_effect"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(got) == set(_QTE_PS)
    for p in _QTE_PS:
        r = got[p]
        qt, qc = q(arms[1], p), q(arms[0], p)
        assert r.q_treat == qt / 100.0, p
        assert r.q_ctrl == qc / 100.0, p
        assert r.qte == (qt - qc) / 100.0, p


# ---------------------------------------------------------------------------
# t_closeness_audit


def test_t_closeness_matches_python_replay(spark):
    """Python replay of the per-class TVD (full domain grid including
    zero cells) and the breach summary; TVD must be in [0, 1] and the
    population-weighted class distributions must reconcile with the
    global one."""
    from collections import Counter, defaultdict
    from fractions import Fraction

    from ecommerce_data_pipeline_spark.plans.profiling_tests import _TCLOSE_T

    nation_of = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, SF_SMOKE, "nation").collect()
    }
    cust = {
        r.c_custkey: (nation_of[r.c_nationkey], r.c_mktsegment)
        for r in load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .collect()
    }
    rows = (
        load_table(spark, SF_SMOKE, "orders")
        .select(
            "o_custkey",
            F.year("o_orderdate").cast("int").alias("yr"),
            "o_orderpriority",
        )
        .collect()
    )
    cells = Counter()
    for r in rows:
        nation, seg = cust[r.o_custkey]
        cells[(nation, seg, r.yr, r.o_orderpriority)] += 1
    dom = Counter()
    classes = defaultdict(int)
    for (na, se, yr, s), c in cells.items():
        dom[s] += c
        classes[(na, se, yr)] += c
    n = sum(dom.values())
    expected = {}
    for key, n_c in classes.items():
        num = sum(
            abs(cells.get(key + (s,), 0) * n - g * n_c)
            for s, g in dom.items()
        )
        tvd_exact = Fraction(num, 2 * n_c * n)
        expected[key] = (n_c, float(num / (2.0 * n_c * n)), tvd_exact)
    got = {
        (r.nation, r.segment, r.order_year): r
        for r in REGISTRY["t_closeness_audit"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expected)
    breach_rows = 0
    max_tvd = 0.0
    for key, (n_c, tvd_f, tvd_exact) in expected.items():
        r = got[key]
        assert 0 <= tvd_exact <= 1
        assert r.class_size == n_c
        assert abs(r.tvd - tvd_f) < 1e-6, key
        assert r.meets_t == (r.tvd <= _TCLOSE_T)
        if r.tvd > _TCLOSE_T:
            breach_rows += n_c
        max_tvd = max(max_tvd, r.tvd)
    any_row = next(iter(got.values()))
    assert any_row.n_classes == len(expected)
    assert any_row.rows_breaching == breach_rows
    assert abs(any_row.max_tvd - max_tvd) < 1e-9


# ---------------------------------------------------------------------------
# wilson_interval_funnel


def test_wilson_funnel_matches_python_replay(spark):
    """Python replay of the funnel counts and closed-form Wilson bounds;
    intervals must bracket the rate and sit inside [0, 1]."""
    from collections import defaultdict

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
