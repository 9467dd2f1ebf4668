"""The benchmark's workloads: closed loops with one client.

``olap_mix``      analysts querying the star schema: the frozen CORE21
                  registry queries, each built (``fn``) and executed (noop
                  write), in a seeded order per pass.
``ingest_stream`` the write side: EP1+EP2 cycles through
                  ``ingest.run_ingest_cycle`` into a fresh warehouse, then
                  one bounded drain of ``streaming.flagship``.

Each workload sets up several times (the median is ``setup_s``), checks its
outputs outside the timed region, counts every failed operation instead of
absorbing it, and returns its samples to ``run.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import trace

# The frozen CORE21 set of bench.py (its first 21 HEADLINE entries),
# copied so that the benchmark does not depend on bench.py.
CORE21 = (
    "flagship_revenue", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "q10_returned_items",
    "q18_large_volume_customer", "join_enrich_star", "window_running_revenue",
    "events_tumbling_window", "events_sessionize", "exact_text_dedup",
    "text_quality_score", "minhash_lsh_neardup", "embedding_cosine_topk",
    "embedding_lsh_topk", "asof_join_events", "word_frequencies",
    "pivot_priority_counts", "percentiles_exact", "q7_volume_shipping",
)
# olap_mix runs 10 of them: the star join, TPC-H aggregate and join
# shapes, windows, text, vector top-k and an exact percentile. The rest are
# left out to keep a run (a check pass, which is also the warm-up, plus
# three timed passes) near 55 s on a 4-core host.
OLAP_MIX = (
    "flagship_revenue", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q18_large_volume_customer",
    "window_running_revenue", "events_sessionize", "text_quality_score",
    "embedding_lsh_topk", "percentiles_exact",
)
FACT_TABLES = ("lineitem", "orders", "events")
SETUPS = 3
WARM_PASSES = 1
MIN_PASSES = 3


@dataclass
class Context:
    """Run-wide state one workload reads and fills."""

    work: str  # scratch directory inside the checkout
    seed: int
    seconds: float
    sf: float
    nproc: int
    tracer: trace.Tracer
    corrupt: bool = False  # feed one check a tampered result (smoke test)
    spark: object = None
    attempted: int = 0
    failed: int = 0
    setup_samples: list[float] = field(default_factory=list)
    pass_samples: list[float] = field(default_factory=list)
    # operation kind -> latencies of its timed executions
    op_samples: dict[str, list[float]] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def attempt(self, what: str, fn):
        """Run one operation; a raise counts as failed and returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - the run goes on and reports it
            self.failed += 1
            print(f"perfbench: {what} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None

    def check(self, what: str, ok: bool) -> None:
        """Count one result check; a miss counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def tamper(self) -> bool:
        """True exactly once when the smoke test asked for a bad result."""
        hit, self.corrupt = self.corrupt, False
        return hit


def _start_session(ctx: Context):
    """(Re)start the engine's session; the tracer follows the new one."""
    from ecommerce_data_pipeline_spark.session import get_spark

    ctx.tracer.spark = None
    if ctx.spark is not None:
        ctx.spark.stop()
    with ctx.tracer.span("session.start"):
        spark = get_spark("perfbench", cpus=ctx.nproc, shuffle_partitions=ctx.nproc)
        spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = ctx.tracer.spark = spark
    return spark


def _set_up(ctx: Context, prepare) -> None:
    """Start the session and prepare inputs ``SETUPS`` times; the first
    start also launches the JVM. Each sample is one whole set-up."""
    for i in range(SETUPS):
        t0 = time.perf_counter()
        with ctx.tracer.span("setup", sample=i):
            spark = _start_session(ctx)
            prepare(spark)
        ctx.setup_samples.append(time.perf_counter() - t0)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _digest(df) -> str:
    """Order-insensitive digest of a result, normalized like the oracle check."""
    from tests.oracle_harness import normalize

    rows = normalize([tuple(r) for r in df.collect()], [c.lower() for c in df.columns])
    return hashlib.sha256(repr(rows).encode()).hexdigest()


# --------------------------------------------------------------- olap_mix


def olap_mix(ctx: Context) -> None:
    from ecommerce_data_pipeline_spark.plans import REGISTRY
    from ecommerce_data_pipeline_spark.sources.readers import load_table
    from perfbench.fixture import TABLES, write_fixture
    from tests.oracle_harness import compare, duckdb_connection

    fixture = os.path.join(ctx.work, "fixture")
    ctx.info["fixture_rows"] = write_fixture(fixture, ctx.seed, ctx.sf)
    tr = ctx.tracer

    def load_fixture(spark) -> None:
        for name in TABLES:
            with tr.span("sources.load_table", table=name):
                load_table(spark, fixture, name).createOrReplaceTempView(name)

    _set_up(ctx, load_fixture)
    spark = ctx.spark

    # Check pass, untimed; it is also the warm-up (codegen, JIT, footers).
    t_check = time.perf_counter()
    con = duckdb_connection(fixture)
    digests: dict[str, str] = {}
    for name in OLAP_MIX:
        q = REGISTRY[name]

        def run_check(q=q):
            df = q.fn(spark, fixture)
            if ctx.tamper():
                df = df.limit(0)
            if q.oracle is not None:
                compare(df, con, q.oracle)  # raises on any difference
            else:
                digests[q.name] = _digest(df)

        ctx.attempt(f"oracle check of {name}", run_check)
    con.close()
    ctx.info["check_s"] = time.perf_counter() - t_check

    order = list(OLAP_MIX)
    rng = random.Random(ctx.seed)

    def run_pass(index: int, timed: bool) -> None:
        rng.shuffle(order)
        t0 = time.perf_counter()
        with tr.span("pass", index=index, timed=timed):
            for name in order:
                q = REGISTRY[name]
                q0 = time.perf_counter()
                with tr.span("query", query=name, index=index) as sp:

                    def run_query(q=q, sp=sp):
                        with tr.span("plans.build", query=q.name):
                            df = q.fn(spark, fixture)
                        with tr.span("spark.exec", query=q.name):
                            _noop(df)
                        if tr.enabled:
                            sp.attrs["catalyst_ms"] = trace.catalyst_phases_ms(df)
                            sp.attrs["storage_mb"] = trace.cached_mb(spark)
                        return True

                    ok = ctx.attempt(f"query {name}", run_query)
                if ok and timed:
                    ctx.op_samples.setdefault(name, []).append(time.perf_counter() - q0)
        if timed:
            ctx.pass_samples.append(time.perf_counter() - t0)

    # The first noop passes after the check pass are still 15-30% slower
    # (JIT); one untimed pass absorbs most of that.
    for i in range(WARM_PASSES):
        run_pass(i, timed=False)
    # Timed passes: whole passes until --seconds have elapsed.
    t_start = time.perf_counter()
    n_pass = 0
    while n_pass < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
        run_pass(WARM_PASSES + n_pass, timed=True)
        n_pass += 1

    ctx.info["timed_s"] = time.perf_counter() - t_start
    # Rows-only queries have no oracle: they must repeat their digest.
    for name, want in digests.items():
        got = ctx.attempt(f"rerun of {name}", lambda: _digest(REGISTRY[name].fn(spark, fixture)))
        ctx.check(f"{name} repeats its digest", got == want)

    if tr.enabled:
        # per fact table: the scan alone (load_table + noop), three times
        for name in FACT_TABLES:
            for rep in range(3):
                with tr.span("sources.scan", table=name, rep=rep):
                    _noop(load_table(spark, fixture, name))


# ---------------------------------------------------------- ingest_stream

# Per cycle at sf: new facts, first dimension load, dimension growth.
FACTS_PER_SF = 2_000_000
DIMS_PER_SF = 100_000
WARM_CYCLES = 2
MIN_CYCLES = 3
# The bounded drain: one availableNow trigger over this many queue
# offsets, each delivered twice, plus every 20th resent under a new id.
STREAM_OFFSETS = 100
STREAM_RESEND_EVERY = 20
STREAM_TIMEOUT_S = 120


def _cycle_inputs(spark, ctx: Context, c: int):
    """Cycle ``c``'s inputs: the dimension candidate ranges grow each
    cycle (old keys re-offered, new ones added), and the fact batch's
    timestamps start where the previous batch's ended, so every cycle
    appends new rows."""
    from ecommerce_data_pipeline_spark.operators.generators import (
        generate_customers,
        generate_products,
        generate_transactions,
    )

    n_facts = max(10, round(FACTS_PER_SF * ctx.sf))
    n_dim0 = max(10, round(DIMS_PER_SF * ctx.sf))
    grow = max(1, n_dim0 // 10)
    products = generate_products(spark, n_dim0 + c * grow, seed=ctx.seed)
    customers = generate_customers(spark, n_dim0 + c * grow, seed=ctx.seed)
    base = 1_704_110_400 + c * n_facts  # 2024-01-01 12:00:00 UTC, one second per fact
    base_ts = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(base))
    facts = generate_transactions(
        spark, n_facts, products, customers, base_ts=base_ts, seed=ctx.seed + c
    )
    return products, customers, facts, {
        "facts_generated": n_facts, "dims_offered": n_dim0 + c * grow, "grow": grow,
    }


def ingest_stream(ctx: Context) -> None:
    from ecommerce_data_pipeline_spark.sources.queue_source import register_queue_source

    _set_up(ctx, register_queue_source)
    # The drain runs first: it warms the JVM for the timed cycles, which
    # otherwise keep getting faster for several cycles (JIT).
    _stream_drain(ctx)
    _ingest_cycles(ctx)


def _stream_drain(ctx: Context) -> None:
    """One bounded drain, called directly: a failed start is a failed op.
    The streamed warehouse must have as many rows as its batch twin."""
    from ecommerce_data_pipeline_spark.functions.datetime import parse_reference_ts
    from ecommerce_data_pipeline_spark.streaming import flagship
    from pyspark.sql import functions as F

    spark = ctx.spark
    root = os.path.join(ctx.work, "stream")
    dim_products, dim_customers = flagship.queue_dimensions(spark)
    progress: list[dict] = []

    def drain():
        ctx.info["stream_start_epoch"] = time.time()
        q = flagship.run_streaming_flagship(
            spark, f"{root}/wh", f"{root}/ckpt", dim_products, dim_customers,
            available_now=True, seed=ctx.seed, rows_per_batch=STREAM_OFFSETS,
            max_offset=STREAM_OFFSETS, resend_every=STREAM_RESEND_EVERY,
        )
        try:
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                raise TimeoutError(f"drain still running after {STREAM_TIMEOUT_S} s")
        finally:
            q.stop()
        progress.extend(json.loads(p.json) for p in q.recentProgress)
        ctx.info["stream_run_id"] = str(q.runId)  # the job group of its jobs
        return True

    with ctx.tracer.span("streaming.drain") as sp:
        ok = ctx.attempt("stream drain", drain)
    ctx.attempted += len(progress)  # each trigger is an operation
    sp.attrs["progress"] = progress
    if not ok:
        return
    ctx.info["drain_s"] = sp.duration

    def twin_count() -> tuple[int, int]:
        base = (spark.read.format("txqueue").option("seed", ctx.seed)
                .option("nMessages", STREAM_OFFSETS).load())
        msgs = base.unionByName(flagship.resend_overlay(base, STREAM_RESEND_EVERY))
        msgs = msgs.withColumn("ts", parse_reference_ts(F.col("transaction_date")))
        twin = flagship.enrich_transactions(msgs, dim_products, dim_customers).count()
        landed = spark.read.parquet(f"{root}/wh/fact_enriched").count()
        return landed, twin

    counts = ctx.attempt("stream twin", twin_count)
    ctx.check("streamed warehouse equals its batch twin",
              counts is not None and counts[0] == counts[1] > 0)
    if counts is not None:
        ctx.info["stream_rows"] = counts[0]


def _ingest_cycles(ctx: Context) -> None:
    """EP1+EP2 cycles into a fresh warehouse, then a replay of the last."""
    from ecommerce_data_pipeline_spark import ingest

    spark, tr = ctx.spark, ctx.tracer
    wh = ingest.Warehouse(os.path.join(ctx.work, "warehouse"))
    landing = os.path.join(ctx.work, "landing")

    # The EP1/EP2 calls inside run_ingest_cycle get spans of their own:
    # the module attributes are swapped for timing wrappers while it runs.
    originals = {n: getattr(ingest, n) for n in ("refresh_dimension", "ingest_fact_batch")}

    def timed(name, fn):
        def wrapper(*a, **kw):
            with tr.span(f"ingest.{name}"):
                return fn(*a, **kw)
        return wrapper

    def cycle(c: int, landing_path: str | None):
        """One EP1+EP2 cycle; returns (its metrics or None, input sizes, span)."""
        products, customers, facts, sizes = _cycle_inputs(spark, ctx, c)
        with tr.span("ingest.cycle", index=c) as sp:
            got = ctx.attempt(f"ingest cycle {c}", lambda: ingest.run_ingest_cycle(
                spark, wh, products, customers, facts, "transaction_date",
                landing_path=landing_path, dedup_key="transaction_id",
            ))
        if got is not None:
            sp.attrs.update(got, **sizes)
        return got, sizes, sp

    for n, fn in originals.items():
        setattr(ingest, n, timed(n, fn))
    try:
        # The warm-up cycles: cycle 0 is the first load of a fresh
        # warehouse, cycle 1 the first dedup against it.
        t_start = time.perf_counter()
        c = 0
        while c < WARM_CYCLES + MIN_CYCLES or time.perf_counter() - t_start < ctx.seconds:
            got, sizes, sp = cycle(c, os.path.join(landing, f"c{c:03d}"))
            if got is None:
                c += 1
                continue
            if ctx.tamper():
                got = {**got, "facts_ingested": got["facts_ingested"] + 1}
            ctx.check(f"cycle {c}: no orphans", got["facts_orphaned"] == 0)
            ctx.check(f"cycle {c}: appended == generated",
                      got["facts_ingested"] == sizes["facts_generated"])
            if c > 0:
                ctx.check(f"cycle {c}: dimensions grew",
                          got["new_products"] == got["new_customers"] == sizes["grow"])
            if c < WARM_CYCLES:
                t_start = time.perf_counter()
            else:
                sp.attrs["timed"] = True
                ctx.pass_samples.append(sp.duration)
                for i, op in enumerate(tr.children(sp)):
                    ctx.op_samples.setdefault(f"{op.name}#{i}", []).append(op.duration)
            c += 1
        ctx.info["timed_s"] = time.perf_counter() - t_start
        # replaying the last batch must append nothing
        got, _, _ = cycle(c - 1, None)
        ctx.check("replayed batch appends 0", got is not None and got["facts_ingested"] == 0)
    finally:
        for n, fn in originals.items():
            setattr(ingest, n, fn)
    if tr.enabled:
        ctx.info["files_written"] = sum(
            f.endswith(".parquet")
            for d in (wh.root, landing) for _r, _d, fs in os.walk(d) for f in fs
        )


WORKLOADS = {"olap_mix": olap_mix, "ingest_stream": ingest_stream}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def op_geomean(samples: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median latency."""
    return statistics.geometric_mean([median(v) for v in samples.values()])
