"""Structured Streaming: the reference's implied streaming tier, made real.

Reference parity (SURVEY.md §2.9 — all [implied]):
- SQS producer stub (``mock_data_generstion/send_data_to_sqs.py:1-2``, two
  import lines, never written) → a file-stream source over the landing
  directory stands in for the queue (S8).
- Lambda-scheduled micro-batching (handlers ``transactions_mock_data.py:
  125-150``) → Structured Streaming micro-batches with explicit triggers.
- The 10 s "S3 consistency" sleep (``transactions_mock_data.py:132``) and
  1-minute partition granularity (``:90``) — crude late-data handling →
  real watermarks (``withWatermark``) + windowed aggregation.
- The fire-and-forget Glue append (``:105-123``) → ``foreachBatch``
  sinks that land each micro-batch exactly once (``land_batch``), with
  checkpointing instead of blind triggers.

Scale notes: streaming state (dedup keys, open windows) is partitioned by
key across executors; watermarks bound state size — without them the
dedup/bag state grows forever at 100 TB/day. ``availableNow`` triggers
give tests (and backfills) deterministic run-to-completion semantics.
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


def land_chunks(
    chunks: list[list[tuple]], schema: StructType, landing_dir: str
) -> list[str]:
    """Land each row list as ONE parquet file in ``landing_dir``,
    written driver-side with pyarrow — the test and certificate twin of
    the reference's per-run S3 drops. Chunk k is ``chunk-{k:02d}.parquet``
    with mtime ``1_700_000_000 + k``, so a ``maxFilesPerTrigger=1`` file
    stream replays the chunks in list order; k continues after the files
    already in the directory, so a restart can land its second half into
    the same landing. Returns the landed paths.

    The rows are already on the driver, so a pyarrow write costs
    milliseconds where a Spark write job per chunk cost seconds. The
    streamed ROWS and their logical types equal a Spark writer's output
    (TimestampType lands UTC-adjusted, the session zone; naive datetimes
    are local time, as in ``createDataFrame``); the file bytes do not.
    """
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        DateType,
        DecimalType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        TimestampType,
    )

    arrow_of = {
        DateType: pa.date32(),
        DoubleType: pa.float64(),
        IntegerType: pa.int32(),
        LongType: pa.int64(),
        StringType: pa.string(),
        TimestampType: pa.timestamp("us", tz="UTC"),
    }
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, DecimalType):
            t = pa.decimal128(f.dataType.precision, f.dataType.scale)
        elif type(f.dataType) in arrow_of:
            t = arrow_of[type(f.dataType)]
        else:
            raise TypeError(
                f"land_chunks: unmapped Spark type {f.dataType} "
                f"for field {f.name!r}"
            )
        fields.append(pa.field(f.name, t))

    def column(f: pa.Field, values: tuple) -> pa.Array:
        if pa.types.is_timestamp(f.type):
            values = tuple(
                v.astimezone(datetime.timezone.utc) if v is not None else None
                for v in values
            )
        return pa.array(values, type=f.type)

    os.makedirs(landing_dir, exist_ok=True)
    first = len(os.listdir(landing_dir))
    paths = []
    for k, rows in enumerate(chunks, start=first):
        cols = list(zip(*rows)) if rows else [() for _ in fields]
        path = os.path.join(landing_dir, f"chunk-{k:02d}.parquet")
        pq.write_table(
            pa.table(
                [column(f, c) for f, c in zip(fields, cols)],
                schema=pa.schema(fields),
            ),
            path,
        )
        mtime = 1_700_000_000 + k
        os.utime(path, (mtime, mtime))
        paths.append(path)
    return paths


# Substrings identifying the ONE retry-safe startup failure: Spark
# 4.1.2's PythonWorkerFactory.createSimpleWorker waits a HARD-CODED 10 s
# (Selector.select(10000L)) for the driver-side Python-source runner to
# connect back; under full co-tenant load the forked interpreter can
# take longer than that to import pyspark, and the stream dies at plan
# time (MicroBatchExecution.logicalPlan) before batch 0 commits. No conf
# raises the timeout in 4.1.2, so the mitigation is a bounded restart.
_HANDSHAKE_SIGNATURES = (
    "Timed out while waiting for the Python worker to connect back",
)


def is_worker_handshake_timeout(exc: BaseException) -> bool:
    """True iff the exception (message or cause chain) carries the
    Python-worker connect-back timeout signature."""
    seen: list[str] = []
    e: BaseException | None = exc
    for _ in range(8):  # bounded cause walk; py4j chains can be cyclic-ish
        if e is None:
            break
        seen.append(str(e))
        e = e.__cause__ or e.__context__
    blob = "\n".join(seen)
    return any(sig in blob for sig in _HANDSHAKE_SIGNATURES)


def run_stream_with_handshake_retry(
    action: Callable[[], None], *, backoff_sec: float = 5.0
) -> None:
    """Run ``action`` (start + drain + stop of ONE streaming query) and
    retry it up to 3 times when it fails with the Python
    streaming-source worker handshake timeout (see
    ``is_worker_handshake_timeout``) — the load-induced flake VERDICT
    r13 item 1 ordered hardened.

    Retry is VALUE-SAFE here by construction: the handshake failure is
    thrown while the stream's logical plan is being built (before any
    micro-batch runs), and even a mid-stream restart resumes from the
    checkpoint against idempotent ``_batch_id``-overwrite sinks — the
    exact replay stability the flagship certificate itself grades. Any
    other failure is re-raised immediately.
    """
    import time as _time

    attempts = 3
    last: BaseException | None = None
    for i in range(attempts):
        try:
            action()
            return
        except Exception as e:  # noqa: BLE001 — filtered just below
            if not is_worker_handshake_timeout(e):
                raise
            last = e
            if i < attempts - 1:
                _time.sleep(backoff_sec * (i + 1))
    assert last is not None
    raise last


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S8: stream the parquet landing directory (SQS stand-in). New files
    become micro-batch input — exactly the reference's per-run CSV drops."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        # `is not None`, not truthiness: an explicit 0 must reach Spark
        # and fail loudly there rather than silently un-throttle the
        # stream (whole backlog in one micro-batch)
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


# The lateness bound ``stream_dedup`` puts on the stream. The windowed
# and stateful operators below chain after it and inherit this watermark
# (Spark takes one watermark definition per stream).
_DEDUP_WATERMARK = "1 hour"


def stream_dedup(events: DataFrame, key_cols: list[str], ts_col: str) -> DataFrame:
    """Stateful streaming dedup — P3's semantic over an infinite stream,
    watermarked ``_DEDUP_WATERMARK`` (1 hour) on ``ts_col``.

    CAUTION at scale: ``dropDuplicates(keys)`` without the event-time
    column among the keys keeps one state row PER KEY FOREVER — on an
    unbounded key domain that is a state leak (ARCHITECTURE.md §5). It
    remains correct for re-delivery windows only because re-deliveries
    are near-in-time; prefer ``stream_dedup_within_watermark`` whenever
    duplicates can only arrive within the lateness bound.
    """
    return events.withWatermark(ts_col, _DEDUP_WATERMARK).dropDuplicates(key_cols)


def stream_dedup_within_watermark(
    events: DataFrame, key_cols: list[str], ts_col: str, watermark: str
) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    expires each key's state once the watermark passes its event time, so
    state is O(rate × watermark) instead of O(distinct keys ever seen) —
    the form that survives an unbounded key domain (every real event
    stream). Duplicates are only guaranteed dropped if they arrive within
    the watermark of the first copy — exactly the redelivery semantics of
    at-least-once sources."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def tumbling_counts(events: DataFrame) -> DataFrame:
    """5-minute tumbling-window counts/sums per event type over ``ts``.
    The watermark that bounds the open windows is the upstream
    ``stream_dedup``'s; this operator sets none of its own."""
    return (
        events.groupBy(F.window("ts", "5 minutes"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_aggregate(events: DataFrame) -> DataFrame:
    """Per-user session windows over ``ts`` (30-minute gap) — the
    stateful operator the reference's minute-partitioned landing layout
    approximates. The watermark that closes sessions is the upstream
    ``stream_dedup``'s; this operator sets none of its own."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def _start_foreach_batch(
    stream: DataFrame,
    handle: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> StreamingQuery:
    """Start ``handle(batch, batch_id)`` as one ``availableNow`` drain of
    ``stream`` under ``checkpoint`` — the one sink shell of every
    ``foreachBatch`` sink here. Update mode: stateful folds emit their
    changed rows per trigger, and for a stateless stream update is the
    same as append."""
    return (
        stream.writeStream.foreachBatch(handle)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def land_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Land ``df`` as micro-batch ``batch_id`` of the parquet table at
    ``path``: its rows go to the ``_batch_id=N`` partition by
    dynamic-partition OVERWRITE, so a batch re-run after a crash between
    its write and its checkpoint commit replaces its own output instead
    of appending a second copy. The one exactly-once landing of every
    idempotent ``foreachBatch`` sink here and in ``streaming/flagship.py``."""
    (
        df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(path)
    )


def run_available_now(
    df: DataFrame, checkpoint: str, output_mode: str = "append"
) -> tuple[StreamingQuery, str]:
    """Drain the stream to an in-memory sink (deterministic test/backfill
    runner); returns the query + the temp view name holding results.

    Aggregations should use ``output_mode='complete'`` in tests: in append
    mode a window only emits once the watermark passes it, so the tail
    windows of a drained finite stream would never appear.
    """
    name = f"stream_out_{abs(hash(checkpoint)) % 10**8}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return q, name


# Bound on ONE availableNow drain. A drain still running at this bound
# fails its caller instead of running on into whatever starts next.
DRAIN_TIMEOUT_S = 300


def drain(q: StreamingQuery) -> None:
    """Wait for an ``availableNow`` query to finish, then stop it — on
    every exit. Raises ``TimeoutError`` when the query is still running
    after ``DRAIN_TIMEOUT_S`` (a partial drain is never read); a failed
    query surfaces as its ``StreamingQueryException``."""
    try:
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(
                f"stream {q.name or q.id} still running after "
                f"{DRAIN_TIMEOUT_S} s — refusing to read a partial drain"
            )
    finally:
        q.stop()


@contextlib.contextmanager
def stateful_shuffle_partitions(spark: SparkSession) -> Iterator[None]:
    """Run a bounded stateful drain at 8 shuffle partitions and restore
    the session's value on exit. A stateful micro-batch pays fixed
    per-partition work (state-store open/commit per partition, one task
    per shuffle partition in every foreachBatch job) and the state-store
    layout is pinned at query start — AQE never coalesces it — while
    partitioning never changes results. A few hundred rows spread over
    the session default are pure overhead."""
    conf = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "8")
    try:
        yield
    finally:
        spark.conf.set(conf, prior)


def fold_landing(
    spark: SparkSession,
    op: Callable[[DataFrame], DataFrame],
    landing_dir: str,
    schema: StructType,
    out: str,
    ckpt: str,
) -> DataFrame:
    """Fold the landing through the stateful operator ``op`` one file per
    trigger, landing each trigger's update-mode emissions in ``out``
    through ``land_batch`` under the checkpoint ``ckpt``, and return
    everything ``out`` holds. Calling it again on the same directories
    is the checkpoint restart; a re-run trigger replaces its own
    emissions, so ``out`` holds each of them once.

    The fold runs under ``stateful_shuffle_partitions``. An empty
    landing folds to an empty relation with ``op``'s output schema."""
    import os

    with stateful_shuffle_partitions(spark):
        folded = op(
            read_file_stream(spark, landing_dir, schema, max_files_per_trigger=1)
        )
        drain(
            _start_foreach_batch(
                folded,
                lambda batch, batch_id: land_batch(batch, out, batch_id),
                ckpt,
            )
        )
    if not os.path.exists(out):  # no trigger ran: nothing was ever landed
        return spark.createDataFrame([], folded.schema)
    # read under op's schema: triggers that all emitted nothing landed no
    # file to infer it from
    return spark.read.schema(folded.schema).parquet(out).drop("_batch_id")


def stream_stream_join(left: DataFrame, right: DataFrame, on: str) -> DataFrame:
    """Stream-stream inner join with a time-range condition. The left
    side's event time is ``ts``, the right side's ``s_ts`` (distinct
    names, so both stay addressable in the joined rows).

    Both sides carry 1-hour watermarks and the join requires
    ``s_ts ∈ [ts - 30 minutes, ts]`` — the bounded-state form:
    Spark can discard buffered rows once the watermark passes the range,
    so state stays O(rate × 30 minutes) per key instead of unbounded.
    """
    l = left.withWatermark("ts", "1 hour").alias("l")
    r = right.withWatermark("s_ts", "1 hour").alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col("r.s_ts") <= F.col("l.ts"))
        & (F.col("r.s_ts") >= F.col("l.ts") - F.expr("INTERVAL 30 minutes"))
    )
    return l.join(r, cond, "inner")


def _fold_by_key(
    keyed: DataFrame,
    key: str,
    update: Callable,
    out_schema: StructType,
    state_schema: StructType,
) -> DataFrame:
    """The shell of every ``applyInPandasWithState`` fold below:
    ``update(key, pdfs, state)`` folds each ``key`` group's micro-batch
    rows into its ``state_schema`` state and yields ``out_schema`` rows,
    emitted in update mode with no state timeout (a fold's state lives
    as long as its key)."""
    return keyed.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-user
    running event count + running value sum maintained across
    micro-batches (the arbitrary-state API the built-in windows can't
    express — e.g. lifetime counters, custom session logic). The
    watermark is the upstream ``stream_dedup``'s; this operator sets
    none of its own.

    The state handler below is fully self-contained (stdlib + pandas
    only) per the engine's worker-pickling rule.
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        # store the UNROUNDED total (round only on emit): rounding state
        # compounds error across micro-batches
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return _fold_by_key(events, "user_id", update, out_schema, state_schema)


def foreach_batch_cdc_snapshot(
    stream: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    key: str,
    order_cols: list[str],
) -> StreamingQuery:
    """Streaming CDC materialization: each micro-batch of changelog rows
    (op='U'/'D') advances a compacted snapshot via
    ``operators/scd.py::cdc_apply_increment`` — the Structured-Streaming
    form of merge-on-read compaction.

    Snapshots are VERSIONED (``v=<batch_id>`` subdirs): a batch reads
    the latest prior version and writes its own, never overwriting what
    it reads (read-then-overwrite of the same files races the lazy
    scan), and a crashed batch's re-run overwrites only its own version
    dir — idempotent replay, same discipline as ``land_batch``.
    Readers take the max version; old versions are retention-pruned
    out-of-band (time travel for free). Per-batch work is
    |snapshot|+|batch| (one shuffle on the key), never the full
    history."""
    session = stream.sparkSession

    def handle(batch: DataFrame, batch_id: int) -> None:
        import os

        from ecommerce_data_pipeline_spark.operators.scd import (
            cdc_apply_increment,
        )

        prior = [
            int(d.split("=", 1)[1])
            for d in (os.listdir(snapshot_path) if os.path.isdir(snapshot_path) else [])
            if d.startswith("v=") and int(d.split("=", 1)[1]) < batch_id
        ]
        if prior:
            snap = session.read.parquet(f"{snapshot_path}/v={max(prior)}")
        else:
            snap = session.createDataFrame([], batch.schema)
        out = cdc_apply_increment(snap, batch, key, order_cols)
        out.write.mode("overwrite").parquet(f"{snapshot_path}/v={batch_id}")

    return _start_foreach_batch(stream, handle, checkpoint)


def foreach_batch_incremental_neardup(
    stream: DataFrame,
    docs_path: str,
    sigs_path: str,
    pairs_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Continuous near-dedup of a growing corpus: each micro-batch of
    documents is MinHash-banded against the persisted signature store,
    the near-dup pairs it INTRODUCES land in ``pairs_path``, and the
    batch's documents + signatures merge into the stores.

    The streaming composition of ``operators/similarity.py::
    incremental_neardup`` — banding cost per trigger is
    O(batch · bands), never O(corpus · bands), which is what makes
    continuous dedup of a 100 TB corpus affordable: the corpus is
    touched only through its signature store plus the exact-verify
    candidates' text. Every pair is emitted exactly once, at the batch
    where its LATER member arrives (union over batches == the batch-mode
    pair relation — pinned in tests/test_streaming.py).

    Exactly-once: all three sinks land through ``land_batch``, so a
    crash-replayed batch replaces its own output.
    """
    def handle(batch: DataFrame, batch_id: int) -> None:
        # banding, verify and the docs sink all read the batch — pin it.
        # A persist (not localCheckpoint) so the finally below can RECLAIM
        # the blocks per trigger: localCheckpoint blocks bypass the
        # CacheManager and linger until ContextCleaner GC, which
        # accumulates in a long-running stream (r6 ADVICE). The lineage is
        # a deterministic micro-batch read, so an evicted block recomputing
        # is merely slow, never wrong. The pin releases on EVERY exit,
        # including the store-ahead-of-checkpoint RuntimeError.
        batch = batch.persist()
        try:
            neardup_store_increment(
                batch, batch_id, docs_path, sigs_path, pairs_path
            )
        finally:
            batch.unpersist()

    return _start_foreach_batch(stream, handle, checkpoint)


def neardup_store_increment(
    batch: DataFrame,
    batch_id: int,
    docs_path: str,
    sigs_path: str,
    pairs_path: str,
) -> None:
    """One micro-batch advance of the continuous near-dedup stores —
    the ``foreach_batch_incremental_neardup`` body, module-level so other
    foreachBatch compositions (``streaming/flagship.py``) and crash-replay
    tests can invoke a single batch directly. The caller pins ``batch``
    (it is read by the banding, the verify and the docs sink), as both
    foreachBatch handlers do. Semantics, replay guards, and the
    ``_batch_id`` idempotent landing scheme are documented on the
    wrapper above."""
    from pyspark.errors import AnalysisException

    from ecommerce_data_pipeline_spark.operators.similarity import (
        incremental_neardup,
        signature_store,
    )

    spark = batch.sparkSession
    try:
        base_docs = spark.read.parquet(docs_path)
        base_sigs = spark.read.parquet(sigs_path)
    except AnalysisException:  # first batch: store paths not created yet.
        # ONLY path-resolution errors mean "empty store" — a broader
        # except would swallow transient storage failures and silently
        # band this batch against nothing, permanently dropping its
        # cross-batch pairs (the checkpoint never retries a "success").
        base_docs = batch.limit(0)
        base_sigs = signature_store(batch.limit(0))
    else:
        # Crash-replay can leave the store holding AT MOST the
        # current batch's own partition (batches land sequentially);
        # anything beyond that means the CHECKPOINT was rotated or
        # lost while the stores were kept — the < batch_id prune
        # below would then silently discard corpus state and
        # dynamic-overwrite would clobber old partitions. Fail loud
        # instead; recovery is restoring the checkpoint or starting
        # fresh stores. (Partition-column-only aggregate: resolved
        # from the directory listing, no data scan.)
        mx = base_sigs.agg(F.max("_batch_id")).collect()[0][0]
        if mx is not None and mx > batch_id:
            raise RuntimeError(
                f"signature store is ahead of the checkpoint "
                f"(store max _batch_id={mx} > current batch "
                f"{batch_id}): checkpoint rotated/lost with stores "
                f"kept — refusing to silently drop corpus state"
            )
        # At-least-once replay guard: a crashed batch N may have
        # landed its docs/sigs partitions before the checkpoint
        # committed, so on re-run the store already contains N's own
        # rows. Reading them back as "base" would double-count every
        # delta doc's shingles in the exact-Jaccard verify (c/(u) →
        # 2c/(n1+n2−2c), inflating scores past the threshold) and
        # re-emit base pairs. Partition-prune to strictly older
        # batches instead of dropping the column blindly.
        base_docs = base_docs.filter(
            F.col("_batch_id") < batch_id
        ).drop("_batch_id")
        base_sigs = base_sigs.filter(
            F.col("_batch_id") < batch_id
        ).drop("_batch_id")
    state: dict = {}
    pairs = incremental_neardup(base_sigs, base_docs, batch, out=state)

    try:
        land_batch(pairs, pairs_path, batch_id)
        land_batch(batch, docs_path, batch_id)
        # the delta's signature rows are already computed (and cached)
        # inside incremental_neardup — land those instead of re-running
        # the shingle+minhash pass
        land_batch(state["delta_sigs"], sigs_path, batch_id)
    finally:
        # per-trigger persists must not accumulate in the session
        # CacheManager across a long-running stream
        for df in state.get("persisted", ()):
            df.unpersist()


# Events admitted per key per hour slot by ``rate_limit_backpressure``.
_BACKPRESSURE_CAP = 1


def rate_limit_backpressure(events: DataFrame) -> DataFrame:
    """Streaming rate limiter with carry-over backlog — the stateful twin
    of the batch replay ``plans/events_plans.py::backpressure_replay``
    (the plan of ``stream_rate_limit_backpressure``, which carries the
    exact DuckDB oracle; tests pin stream == replay at the same cap,
    including checkpoint restart).

    Per event_type, at most ``cap`` (``_BACKPRESSURE_CAP``) events are
    admitted per hour slot; excess queues and drains ``cap`` per slot
    INCLUDING empty slots (Lindley recursion). State per key is two
    integers (last processed slot, backlog) — O(keys), not O(events):
    the backpressure operator
    stays viable at any stream volume because gaps are drained by
    arithmetic (cap × gap length), never by materializing empty slots.
    Emits one row per (key, observed slot) in update mode. Slots must
    arrive in STRICTLY INCREASING event-time order across triggers —
    i.e. file/trigger boundaries aligned to slot boundaries (the
    per-day landing convention satisfies this for hourly slots). The
    handler enforces it: a slot at or before the checkpointed last_slot
    raises instead of silently double-admitting (advisor r8 — a slot
    straddling two micro-batches would see gap = 0 and admit up to
    ``cap`` AGAIN, emitting a duplicate (key, slot) row that diverges
    from the batch replay). Within a trigger the handler sorts, so
    intra-batch order is free.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    cap = _BACKPRESSURE_CAP
    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("slot", LongType()),
            StructField("arrivals", LongType()),
            StructField("carry_in", LongType()),
            StructField("admitted", LongType()),
            StructField("backlog", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("last_slot", LongType()), StructField("backlog", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        last_slot, backlog = state.get if state.exists else (None, 0)
        counts = {}
        for pdf in pdfs:
            for s in pdf["slot"]:
                s = int(s)
                counts[s] = counts.get(s, 0) + 1
        out = {c: [] for c in ("slot", "arrivals", "carry_in", "admitted", "backlog")}
        for s in sorted(counts):
            if last_slot is not None and s <= last_slot:
                # a straddled/reordered slot would re-admit up to cap for
                # an already-emitted (key, slot) — fail loudly instead
                raise ValueError(
                    f"rate_limit_backpressure: slot {s} for key "
                    f"{key[0]!r} arrived at or before already-processed "
                    f"slot {last_slot}; slots must be strictly "
                    "increasing across triggers (align trigger/file "
                    "boundaries to slot boundaries)"
                )
            a = counts[s]
            # drain cap per empty slot since the last observed one
            gap = 0 if last_slot is None else max(0, s - last_slot - 1)
            carry = max(0, backlog - cap * gap)
            admitted = min(carry + a, cap)
            backlog = carry + a - admitted
            last_slot = s
            out["slot"].append(s)
            out["arrivals"].append(a)
            out["carry_in"].append(carry)
            out["admitted"].append(admitted)
            out["backlog"].append(backlog)
        state.update((last_slot, backlog))
        yield pd.DataFrame({"event_type": [key[0]] * len(out["slot"]), **out})

    slotted = events.select(
        "event_type",
        (
            # hour slot 0 = 2024-01-01 00:00, the batch replay's anchor
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) * 24
            + F.hour("ts")
        )
        .cast("long")
        .alias("slot"),
    )
    return _fold_by_key(slotted, "event_type", update, out_schema, state_schema)


def dp_contribution_cap(
    orders: DataFrame,
    cap: int | None = None,
    clip_cents: int | None = None,
) -> DataFrame:
    """Streaming contribution bounding — the stateful twin of
    ``plans/entity_resolution.py::dp_contribution_bounding`` (which
    carries the exact DuckDB oracle): per customer, only the FIRST
    ``cap`` orders (full event-TIMESTAMP order, orderkey tiebreak —
    exactly the batch twin's (o_orderdate, o_orderkey) sort) contribute,
    each clipped at ``clip_cents``, so a DP release pipeline can
    enforce its L1 sensitivity bound ON INGEST instead of in a batch
    rewrite. State per customer is five integers — the (last_ts,
    last_okey) admission frontier plus three ledger counters —
    O(customers), not O(orders).

    State-schema migration (advisor r10; runbook: ARCHITECTURE.md §21):
    the state layout is versioned by ``_DP_STATE_SCHEMA_VERSION`` (v1 =
    4 fields pre-r10, v2 = 5 fields with last_okey). Restoring a v1
    checkpoint fails AT QUERY START via Spark's state-store schema
    check (``spark.sql.streaming.stateStore.stateSchemaCheck``, default
    on — do NOT disable it for this query: a 4-field tuple silently
    reinterpreted would corrupt the admission frontier). The migration
    is a COLD REPLAY into a fresh checkpoint directory: the ledger is a
    deterministic fold of the source in (ts, orderkey) order, so replay
    reproduces v2 state exactly — there is no in-place upgrade path.

    Emits one cumulative ledger row per (customer, trigger) in update
    mode: orders seen, orders admitted, bounded contribution cents.
    The final row per customer must equal the batch ledger (pinned in
    tests/test_round9.py, including checkpoint restart).

    Ordering contract (the backpressure discipline): the per-key
    admission frontier is the full (timestamp, orderkey) SORT KEY, not
    the timestamp alone (advisor r9: date-granularity o_orderdate makes
    two same-day orders split across triggers a routine layout — under
    a ts-only frontier that raised, turning a data-layout nit into a
    pipeline outage). A batch row strictly after the checkpointed
    (last_ts, last_okey) in sort order extends the "first N" prefix and
    admits deterministically; only a row AT OR BEFORE the frontier —
    which would re-order membership already released downstream —
    raises. Within a trigger the handler sorts by (ts, orderkey), so
    intra-batch order is free.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from ecommerce_data_pipeline_spark.plans.entity_resolution import (
        _DP_CAP_ORDERS,
        _DP_CLIP_CENTS,
    )

    cap = _DP_CAP_ORDERS if cap is None else cap
    clip_cents = _DP_CLIP_CENTS if clip_cents is None else clip_cents

    # v1 = 4 fields (pre-r10, ts-only frontier); v2 = 5 fields (+ last_okey).
    # Bump this whenever state_schema below changes, and add the matching
    # migration note to the docstring + ARCHITECTURE.md §21 runbook.
    _DP_STATE_SCHEMA_VERSION = 2

    out_schema = StructType(
        [
            StructField("o_custkey", LongType()),
            StructField("n_seen", LongType()),
            StructField("n_admitted", LongType()),
            StructField("bounded_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", LongType()),
            StructField("last_okey", LongType()),
            StructField("n_seen", LongType()),
            StructField("n_admitted", LongType()),
            StructField("bounded_cents", LongType()),
        ]
    )

    # the version anchor is LOAD-BEARING (review r11): a state_schema
    # edit without the version bump (or vice versa) fails here at
    # plan-build time, not in a future maintainer's checkpoint restore
    _DP_STATE_FIELDS_BY_VERSION = {1: 4, 2: 5}
    assert (
        _DP_STATE_FIELDS_BY_VERSION[_DP_STATE_SCHEMA_VERSION]
        == len(state_schema.fields)
    ), "bump _DP_STATE_SCHEMA_VERSION with the state_schema change"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        last_ts, last_okey, n_seen, n_admitted, cents = (
            state.get if state.exists else (None, None, 0, 0, 0)
        )
        rows = []
        for pdf in pdfs:
            for ts, okey, c in zip(
                pdf["ts_sec"], pdf["o_orderkey"], pdf["cents"]
            ):
                rows.append((int(ts), int(okey), int(c)))
        rows.sort()
        if (
            rows
            and last_ts is not None
            and (rows[0][0], rows[0][1]) <= (last_ts, last_okey)
        ):
            raise ValueError(
                f"dp_contribution_cap: order (ts={rows[0][0]}, "
                f"orderkey={rows[0][1]}) for customer {key[0]} arrived "
                f"at or before the already-processed sort frontier "
                f"(ts={last_ts}, orderkey={last_okey}); this would "
                "re-order first-N membership already released — land "
                "files in non-decreasing (date, orderkey) order"
            )
        for ts, okey, c in rows:
            n_seen += 1
            if n_admitted < cap:
                n_admitted += 1
                cents += min(c, clip_cents)
            last_ts, last_okey = ts, okey
        state.update((last_ts, last_okey, n_seen, n_admitted, cents))
        yield pd.DataFrame(
            {
                "o_custkey": [int(key[0])],
                "n_seen": [n_seen],
                "n_admitted": [n_admitted],
                "bounded_cents": [cents],
            }
        )

    prepared = orders.select(
        "o_custkey",
        # FULL timestamp seconds, not calendar day: the batch twin
        # orders by the o_orderdate TIMESTAMP (orderkey tiebreak), so
        # intra-day times must order identically here (review r9)
        F.col("o_orderdate").cast("long").alias("ts_sec"),
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    return _fold_by_key(prepared, "o_custkey", update, out_schema, state_schema)


def page_hinkley_stream(daily: DataFrame) -> DataFrame:
    """Streaming twin of ``plans/analytics_series.py::
    page_hinkley_drift_daily`` (which carries the exact DuckDB oracle):
    the two-sided Page-Hinkley drift statistic folded INCREMENTALLY
    over a stream of closed daily-revenue rows — the classic sequential
    change detector run the way Page meant it, one observation at a
    time, instead of a batch rescan. Input rows are (day, x-cents);
    produce them with a watermarked daily window aggregation upstream
    (a day's row must be emitted once, after the day closes).

    State per series is O(1) — ten scalars: the fold frontier
    (t, Σx, last day), the drift cumsum m with its running extrema,
    and the two gap maxima with their argmax days. Emits one cumulative
    row per trigger in update mode; the final row must equal the batch
    query's published values (pinned in tests/test_round11.py,
    including checkpoint restart).

    Ordering contract (the dp_contribution_cap frontier discipline):
    days must arrive in strictly increasing order ACROSS triggers —
    the running mean makes every statistic a prefix fold, so a
    re-delivered or late day would silently corrupt the whole suffix;
    it raises instead. Within a trigger the handler sorts by day.

    Float parity: the fold performs the SAME ops in the SAME order as
    the batch plan's sequential window frames (one division per day,
    left-to-right accumulation), so the final doubles are
    bit-identical to the batch twin's.
    """
    from pyspark.sql.types import (
        DateType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("series", StringType()),
            StructField("n_days", LongType()),
            StructField("ph_increase_dollars", DoubleType()),
            StructField("increase_day", DateType()),
            StructField("ph_decrease_dollars", DoubleType()),
            StructField("decrease_day", DateType()),
        ]
    )
    # (t, sum_x, m, run_min, run_max, max_gi, gi_day_epoch, max_gd,
    #  gd_day_epoch, last_day_epoch)
    state_schema = StructType(
        [
            StructField("t", LongType()),
            StructField("s", LongType()),
            StructField("m", DoubleType()),
            StructField("run_min", DoubleType()),
            StructField("run_max", DoubleType()),
            StructField("max_gi", DoubleType()),
            StructField("gi_day", LongType()),
            StructField("max_gd", DoubleType()),
            StructField("gd_day", LongType()),
            StructField("last_day", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import datetime
        import decimal

        import pandas as pd

        epoch = datetime.date(1970, 1, 1)
        if state.exists:
            (t, s, m, run_min, run_max, max_gi, gi_day, max_gd, gd_day,
             last_day) = state.get
        else:
            t = s = 0
            m = run_min = run_max = 0.0
            max_gi = max_gd = -1.0
            gi_day = gd_day = -1
            last_day = None

        rows = []
        for pdf in pdfs:
            for _, r in pdf.sort_values("day").iterrows():
                d = r["day"]
                d = d.date() if hasattr(d, "date") else d
                depoch = (d - epoch).days
                if last_day is not None and depoch <= last_day:
                    raise ValueError(
                        f"page_hinkley_stream: day {d} arrived at or "
                        f"before the folded frontier "
                        f"{epoch + datetime.timedelta(days=last_day)}; "
                        "daily rows must stream in strictly increasing "
                        "day order (emit them from a CLOSED watermarked "
                        "daily window)"
                    )
                x = int(r["x"])
                t += 1
                s += x
                m += float(x) - float(s) / float(t)
                if t == 1:
                    run_min = run_max = m
                run_min = min(run_min, m)
                run_max = max(run_max, m)
                gi = m - run_min
                gd = run_max - m
                if gi > max_gi:
                    max_gi, gi_day = gi, depoch
                if gd > max_gd:
                    max_gd, gd_day = gd, depoch
                last_day = depoch
        state.update(
            (t, s, m, run_min, run_max, max_gi, gi_day, max_gd, gd_day,
             last_day)
        )

        def r6(v: float) -> float:
            return float(
                decimal.Decimal(repr(v / 100.0)).quantize(
                    decimal.Decimal("0.000001"),
                    rounding=decimal.ROUND_HALF_UP,
                )
            )

        rows.append(
            {
                "series": key[0],
                "n_days": t,
                "ph_increase_dollars": r6(max_gi) if t else None,
                "increase_day": (
                    epoch + datetime.timedelta(days=gi_day)
                    if gi_day >= 0
                    else None
                ),
                "ph_decrease_dollars": r6(max_gd) if t else None,
                "decrease_day": (
                    epoch + datetime.timedelta(days=gd_day)
                    if gd_day >= 0
                    else None
                ),
            }
        )
        yield pd.DataFrame(rows)

    keyed = daily.select(
        F.lit("daily_revenue").alias("series"), "day", "x"
    )
    return _fold_by_key(keyed, "series", update, out_schema, state_schema)


def mixture_monitor_stream(
    cells: DataFrame,
    target_micros: dict[str, int],
) -> DataFrame:
    """Streaming twin of ``plans/corpus_mining.py::
    mixture_convergence_monitor`` (which carries the exact DuckDB
    oracle): the cumulative-mixture deviation report folded
    INCREMENTALLY over a stream of CLOSED (batch_id, source, cnt)
    arrival-batch rows — the monitor a stratified data loader runs
    while the corpus is still arriving, instead of a batch rescan.
    ``target_micros`` is the PLANNED mixture (source -> integer micros
    share); the batch twin derives it from the full corpus, a live
    deployment passes the curation plan's target directly.

    State per monitor is O(#sources) — the fold frontier (last
    batch_id), the cumulative doc total, and the per-source cumulative
    counts serialized as a sorted ``src:cnt`` CSV. Emits ONE row per
    folded batch in update mode; the union of emitted rows must equal
    the batch query's relation (pinned in tests/test_round12.py,
    including checkpoint restart).

    Integer parity: shares round to micros with the SAME exact rational
    half-up rule as the batch twin — round(p/q) = (2p + q) // (2q) in
    Python arbitrary-precision integers — so every emitted column is an
    exact integer with zero float anywhere.

    Ordering contract (the page_hinkley frontier discipline): batches
    must arrive in strictly increasing batch_id order ACROSS triggers,
    each batch complete within its trigger (emit from a CLOSED upstream
    window); a batch at or before the frontier raises. A source absent
    from ``target_micros`` raises — it would silently shift every other
    share. Within a trigger the handler folds batches in sorted order.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    # v1 = 3 fields (frontier, cum_total, counts CSV). Bump with any
    # state_schema change (the dp_contribution_cap version-anchor rule).
    _MIX_STATE_SCHEMA_VERSION = 1

    out_schema = StructType(
        [
            StructField("batch_id", LongType()),
            StructField("n_docs_cum", LongType()),
            StructField("l1_dev_micros", LongType()),
            StructField("max_dev_source", StringType()),
            StructField("max_abs_dev_micros", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_batch", LongType()),
            StructField("cum_total", LongType()),
            StructField("counts_csv", StringType()),
        ]
    )
    _MIX_STATE_FIELDS_BY_VERSION = {1: 3}
    assert _MIX_STATE_FIELDS_BY_VERSION[_MIX_STATE_SCHEMA_VERSION] == len(
        state_schema.fields
    ), "bump _MIX_STATE_SCHEMA_VERSION with the state_schema change"

    tgt = dict(target_micros)
    # ',' is the state-CSV record separator and cannot be escaped; ':'
    # in names is safe (the count is the last field, parsed by rsplit).
    # Only planned sources ever enter the counts map (unplanned ones
    # raise below), so rejecting here covers the state roundtrip.
    bad = sorted(s for s in tgt if "," in s)
    if bad:
        raise ValueError(
            f"mixture_monitor_stream: source names {bad!r} contain ',' — "
            "the state-CSV record separator; rename them upstream"
        )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            last_batch, cum_total, counts_csv = state.get
            # rsplit: the count is the one field guaranteed ':'-free
            counts = {
                kv.rsplit(":", 1)[0]: int(kv.rsplit(":", 1)[1])
                for kv in counts_csv.split(",")
                if kv
            }
        else:
            last_batch, cum_total, counts = None, 0, {}

        arrivals: dict[int, list[tuple[str, int]]] = {}
        for pdf in pdfs:
            for b, s, c in zip(pdf["batch_id"], pdf["source"], pdf["cnt"]):
                if s not in tgt:
                    raise ValueError(
                        f"mixture_monitor_stream: source {s!r} is not in "
                        "the planned target mixture — counting it would "
                        "silently shift every other source's share; add "
                        "it to the plan or quarantine it upstream"
                    )
                arrivals.setdefault(int(b), []).append((str(s), int(c)))

        out = []
        for b in sorted(arrivals):
            if last_batch is not None and b <= last_batch:
                raise ValueError(
                    f"mixture_monitor_stream: batch {b} arrived at or "
                    f"before the folded frontier {last_batch}; arrival "
                    "batches must stream in strictly increasing order "
                    "(emit them from a CLOSED upstream window)"
                )
            for s, c in arrivals[b]:
                counts[s] = counts.get(s, 0) + c
                cum_total += c
            devs = []
            for s in tgt:
                p = counts.get(s, 0)
                share = (2 * 1000000 * p + cum_total) // (2 * cum_total)
                devs.append((s, share - tgt[s]))
            l1 = sum(abs(d) for _, d in devs)
            worst_s, worst_d = min(devs, key=lambda sd: (-abs(sd[1]), sd[0]))
            out.append(
                {
                    "batch_id": b,
                    "n_docs_cum": cum_total,
                    "l1_dev_micros": l1,
                    "max_dev_source": worst_s,
                    "max_abs_dev_micros": abs(worst_d),
                }
            )
            last_batch = b
        counts_csv = ",".join(f"{s}:{counts[s]}" for s in sorted(counts))
        state.update((last_batch, cum_total, counts_csv))
        yield pd.DataFrame(
            out,
            columns=[
                "batch_id",
                "n_docs_cum",
                "l1_dev_micros",
                "max_dev_source",
                "max_abs_dev_micros",
            ],
        )

    keyed = cells.select(
        F.lit("mixture_monitor").alias("series"),
        F.col("batch_id").cast("long").alias("batch_id"),
        F.col("source").cast("string").alias("source"),
        F.col("cnt").cast("long").alias("cnt"),
    )
    return _fold_by_key(keyed, "series", update, out_schema, state_schema)


def decontam_monitor_stream(hits: DataFrame) -> DataFrame:
    """Streaming twin of ``plans/corpus_mining.py::
    decontamination_growth_monitor`` (which carries the exact DuckDB
    oracle): the first-contamination ledger folded INCREMENTALLY over a
    stream of candidate hit pairs ``(shard_id, doc_id)`` — corpus
    documents sharing an n-gram first exposed by benchmark shard
    ``shard_id``. This is the decontamination monitor an LLM data
    pipeline runs while an eval benchmark is still being assembled:
    each arriving benchmark shard is joined (stream-static, broadcast)
    against the corpus n-gram index upstream, and this stateful fold
    dedups the hits into one ``(doc_id, first_contaminated_shard)`` row
    per document, emitted exactly once on first contamination.

    State is keyed BY DOCUMENT (the canonical scalable stateful shape —
    per-key state is a single long, not a global ledger): a document's
    state is the shard that first flagged it. Contrast with
    ``mixture_monitor_stream``'s single-series O(#sources) fold; the
    two together cover both stateful-operator extremes.

    Ordering contract (sharper than the mixture monitor's global
    frontier): only order violations that would CORRUPT the answer
    raise. A document's hits may arrive in any order within a trigger
    (folded by min); across triggers, an arrival with a shard BELOW the
    document's flagged shard means an earlier benchmark shard was
    delivered after a later one had already been graded — the emitted
    ``first_shard`` is wrong and cannot be retracted from an
    append-only landing, so the fold fails loudly. Harmless disorder
    (a doc's first-ever hit arriving late) folds correctly by
    construction and is tolerated.

    The union of emitted rows must equal the batch ``(doc_id,
    first_shard)`` relation (pinned in tests/test_round13.py, including
    checkpoint restart); the eager registry certificate
    ``decontam_monitor_stream_certificate`` grades the full lifecycle
    as driver signal."""
    from pyspark.sql.types import LongType, StructField, StructType

    # v1 = 1 field (first_shard). Bump with any state_schema change
    # (the dp_contribution_cap version-anchor rule).
    _DECON_STATE_SCHEMA_VERSION = 1

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("first_shard", LongType()),
        ]
    )
    state_schema = StructType([StructField("first_shard", LongType())])
    _DECON_STATE_FIELDS_BY_VERSION = {1: 1}
    assert _DECON_STATE_FIELDS_BY_VERSION[_DECON_STATE_SCHEMA_VERSION] == len(
        state_schema.fields
    ), "bump _DECON_STATE_SCHEMA_VERSION with the state_schema change"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        doc = int(key[0])
        arrived = []
        for pdf in pdfs:
            arrived.extend(int(s) for s in pdf["shard_id"])
        if not arrived:
            return
        mn = min(arrived)
        if state.exists:
            (flagged,) = state.get
            if mn < flagged:
                raise ValueError(
                    f"decontam_monitor_stream: doc {doc} saw benchmark "
                    f"shard {mn} AFTER being graded contaminated at shard "
                    f"{flagged} — the emitted first_shard is corrupt and "
                    "an append-only landing cannot retract it; deliver "
                    "benchmark shards in nondecreasing order"
                )
            # later shards re-hitting a flagged doc are a no-op
            return
        state.update((mn,))
        yield pd.DataFrame({"doc_id": [doc], "first_shard": [mn]})

    keyed = hits.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("shard_id").cast("long").alias("shard_id"),
    )
    return _fold_by_key(keyed, "doc_id", update, out_schema, state_schema)
