"""Structured Streaming tests: file-stream ingest, stateful dedup,
windowed aggregation, session windows, foreachBatch sinks, the stateful
stream monitors (Page-Hinkley, mixture convergence, decontamination),
the watermark late-data audit against a real watermarked stream, and
the backpressure replay — each run to completion with availableNow
triggers and compared against the batch equivalent (SURVEY.md §5.3).
"""

from __future__ import annotations

import datetime
import shutil
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryException
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ecommerce_data_pipeline_spark.plans.registry import REGISTRY
from ecommerce_data_pipeline_spark.sources.readers import load_table
from ecommerce_data_pipeline_spark.streaming.pipeline import (
    decontam_monitor_stream,
    drain,
    fold_landing,
    is_worker_handshake_timeout,
    land_chunks,
    mixture_monitor_stream,
    page_hinkley_stream,
    read_file_stream,
    run_stream_with_handshake_retry,
)
from tests.conftest import SF_SMOKE
from tests.stream_harness import (
    foreach_batch_incremental_neardup,
    land_and_fold,
    run_available_now,
)


_PH_SCHEMA = StructType(
    [StructField("day", DateType()), StructField("x", LongType())]
)
_MIX_SCHEMA = StructType(
    [
        StructField("batch_id", LongType()),
        StructField("source", StringType()),
        StructField("cnt", LongType()),
    ]
)
_PAIR_SCHEMA = StructType(
    [StructField("shard_id", LongType()), StructField("doc_id", LongType())]
)


@pytest.fixture(scope="module")
def landing_dir(spark):
    """Write the events fixture into a multi-file landing zone (stream
    source), with the second half duplicated to exercise dedup."""
    d = tempfile.mkdtemp(prefix="landing_")
    events = load_table(spark, SF_SMOKE, "events")
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    odd = events.filter(F.col("event_id") % 2 == 1).coalesce(1)
    odd.write.mode("append").parquet(d)
    odd.write.mode("append").parquet(d)  # duplicate drop (re-delivered batch)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def events_schema(spark):
    return load_table(spark, SF_SMOKE, "events").schema


def _drain(df, output_mode="append"):
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q, name = run_available_now(df, ckpt, output_mode)
    drain(q)
    shutil.rmtree(ckpt, ignore_errors=True)
    return name


def test_stream_dedup_within_watermark_bounded_state(spark, landing_dir, events_schema):
    """dropDuplicatesWithinWatermark drops the re-delivered batch, and its
    state expires with the watermark — the scale-safe default for
    at-least-once redelivery."""
    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        stream_dedup_within_watermark,
    )

    stream = read_file_stream(spark, landing_dir, events_schema)
    deduped = stream_dedup_within_watermark(
        stream, ["event_id"], "ts", watermark="24 hours"
    )
    name = _drain(deduped)
    n = spark.table(name).count()
    expected = load_table(spark, SF_SMOKE, "events").count()
    assert n == expected


def test_foreach_batch_idempotent_replay_no_duplicates(spark, landing_dir, events_schema, tmp_path):
    """Re-running a batch (fresh checkpoint, same input) overwrites its
    own _batch_id partition instead of appending a second copy."""
    from ecommerce_data_pipeline_spark.streaming.pipeline import fold_landing

    out = str(tmp_path / "warehouse")
    for run in range(2):  # second run = full replay with a new checkpoint
        ckpt = str(tmp_path / f"ckpt{run}")
        landed = fold_landing(spark, lambda s: s, landing_dir, events_schema, out, ckpt)
    # the sink must hold exactly the landing rows, not 2x after replay
    assert landed.count() == spark.read.schema(
        events_schema
    ).parquet(landing_dir).count()


def test_txqueue_batch_source_deterministic_partitioned(spark):
    """Custom Python Data Source (S8 queue consumer): bounded drain is
    partitioned, schema-pinned, and replay-deterministic."""
    from ecommerce_data_pipeline_spark.sources.queue_source import (
        register_queue_source,
    )

    register_queue_source(spark)
    df = (
        spark.read.format("txqueue")
        .option("nMessages", 500)
        .option("numPartitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = df.collect()
    assert len(rows) == 500
    assert len({r["offset"] for r in rows}) == 500
    # non-ISO reference timestamp format parses
    from pyspark.sql import functions as F

    parsed = df.select(
        F.to_timestamp("transaction_date", "yyyy-MM-dd-HH:mm:ss").alias("ts")
    )
    assert parsed.filter(F.col("ts").isNull()).count() == 0
    again = spark.read.format("txqueue").option("nMessages", 500).load().collect()
    assert {tuple(r) for r in rows} == {tuple(r) for r in again}


def test_txqueue_stream_source_micro_batches(spark, tmp_path):
    """Streaming form: offsets advance rowsPerBatch per micro-batch and
    the drained rows equal the batch drain of the same range."""
    from ecommerce_data_pipeline_spark.sources.queue_source import (
        register_queue_source,
    )

    register_queue_source(spark)
    out = str(tmp_path / "q")
    q = (
        spark.readStream.format("txqueue")
        .option("rowsPerBatch", 100)
        .option("maxOffset", 300)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .start()
    )
    # the mock queue 'fills' incrementally (latestOffset advances
    # rowsPerBatch per poll until maxOffset); processAllAvailable drains
    # until offsets stop moving — availableNow would snapshot only the
    # first poll
    q.processAllAvailable()
    q.stop()
    landed = spark.read.parquet(out)
    batch = (
        spark.read.format("txqueue").option("nMessages", 300).load()
    )
    assert landed.count() == 300
    assert {tuple(r) for r in landed.collect()} == {
        tuple(r) for r in batch.collect()
    }


def test_streaming_incremental_neardup_matches_batch_run(spark):
    """Continuous near-dedup: documents arrive in 3 micro-batches; the
    union of per-batch INTRODUCED pairs must equal the batch-mode
    minhash_lsh_neardup pair relation over the whole corpus (each pair
    emitted exactly once, at its later member's batch)."""
    import os

    from ecommerce_data_pipeline_spark.operators.similarity import (
        minhash_lsh_neardup,
    )
    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        read_file_stream,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="incdedup_")
    src = os.path.join(root, "src")
    land_chunks(  # one file per micro-batch (maxFilesPerTrigger=1)
        [docs.filter(F.col("doc_id") % 3 == i).collect() for i in range(3)],
        docs.schema,
        src,
    )
    try:
        stream = read_file_stream(
            spark, src, docs.schema, max_files_per_trigger=1
        )
        drain(
            foreach_batch_incremental_neardup(
                stream,
                docs_path=os.path.join(root, "docs"),
                sigs_path=os.path.join(root, "sigs"),
                pairs_path=os.path.join(root, "pairs"),
                checkpoint=os.path.join(root, "ckpt"),
            )
        )
        got = {
            (r["id1"], r["id2"])
            for r in spark.read.parquet(os.path.join(root, "pairs")).collect()
        }
        expected = {
            (r["id1"], r["id2"])
            for r in minhash_lsh_neardup(docs).collect()
        }
        assert got == expected and len(expected) > 0
        # store completeness: every doc landed exactly once
        n_docs = spark.read.parquet(os.path.join(root, "docs")).count()
        assert n_docs == docs.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_incremental_neardup_replay_is_idempotent(spark):
    """At-least-once replay: a batch whose docs/sigs partitions already
    landed (crash after write, before checkpoint commit) must produce
    the SAME pairs when re-run — the store read prunes to _batch_id <
    current, so the batch never bands against its own landed rows
    (which would double-count every delta shingle in the exact-Jaccard
    verify and inflate scores past the threshold)."""
    import os

    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        read_file_stream,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="increplay_")
    src = os.path.join(root, "src")
    land_chunks([docs.collect()], docs.schema, src)
    paths = dict(
        docs_path=os.path.join(root, "docs"),
        sigs_path=os.path.join(root, "sigs"),
        pairs_path=os.path.join(root, "pairs"),
    )
    try:
        def run(ckpt: str) -> set:
            stream = read_file_stream(
                spark, src, docs.schema, max_files_per_trigger=1
            )
            drain(
                foreach_batch_incremental_neardup(
                    stream, checkpoint=os.path.join(root, ckpt), **paths
                )
            )
            return {
                (r["id1"], r["id2"])
                for r in spark.read.parquet(paths["pairs_path"]).collect()
            }

        first = run("ckpt1")
        # fresh checkpoint → Structured Streaming re-delivers the same
        # file as batch 0 while the stores already hold batch 0's
        # partitions: the worst-case replay
        replay = run("ckpt2")
        assert replay == first and len(first) > 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_txqueue_stream_restart_emits_no_duplicates(spark, tmp_path):
    """Checkpoint restarts (fresh reader instance, driver-memory offsets
    lost) must never re-emit committed offsets — including restarts
    AFTER the queue is fully drained, where the fresh reader's first
    latestOffset() is far behind the committed position."""
    import collections
    import os

    from ecommerce_data_pipeline_spark.sources.queue_source import (
        TransactionQueueDataSource,
    )

    spark.dataSource.register(TransactionQueueDataSource)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run_once():
        drain(
            spark.readStream.format("txqueue")
            .option("rowsPerBatch", 50)
            .option("maxOffset", 150)
            .option("numPartitions", 4)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    for _ in range(5):  # drains at run 3; runs 4-5 are post-saturation
        run_once()
    offsets = [r[0] for r in spark.read.parquet(out).select("offset").collect()]
    counts = collections.Counter(offsets)
    assert sum(1 for v in counts.values() if v > 1) == 0
    assert len(counts) == 150 and min(counts) == 0 and max(counts) == 149


def test_neardup_store_ahead_of_checkpoint_fails_loud(spark):
    """Checkpoint rotated/lost while the stores were kept: the store's
    max _batch_id exceeds the incoming batch id. Proceeding would prune
    away newer corpus state and dynamic-overwrite older partitions —
    the guard must raise instead of silently dropping state. Also pins
    the per-trigger pin hygiene: after the call (success OR the guarded
    failure, direct or through the foreachBatch handler that owns the
    batch pin), no pinned blocks may linger in the session."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        neardup_store_increment,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="incguard_")
    paths = dict(
        docs_path=os.path.join(root, "docs"),
        sigs_path=os.path.join(root, "sigs"),
        pairs_path=os.path.join(root, "pairs"),
    )
    try:
        # pin-hygiene baseline: start from a clean CacheManager (other
        # tests in the session-scoped fixture may hold harness-owned
        # caches; they lazily re-populate on next use)
        spark.catalog.clearCache()
        # land a legitimate increment at batch 5
        neardup_store_increment(docs, 5, **paths)
        # a batch id BEHIND the store = rotated/lost checkpoint
        with pytest.raises(RuntimeError, match="ahead of the checkpoint"):
            neardup_store_increment(docs.limit(10), 3, **paths)
        # the same guard through the handler: a fresh checkpoint replays
        # the landing as batch 0 against the batch-5 store
        src = os.path.join(root, "src")
        land_chunks([docs.limit(10).collect()], docs.schema, src)
        with pytest.raises(
            StreamingQueryException, match="ahead of the checkpoint"
        ):
            drain(
                foreach_batch_incremental_neardup(
                    read_file_stream(spark, src, docs.schema),
                    checkpoint=os.path.join(root, "ckpt"),
                    **paths,
                )
            )
        # pin hygiene: neither the successful nor the failed call may
        # leave anything pinned behind (the r7 persist+unpersist
        # contract) — the CacheManager check also catches lazy persists
        # that never materialized blocks (the failed trigger's batch pin)
        assert (
            spark._jsparkSession.sharedState().cacheManager().isEmpty()
        ), "cached plans leaked past neardup_store_increment"
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# The file-stream kit: land_chunks / drain / fold_landing


def test_drain_times_out_and_stops_never_ending_query(spark, monkeypatch):
    """A query that never finishes (rate source, default trigger) must
    fail the drain loudly at the bound AND be stopped — it may not run
    on into the next test."""
    from ecommerce_data_pipeline_spark.streaming import pipeline

    monkeypatch.setattr(pipeline, "DRAIN_TIMEOUT_S", 2)
    q = (
        spark.readStream.format("rate")
        .load()
        .writeStream.format("memory")
        .queryName("drain_timeout_probe")
        .start()
    )
    with pytest.raises(TimeoutError, match="still running after 2 s"):
        pipeline.drain(q)
    assert not q.isActive
    assert spark.streams.active == []


@pytest.fixture
def non_utc_process_zone(monkeypatch):
    """PySpark reads naive datetimes as PROCESS-local time (collect,
    createDataFrame); a non-UTC zone makes a landing that ignored it
    shift every timestamp."""
    import time

    monkeypatch.setenv("TZ", "Asia/Kolkata")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_land_chunks_round_trips_mapped_types_in_chunk_order(
    spark, tmp_path, non_utc_process_zone
):
    """One row of every mapped type streams back unchanged under the
    declared schema, one micro-batch per chunk in landing order — also
    across a second call that continues the numbering. An unmapped
    type is refused."""
    import decimal
    import os

    from pyspark.sql.types import (
        BooleanType,
        DecimalType,
        DoubleType,
        IntegerType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("d", DateType()),
            StructField("f", DoubleType()),
            StructField("i", IntegerType()),
            StructField("l", LongType()),
            StructField("s", StringType()),
            StructField("t", TimestampType()),
            StructField("m", DecimalType(18, 2)),
        ]
    )
    rows = [
        (
            datetime.date(1995, 3, k + 1),
            k + 0.25,
            k,
            2**40 + k,
            f"row-{k}",
            datetime.datetime(1995, 3, 1, 12, k, 30, 250),
            decimal.Decimal(f"{k}00.05"),
        )
        for k in range(3)
    ]
    landing = str(tmp_path / "landing")
    first = land_chunks([[rows[0]]], schema, landing)
    rest = land_chunks([[rows[1]], [rows[2]]], schema, landing)
    assert [os.path.basename(p) for p in first + rest] == [
        "chunk-00.parquet",
        "chunk-01.parquet",
        "chunk-02.parquet",
    ]
    assert [os.stat(p).st_mtime for p in first + rest] == [
        1_700_000_000,
        1_700_000_001,
        1_700_000_002,
    ]

    seen = []
    drain(
        read_file_stream(spark, landing, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(
            lambda batch, batch_id: seen.append(
                (batch_id, [tuple(r) for r in batch.collect()])
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert seen == [(k, [rows[k]]) for k in range(3)]

    with pytest.raises(TypeError, match="unmapped Spark type"):
        land_chunks(
            [[(True,)]],
            StructType([StructField("b", BooleanType())]),
            str(tmp_path / "bad"),
        )


def test_fold_landing_empty_landing_is_empty_relation(spark, tmp_path):
    """No landed chunk means no trigger ever writes the output, and a
    trigger over an empty chunk lands no file: either way the fold still
    returns a relation — empty, with the operator's schema."""
    landing = str(tmp_path / "landing")
    assert land_chunks([], _PAIR_SCHEMA, landing) == []
    want = decontam_monitor_stream(read_file_stream(spark, landing, _PAIR_SCHEMA))
    for chunks in ([], [[]]):  # the second fold is the restart
        land_chunks(chunks, _PAIR_SCHEMA, landing)
        got = fold_landing(
            spark,
            decontam_monitor_stream,
            landing,
            _PAIR_SCHEMA,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        assert got.count() == 0
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]


# --------------------------------------------------------------------------
# The worker-handshake retry: the classifier must recognize the Spark
# 4.1.2 connect-back timeout through a py4j-style cause chain, and
# nothing else; the retry wrapper must re-run ONLY on that signature,
# re-raise everything else untouched, and stay bounded.

_SIG = (
    "Query terminated with exception: Job aborted due to ... Caused by: "
    "java.net.SocketTimeoutException: Timed out while waiting for the "
    "Python worker to connect back"
)


def test_handshake_classifier_matches_message_and_cause_chain():
    assert is_worker_handshake_timeout(RuntimeError(_SIG))
    # a bare socket failure is not the connect-back timeout: not retried
    assert not is_worker_handshake_timeout(
        RuntimeError("[CANNOT_OPEN_SOCKET] ... timed out")
    )
    # signature buried one level down the cause chain (py4j wrapping)
    inner = RuntimeError(_SIG)
    outer = RuntimeError("stream died")
    outer.__cause__ = inner
    assert is_worker_handshake_timeout(outer)
    assert not is_worker_handshake_timeout(ValueError("schema mismatch"))


def test_retry_retries_only_on_handshake_and_is_bounded():
    calls = {"n": 0}

    def flaky_then_ok() -> None:
        calls["n"] += 1
        if calls["n"] < 2:
            raise RuntimeError(_SIG)

    run_stream_with_handshake_retry(flaky_then_ok, backoff_sec=0.0)
    assert calls["n"] == 2

    # non-handshake errors propagate immediately, no retry
    calls["n"] = 0

    def broken() -> None:
        calls["n"] += 1
        raise ValueError("real bug")

    with pytest.raises(ValueError):
        run_stream_with_handshake_retry(broken, backoff_sec=0.0)
    assert calls["n"] == 1

    # a persistent handshake failure exhausts attempts and re-raises
    calls["n"] = 0

    def always_flaky() -> None:
        calls["n"] += 1
        raise RuntimeError(_SIG)

    with pytest.raises(RuntimeError):
        run_stream_with_handshake_retry(always_flaky, backoff_sec=0.0)
    assert calls["n"] == 3


# --------------------------------------------------------------------------
# The stateful stream monitors (`_fold_by_key` folds): each streaming
# twin against its batch query, across a checkpoint restart, and on the
# ordering contract it must refuse loudly.

def _ph_final_row(rows):
    last = max(rows, key=lambda r: r["n_days"])
    return (
        last["n_days"],
        last["ph_increase_dollars"],
        last["increase_day"],
        last["ph_decrease_dollars"],
        last["decrease_day"],
    )


def test_page_hinkley_stream_checkpoint_restart(spark, tmp_path, daily_cents):
    """Kill-and-restart across a half-drained landing zone: the resumed
    fold must continue from checkpointed state and land on the same
    final row as the batch computation."""
    ordered = sorted(daily_cents)
    n = len(ordered)
    chunks = [
        [(day, daily_cents[day]) for day in sl]
        for sl in (ordered[: n // 3], ordered[n // 3 : 2 * n // 3],
                   ordered[2 * n // 3 :])
    ]
    land_and_fold(spark, tmp_path, page_hinkley_stream, _PH_SCHEMA, chunks[:2])
    rows = land_and_fold(
        spark, tmp_path, page_hinkley_stream, _PH_SCHEMA, chunks[2:]
    ).collect()
    batch = REGISTRY["page_hinkley_drift_daily"].fn(spark, SF_SMOKE)
    dtypes = dict(batch.dtypes)
    assert (dtypes["increase_day"], dtypes["decrease_day"]) == ("date", "date")
    assert _ph_final_row(rows) == _ph_final_row(batch.collect())


def test_page_hinkley_stream_rejects_reordered_days(spark, tmp_path):
    """A day at or before the folded frontier must RAISE (the running
    mean makes every statistic a prefix fold — a silent re-fold would
    corrupt the whole suffix), not be silently absorbed."""
    day0 = datetime.date(1995, 1, 2)
    chunks = [
        [(day0, 100), (day0 + datetime.timedelta(days=1), 200)],
        [(day0, 300)],
    ]
    with pytest.raises(StreamingQueryException, match="folded frontier"):
        land_and_fold(spark, tmp_path, page_hinkley_stream, _PH_SCHEMA, chunks)


def _mix_fold(spark, tmp_path, chunks, target):
    return land_and_fold(
        spark,
        tmp_path,
        lambda s: mixture_monitor_stream(s, target),
        _MIX_SCHEMA,
        chunks,
    )


def test_mixture_stream_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart across a half-drained landing zone: the resumed
    fold must continue from checkpointed per-source counts and land on
    the same relation as the batch computation."""
    from ecommerce_data_pipeline_spark.plans.corpus_mining import (
        _MIX_BATCH_DOCS,
        mixture_convergence_monitor,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    cells = Counter(
        (int(r.doc_id) // _MIX_BATCH_DOCS, r.source) for r in docs.collect()
    )
    # planned target mixture (source -> integer micros) from the full
    # corpus with the same exact rational half-up rule as both twins
    total_s = Counter()
    for (_, s), c in cells.items():
        total_s[s] += c
    total = sum(total_s.values())
    target = {
        s: (2 * 1000000 * t + total) // (2 * total)
        for s, t in total_s.items()
    }
    # three chunks of whole batches (a batch must close within one trigger)
    batches = sorted({b for b, _ in cells})
    n = len(batches)
    chunks = [
        [(b, s, c) for (b, s), c in sorted(cells.items()) if b in set(cut)]
        for cut in (batches[: n // 3], batches[n // 3 : 2 * n // 3],
                    batches[2 * n // 3 :])
    ]

    def mix_rows(rows):
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

    _mix_fold(spark, tmp_path, chunks[:2], target)
    got = mix_rows(_mix_fold(spark, tmp_path, chunks[2:], target).collect())
    assert got == mix_rows(mixture_convergence_monitor(spark, SF_SMOKE).collect())


def test_mixture_stream_rejects_reordered_batches(spark, tmp_path):
    """A batch at or before the folded frontier must RAISE (cumulative
    counts make every report a prefix fold), not be silently
    re-absorbed."""
    chunks = [[(0, "a", 3), (1, "b", 2)], [(1, "a", 1)]]
    # the stream must fail on THE frontier contract specifically — a
    # bare StreamingQueryException would let any unrelated failure
    # (schema error, landing-path error) pass
    with pytest.raises(StreamingQueryException, match="folded frontier"):
        _mix_fold(spark, tmp_path, chunks, {"a": 600000, "b": 400000})


def test_mixture_stream_rejects_unplanned_source(spark, tmp_path):
    """A source outside the planned target mixture must RAISE — counting
    it would silently shift every other source's share."""
    with pytest.raises(StreamingQueryException, match="target mixture"):
        _mix_fold(spark, tmp_path, [[(0, "rogue", 1)]], {"a": 1000000})


def test_mixture_stream_state_survives_colon_source(spark, tmp_path):
    """A source name containing ':' must round-trip through the state
    CSV (the count is the LAST field, parsed with rsplit) — and a
    target with ',' in a name is rejected at construction."""
    with pytest.raises(ValueError, match="record separator"):
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


def _first_shards(spark, tmp_path, chunks, ckpt="ckpt"):
    """Fold (shard_id, doc_id) pairs through decontam_monitor_stream;
    the emitted rows as a sorted list of (doc_id, first_shard)."""
    out = land_and_fold(
        spark, tmp_path, decontam_monitor_stream, _PAIR_SCHEMA, chunks, ckpt
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
    got = _first_shards(spark, tmp_path, chunks)
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
    got = _first_shards(spark, tmp_path, chunks)
    assert got == [(200, 3), (201, 1)]


def test_decontam_stream_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart across a half-drained landing zone: the resumed
    fold must restore per-doc flagged state — doc 300, flagged in the
    first run, must NOT re-emit when re-hit after the restart. Refolding
    the whole landing under a fresh checkpoint into the same output
    re-runs each trigger with its old batch id, which replaces its own
    emissions: the output still holds each emission once."""
    _first_shards(spark, tmp_path, [[(0, 300), (1, 301)]])
    # 300 re-hit post-restart: restored state
    got = _first_shards(spark, tmp_path, [[(2, 300), (2, 302)]])
    assert got == [(300, 0), (301, 1), (302, 2)]
    assert _first_shards(spark, tmp_path, [], ckpt="ckpt_fresh") == got


def test_decontam_stream_rejects_shard_regression(spark, tmp_path):
    """A benchmark shard arriving BELOW a doc's flagged shard would make
    the already-emitted first_shard wrong — append-only landings cannot
    retract, so the fold must fail loudly on THE specific contract."""
    chunks = [
        [(3, 400)],  # doc 400 graded contaminated at shard 3
        [(1, 400)],  # shard 1 arrives late: first_shard=3 was WRONG
    ]
    with pytest.raises(StreamingQueryException, match="graded contaminated"):
        _first_shards(spark, tmp_path, chunks)


# --------------------------------------------------------------------------
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


# --------------------------------------------------------------------------
# stream_rate_limit_backpressure: the batch replay vs a dense simulation


def _dense_simulation(events_rows, cap):
    """Reference Lindley simulation over a DENSE slot grid — the naive
    form the closed-form replay must reproduce exactly."""
    arr: dict[str, Counter] = {}
    for r in events_rows:
        days = (r["ts"].date() - datetime.date(2024, 1, 1)).days
        slot = days * 24 + r["ts"].hour
        arr.setdefault(r["event_type"], Counter())[slot] += 1
    expected = {}
    for key, counts in arr.items():
        backlog = 0
        for slot in range(min(counts), max(counts) + 1):
            a = counts.get(slot, 0)
            carry = backlog
            admitted = min(carry + a, cap)
            backlog = carry + a - admitted
            if a > 0:
                expected[(key, slot)] = (a, carry, admitted, backlog)
    return expected


@pytest.mark.parametrize("cap", [1, 3])
def test_backpressure_replay_matches_dense_simulation(spark, cap):
    from ecommerce_data_pipeline_spark.plans.events_plans import (
        backpressure_replay,
    )

    events = load_table(spark, SF_SMOKE, "events")
    got = {
        (r["event_type"], r["slot"]): (
            r["arrivals"],
            r["carry_in"],
            r["admitted"],
            r["backlog"],
        )
        for r in backpressure_replay(events, cap=cap).collect()
    }
    expected = _dense_simulation(events.select("event_type", "ts").collect(), cap)
    assert got == expected
