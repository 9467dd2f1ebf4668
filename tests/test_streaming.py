"""Structured Streaming tests: file-stream ingest, stateful dedup,
windowed aggregation, session windows, foreachBatch sinks — each run to
completion with availableNow triggers and compared against the batch
equivalent (SURVEY.md §5.3).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.sources.readers import load_table
from ecommerce_data_pipeline_spark.streaming.pipeline import (
    drain,
    fold_landing,
    is_worker_handshake_timeout,
    land_chunks,
    read_file_stream,
    run_available_now,
    run_stream_with_handshake_retry,
    session_aggregate,
    stream_dedup,
    tumbling_counts,
)
from tests.conftest import SF_SMOKE


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


def test_stream_dedup_drops_redelivered_batch(spark, landing_dir, events_schema):
    stream = read_file_stream(spark, landing_dir, events_schema)
    deduped = stream_dedup(stream, ["event_id"], "ts")
    name = _drain(deduped)
    n = spark.table(name).count()
    expected = load_table(spark, SF_SMOKE, "events").count()
    assert n == expected  # re-delivered files collapse to one copy


def test_tumbling_counts_match_batch(spark, landing_dir, events_schema):
    stream = read_file_stream(spark, landing_dir, events_schema)
    deduped = stream_dedup(stream, ["event_id"], "ts")
    agg = tumbling_counts(deduped)
    name = _drain(agg, output_mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table(name).collect()
    }
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"),
        )
        .select(F.col("window.start").alias("ws"), "event_type", "n", "v")
        .collect()
    )
    expected = {(r["ws"], r["event_type"]): (r["n"], r["v"]) for r in batch}
    assert got == expected


def test_session_windows_stream(spark, landing_dir, events_schema):
    stream = read_file_stream(spark, landing_dir, events_schema)
    deduped = stream_dedup(stream, ["event_id"], "ts")
    sess = session_aggregate(deduped)
    name = _drain(sess, output_mode="complete")
    rows = spark.table(name).collect()
    assert rows
    # total events across sessions == distinct events
    assert sum(r["n_events"] for r in rows) == load_table(
        spark, SF_SMOKE, "events"
    ).count()
    # session bounds are ordered and per-user
    for r in rows:
        assert r["session_start"] <= r["session_end"]


def test_stream_stream_join_bounded(spark, landing_dir, events_schema):
    """Purchases ⋈ signups within 30 minutes per user, as a stream-stream
    join — checked against the equivalent batch join."""
    from ecommerce_data_pipeline_spark.streaming.pipeline import stream_stream_join

    stream = read_file_stream(spark, landing_dir, events_schema)
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("p_id")
    )
    signups = stream.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("s_ts"), F.col("event_id").alias("s_id")
    )
    joined = stream_stream_join(purchases, signups, on="user_id").select(
        "p_id", "s_id"
    )
    name = _drain(joined)
    got = {(r["p_id"], r["s_id"]) for r in spark.table(name).collect()}

    ev = spark.read.parquet(landing_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("p_id")
    ).distinct()
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("s_ts"),
        F.col("event_id").alias("s_id"),
    ).distinct()
    batch = p.join(
        s,
        (F.col("user_id") == F.col("u2"))
        & (F.col("s_ts") <= F.col("ts"))
        & (F.col("s_ts") >= F.col("ts") - F.expr("INTERVAL 30 minutes")),
    )
    expected = {(r["p_id"], r["s_id"]) for r in batch.collect()}
    assert got == expected
    assert got  # the fixture produces at least one in-window pair


def test_stateful_user_counts_accumulate(spark, landing_dir, events_schema):
    """applyInPandasWithState: final per-user counters equal the batch
    totals (update mode emits per micro-batch; the last emission per user
    carries the lifetime count)."""
    from ecommerce_data_pipeline_spark.streaming.pipeline import stateful_user_counts

    stream = read_file_stream(spark, landing_dir, events_schema)
    deduped = stream_dedup(stream, ["event_id"], "ts")
    counts = stateful_user_counts(deduped)
    name = _drain(counts, output_mode="update")
    out = spark.table(name).collect()
    # take each user's max (= latest cumulative) emission
    latest = {}
    for r in out:
        cur = latest.get(r["user_id"])
        if cur is None or r["n_events"] > cur:
            latest[r["user_id"]] = r["n_events"]
    batch = {
        r["user_id"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert latest == batch


def test_stream_dedup_within_watermark_bounded_state(spark, landing_dir, events_schema):
    """dropDuplicatesWithinWatermark drops the re-delivered batch like the
    unbounded-state form, but its state expires with the watermark —
    the scale-safe default for at-least-once redelivery."""
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


def test_foreach_batch_cdc_snapshot_matches_batch_compaction(spark, tmp_path):
    """Draining a changelog through the streaming CDC sink one file per
    micro-batch must land the same final snapshot as one-shot
    cdc_compact over the whole log (associativity, operationalized),
    including a delete whose key must vanish."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ecommerce_data_pipeline_spark.operators.scd import cdc_compact
    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        foreach_batch_cdc_snapshot,
        read_file_stream,
    )

    schema = StructType([
        StructField("k", StringType()),
        StructField("seq", LongType()),
        StructField("op", StringType()),
        StructField("v", DoubleType()),
    ])
    landing = str(tmp_path / "changelog")
    chunks = [
        [("k1", 1, "U", 1.0), ("k2", 2, "U", 9.0)],
        [("k1", 3, "U", 2.0), ("k2", 4, "D", 0.0)],
        [("k3", 5, "U", 7.0)],
    ]
    land_chunks(chunks, schema, landing)

    snap_path = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")
    stream = read_file_stream(
        spark, landing, schema, max_files_per_trigger=1
    )
    drain(foreach_batch_cdc_snapshot(stream, snap_path, ckpt, "k", ["seq"]))

    import os

    versions = sorted(
        int(d.split("=")[1]) for d in os.listdir(snap_path) if d.startswith("v=")
    )
    final = spark.read.parquet(f"{snap_path}/v={versions[-1]}")
    expected = cdc_compact(
        spark.createDataFrame(sum(chunks, []), schema), "k", ["seq"]
    )
    got = sorted(tuple(r) for r in final.collect())
    want = sorted(tuple(r) for r in expected.collect())
    assert got == want
    assert {r[0] for r in got} == {"k1", "k3"}


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
        foreach_batch_incremental_neardup,
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
        foreach_batch_incremental_neardup,
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
        foreach_batch_incremental_neardup,
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
    import datetime
    import decimal
    import os

    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DecimalType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
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
    from pyspark.sql.types import LongType, StructField, StructType

    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        decontam_monitor_stream,
    )

    schema = StructType(
        [StructField("shard_id", LongType()), StructField("doc_id", LongType())]
    )
    landing = str(tmp_path / "landing")
    assert land_chunks([], schema, landing) == []
    want = decontam_monitor_stream(read_file_stream(spark, landing, schema))
    for chunks in ([], [[]]):  # the second fold is the restart
        land_chunks(chunks, schema, landing)
        got = fold_landing(
            spark,
            decontam_monitor_stream,
            landing,
            schema,
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
