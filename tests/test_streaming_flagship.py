"""End-to-end streaming flagship (streaming/flagship.py): the composed
EP2 lifecycle — queue source → watermarked key-dedup → foreachBatch
broadcast enrichment + idempotent warehouse append + incremental
near-dedup audit — drained over ≥3 micro-batch triggers, then
crash-replayed.

The registry twin (``streaming_flagship_certificate``) grades the same
composition against batch-mode oracles at driver time; this test pins
the micro-batch mechanics the certificate can't see from its one-row
output: the trigger count, the exact per-batch partition layout, and
byte-stable crash-replay of the LAST landed batch (the only batch a
real crash can leave half-landed — stores land sequentially, and the
store-ahead guard refuses anything older).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.streaming.flagship import (
    flagship_batch_handler,
    queue_dimensions,
    run_streaming_flagship,
)
from ecommerce_data_pipeline_spark.streaming.pipeline import drain

RAW_COLS = [
    "offset",
    "transaction_id",
    "product_id",
    "customer_id",
    "quantity",
    "payment_type",
    "status",
    "transaction_date",
    "ts",
]


def _rows(df) -> dict:
    out: dict = {}
    for r in df.collect():
        k = tuple(r)
        out[k] = out.get(k, 0) + 1
    return out


def test_streaming_flagship_drains_three_triggers_and_replays(spark):
    seed, max_offset, rows_per_batch, resend_every = 11, 300, 100, 20
    dim_products, dim_customers = queue_dimensions(spark)
    root = tempfile.mkdtemp(prefix="flagship_stream_")
    wh, ckpt = os.path.join(root, "wh"), os.path.join(root, "ckpt")
    try:
        q = run_streaming_flagship(
            spark, wh, ckpt, dim_products, dim_customers,
            available_now=False, seed=seed, rows_per_batch=rows_per_batch,
            max_offset=max_offset, resend_every=resend_every,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        fact = spark.read.parquet(f"{wh}/fact_enriched")
        batch_ids = sorted(
            r["_batch_id"]
            for r in fact.select("_batch_id").distinct().collect()
        )
        assert len(batch_ids) >= 3  # a real micro-batch sequence
        # 300 key-distinct originals + 15 id-mutated resubmissions; the
        # 300 byte-identical redeliveries die in the watermark dedup
        assert fact.count() == max_offset + max_offset // resend_every
        assert (
            fact.select("transaction_id").distinct().count() == fact.count()
        )

        # near-dedup audit flagged exactly the resubmissions (payload
        # identical, fresh id → Jaccard 1): one pair per resent offset
        pairs = spark.read.parquet(f"{wh}/neardup_pairs")
        assert pairs.count() == max_offset // resend_every
        assert pairs.filter(F.col("jaccard") < 1.0).count() == 0

        # crash-replay of the LAST batch: re-running it with the same
        # batch_id must leave every store byte-identical (idempotent
        # _batch_id dynamic-overwrite sinks; the neardup store prunes
        # its own half-landed partition before banding)
        last = batch_ids[-1]
        replay_input = (
            fact.filter(F.col("_batch_id") == last)
            .select(*RAW_COLS)
            .localCheckpoint()  # pin BEFORE the overwrite clobbers source files
        )
        fact_before = _rows(fact)
        pairs_before = _rows(pairs)
        handler = flagship_batch_handler(wh, dim_products, dim_customers)
        handler(replay_input, last)
        assert _rows(spark.read.parquet(f"{wh}/fact_enriched")) == fact_before
        assert _rows(spark.read.parquet(f"{wh}/neardup_pairs")) == pairs_before

        # restart after saturation: an availableNow pass appends nothing
        drain(
            run_streaming_flagship(
                spark, wh, ckpt, dim_products, dim_customers,
                available_now=True, seed=seed, rows_per_batch=rows_per_batch,
                max_offset=max_offset, resend_every=resend_every,
            )
        )
        assert _rows(spark.read.parquet(f"{wh}/fact_enriched")) == fact_before
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_flagship_mid_drain_restart_resumes(spark):
    """Crash BETWEEN triggers: drain one availableNow trigger, then
    restart from the same checkpoint and finish continuously. The
    composition must resume — committed offsets not re-delivered, dedup
    state restored (redeliveries of later offsets still die), stores
    advanced batch-by-batch — and the final warehouse must hold exactly
    the key-distinct facts, none duplicated across the restart boundary."""
    seed, max_offset, rows_per_batch, resend_every = 13, 300, 100, 20
    dim_products, dim_customers = queue_dimensions(spark)
    root = tempfile.mkdtemp(prefix="flagship_resume_")
    wh, ckpt = os.path.join(root, "wh"), os.path.join(root, "ckpt")
    kwargs = dict(
        seed=seed, rows_per_batch=rows_per_batch,
        max_offset=max_offset, resend_every=resend_every,
    )
    try:
        # first trigger only (availableNow snapshots one poll), then stop
        drain(
            run_streaming_flagship(
                spark, wh, ckpt, dim_products, dim_customers,
                available_now=True, **kwargs,
            )
        )
        partial = spark.read.parquet(f"{wh}/fact_enriched").count()
        assert 0 < partial < max_offset  # genuinely mid-drain

        # resume from the same checkpoint, continuous to completion
        q2 = run_streaming_flagship(
            spark, wh, ckpt, dim_products, dim_customers,
            available_now=False, **kwargs,
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

        fact = spark.read.parquet(f"{wh}/fact_enriched")
        assert fact.count() == max_offset + max_offset // resend_every
        assert (
            fact.select("transaction_id").distinct().count() == fact.count()
        )
        # the restart boundary produced no cross-boundary re-delivery:
        # every ORIGINAL offset appears exactly once
        originals = fact.filter(~F.col("transaction_id").endswith("-R"))
        assert originals.select("offset").distinct().count() == max_offset
    finally:
        shutil.rmtree(root, ignore_errors=True)
