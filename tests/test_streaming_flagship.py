"""End-to-end streaming flagship (streaming/flagship.py): the composed
EP2 lifecycle — queue source → watermarked key-dedup → foreachBatch
broadcast enrichment + idempotent warehouse append + incremental
near-dedup audit — drained once over ≥3 micro-batch triggers across a
restart, then crash-replayed. Both tests read that one drain (the
module fixture ``flagship_drain``).

The registry twin (``streaming_flagship_certificate``) grades the same
composition against batch-mode oracles at driver time, over one
continuous ≥3-trigger drain; these tests pin the micro-batch mechanics
the certificate can't see from its one-row output: resume after a stop
between triggers, the trigger count, the exact per-batch partition
layout, and byte-stable crash-replay of the LAST landed batch (the only
batch a real crash can leave half-landed — stores land sequentially,
and the store-ahead guard refuses anything older).
"""

from __future__ import annotations

import os
import tempfile
from types import SimpleNamespace

import pytest
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


@pytest.fixture(scope="module")
def flagship_drain(spark):
    """One drain shared by both tests. Crash BETWEEN triggers: drain one
    availableNow trigger, then restart from the same checkpoint and
    finish continuously."""
    seed, max_offset, rows_per_batch, resend_every = 11, 300, 100, 20
    dim_products, dim_customers = queue_dimensions(spark)
    kwargs = dict(
        seed=seed, rows_per_batch=rows_per_batch,
        max_offset=max_offset, resend_every=resend_every,
    )
    with tempfile.TemporaryDirectory(prefix="flagship_stream_") as root:
        wh, ckpt = os.path.join(root, "wh"), os.path.join(root, "ckpt")

        def run(available_now: bool):
            return run_streaming_flagship(
                spark, wh, ckpt, dim_products, dim_customers,
                available_now=available_now, **kwargs,
            )

        # first trigger only (availableNow snapshots one poll), then stop
        drain(run(True))
        partial = spark.read.parquet(f"{wh}/fact_enriched").count()

        # resume from the same checkpoint, continuous to completion
        q = run(False)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        yield SimpleNamespace(
            wh=wh, run=run, partial=partial, max_offset=max_offset,
            resend_every=resend_every, dim_products=dim_products,
            dim_customers=dim_customers,
        )


def test_streaming_flagship_mid_drain_restart_resumes(spark, flagship_drain):
    """The composition must resume — committed offsets not re-delivered,
    dedup state restored (redeliveries of later offsets still die),
    stores advanced batch-by-batch — and the final warehouse must hold
    exactly the key-distinct facts, none duplicated across the restart
    boundary."""
    d = flagship_drain
    assert 0 < d.partial < d.max_offset  # genuinely mid-drain

    fact = spark.read.parquet(f"{d.wh}/fact_enriched")
    # 300 key-distinct originals + 15 id-mutated resubmissions; the
    # 300 byte-identical redeliveries die in the watermark dedup
    assert fact.count() == d.max_offset + d.max_offset // d.resend_every
    assert fact.select("transaction_id").distinct().count() == fact.count()
    # the restart boundary produced no cross-boundary re-delivery:
    # every ORIGINAL offset appears exactly once
    originals = fact.filter(~F.col("transaction_id").endswith("-R"))
    assert originals.select("offset").distinct().count() == d.max_offset


def test_streaming_flagship_drains_three_triggers_and_replays(
    spark, flagship_drain
):
    """The drain spans ≥3 triggers; crash-replay of the last batch and a
    re-run after saturation must leave every store unchanged."""
    d = flagship_drain
    fact = spark.read.parquet(f"{d.wh}/fact_enriched")
    batch_ids = sorted(
        r["_batch_id"] for r in fact.select("_batch_id").distinct().collect()
    )
    assert len(batch_ids) >= 3  # a real micro-batch sequence
    assert fact.count() == d.max_offset + d.max_offset // d.resend_every
    assert fact.select("transaction_id").distinct().count() == fact.count()

    # near-dedup audit flagged exactly the resubmissions (payload
    # identical, fresh id → Jaccard 1): one pair per resent offset
    pairs = spark.read.parquet(f"{d.wh}/neardup_pairs")
    assert pairs.count() == d.max_offset // d.resend_every
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
    handler = flagship_batch_handler(d.wh, d.dim_products, d.dim_customers)
    handler(replay_input, last)
    assert _rows(spark.read.parquet(f"{d.wh}/fact_enriched")) == fact_before
    assert _rows(spark.read.parquet(f"{d.wh}/neardup_pairs")) == pairs_before

    # restart after saturation: an availableNow pass appends nothing
    drain(d.run(True))
    assert _rows(spark.read.parquet(f"{d.wh}/fact_enriched")) == fact_before
