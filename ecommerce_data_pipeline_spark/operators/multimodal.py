"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design (SURVEY.md §2.11 / BASELINE north star "multimodal columns"):
media (image/audio/video) travels as an opaque ``binary`` column next to a
typed metadata struct; decode / feature-extraction / resize / frame-sample
run as Arrow-batched ``mapInPandas`` stages so bytes never round-trip
through per-row Python.

The actual codec step is STUBBED — this container has no image/audio
libraries — behind ``decode_stub``, which provides a deterministic fake
(byte-level stats) so the Spark-side plumbing (schema, batching,
partition behavior) is real and testable. Swapping the stub for
PIL/ffmpeg is a one-function change.

Scale notes: binary payloads dominate partition size — ``mapInPandas``
keeps Arrow batches bounded via ``spark.sql.execution.arrow.
maxRecordsPerBatch``; repartitioning before decode spreads large media
evenly instead of hot-spotting whole files on one executor.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("byte_mean", DoubleType(), True),
        StructField("byte_histogram", ArrayType(LongType()), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Build a multimodal table from the documents fixture: the text bytes
    stand in for an encoded media payload (deterministic fake media)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("image/fake").alias("media_type"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("checksum"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    ``mapInPandas``: each Arrow batch arrives as a pandas DataFrame; the
    decode loop is per-batch Python (the unavoidable codec boundary), but
    transfer is columnar and output is a fixed explicit schema.

    IMPORTANT (worker-pickling rule): the batch function below is fully
    self-contained — it closes over nothing from this package, only
    stdlib/pandas — so cloudpickle ships it by value and Python workers
    never need this package on their PYTHONPATH. Every Python-worker
    function in this engine follows the same rule; all other operators
    are pure JVM Column expressions.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def decode_stub(payload) -> dict:
            # STUB for PIL.Image.open / av.open: deterministic byte-level
            # pseudo-features; swap this inner function for a real codec.
            if payload is None or len(payload) == 0:
                return {"byte_mean": 0.0, "hist": [0] * 16, "width": 0, "height": 0}
            hist = [0] * 16
            total = 0
            for b in payload:
                hist[b >> 4] += 1
                total += b
            # fake dimensions derived deterministically from content
            return {
                "byte_mean": total / len(payload),
                "hist": hist,
                "width": 16 + (payload[0] % 64),
                "height": 16 + (payload[-1] % 64),
            }

        for pdf in it:
            feats = [decode_stub(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["n_bytes"],
                    "byte_mean": [f["byte_mean"] for f in feats],
                    "byte_histogram": [f["hist"] for f in feats],
                    "width": pd.array([f["width"] for f in feats], dtype="int32"),
                    "height": pd.array([f["height"] for f in feats], dtype="int32"),
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def frame_sample(media: DataFrame, frame_bytes: int = 16) -> DataFrame:
    """'Video' frame sampling as pure Column ops: slice the payload into
    4 evenly-spaced fixed-size binary chunks (array<binary>). The real
    implementation would seek keyframes inside the codec stub."""
    stride = (F.col("n_bytes") / 4).cast("long")
    idx = F.sequence(F.lit(0), F.lit(3))
    frames = F.transform(
        idx,
        lambda i: F.substring(
            F.col("payload"), (i * stride + 1).cast("int"), F.lit(frame_bytes)
        ),
    )
    return media.select("media_id", "media_type", frames.alias("frames"))

