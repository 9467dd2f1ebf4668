"""Streaming test plumbing: a memory-sink drain, the land-then-fold
helper of the stateful monitors, and the near-dedup foreachBatch sink
shell. None is engine code: the engine's streaming jobs land through
``fold_landing`` and ``streaming/flagship.py``."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ecommerce_data_pipeline_spark.streaming.pipeline import (
    _start_foreach_batch,
    fold_landing,
    land_chunks,
    neardup_store_increment,
)


def run_available_now(
    df: DataFrame, checkpoint: str, output_mode: str = "append"
) -> tuple[StreamingQuery, str]:
    """Drain the stream to an in-memory sink; returns the query + the
    temp view name holding results.

    Aggregations should use ``output_mode='complete'``: in append mode a
    window only emits once the watermark passes it, so the tail windows
    of a drained finite stream would never appear.
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


def land_and_fold(
    spark: SparkSession,
    tmp_path,
    op: Callable[[DataFrame], DataFrame],
    schema: StructType,
    chunks: list[list[tuple]],
    ckpt: str = "ckpt",
) -> DataFrame:
    """Land each chunk as one file in ``tmp_path/landing`` (numbering
    continues on a later call, so a second call is the restart) and fold
    the landing file-per-trigger through the stateful ``op`` into
    ``tmp_path/out`` under the checkpoint ``tmp_path/<ckpt>``; returns
    everything the output holds."""
    landing = str(tmp_path / "landing")
    land_chunks(chunks, schema, landing)
    return fold_landing(
        spark, op, landing, schema, str(tmp_path / "out"), str(tmp_path / ckpt)
    )


def foreach_batch_incremental_neardup(
    stream: DataFrame,
    docs_path: str,
    sigs_path: str,
    pairs_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Continuous near-dedup of a growing corpus: every micro-batch runs
    ``neardup_store_increment`` under its own pin, released on every
    exit, including the store-ahead-of-checkpoint ``RuntimeError``."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            neardup_store_increment(
                batch, batch_id, docs_path, sigs_path, pairs_path
            )
        finally:
            batch.unpersist()

    return _start_foreach_batch(stream, handle, checkpoint)
