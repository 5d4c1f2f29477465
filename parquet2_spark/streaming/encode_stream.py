"""Structured Streaming encode: a stream of web pages is encoded into the
same snapshot layout, one micro-batch at a time.

``foreachBatch`` + the encode job's idempotent per-partition commits give
exactly-once snapshot semantics on top of Spark's at-least-once batch
replay: a replayed micro-batch encodes into the same batch-scoped
sub-snapshot and resumes there, skipping the partitions it committed.

The reference has an async streaming sink (FileStreamer,
src/write/stream.rs) — this is its Spark-native analog: watermark/state
handling comes from Structured Streaming, encoding stays in the same
vectorized UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.encode_job import EncodeConfig, encode


def encode_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    cfg: EncodeConfig | None = None,
    trigger_available_now: bool = True,
):
    """Start a streaming query that appends encoded chunks per micro-batch.

    Each micro-batch encodes into its own sub-snapshot
    ``batch=<batch_id>`` under ``snapshot_dir``, so chunk files never
    collide across batches, and a replayed batch resumes idempotently
    into the same dir.
    """
    cfg = cfg or EncodeConfig()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sub = os.path.join(snapshot_dir, f"batch={batch_id:06d}")
        encode(batch_df.sparkSession, batch_df, sub, cfg, resume=True)

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def decode_stream_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Union-decode every batch sub-snapshot."""
    from ..operators import decode_job

    batches = sorted(
        d for d in os.listdir(snapshot_dir) if d.startswith("batch=")
    )
    out = None
    for b in batches:
        df = decode_job.decode(spark, os.path.join(snapshot_dir, b))
        out = df if out is None else out.unionByName(df)
    if out is None:
        raise ValueError(f"no batch snapshots under {snapshot_dir}")
    return out
