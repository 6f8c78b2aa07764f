"""Structured Streaming ingestion into the encoded manifest.

The reference is strictly batch (one sequential pass,
``src/prog/unbra.cpp:179-183``); a training-data pipeline at 10^12
sequences is not — new token shards land continuously. This module
closes that gap with the idiomatic Spark pattern:

``readStream`` (file source over the landing directory) →
``foreachBatch`` → the SAME ``encode_table`` used by batch → append to
the manifest. ``foreachBatch`` is the right tool because the encode
output is a batch sink (parquet manifest) and the per-batch work is a
deterministic pure function; streaming checkpointing gives restart
recovery, and the manifest's ``snapshot_id = batch-{id}`` column makes
replayed micro-batches idempotent (skip-if-present), upgrading
at-least-once to effectively-once.

Watermarked windowed aggregation over the stream (ingest monitoring)
uses the native streaming engine — no custom state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["encode_stream", "stream_ingest_stats"]

TOKEN_STREAM_SCHEMA = ("doc_id string, tokens array<int>, n_tok int, "
                       "source string")


def encode_stream(spark: SparkSession, input_dir: str, output_dir: str,
                  checkpoint_dir: str, trigger_available_now: bool = True,
                  **encode_kwargs):
    """Stream-encode parquet shards landing in ``input_dir``.

    Returns the started StreamingQuery. With
    ``trigger_available_now`` the query drains what exists and stops —
    the batch-catchup mode; without it, it runs continuously.
    """
    from ..operators.encode import encode_table
    from ..operators.fsutil import has_files

    stream = (spark.readStream
              .schema(TOKEN_STREAM_SCHEMA)
              .parquet(input_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        snap = f"batch-{batch_id}"
        # a manifest with shards it cannot read raises, never counts
        # as empty
        if has_files(output_dir) and (
                batch_df.sparkSession.read.parquet(output_dir)
                .where(F.col("snapshot_id") == snap).limit(1).count()):
            return  # replayed micro-batch: already committed
        enc = encode_table(batch_df, snapshot_id=snap, **encode_kwargs)
        enc.write.mode("append").parquet(output_dir)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_stats(spark: SparkSession, input_dir: str,
                        window: str = "1 minute",
                        watermark: str = "2 minutes") -> DataFrame:
    """Watermarked windowed ingest monitoring: docs/tokens per source
    per event-time window (arrival time stamped at scan)."""
    stream = (spark.readStream
              .schema(TOKEN_STREAM_SCHEMA)
              .parquet(input_dir)
              .withColumn("_ts", F.current_timestamp()))
    return (stream
            .withWatermark("_ts", watermark)
            .groupBy(F.window("_ts", window).alias("win"), "source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum("n_tok").alias("tokens")))
