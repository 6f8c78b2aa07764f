"""Streaming CDC over a snapshot table: follow the commit log, emit
each commit's row-level change feed incrementally.

Downstream consumers of a continuously-updated encoded table (index
builders, caches, derived datasets) need "what changed since I last
looked", not a rescan. The snapshot layer already answers that for a
PAIR of ids (``snapshot_diff``, delta-chunk-proportional); this module
turns the log itself into the stream:

``readStream`` (file source over ``table_dir/_log`` — each commit is
exactly one small parquet file, so file-source discovery IS log
tailing) → ``foreachBatch`` → for every newly seen log row, in seq
order, ``snapshot_diff(parent → id)`` appended to the output sink with
the (seq, snapshot_id) stamped on.

Checkpointing gives restart recovery; replays are idempotent because
the sink is keyed by ``seq`` and a replayed batch's seqs are
skip-if-present — the same effectively-once recipe as
``encode_stream``. Cost per commit is delta-proportional (the
``snapshot_diff`` contract), so a quiet table costs nothing and a busy
one costs its churn.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["stream_changes"]

_LOG_STREAM_SCHEMA = ("seq long, snapshot_id string, parent_id string, "
                      "op string, n_chunks long, enc_bytes long, "
                      "committed_at double")


def stream_changes(spark: SparkSession, table_dir: str, output_dir: str,
                   checkpoint_dir: str,
                   specs: list[tuple[str, str]] | None = None,
                   trigger_available_now: bool = True):
    """Stream each commit's add/del row feed into ``output_dir``.

    Output rows are ``snapshot_diff``'s columns plus ``seq`` and
    ``snapshot_id``. Returns the started StreamingQuery; with
    ``trigger_available_now`` it drains the existing log and stops
    (the catch-up mode), otherwise it keeps following new commits.
    """
    from ..operators.snapshots import snapshot_diff

    # ingest ONLY canonical log rows (NNNNNNNN-<sid>.parquet): the log
    # dir also holds _claim_seq's ``NNNNNNNN.claim`` markers (and, from
    # older writers, visible ``*.tmp-<pid>`` staging files) — a listing
    # that picked either up would fail the parquet read and kill the
    # query (ADVICE r3 #4)
    log_stream = (spark.readStream
                  .schema(_LOG_STREAM_SCHEMA)
                  .option("pathGlobFilter", "[0-9]*-*.parquet")
                  .parquet(os.path.join(table_dir, "_log")))

    _legacy: dict = {}

    def _legacy_seqs(sess) -> set:
        # upgrade shim (ADVICE r4): outputs written by the
        # pre-seq-partitioned release sit as flat parquet files
        # directly in output_dir, so the seq= directory probe alone
        # would re-emit every historical commit on restart. Read the
        # old files' seqs ONCE per stream (cached) and treat them as
        # done; fresh sinks pay a single directory listing.
        if "seqs" not in _legacy:
            from pyarrow.fs import FileSelector, FileType

            from ..operators.fsutil import resolve_fs

            fs, rel = resolve_fs(output_dir)
            try:
                infos = fs.get_file_info(
                    FileSelector(rel, recursive=False))
            except FileNotFoundError:
                infos = []
            flat = [i.base_name for i in infos
                    if i.type == FileType.File
                    and i.base_name.endswith(".parquet")]
            if flat:
                old = sess.read.parquet(
                    *[f"{output_dir}/{b}" for b in flat])
                _legacy["seqs"] = {int(r["seq"]) for r in
                                   old.select("seq").distinct()
                                   .collect()}
            else:
                _legacy["seqs"] = set()
        return _legacy["seqs"]

    def _seq_done(seq: int) -> bool:
        # the sink is partitioned by seq, so "already emitted" is one
        # directory stat — per-batch work scales with the batch's NEW
        # commits, not the sink's total history (the r3 form re-read
        # every output row's seq each micro-batch: O(history) forever)
        from pyarrow.fs import FileType

        from ..operators.fsutil import resolve_fs

        fs, rel = resolve_fs(f"{output_dir}/seq={seq}")
        return fs.get_file_info(rel).type == FileType.Directory

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        rows = sorted((r.asDict() for r in batch_df.collect()),
                      key=lambda r: (r["seq"], r["snapshot_id"]))
        seen_seq: set[int] = set()
        for r in rows:
            # mirror _read_log's duplicate-seq winner rule (sorted
            # order keeps the smallest snapshot id; with _claim_seq a
            # local-fs loser never appends, this guards non-local
            # logs); also skip seqs a replayed micro-batch already
            # emitted
            if r["seq"] in seen_seq or r["seq"] in _legacy_seqs(sess) \
                    or _seq_done(r["seq"]):
                continue
            seen_seq.add(r["seq"])
            if not r["parent_id"]:
                continue            # initial commit: no delta to emit
            if r["parent_id"] == r["snapshot_id"]:
                continue            # recommit of identical content
            try:
                diff = snapshot_diff(sess, table_dir, r["parent_id"],
                                     r["snapshot_id"], specs=specs)
            except FileNotFoundError:
                # parent expired before the consumer caught up — the
                # delta is unrecoverable; emit nothing for this seq
                # (callers bootstrapping that far behind should
                # load_snapshot the head instead)
                continue
            (diff.withColumn("seq", F.lit(r["seq"]).cast("long"))
                 .withColumn("snapshot_id", F.lit(r["snapshot_id"]))
                 .write.mode("append").partitionBy("seq")
                 .parquet(output_dir))

    return (log_stream.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=trigger_available_now)
            .start())
