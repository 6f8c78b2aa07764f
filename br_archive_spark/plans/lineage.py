"""Checkpoint/lineage: resumable encode jobs with per-file lineage.

The reference has no resume story — an interrupted ``bra`` run leaves a
truncated archive. The engine makes every chunk carry lineage columns
(snapshot id, input file, codec per column, checksum — the analog of the
reference's per-entry metadata + CRC, ``src/lib_bra_types.h:85-94``) and
makes the encode job idempotent at input-file granularity:

1. list input files (the table's immutable data files — in Iceberg
   terms, the snapshot's file set);
2. anti-join against the ``input_file`` column of the existing output
   manifest — files already encoded are *not even scanned* again
   (pruned from the read path, the scalable form of the reference's
   skip-without-decode, ``src/io/lib_bra_io_file_ctx.c:596-602``);
3. encode the remainder and APPEND to the manifest.

Spark's job-level output commit (no partial task output is visible)
makes each resume batch atomic, so crash→rerun converges with no
duplicate and no missing chunks.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.encode import encode_table
from ..operators.fsutil import has_files, list_files

__all__ = ["encode_with_checkpoint", "lineage_report"]


def _existing_files(spark: SparkSession, output_dir: str) -> set[str]:
    """Input files the output manifest already covers. An output with
    no shard files covers none; any other failure to read it raises
    before the resume writes anything."""
    if not has_files(output_dir):
        return set()
    man = spark.read.parquet(output_dir)
    return {r["input_file"] for r in
            man.select("input_file").distinct().collect()}


def encode_with_checkpoint(spark: SparkSession, input_dir: str,
                           output_dir: str, snapshot_id: str = "",
                           **encode_kwargs) -> dict:
    """Encode ``input_dir`` (parquet) into ``output_dir``, resuming past
    any files already present in the output manifest.

    Returns {"total_files", "skipped_files", "encoded_files", "chunks"}.
    """
    all_files = list_files(input_dir)
    done = _existing_files(spark, output_dir)
    mode = encode_kwargs.get("mode", "direct")
    if mode in ("hash", "range") and done:
        # content-addressed modes shuffle rows ACROSS input files, so
        # per-file lineage does not exist and a rerun would append a
        # full duplicate chunk set (every decoded row twice). Refuse
        # loudly instead of corrupting the manifest.
        raise ValueError(
            f"output manifest {output_dir!r} already has chunks; "
            f"mode={mode!r} shuffles rows across input files so "
            "per-file resume is impossible — delete the output or "
            "use mode='direct'/'scan'")
    remaining = [f for f in all_files if f not in done]
    stats = {"total_files": len(all_files),
             "skipped_files": len(all_files) - len(remaining),
             "encoded_files": len(remaining), "chunks": 0}
    if not remaining:
        return stats
    if mode == "direct":
        # bulk path: tasks read their parquet splits directly (see
        # operators.encode.encode_files); lineage comes built-in
        from ..operators.encode import encode_files

        encode_kwargs.pop("mode", None)
        enc = encode_files(spark, remaining, snapshot_id=snapshot_id,
                           **encode_kwargs)
    else:
        df = spark.read.parquet(*remaining)
        # file lineage only exists where chunks follow input splits
        track = mode == "scan"
        enc = encode_table(df, snapshot_id=snapshot_id,
                           track_input_file=track, **encode_kwargs)
    enc.write.mode("append").parquet(output_dir)
    # broadcast-join against a files DataFrame, not .isin(remaining):
    # a 100k-literal IN expression is a plan-size hazard (analysis
    # cost + codegen blowup), while a file list is a tiny broadcast
    rem_df = spark.createDataFrame(
        pa.table({"input_file": pa.array(remaining, pa.string())}))
    stats["chunks"] = (spark.read.parquet(output_dir)
                       .join(F.broadcast(rem_df), "input_file")
                       .count())
    return stats


def lineage_report(spark: SparkSession, output_dir: str) -> DataFrame:
    """Per-input-file lineage: chunks, rows, bytes, codec mix."""
    man = spark.read.parquet(output_dir)
    return (man.groupBy("input_file", "snapshot_id")
            .agg(F.count(F.lit(1)).alias("chunks"),
                 F.sum("n_rows").alias("rows"),
                 F.sum("n_values").alias("values"),
                 F.sum("orig_bytes").alias("orig_bytes"),
                 F.sum("enc_bytes").alias("enc_bytes"))
            .orderBy("input_file"))
