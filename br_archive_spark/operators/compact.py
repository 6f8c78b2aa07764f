"""Manifest compaction: merge small manifest shards, no re-encode.

The bulk encode path (``encode.encode_files``) writes one manifest
shard per (input file, row group). With many small input files that
yields many small shards — fine for correctness (chunk ids are
content-addressed), but small files tax every later scan (one open +
footer parse each; object-store request costs at 100 TB). The
compactor rewrites a manifest directory into shards of
``target_bytes``, copying chunk rows verbatim — payloads pass through
untouched, so compaction cannot corrupt data, and chunk ids (and thus
resume/lineage semantics) are preserved exactly.

Same execution shape as the other bulk operators: the shard files
(listed by ``fsutil.list_files``) pack into contiguous byte-budget
buckets (``fsutil.byte_buckets``), one bucket per task with no
exchange (``fsutil.run_buckets``), and each task reads its inputs and
writes its merged output with pyarrow in-process. The output shard is
named from a 64-bit sha256 prefix of its sorted input list —
deterministic for a given input set, so a retried task overwrites its
own output (tmp + atomic rename), and collision-resistant at 100k+
shard counts where a 32-bit tag would birthday-collide.

The analog in the reference is archive rewriting — it has none (an
archive is written once, sequentially); this operator exists because a
distributed encode produces many independent outputs by design.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame

from .fsutil import (_empty_frame, byte_buckets, ensure_dir, file_size,
                     join_path, list_files, path_tag, read_parquet,
                     run_buckets, write_parquet_atomic)

__all__ = ["compact_manifest"]

_STATS_SCHEMA = ("shard string, input_files int, chunks long, "
                 "n_rows long, enc_bytes long")


def compact_manifest(spark, manifest_path, output_dir: str,
                     target_bytes: int = 128 << 20,
                     filesystem=None) -> DataFrame:
    """Merge manifest shards under ``manifest_path`` into
    ``output_dir`` shards of roughly ``target_bytes`` (compressed).

    Returns one stats row per written shard:
    ``(shard, input_files, chunks, n_rows, enc_bytes)``.
    """

    paths = list_files(manifest_path, filesystem)
    ensure_dir(output_dir, filesystem)
    if not paths:
        return _empty_frame(spark, _STATS_SCHEMA)

    def merge_bucket(shard_paths: list[str]) -> Iterator[pa.RecordBatch]:
        tables = [read_parquet(p, filesystem, use_threads=False)
                  for p in shard_paths]
        merged = pa.concat_tables(tables)
        name_src = "\n".join(sorted(shard_paths))
        shard = join_path(output_dir, f"cman-{path_tag(name_src)}.parquet")
        write_parquet_atomic(merged, shard, filesystem)
        enc_bytes = sum(merged.column("enc_bytes").to_pylist())
        yield pa.RecordBatch.from_arrays(
            [pa.array([shard]),
             pa.array([len(shard_paths)], pa.int32()),
             pa.array([merged.num_rows], pa.int64()),
             pa.array([sum(merged.column("n_rows").to_pylist())],
                      pa.int64()),
             pa.array([enc_bytes], pa.int64())],
            names=["shard", "input_files", "chunks", "n_rows",
                   "enc_bytes"])

    sizes = [file_size(p, filesystem) for p in paths]
    return run_buckets(spark, byte_buckets(paths, sizes, target_bytes),
                       merge_bucket, _STATS_SCHEMA)
