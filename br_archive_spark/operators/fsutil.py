"""Shared path utilities for the bulk (in-process) I/O operators.

Three concerns every bulk operator shares:

* **Content addressing.** Shard files and chunk ids are named from
  their input path so a retried/resumed task deterministically
  overwrites its own output. The address must be collision-resistant
  at the design scale (100k+ input files): a 32-bit hash reaches ~50%
  birthday-collision probability at ~77k names, and a collision means
  one task's atomic rename silently replaces a *different* file's
  shard. ``path_tag`` therefore uses the first 64 bits of
  SHA-256 — collision probability ~2.7e-10 at 1M names, and unlike a
  seeded fast hash it is stable across Python versions/processes.

* **URI normalization.** Spark's ``inputFiles()`` returns Hadoop-style
  ``file:`` URIs in either the ``file:///abs`` or ``file:/abs`` form
  depending on the code path; pyarrow/os want plain paths.
  ``local_path`` handles both forms (a single 7-char strip would
  mangle ``file:/abs`` into garbage).

* **Driver-built tables from Arrow.** The bucket tables the bulk
  operators schedule (and their empty-input returns) are built from a
  ``pyarrow.Table``, which Spark reads in the JVM as a
  ``LocalTableScan``. ``createDataFrame`` on a Python list is a
  ``parallelize`` plus a Python ``map`` instead (``Scan
  ExistingRDD``): one extra Python task per partition, run by a second
  pool of Python workers.
"""

from __future__ import annotations

import hashlib

__all__ = ["path_tag", "local_path"]


def _bucket_frame(spark, table):
    """One row per bucket, one bucket per task.

    ``table`` holds one row per work bucket; the round-robin
    ``repartition`` with an EXPLICIT count gives each bucket its own
    task. Hash-partitioning bucket ids would stack buckets by birthday
    collision (2-4 on some tasks, ~1/e of them empty — measured as a
    ~2x straggler tail at 16 cores, invisible at 4 where 12 waves
    average it out), and AQE would coalesce the few-KB shuffle to one
    task: partition byte-size says nothing about the work a pointer
    row causes.
    """
    return spark.createDataFrame(table).repartition(table.num_rows)


def _empty_frame(spark, ddl: str):
    """Empty DataFrame of the ``ddl`` schema, built from Arrow."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    return spark.createDataFrame(to_arrow_schema(schema).empty_table(),
                                 schema)


def path_tag(name: str) -> str:
    """64-bit hex content address for a path or name-list string."""
    return hashlib.sha256(name.encode()).hexdigest()[:16]


def local_path(p: str) -> str:
    """Strip a ``file:``-scheme prefix, tolerating both URI forms."""
    if p.startswith("file://"):
        return p[7:]
    if p.startswith("file:"):
        return p[5:]
    return p


def resolve_fs(path: str, filesystem=None):
    """Resolve ``(FileSystem, fs-relative path)`` for a path or URI.

    * explicit ``filesystem`` (e.g. a ``SubTreeFileSystem`` standing in
      for a remote store): the path is taken as already fs-relative;
    * ``scheme://...`` URIs (s3://, hdfs://, gs://...): delegated to
      ``pyarrow.fs.FileSystem.from_uri`` — the bulk operators work
      against object stores without local-FS assumptions;
    * ``file:`` URIs and plain paths: the local filesystem.
    """
    from pyarrow import fs as pafs

    if filesystem is not None:
        return filesystem, local_path(path)
    if "://" in path and not path.startswith("file://"):
        return pafs.FileSystem.from_uri(path)
    if path.startswith("file:"):
        return pafs.LocalFileSystem(), local_path(path)
    return pafs.LocalFileSystem(), path


def join_path(base: str, name: str) -> str:
    """URI-safe path join (object-store paths are always '/')."""
    return f"{base.rstrip('/')}/{name}"


def file_size(path: str, filesystem=None) -> int:
    fs, p = resolve_fs(path, filesystem)
    return fs.get_file_info(p).size


def open_parquet(path: str, filesystem=None):
    import pyarrow.parquet as pq

    fs, p = resolve_fs(path, filesystem)
    return pq.ParquetFile(fs.open_input_file(p))


def read_parquet(path: str, filesystem=None, **kw):
    import pyarrow.parquet as pq

    fs, p = resolve_fs(path, filesystem)
    return pq.read_table(p, filesystem=fs, **kw)


def ensure_dir(path: str, filesystem=None) -> None:
    fs, p = resolve_fs(path, filesystem)
    fs.create_dir(p, recursive=True)


def write_parquet_atomic(table, path: str, filesystem=None,
                         compression: str = "zstd") -> None:
    """Idempotent-under-retry parquet write.

    Rename-capable filesystems (local, SubTree-over-local, HDFS):
    tmp file + move — a task that dies mid-write leaves only a tmp
    name no reader or resume scan matches (r2 streamed straight to the
    final name on every non-local fs, so a crash left a visible
    truncated shard that a resumed run treated as complete — ADVICE
    r2 #2). True object stores (S3/GCS): direct stream — a PUT is
    atomic on close (an aborted multipart upload leaves nothing
    visible) and rename would cost a copy.
    """
    import os

    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    fs, p = resolve_fs(path, filesystem)
    if isinstance(fs, pafs.LocalFileSystem):
        tmp = f"{p}.tmp-{os.getpid()}"
        pq.write_table(table, tmp, compression=compression)
        os.replace(tmp, p)
        return
    base = fs
    while isinstance(base, pafs.SubTreeFileSystem):
        base = base.base_fs
    object_stores = tuple(
        t for t in (getattr(pafs, "S3FileSystem", None),
                    getattr(pafs, "GcsFileSystem", None)) if t)
    if isinstance(base, object_stores):
        with fs.open_output_stream(p) as sink:
            pq.write_table(table, sink, compression=compression)
        return
    tmp = f"{p}.tmp-{os.getpid()}"
    with fs.open_output_stream(tmp) as sink:
        pq.write_table(table, sink, compression=compression)
    fs.move(tmp, p)
