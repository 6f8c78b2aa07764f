"""Shared path utilities for the bulk (in-process) I/O operators.

Four concerns every bulk operator shares:

* **Content addressing.** Shard files and chunk ids are named from
  their input path so a retried/resumed task deterministically
  overwrites its own output. The address must be collision-resistant
  at the design scale (100k+ input files): a 32-bit hash reaches ~50%
  birthday-collision probability at ~77k names, and a collision means
  one task's atomic rename silently replaces a *different* file's
  shard. ``path_tag`` therefore uses the first 64 bits of
  SHA-256 — collision probability ~2.7e-10 at 1M names, and unlike a
  seeded fast hash it is stable across Python versions/processes.

* **Listing.** ``list_files`` (``pyarrow.fs.FileSelector``) names
  the files Spark's ``read.parquet(path).inputFiles`` names, with no
  Spark job: the same ``file:///abs`` URIs (chunk ids hash that
  string), relative-path base, recursion and hidden-name rule.

* **Bucketing and scheduling.** ``byte_buckets`` packs work items into
  contiguous byte-budget buckets; ``run_buckets`` runs one bucket per
  task with no exchange. Empty-input returns are Arrow-built
  (``_empty_frame``, a ``LocalTableScan``).

* **Staging.** ``write_parquet_atomic`` stages as ``.<name>.tmp-<pid>``:
  a dot name every listing skips, so a crashed task's leftover is
  invisible to every reader.
"""

from __future__ import annotations

import hashlib
import os
import unicodedata
from urllib.parse import quote, unquote

__all__ = ["path_tag", "local_path", "list_files", "has_files",
           "byte_buckets", "bucket_target", "run_buckets"]

# characters a java.net.URI path leaves unescaped, as Spark's URIs do
_URI_SAFE = "/-_.!~*'();:@&=+$,"
# non-ASCII it escapes: space separators and ISO controls
_URI_ESCAPED_CATS = ("Zs", "Zl", "Zp", "Cc")


def _hidden(name: str) -> bool:
    """Spark's rule for names its file listing skips."""
    return (name.startswith(".")
            or (name.startswith("_") and "=" not in name)
            or name.endswith("._COPYING_"))


def list_files(path, filesystem=None) -> list[str]:
    """Sorted data files under ``path`` (a list of paths: itself,
    sorted), as Spark lists them for ``read.parquet(path)``: a file
    lists itself, a directory its visible files and, in a
    ``key=value`` layout, those of every visible subdirectory. Local
    paths come back as ``file:///abs`` URIs, ``scheme://`` paths keep
    their scheme, paths under any other explicit ``filesystem`` stay
    relative to it. A path with no data file raises
    ``FileNotFoundError``, where Spark fails to read it."""
    from pyarrow import fs as pafs

    if not isinstance(path, str):
        return sorted(path)
    fs, root = resolve_fs(path, filesystem)
    local = isinstance(fs, pafs.LocalFileSystem)
    if local:
        root = os.path.abspath(root)
    info = fs.get_file_info(root)
    files = [root] if info.type == pafs.FileType.File else []
    dirs = [root] if info.type == pafs.FileType.Directory else []
    while dirs:
        for f in fs.get_file_info(pafs.FileSelector(dirs.pop())):
            if _hidden(f.base_name):
                continue
            if f.type == pafs.FileType.File:
                files.append(f.path)
            elif f.type == pafs.FileType.Directory:
                dirs.append(f.path)
    # outside a key=value layout Spark reads the top level only
    if not any("=" in os.path.dirname(f[len(root):]) for f in files):
        files = [f for f in files if "/" not in f[len(root) + 1:]]
    if not files:
        raise FileNotFoundError(f"no data file at: {path}")
    if local:
        files = ["file://" + _uri_escape(f) for f in files]
    elif filesystem is None:
        # s3://bucket/key lists as bucket/key/..., hdfs://nn:8020/p
        # as /p/...: put back what resolve_fs took off
        prefix = path[:path.rindex(root.rstrip("/"))]
        files = [prefix + f for f in files]
    return sorted(files)


def _spark_abspath(path: str) -> str:
    """``path`` made absolute where Spark resolves it: in the JVM's
    ``user.dir``, which no ``os.chdir`` of the driver moves (a local
    master's workers start there); without a JVM, in the cwd."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if os.path.isabs(path) or sc is None:
        return os.path.abspath(path)
    return os.path.join(sc._jvm.System.getProperty("user.dir"), path)


def _uri_escape(path: str) -> str:
    """``path`` percent-escaped as ``java.net.URI`` escapes a path:
    non-ASCII characters stay, but for space separators and controls."""
    if path.isascii():
        return quote(path, safe=_URI_SAFE)
    return "".join(
        quote(c, safe=_URI_SAFE)
        if c.isascii() or unicodedata.category(c) in _URI_ESCAPED_CATS
        else c for c in path)


def has_files(path: str) -> bool:
    """Whether ``path`` holds a data file (a missing path: no)."""
    try:
        return bool(list_files(path))
    except FileNotFoundError:
        return False


def byte_buckets(items: list, sizes: list[int], target: int) -> list[list]:
    """Pack ``items``, in order, into contiguous buckets: an item goes
    to bucket ``floor(bytes before it / target)``; empty ones drop."""
    target = max(int(target), 1)
    buckets: dict[int, list] = {}
    cum = 0
    for item, nbytes in zip(items, sizes):
        buckets.setdefault(cum // target, []).append(item)
        cum += nbytes
    return list(buckets.values())


def bucket_target(spark, explicit: int | None, total_bytes: int,
                  lo: int, hi: int) -> int:
    """``explicit`` when given, else ~6 waves of tasks across the
    cluster's cores (straggler absorption still beats per-task
    overhead there), kept within ``[lo, hi]``."""
    if explicit is not None:
        return max(int(explicit), 1)
    par = max(spark.sparkContext.defaultParallelism, 1)
    return int(min(hi, max(lo, total_bytes // (par * 6) + 1)))


def run_buckets(spark, buckets: list, fn, schema: str):
    """``fn(bucket)`` (Arrow batches of ``schema``) over every bucket:
    bucket *i* runs in partition *i* of ``spark.range(0, n, 1, n)``,
    the list held in the ``mapInArrow`` closure. No exchange: a
    round-robin ``repartition`` is one more stage (a job under AQE),
    and a ``LocalTableScan`` caps its slices at ``defaultParallelism``.
    A pickled closure over 1 MB ships as a broadcast."""
    def task(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from fn(buckets[i])

    n = len(buckets)
    return spark.range(0, n, 1, max(n, 1)).mapInArrow(task, schema)


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
    """Plain path of a ``file:`` URI (either form, percent-escapes
    decoded); other strings pass through."""
    if p.startswith("file://"):
        return unquote(p[7:])
    if p.startswith("file:"):
        return unquote(p[5:])
    return p


def resolve_fs(path: str, filesystem=None):
    """Resolve ``(FileSystem, fs-relative path)`` for a path or URI.

    * explicit ``filesystem`` (e.g. a ``SubTreeFileSystem`` standing in
      for a remote store): the path is taken as already fs-relative;
    * ``scheme://...`` URIs (s3://, hdfs://, gs://...): delegated to
      ``pyarrow.fs.FileSystem.from_uri`` — the bulk operators work
      against object stores without local-FS assumptions;
    * ``file:`` URIs and plain paths: the local filesystem (a relative
      path resolved where Spark resolves it).
    """
    from pyarrow import fs as pafs

    if filesystem is not None:
        return filesystem, local_path(path)
    if "://" in path and not path.startswith("file://"):
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), _spark_abspath(local_path(path))


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

    Rename-capable filesystems (local, SubTree-over-local, HDFS): the
    file is staged as ``.<name>.tmp-<pid>`` in the target directory
    and moved into place, so a task that dies mid-write leaves only a
    dot name — hidden from Spark's listing, ``list_files`` and every
    resume scan (r2 streamed straight to the final name on every
    non-local fs, so a crash left a visible truncated shard that a
    resumed run treated as complete — ADVICE r2 #2). True object
    stores (S3/GCS): direct stream — a PUT is atomic on close (an
    aborted multipart upload leaves nothing visible) and rename would
    cost a copy.
    """
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    fs, p = resolve_fs(path, filesystem)
    head, sep, name = p.rpartition("/")
    tmp = f"{head}{sep}.{name}.tmp-{os.getpid()}"
    if isinstance(fs, pafs.LocalFileSystem):
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
    with fs.open_output_stream(tmp) as sink:
        pq.write_table(table, sink, compression=compression)
    fs.move(tmp, p)
