"""Iceberg-style snapshot log + time travel over encoded manifests.

The reference's container is one sequential archive file whose header
carries the entry count and whose footer locates the header
(``src/lib_bra_types.h:28-46``, ``src/io/lib_bra_io_file_ctx.c:289-421``)
— a single immutable "snapshot". This module generalizes that to the
table-format contract the north star names (Iceberg-stored inputs):
a *versioned* encoded table where every commit is immutable, reads are
reproducible as of any retained snapshot, and writes never rewrite
history.

Layout under ``table_dir``::

    data/seq=N/        chunk rows (manifest schema) — APPEND-ONLY:
                       each commit writes ONLY the chunks not already
                       present in its parent snapshot
    _index/<id>/       per-snapshot chunk list (chunk_id, checksum,
                       seq) — metadata-only, payload-free
    _log/NNNNNNNN-<id>.parquet
                       one small file per commit: seq, snapshot id,
                       parent, op, stats

Scale design (the reason for this shape):

* **Commit cost is proportional to the DELTA, not the table.** The
  new-chunk set comes from a left-anti join of the manifest against
  the parent's index on ``(chunk_id, checksum)`` — chunk-granular COW
  operators (``upsert_rows``/``delete_rows``/``add_column``) pass
  untouched chunks through byte-identical, so at 100 TB a small MERGE
  commits only its rewritten chunks.
* **Time travel reads are partition-pruned.** A snapshot's index
  records the ``seq`` directory holding each chunk; ``load_snapshot``
  reads only those ``data/seq=N`` directories and semi-joins the
  (broadcast, metadata-small) index — unrelated commits are never
  scanned.
* **Snapshots are content-addressed.** The snapshot id derives from
  the manifest's GF(2)-combined table checksum (:func:`table_checksum`
  — the reference's CRC-combine generalized to table scope), so
  re-committing identical content is a metadata-only no-op and
  ``rollback`` is a log append, never a data move.
* **Space reclamation composes with compaction.**
  ``commit_snapshot(..., rewrite=True)`` consolidates the live table
  into one fresh ``seq`` directory; :func:`expire_snapshots` then
  drops ``seq`` directories no retained snapshot references.

Single-writer (one driver) is assumed for commits, as with Iceberg's
optimistic single-committer default; readers need no coordination.
Paths must be Spark-visible (local or any Hadoop-supported FS).
"""

from __future__ import annotations

import re
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsutil import _empty_frame, path_tag, resolve_fs, write_parquet_atomic

__all__ = ["commit_snapshot", "snapshots", "load_snapshot",
           "rollback", "expire_snapshots", "incremental_manifest",
           "snapshot_diff", "CommitConflict", "snapshot_fsck",
           "recluster_snapshot", "tag_snapshot", "list_tags",
           "delete_tag", "resolve_ref"]

_LOG_RE = re.compile(r"(\d{8})-([0-9a-f]{16})\.parquet$")

_LOG_SCHEMA = pa.schema([
    ("seq", pa.int64()),
    ("snapshot_id", pa.string()),
    ("parent_id", pa.string()),
    ("op", pa.string()),
    ("n_chunks", pa.int64()),
    ("enc_bytes", pa.int64()),
    ("committed_at", pa.float64()),
])


def _read_log(spark: SparkSession, table_dir: str,
              all_rows: bool = False) -> list[dict]:
    """Log rows, seq-ascending; empty list for a fresh table.
    ``all_rows=True`` skips the duplicate-seq winner resolution (the
    committer's conflict check needs to SEE the rival)."""
    fs, rel = resolve_fs(f"{table_dir}/_log")
    from pyarrow.fs import FileSelector, FileType

    if fs.get_file_info(rel).type != FileType.Directory:
        return []
    import pyarrow.parquet as pq

    rows = []
    for info in fs.get_file_info(FileSelector(rel)):
        if _LOG_RE.search(info.path):
            t = pq.read_table(info.path, filesystem=fs)
            rows.extend(t.to_pylist())
    rows.sort(key=lambda r: (r["seq"], r["snapshot_id"]))
    if all_rows:
        return rows
    # a racing double-commit can leave two rows at one seq until the
    # loser withdraws; every reader resolves it the same way the
    # committer does — smallest snapshot id wins, the rest are
    # invisible (commit_snapshot raises CommitConflict at the loser)
    out, seen = [], set()
    for r in rows:
        if r["seq"] not in seen:
            seen.add(r["seq"])
            out.append(r)
    return out


# grace before a claim file with no matching log row may be broken —
# long enough that no live committer sits between claim and append
# (the append is a single small parquet write), short enough that a
# crashed committer doesn't block the table for long
_CLAIM_STALE_S = 30.0


def _claim_seq(table_dir: str, seq: int, sid: str) -> None:
    """Atomically claim ``seq`` before the log append.

    The post-append winner rule alone is one-sided: if the
    lexicographically-smaller snapshot id appends SECOND, the first
    appender has already returned success, yet readers resolve the seq
    to the later (smaller) id — a silently lost commit (ADVICE r3 #3).
    On rename-capable local filesystems an ``O_CREAT|O_EXCL`` claim
    file ``_log/NNNNNNNN.claim`` closes that window: exactly one
    committer per seq ever reaches ``_append_log``, the loser raises
    :class:`CommitConflict` *before* writing a log row. Claims persist
    (seqs never recur — rollback appends a new seq), so the guard
    holds for the table's lifetime.

    Orphan recovery: a committer that crashes between claim and append
    leaves the seq blocked; a claim older than ``_CLAIM_STALE_S`` with
    no log row at its seq is broken and retried once.

    Non-local filesystems (no exclusive-create primitive in pyarrow
    fs) return without claiming — there the documented posture is
    single-committer, with the post-append smallest-id rule as the
    damage limiter.
    """
    import os

    from pyarrow import fs as pafs

    from .fsutil import ensure_dir

    fs, rel = resolve_fs(f"{table_dir}/_log")
    base = fs
    while isinstance(base, pafs.SubTreeFileSystem):
        base = base.base_fs
    if not isinstance(base, pafs.LocalFileSystem) or fs is not base:
        return
    ensure_dir(f"{table_dir}/_log")
    path = f"{rel.rstrip('/')}/{seq:08d}.claim"
    for attempt in (0, 1):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(fd, sid.encode())
            finally:
                os.close(fd)
            return
        except FileExistsError:
            try:
                age = time.time() - os.stat(path).st_mtime
            except FileNotFoundError:
                continue  # holder vanished between open and stat
            row_exists = bool(_claimed_rows(rel, seq))
            if attempt == 0 and age > _CLAIM_STALE_S and not row_exists:
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass
                continue
            raise CommitConflict(
                f"concurrent commit in flight at seq {seq} of "
                f"{table_dir} — reload the head and retry")


def _claimed_rows(log_dir: str, seq: int) -> list[str]:
    """Log-row files already appended at ``seq`` (local fs)."""
    import glob as _glob

    return _glob.glob(f"{log_dir.rstrip('/')}/{seq:08d}-*.parquet")


def _append_log(table_dir: str, row: dict) -> None:
    from .fsutil import ensure_dir

    t = pa.Table.from_pylist([row], schema=_LOG_SCHEMA)
    name = f"{row['seq']:08d}-{row['snapshot_id']}.parquet"
    ensure_dir(f"{table_dir}/_log")
    write_parquet_atomic(t, f"{table_dir}/_log/{name}")


def _index_path(table_dir: str, sid: str) -> str:
    return f"{table_dir}/_index/{sid}"


def _index_exists(table_dir: str, sid: str) -> bool:
    from pyarrow.fs import FileType

    fs, rel = resolve_fs(_index_path(table_dir, sid))
    return fs.get_file_info(rel).type == FileType.Directory


class CommitConflict(RuntimeError):
    """Another writer advanced the table between load and commit.
    Reload the head snapshot, re-derive the manifest, and retry."""


def commit_snapshot(manifest: DataFrame, table_dir: str,
                    op: str = "commit", rewrite: bool = False,
                    expected_head: str | None = "-unchecked-") -> dict:
    """Commit ``manifest`` as the table's new head snapshot.

    Writes only the chunks absent from the current head (left-anti on
    ``(chunk_id, checksum)``) into ``data/seq=N/``, a payload-free
    chunk index under ``_index/<id>/``, and one log row. Committing
    content identical to an existing snapshot reuses its data and
    index outright (content addressing). Returns the log row.

    ``rewrite=True`` is in-table compaction: ALL chunks are rewritten
    into the fresh ``seq`` directory and the content id's index is
    repointed there (same content, one consolidated location), so a
    following :func:`expire_snapshots` reclaims every prior ``seq``
    directory the history no longer references.

    Concurrency: single-committer is the supported mode (Iceberg's
    default posture), but two optimistic guards turn a racing writer
    into a raised :class:`CommitConflict` instead of silent history
    divergence: pass ``expected_head`` (the snapshot id this commit
    was derived from; ``None`` for "expect an empty table") for a
    CAS-style precondition; on local (rename-capable) filesystems a
    pre-append ``O_CREAT|O_EXCL`` per-seq claim file serializes the
    append window so exactly one committer per seq ever writes a log
    row (:func:`_claim_seq` — the loser raises before any append); and
    as a non-local-fs fallback the committer re-reads the log after
    appending — if another writer landed the same ``seq``, the
    lexicographically-smallest snapshot id wins deterministically on
    every reader and the loser removes its log row and raises. A
    racing DATA write to the same ``seq`` dir already fails hard on
    ``errorifexists``.
    """
    spark = manifest.sparkSession
    from .verify import table_checksum

    # the commit runs ~5 Spark actions over `manifest` (stats agg,
    # table checksum, delta probe, data write, index write) — persist
    # so a freshly built encode lineage executes ONCE, not per action
    manifest = manifest.persist()
    try:
        log = _read_log(spark, table_dir)
        head = log[-1] if log else None
        if expected_head != "-unchecked-":
            got = head["snapshot_id"] if head else None
            if got != expected_head:
                raise CommitConflict(
                    f"table {table_dir} head is {got!r}, expected "
                    f"{expected_head!r} — reload the head and retry")
        seq = (head["seq"] + 1) if head else 1
        st = manifest.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("enc_bytes"),
                       F.lit(0)).alias("b")).collect()[0]
        crc = table_checksum(manifest)
        sid = path_tag(f"{crc:08x}:{st['n']}:{st['b']}")
        # claim the seq before any write: on local filesystems exactly
        # one committer per seq proceeds past this line (see _claim_seq)
        _claim_seq(table_dir, seq, sid)

        key = ["chunk_id", "checksum"]
        if rewrite:
            manifest.write.mode("errorifexists").parquet(
                f"{table_dir}/data/seq={seq}")
            idx = manifest.select(
                *key, F.lit(seq).cast("long").alias("seq"))
            idx.write.mode("overwrite").parquet(
                _index_path(table_dir, sid))
        elif not _index_exists(table_dir, sid):
            if head:
                pidx = spark.read.parquet(
                    _index_path(table_dir, head["snapshot_id"]))
                new_rows = manifest.join(F.broadcast(pidx), key,
                                         "left_anti")
                idx = (manifest.select(*key)
                       .join(F.broadcast(
                           pidx.withColumnRenamed("seq", "pseq")),
                           key, "left")
                       .select(*key, F.coalesce("pseq", F.lit(seq))
                               .cast("long").alias("seq")))
            else:
                new_rows = manifest
                idx = manifest.select(
                    *key, F.lit(seq).cast("long").alias("seq"))
            if new_rows.limit(1).count():
                new_rows.write.mode("errorifexists").parquet(
                    f"{table_dir}/data/seq={seq}")
            idx.write.mode("errorifexists").parquet(
                _index_path(table_dir, sid))
    finally:
        manifest.unpersist()
    row = {"seq": seq, "snapshot_id": sid,
           "parent_id": head["snapshot_id"] if head else None,
           "op": op, "n_chunks": int(st["n"]),
           "enc_bytes": int(st["b"]), "committed_at": time.time()}
    _append_log(table_dir, row)
    # post-append winner check: if a racing writer landed the same
    # seq, the smallest snapshot id wins (deterministic on every
    # reader); the loser withdraws its log row and raises
    rivals = [r for r in _read_log(spark, table_dir, all_rows=True)
              if r["seq"] == seq]
    if len(rivals) > 1:
        winner = min(r["snapshot_id"] for r in rivals)
        if winner != sid:
            fs, rel = resolve_fs(
                f"{table_dir}/_log/{seq:08d}-{sid}.parquet")
            fs.delete_file(rel)
            raise CommitConflict(
                f"concurrent commit at seq {seq}: {winner} won; "
                "reload the head and retry")
    return row


# ------------------------------------------------------------- refs

# snapshot ids are 16 lowercase hex chars; tag names must never be
# mistakable for one (or for a log seq)
_SID_RE = re.compile(r"^[0-9a-f]{16}$")
_REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")


def _refs_dir(table_dir: str) -> str:
    return f"{table_dir}/_refs"


def tag_snapshot(spark: SparkSession, table_dir: str, name: str,
                 snapshot_id: str | None = None,
                 replace: bool = False) -> dict:
    """Named ref on a snapshot — the Iceberg TAG analog.

    A tag is one tiny ``_refs/<name>.json`` file mapping the name to a
    snapshot id (default: head). Tags are first-class refs: every
    reader that takes a snapshot id (``load_snapshot``, ``rollback``,
    ``snapshot_diff``, CLI ``--at``) accepts a tag name, and —
    the part that matters operationally — :func:`expire_snapshots`
    RETAINS tagged snapshots regardless of ``keep_last``, so a
    ``v1.0-train`` tag pins the exact table a model was trained on
    while routine GC keeps running. Creation is atomic (tmp + rename);
    an existing name raises unless ``replace=True``.
    """
    import json as _json
    import os as _os

    from pyarrow.fs import FileType

    if _SID_RE.match(name) or re.match(r"^\d{8}$", name) \
            or not _REF_NAME_RE.match(name):
        raise ValueError(
            f"tag name {name!r} invalid (1-64 of [A-Za-z0-9._-], not "
            "starting with punctuation, not shaped like a snapshot id "
            "or seq)")
    log = _read_log(spark, table_dir)
    if not log:
        raise FileNotFoundError(f"no snapshot log under {table_dir}")
    sid = snapshot_id or log[-1]["snapshot_id"]
    if not _index_exists(table_dir, sid):
        raise FileNotFoundError(
            f"snapshot {sid} has no index under {table_dir}")
    fs, rel = resolve_fs(f"{_refs_dir(table_dir)}/{name}.json")
    fs.create_dir(rel.rsplit("/", 1)[0], recursive=True)
    if not replace and fs.get_file_info(rel).type != FileType.NotFound:
        raise ValueError(
            f"tag {name!r} already exists (pass replace=True to move)")
    payload = _json.dumps({"name": name, "snapshot_id": sid,
                           "created_at": time.time()}).encode()
    tmp = f"{rel}.tmp-{_os.getpid()}"
    with fs.open_output_stream(tmp) as f:
        f.write(payload)
    fs.move(tmp, rel)
    return {"name": name, "snapshot_id": sid}


def list_tags(table_dir: str) -> dict[str, str]:
    """All tags as ``{name: snapshot_id}`` (empty if none)."""
    import json as _json

    from pyarrow.fs import FileSelector, FileType

    fs, rel = resolve_fs(_refs_dir(table_dir))
    if fs.get_file_info(rel).type != FileType.Directory:
        return {}
    out: dict[str, str] = {}
    for info in fs.get_file_info(FileSelector(rel)):
        if (info.type == FileType.File and info.path.endswith(".json")
                and ".tmp-" not in info.path):
            with fs.open_input_stream(info.path) as f:
                d = _json.loads(f.read())
            out[d["name"]] = d["snapshot_id"]
    return out


def delete_tag(table_dir: str, name: str) -> None:
    from pyarrow.fs import FileType

    fs, rel = resolve_fs(f"{_refs_dir(table_dir)}/{name}.json")
    if fs.get_file_info(rel).type == FileType.NotFound:
        raise FileNotFoundError(f"no tag {name!r} under {table_dir}")
    fs.delete_file(rel)


def resolve_ref(table_dir: str, ref: str) -> str:
    """A 16-hex string IS a snapshot id; anything else resolves
    through the tag registry (unknown → FileNotFoundError)."""
    if _SID_RE.match(ref):
        return ref
    tags = list_tags(table_dir)
    if ref in tags:
        return tags[ref]
    raise FileNotFoundError(
        f"unknown snapshot ref {ref!r} under {table_dir} "
        f"(tags: {sorted(tags) or 'none'})")


def snapshots(spark: SparkSession, table_dir: str) -> DataFrame:
    """The commit log as a DataFrame (the ``unbra -l`` analog for
    table history), seq-ascending."""
    rows = _read_log(spark, table_dir)
    if not rows:
        raise FileNotFoundError(f"no snapshot log under {table_dir}")
    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=_LOG_SCHEMA)).orderBy("seq")


def load_snapshot(spark: SparkSession, table_dir: str,
                  snapshot_id: str | None = None) -> DataFrame:
    """Manifest DataFrame as of ``snapshot_id`` (default: head).

    Reads only the ``data/seq=N`` directories the snapshot's index
    references (directory-level pruning), semi-joined against the
    broadcast index on ``(chunk_id, checksum, seq)`` — including
    ``seq`` so a content-identical chunk rewritten under a later
    commit can never double-match. The result is a full-fidelity
    manifest: every downstream operator (decode, lookups, zone-map
    scans, evolve, compaction) composes with it unchanged.
    """
    log = _read_log(spark, table_dir)
    if not log:
        raise FileNotFoundError(f"no snapshot log under {table_dir}")
    sid = resolve_ref(table_dir, snapshot_id) if snapshot_id \
        else log[-1]["snapshot_id"]
    if not _index_exists(table_dir, sid):
        raise FileNotFoundError(
            f"snapshot {sid} has no index under {table_dir} "
            "(unknown id, or expired by expire_snapshots)")
    idx = spark.read.parquet(_index_path(table_dir, sid))
    return _manifest_for_index(spark, table_dir, idx)


def _manifest_for_index(spark: SparkSession, table_dir: str,
                        idx: DataFrame) -> DataFrame:
    """Manifest rows for an index slice: read only the ``seq``
    directories the slice references, semi-join on
    ``(chunk_id, checksum, seq)`` so a content-identical chunk
    rewritten under a later commit can never double-match."""
    seqs = sorted(r["seq"] for r in idx.select("seq").distinct().collect())
    if not seqs:  # empty slice
        from .encode import MANIFEST_SPARK_SCHEMA

        return _empty_frame(spark, MANIFEST_SPARK_SCHEMA)
    data = (spark.read.option("basePath", f"{table_dir}/data")
            .parquet(*[f"{table_dir}/data/seq={s}" for s in seqs]))
    return (data.join(F.broadcast(idx),
                      ["chunk_id", "checksum", "seq"], "left_semi")
            .drop("seq"))


def _index_for(spark: SparkSession, table_dir: str,
               snapshot_id: str) -> DataFrame:
    if not _index_exists(table_dir, snapshot_id):
        raise FileNotFoundError(
            f"snapshot {snapshot_id} has no index under {table_dir} "
            "(unknown id, or expired by expire_snapshots)")
    return spark.read.parquet(_index_path(table_dir, snapshot_id))


def incremental_manifest(spark: SparkSession, table_dir: str,
                         from_id: str, to_id: str | None = None,
                         ) -> DataFrame:
    """Manifest of the chunks ADDED between two snapshots — the
    Iceberg incremental-read pattern a training pipeline uses to
    process only data that arrived since its last run.

    Pure metadata: the two (payload-free, broadcast-small) indexes
    anti-join on ``(chunk_id, checksum)``; only the ``seq``
    directories holding the delta are ever listed or read. Cost is
    proportional to the DELTA, never the table — at 100 TB a daily
    commit's incremental scan touches the day's chunks only. The
    result is a full-fidelity manifest: decode/scan/lookup compose
    with it unchanged.
    """
    log = _read_log(spark, table_dir)
    if not log:
        raise FileNotFoundError(f"no snapshot log under {table_dir}")
    to_id = resolve_ref(table_dir, to_id) if to_id \
        else log[-1]["snapshot_id"]
    from_id = resolve_ref(table_dir, from_id)
    fidx = _index_for(spark, table_dir, from_id)
    tidx = _index_for(spark, table_dir, to_id)
    delta = tidx.join(F.broadcast(fidx.select("chunk_id", "checksum")),
                      ["chunk_id", "checksum"], "left_anti")
    return _manifest_for_index(spark, table_dir, delta)


def snapshot_diff(spark: SparkSession, table_dir: str,
                  from_id: str, to_id: str | None = None,
                  specs: list[tuple[str, str]] | None = None,
                  ) -> DataFrame:
    """Row-level change feed between two snapshots: one row per row
    ADDED (``op='add'``) or DELETED (``op='del'``); an update appears
    as del+add of the key. Column set = the decoded table plus ``op``.

    Delta-proportional by construction: only the chunks PRESENT IN
    EXACTLY ONE of the two snapshots decode (index symmetric
    difference). Chunk-granular copy-on-write means a rewritten chunk
    carries forward untouched rows — those decode on both sides with
    identical content and cancel in the full-row anti-joins, so the
    output is the exact row-level diff while untouched chunks are
    never read. At 100 TB, a MERGE that rewrote 0.1% of chunks costs
    a diff over 0.2% of the table, not two full scans.
    """
    log = _read_log(spark, table_dir)
    if not log:
        raise FileNotFoundError(f"no snapshot log under {table_dir}")
    to_id = resolve_ref(table_dir, to_id) if to_id \
        else log[-1]["snapshot_id"]
    from_id = resolve_ref(table_dir, from_id)
    fidx = _index_for(spark, table_dir, from_id)
    tidx = _index_for(spark, table_dir, to_id)
    key = ["chunk_id", "checksum"]
    added_chunks = tidx.join(F.broadcast(fidx.select(*key)),
                             key, "left_anti")
    removed_chunks = fidx.join(F.broadcast(tidx.select(*key)),
                               key, "left_anti")
    from .decode import decode_table, manifest_specs

    aman = _manifest_for_index(spark, table_dir, added_chunks)
    rman = _manifest_for_index(spark, table_dir, removed_chunks)
    if specs is None:
        # empty symmetric difference (content-identical snapshots,
        # e.g. across a rollback) must return an empty feed, not
        # crash manifest_specs on an empty manifest — fall back to
        # one chunk of the to-snapshot for the schema
        for cand in (aman, rman,
                     _manifest_for_index(spark, table_dir,
                                         tidx.limit(1))):
            if cand.limit(1).count():
                specs = manifest_specs(cand)
                break
        else:
            return _empty_frame(spark, "op string")
    cols = [s[0] for s in specs]
    arows = decode_table(aman, specs=specs, with_n_tok=False) \
        .select(*cols)
    rrows = decode_table(rman, specs=specs, with_n_tok=False) \
        .select(*cols)
    return (arows.exceptAll(rrows).withColumn("op", F.lit("add"))
            .unionByName(
                rrows.exceptAll(arows).withColumn("op", F.lit("del"))))


def rollback(spark: SparkSession, table_dir: str,
             snapshot_id: str) -> dict:
    """Make ``snapshot_id`` (id or tag) the head again — a pure log
    append (the target's data and index already exist; nothing
    moves)."""
    snapshot_id = resolve_ref(table_dir, snapshot_id)
    log = _read_log(spark, table_dir)
    prior = [r for r in log if r["snapshot_id"] == snapshot_id]
    if not prior:
        raise FileNotFoundError(
            f"snapshot {snapshot_id} not in the log of {table_dir}")
    if not _index_exists(table_dir, snapshot_id):
        raise FileNotFoundError(
            f"snapshot {snapshot_id} was expired; cannot roll back")
    head = log[-1]
    row = dict(prior[-1])
    row.update({"seq": head["seq"] + 1,
                "parent_id": head["snapshot_id"],
                "op": "rollback", "committed_at": time.time()})
    _claim_seq(table_dir, row["seq"], row["snapshot_id"])
    _append_log(table_dir, row)
    return row


def expire_snapshots(spark: SparkSession, table_dir: str,
                     keep_last: int = 2) -> dict:
    """Garbage-collect history: keep the most recent ``keep_last``
    DISTINCT snapshot ids, delete ``_index`` dirs of expired ones and
    every ``data/seq=N`` directory no retained snapshot references.

    A ``seq`` directory shared by retained and expired snapshots is
    kept whole (chunk-level space amplification); to reclaim it fully,
    ``compact_manifest`` + ``commit_snapshot`` first — compaction
    rewrites the live table into one fresh ``seq`` directory, after
    which prior directories become unreferenced. The log itself is
    never rewritten (history stays auditable); loading an expired id
    raises.
    """
    from pyarrow.fs import FileSelector, FileType

    log = _read_log(spark, table_dir)
    if not log:
        raise FileNotFoundError(f"no snapshot log under {table_dir}")
    retained: list[str] = []
    for r in reversed(log):
        if r["snapshot_id"] not in retained:
            retained.append(r["snapshot_id"])
        if len(retained) >= keep_last:
            break
    # tags pin their snapshots against GC regardless of keep_last —
    # the Iceberg tag-retention contract; a tag whose index is already
    # gone (tagged after expiry, or a legacy table) can't pin anything
    tagged = [s for s in list_tags(table_dir).values()
              if s not in retained and _index_exists(table_dir, s)]
    retained += sorted(set(tagged))
    keep_seqs: set[int] = set()
    for sid in retained:
        idx = spark.read.parquet(_index_path(table_dir, sid))
        keep_seqs |= {r["seq"] for r in
                      idx.select("seq").distinct().collect()}
    dropped_idx, dropped_seqs = [], []
    fs, rel = resolve_fs(f"{table_dir}/_index")
    for info in fs.get_file_info(FileSelector(rel)):
        sid = info.path.rsplit("/", 1)[-1]
        if info.type == FileType.Directory and sid not in retained:
            fs.delete_dir(info.path)
            dropped_idx.append(sid)
    dfs, drel = resolve_fs(f"{table_dir}/data")
    if dfs.get_file_info(drel).type == FileType.Directory:
        for info in dfs.get_file_info(FileSelector(drel)):
            m = re.search(r"seq=(\d+)$", info.path)
            if (info.type == FileType.Directory and m
                    and int(m.group(1)) not in keep_seqs):
                dfs.delete_dir(info.path)
                dropped_seqs.append(int(m.group(1)))
    return {"retained": retained, "dropped_indexes": dropped_idx,
            "dropped_seq_dirs": sorted(dropped_seqs),
            "kept_seq_dirs": sorted(keep_seqs)}


def snapshot_fsck(spark: SparkSession, table_dir: str) -> dict:
    """Consistency audit of a snapshot table — the table-scope analog
    of the reference's archive test mode (``unbra -t``): verify the
    metadata graph without decoding payloads.

    Checks, all metadata-only joins (no payload bytes read):

    * **missing** — index entries whose ``(chunk_id, checksum, seq)``
      has no row in ``data/seq=N`` (lost/corrupt commit data: the
      snapshot cannot be fully loaded) — per retained snapshot id.
    * **orphans** — data rows no retained snapshot references
      (reclaimable by ``commit(rewrite=True)`` + expire, or leftovers
      of a withdrawn conflicting commit).
    * **expired_parents** — log rows whose parent id no longer has an
      index (history readable, lineage truncated — informational).

    Returns a dict; ``ok`` is True iff no snapshot is missing chunks.
    """
    log = _read_log(spark, table_dir)
    if not log:
        raise FileNotFoundError(f"no snapshot log under {table_dir}")
    live = [r["snapshot_id"] for r in log
            if _index_exists(table_dir, r["snapshot_id"])]
    live = list(dict.fromkeys(live))
    key3 = ["chunk_id", "checksum", "seq"]

    from pyarrow.fs import FileSelector, FileType

    dfs, drel = resolve_fs(f"{table_dir}/data")
    seq_dirs = []
    if dfs.get_file_info(drel).type == FileType.Directory:
        for info in dfs.get_file_info(FileSelector(drel)):
            m = re.search(r"seq=(\d+)$", info.path)
            if info.type == FileType.Directory and m:
                seq_dirs.append(int(m.group(1)))
    if seq_dirs:
        data = (spark.read.option("basePath", f"{table_dir}/data")
                .parquet(*[f"{table_dir}/data/seq={s}"
                           for s in sorted(seq_dirs)])
                .select(*key3).cache())
    else:
        data = _empty_frame(
            spark, "chunk_id string, checksum long, seq long").cache()

    missing: dict[str, int] = {}
    referenced = None
    for sid in live:
        idx = spark.read.parquet(_index_path(table_dir, sid))
        n_missing = idx.join(data, key3, "left_anti").count()
        if n_missing:
            missing[sid] = n_missing
        referenced = idx.select(*key3) if referenced is None \
            else referenced.unionByName(idx.select(*key3))
    orphans = (data.join(F.broadcast(referenced.distinct()),
                         key3, "left_anti").count()
               if referenced is not None else data.count())
    expired_parents = [
        r["parent_id"] for r in log
        if r["parent_id"] and not _index_exists(table_dir,
                                                r["parent_id"])]
    data.unpersist()
    return {"ok": not missing, "snapshots_checked": len(live),
            "missing": missing, "orphan_chunks": int(orphans),
            "expired_parents": sorted(set(expired_parents)),
            "seq_dirs": sorted(seq_dirs)}


def recluster_snapshot(spark: SparkSession, table_dir: str,
                       key: str | None = None,
                       specs: list[tuple[str, str]] | None = None,
                       num_parts: int | None = None,
                       target_values: int = 1 << 20,
                       zorder: list[str] | None = None,
                       **encode_kwargs) -> dict:
    """Rewrite the head snapshot range-clustered on ``key`` — the
    Iceberg ``rewrite_data_files`` with a sort order: decode the live
    table, ``repartitionByRange(key)`` + in-partition sort through
    ``encode_table(mode="range")``, and commit the result. Content is
    unchanged (the CDC feed vs the prior head is empty at row level);
    the LAYOUT changes: every chunk's zone map becomes a tight,
    near-disjoint key interval, so ``lookup_range`` (and
    ``lookup_docs`` past the key bloom's 64-key cap) decode O(matching
    chunks) where a hash/ingest-ordered layout decodes O(partitions). Follow with :func:`expire_snapshots` to
    reclaim the old layout's directories.

    ``zorder=[col, col(, col)]`` clusters on the Morton interleave of
    2-3 numeric columns instead (``operators/zorder.py`` — the
    OPTIMIZE ZORDER BY analog): multi-band ``scan_where`` then prunes
    chunks on EVERY listed column. Exactly one of ``key``/``zorder``.

    One full decode + one range shuffle + one encode — the standard
    price of a table-maintenance rewrite; run it on the cadence reads
    justify, not per commit.
    """
    from .decode import decode_table, manifest_specs
    from .encode import encode_table

    if (key is None) == (zorder is None):
        raise ValueError(
            "recluster_snapshot: exactly one of key= / zorder=")
    man = load_snapshot(spark, table_dir)
    specs = specs or manifest_specs(man)
    rows = decode_table(man, specs=specs, with_n_tok=False)
    if zorder is not None:
        from .zorder import zorder_cluster

        parts = num_parts or rows.sparkSession.conf.get(
            "spark.sql.shuffle.partitions")
        zed = zorder_cluster(rows, zorder, int(parts))
        enc = encode_table(zed, specs=specs, mode="scan",
                           target_values=target_values,
                           **encode_kwargs)
    else:
        enc = encode_table(rows, specs=specs, key=key, mode="range",
                           num_parts=num_parts,
                           target_values=target_values,
                           **encode_kwargs)
    return commit_snapshot(enc, table_dir, op="recluster")
