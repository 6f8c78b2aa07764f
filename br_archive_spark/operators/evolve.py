"""Schema evolution and row deletes on encoded manifests — chunk by
chunk, never re-encoding a chunk no row of which changes.

Each chunk stores its columns as independently-coded entries, so a
column can be dropped by rewriting only manifest metadata plus the
chunk checksum (never touching the surviving payloads' bits), renamed
without touching payloads at all, and added by encoding only the new
entry. This is the lakehouse DROP/RENAME/ADD COLUMN analog the
reference cannot express (its archive entries are whole files —
``src/io/lib_bra_io_file_meta_entries.c`` — so removing a member means
rewriting the archive); chunk-granular entries make it an O(metadata)
rewrite here.

Row deletes (``delete_rows``, ``delete_where``, and the delete half of
``upsert_rows``) run on one copy-on-write engine, :func:`_cow_delete`:
the zone maps pass provably-untouched chunks through with no decode,
one entry decode classifies the rest, and a chunk that loses some rows
is rebuilt by :func:`_rewrite_masked` through ``encode._build_chunk`` —
the same chunk writer a fresh encode uses, so a rewritten chunk equals
a fresh default-option encode of its surviving rows. The join-form delete
(:func:`_delete_rows_join`) finds its hits with a key join instead and
reuses the same rewrite.

Every rewrite that writes a new chunk checksum (``drop_columns``,
``add_column``, :func:`_rewrite_masked`) first checks the stored one
(``integrity.crc.verify_chunk``), so a corrupted chunk raises
``ChecksumError`` instead of leaving with a fresh, valid checksum. New
checksums are always CRC-32, tagged beside the checksum.

Scale shape: ``drop_columns`` and the zone-map-driven deletes are
``mapInArrow`` passes over the manifest — chunk-parallel, no shuffle;
``add_column`` and the join-form delete add one key join.
``rename_column`` is pure JVM expression work (names live outside the
checksum domain, which covers params+payload bytes only).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..integrity.crc import CHECKSUM_ALGO, chunk_checksum, verify_chunk

__all__ = ["drop_columns", "rename_column", "add_column",
           "delete_rows", "delete_where", "upsert_rows"]


def _list_parts(arr: pa.Array):
    """``(offsets, flat)`` of a (large_)list array, offset-normalized:
    ``flat[offsets[i]:offsets[i+1]]`` is row ``i``'s elements."""
    import numpy as np

    offs = np.asarray(arr.offsets, dtype=np.int64)
    offs = offs - offs[0]
    return offs, arr.flatten()


def _binary_views(arr: pa.Array) -> list:
    """Zero-copy per-element memoryviews of a (large_)binary array —
    the Arrow-native evolve paths hash and re-pack payload bytes
    without ever materializing them as Python ``bytes`` (the r3
    ``to_pylist`` form copied every payload into the Python heap per
    chunk; VERDICT r3 next-steps #7)."""
    import numpy as np

    if len(arr) == 0:
        return []
    bufs = arr.buffers()
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    off = np.frombuffer(bufs[1], dtype=width)[
        arr.offset: arr.offset + len(arr) + 1]
    data = memoryview(bufs[2]) if bufs[2] is not None \
        else memoryview(b"")
    return [data[off[i]:off[i + 1]] for i in range(len(arr))]


def _filtered_list(arr_type, keep_counts, flat_kept, null_mask=None):
    """Rebuild a list array from per-row kept counts + filtered flat
    values, cast back to the input's exact list type (field names
    must match for RecordBatch schema equality). ``null_mask`` (bool
    per row, True = null) re-applies the source array's validity —
    without it a NULL list row would silently come back as an empty
    list (ADVICE r4: ``column_stats`` round-trip)."""
    import numpy as np

    new_offs = np.concatenate(
        [[0], np.cumsum(keep_counts)]).astype(np.int64)
    lst = pa.LargeListArray.from_arrays(
        pa.array(new_offs, pa.int64()), flat_kept,
        mask=pa.array(np.asarray(null_mask, dtype=bool))
        if null_mask is not None else None)
    return lst.cast(arr_type)


def _chunk_parts(flat, offs) -> list:
    """Per row, the zero-copy params and payload views of entries
    ``flat[offs[i]:offs[i+1]]`` in stored order — the bytes a chunk
    checksum covers."""
    pviews = _binary_views(flat.field("params"))
    bviews = _binary_views(flat.field("payload"))
    return [[v for j in range(int(offs[i]), int(offs[i + 1]))
             for v in (pviews[j], bviews[j])]
            for i in range(len(offs) - 1)]


def _verify_rows(batch: pa.RecordBatch, parts: list) -> None:
    """Check every row's stored checksum over its ``parts`` before a
    rewrite replaces it, so a corrupted chunk raises instead of leaving
    with a fresh, valid checksum."""
    names = batch.schema.names
    cids, stored, algos = (batch.column(names.index(f)).to_pylist()
                           for f in ("chunk_id", "checksum",
                                     "checksum_algo"))
    for i, p in enumerate(parts):
        verify_chunk(cids[i], stored[i], algos[i], p)


def _checksums(parts: list) -> pa.Array:
    """Per row, the new chunk checksum over its ``parts``."""
    return pa.array([chunk_checksum(*p, algo=CHECKSUM_ALGO)
                     for p in parts], pa.int64())


def drop_columns(encoded: DataFrame, cols: list[str]) -> DataFrame:
    """Remove ``cols`` from every chunk of an encoded manifest.

    Surviving entries keep their exact bytes (order preserved — the
    checksum recompute at decode walks entries in stored order); the
    chunk checksum is recomputed over the survivors so decode-time
    verification keeps working, and ``orig_bytes``/``enc_bytes``/
    ``column_stats`` shrink accordingly. If the zone-map key column is
    dropped, ``key_col/key_min/key_max`` are nulled — lookups then
    scan without pruning rather than pruning on a column that no
    longer exists (the silent-miss rule). Dropping every column, or a
    column absent from the manifest, raises.

    Arrow-native (r4): the entry lists are filtered with vectorized
    kernels and surviving payload bytes flow buffer-to-buffer into the
    output batch; the only per-row Python is the checksum folds over
    zero-copy memoryviews — the stored checksum checked, then the new
    one computed. Payloads never become Python objects.
    """
    import numpy as np

    import pyarrow.compute as pc

    drop = set(cols)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_arr = pa.array(sorted(drop), pa.string())
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            names = batch.schema.names
            cols_arr = batch.column(names.index("columns"))
            offs, flat = _list_parts(cols_arr)
            _verify_rows(batch, _chunk_parts(flat, offs))
            keep = pc.and_(
                pc.is_valid(flat.field("name")),
                pc.invert(pc.is_in(flat.field("name"),
                                   value_set=drop_arr)))
            keep_np = np.asarray(keep)
            cum = np.concatenate([[0], np.cumsum(~keep_np)])
            dropped_per_row = cum[offs[1:]] - cum[offs[:-1]]
            if (dropped_per_row != len(drop)).any():
                i = int(np.argmax(dropped_per_row != len(drop)))
                have = {v.as_py() for v in
                        flat.field("name")[offs[i]:offs[i + 1]]}
                cid = batch.column(names.index("chunk_id"))[i].as_py()
                raise ValueError(
                    f"drop_columns: {sorted(drop - have)} not present "
                    f"in chunk {cid}")
            kept_per_row = (offs[1:] - offs[:-1]) - dropped_per_row
            if (kept_per_row == 0).any():
                i = int(np.argmax(kept_per_row == 0))
                cid = batch.column(names.index("chunk_id"))[i].as_py()
                raise ValueError(
                    "drop_columns: refusing to drop every column "
                    f"of chunk {cid}")
            new_flat = flat.filter(keep)
            new_cols = _filtered_list(cols_arr.type, kept_per_row,
                                      new_flat)
            new_offs = np.concatenate(
                [[0], np.cumsum(kept_per_row)]).astype(np.int64)

            def row_sums(field):
                v = np.asarray(new_flat.field(field), dtype=np.int64)
                cs = np.concatenate([[0], np.cumsum(v)])
                return cs[new_offs[1:]] - cs[new_offs[:-1]]

            repl = {
                "columns": new_cols,
                "orig_bytes": pa.array(row_sums("orig_bytes")),
                "enc_bytes": pa.array(row_sums("enc_bytes")),
                "checksum": _checksums(_chunk_parts(new_flat, new_offs)),
                "checksum_algo": pa.array([CHECKSUM_ALGO] * n),
            }
            if "column_stats" in names:
                st_arr = batch.column(names.index("column_stats"))
                soffs, sflat = _list_parts(st_arr)
                skeep = pc.and_(
                    pc.is_valid(sflat.field("name")),
                    pc.invert(pc.is_in(sflat.field("name"),
                                       value_set=drop_arr)))
                sk = np.asarray(skeep)
                scum = np.concatenate([[0], np.cumsum(sk)])
                s_kept = scum[soffs[1:]] - scum[soffs[:-1]]
                repl["column_stats"] = _filtered_list(
                    st_arr.type, s_kept, sflat.filter(skeep),
                    null_mask=np.asarray(pc.is_null(st_arr)))
            if "key_col" in names:
                kc = batch.column(names.index("key_col"))
                gone = np.asarray(pc.fill_null(
                    pc.is_in(kc, value_set=drop_arr), False))
                # take with null indices nulls the row — works for
                # every type incl. list<int64> (if_else has no list
                # kernel in this pyarrow)
                idx = pa.array(
                    [None if g else i for i, g in enumerate(gone)],
                    pa.int64())
                for f in ("key_col", "key_min", "key_max", "key_bloom"):
                    if f not in names:
                        continue
                    repl[f] = batch.column(names.index(f)).take(idx)
            arrays = [repl.get(f, batch.column(i))
                      for i, f in enumerate(names)]
            yield pa.RecordBatch.from_arrays(arrays,
                                             schema=batch.schema)

    # emit the INPUT's own schema: manifests may carry extra columns
    # (e.g. the `input_file` lineage column) that must survive a drop
    return encoded.mapInArrow(fn, encoded.schema)


def _entry_dicts_for(batch: pa.RecordBatch, want: str):
    """Per chunk row, the ``want`` entry as a decode-ready dict with
    ZERO-COPY params/payload memoryviews — other entries' payload
    bytes are never touched (the r3 ``to_pylist`` form materialized
    EVERY entry's payload to find one)."""
    import numpy as np

    import pyarrow.compute as pc

    names = batch.schema.names
    offs, flat = _list_parts(batch.column(names.index("columns")))
    is_key = np.asarray(pc.fill_null(
        pc.equal(flat.field("name"), want), False))
    hits = np.nonzero(is_key)[0]
    per_row = (np.concatenate([[0], np.cumsum(is_key)])[offs[1:]]
               - np.concatenate([[0], np.cumsum(is_key)])[offs[:-1]])
    if (per_row != 1).any():
        i = int(np.argmax(per_row != 1))
        cid = batch.column(names.index("chunk_id"))[i].as_py()
        raise ValueError(
            f"chunk {cid}: expected exactly one entry named {want!r}, "
            f"found {int(per_row[i])}")
    kinds = flat.field("kind")
    codecs = flat.field("codec")
    pviews = _binary_views(flat.field("params"))
    bviews = _binary_views(flat.field("payload"))
    for i, j in enumerate(hits):
        j = int(j)
        yield i, {"name": want, "kind": kinds[j].as_py(),
                  "codec": codecs[j].as_py(),
                  "params": pviews[j], "payload": bviews[j]}


def _chunk_keys(encoded: DataFrame, key: str, key_kind: str) -> DataFrame:
    """Decode ONLY the key entry of every chunk → ``(chunk_id, pos,
    k)`` rows in stored row order. One mapInArrow, no shuffle; the key
    column is typically the cheapest entry in the chunk (dict/FSST
    coded ids), so this pass moves key bytes, not payloads — Arrow
    buffer views in, decoded key column out."""
    import numpy as np

    from .chunk import decode_column
    from .decode import _decoded_spark_schema, _rebuild

    out_schema = ("chunk_id string, pos long, "
                  + _decoded_spark_schema([("k", key_kind)], False))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            names = batch.schema.names
            cids = batch.column(names.index("chunk_id"))
            n_rows = batch.column(names.index("n_rows"))
            for i, entry in _entry_dicts_for(batch, key):
                data, validity = decode_column(entry)
                nr = n_rows[i].as_py()
                arr = _rebuild(key_kind, data, nr, validity)
                n = len(arr)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([cids[i].as_py()] * n, pa.string()),
                     pa.array(np.arange(n, dtype=np.int64)),
                     arr],
                    names=["chunk_id", "pos", "k"])

    return encoded.select("chunk_id", "n_rows", "columns") \
        .mapInArrow(fn, out_schema)


def add_column(encoded: DataFrame, values: DataFrame, name: str,
               kind: str, key: str | None = None,
               specs: list[tuple[str, str]] | None = None) -> DataFrame:
    """ADD COLUMN to an encoded manifest without re-encoding the
    existing entries: the completion of the DROP/RENAME trio.

    ``values`` maps key → new value: exactly two columns, the key
    column (named ``key``, same type the key decodes to) and the new
    column (named ``name``, type matching ``kind``). Keys must be
    unique in ``values``; manifest rows with no match get NULL (the
    ``nv.`` validity wrapper handles storage). Scalar kinds only
    (string/int/float/binary/date/timestamp/decimal) — list kinds
    would need element alignment that a key join cannot express.

    Dataflow (two passes + one key join, all chunk-parallel):

    1. ``_chunk_keys``: decode just the key entry per chunk →
       ``(chunk_id, pos, k)`` — key bytes only, no payloads.
    2. LEFT join with ``values`` on ``k``, pack per chunk with
       ``array_sort(collect_list(struct(pos, v)))`` — each packed row
       is the same magnitude as one chunk (~``target_values`` values),
       so the shuffle moves one new-column's worth of data, nothing
       more.
    3. join packed values back to the manifest on ``chunk_id`` and
       splice: build the Arrow column, run it through the SAME
       ``_extract → encode_column`` path as a fresh encode (codec
       auto-selection, null wrapper, numeric stats), append the entry,
       recompute the chunk checksum.

    A key appearing twice in ``values`` multiplies join rows and is
    caught as a per-chunk length mismatch (clear error, not silent
    corruption).
    """
    from .chunk import encode_column
    from .decode import _arrow_type, manifest_specs
    from .encode import _entry_stats, _extract, _stats_row

    specs = specs or manifest_specs(encoded)
    known = dict(specs)
    if name in known:
        raise ValueError(f"add_column: column {name!r} already exists")
    if kind.endswith("_list") or kind == "int_list":
        raise ValueError(
            f"add_column: list kind {kind!r} not supported (no "
            "element alignment through a key join)")
    if key is None:
        key = specs[0][0]
    if key not in known:
        raise ValueError(f"add_column: key {key!r} not in specs")
    missing = {key, name} - set(values.columns)
    if missing:
        raise ValueError(
            f"add_column: values is missing column(s) {sorted(missing)}")

    keys = _chunk_keys(encoded, key, known[key])
    packed = (keys.join(values.select(F.col(key).alias("k"),
                                      F.col(name).alias("v")),
                        "k", "left")
              .groupBy("chunk_id")
              .agg(F.array_sort(F.collect_list(F.struct("pos", "v")))
                   .alias("_vals")))
    joined = encoded.join(packed, "chunk_id", "left")
    atype = _arrow_type(kind)
    out_schema = joined.drop("_vals").schema

    def _append_list(arr, new_flat, null_mask=None):
        """Per row: the old elements then one appended element —
        concat + take, buffer-level, cast back to the input type.
        ``null_mask`` re-applies the source rows' validity so a NULL
        list row stays NULL (r3 to_pylist behavior) rather than
        materializing as a one-entry list."""
        import numpy as np

        perm_offs, perm = _append_perm(arr)
        combo = pa.concat_arrays(
            [arr.flatten().combine_chunks()
             if isinstance(arr.flatten(), pa.ChunkedArray)
             else arr.flatten(), new_flat])
        lst = pa.LargeListArray.from_arrays(
            pa.array(perm_offs, pa.int64()), combo.take(perm),
            mask=pa.array(np.asarray(null_mask, dtype=bool))
            if null_mask is not None else None)
        return lst.cast(arr.type)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            names = batch.schema.names
            cols_arr = batch.column(names.index("columns"))
            offs, flat = _list_parts(cols_arr)
            parts = _chunk_parts(flat, offs)
            _verify_rows(batch, parts)
            voffs, vflat = _list_parts(
                batch.column(names.index("_vals")))
            n_rows_arr = np.asarray(
                batch.column(names.index("n_rows")), dtype=np.int64)
            vcounts = voffs[1:] - voffs[:-1]
            if (vcounts != n_rows_arr).any():
                i = int(np.argmax(vcounts != n_rows_arr))
                cid = batch.column(names.index("chunk_id"))[i].as_py()
                raise ValueError(
                    f"add_column: chunk {cid} expects "
                    f"{int(n_rows_arr[i])} values, joined "
                    f"{int(vcounts[i])} — are keys unique in the "
                    "values table?")
            v_all = vflat.field("v").cast(atype)

            # encode the new entry per chunk (Python per CHUNK — the
            # codec work itself; inputs are zero-copy array slices)
            entries, stats_rows = [], []
            for i in range(n):
                tbl = pa.table(
                    {name: v_all.slice(voffs[i], int(vcounts[i]))})
                data, validity = _extract(tbl, name, kind)
                e = encode_column(name, kind, data, validity=validity)
                entries.append(e)
                stats_rows.append(
                    _stats_row(e, _entry_stats(kind, data, validity)))

            new_entries = pa.array(entries, type=flat.type)
            repl = {"columns": _append_list(cols_arr, new_entries),
                    "checksum": _checksums(
                        [p + [e["params"], e["payload"]]
                         for p, e in zip(parts, entries)]),
                    "checksum_algo": pa.array([CHECKSUM_ALGO] * n)}
            add_ob = np.asarray([e["orig_bytes"] for e in entries],
                                dtype=np.int64)
            add_eb = np.asarray([e["enc_bytes"] for e in entries],
                                dtype=np.int64)
            repl["orig_bytes"] = pa.array(np.asarray(
                batch.column(names.index("orig_bytes")),
                dtype=np.int64) + add_ob)
            repl["enc_bytes"] = pa.array(np.asarray(
                batch.column(names.index("enc_bytes")),
                dtype=np.int64) + add_eb)
            if "column_stats" in names:
                st_arr = batch.column(names.index("column_stats"))
                new_stats = pa.array(
                    stats_rows, type=st_arr.type.value_type)
                repl["column_stats"] = _append_list(
                    st_arr, new_stats,
                    null_mask=np.asarray(pc.is_null(st_arr)))
            arrays = [repl.get(f, batch.column(i))
                      for i, f in enumerate(names) if f != "_vals"]
            keep = pa.schema([f for f in batch.schema
                              if f.name != "_vals"])
            yield pa.RecordBatch.from_arrays(arrays, schema=keep)

    return joined.mapInArrow(fn, out_schema)


def _append_perm(arr: pa.Array):
    """``(perm_offs, perm)`` appending one element per row of list
    array ``arr``: taking ``perm`` from ``concat(arr.flatten(), new)``
    gives row ``i`` its old elements then ``new[i]``, and ``perm_offs``
    are the rows' offsets into the result. Each list (entries, stats)
    gets its own permutation — their counts can differ on exotic
    manifests."""
    import numpy as np

    offs, _flat = _list_parts(arr)
    total, n = int(offs[-1]), len(offs) - 1
    perm_offs = offs + np.arange(n + 1)
    perm = np.empty(total + n, dtype=np.int64)
    new_pos = perm_offs[1:] - 1
    old_pos = np.ones(total + n, dtype=bool)
    old_pos[new_pos] = False
    perm[old_pos] = np.arange(total)
    perm[new_pos] = total + np.arange(n)
    return perm_offs, perm


def _chunk_specs(row: dict, known: dict[str, str]) -> list[tuple[str, str]]:
    """Specs for THIS chunk's own entry list, in stored order.

    Rebuilding a chunk from caller-supplied ``specs`` silently dropped
    any column the caller forgot to list — rewritten chunks lost it
    while untouched chunks kept it, a heterogeneous manifest whose
    later decodes fail only on the rewritten chunks (ADVICE r4 #5).
    Deriving the rebuild list from the chunk's own entries makes
    partial specs an immediate error instead of silent data loss.
    """
    out = []
    for e in row["columns"]:
        kind = known.get(e["name"]) or e.get("kind")
        if kind is None:
            raise ValueError(
                f"delete_rows: chunk {row['chunk_id']} holds column "
                f"{e['name']!r} with no kind in specs — pass complete "
                "specs (or none, to read them from the manifest)")
        out.append((e["name"], kind))
    return out


def delete_rows(encoded: DataFrame, keys: "list[str] | DataFrame",
                key: str | None = None,
                specs: list[tuple[str, str]] | None = None,
                global_dict=None) -> DataFrame:
    """Delete rows by key — chunk-granular copy-on-write (the Iceberg
    COW analog, at chunk rather than file granularity).

    Only chunks the prune engine (``decode._scan_drop`` for ``key IN
    keys``, the proofs ``lookup_docs`` prunes with: key zone map, key
    bloom, the column's own stats and bloom) cannot prove key-free are
    rewritten (:func:`_cow_delete`: decode → filter → the chunk writer
    fresh encodes use); every other chunk passes
    through byte-identical with no decode — at 100 TB a point delete
    touches O(matching chunks). A false positive (chunk in key range
    but holding none of the keys) is detected after the key-entry
    decode and passed through unchanged, so payload bytes only ever
    change for chunks that actually lose rows; chunks losing ALL rows
    vanish from the manifest. A chunk nothing proves key-free (no
    stats for ``key``, a pre-r3 manifest) is rewrite-checked — never
    skipped.

    ``key`` must be a string-kind column (the zone-map domain, same as
    ``lookup_docs``). Re-encoded chunks keep their ``chunk_id`` and
    their zone-map column (``key_col``: a delete by another string
    column does not move the zone map onto it); under
    ``mode="hash"`` content-addressing the id no longer equals the
    content hash (documented in plans/lineage: resume is refused for
    content-addressed manifests after in-place edits).

    ``keys`` accepts a Python list (small batches: the key set ships
    in the task closure) or a DataFrame of keys (large batches: fully
    distributed — see :func:`_delete_rows_join`).
    """
    import numpy as np

    import pyarrow.compute as pc

    from .decode import _rebuild, _scan_drop, manifest_specs

    specs = specs or manifest_specs(encoded)
    known = dict(specs)
    if key is None:
        key = specs[0][0]
    if known.get(key) != "string":
        raise ValueError(
            f"delete_rows: key {key!r} must be a string-kind column "
            f"(got {known.get(key)!r})")
    if isinstance(keys, DataFrame):
        return _delete_rows_join(encoded, keys, key, known, global_dict)
    if not keys:
        return encoded
    key_set = sorted(set(keys))

    def deleted(data, validity, n_rows):
        karr = _rebuild("string", data, n_rows, validity)
        # NULL key = not deleted
        return np.asarray(pc.fill_null(pc.is_in(
            karr, value_set=pa.array(key_set, karr.type)), False))

    drop = _scan_drop(encoded, known, [], [], [], {key: key_set})
    return _cow_delete(encoded, drop, key, deleted, known, global_dict)


def _cow_delete(encoded: DataFrame, drop, column: str, deleted,
                known: dict[str, str], global_dict) -> DataFrame:
    """The copy-on-write engine behind :func:`delete_rows` and
    :func:`delete_where`. Chunks the ``drop`` proof (``decode.
    _scan_drop``: no row can match) covers pass through with no
    decode. The rest decode ONLY
    ``column``'s entry (zero-copy views, other payloads untouched) and
    ask ``deleted(data, validity, n_rows)`` for a bool mask of the rows
    to delete: no hit passes the chunk through as a pure Arrow filter
    (a zone-map false positive), all hit drops it, and a partial hit
    rewrites it through :func:`_rewrite_masked`."""
    import numpy as np

    from .chunk import decode_column

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            nra = batch.column(batch.schema.names.index("n_rows"))
            pass_through = np.zeros(n, dtype=bool)
            partial: dict[int, object] = {}
            for i, entry in _entry_dicts_for(batch, column):
                nr = nra[i].as_py()
                data, validity = decode_column(entry, gdict=global_dict)
                gone = deleted(data, validity, nr)
                n_del = int(gone.sum())
                if n_del == 0:
                    pass_through[i] = True
                elif n_del < nr:
                    partial[i] = pa.array(~gone)
            if pass_through.any():
                yield batch.filter(pa.array(pass_through))
            if partial:
                rows = _row_dicts_with_views(batch, sorted(partial))
                out = [_rewrite_masked(row, partial[i], known, column,
                                       global_dict)
                       for i, row in rows]
                yield pa.RecordBatch.from_pylist(out,
                                                 schema=batch.schema)

    return encoded.where(drop).unionByName(
        encoded.where(~drop).mapInArrow(fn, encoded.schema))


def _row_dicts_with_views(batch: pa.RecordBatch, idxs):
    """Selected rows as dicts whose ``columns`` entries carry
    zero-copy params/payload memoryviews — for rewrite paths that
    decode them (``decode_column`` reads any buffer). Non-payload
    fields are materialized normally (small metadata)."""
    names = batch.schema.names
    ci = names.index("columns")
    offs, flat = _list_parts(batch.column(ci))
    sub = {f: flat.field(f) for f in ("name", "kind", "codec",
                                      "orig_bytes", "enc_bytes")}
    pviews = _binary_views(flat.field("params"))
    bviews = _binary_views(flat.field("payload"))
    for i in idxs:
        row = {f: batch.column(k)[i].as_py()
               for k, f in enumerate(names) if f != "columns"}
        row["columns"] = [
            {"name": sub["name"][j].as_py(),
             "kind": sub["kind"][j].as_py(),
             "codec": sub["codec"][j].as_py(),
             "orig_bytes": sub["orig_bytes"][j].as_py(),
             "enc_bytes": sub["enc_bytes"][j].as_py(),
             "params": pviews[j], "payload": bviews[j]}
            for j in range(int(offs[i]), int(offs[i + 1]))]
        yield i, row


def _rewrite_masked(row: dict, mask, known: dict[str, str], key: str,
                    global_dict) -> dict:
    """Rewrite one chunk keeping the ``mask``-true rows: check its
    stored checksum, decode every entry (the chunk's OWN entry list —
    see :func:`_chunk_specs`),
    filter, and rebuild through ``encode._build_chunk``, the writer
    fresh encodes use. The chunk keeps its own zone-map column (``key``
    only where it has none) and a null ``column_stats`` stays null.
    Mutates and returns ``row``."""
    from .chunk import decode_column
    from .decode import _rebuild
    from .encode import _build_chunk

    verify_chunk(row["chunk_id"], row["checksum"], row["checksum_algo"],
                  [b for e in row["columns"]
                   for b in (e["params"], e["payload"])])
    specs = _chunk_specs(row, known)
    entries = {e["name"]: e for e in row["columns"]}
    cols = {}
    for name, kind in specs:
        data, validity = decode_column(entries[name], gdict=global_dict)
        cols[name] = _rebuild(kind, data, row["n_rows"],
                              validity).filter(mask)
    had_stats = row.get("column_stats") is not None
    row.update(_build_chunk(pa.table(cols), specs,
                            row.get("key_col") or key,
                            global_dict=global_dict))
    if not had_stats:
        row["column_stats"] = None
    return row


def _delete_rows_join(encoded: DataFrame, keys_df: DataFrame, key: str,
                      known: dict[str, str], global_dict) -> DataFrame:
    """Join-form COW delete — the large-batch MERGE path (VERDICT r3
    next-steps #4): the key set never transits the driver.

    Candidate chunks are those ``decode._scan_drop`` cannot prove
    disjoint from the keys' band (a 2-scalar aggregate over the keys
    DataFrame); hit positions come from the cheap key-entry decode
    (:func:`_chunk_keys`) equi-joined against the keys (Catalyst/AQE
    picks broadcast vs shuffle from the keys side's actual size);
    chunks with no hit — including every zone-map false positive —
    pass through without a payload decode. Per-chunk rewrite state is
    one sorted position list, bounded by chunk size, never the full
    key set (the r3 form shipped the whole key list inside every
    task's closure and ran two driver-side actions per batch)."""
    import numpy as np

    from .decode import _scan_drop

    kdf = keys_df.select(
        F.col(key if key in keys_df.columns
              else keys_df.columns[0]).cast("string").alias("k")
    ).where(F.col("k").isNotNull()).distinct()
    b = kdf.agg(F.min("k").alias("lo"), F.max("k").alias("hi")).first()
    if b["lo"] is None:
        return encoded                  # empty key set
    drop = _scan_drop(encoded, known, [(key, b["lo"], b["hi"])], [], [],
                      {})
    untouched = encoded.where(drop)
    # freeze ONE evaluation of the candidate set: the hit probe joins
    # back to the candidates on chunk_id, and scan-mode ids embed the
    # task partition index — a live (unmaterialized) encode lineage
    # re-evaluated in two plan branches renumbers its chunks and the
    # self-join silently misses every hit. localCheckpoint truncates
    # the lineage so hits/clean/dirty all read the same blocks;
    # parquet-backed manifests (the normal case) pay one cheap
    # re-store of the candidate chunks only.
    touched = encoded.where(~drop).localCheckpoint(eager=False)
    hits = (_chunk_keys(touched, key, "string")
            .join(kdf, "k", "inner")
            .groupBy("chunk_id")
            .agg(F.sort_array(F.collect_list("pos")).alias("_del")))
    joined = touched.join(hits, "chunk_id", "left")
    clean = joined.where(F.col("_del").isNull()).drop("_del")
    dirty = joined.where(F.col("_del").isNotNull())

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            keep_schema = pa.schema(
                [f for f in batch.schema if f.name != "_del"])
            out = []
            for _i, row in _row_dicts_with_views(
                    batch, range(batch.num_rows)):
                dels = row.pop("_del")
                keep = np.ones(row["n_rows"], dtype=bool)
                keep[np.asarray(dels, dtype=np.int64)] = False
                if not keep.any():
                    continue            # whole chunk deleted
                out.append(_rewrite_masked(row, pa.array(keep), known,
                                           key, global_dict))
            if out:
                yield pa.RecordBatch.from_pylist(out, schema=keep_schema)

    rewritten = dirty.mapInArrow(fn, encoded.schema)
    return untouched.unionByName(clean).unionByName(rewritten)


def upsert_rows(encoded: DataFrame, rows: DataFrame,
                key: str | None = None,
                specs: list[tuple[str, str]] | None = None,
                global_dict=None, join_threshold: int = 10_000,
                **encode_kwargs) -> DataFrame:
    """MERGE/upsert: replace-or-insert ``rows`` by key.

    Delete-then-append: :func:`delete_rows` rewrites only the chunks
    whose zone map can contain an upserted key (copy-on-write), then
    the incoming rows encode as FRESH chunks through ``encode_table``
    (full codec auto-selection + stats) and union into the manifest —
    the Iceberg MERGE shape at chunk granularity. Follow with
    ``compact_manifest`` when repeated small upserts accumulate small
    chunks.

    Batches of ≤ ``join_threshold`` distinct keys take the literal
    path (keys collected once, shipped in the delete task closure);
    larger batches stay fully distributed (VERDICT r3 next-steps #4):
    the duplicate-key check is a ``groupBy``/``limit 1`` probe, the
    COW delete joins against the keys DataFrame
    (:func:`_delete_rows_join`), and the idempotent batch tag is an
    order-independent ``bit_xor(xxhash64(key))`` aggregate — a 10⁶-key
    MERGE never builds a 10⁶-literal plan or collects keys.
    """
    from .decode import manifest_specs
    from .encode import encode_table

    specs = specs or manifest_specs(encoded)
    if key is None:
        key = specs[0][0]
    if key not in rows.columns:
        raise ValueError(f"upsert_rows: rows is missing key {key!r}")

    import hashlib

    n = rows.count()
    if n <= join_threshold:
        keys = [r[0] for r in rows.select(key).distinct().collect()]
        if n != len(keys):
            raise ValueError(
                "upsert_rows: duplicate keys in the upsert batch")
        remaining = delete_rows(encoded, keys, key=key, specs=specs,
                                global_dict=global_dict)
        default_snap = hashlib.md5(
            "\x00".join(sorted(str(k) for k in keys)).encode()
        ).hexdigest()[:12]
    else:
        dup = (rows.groupBy(key).count()
               .where(F.col("count") > 1).limit(1).count())
        if dup:
            raise ValueError(
                "upsert_rows: duplicate keys in the upsert batch")
        remaining = delete_rows(encoded, rows.select(key), key=key,
                                specs=specs, global_dict=global_dict)
        h = rows.agg(F.expr(
            f"bit_xor(xxhash64(cast(`{key}` as string)))").alias("h")
        ).first()["h"]
        default_snap = format((h or 0) & ((1 << 48) - 1), "012x")
    # fresh chunks need ids disjoint from the existing manifest's
    # (chunk_id is the join key for add_column and the compaction
    # identity): namespace them under a deterministic batch tag —
    # content-derived, so re-running the same upsert is idempotent
    snap = encode_kwargs.pop("snapshot_id", "") or default_snap
    fresh = encode_table(rows, specs=specs, key=key,
                         snapshot_id=snap,
                         global_dict=global_dict, **encode_kwargs)
    fresh = fresh.withColumn(
        "chunk_id", F.concat(F.lit(snap + ":"), F.col("chunk_id")))
    missing = set(remaining.columns) - set(fresh.columns)
    if missing:
        for m in missing:    # lineage columns absent on fresh encodes
            fresh = fresh.withColumn(
                m, F.lit(None).cast(remaining.schema[m].dataType))
    return remaining.unionByName(fresh.select(*remaining.columns))


def rename_column(encoded: DataFrame, old: str, new: str) -> DataFrame:
    """Rename a column in every chunk — metadata-only.

    Entry names live in ``columns``/``column_stats``/``key_col``, none
    of which the chunk checksum covers (it hashes params+payload
    bytes), so this is pure JVM ``transform`` work: no Python worker,
    no payload movement, no checksum change. Decode afterwards with
    the new name in the specs.
    """
    if old == new:
        return encoded

    def _ren(field):
        return F.when(field == F.lit(old), F.lit(new)).otherwise(field)

    col_fields = (encoded.schema["columns"]
                  .dataType.elementType.fieldNames())
    out = encoded.withColumn(
        "columns",
        F.transform("columns", lambda e: F.struct(
            _ren(e["name"]).alias("name"),
            *[e[f].alias(f) for f in col_fields if f != "name"])))
    if "column_stats" in encoded.columns:
        stats_fields = (encoded.schema["column_stats"]
                        .dataType.elementType.fieldNames())
        out = out.withColumn(
            "column_stats",
            F.transform("column_stats", lambda s: F.struct(
                _ren(s["name"]).alias("name"),
                *[s[f].alias(f) for f in stats_fields if f != "name"])))
    if "key_col" in encoded.columns:
        out = out.withColumn("key_col", _ren(F.col("key_col")))
    return out


def delete_where(encoded: DataFrame, column: str, lo, hi,
                 specs: list[tuple[str, str]] | None = None,
                 global_dict=None) -> DataFrame:
    """DELETE WHERE ``lo <= column <= hi`` — the predicate form of
    :func:`delete_rows`, driven by the NUMERIC zone maps instead of
    the string key map.

    Chunk disposition is ``scan_range``'s pruning (the same
    ``decode._scan_drop`` proofs), inverted into a mutation: chunks
    whose ``column_stats`` (int ``vmin/vmax`` lanes, the r4 float
    ``fmin/fmax`` lanes, and for a point band the column bloom) prove
    no overlap pass through byte-identical with no decode;
    overlapping chunks decode ONLY the predicate column to classify
    rows; chunks entirely inside the band vanish; partially-matching
    chunks rewrite copy-on-write (:func:`_cow_delete`).
    NULL and NaN values never match a finite band (SQL semantics) and
    are kept. ``lo``/``hi`` are codec-lane ints for int-backed kinds
    (days/micros/unscaled — same units as ``scan_range``) or raw
    doubles for ``float``; list kinds have no scalar row predicate
    and are rejected.
    """
    import math

    import numpy as np

    from .decode import _scan_drop, manifest_specs
    from .encode import _float_kind, _int_kind

    specs = specs or manifest_specs(encoded)
    known = dict(specs)
    kind = known.get(column)
    if kind is None:
        raise ValueError(f"delete_where: {column!r} not in specs")
    is_float = kind == "float"
    if is_float:
        lo, hi = float(lo), float(hi)
        if math.isnan(lo) or math.isnan(hi):
            raise ValueError("delete_where: NaN bound — a NaN band "
                             "matches nothing by definition")
    elif _int_kind(kind) and kind != "int_list":
        # snap INWARD so the effective integer band is always
        # contained in the requested band — int() truncates toward
        # zero, which WIDENS a negative fractional bound (hi=-3.7 ->
        # -3 would delete value -3 the caller asked to keep)
        lo, hi = math.ceil(lo), math.floor(hi)
    else:
        hint = (" (list kinds have no scalar row value)"
                if kind == "int_list" or _float_kind(kind) else "")
        raise ValueError(
            f"delete_where: column {column!r} (kind {kind!r}) carries "
            f"no scalar numeric zone map{hint}")

    def deleted(data, validity, n_rows):
        vals = np.asarray(data, dtype=np.float64 if is_float
                          else np.int64)
        hit = (vals >= lo) & (vals <= hi)
        if validity is not None and validity[0] is not None:
            hit &= validity[0]           # NULL rows never match
        return hit

    drop = _scan_drop(encoded, known, [(column, lo, hi)], [], [], {})
    return _cow_delete(encoded, drop, column, deleted, known, global_dict)
