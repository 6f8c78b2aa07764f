"""Distributed encode: DataFrame of rows → DataFrame of encoded chunks.

The Spark re-expression of the reference's sequential per-entry compress
loop (``src/prog/bra.cpp:337-358`` driving
``bra_io_file_chunks_compress_file``, ``src/io/lib_bra_io_file_chunks.c:169-312``).
The reference's per-256-KiB-chunk loop is embarrassingly parallel but runs
single-threaded with one global buffer set (``src/lib_bra.c:25-45``); here
each Spark task encodes its partition's chunks independently and the only
cross-task coordination — the reference's sequential append into one
archive file — disappears because every task writes its own output rows.

Scale design (100 TB / 1000 executors):

* **Zero shuffles on the bulk path (mode="scan", default).** Encoding is
  embarrassingly parallel — hash-shuffling 100 TB just to group rows
  would dominate the job. Scan mode chunks rows per *input split*:
  Spark plans parquet splits by bytes (``files.maxPartitionBytes``),
  independent of executor count, so chunk boundaries are deterministic
  for a given input layout whether 8 or 1000 executors run the job.
  ``part_id`` is the split index (``TaskContext.partitionId``), which is
  also resume-stable.
* **mode="hash": one explicit shuffle when the layout is adversarial**
  (millions of tiny files, or a content-addressed partitioning is
  needed): rows are hash-partitioned on ``xxhash64(key)`` into an
  explicit ``_part`` id and sorted within partitions, making chunks a
  pure function of table *content* rather than file layout.
* **Skew.** Hash-salted partitioning spreads hot ``source`` values; in
  both modes size-targeted chunking bounds residual doc-length skew —
  a 50× doc just closes its chunk sooner, and a split's work is
  proportional to its bytes, not its row count.
* **Zero per-row Python.** ``mapInArrow`` hands the UDF Arrow record
  batches; list/string columns are consumed as flat buffers
  (values+offsets), never materialized as Python objects.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..integrity.crc import CHECKSUM_ALGO, chunk_checksum
from ..codecs.strcodecs import strings_from_arrow
from .chunk import encode_column
from .fsutil import (_empty_frame, bucket_target, byte_buckets, ensure_dir,
                     join_path, list_files, open_parquet, path_tag,
                     run_buckets, write_parquet_atomic)

__all__ = ["encode_table", "encode_files", "infer_specs",
           "MANIFEST_SCHEMA", "MANIFEST_SPARK_SCHEMA", "TOKEN_SPECS"]

# column specs for the mandated input shape (BASELINE.json: input_hint)
TOKEN_SPECS: list[tuple[str, str]] = [
    ("doc_id", "string"),
    ("tokens", "int_list"),
    ("source", "string"),
]

_COLUMN_STRUCT = pa.struct([
    ("name", pa.string()),
    ("kind", pa.string()),
    ("codec", pa.string()),
    ("params", pa.binary()),
    ("payload", pa.binary()),
    ("orig_bytes", pa.int64()),
    ("enc_bytes", pa.int64()),
])

MANIFEST_SCHEMA = pa.schema([
    ("chunk_id", pa.string()),
    ("part_id", pa.int32()),
    ("chunk_idx", pa.int32()),
    ("snapshot_id", pa.string()),
    ("input_file", pa.string()),
    ("n_rows", pa.int64()),
    ("n_values", pa.int64()),
    ("orig_bytes", pa.int64()),
    ("enc_bytes", pa.int64()),
    ("checksum", pa.int64()),
    ("checksum_algo", pa.string()),
    ("columns", pa.list_(_COLUMN_STRUCT)),
    # payload-free duplicate of the per-column stats: listing queries
    # (the reference's `unbra -l`) must be answerable without the scan
    # ever touching payload bytes — exploding `columns` defeats nested
    # schema pruning, so the stats live in their own top-level column
    # vmin/vmax/vsum/null_count: per-chunk numeric zone map + aggregate
    # pushdown stats for every int-backed kind (int, date, timestamp,
    # decimal -> unscaled, int_list -> element bounds). Null vmin/vmax
    # means "no numeric stats for this column" (string/binary/float
    # kinds, or an all-null chunk) — consumers must treat null bounds
    # as "may match anything" and never prune on them (the same
    # silent-miss rule as key_col above). vsum is null when the exact
    # chunk sum could exceed int64 (consumers fall back to decoding).
    # fmin/fmax: float zone map (r4) — typed double bounds over the
    # non-null, non-NaN values of float/float_list/double_list kinds
    # (NaN is excluded: Spark range predicates with finite bounds
    # never match NaN, so bounds over comparable values stay exact).
    # Null on int-backed/string kinds and all-null/all-NaN chunks —
    # same never-prune-on-null rule as vmin/vmax.
    # smin/smax: string zone map (r5) — Iceberg-style truncate(16)
    # bounds over the non-null values of string kinds. smin is a
    # 16-char prefix of the true min (a valid LOWER bound: a prefix
    # never sorts above the string it prefixes); smax is the true max
    # when short, else its 16-char prefix with the last incrementable
    # codepoint bumped (a valid UPPER bound) — or null when no such
    # codepoint exists (all at U+10FFFF), meaning "unbounded above":
    # consumers may still prune on smin alone. Null smin on non-string
    # kinds and all-null chunks — the usual never-prune-on-null rule.
    ("column_stats", pa.list_(pa.struct([
        ("name", pa.string()),
        ("kind", pa.string()),
        ("codec", pa.string()),
        ("orig_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("vmin", pa.int64()),
        ("vmax", pa.int64()),
        ("vsum", pa.int64()),
        ("n_vals", pa.int64()),
        ("null_count", pa.int64()),
        ("fmin", pa.float64()),
        ("fmax", pa.float64()),
        ("smin", pa.string()),
        ("smax", pa.string()),
        # bloom: per-column membership sidecar (r5) — bloom words over
        # the DISTINCT non-null lane values of scalar int-backed kinds
        # (int/long/date/timestamp/decimal, in their codec-lane unit),
        # same geometry/derivation as key_bloom (operators/bloom.py).
        # Point lookups on int columns (e.g. o_orderkey under a hash
        # layout, where every partition spans the full key range and
        # min/max bounds barely prune) bit-test these words in pure
        # Catalyst. Null = "may match" (pre-r5 manifests, non-int
        # kinds, bloom=False encodes) — correctness never depends on
        # the bloom.
        ("bloom", pa.list_(pa.int64())),
        # hll: distinct-count sketch sidecar (r5) — 1024 HyperLogLog
        # registers over the SAME per-distinct-value hashes the bloom
        # consumes (operators/bloom.py, Flajolet AofA'07). Mergeable
        # by per-register max, so ndv_encoded answers "how many
        # distinct values" from the manifest alone at any chunk count
        # — the cardinality question every layout/join-strategy
        # decision starts with. Same lanes as bloom (scalar
        # int-backed, string, binary; int_list token lanes excluded —
        # keeping the hot token-encode path cost-free; vocab NDV
        # comes from build_global_dict). Null = "no sketch" (pre-r5
        # manifests, bloom=False) — consumers must refuse to
        # estimate, never guess.
        ("hll", pa.list_(pa.int32())),
        # topk: truncated value-counts summary (r5) — the chunk's 16
        # most frequent lane values with exact counts (count desc,
        # value asc tie-break; int lanes store the codec-lane int as
        # a decimal string). EXACT whenever the chunk holds <= 16
        # distinct values (then absent values provably count 0);
        # truncated chunks set an undercount bound via their 16th
        # count (topk_encoded sums it as merge slack). Completes the
        # manifest-as-index trio: membership (bloom), cardinality
        # (hll), distribution (topk) — "what's the language/domain
        # mix" answered without reading a payload byte. Null = "no
        # summary" (non-summarizable kinds: float, int_list, binary;
        # bloom=False encodes; pre-r5 manifests); [] = empty chunk
        # (exactly zero of everything).
        ("topk", pa.list_(pa.struct([("v", pa.string()),
                                     ("c", pa.int64())]))),
        # hist: equi-width value histogram (r5) — 16 bucket counts
        # over the chunk's non-null lane values, completing the
        # manifest-as-index quartet: membership (bloom), cardinality
        # (hll), distribution (topk), SELECTIVITY (hist). Int-backed
        # scalar lanes bucket by offset // div with
        # div = (vmax-vmin)//16 + 1 computed in the uint64 domain
        # (wrap-safe for the full int64 range — the INT64_MIN lesson
        # from cost.py applied on day one); the scalar float lane
        # buckets (v-fmin)/(fmax-fmin)*16 clipped to [0,15], built
        # only when both bounds are finite (±Inf bounds make
        # equi-width edges meaningless — such chunks store null and
        # consumers refuse, never guess). Bucket counts are EXACT, so
        # hist_encoded answers range-count questions with RIGOROUS
        # [min,max] bounds from the manifest alone: fully-contained
        # buckets count exactly, edge buckets add to the upper bound.
        # Null = "no histogram" (int_list/float_list/string/binary
        # kinds, bloom=False encodes, non-finite float bounds, pre-r5
        # manifests); [] = empty chunk.
        ("hist", pa.list_(pa.int64())),
        # qcut / fqcut: equi-DEPTH quantile cuts (r5) — the 15
        # interior 1/16-quantile VALUES of the chunk's lane values
        # (sorted[(j*n)//16], j = 1..15), typed per lane so no cut is
        # ever rounded (an int64 cut through double would shift
        # comparisons past 2^53 and break rigor). Where the
        # equi-width hist is blind to skew (a heavy-tailed chunk
        # piles everything into one bucket), the cuts give CDF
        # brackets with n/16 resolution REGARDLESS of the value
        # distribution: at cut j, at least (j*n)//16 + 1 values are
        # <= it and at most (k*n)//16 values are <= anything below
        # cut k — pure order statistics, comparisons only, no
        # arithmetic on the values, so there is nothing to overflow
        # or round. Consumers intersect this bracket with the hist
        # bracket. Same gate as hist (sketch scalar lanes); null =
        # "no cuts", [] = empty chunk.
        ("qcut", pa.list_(pa.int64())),
        ("fqcut", pa.list_(pa.float64())),
    ]))),
    # zone map for the key column: chunk-level min/max lets point and
    # range lookups prune chunks from the manifest scan (the reference's
    # skip-without-decode, src/io/lib_bra_io_file_ctx.c:596-602, made
    # cluster-scale: parquet row-group stats on these columns skip
    # payload IO entirely). key_col RECORDS which column the bounds
    # describe — lookups on any other column must not prune with them
    # (silent-miss hazard, ADVICE r2 #1)
    ("key_col", pa.string()),
    ("key_min", pa.string()),
    ("key_max", pa.string()),
    # membership sidecar for key_col (operators/bloom.py): per-chunk
    # bloom words, ~16 bits/key, null/empty = "may match" (the same
    # degrade rule as null numeric bounds). Stored as array<long> so
    # probes are pure Catalyst bit tests on the manifest scan.
    ("key_bloom", pa.list_(pa.int64())),
])

MANIFEST_SPARK_SCHEMA = (
    "chunk_id string, part_id int, chunk_idx int, snapshot_id string, "
    "input_file string, "
    "n_rows long, n_values long, orig_bytes long, enc_bytes long, "
    "checksum long, checksum_algo string, "
    "columns array<struct<name:string,kind:string,codec:string,"
    "params:binary,payload:binary,orig_bytes:long,enc_bytes:long>>, "
    "column_stats array<struct<name:string,kind:string,codec:string,"
    "orig_bytes:long,enc_bytes:long,"
    "vmin:long,vmax:long,vsum:long,n_vals:long,null_count:long,"
    "fmin:double,fmax:double,smin:string,smax:string,"
    "bloom:array<bigint>,hll:array<int>,"
    "topk:array<struct<v:string,c:bigint>>,"
    "hist:array<bigint>,qcut:array<bigint>,"
    "fqcut:array<double>>>, "
    "key_col string, key_min string, key_max string, "
    "key_bloom array<long>"
)


def _extract(tbl: pa.Table, name: str, kind: str):
    """Column chunk -> ``(data, validity)``.

    ``validity`` is None when the chunk has no nulls (the hot path —
    fully zero-copy), else ``(row_valid, elem_valid)`` bool arrays for
    ``encode_column``. Null slots are normalized (empty string / zero /
    empty list) before encoding so chunk payload bytes are a pure
    function of content — Arrow leaves bytes under null slots
    undefined, which would break content-addressed chunk ids.
    """
    import pyarrow.compute as pc

    col = tbl.column(name).combine_chunks()
    if kind == "string":
        row_valid = None
        if col.null_count:
            row_valid = np.asarray(pc.is_valid(col))
            col = pc.fill_null(col, "")
        data = strings_from_arrow(col)
        return data, (None if row_valid is None else (row_valid, None))
    if kind == "binary":
        row_valid = None
        if col.null_count:
            row_valid = np.asarray(pc.is_valid(col))
            col = pc.fill_null(col, b"")
        la = col.cast(pa.large_binary())
        off = np.frombuffer(la.buffers()[1], dtype=np.int64)
        offsets = off[la.offset:la.offset + len(la) + 1]
        buf = la.buffers()[2]
        blob = buf.to_pybytes()[offsets[0]:offsets[-1]] \
            if buf is not None else b""
        return (blob, (offsets - offsets[0]).astype(np.int64)), \
            (None if row_valid is None else (row_valid, None))
    if kind in ("float_list", "double_list"):
        vt = pa.float32() if kind == "float_list" else pa.float64()
        arr = col.cast(pa.large_list(vt))
        flat = pc.list_flatten(arr)
        if arr.null_count == 0 and flat.null_count == 0:
            off = np.frombuffer(arr.buffers()[1], dtype=np.int64)
            offsets = off[arr.offset:arr.offset + len(arr) + 1]
            values = arr.values.to_numpy(zero_copy_only=False)
            values = values[offsets[0]:offsets[-1]]
            lengths = np.diff(offsets)
            return (np.ascontiguousarray(values), lengths), None
        row_valid = np.asarray(pc.is_valid(arr)) \
            if arr.null_count else None
        elem_valid = np.asarray(pc.is_valid(flat)) \
            if flat.null_count else None
        lengths = np.asarray(
            pc.fill_null(pc.list_value_length(arr), 0)).astype(np.int64)
        values = np.asarray(pc.fill_null(flat, 0.0))
        return (np.ascontiguousarray(values), lengths), \
            (row_valid, elem_valid)
    if kind == "float":
        row_valid = None
        if col.null_count:
            row_valid = np.asarray(pc.is_valid(col))
            col = pc.fill_null(col, 0.0)
        data = col.to_numpy(zero_copy_only=False).astype(np.float64)
        return data, (None if row_valid is None else (row_valid, None))
    if kind == "int_list":
        # keep the child's native width (int32 tokens stay 4-byte —
        # the encode path is memory-bandwidth-bound)
        arr = col.cast(pa.large_list(col.type.value_type))
        flat = pc.list_flatten(arr)  # excludes null slots' regions
        if arr.null_count == 0 and flat.null_count == 0:
            off = np.frombuffer(arr.buffers()[1], dtype=np.int64)
            offsets = off[arr.offset:arr.offset + len(arr) + 1]
            values = arr.values.to_numpy(zero_copy_only=False)
            values = values[offsets[0]:offsets[-1]]
            lengths = np.diff(offsets)
            return (np.ascontiguousarray(values), lengths), None
        row_valid = np.asarray(pc.is_valid(arr)) \
            if arr.null_count else None
        elem_valid = np.asarray(pc.is_valid(flat)) \
            if flat.null_count else None
        lengths = np.asarray(
            pc.fill_null(pc.list_value_length(arr), 0)).astype(np.int64)
        values = np.asarray(pc.fill_null(flat, 0))
        return (np.ascontiguousarray(values), lengths), \
            (row_valid, elem_valid)
    if kind == "int":
        row_valid = None
        if col.null_count:
            row_valid = np.asarray(pc.is_valid(col))
            col = pc.fill_null(col, 0)
        data = col.to_numpy(zero_copy_only=False).astype(np.int64)
        return data, (None if row_valid is None else (row_valid, None))
    if kind == "bool":
        row_valid = None
        if col.null_count:
            row_valid = np.asarray(pc.is_valid(col))
            col = pc.fill_null(col, False)
        data = col.cast(pa.int8()).to_numpy(
            zero_copy_only=False).astype(np.int64)
        return data, (None if row_valid is None else (row_valid, None))
    if kind in ("date", "timestamp"):
        # lossless int mapping: date32 -> days, timestamp -> epoch
        # micros. Normalize the unit FIRST: Spark's own Arrow batches
        # are timestamp[us], but parquet read through pyarrow (the
        # encode_files bulk path) surfaces INT96 timestamps as
        # timestamp[ns] — casting that straight to int64 would encode
        # nanos and decode as micros (year-27xxx corruption).
        row_valid = None
        if col.null_count:
            row_valid = np.asarray(pc.is_valid(col))
        if kind == "date":
            col = col.cast(pa.date32())
            it = pa.int32()
        else:
            col = col.cast(pa.timestamp("us",
                                        getattr(col.type, "tz", None)))
            it = pa.int64()
        ints = pc.fill_null(col.cast(it), 0) if col.null_count \
            else col.cast(it)
        data = ints.to_numpy(zero_copy_only=False).astype(np.int64)
        return data, (None if row_valid is None else (row_valid, None))
    if kind.startswith("decimal"):
        from .chunk import decimal_ps

        p_, s_ = decimal_ps(kind)
        if p_ > 18:
            raise ValueError(
                f"decimal precision {p_} > 18: unscaled value must fit "
                "int64 (split the column or widen the codec lane)")
        row_valid = None
        if col.null_count:
            import decimal as _dec

            row_valid = np.asarray(pc.is_valid(col))
            col = pc.fill_null(col, pa.scalar(_dec.Decimal(0),
                                              type=col.type))
        arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) \
            else col
        # decimal128 storage = 16-byte little-endian two's complement;
        # for p <= 18 the value is in int64 range, so the low word IS
        # the value (high word is pure sign extension)
        words = np.frombuffer(arr.buffers()[1], np.int64)
        data = np.ascontiguousarray(
            words[2 * arr.offset:2 * (arr.offset + len(arr)):2])
        return data, (None if row_valid is None else (row_valid, None))
    raise ValueError(f"unknown kind {kind!r}")


_SPARK_TYPE_TO_KIND = {
    "string": "string", "binary": "binary",
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float", "boolean": "bool",
    "date": "date", "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    # no array<bigint>: int_list rebuilds as array<int32> (the mandated
    # token shape) — a 64-bit list column would silently narrow
    "array<tinyint>": "int_list", "array<smallint>": "int_list",
    "array<int>": "int_list",
    "array<float>": "float_list", "array<double>": "double_list",
}


def infer_specs(df: DataFrame) -> list[tuple[str, str]]:
    """Derive encode specs from a DataFrame schema — the whole-table
    entry point: ``encode_table(df, specs=infer_specs(df))`` encodes
    any table made of the supported kinds (the reference encodes
    arbitrary files; this is the columnar equivalent of "point it at
    the data"). ``decimal(p,s)`` types pass through as their own kind.
    """
    specs = []
    for name, t in df.dtypes:
        if t.startswith("decimal"):
            specs.append((name, t))
        elif t in _SPARK_TYPE_TO_KIND:
            specs.append((name, _SPARK_TYPE_TO_KIND[t]))
        else:
            raise ValueError(
                f"column {name!r}: no codec kind for Spark type {t!r}")
    return specs


def _n_values(tbl: pa.Table, specs: list[tuple[str, str]]) -> int:
    import pyarrow.compute as pc

    for name, kind in specs:
        if kind in ("int_list", "float_list", "double_list"):
            # list_value_length respects slice offsets (ListArray.values
            # would not — it exposes the full underlying buffer)
            lens = pc.list_value_length(tbl.column(name))
            return int(pc.sum(lens).as_py() or 0)
    return tbl.num_rows


def _int_kind(kind: str) -> bool:
    """Kinds whose decoded values are (mapped to) integers — the kinds
    that carry numeric zone-map/aggregate stats in ``column_stats``."""
    return kind in ("int", "date", "timestamp", "bool", "int_list") \
        or kind.startswith("decimal")


def _float_kind(kind: str) -> bool:
    """Kinds that carry the typed double zone map (``fmin``/``fmax``)."""
    return kind in ("float", "float_list", "double_list")


_STR_TRUNC = 16


def _trunc_lower(s: str) -> str:
    """Iceberg ``truncate(16)`` lower bound: a prefix never sorts
    above the string it prefixes, so the 16-char prefix of the true
    min is a valid (possibly loose) lower bound."""
    return s[:_STR_TRUNC]


def _trunc_upper(s: str):
    """Iceberg-style upper bound: the string itself when short;
    otherwise its 16-char prefix with the LAST incrementable codepoint
    bumped (trailing U+10FFFF chars dropped), which sorts >= every
    string sharing the prefix. None when no codepoint can be bumped —
    "unbounded above", consumers must not prune on the upper side."""
    if len(s) <= _STR_TRUNC:
        return s
    cps = [ord(c) for c in s[:_STR_TRUNC]]
    for i in reversed(range(len(cps))):
        nxt = cps[i] + 1
        if nxt > 0x10FFFF:
            continue
        if 0xD800 <= nxt <= 0xDFFF:     # skip the surrogate gap
            nxt = 0xE000
        return "".join(chr(x) for x in cps[:i]) + chr(nxt)
    return None


_TOPK = 16


def _topk_int(u: np.ndarray, counts: np.ndarray) -> list[dict]:
    """Top-16 (count desc, value asc) over an int lane's distinct
    values+counts — vectorized lexsort, values stored as decimal
    strings so the manifest lane is type-uniform."""
    order = np.lexsort((u, -counts))[:_TOPK]
    return [{"v": str(int(u[i])), "c": int(counts[i])} for i in order]


def _topk_str(u, counts) -> list[dict]:
    """String twin over a pyarrow values array + numpy counts —
    Arrow-side two-key sort keeps the tie-break deterministic."""
    import pyarrow.compute as pc

    t = pa.table({"v": u.cast(pa.large_utf8()), "c": pa.array(counts)})
    idx = pc.sort_indices(t, sort_keys=[("c", "descending"),
                                        ("v", "ascending")])
    return [{"v": t["v"][int(i)].as_py(),
             "c": int(t["c"][int(i)].as_py())}
            for i in idx[:_TOPK].to_pylist()]


_HIST_B = 16


def _hist_int(vals: np.ndarray) -> list[int]:
    """Equi-width 16-bucket histogram over a non-empty int lane,
    wrap-safe for the full int64 domain: offsets and the bucket
    divisor live in uint64 (``vals - vmin`` wraps to the correct
    unsigned offset even when the range exceeds int64), and
    ``div = range//16 + 1`` guarantees ``offset // div <= 15`` with
    no multiply that could overflow. Bucket ``i`` holds values in
    ``[vmin + i*div, min(vmax, vmin + (i+1)*div - 1)]`` — the exact
    contract :func:`~br_archive_spark.operators.decode.hist_encoded`
    re-derives on the consumer side."""
    v64 = np.asarray(vals, np.int64)
    vmin = int(v64.min())
    rng = int(v64.max()) - vmin          # Python int: never wraps
    if rng == 0:
        return [len(v64)] + [0] * (_HIST_B - 1)
    div = np.uint64(rng // _HIST_B + 1)  # <= 2^60: fits uint64
    off = v64.view(np.uint64) - np.uint64(vmin & 0xFFFFFFFFFFFFFFFF)
    idx = (off // div).astype(np.int64)
    return np.bincount(idx, minlength=_HIST_B).tolist()


def _hist_float(finite: np.ndarray) -> list[int] | None:
    """Float twin over the NaN-free lane values: equi-width over
    [fmin, fmax], top edge clipped into the last bucket. Returns
    None when either bound is non-finite (±Inf values make
    equi-width edges meaningless) — consumers treat a null histogram
    as "refuse to estimate", never a guess.

    The bucket index is ``floor((v*0.5 - fmin*0.5) / r2 * 16)`` with
    ``r2 = fmax*0.5 - fmin*0.5`` — HALF-domain arithmetic so the
    range never overflows to ±Inf even for [-DBL_MAX, DBL_MAX]
    chunks, and every operation (scale, subtract, divide, floor) is
    MONOTONE nondecreasing in ``v`` under IEEE round-to-nearest.
    :func:`~br_archive_spark.operators.decode._hist_bounds_float`
    re-evaluates the identical expression on the band edges, and
    monotonicity alone guarantees its bucket bracket is exact — no
    epsilon analysis, subnormal ranges included. When ``r2`` rounds
    to 0 (fmax == fmin, or both bounds subnormal one ulp apart) the
    chunk degenerates to a single bucket spanning [fmin, fmax]."""
    if len(finite) == 0:
        return []
    fmin = float(finite.min())
    fmax = float(finite.max())
    if not (np.isfinite(fmin) and np.isfinite(fmax)):
        return None
    r2 = fmax * 0.5 - fmin * 0.5
    if r2 == 0.0:
        return [len(finite)] + [0] * (_HIST_B - 1)
    # d in [0, r2] by monotonicity, so the ratio is in [0, 1] and the
    # cast never sees an out-of-int64 value; truncation == floor
    # because d >= 0
    d = finite * 0.5 - fmin * 0.5
    idx = (d / r2 * _HIST_B).astype(np.int64)
    np.clip(idx, 0, _HIST_B - 1, out=idx)
    return np.bincount(idx, minlength=_HIST_B).tolist()


def _qcut_vals(vals: np.ndarray) -> list:
    """The 15 interior 1/16-quantile values of a non-empty lane:
    ``sorted[(j*n)//16]`` for j = 1..15 — the exact order statistics
    :func:`~br_archive_spark.operators.decode._qcut_bounds`
    re-derives its CDF brackets from. Works identically for int64
    and float64 lanes (comparison-only semantics; -0.0 sorts with
    0.0, which is fine because consumers also compare IEEE-equal)."""
    s = np.sort(vals)
    n = len(s)
    return s[[(j * n) // 16 for j in range(1, 16)]].tolist()


# column_stats element = the entry's identity/size fields + its lanes;
# every lane a builder leaves unset defaults to null ("no proof")
_STATS_STRUCT = MANIFEST_SCHEMA.field("column_stats").type.value_type
_ENTRY_FIELDS = ("name", "kind", "codec", "orig_bytes", "enc_bytes")
_STATS_LANES = tuple(f.name for f in _STATS_STRUCT
                     if f.name not in _ENTRY_FIELDS)


def _stats_row(entry: dict, stats: dict) -> dict:
    """One ``column_stats`` element: an encoded entry's identity and
    size fields plus its :func:`_entry_stats` lanes."""
    return {**{k: entry[k] for k in _ENTRY_FIELDS}, **stats}


def _valid_mask(kind: str, validity):
    """``(mask, null_count)`` for one :func:`_extract` column: the
    validity mask over the lane values (row validity for scalar and
    string kinds, element validity for list kinds; None = no nulls)
    and null rows + null list elements (SQL aggregate semantics)."""
    if validity is None:
        return None, 0
    row_valid, elem_valid = validity
    nulls = 0 if row_valid is None else int((~row_valid).sum())
    if not kind.endswith("_list"):
        return row_valid, nulls
    if elem_valid is not None:
        nulls += int((~elem_valid).sum())
    return elem_valid, nulls


def _int_lanes(kind: str, vals: np.ndarray, bloom: bool,
               sketch: bool) -> dict:
    """Int-backed lanes over the non-null values: ``vmin``/``vmax``
    element bounds; ``vsum``, the exact sum, or None when
    ``max(|vmin|,|vmax|) * n`` does not provably fit int64 (a consumer
    that sees a null vsum with values present must decode instead of
    trusting the manifest); ``n_vals``, how many values the bounds and
    sum describe (elements for int_list, rows otherwise — the COUNT
    lane of aggregate pushdown); plus for SCALAR lanes the
    bloom/hll/topk sidecars over one distinct pass and the hist/qcut
    selectivity lanes. int_list (token) lanes are excluded from every
    sidecar: element membership isn't a chunk-prune predicate, the
    vocabulary would saturate the filter, and the per-chunk unique
    over millions of token elements would tax the hot encode path
    (vocab NDV comes from build_global_dict instead)."""
    scalar = kind != "int_list"
    if len(vals) == 0:
        lanes = {"vsum": 0, "n_vals": 0}
        if sketch and scalar:
            from .bloom import HLL_M

            lanes.update(hll=[0] * HLL_M, topk=[], hist=[], qcut=[])
        return lanes
    vmin = int(vals.min())
    vmax = int(vals.max())
    lanes = {"vmin": vmin, "vmax": vmax, "n_vals": len(vals),
             "vsum": int(vals.sum(dtype=np.int64))
             if max(abs(vmin), abs(vmax)) * len(vals) < (1 << 62)
             else None}
    if scalar and (bloom or sketch):
        from .bloom import (bloom_from_hashes, hll_from_hashes,
                            int_hashes)

        u, counts = np.unique(np.asarray(vals, np.int64),
                              return_counts=True)
        h1 = int_hashes(u)
        if bloom:
            lanes["bloom"] = bloom_from_hashes(h1)
        if sketch:
            lanes["hll"] = hll_from_hashes(h1)
            lanes["topk"] = _topk_int(u, counts)
    if scalar and sketch:
        lanes["hist"] = _hist_int(vals)
        lanes["qcut"] = _qcut_vals(vals)
    return lanes


def _float_lanes(kind: str, fvals: np.ndarray, sketch: bool) -> dict:
    """Typed double zone map over the non-null, non-NaN values (a
    finite-bound range predicate never matches NaN in Spark, so
    NaN-free bounds prune exactly; all-NaN/all-null chunks keep null
    bounds). No vsum lane: float addition isn't exact or
    order-independent. hist/fqcut cover the scalar float lane only —
    float_list element summaries (embedding dimensions pooled) answer
    no range question a consumer asks, and that lane is the bulk of
    the bytes; ±Inf bounds drop both (co-gated)."""
    finite = fvals[~np.isnan(fvals)] if len(fvals) else fvals
    lanes = {"n_vals": len(fvals)}
    if len(finite):
        lanes["fmin"] = float(finite.min())
        lanes["fmax"] = float(finite.max())
    hist = _hist_float(finite) if sketch and kind == "float" else None
    if hist is not None:
        lanes["hist"] = hist
        lanes["fqcut"] = _qcut_vals(finite) if len(finite) else []
    return lanes


def _bytes_lanes(kind: str, data, mask, bloom: bool,
                 sketch: bool) -> dict:
    """String and binary lanes over one distinct pass
    (``value_counts``) of the non-null values, hashed with the key
    bloom's family (``hash_key`` over the raw bytes / UTF-8), so point
    probes prune under hash layouts where bounds span the whole
    domain: ``bloom`` words and ``hll`` registers for both kinds.
    Strings add ``n_vals``, the top-16 ``topk`` summary, and the
    Iceberg-style truncate(16) zone map — ``smin`` a prefix of the
    true min (lower bound), ``smax`` the true max or its bumped prefix
    (upper bound, null = unbounded above); UTF-8 byte order equals
    codepoint order, so Python/Spark/Arrow comparisons agree. Binary
    keeps ``n_vals`` null (no numeric agg lanes — agg_encoded and
    verify --stats key off that), no zone map (byte-order bounds
    carry no prune value) and no topk (bytes don't fit the string
    lane, and digest columns are near-unique — a truncated histogram
    says nothing)."""
    import pyarrow.compute as pc

    is_str = kind == "string"
    blob, offs = data
    arr = pa.Array.from_buffers(
        pa.large_utf8() if is_str else pa.large_binary(), len(offs) - 1,
        [None, pa.py_buffer(np.ascontiguousarray(offs)),
         pa.py_buffer(blob)])
    if mask is not None:
        arr = arr.filter(pa.array(mask))
    lanes = {}
    if is_str:
        lanes["n_vals"] = len(arr)
    if len(arr) == 0:
        if sketch:
            from .bloom import HLL_M

            lanes["hll"] = [0] * HLL_M
            if is_str:
                lanes["topk"] = []
        return lanes
    if is_str:
        mm = pc.min_max(arr)
        lanes["smin"] = _trunc_lower(mm["min"].as_py())
        lanes["smax"] = _trunc_upper(mm["max"].as_py())
    if bloom or sketch:
        from .bloom import (bloom_from_hashes, hll_from_hashes,
                            string_hashes)

        vc = pc.value_counts(arr)
        u = vc.field("values")
        uoff = np.frombuffer(u.buffers()[1], np.int64)
        uoff = uoff[u.offset:u.offset + len(u) + 1]
        ubuf = u.buffers()[2]
        ublob = np.frombuffer(ubuf, np.uint8)[uoff[0]:uoff[-1]] \
            if ubuf is not None else b""
        h1 = string_hashes(ublob, uoff - uoff[0])
        if bloom:
            lanes["bloom"] = bloom_from_hashes(h1)
        if sketch:
            lanes["hll"] = hll_from_hashes(h1)
            if is_str:
                lanes["topk"] = _topk_str(
                    u, vc.field("counts").to_numpy())
    return lanes


def _entry_stats(kind: str, data, validity,
                 bloom: bool = True, sketch: bool | None = None) -> dict:
    """Per-chunk ``column_stats`` lanes over the NON-NULL values of one
    column — every lane of the manifest schema, null where the kind's
    builder (:func:`_int_lanes`, :func:`_float_lanes`,
    :func:`_bytes_lanes`) sets nothing ("no proof": consumers never
    prune on it). ``null_count`` (null rows + null list elements)
    covers every kind. Int-backed values are in the codec-lane unit:
    days for date, epoch micros for timestamp, unscaled integer for
    decimal(p,s).

    These feed :func:`~br_archive_spark.operators.decode.scan_where`
    (chunk pruning — the reference's skip-without-decode,
    src/io/lib_bra_io_file_ctx.c:596-602, generalized to every
    column) and the manifest-only answers (``agg_encoded``,
    ``ndv_encoded``, ``topk_encoded``, ``hist_encoded``).
    ``data``/``validity`` are :func:`_extract` output — null slots in
    ``data`` are zero-filled, so masking by validity is REQUIRED before
    any stat (a zero-filled null must not become the chunk min).
    """
    # ``bloom`` gates the membership sidecar (the key zone-map column
    # passes False — its filter is key_bloom); ``sketch`` gates the
    # hll/topk/hist/qcut lanes independently, defaulting to ``bloom``
    # so the key column still gets a sketch (there is no key-level
    # twin)
    sketch = bloom if sketch is None else sketch
    mask, null_count = _valid_mask(kind, validity)
    if kind in ("string", "binary"):
        lanes = _bytes_lanes(kind, data, mask, bloom, sketch)
    else:
        vals = data[0] if kind.endswith("_list") else data
        if mask is not None:
            vals = vals[mask]
        if _int_kind(kind):
            lanes = _int_lanes(kind, vals, bloom, sketch)
        else:
            lanes = _float_lanes(kind, vals, sketch)
    return {**dict.fromkeys(_STATS_LANES), **lanes,
            "null_count": null_count}


def _key_bounds(tbl: pa.Table, specs: list[tuple[str, str]],
                key: str | None = None):
    """``(key_col, min, max)`` for the zone map: the requested ``key``
    if it is a string-kind column, else the first string column, else
    no zone map (empty key_col)."""
    import pyarrow.compute as pc

    cands = [name for name, kind in specs if kind == "string"]
    name = key if key in cands else (cands[0] if cands else "")
    if not name:
        return ("", "", "")
    mm = pc.min_max(tbl.column(name))
    return (name, mm["min"].as_py() or "", mm["max"].as_py() or "")


def _build_chunk(tbl: pa.Table, specs: list[tuple[str, str]],
                 key: str | None,
                 codecs: tuple[str, ...] | None = None,
                 str_codecs: tuple[str, ...] | None = None,
                 global_dict=None, bloom: bool = True) -> dict:
    """The one chunk writer: encode every ``specs`` column of ``tbl``
    and return a manifest row's content fields — entries, stats lanes,
    sizes, checksum and the ``key`` zone map with its bloom. Fresh
    encodes add the chunk's identity fields; copy-on-write rewrites
    (operators/evolve.py) keep the identity of the chunk they replace.
    """
    entries = []
    stats = []
    key_bounds = _key_bounds(tbl, specs, key)
    for name, kind in specs:
        data, validity = _extract(tbl, name, kind)
        entries.append(encode_column(
            name, kind, data, codecs, str_codecs,
            gdict=global_dict, validity=validity))
        # the key zone-map column already gets key_bloom — don't store
        # the same membership filter twice (lookup_values consults
        # key_bloom for that column)
        stats.append(_entry_stats(
            kind, data, validity,
            bloom=bloom and name != key_bounds[0], sketch=bloom))
    key_bloom = None
    if bloom and key_bounds[0]:
        from .bloom import build_bloom

        kblob, koffs = _extract(tbl, key_bounds[0], "string")[0]
        key_bloom = build_bloom(kblob, koffs)
    return {
        "n_rows": tbl.num_rows,
        "n_values": _n_values(tbl, specs),
        "orig_bytes": sum(e["orig_bytes"] for e in entries),
        "enc_bytes": sum(e["enc_bytes"] for e in entries),
        # cover params too: codec tags, offsets streams, and the
        # null-validity bitmaps all live there — a flipped mask bit
        # must fail verification just like a flipped payload byte
        "checksum": chunk_checksum(
            *[b for e in entries for b in (e["params"], e["payload"])],
            algo=CHECKSUM_ALGO),
        "checksum_algo": CHECKSUM_ALGO,
        "columns": entries,
        "column_stats": [_stats_row(e, st)
                         for e, st in zip(entries, stats)],
        "key_col": key_bounds[0],
        "key_min": key_bounds[1],
        "key_max": key_bounds[2],
        "key_bloom": key_bloom,
    }


def _make_encode_fn(specs: list[tuple[str, str]], target_values: int,
                    snapshot_id: str, codecs: tuple[str, ...] | None,
                    part_from_task: bool = False,
                    track_file: bool = False,
                    str_codecs: tuple[str, ...] | None = None,
                    global_dict=None, key: str | None = None,
                    bloom: bool = True):
    # the requested key COLUMN; `key` is reused inside encode_fn as
    # the (part_id, input_file) buffer key and shadowed it for four
    # rounds — _key_bounds always fell back to the first string
    # column, silently ignoring a non-default key= (fixed r5)
    key_col = key

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        task_part = 0
        if part_from_task:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            task_part = ctx.partitionId() if ctx is not None else 0
        # key = (part_id, input_file) — file is "" when not tracked
        pending: dict[tuple[int, str], list[pa.Table]] = {}
        pending_vals: dict[tuple[int, str], int] = {}
        chunk_counters: dict[tuple[int, str], int] = {}

        def flush(key: tuple[int, str]) -> pa.RecordBatch:
            part, infile = key
            tbl = pa.concat_tables(pending.pop(key)).combine_chunks()
            pending_vals.pop(key)
            idx = chunk_counters.get(key, 0)
            chunk_counters[key] = idx + 1
            if infile:
                # file-content-addressed id: stable across resumed runs.
                # 64-bit sha256 prefix: a 32-bit hash birthday-collides
                # with ~50% probability at ~77k files, silently merging
                # two files' chunk namespaces.
                chunk_id = f"{path_tag(infile)}:{part:06d}:{idx:05d}"
            else:
                chunk_id = f"{part:08d}:{idx:06d}"
            row = {
                "chunk_id": chunk_id,
                "part_id": part,
                "chunk_idx": idx,
                "snapshot_id": snapshot_id,
                "input_file": infile,
                **_build_chunk(tbl, specs, key_col, codecs, str_codecs,
                               global_dict, bloom),
            }
            return pa.RecordBatch.from_pylist([row], schema=MANIFEST_SCHEMA)

        def batch_pieces(batch: pa.RecordBatch):
            tbl = pa.Table.from_batches([batch])
            if part_from_task and not track_file:
                return [((task_part, ""), tbl)]
            if part_from_task:
                files = batch.column("_file").to_pylist()
                tbl = tbl.drop_columns(["_file"])
                bounds = [0] + [i for i in range(1, len(files))
                                if files[i] != files[i - 1]] + [len(files)]
                return [((task_part, files[bounds[i]]),
                         tbl.slice(bounds[i], bounds[i + 1] - bounds[i]))
                        for i in range(len(bounds) - 1)]
            parts = batch.column("_part").to_numpy(zero_copy_only=False)
            # rows arrive sorted by (_part, key): runs are contiguous
            bounds = np.concatenate(
                ([0], np.flatnonzero(np.diff(parts)) + 1, [len(parts)]))
            return [
                ((int(parts[int(bounds[i])]), ""),
                 tbl.slice(int(bounds[i]),
                           int(bounds[i + 1]) - int(bounds[i]))
                 .drop_columns(["_part"]))
                for i in range(len(bounds) - 1)]

        for batch in batches:
            for key, piece in batch_pieces(batch):
                pending.setdefault(key, []).append(piece)
                pending_vals[key] = pending_vals.get(key, 0) + \
                    _n_values(piece, specs)
                if pending_vals[key] >= target_values:
                    # size-targeted cut: emit what has accumulated
                    yield flush(key)
        for key in sorted(pending):
            yield flush(key)

    return encode_fn


def encode_table(df: DataFrame,
                 specs: list[tuple[str, str]] | None = None,
                 key: str = "doc_id",
                 num_parts: int | None = None,
                 target_values: int = 1 << 20,
                 snapshot_id: str = "",
                 codecs: tuple[str, ...] | None = None,
                 mode: str = "scan",
                 track_input_file: bool = False,
                 str_codecs: tuple[str, ...] | None = None,
                 global_dict=None, bloom: bool = True) -> DataFrame:
    """Encode ``df`` into a manifest DataFrame of compressed chunks.

    ``bloom=False`` skips the per-chunk key bloom sidecar
    (operators/bloom.py) — lookups then degrade to zone-map-only
    pruning; use for write-once tables never point-probed.

    ``global_dict``: a :class:`~br_archive_spark.codecs.gdict.GlobalDict`
    (from ``build_global_dict``) shared by every chunk — token values
    map to frequency ranks through the broadcast LUT and chunks store a
    dictionary *reference* instead of a per-chunk dictionary, removing
    ~vocab×2B of metadata from every chunk. Decode needs the same dict.

    ``mode="scan"`` (default): zero-shuffle — chunks follow input
    splits; deterministic for a fixed input file layout and scan config
    regardless of executor count. The 100 TB bulk path.

    ``mode="hash"``: one explicit shuffle on ``xxhash64(key) % num_parts``
    with a partition-local sort — chunks become a pure function of table
    content (layout-independent); use for adversarial file layouts or
    content-addressed resume. ``num_parts`` is the explicit knob: size it
    so a partition's flattened token payload fits executor memory
    (total_tokens × 4 B / num_parts ≲ 256 MB).

    ``mode="range"``: one ``repartitionByRange`` shuffle + in-partition
    sort — chunks carry tight, near-disjoint key intervals, so
    ``lookup_range`` (and ``lookup_docs`` past the key bloom's 64-key
    cap) prune to O(matching chunks). Use when the read pattern is key
    ranges.
    """
    specs = specs or TOKEN_SPECS
    cols = [name for name, _ in specs]
    if mode == "scan":
        sel = [F.col(c) for c in cols]
        if track_input_file:
            # lineage column: chunks carry their source file so resumed
            # runs can skip already-encoded files (plans.lineage)
            sel.append(F.input_file_name().alias("_file"))
        prepared = df.select(*sel)
        fn = _make_encode_fn(specs, target_values, snapshot_id, codecs,
                             part_from_task=True,
                             track_file=track_input_file,
                             str_codecs=str_codecs,
                             global_dict=global_dict, key=key,
                             bloom=bloom)
        return prepared.mapInArrow(fn, MANIFEST_SPARK_SCHEMA)
    if mode == "range":
        # range-clustered layout: one repartitionByRange shuffle (range
        # bounds from a driver sample) + in-partition sort makes every
        # chunk's zone map a TIGHT key interval — a narrow lookup_range
        # then decodes O(matching chunks), the property hash mode
        # cannot give (hash scatter makes every chunk span the whole
        # keyspace). The layout for range-heavy read patterns at scale.
        spark = df.sparkSession
        n = num_parts or int(
            spark.conf.get("spark.sql.shuffle.partitions"))
        prepared = (df.select(*cols)
                    .repartitionByRange(n, key)
                    .sortWithinPartitions(key))
        fn = _make_encode_fn(specs, target_values, snapshot_id, codecs,
                             part_from_task=True,
                             str_codecs=str_codecs,
                             global_dict=global_dict, key=key,
                             bloom=bloom)
        return prepared.mapInArrow(fn, MANIFEST_SPARK_SCHEMA)
    if mode != "hash":
        raise ValueError(f"unknown encode mode {mode!r}")
    spark = df.sparkSession
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    part = F.pmod(F.xxhash64(F.col(key)), F.lit(num_parts)).cast("int")
    prepared = (df
                .select(*cols, part.alias("_part"))
                .repartition(num_parts, "_part")
                .sortWithinPartitions("_part", key))
    fn = _make_encode_fn(specs, target_values, snapshot_id, codecs,
                         str_codecs=str_codecs, global_dict=global_dict,
                         key=key, bloom=bloom)
    return prepared.mapInArrow(fn, MANIFEST_SPARK_SCHEMA)


def encode_files(spark, input_path,
                 specs: list[tuple[str, str]] | None = None,
                 target_values: int = 1 << 20,
                 snapshot_id: str = "",
                 codecs: tuple[str, ...] | None = None,
                 str_codecs: tuple[str, ...] | None = None,
                 global_dict=None,
                 skip_files: set[str] | frozenset[str] | None = None,
                 target_unit_bytes: int | None = None,
                 driver_enum_threshold: int = 2048,
                 output_dir: str | None = None,
                 filesystem=None) -> DataFrame:
    """Bulk-path encode: tasks read their parquet splits DIRECTLY.

    ``mode="scan"`` ships every byte twice — the JVM reads parquet,
    re-serializes to Arrow, and streams it to the Python worker over a
    local socket. For a full-table encode (no predicate, no projection
    beyond the encoded columns) that relay is pure overhead: roughly
    half the task's cycles at 100 TB. Here Spark parallelizes over
    (file, row-group) work units — a few bytes each — and the encode
    UDF opens its parquet split with pyarrow in-process, so token bytes
    cross no JVM boundary at all. Spark still owns scheduling, retries,
    speculative execution, and the manifest is the same DataFrame.

    Work units are (path, row_group): the parquet row group (~128 MB)
    is the natural split, so one giant file does not pin one task (the
    reference's implicit skew story — a huge file is many chunks,
    ``src/io/lib_bra_io_file_chunks.c:199`` — kept at cluster scale).
    Above ``driver_enum_threshold`` files the footer reads run in tasks
    (100 k footers would serialize a driver) and the ``(path, rg,
    bytes)`` units are collected back to the driver.

    The source is listed by ``fsutil.list_files`` (no Spark job), the
    units are packed by ``fsutil.byte_buckets`` into contiguous
    byte-budget BUCKETS of ``target_unit_bytes``, and
    ``fsutil.run_buckets`` runs one bucket per task with no exchange.
    A trivial Python task costs ~0.03–0.04 s of CPU in pyspark's set-up
    (4 cores, Python 3.11; ~0.2–0.3 s on workers that import pyspark
    from ``SPARK_HOME``'s archives, see ``br_archive_spark._daemon``).
    So Python tasks stay few and large: small files batch together,
    while a 128 MB row group is a healthy task on its own. Chunk ids stay
    ``filecrc:rowgroup:index`` — a pure function of the input layout,
    independent of bucketing, so resumes reproduce identical ids.

    ``skip_files``: files already present in the output manifest
    (lineage resume) — pruned before any footer is read.

    ``output_dir``: when set, each task writes its manifest rows to its
    OWN parquet shard in-process (tmp-name + atomic rename) and the
    returned DataFrame carries only payload-free stats rows — so
    encoded payload bytes never cross the Python→JVM boundary on the
    way OUT either. This is the full bulk path: payload crosses zero
    process boundaries end-to-end; Spark schedules, retries, and
    collects lineage. Shard names derive from the first unit's content
    address (layout-stable), so a resumed or retried task overwrites
    its own shard idempotently rather than duplicating it.

    All file I/O goes through ``pyarrow.fs`` (``fsutil.resolve_fs``):
    plain paths and s3://-style URIs both work, and ``filesystem=``
    accepts an explicit FileSystem (tested with ``SubTreeFileSystem``
    standing in for a remote store) that is pickled into the tasks.
    """
    specs = specs or TOKEN_SPECS

    paths = list_files(input_path, filesystem)
    if skip_files:
        paths = [p for p in paths if p not in skip_files]
    if output_dir is not None:
        ensure_dir(output_dir, filesystem)
    if not paths:
        return _empty_frame(spark, MANIFEST_SPARK_SCHEMA)

    def footer_units(paths: list[str]) -> Iterator[pa.RecordBatch]:
        out_paths, out_rgs, out_bytes = [], [], []
        for p in paths:
            meta = open_parquet(p, filesystem).metadata
            for i in range(meta.num_row_groups):
                out_paths.append(p)
                out_rgs.append(i)
                out_bytes.append(meta.row_group(i).total_byte_size)
        yield pa.RecordBatch.from_arrays(
            [pa.array(out_paths, pa.string()),
             pa.array(out_rgs, pa.int32()),
             pa.array(out_bytes, pa.int64())],
            names=["path", "rg", "bytes"])

    def encode_units(units: list) -> Iterator[pa.RecordBatch]:
        fn = _make_encode_fn(specs, target_values, snapshot_id, codecs,
                             part_from_task=False, track_file=False,
                             str_codecs=str_codecs, global_dict=global_dict)
        cols = [name for name, _ in specs]
        open_path = pf = None
        for path, rg in units:
            if path != open_path:
                open_path, pf = path, open_parquet(path, filesystem)
            ftag = path_tag(path)

            def feed() -> Iterator[pa.RecordBatch]:
                # use_threads=False: every core already runs its own
                # task; per-task arrow thread pools (default = all
                # cores) would oversubscribe the executor 16x
                for rb in pf.iter_batches(batch_size=8192,
                                          row_groups=[rg],
                                          columns=cols,
                                          use_threads=False):
                    arrays = [rb.column(c) for c in cols]
                    part = pa.array(
                        np.zeros(rb.num_rows, dtype=np.int32))
                    yield pa.RecordBatch.from_arrays(
                        arrays + [part], names=cols + ["_part"])

            unit_batches = []
            for out in fn(feed()):
                idx = out.column("chunk_idx")[0].as_py()
                patched = {
                    "chunk_id": pa.array(
                        [f"{ftag}:{rg:05d}:{idx:05d}"]),
                    "part_id": pa.array([rg], pa.int32()),
                    "input_file": pa.array([path]),
                }
                row = pa.RecordBatch.from_arrays(
                    [patched.get(name) or out.column(name)
                     for name in MANIFEST_SCHEMA.names],
                    schema=MANIFEST_SCHEMA)
                if output_dir is None:
                    yield row
                else:
                    unit_batches.append(row)
            if output_dir is not None and unit_batches:
                # in-process sink: one shard per (file, row-group),
                # named by content address → bucketing-independent,
                # idempotent under retry/resume (atomic write)
                shard = join_path(output_dir,
                                  f"man-{ftag}-{rg:05d}.parquet")
                write_parquet_atomic(
                    pa.Table.from_batches(unit_batches), shard,
                    filesystem)
                empty_cols = pa.array(
                    [[] for _ in unit_batches],
                    type=MANIFEST_SCHEMA.field("columns").type)
                stats = pa.Table.from_batches(unit_batches) \
                    .set_column(
                        MANIFEST_SCHEMA.get_field_index("columns"),
                        "columns", empty_cols)
                yield from stats.to_batches()

    if len(paths) <= driver_enum_threshold:
        # footer reads on the driver, ~1 ms each
        units = next(footer_units(paths))
    else:
        # footer reads in tasks: a footer is ~1 ms but a Python task
        # costs ~0.04 s of pyspark set-up (~0.2–0.3 s on the stock
        # daemon, see the docstring) — many footers per task, 2 waves
        # across the cluster; the (path, rg, bytes) units come back to
        # the driver in path order for the bucketing below
        step = -(-len(paths) // (spark.sparkContext.defaultParallelism * 2))
        groups = [paths[i:i + step] for i in range(0, len(paths), step)]
        units = run_buckets(spark, groups, footer_units,
                            "path string, rg int, bytes long").toArrow()
    sizes = units.column("bytes").to_pylist()
    target = bucket_target(spark, target_unit_bytes, sum(sizes),
                           16 << 20, 256 << 20)
    buckets = byte_buckets(
        list(zip(units.column("path").to_pylist(),
                 units.column("rg").to_pylist())), sizes, target)
    return run_buckets(spark, buckets, encode_units, MANIFEST_SPARK_SCHEMA)
