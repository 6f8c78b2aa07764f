"""Single-process, no-Spark replay of the per-chunk kernels.

Runs the package's own encode/decode closures (``_make_encode_fn``,
``_make_decode_fn``) over a workload's parquet row groups or manifest
shards, the way one Spark task would, with the module-level functions
of each layer wrapped in spans (:func:`install`). The per-layer table
(:func:`layer_table`) is computed from those spans' self times.

Wrapping is done where each function is looked up at call time: a name
imported into another module is patched in that module's namespace.
Only names that exist are wrapped, so the same code runs against older
trees of the package (``slide.py``).
"""

from __future__ import annotations

import glob
import time

import tracing

CODECS = ["plain", "for", "rle", "dict", "dict_rle", "delta", "dd",
          "dict_z", "dict_zstd", "zlib", "zstd", "str_plain", "str_dict",
          "str_zstd", "str_zlib", "fsst", "f_plain", "f_zstd",
          "f_shuffle_zstd"]

UDF_ENCODE = "operators.encode.udf"
UDF_DECODE = "operators.decode.udf"
COST = "codecs.cost"
COST_AUTO = "codecs.cost.auto"
ENCODE = "codecs.encode"
DECODE = "codecs.decode"
CRC = "integrity.crc"
EXTRACT = "operators.encode.extract"
STATS = "operators.encode.stats"
BLOOM = "operators.bloom.build"
REBUILD = "operators.decode.rebuild"
READ = "operators.fsutil.read"
WRITE = "operators.fsutil.write"
CHUNK = "operators.chunk"


def _n_strings(offsets) -> int:
    return max(len(offsets) - 1, 0)


def _note_auto_int(sp, args, result):
    sp.attrs["values"] = len(args[0])
    sp.attrs["codec"] = result[0]


def _note_auto_str(sp, args, result):
    sp.attrs["values"] = _n_strings(args[1])
    sp.attrs["codec"] = result[0]


def _note_enc_int(sp, args, result):
    sp.attrs["values"] = len(args[1])


def _note_enc_str(sp, args, result):
    sp.attrs["values"] = _n_strings(args[2])


def _note_dec_len(sp, args, result):
    sp.attrs["values"] = len(result)


def _note_dec_str(sp, args, result):
    sp.attrs["values"] = _n_strings(result[1])


def _note_crc(sp, args, result):
    sp.attrs["bytes"] = sum(len(p) for p in args)


def install(tracer: tracing.Tracer) -> None:
    """Wrap every layer function this tree of the package has."""
    import importlib

    def mod(name):
        try:
            return importlib.import_module(f"br_archive_spark.{name}")
        except ImportError:
            return None

    enc, dec = mod("operators.encode"), mod("operators.decode")
    chunk, cost = mod("operators.chunk"), mod("codecs.cost")
    fcodecs, bloom = mod("codecs.floatcodecs"), mod("operators.bloom")
    plan = [
        (enc, "_extract", EXTRACT, None),
        (enc, "_entry_stats", STATS, None),
        (enc, "encode_column", CHUNK, None),
        (enc, "chunk_checksum", CRC, _note_crc),
        (enc, "write_parquet_atomic", WRITE, None),
        (enc, "open_parquet", READ, None),
        (dec, "chunk_checksum", CRC, _note_crc),
        (dec, "read_parquet", READ, None),
        (dec, "decode_column", CHUNK, None),
        (dec, "_rebuild", REBUILD, None),
        (chunk, "encode_int_auto", COST_AUTO, _note_auto_int),
        (chunk, "encode_str_auto", COST_AUTO, _note_auto_str),
        (chunk, "encode_float_auto", COST_AUTO, _note_auto_int),
        (chunk, "decode_int", DECODE, _note_dec_len),
        (chunk, "decode_str", DECODE, _note_dec_str),
        (chunk, "decode_float", DECODE, _note_dec_len),
        (cost, "choose_int_codec", COST, None),
        (cost, "int_chunk_stats", COST, None),
        (cost, "encode_int", ENCODE, _note_enc_int),
        (cost, "encode_str", ENCODE, _note_enc_str),
        (fcodecs, "encode_float", ENCODE, _note_enc_int),
        (bloom, "bloom_from_hashes", BLOOM, None),
        (bloom, "hll_from_hashes", BLOOM, None),
        (bloom, "string_hashes", BLOOM, None),
        (bloom, "int_hashes", BLOOM, None),
        (bloom, "build_bloom", BLOOM, None),
        (bloom, "build_int_bloom", BLOOM, None),
    ]
    for module, attr, name, note in plan:
        if module is not None and hasattr(module, attr):
            tracer.wrap(module, attr, name, note)


def _feed(pf, rg, cols, tracer):
    """Arrow batches of one row group, as ``encode_files`` feeds its
    encode closure (a zero ``_part`` column), with each read timed."""
    import numpy as np
    import pyarrow as pa

    it = pf.iter_batches(batch_size=8192, row_groups=[rg], columns=cols,
                         use_threads=False)
    while True:
        with tracer.span(READ):
            rb = next(it, None)
        if rb is None:
            return
        part = pa.array(np.zeros(rb.num_rows, dtype=np.int32))
        yield pa.RecordBatch.from_arrays(
            [rb.column(c) for c in cols] + [part], names=cols + ["_part"])


def encode_files(tracer, input_dir: str, out_dir: str | None,
                 specs=None, target_values: int = 1 << 20) -> dict:
    """Encode every (file, row group) of ``input_dir`` the way an
    ``encode_files`` task does, writing one manifest shard per unit to
    ``out_dir`` (when given). Returns chunk/byte totals."""
    import pyarrow as pa

    from br_archive_spark.operators import encode as enc

    specs = specs or enc.TOKEN_SPECS
    cols = [n for n, _ in specs]
    totals = {"chunks": 0, "enc_bytes": 0, "n_values": 0}
    for i, path in enumerate(sorted(glob.glob(f"{input_dir}/*.parquet"))):
        pf = enc.open_parquet(path)
        for rg in range(pf.metadata.num_row_groups):
            with tracer.span(UDF_ENCODE):
                fn = enc._make_encode_fn(specs, target_values, "", None,
                                         part_from_task=False)
                rows = list(fn(_feed(pf, rg, cols, tracer)))
                for r in rows:
                    totals["chunks"] += 1
                    totals["enc_bytes"] += r.column("enc_bytes")[0].as_py()
                    totals["n_values"] += r.column("n_values")[0].as_py()
                if out_dir is not None and rows:
                    enc.write_parquet_atomic(
                        pa.Table.from_batches(rows),
                        f"{out_dir}/man-{i:05d}-{rg:05d}.parquet")
    return totals


def encode_partitions(tracer, table, specs, key: str, parts: int,
                      out_dir: str | None = None,
                      target_values: int = 1 << 20) -> dict:
    """Encode an in-memory table the way ``encode_table(mode="range")``
    does: sorted by ``key``, cut into ``parts`` contiguous partitions,
    each fed through one encode closure in 8192-row batches, writing one
    manifest shard per partition to ``out_dir`` (when given)."""
    import pyarrow as pa

    from br_archive_spark.operators import encode as enc

    table = table.sort_by(key)
    n = table.num_rows
    totals = {"chunks": 0, "enc_bytes": 0, "n_values": 0}
    for p in range(parts):
        part = table.slice(p * n // parts, (p + 1) * n // parts
                           - p * n // parts)
        with tracer.span(UDF_ENCODE):
            fn = enc._make_encode_fn(specs, target_values, "", None,
                                     part_from_task=True)
            rows = list(fn(iter(part.to_batches(max_chunksize=8192))))
            for r in rows:
                totals["chunks"] += 1
                totals["enc_bytes"] += r.column("enc_bytes")[0].as_py()
                totals["n_values"] += r.column("n_values")[0].as_py()
            if out_dir is not None and rows:
                enc.write_parquet_atomic(pa.Table.from_batches(rows),
                                         f"{out_dir}/man-{p:05d}.parquet")
    return totals


def decode_shards(tracer, manifest_dir: str, specs=None,
                  with_n_tok: bool = True) -> dict:
    """Checksum-verified decode of every manifest shard, the way a
    ``decode_files`` task does. Returns row/value totals."""
    from br_archive_spark.operators import decode as dec
    from br_archive_spark.operators import encode as enc

    specs = specs or enc.TOKEN_SPECS
    man_cols = ["chunk_id", "n_rows", "checksum", "checksum_algo",
                "columns"]
    totals = {"rows": 0, "shards": 0}
    for path in sorted(glob.glob(f"{manifest_dir}/*.parquet")):
        with tracer.span(UDF_DECODE):
            tbl = dec.read_parquet(path, None, columns=man_cols,
                                   use_threads=False)
            fn = dec._make_decode_fn(specs, with_n_tok, True)
            for b in fn(iter(tbl.to_batches())):
                totals["rows"] += b.num_rows
        totals["shards"] += 1
    return totals


def run(work, traced: bool) -> tuple[tracing.Tracer, float]:
    """Run ``work(tracer)`` once, with the layer wrappers installed when
    ``traced``; returns the tracer and the wall seconds."""
    tracer = tracing.Tracer()
    if traced:
        install(tracer)
    try:
        t0 = time.perf_counter()
        work(tracer)
        wall = time.perf_counter() - t0
    finally:
        tracer.unwrap_all()
    return tracer, wall


def layer_table(spans, wall_s: float) -> dict[str, float]:
    """Per-layer metrics from one traced replay.

    Bases: ``*.share`` is a share of the replay's wall seconds;
    ``*.ns_per_value`` divides by the values in final encodes (encode
    side) or the values decoded (decode side); ``trial_fraction`` is
    :func:`tracing.trial_fraction` over the same final values."""
    selfs = tracing.self_seconds_by_name(spans)
    final_vals = tracing.attr_sum(spans, COST_AUTO, "values")
    enc_vals = tracing.attr_sum(spans, ENCODE, "values")
    dec_vals = tracing.attr_sum(spans, DECODE, "values")
    crc_bytes = tracing.attr_sum(spans, CRC, "bytes")
    cost_s = selfs.get(COST, 0.0) + selfs.get(COST_AUTO, 0.0)
    enc_s = selfs.get(ENCODE, 0.0)
    dec_s = selfs.get(DECODE, 0.0)
    crc_s = selfs.get(CRC, 0.0)
    top = sum(sp.duration for sp in spans if sp.parent < 0) / 1e9
    out = {
        "codecs.cost.self_s": cost_s,
        "codecs.cost.share": tracing.per(cost_s, wall_s),
        "codecs.cost.ns_per_value": tracing.per(cost_s * 1e9, final_vals),
        "codecs.encode.self_s": enc_s,
        "codecs.encode.ns_per_value": tracing.per(enc_s * 1e9, final_vals),
        "codecs.encode.trial_fraction": tracing.trial_fraction(
            enc_vals, final_vals),
        "codecs.encode.final_values": final_vals,
        "codecs.decode.self_s": dec_s,
        "codecs.decode.ns_per_value": tracing.per(dec_s * 1e9, dec_vals),
        "codecs.decode.values": dec_vals,
        "integrity.crc.self_s": crc_s,
        "integrity.crc.mb_per_s": tracing.per(crc_bytes / 1e6, crc_s),
        "integrity.crc.share": tracing.per(crc_s, wall_s),
        "operators.encode.extract_s": selfs.get(EXTRACT, 0.0),
        "operators.encode.stats_s": selfs.get(STATS, 0.0),
        "operators.bloom.build_s": selfs.get(BLOOM, 0.0),
        "operators.encode.other_s": selfs.get(UDF_ENCODE, 0.0),
        "operators.chunk.self_s": selfs.get(CHUNK, 0.0),
        "operators.decode.rebuild_s": selfs.get(REBUILD, 0.0),
        "operators.decode.other_s": selfs.get(UDF_DECODE, 0.0),
        "operators.fsutil.write_s": selfs.get(WRITE, 0.0),
        "operators.fsutil.read_s": selfs.get(READ, 0.0),
        "replay.wall_s": wall_s,
        "replay.unattributed_s": wall_s - top,
    }
    out.update({f"codecs.choice.{c}": n
                for c, n in codec_histogram(spans).items()})
    return out


def codec_histogram(spans) -> dict[str, int]:
    """How many streams each codec was finally chosen for."""
    hist = {c: 0 for c in CODECS}
    for sp in spans:
        if sp.name == COST_AUTO:
            c = sp.attrs["codec"]
            hist[c] = hist.get(c, 0) + 1
    return hist


