"""Round-trip verification — the reference's ``unbra -t`` re-expressed.

The reference's test mode decodes every chunk, recomputes checksums and
compares against stored ones without writing output
(``src/io/lib_bra_io_file_chunks.c:97-112``,
``src/io/lib_bra_io_file_ctx.c:771-783``); its e2e tests byte-compare
extracted files against the originals (``AreFilesContentEquals``,
``test/test_bra.cpp:22-53``). Here both become DataFrame queries:

* :func:`verify_roundtrip` — decode and equality-join against the source
  on the key; any row whose token array differs (or missing/extra rows)
  is a failure. Broadcast-free sort-merge join on the key; at 100 TB both
  sides are key-partitioned so AQE keeps it shuffle-light.
* :func:`compression_report` — the ``unbra -l`` listing
  (``src/io/lib_bra_io_file_ctx.c:701-804``) as a pure manifest
  aggregation: per-codec chunk counts, bytes, and ratios, computed
  without touching payload bytes (column pruning does the skipping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decode import decode_table

__all__ = ["verify_roundtrip", "compression_report",
           "table_checksum", "verify_stats"]


def verify_roundtrip(source: DataFrame, encoded: DataFrame,
                     key: str = "doc_id", global_dict=None) -> dict:
    """Decode ``encoded`` and compare with ``source`` row-by-row.

    Returns a dict with row counts and mismatch counts; all-zero
    mismatches == the reference's bit-identical invariant.
    """
    decoded = decode_table(encoded, global_dict=global_dict)
    s = source.select(key, F.col("tokens").alias("_src_tokens"))
    d = decoded.select(key, F.col("tokens").alias("_dec_tokens"))
    joined = s.join(d, key, "full_outer")
    agg = joined.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("_src_tokens").isNull(), 1).otherwise(0))
        .alias("extra_rows"),
        F.sum(F.when(F.col("_dec_tokens").isNull(), 1).otherwise(0))
        .alias("missing_rows"),
        F.sum(F.when(
            F.col("_src_tokens").isNotNull()
            & F.col("_dec_tokens").isNotNull()
            & (F.col("_src_tokens") != F.col("_dec_tokens")), 1)
            .otherwise(0)).alias("mismatched_rows"),
    ).collect()[0]
    return {
        "rows": agg["rows"],
        "extra_rows": agg["extra_rows"] or 0,
        "missing_rows": agg["missing_rows"] or 0,
        "mismatched_rows": agg["mismatched_rows"] or 0,
        "ok": not ((agg["extra_rows"] or 0) or (agg["missing_rows"] or 0)
                   or (agg["mismatched_rows"] or 0)),
    }


def compression_report(encoded: DataFrame) -> DataFrame:
    """Per-codec compression statistics from manifest columns only."""
    stats_col = ("column_stats" if "column_stats" in encoded.columns
                 else "columns")
    cols = encoded.select(
        "chunk_id", F.explode(stats_col).alias("c"))
    return (cols
            .groupBy(F.col("c.name").alias("column"),
                     F.col("c.codec").alias("codec"))
            .agg(F.count(F.lit(1)).alias("chunks"),
                 F.sum("c.orig_bytes").alias("orig_bytes"),
                 F.sum("c.enc_bytes").alias("enc_bytes"))
            .withColumn("ratio",
                        F.col("enc_bytes") / F.col("orig_bytes"))
            .orderBy("column", "codec"))


def table_checksum(encoded: DataFrame) -> int:
    """One checksum for the whole encoded table, without re-reading
    payload bytes.

    The reference folds per-chunk source CRCs into a stream CRC with
    the GF(2) combine (``src/io/lib_bra_io_file_chunks.c:248-249``,
    ``src/utils/lib_bra_crc32c.c:181-231``) so the archive checksum
    never re-reads data; here the same combine folds the per-chunk
    manifest checksums (each covering that chunk's params+payload,
    whose concatenated length IS ``enc_bytes``) in ``chunk_id`` order,
    each with its own ``checksum_algo``'s polynomial. A table written
    under one algorithm gets that algorithm's CRC of its concatenated
    stream; a mixed one (a resumed encode over an old manifest) gets a
    deterministic fold. A missing or unknown tag raises
    ``ChecksumError`` naming the chunk.
    The fold runs over manifest METADATA only — four small columns,
    payloads pruned — and is associative, so the value is independent
    of how chunks were produced or compacted: the audit use is
    comparing a manifest before/after compaction or replication with
    one integer.
    """
    from ..integrity.crc import checksum_spec, crc_combine

    rows = (encoded.select("chunk_id", "checksum", "enc_bytes",
                           "checksum_algo")
            .orderBy("chunk_id").collect())
    crc = 0
    for r in rows:
        poly = checksum_spec(r["checksum_algo"], r["chunk_id"])[1]
        crc = crc_combine(crc, r["checksum"], r["enc_bytes"], poly)
    return crc


def verify_stats(encoded: DataFrame,
                 specs: list[tuple[str, str]] | None = None) -> dict:
    """Trust-but-verify for the numeric stats lane: queries answered
    from the manifest (``scan_range`` pruning, ``agg_encoded``) are
    only as correct as ``column_stats`` — this recomputes every
    int-backed column's COUNT/SUM/MIN/MAX/null-count from a FULL
    decode and diffs them against :func:`agg_encoded`.

    Returns ``{"ok": bool, "columns": {name: {"ok": bool, lanes...}}}``.
    A null manifest ``vsum`` with values present (the declared
    int64-overflow fallback) is reported as ``sum_declined`` and does
    not fail verification — it is the documented contract, not a
    corruption. Analog of the reference's `-t` test mode generalized
    from payload checksums to derived metadata.
    """
    from .decode import _int_view, agg_encoded, manifest_specs
    from .encode import _float_kind, _int_kind

    specs = specs or manifest_specs(encoded)
    dec = decode_table(encoded, specs=specs, with_n_tok=False)
    out, all_ok = {}, True
    for name, kind in specs:
        if _float_kind(kind):
            col, ok = _verify_float_lanes(encoded, dec, name, kind)
            all_ok &= ok
            out[name] = col
            continue
        if kind == "string":
            col, ok = _verify_string_lanes(encoded, dec, name)
            all_ok &= ok
            out[name] = col
            continue
        if not _int_kind(kind):
            continue
        extra_nulls = 0
        if kind == "int_list":
            # inner explode drops null AND empty rows (an empty list
            # is not a null); count null ROWS separately — stats count
            # null rows plus null elements
            extra_nulls = dec.where(F.col(name).isNull()).count()
            lane = dec.select(F.explode(name).alias("e")) \
                .select(F.col("e").cast("long").alias("x"))
        else:
            lane = dec.select(_int_view(name, kind).alias("x"))
        truth = lane.agg(
            F.count("x").alias("n_values"),
            F.coalesce(
                F.sum(F.when(F.col("x").isNull(), 1).otherwise(0)),
                F.lit(0)).alias("elem_nulls"),
            F.min("x").alias("vmin"), F.max("x").alias("vmax"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("vsum")
        ).collect()[0]
        truth = {"n_values": truth["n_values"],
                 "n_nulls": truth["elem_nulls"] + extra_nulls,
                 "vmin": truth["vmin"], "vmax": truth["vmax"],
                 "vsum": truth["vsum"]}
        man = agg_encoded(encoded, name).collect()[0]
        col = {"sum_declined": False}
        ok = True
        for lane_name in ("n_values", "n_nulls", "vmin", "vmax"):
            m, t = man[lane_name], truth[lane_name]
            col[lane_name] = {"manifest": m, "decoded": t}
            ok &= m == t
        if man["vsum"] is None and (man["n_values"] or 0) > 0:
            col["sum_declined"] = True
        else:
            mv = None if man["vsum"] is None else int(man["vsum"])
            tv = None if truth["vsum"] is None else int(truth["vsum"])
            col["vsum"] = {"manifest": mv, "decoded": tv}
            ok &= mv == tv
        col["ok"] = ok
        all_ok &= ok
        out[name] = col
    # r5 sketch-lane audit: the manifest HLL estimate must land
    # within 10% of the decoded exact distinct count (p=10 registers
    # → 3.25% std error; 10% ≈ 3σ, and the hashes are deterministic,
    # so for fixed data this is a fixed — not flaky — check). Columns
    # without a sketch (float/int_list kinds, bloom=False encodes,
    # pre-r5 manifests) are skipped, never guessed at.
    from .decode import _has_lane, ndv_encoded

    if _has_lane(encoded, "hll"):
        for name, _kind in specs:
            try:
                est = ndv_encoded(encoded, name)
            except ValueError:
                continue
            exact = (dec.where(F.col(name).isNotNull())
                     .select(name).distinct().count())
            ndv_ok = abs(est - exact) <= max(1.0, 0.10 * exact)
            entry = out.setdefault(name, {"ok": True})
            entry["ndv"] = {"manifest_est": est, "decoded": exact,
                            "ok": ndv_ok}
            entry["ok"] = bool(entry["ok"] and ndv_ok)
            all_ok &= ndv_ok
    # r5 value-counts audit: at slack 0 the summed per-chunk counts
    # must EQUAL the decoded GROUP BY's top values; at slack > 0
    # every reported count must be a lower bound within slack of the
    # true count (truncation only ever drops occurrences).
    from .decode import topk_encoded

    if _has_lane(encoded, "topk"):
        for name, kind in specs:
            try:
                top, slack = topk_encoded(encoded, name, k=5)
            except ValueError:
                continue
            lane = (F.col(name) if kind in ("string", "binary")
                    else _int_view(name, kind))
            truth = {str(r["v"]): r["cnt"] for r in
                     dec.where(F.col(name).isNotNull())
                     .select(lane.cast("string").alias("v"))
                     .groupBy("v").agg(F.count("*").alias("cnt"))
                     .collect()}
            if slack == 0:
                exp = sorted(truth.items(),
                             key=lambda t: (-t[1], t[0]))[:5]
                tk_ok = top == [(v, c) for v, c in exp]
            else:
                tk_ok = all(c <= truth.get(v, 0) <= c + slack
                            for v, c in top)
            entry = out.setdefault(name, {"ok": True})
            entry["topk"] = {"manifest": top, "slack": slack,
                             "ok": tk_ok}
            entry["ok"] = bool(entry["ok"] and tk_ok)
            all_ok &= tk_ok
    # r5 selectivity-histogram audit: hist_encoded's contract is a
    # RIGOROUS bracket, so it is directly checkable — the full-domain
    # band must come back EXACT (every bucket fully contained ⇒
    # cmin == cmax == decoded non-null count) and an interior
    # half-domain band must bracket the decoded count. Kinds without
    # the lane (string/binary/list) and pre-r5 manifests are refused
    # by design and skipped silently; a histogrammable column whose
    # chunks lack a histogram (bloom=False increments, ±Inf float
    # chunks) is a coverage gap and is reported as skipped.
    from .decode import _stats_entry, hist_encoded

    if _has_lane(encoded, "hist"):
        for name, kind in specs:
            if kind == "float":
                lane = F.when(~F.isnan(F.col(name)), F.col(name))
            elif _int_kind(kind) and kind != "int_list":
                lane = _int_view(name, kind)
            else:
                continue
            row = dec.agg(F.min(lane).alias("lo"),
                          F.max(lane).alias("hi"),
                          F.count(lane).alias("nn")).collect()[0]
            if row["lo"] is None:
                continue                 # no values: nothing to audit
            entry = out.setdefault(name, {"ok": True})
            st = _stats_entry(name)
            gaps = encoded.where(
                st["hist"].isNull()
                & (F.coalesce(st["n_vals"], F.lit(1)) > 0)).count()
            if gaps:
                entry["hist"] = {
                    "skipped": f"{gaps} chunks without histogram"}
                continue
            lo, hi, nn = row["lo"], row["hi"], int(row["nn"])
            mid = (lo + (hi - lo) / 2 if kind == "float"
                   else lo + (hi - lo) // 2)
            full = hist_encoded(encoded, name, lo, hi)
            part = hist_encoded(encoded, name, lo, mid)
            t_part = dec.where((lane >= F.lit(lo))
                               & (lane <= F.lit(mid))).count()
            h_ok = (full == (nn, nn)
                    and part[0] <= t_part <= part[1])
            entry["hist"] = {"full_domain": list(full),
                             "decoded_n": nn,
                             "band": list(part),
                             "band_decoded": t_part, "ok": h_ok}
            entry["ok"] = bool(entry["ok"] and h_ok)
            all_ok &= h_ok
    return {"ok": bool(all_ok), "columns": out}


def _verify_string_lanes(encoded, dec, name: str):
    """String-lane cross-check (r5): smin/smax are truncate(16)
    BOUNDS, so the contract is CONTAINMENT, not equality — the
    manifest's smin must sort <= the decoded min and its smax (when
    present; null = declared unbounded above) >= the decoded max.
    Count lanes stay exact."""
    from pyspark.sql import functions as F

    from .decode import _has_lane, agg_encoded

    if not _has_lane(encoded, "smin"):
        return {"ok": True, "skipped": "manifest predates string "
                "stats (no smin/smax lanes)"}, True
    truth = dec.agg(
        F.count(name).alias("n_values"),
        F.sum(F.when(F.col(name).isNull(), 1).otherwise(0))
        .alias("n_nulls"),
        F.min(name).alias("smin"), F.max(name).alias("smax")
    ).collect()[0]
    man = agg_encoded(encoded, name).collect()[0]
    col, ok = {}, True
    for lane_name in ("n_values", "n_nulls"):
        m, t = man[lane_name], truth[lane_name] or 0
        col[lane_name] = {"manifest": m, "decoded": t}
        ok &= m == t
    col["smin"] = {"manifest": man["smin"], "decoded": truth["smin"]}
    col["smax"] = {"manifest": man["smax"], "decoded": truth["smax"]}
    if truth["n_values"]:
        ok &= man["smin"] is not None and man["smin"] <= truth["smin"]
        ok &= man["smax"] is None or man["smax"] >= truth["smax"]
    col["ok"] = ok
    return col, ok


def _verify_float_lanes(encoded, dec, name: str, kind: str):
    """Float-lane cross-check (r4): the typed ``fmin``/``fmax`` double
    bounds plus count lanes vs a full decode. NaN is excluded from the
    decoded min/max exactly as encode excludes it from the recorded
    bounds; no vsum lane exists for floats (sums always decode)."""
    from pyspark.sql import functions as F

    from .decode import _has_lane, agg_encoded

    if not _has_lane(encoded, "fmin"):
        return {"ok": True, "skipped": "manifest predates float "
                "stats (no fmin/fmax lanes)"}, True
    extra_nulls = 0
    if kind in ("float_list", "double_list"):
        extra_nulls = dec.where(F.col(name).isNull()).count()
        lane = dec.select(F.explode(name).alias("e")) \
            .select(F.col("e").cast("double").alias("x"))
    else:
        lane = dec.select(F.col(name).cast("double").alias("x"))
    truth = lane.agg(
        F.count("x").alias("n_values"),
        F.coalesce(
            F.sum(F.when(F.col("x").isNull(), 1).otherwise(0)),
            F.lit(0)).alias("elem_nulls"),
        F.min(F.when(~F.isnan("x"), F.col("x"))).alias("fmin"),
        F.max(F.when(~F.isnan("x"), F.col("x"))).alias("fmax"),
    ).collect()[0]
    truth = {"n_values": truth["n_values"],
             "n_nulls": truth["elem_nulls"] + extra_nulls,
             "fmin": truth["fmin"], "fmax": truth["fmax"]}
    man = agg_encoded(encoded, name).collect()[0]
    col, ok = {}, True
    for lane_name in ("n_values", "n_nulls", "fmin", "fmax"):
        m, t = man[lane_name], truth[lane_name]
        col[lane_name] = {"manifest": m, "decoded": t}
        ok &= m == t
    col["ok"] = ok
    return col, ok
