"""CLI — the engine's equivalent of the reference's program surface.

Subcommand parity with the reference (SURVEY.md §2.6):

* ``encode``  ≙ ``bra -c -o out.BRa <files>``  (``src/prog/bra.cpp:79-105``)
* ``decode``  ≙ ``unbra -o outdir``            (``src/prog/unbra.cpp:67-109``)
* ``list``    ≙ ``unbra -l``                   (metadata only, no decode)
* ``verify``  ≙ ``unbra -t``                   (full decode + CRC check)
* ``bench``   — the perf harness (no reference analog; CI there is
  correctness-only)

Ship to a cluster with::

    python -m br_archive_spark.cli package   # builds dist/br_archive_spark.zip
    spark-submit --py-files dist/br_archive_spark.zip \\
        your_job.py  # or: -m br_archive_spark.cli encode ...

Local runs use ``--master local[N]``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
from fractions import Fraction


def _spark(args):
    from .plans.session import get_spark

    return get_spark(args.master, app_name="br-archive-spark-cli",
                     shuffle_partitions=args.shuffle_partitions)


def _load_gdict(path):
    from .codecs.gdict import load_global_dict

    return load_global_dict(path) if path else None


def cmd_encode(args) -> int:
    from .plans.lineage import encode_with_checkpoint

    spark = _spark(args)
    gd = None
    if args.global_dict:
        from .codecs.gdict import (build_global_dict, load_global_dict,
                                   save_global_dict)
        if os.path.exists(args.global_dict):
            # resume: reuse the job's existing dict so new chunks stay
            # decodable with the same reference
            gd = load_global_dict(args.global_dict)
        else:
            gd = build_global_dict(spark.read.parquet(args.input))
            save_global_dict(gd, args.global_dict)
    stats = encode_with_checkpoint(
        spark, args.input, args.output,
        snapshot_id=args.snapshot_id,
        mode=args.mode,
        target_values=args.target_values,
        global_dict=gd)
    print(json.dumps(stats))
    return 0


def cmd_decode(args) -> int:
    from .operators.decode import decode_files, decode_table, manifest_specs

    spark = _spark(args)
    gd = _load_gdict(args.global_dict)
    if os.path.exists(args.output) and not args.yes:
        print(json.dumps({"error": f"{args.output} exists (use -y)"}))
        return 1
    if getattr(args, "at", None) is not None:
        # time travel: input is a snapshot table dir; decode the head
        # (--at with no id) or the named snapshot
        from .operators.snapshots import load_snapshot

        man = load_snapshot(spark, args.input, args.at or None)
        decode_table(man, specs=manifest_specs(man), with_n_tok=False,
                     global_dict=gd).write.mode(
            "overwrite" if args.yes else "errorifexists"
        ).parquet(args.output)
        print(json.dumps(
            {"rows": spark.read.parquet(args.output).count()}))
        return 0
    if args.mode == "direct":
        # bulk path: tasks read manifest shards and write decoded
        # shards in-process (operators.decode.decode_files)
        if args.yes and os.path.isdir(args.output):
            # match spark-mode overwrite semantics: a previous decode's
            # shards (possibly from a different manifest) must not stay
            # mixed into the new dataset. Delete ONLY files this tool
            # wrote (dec-*.parquet and the .dec-*.tmp-* staging
            # leftovers of a crashed task) — never rmtree a directory
            # the user may have pointed at by mistake (ADVICE r2 #3);
            # refuse if unrecognized files are present.
            entries = os.listdir(args.output)
            ours = [f for f in entries
                    if f.startswith(("dec-", ".dec-")) and ".parquet" in f]
            foreign = [f for f in entries if f not in ours]
            if foreign:
                print(json.dumps({
                    "error": f"{args.output} contains files not written "
                             f"by a previous decode (e.g. {foreign[0]!r})"
                             " — refusing to clear it, even with -y"}))
                return 1
            for f in ours:
                os.unlink(os.path.join(args.output, f))

        stats = decode_files(
            spark, args.input,
            specs=manifest_specs(spark.read.parquet(args.input)),
            global_dict=gd, output_dir=args.output).collect()
        print(json.dumps({"rows": int(sum(r["n_rows"] for r in stats)),
                          "shards": len(stats)}))
        return 0
    man = spark.read.parquet(args.input)
    decode_table(man, specs=manifest_specs(man),
                 global_dict=gd).write.mode(
        "overwrite" if args.yes else "errorifexists").parquet(args.output)
    print(json.dumps({"rows": spark.read.parquet(args.output).count()}))
    return 0


def cmd_list(args) -> int:
    from pyspark.sql import functions as F

    from .operators.verify import compression_report

    spark = _spark(args)
    man = spark.read.parquet(args.input)
    totals = man.agg(
        F.count("*").alias("chunks"), F.sum("n_rows").alias("rows"),
        F.sum("n_values").alias("values"),
        F.sum("orig_bytes").alias("orig_bytes"),
        F.sum("enc_bytes").alias("enc_bytes")).collect()[0]
    print(json.dumps({**totals.asDict(),
                      "ratio": totals["enc_bytes"] / totals["orig_bytes"]}))
    compression_report(man).show(50, truncate=False)
    return 0


def cmd_snapshot(args) -> int:
    # import the submodule explicitly: operators/__init__ re-exports a
    # FUNCTION named `snapshots`, which shadows the module attribute
    from .operators.snapshots import (commit_snapshot, delete_tag,
                                      expire_snapshots, list_tags,
                                      recluster_snapshot, rollback,
                                      snapshot_diff, snapshot_fsck,
                                      snapshots, tag_snapshot)

    if args.action == "tags":         # pure fs — no session needed
        print(json.dumps(list_tags(args.table), sort_keys=True))
        return 0
    if args.action == "untag":
        delete_tag(args.table, args.name)
        print(json.dumps({"deleted": args.name}))
        return 0

    spark = _spark(args)
    if args.action == "tag":
        print(json.dumps(tag_snapshot(
            spark, args.table, args.name, snapshot_id=args.id,
            replace=args.force)))
        return 0
    if args.action == "log":
        for r in snapshots(spark, args.table).collect():
            print(json.dumps(r.asDict()))
        return 0
    if args.action == "commit":
        man = spark.read.parquet(args.manifest)
        kw = {}
        if args.expect is not None:
            # "" means "expect an empty table" (first commit)
            kw["expected_head"] = args.expect or None
        row = commit_snapshot(man, args.table, op=args.op,
                              rewrite=args.rewrite, **kw)
        print(json.dumps(row))
        return 0
    if args.action == "rollback":
        print(json.dumps(rollback(spark, args.table, args.id)))
        return 0
    if args.action == "expire":
        print(json.dumps(expire_snapshots(
            spark, args.table, keep_last=args.keep)))
        return 0
    if args.action == "recluster":
        zcols = args.zorder.split(",") if args.zorder else None
        print(json.dumps(recluster_snapshot(
            spark, args.table,
            key=None if zcols else args.key, zorder=zcols,
            num_parts=args.num_parts)))
        return 0
    if args.action == "fsck":
        rep = snapshot_fsck(spark, args.table)
        print(json.dumps(rep))
        return 0 if rep["ok"] else 1
    if args.action == "diff":
        from pyspark.sql import functions as F

        diff = snapshot_diff(spark, args.table, getattr(args, "from"),
                             args.to or None)
        if args.output:
            diff.write.mode("errorifexists").parquet(args.output)
            print(json.dumps(
                {"rows": spark.read.parquet(args.output).count()}))
        else:
            counts = {r["op"]: r["n"] for r in
                      diff.groupBy("op").agg(
                          F.count(F.lit(1)).alias("n")).collect()}
            print(json.dumps({"add": counts.get("add", 0),
                              "del": counts.get("del", 0)}))
        return 0
    return 1


def cmd_tokenize(args) -> int:
    """documents parquet -> the north-star token table (and vocab),
    with the optional cleaning passes in the SAME plan."""
    from pyspark.sql import functions as F

    from .functions.cleaning import contaminated_ids, remove_boilerplate
    from .functions.text import tokenize_corpus

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    if args.strip_boilerplate is not None:
        docs = remove_boilerplate(docs,
                                  max_repeats=args.strip_boilerplate)
    if args.decontaminate:
        probes = spark.read.parquet(args.decontaminate)
        bad = contaminated_ids(docs, probes, n=args.ngram)
        docs = docs.join(bad, "doc_id", "left_anti")
    tok, vocab = tokenize_corpus(
        docs, vocab_size=args.vocab_size,
        source_col="source" if "source" in docs.columns else None)
    tok.write.mode("errorifexists").parquet(args.output)
    if args.vocab_out:
        vocab.write.mode("errorifexists").parquet(args.vocab_out)
    out = spark.read.parquet(args.output)
    st = out.agg(F.count(F.lit(1)).alias("docs"),
                 F.sum("n_tok").alias("tokens")).first()
    print(json.dumps({"docs": int(st["docs"]),
                      "tokens": int(st["tokens"] or 0)}))
    return 0


def cmd_clean(args) -> int:
    """documents parquet -> cleaned parquet: PII scrub and/or the
    Gopher repetition filter, composed in ONE map-only plan."""
    from .functions.cleaning import repetition_stats, scrub_pii

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    dropped = 0
    if args.max_top_word_frac is not None:
        stats = repetition_stats(
            docs, max_top_word_frac=args.max_top_word_frac)
        keep = stats.where("keep").select("doc_id")
        n0 = docs.count()
        docs = docs.join(keep, "doc_id", "left_semi")
        dropped = n0 - docs.count()
    report = {"dropped_repetitive": int(dropped)}
    if args.scrub_pii:
        docs = scrub_pii(docs)
        docs.write.mode("errorifexists").parquet(args.output)
        out = spark.read.parquet(args.output)
        from pyspark.sql import functions as F
        st = out.agg(F.sum("n_emails").alias("e"),
                     F.sum("n_phones").alias("p"),
                     F.count(F.lit(1)).alias("n")).first()
        report.update(docs=int(st["n"]),
                      emails_redacted=int(st["e"] or 0),
                      phones_redacted=int(st["p"] or 0))
    else:
        docs.write.mode("errorifexists").parquet(args.output)
        report.update(docs=int(
            spark.read.parquet(args.output).count()))
    print(json.dumps(report))
    return 0


def cmd_sample(args) -> int:
    """token/documents parquet -> mixture-sampled parquet: per-stratum
    ratio (md5 cutoff) or exact token budget, optional train/val tag."""
    from pyspark.sql import functions as F

    from .functions.packing import (sample_by_tokens, stratified_sample,
                                    train_val_split)

    if bool(args.budget) == bool(args.fraction):
        print("sample: pass exactly one of --budget / --fraction",
              file=sys.stderr)
        return 2

    def parse(specs, cast):
        out = {}
        for s in specs:
            k, _, v = s.rpartition(":")
            if not k:
                raise SystemExit(f"sample: bad spec {s!r} "
                                 "(want STRATUM:VALUE)")
            out[k] = cast(v)
        return out

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    if args.budget:
        df = sample_by_tokens(df, parse(args.budget, int),
                              strata_col=args.strata_col,
                              id_col=args.id_col,
                              weight_col=args.weight_col)
    else:
        df = stratified_sample(df, parse(args.fraction, float),
                               strata_col=args.strata_col,
                               id_col=args.id_col)
    if args.split:
        df = df.withColumn(args.split,
                           train_val_split(df, id_col=args.id_col))
    df.write.mode("errorifexists").parquet(args.output)
    out = spark.read.parquet(args.output)
    agg = [F.count(F.lit(1)).alias("n")]
    if args.budget:
        agg.append(F.sum(args.weight_col).cast("long").alias("w"))
    per = out.groupBy(args.strata_col).agg(*agg).collect()
    report = {"rows": int(sum(r["n"] for r in per)),
              "per_stratum": {r[args.strata_col]: int(r["n"])
                              for r in per}}
    if args.budget:
        report["tokens_per_stratum"] = {
            r[args.strata_col]: int(r["w"]) for r in per}
    print(json.dumps(report, sort_keys=True))
    return 0


def cmd_score(args) -> int:
    """token parquet -> the same rows plus a per-doc unigram-LM
    cross-entropy column (xent_bp), optional kill-threshold filter."""
    from pyspark.sql import functions as F

    from .functions.text import perplexity_score

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    lm = spark.read.parquet(args.lm) if args.lm else None
    scored = df.join(
        perplexity_score(df, lm=lm, tokens_col=args.tokens_col,
                         id_col=args.id_col),
        args.id_col)
    n_in = df.count()
    if args.max_xent is not None:
        scored = scored.where(F.col("xent_bp") < args.max_xent)
    scored.write.mode("errorifexists").parquet(args.output)
    out = spark.read.parquet(args.output)
    st = out.agg(F.count(F.lit(1)).alias("n"),
                 F.avg("xent_bp").alias("m")).first()
    print(json.dumps({"docs_in": int(n_in), "docs_out": int(st["n"]),
                      "mean_xent_bp": round(float(st["m"] or 0), 1)}))
    return 0


def cmd_verify(args) -> int:
    from .operators.verify import verify_roundtrip, verify_stats

    spark = _spark(args)
    man = spark.read.parquet(args.input)
    if args.stats:
        # trust-but-verify the stats lane: manifest aggregates vs a
        # full decode (no source table needed)
        res = verify_stats(man)
        print(json.dumps(res, default=str))
        return 0 if res["ok"] else 1
    if not args.source:
        print(json.dumps({"error": "--source required (or use --stats)"}))
        return 1
    src = spark.read.parquet(args.source)
    res = verify_roundtrip(src, man,
                           global_dict=_load_gdict(args.global_dict))
    print(json.dumps(res))
    return 0 if res["ok"] else 1


def cmd_lookup(args) -> int:
    """Point lookups — the partial-extraction analog of `unbra <entry>`:
    zone-map chunk pruning, key-column decode, per-row value decode
    (fsst entries parse only the requested strings)."""
    from .operators.decode import lookup_rows, manifest_specs, scan_where

    spark = _spark(args)
    man = spark.read.parquet(args.input)
    ids = list(args.ids)
    if getattr(args, "column", None):
        # value-membership lookup on any scalar int-backed or string
        # column (r5): zone map + column/key bloom pruning, then exact
        # residual — `lookup --column o_orderkey 42 4242`
        specs = manifest_specs(man)
        kind = dict(specs).get(args.column)
        if kind == "string":
            vals = ids
        elif kind == "binary":
            vals = [bytes.fromhex(v) for v in ids]   # hex on the CLI
        else:
            vals = [int(v) for v in ids]
        rows = scan_where(man, [], specs=specs, with_n_tok=False,
                          global_dict=_load_gdict(args.global_dict),
                          isin={args.column: vals}).collect()
        print(json.dumps({"found": len(rows), "column": args.column,
                          "rows": [r.asDict() for r in rows]},
                         default=str))
        return 0
    if getattr(args, "range", None):
        lo, hi = args.range
        rows = scan_where(man, [("doc_id", lo, hi)],
                          global_dict=_load_gdict(args.global_dict)
                          ).collect()
        print(json.dumps({"found": len(rows), "range": [lo, hi],
                          "docs": {r["doc_id"]: {"n_tok": r["n_tok"]}
                                   for r in rows}}, default=str))
        return 0
    if args.value_col:
        rows = lookup_rows(man, ids, value_col=args.value_col,
                           key=args.key).collect()
        out = {r[args.key]: r[args.value_col] for r in rows}
    else:
        rows = scan_where(man, [], isin={args.key: ids},
                          global_dict=_load_gdict(args.global_dict)
                          ).collect()
        out = {r[args.key]: {"n_tok": r["n_tok"]} for r in rows}
    missing = sorted(set(ids) - set(out))
    print(json.dumps({"found": len(out), "requested": len(set(ids)),
                      "missing": missing, "docs": out}, default=str))
    return 0 if not missing else 1


def cmd_scan(args) -> int:
    """Zone-map-pruned scan — decode only the chunks whose stats can
    contain the predicate. ``--lo/--hi`` bounds are in the column's
    codec-lane unit (cents for decimal(.,2), days for date, epoch
    micros for timestamp); ``--null``/``--not-null`` prune via the
    per-chunk ``null_count`` lane instead (r5). Specs come from the
    manifest itself (``manifest_specs``); prints prune stats +
    matching rows."""
    from .operators.decode import manifest_specs, scan_estimate, scan_where

    spark = _spark(args)
    man = spark.read.parquet(args.input)
    specs = manifest_specs(man)
    kind = dict(specs).get(args.column)
    want_null = getattr(args, "null", False)
    want_not_null = getattr(args, "not_null", False)
    if (args.lo is None) != (args.hi is None):
        print("scan: --lo and --hi go together", file=sys.stderr)
        return 2
    if args.lo is None and not (want_null or want_not_null):
        print("scan: need --lo/--hi or --null/--not-null",
              file=sys.stderr)
        return 2
    if want_null and want_not_null:
        print("scan: --null and --not-null are contradictory",
              file=sys.stderr)
        return 2
    bands = []
    lo = hi = None
    if args.lo is not None:
        if kind == "float":
            lo, hi = float(args.lo), float(args.hi)
        elif kind == "string":
            lo, hi = str(args.lo), str(args.hi)
        else:
            lo, hi = int(float(args.lo)), int(float(args.hi))
        bands.append((args.column, lo, hi))
    null_cols = [args.column] if want_null else []
    not_null_cols = [args.column] if want_not_null else []
    estimate = getattr(args, "estimate", False)
    if not estimate:
        rows = scan_where(man, bands, specs=specs, with_n_tok=False,
                          global_dict=_load_gdict(args.global_dict),
                          null_cols=null_cols,
                          not_null_cols=not_null_cols)
    # planner probe: cost + result-count bracket from the manifest
    # alone, nothing decoded — its kept chunks are the ones the scan
    # decodes (run after scan_where validated the predicate)
    est = scan_estimate(man, bands, specs=specs, null_cols=null_cols,
                        not_null_cols=not_null_cols)
    if estimate:
        est["column"] = args.column
        est["rows_bracket"] = list(est["rows_bracket"])
        print(json.dumps(est))
        return 0
    n = rows.count()
    out = {"column": args.column, "lo": lo, "hi": hi,
           "null": bool(want_null), "not_null": bool(want_not_null),
           "chunks_total": est["chunks_total"],
           "chunks_decoded": est["chunks_kept"], "rows": n}
    if args.show:
        out["sample"] = [r.asDict() for r in rows.limit(args.show)
                         .collect()]
    print(json.dumps(out, default=str))
    return 0


def _parse_band(band: str) -> tuple[Fraction, Fraction] | None:
    """``LO:HI`` as exact fractions; None when malformed."""
    parts = band.split(":")
    if len(parts) != 2:
        return None
    try:
        lo, hi = Fraction(parts[0]), Fraction(parts[1])
        float(lo), float(hi)        # beyond the double range: reject
    except (ValueError, ZeroDivisionError, OverflowError):
        return None
    return lo, hi


def cmd_agg(args) -> int:
    """COUNT/SUM/MIN/MAX over one numeric column answered from the
    manifest alone — no payload read, no chunk decoded (`unbra -l`
    generalized to value aggregates). A null vsum with values present
    means the exact sum could overflow int64: decode to aggregate.
    ``--ndv`` adds the HLL distinct-count estimate (r5, ~3% relative
    error) from the per-chunk sketch lane; ``--topk N`` adds the N
    most frequent values with summed per-chunk counts (exact when
    the reported ``topk_slack`` is 0); ``--count-between LO:HI``
    adds rigorous [min,max] bounds on ``COUNT(lo <= col <= hi)``
    from the per-chunk selectivity histograms; ``--quantile Q`` adds
    rigorous value bounds on the Q-quantile (no sort, no payload
    read)."""
    from .operators.decode import (agg_encoded, hist_encoded,
                                   ndv_encoded, topk_encoded)

    band = getattr(args, "count_between", None)
    if band is not None:
        band = _parse_band(band)
        if band is None:
            print("agg: --count-between expects LO:HI with two finite "
                  f"numbers, got {args.count_between!r}",
                  file=sys.stderr)
            return 2
    spark = _spark(args)
    man = spark.read.parquet(args.input)
    row = agg_encoded(man, args.column).collect()[0]
    out = {"column": args.column, **row.asDict()}
    if getattr(args, "ndv", False):
        out["ndv_est"] = ndv_encoded(man, args.column)
    k = getattr(args, "topk", 0)
    if k:
        top, slack = topk_encoded(man, args.column, k=k)
        out["topk"] = [{"v": v, "c": c} for v, c in top]
        out["topk_slack"] = slack
    qq = getattr(args, "quantile", None)
    if qq is not None:
        from .operators.decode import quantile_encoded

        vlo, vhi = quantile_encoded(man, args.column, float(qq))
        out["quantile"] = {"q": float(qq),
                           "value_min": vlo, "value_max": vhi}
    if band is not None:
        from .operators.decode import manifest_specs

        if dict(manifest_specs(man)).get(args.column) == "float":
            lo, hi = float(band[0]), float(band[1])
        else:
            # int-backed lane: the integers inside [LO, HI], so a
            # fractional bound never widens the band
            lo, hi = math.ceil(band[0]), math.floor(band[1])
        cmin, cmax = hist_encoded(man, args.column, lo, hi)
        out["count_between"] = {"lo": lo, "hi": hi,
                                "count_min": cmin, "count_max": cmax}
    print(json.dumps(out, default=str))
    return 0


def cmd_evolve(args) -> int:
    """DROP/RENAME COLUMN + DELETE-by-key on an encoded manifest
    without re-encoding what survives: drop rewrites metadata + chunk
    checksum only (surviving payloads bit-identical); rename is pure
    metadata (checksum unchanged); delete rewrites only the chunks
    whose zone map can contain a deleted key (chunk-granular
    copy-on-write)."""
    from .operators.evolve import (delete_rows, delete_where,
                                   drop_columns, rename_column)

    dw = getattr(args, "delete_where", None)
    if not args.drop and not args.rename and not args.delete \
            and not dw:
        print(json.dumps({"error": "nothing to do: pass --drop, "
                                   "--rename OLD=NEW, --delete, "
                                   "and/or --delete-where"}))
        return 1
    spark = _spark(args)
    man = spark.read.parquet(args.input)
    if args.delete:
        man = delete_rows(man, args.delete, key=args.key)
    if dw:
        col, lo, hi = dw.split(":")
        man = delete_where(man, col, float(lo), float(hi))
    if args.drop:
        man = drop_columns(man, args.drop)
    for spec in args.rename or []:
        old, _, new = spec.partition("=")
        if not new:
            print(json.dumps({"error": f"--rename {spec!r}: "
                                       "expected OLD=NEW"}))
            return 1
        man = rename_column(man, old, new)
    man.write.mode("errorifexists").parquet(args.output)
    out = spark.read.parquet(args.output)
    from .operators.decode import manifest_specs

    print(json.dumps({"chunks": out.count(),
                      "columns": [n for n, _ in manifest_specs(out)],
                      "dropped": args.drop,
                      "renamed": args.rename or []}))
    return 0


def cmd_compact(args) -> int:
    from .operators.compact import compact_manifest

    spark = _spark(args)
    stats = compact_manifest(spark, args.input, args.output,
                             target_bytes=args.target_bytes).collect()
    print(json.dumps({
        "shards": len(stats),
        "input_files": int(sum(r["input_files"] for r in stats)),
        "chunks": int(sum(r["chunks"] for r in stats)),
    }))
    return 0


def cmd_package(args) -> int:
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out = os.path.join(root, "dist", "br_archive_spark.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    print(out)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="br-archive-spark")
    ap.add_argument("--master", default=None,
                    help="Spark master (default: from environment)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("encode", help="encode a token table (resumable)")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--snapshot-id", default="")
    p.add_argument("--mode", choices=["direct", "scan", "hash", "range"],
                   default="direct",
                   help="direct: tasks read parquet splits in-process "
                        "(bulk path); scan: JVM scan; hash: "
                        "content-addressed shuffle; range: "
                        "range-clustered layout (tight zone maps for "
                        "range lookups; no per-file resume)")
    p.add_argument("--target-values", type=int, default=1 << 20)
    p.add_argument("--global-dict", default=None, metavar="PATH",
                   help="shared-dictionary side file: built+saved here "
                        "on first run, loaded on resume")
    p.set_defaults(fn=cmd_encode)

    p = sub.add_parser("decode", help="decode an encoded manifest")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("-y", "--yes", action="store_true",
                   help="overwrite output (the reference's -y)")
    p.add_argument("--global-dict", default=None, metavar="PATH")
    p.add_argument("--mode", choices=["direct", "spark"],
                   default="direct",
                   help="direct: tasks read/write shards in-process; "
                        "spark: JVM scan + job-committed write")
    p.add_argument("--at", nargs="?", const="", default=None,
                   metavar="SNAPSHOT_ID",
                   help="treat input as a snapshot table dir and "
                        "decode as of the given snapshot (no id: "
                        "the current head)")
    p.set_defaults(fn=cmd_decode)

    p = sub.add_parser("snapshot",
                       help="snapshot log / commit / rollback / expire")
    snapsub = p.add_subparsers(dest="action", required=True)
    q = snapsub.add_parser("log", help="print the commit log")
    q.add_argument("table")
    q.set_defaults(fn=cmd_snapshot)
    q = snapsub.add_parser("commit",
                           help="commit a manifest as the new head")
    q.add_argument("manifest")
    q.add_argument("table")
    q.add_argument("--op", default="commit")
    q.add_argument("--rewrite", action="store_true",
                   help="consolidate all chunks into the fresh seq "
                        "dir (in-table compaction)")
    q.add_argument("--expect", default=None, metavar="HEAD_ID",
                   help="CAS precondition: fail with a conflict if "
                        "the head is not this snapshot id (empty "
                        "string: expect a fresh table)")
    q.set_defaults(fn=cmd_snapshot)
    q = snapsub.add_parser("rollback", help="make an old snapshot head")
    q.add_argument("table")
    q.add_argument("id")
    q.set_defaults(fn=cmd_snapshot)
    q = snapsub.add_parser("expire", help="GC unreferenced history")
    q.add_argument("table")
    q.add_argument("--keep", type=int, default=2)
    q.set_defaults(fn=cmd_snapshot)
    q = snapsub.add_parser("recluster",
                           help="rewrite the head range-clustered on "
                                "a key (tight zone maps for range "
                                "reads); expire reclaims the old "
                                "layout")
    q.add_argument("table")
    q.add_argument("--key", default="doc_id")
    q.add_argument("--zorder", default=None, metavar="COL,COL[,COL]",
                   help="Morton-interleave cluster on 2-3 numeric "
                        "columns instead of --key (multi-band "
                        "scan_where prunes on every listed column)")
    q.add_argument("--num-parts", type=int, default=None)
    q.set_defaults(fn=cmd_snapshot)
    q = snapsub.add_parser("tag",
                           help="pin a named ref on a snapshot "
                                "(retained by expire)")
    q.add_argument("table")
    q.add_argument("name")
    q.add_argument("--id", default=None,
                   help="snapshot id (default: head)")
    q.add_argument("--force", action="store_true",
                   help="move an existing tag")
    q.set_defaults(fn=cmd_snapshot)
    q = snapsub.add_parser("tags", help="list tags")
    q.add_argument("table")
    q.set_defaults(fn=cmd_snapshot)
    q = snapsub.add_parser("untag", help="delete a tag")
    q.add_argument("table")
    q.add_argument("name")
    q.set_defaults(fn=cmd_snapshot)
    q = snapsub.add_parser("fsck",
                           help="index<->data consistency audit "
                                "(metadata-only, no payload reads)")
    q.add_argument("table")
    q.set_defaults(fn=cmd_snapshot)
    q = snapsub.add_parser("diff",
                           help="row-level change feed between two "
                                "snapshots (delta chunks only)")
    q.add_argument("table")
    q.add_argument("from", metavar="FROM_ID")
    q.add_argument("to", nargs="?", default=None, metavar="TO_ID",
                   help="default: current head")
    q.add_argument("-o", "--output", default=None,
                   help="write the feed as parquet instead of "
                        "printing add/del counts")
    q.set_defaults(fn=cmd_snapshot)

    p = sub.add_parser("tokenize",
                       help="documents parquet -> token table "
                            "(clean + decontaminate + tokenize in "
                            "one plan)")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--vocab-size", type=int, default=1 << 16)
    p.add_argument("--vocab-out", default=None,
                   help="write the (word, token_id, count) vocab here")
    p.add_argument("--strip-boilerplate", type=int, default=None,
                   metavar="MAX_REPEATS",
                   help="drop paragraphs occurring more than "
                        "MAX_REPEATS times corpus-wide")
    p.add_argument("--decontaminate", default=None, metavar="PROBES",
                   help="parquet of probe docs; drop documents "
                        "sharing any word n-gram with them")
    p.add_argument("--ngram", type=int, default=8)
    p.set_defaults(fn=cmd_tokenize)

    p = sub.add_parser("clean",
                       help="documents parquet -> cleaned parquet "
                            "(PII scrub, repetition filter)")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--scrub-pii", action="store_true",
                   help="redact emails/phones, append match counts")
    p.add_argument("--max-top-word-frac", type=float, default=None,
                   metavar="FRAC",
                   help="drop docs whose most frequent word exceeds "
                        "FRAC of all words (Gopher repetition rule)")
    p.set_defaults(fn=cmd_clean)

    p = sub.add_parser("sample",
                       help="mixture sampling: per-stratum ratio or "
                            "exact token budget, optional split tag")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--budget", action="append", default=[],
                   metavar="STRATUM:TOKENS",
                   help="exact token budget per stratum (repeatable; "
                        "md5-ordered prefix under the budget)")
    p.add_argument("--fraction", action="append", default=[],
                   metavar="STRATUM:F",
                   help="keep fraction per stratum (repeatable; "
                        "md5-cutoff)")
    p.add_argument("--strata-col", default="source")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--weight-col", default="n_tok",
                   help="token-count column for --budget")
    p.add_argument("--split", metavar="COL", default=None,
                   help="also tag train/val in column COL "
                        "(md5 cutoff '1a' ≈ 10%%)")
    p.set_defaults(fn=cmd_sample)

    p = sub.add_parser("score",
                       help="unigram-LM perplexity column over a "
                            "token table, optional filter")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--lm", default=None,
                   help="(token, freq) parquet LM; default: "
                        "self-score against the corpus histogram")
    p.add_argument("--max-xent", type=int, default=None,
                   metavar="BP",
                   help="drop docs at or above BP (1e-4 bits/token)")
    p.add_argument("--tokens-col", default="tokens")
    p.add_argument("--id-col", default="doc_id")
    p.set_defaults(fn=cmd_score)

    p = sub.add_parser("list", help="manifest stats without decoding")
    p.add_argument("input")
    p.set_defaults(fn=cmd_list)

    p = sub.add_parser("verify", help="full decode + equality vs source")
    p.add_argument("input")
    p.add_argument("--source", default=None)
    p.add_argument("--stats", action="store_true",
                   help="verify manifest column_stats against a full "
                        "decode instead of comparing to a source table")
    p.add_argument("--global-dict", default=None, metavar="PATH")
    p.set_defaults(fn=cmd_verify)

    p = sub.add_parser("lookup",
                       help="point lookups without a full decode")
    p.add_argument("input")
    p.add_argument("ids", nargs="*")
    p.add_argument("--key", default="doc_id")
    p.add_argument("--value-col", default=None,
                   help="string column to row-decode (fsst fast path); "
                        "omit to fetch token rows via lookup_docs")
    p.add_argument("--range", nargs=2, metavar=("LO", "HI"),
                   help="fetch all docs with LO <= key <= HI "
                        "(zone-map-pruned range scan)")
    p.add_argument("--column", default=None,
                   help="value-membership lookup on this int or "
                        "string column (zone map + bloom pruning); "
                        "ids are the probe values")
    p.add_argument("--global-dict", default=None)
    p.set_defaults(fn=cmd_lookup)

    p = sub.add_parser("scan",
                       help="zone-map-pruned range scan "
                            "(numeric, float, or string columns)")
    p.add_argument("input")
    p.add_argument("--column", required=True)
    p.add_argument("--lo", default=None,
                   help="lower bound, codec-lane units (cents/days/us; "
                        "raw doubles for float columns; raw strings "
                        "for string columns)")
    p.add_argument("--hi", default=None)
    p.add_argument("--null", action="store_true",
                   help="IS NULL predicate on --column (prunes "
                        "fully-populated chunks via null_count; "
                        "combines with --lo/--hi as AND)")
    p.add_argument("--not-null", dest="not_null", action="store_true",
                   help="IS NOT NULL predicate on --column (prunes "
                        "all-null chunks)")
    p.add_argument("--show", type=int, default=0, metavar="N",
                   help="include N sample rows in the output")
    p.add_argument("--estimate", action="store_true",
                   help="planner probe: print chunk/row cost and a "
                        "rigorous result-count bracket from the "
                        "manifest alone — nothing decoded")
    p.add_argument("--global-dict", default=None)
    p.set_defaults(fn=cmd_scan)

    p = sub.add_parser("agg",
                       help="COUNT/SUM/MIN/MAX from the manifest only")
    p.add_argument("input")
    p.add_argument("--column", required=True)
    p.add_argument("--ndv", action="store_true",
                   help="add the HLL distinct-count estimate from "
                        "the per-chunk sketch lane (~3% rel error)")
    p.add_argument("--topk", type=int, default=0, metavar="N",
                   help="add the N most frequent values from the "
                        "per-chunk value-counts lane (exact when "
                        "topk_slack is 0)")
    p.add_argument("--count-between", default=None, metavar="LO:HI",
                   help="add rigorous [min,max] bounds on "
                        "COUNT(lo <= col <= hi) from the per-chunk "
                        "selectivity histograms (lane units: days "
                        "for date, epoch micros for timestamp, "
                        "unscaled ints for decimal)")
    p.add_argument("--quantile", type=float, default=None,
                   metavar="Q",
                   help="add rigorous value bounds on the "
                        "Q-quantile (k = ceil(Q*n)-th smallest) "
                        "from the hist+qcut lanes — no sort, no "
                        "payload read; lane units as above")
    p.set_defaults(fn=cmd_agg)

    p = sub.add_parser("evolve",
                       help="drop/rename columns without re-encoding")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--drop", nargs="*", default=[], metavar="COL")
    p.add_argument("--rename", nargs="*", default=[],
                   metavar="OLD=NEW")
    p.add_argument("--delete", nargs="*", default=[], metavar="KEY",
                   help="delete rows by key (chunk-granular COW)")
    p.add_argument("--delete-where", default=None,
                   metavar="COL:LO:HI",
                   help="predicate delete over the numeric/float zone "
                        "maps (codec-lane units for int kinds, raw "
                        "doubles for float)")
    p.add_argument("--key", default="doc_id",
                   help="key column for --delete")
    p.set_defaults(fn=cmd_evolve)

    p = sub.add_parser("compact",
                       help="merge small manifest shards (no re-encode)")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--target-bytes", type=int, default=128 << 20)
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser("package", help="build --py-files zip")
    p.set_defaults(fn=cmd_package)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
