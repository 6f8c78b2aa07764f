"""Numeric zone maps + manifest-only aggregates (r3).

Every int-backed column (int, date, timestamp, decimal, int_list
elements) records per-chunk ``vmin/vmax/vsum/n_vals/null_count`` in the
payload-free ``column_stats``; :func:`scan_range` prunes chunks with
them before any decode (the reference's skip-without-decode,
``src/io/lib_bra_io_file_ctx.c:596-602``, generalized to value ranges)
and :func:`agg_encoded` answers COUNT/SUM/MIN/MAX from the manifest
alone. Correctness rule under test: pruning may only ever skip chunks
that PROVABLY contain no match — nulls, all-null chunks, and columns
without stats must never cause a silent miss."""

import datetime
import shutil

import pyspark.sql.functions as F
import pytest

from br_archive_spark.operators import (agg_encoded, decode_table,
                                        encode_table, infer_specs,
                                        scan_range, scan_range_files)
from br_archive_spark.operators.decode import _stats_disjoint


def clustered_orders(spark, n: int = 4000):
    """Deterministic orders-shaped table, range-clustered on ``price``
    so chunk zone maps are tight and near-disjoint."""
    df = spark.range(n).select(
        F.col("id").alias("okey"),
        (F.col("id") % 211).alias("ckey"),
        ((F.col("id") * 37 % 90000 + 100) / 100.0)
        .cast("decimal(12,2)").alias("price"),
        F.date_add(F.lit("1992-01-01").cast("date"),
                   (F.col("id") % 2400).cast("int")).alias("d"),
        F.timestamp_seconds(F.col("id") * 97 % 100_000_000).alias("ts"))
    return (df.repartitionByRange(4, "price")
            .sortWithinPartitions("price"))


@pytest.fixture(scope="module")
def encoded(spark):
    src = clustered_orders(spark)
    specs = infer_specs(src)
    enc = encode_table(src, specs=specs, mode="scan",
                       target_values=500).cache()
    enc.count()
    yield src, specs, enc
    enc.unpersist()


def test_scan_range_prunes_and_matches(spark, encoded):
    src, specs, enc = encoded
    lo, hi = 200_00, 300_00  # price cents
    total = enc.count()
    surviving = enc.where(~_stats_disjoint("price", lo, hi)).count()
    # range-clustered chunks: the narrow band must prune most chunks
    assert surviving < total / 2, (surviving, total)
    got = sorted(
        (r["okey"], str(r["price"]))
        for r in scan_range(enc, "price", lo, hi, specs=specs,
                            with_n_tok=False).collect())
    exp = sorted(
        (r["okey"], str(r["price"]))
        for r in src.where(
            (F.col("price") * 100).cast("long").between(lo, hi))
        .collect())
    assert got == exp and len(got) > 0


def test_scan_range_date_and_timestamp(spark, encoded):
    src, specs, enc = encoded
    epoch = datetime.date(1970, 1, 1)
    lo = (datetime.date(1995, 1, 1) - epoch).days
    hi = (datetime.date(1995, 12, 31) - epoch).days
    got = scan_range(enc, "d", lo, hi, specs=specs,
                     with_n_tok=False).count()
    exp = src.where(F.col("d").between("1995-01-01",
                                       "1995-12-31")).count()
    assert got == exp > 0

    lo_us, hi_us = 50_000 * 10**6, 200_000 * 10**6
    got = scan_range(enc, "ts", lo_us, hi_us, specs=specs,
                     with_n_tok=False).count()
    exp = src.where(F.unix_micros("ts").between(lo_us, hi_us)).count()
    assert got == exp > 0


def test_scan_range_rejects_statless_columns(spark, encoded):
    _src, specs, enc = encoded
    with pytest.raises(ValueError, match="not in encode specs"):
        scan_range(enc, "nope", 0, 1, specs=specs)
    df = spark.range(5).select(
        F.col("id").cast("string").alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"))
    e2 = encode_table(df, specs=[("doc_id", "string"),
                                 ("tokens", "int_list")], mode="scan")
    with pytest.raises(ValueError, match="no scalar numeric"):
        scan_range(e2, "tokens", 0, 1,
                   specs=[("doc_id", "string"), ("tokens", "int_list")])


def test_nulls_never_cause_silent_miss(spark):
    """Chunks mixing nulls and values keep exact results; an all-null
    chunk has null bounds and must be KEPT by pruning (then dropped by
    the residual filter), not skipped by a bogus zero bound."""
    df = spark.range(3000).select(
        F.col("id").alias("okey"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.col("id") % 500).alias("v"))
    # chunks cut at partition/batch granularity: 8 range partitions of
    # ~375 rows each, and okey<700 nulled, makes partition 0 (okeys
    # ~0..375) — hence its chunk — ENTIRELY null
    df = df.withColumn(
        "v", F.when(F.col("okey") < 700, None).otherwise(F.col("v")))
    df = df.repartitionByRange(8, "okey").sortWithinPartitions("okey")
    specs = [("okey", "int"), ("v", "int")]
    enc = encode_table(df, specs=specs, mode="scan",
                       target_values=400).cache()
    got = sorted(r["okey"] for r in
                 scan_range(enc, "v", 100, 200, specs=specs,
                            with_n_tok=False).collect())
    exp = sorted(r["okey"] for r in
                 df.where(F.col("v").between(100, 200)).collect())
    assert got == exp and len(got) > 0
    # the all-null early chunks exist and carry null bounds
    stats = enc.selectExpr(
        "explode(column_stats) s").selectExpr(
        "s.name name", "s.vmin vmin", "s.n_vals n", "s.null_count nc") \
        .where("name = 'v'").collect()
    assert any(r["vmin"] is None and r["n"] == 0 and r["nc"] > 0
               for r in stats)
    enc.unpersist()


def test_agg_encoded_matches_decode(spark, encoded):
    src, specs, enc = encoded
    row = agg_encoded(enc, "ckey").collect()[0]
    truth = src.agg(F.count("ckey"), F.sum("ckey"), F.min("ckey"),
                    F.max("ckey")).collect()[0]
    assert (row["n_values"], int(row["vsum"]), row["vmin"],
            row["vmax"]) == tuple(truth)
    assert row["n_nulls"] == 0


def test_agg_encoded_int_list_elements(spark):
    df = spark.range(1000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(1), (F.col("id") % 7 + 1).cast("int")),
            lambda x: F.when(x % 5 == 0, None)
            .otherwise((x * 13 + F.col("id")).cast("int"))
        ).alias("tokens"))
    specs = [("doc_id", "string"), ("tokens", "int_list")]
    enc = encode_table(df, specs=specs, mode="scan", target_values=600)
    row = agg_encoded(enc, "tokens").collect()[0]
    truth = (df.select(F.explode("tokens").alias("t"))
             .agg(F.count("t"), F.sum("t"), F.min("t"), F.max("t"),
                  F.sum(F.when(F.col("t").isNull(), 1).otherwise(0)))
             .collect()[0])
    assert (row["n_values"], int(row["vsum"]), row["vmin"],
            row["vmax"]) == (truth[0], truth[1], truth[2], truth[3])
    exploded_nulls = (df.select(F.explode("tokens").alias("t"))
                      .where(F.col("t").isNull()).count())
    assert row["n_nulls"] == exploded_nulls > 0


def test_agg_encoded_overflow_sum_goes_null_not_wrong(spark):
    """Values big enough that chunk_sum*n cannot be PROVEN to fit
    int64: vsum must come back null (decode fallback signal), never a
    wrapped number. Bounds and count still serve."""
    big = 1 << 61
    df = spark.range(100).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.lit(big) + F.col("id")).alias("v"))
    specs = [("doc_id", "string"), ("v", "int")]
    enc = encode_table(df, specs=specs, mode="scan")
    row = agg_encoded(enc, "v").collect()[0]
    assert row["vsum"] is None
    assert row["n_values"] == 100
    assert row["vmin"] == big and row["vmax"] == big + 99


def test_agg_encoded_statless_column_all_null(spark, encoded):
    """A string column has no NUMERIC stats: the v* lanes must be
    null (unknown), not zero (wrong). Since r5 it does carry count
    lanes and truncate(16) string BOUNDS — smin must sort <= the true
    min and smax >= the true max (containment, not equality)."""
    df = spark.range(50).select(
        F.col("id").cast("string").alias("doc_id"),
        F.col("id").alias("v"))
    specs = [("doc_id", "string"), ("v", "int")]
    enc = encode_table(df, specs=specs, mode="scan")
    row = agg_encoded(enc, "doc_id").collect()[0]
    assert all(row[k] is None for k in ("vmin", "vmax", "vsum"))
    assert row["n_values"] == 50 and row["n_nulls"] == 0
    lo, hi = min(str(i) for i in range(50)), max(str(i)
                                                 for i in range(50))
    assert row["smin"] is not None and row["smin"] <= lo
    assert row["smax"] is None or row["smax"] >= hi
    # a BINARY-free lane check: columns with truly no stats at all
    # (e.g. binary kind) still come back all-null — covered by
    # test_mixed_kinds; here the int column sanity-checks the join
    iv = agg_encoded(enc, "v").collect()[0]
    assert (iv["vmin"], iv["vmax"], iv["n_values"]) == (0, 49, 50)


def test_scan_range_files_skips_files(spark, tmp_path):
    src = clustered_orders(spark, 4000)
    specs = infer_specs(src)
    man_dir = str(tmp_path / "man")
    encode_table(src, specs=specs, mode="scan", target_values=500) \
        .write.parquet(man_dir)
    lo, hi = 200_00, 300_00
    # phase-1 metadata pass must keep a strict subset of shard files
    man = spark.read.parquet(man_dir)
    all_files = man.select(F.input_file_name()).distinct().count()
    kept = (man.withColumn("_f", F.input_file_name())
            .where(~_stats_disjoint("price", lo, hi))
            .select("_f").distinct().count())
    assert 0 < kept < all_files, (kept, all_files)
    got = sorted(r["okey"] for r in
                 scan_range_files(spark, man_dir, "price", lo, hi,
                                  specs=specs,
                                  with_n_tok=False).collect())
    exp = sorted(r["okey"] for r in src.where(
        (F.col("price") * 100).cast("long").between(lo, hi)).collect())
    assert got == exp and len(got) > 0
    shutil.rmtree(man_dir, ignore_errors=True)


def test_manifest_specs_roundtrip(spark, encoded):
    """Specs are recoverable from the manifest itself — no out-of-band
    schema needed to decode or scan (the CLI relies on this)."""
    from br_archive_spark.operators import manifest_specs

    _src, specs, enc = encoded
    assert manifest_specs(enc) == list(specs)


def test_decode_projection_subset_specs(spark, encoded):
    """Column-pruned decode: passing a subset of specs decodes ONLY
    those columns' payloads (each manifest entry is independently
    coded), the decode-side analog of parquet column projection."""
    src, specs, enc = encoded
    sub = [s for s in specs if s[0] in ("okey", "d")]
    got = decode_table(enc, specs=sub, with_n_tok=False)
    assert [f.name for f in got.schema.fields] == ["okey", "d"]
    assert (sorted((r["okey"], str(r["d"])) for r in got.collect())
            == sorted((r["okey"], str(r["d"]))
                      for r in src.select("okey", "d").collect()))


def test_scan_where_conjunction(spark, encoded):
    """Multi-band AND: each band prunes independently and the residual
    filter applies all bands; exact vs a plain DataFrame filter."""
    from br_archive_spark.operators import scan_where

    src, specs, enc = encoded
    epoch = datetime.date(1970, 1, 1)
    d_lo = (datetime.date(1993, 1, 1) - epoch).days
    d_hi = (datetime.date(1997, 12, 31) - epoch).days
    bands = [("price", 150_00, 500_00), ("d", d_lo, d_hi)]
    got = sorted(r["okey"] for r in
                 scan_where(enc, bands, specs=specs, with_n_tok=False,
                            project=["okey"]).collect())
    exp = sorted(r["okey"] for r in src.where(
        (F.col("price") * 100).cast("long").between(150_00, 500_00)
        & F.col("d").between("1993-01-01", "1997-12-31")).collect())
    assert got == exp and len(got) > 0
    with pytest.raises(ValueError, match="at least one predicate"):
        scan_where(enc, [], specs=specs)


def nullable_orders(spark, n: int = 4000):
    """Orders-shaped table with a string column that is NULL exactly
    below a price threshold, range-clustered on price — so whole
    chunks are fully-populated (null_count == 0) or fully-null
    (null_count == n_rows) and both null-band prune arms can prove
    skips."""
    df = spark.range(n).select(
        F.col("id").alias("okey"),
        (F.col("id") * 37 % 90000 + 100).alias("cents"),
        F.when(F.col("id") * 37 % 90000 + 100 >= 45000,
               F.concat(F.lit("note-"), (F.col("id") % 7)))
        .alias("note"))
    return (df.repartitionByRange(4, "cents")
            .sortWithinPartitions("cents"))


def test_scan_where_null_bands(spark):
    """IS NULL / IS NOT NULL bands (r5): pruned via the per-chunk
    ``null_count`` lane — IS NULL skips fully-populated chunks,
    IS NOT NULL skips all-null chunks — and the residual re-applies
    the predicate, so results equal the plain DataFrame filter."""
    from br_archive_spark.operators import scan_where
    from br_archive_spark.operators.decode import (_notnull_disjoint,
                                                   _null_disjoint)

    src = nullable_orders(spark)
    specs = [("okey", "int"), ("cents", "int"), ("note", "string")]
    enc = encode_table(src, specs=specs, mode="scan",
                       target_values=500).cache()
    total = enc.count()
    try:
        kept_null = enc.where(~_null_disjoint("note")).count()
        kept_nn = enc.where(~_notnull_disjoint("note")).count()
        assert kept_null < total and kept_nn < total, \
            (kept_null, kept_nn, total)
        got = sorted(r["okey"] for r in
                     scan_where(enc, [], specs=specs, with_n_tok=False,
                                null_cols=["note"]).collect())
        exp = sorted(r["okey"] for r in
                     src.where(F.col("note").isNull()).collect())
        assert got == exp and len(got) > 0
        got = sorted(r["okey"] for r in
                     scan_where(enc, [], specs=specs, with_n_tok=False,
                                not_null_cols=["note"]).collect())
        exp = sorted(r["okey"] for r in
                     src.where(F.col("note").isNotNull()).collect())
        assert got == exp and len(got) > 0
        # conjunction with a range band + projection
        got = sorted(r["okey"] for r in
                     scan_where(enc, [("cents", 50000, 70000)],
                                specs=specs, with_n_tok=False,
                                project=["okey"],
                                not_null_cols=["note"]).collect())
        exp = sorted(r["okey"] for r in src.where(
            F.col("cents").between(50000, 70000)
            & F.col("note").isNotNull()).collect())
        assert got == exp and len(got) > 0
        with pytest.raises(ValueError, match="both"):
            scan_where(enc, [], specs=specs, null_cols=["note"],
                       not_null_cols=["note"])
        with pytest.raises(ValueError, match="not in encode specs"):
            scan_where(enc, [], specs=specs, null_cols=["ghost"])
    finally:
        enc.unpersist()


def test_scan_where_isin_bands(spark):
    """IN-list bands (r5): ``isin={col: values}`` ANDs a multi-value
    equality term — zone-map envelope + membership-bloom pruned per
    lane (string/int/binary), exact residual. On a hash layout only
    the blooms can prune; results must equal the plain isin filter."""
    from br_archive_spark.operators import scan_where
    from br_archive_spark.operators.decode import _bloom_keep

    # seg runs with the cluster key (name = zero-padded id), so each
    # chunk holds ~2 of the 10 segs and the seg column bloom — NOT
    # the key_bloom, seg is a non-key column — can prove absence
    df = spark.range(3000).select(
        F.col("id").alias("okey"),
        F.format_string("%06d", F.col("id")).alias("name"),
        (F.col("id") * 37 % 90000).alias("cents"),
        F.concat(F.lit("seg"), (F.col("id") / 300).cast("long"))
        .alias("seg"))
    specs = [("okey", "int"), ("name", "string"),
             ("cents", "int"), ("seg", "string")]
    enc = encode_table(df, specs=specs, mode="scan", key="name",
                       num_parts=8, target_values=400).cache()
    try:
        total = enc.count()
        kept = enc.where(
            _bloom_keep("seg", ["seg3", "seg7"], "string")).count()
        assert kept < total, (kept, total)   # membership prunes
        got = sorted(r["okey"] for r in scan_where(
            enc, [], specs=specs, with_n_tok=False,
            isin={"seg": ["seg3", "seg7", "zzz"]}).collect())
        exp = sorted(r["okey"] for r in
                     df.where(F.col("seg").isin("seg3", "seg7"))
                     .collect())
        assert got == exp and len(got) > 0
        # int IN-list AND a range band AND a string IN-list
        got = sorted(r["okey"] for r in scan_where(
            enc, [("cents", 0, 60000)], specs=specs, with_n_tok=False,
            isin={"okey": [5, 500, 2999], "seg": ["seg5", "seg6"]})
            .collect())
        exp = sorted(r["okey"] for r in df.where(
            F.col("cents").between(0, 60000)
            & F.col("okey").isin(5, 500, 2999)
            & F.col("seg").isin("seg5", "seg6")).collect())
        assert got == exp
        with pytest.raises(ValueError, match="not in encode specs"):
            scan_where(enc, [], specs=specs, isin={"ghost": [1]})
        with pytest.raises(ValueError, match="empty IN-list"):
            scan_where(enc, [], specs=specs, isin={"seg": []})
    finally:
        enc.unpersist()


def test_cli_scan_null_flags(spark, tmp_path, capsys):
    """CLI `scan --null` / `--not-null`: null_count-pruned scans from
    the command line; contradictory or missing predicates exit 2."""
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_scan

    src = nullable_orders(spark, 2000)
    specs = [("okey", "int"), ("cents", "int"), ("note", "string")]
    man_dir = str(tmp_path / "man")
    encode_table(src, specs=specs, mode="scan", key="okey",
                 target_values=300).write.parquet(man_dir)
    base = dict(input=man_dir, show=0, global_dict=None,
                master="local[2]", shuffle_partitions=4,
                lo=None, hi=None)
    args = Namespace(**base, column="note", null=True, not_null=False)
    assert cmd_scan(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == src.where(F.col("note").isNull()).count()
    assert out["chunks_decoded"] < out["chunks_total"]
    args = Namespace(**base, column="note", null=False, not_null=True)
    assert cmd_scan(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == src.where(F.col("note").isNotNull()).count()
    assert out["chunks_decoded"] < out["chunks_total"]
    assert cmd_scan(Namespace(**base, column="note", null=True,
                              not_null=True)) == 2
    assert cmd_scan(Namespace(**base, column="note", null=False,
                              not_null=False)) == 2


def test_scan_where_null_bands_list_kind_conservative(spark):
    """List kinds: element nulls inflate ``null_count``, so the
    IS NOT NULL arm must never prune on it (a chunk whose every row
    has one null ELEMENT would look all-null) and the IS NULL arm only
    skips chunks with zero total nulls — either way the residual keeps
    results exact (the ADVICE-r2 silent-miss rule)."""
    from br_archive_spark.operators import scan_where

    rows = [(i, [i, None] if i % 2 else [i, i + 1]) for i in range(200)]
    src = spark.createDataFrame(rows, "okey long, toks array<long>")
    specs = [("okey", "int"), ("toks", "int_list")]
    enc = encode_table(src, specs=specs, mode="scan", key="okey",
                       num_parts=2, target_values=100)
    # no row is NULL: IS NULL finds nothing, IS NOT NULL everything
    assert scan_where(enc, [], specs=specs, with_n_tok=False,
                      null_cols=["toks"]).count() == 0
    got = sorted(r["okey"] for r in
                 scan_where(enc, [], specs=specs, with_n_tok=False,
                            not_null_cols=["toks"]).collect())
    assert got == list(range(200))


def test_scan_range_projection(spark, encoded):
    """`project=` decodes only the named columns (plus the probed one
    for the residual filter, dropped unless projected)."""
    src, specs, enc = encoded
    lo, hi = 200_00, 300_00
    got = scan_range(enc, "price", lo, hi, specs=specs,
                     with_n_tok=False, project=["okey"])
    assert [f.name for f in got.schema.fields] == ["okey"]
    exp = sorted(r["okey"] for r in src.where(
        (F.col("price") * 100).cast("long").between(lo, hi)).collect())
    assert sorted(r["okey"] for r in got.collect()) == exp
    with pytest.raises(ValueError, match="not in encode specs"):
        scan_range(enc, "price", lo, hi, specs=specs,
                   project=["nope"])


def test_cli_scan_and_agg(spark, tmp_path, capsys):
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_agg, cmd_scan

    src = clustered_orders(spark, 2000)
    specs = infer_specs(src)
    man_dir = str(tmp_path / "man")
    encode_table(src, specs=specs, mode="scan",
                 target_values=300).write.parquet(man_dir)
    args = Namespace(input=man_dir, column="price", lo=200_00,
                     hi=300_00, show=2, global_dict=None,
                     master="local[2]", shuffle_partitions=4)
    assert cmd_scan(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    exp = src.where((F.col("price") * 100).cast("long")
                    .between(200_00, 300_00)).count()
    assert out["rows"] == exp > 0
    assert out["chunks_decoded"] < out["chunks_total"]
    assert len(out["sample"]) == 2

    args = Namespace(input=man_dir, column="ckey", master="local[2]",
                     shuffle_partitions=4)
    assert cmd_agg(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    truth = src.agg(F.count("ckey"), F.sum("ckey"), F.min("ckey"),
                    F.max("ckey")).collect()[0]
    assert (out["n_values"], int(out["vsum"]), out["vmin"],
            out["vmax"]) == tuple(truth)


def test_pre_stats_manifest_degrades_not_breaks(spark):
    """A manifest written before the numeric-stats schema (column_stats
    without vmin/... lanes) must still scan correctly — no pruning, no
    AnalysisException — and agg_encoded must refuse with a clear error
    rather than resolve nothing."""
    df = spark.range(500).select(
        F.col("id").cast("string").alias("doc_id"),
        F.col("id").alias("v"))
    specs = [("doc_id", "string"), ("v", "int")]
    enc = encode_table(df, specs=specs, mode="scan")
    # strip the r3 lanes to simulate the old schema
    old = enc.withColumn(
        "column_stats",
        F.expr("transform(column_stats, s -> struct("
               "s.name as name, s.kind as kind, s.codec as codec, "
               "s.orig_bytes as orig_bytes, s.enc_bytes as enc_bytes))"))
    got = scan_range(old, "v", 100, 200, specs=specs,
                     with_n_tok=False).count()
    assert got == 101
    with pytest.raises(ValueError, match="predates numeric"):
        agg_encoded(old, "v")


def test_verify_stats_green_and_catches_forgery(spark, encoded):
    """verify_stats cross-checks manifest aggregates against a full
    decode; a forged bound must flip ok to False."""
    from br_archive_spark.operators.verify import verify_stats

    _src, specs, enc = encoded
    res = verify_stats(enc, specs=specs)
    assert res["ok"], res
    assert set(res["columns"]) == {"okey", "ckey", "price", "d", "ts"}
    # forge one chunk's vmin for ckey
    forged = enc.withColumn(
        "column_stats",
        F.expr("transform(column_stats, s -> "
               "  CASE WHEN s.name = 'ckey' THEN named_struct("
               "    'name', s.name, 'kind', s.kind, 'codec', s.codec,"
               "    'orig_bytes', s.orig_bytes, 'enc_bytes', s.enc_bytes,"
               "    'vmin', CAST(-999 AS BIGINT), 'vmax', s.vmax,"
               "    'vsum', s.vsum, 'n_vals', s.n_vals,"
               "    'null_count', s.null_count,"
               "    'fmin', s.fmin, 'fmax', s.fmax,"
               "    'smin', s.smin, 'smax', s.smax,"
               "    'bloom', s.bloom, 'hll', s.hll,"
               "    'topk', s.topk, 'hist', s.hist,"
               "    'qcut', s.qcut, 'fqcut', s.fqcut) ELSE s END)"))
    res2 = verify_stats(forged, specs=specs)
    assert not res2["ok"]
    assert not res2["columns"]["ckey"]["ok"]
    assert res2["columns"]["price"]["ok"]


def test_verify_stats_int_list_and_cli(spark, tmp_path, capsys):
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_verify

    df = spark.range(400).select(
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") % 7 == 0, None).otherwise(
            F.transform(F.sequence(F.lit(1),
                                   (F.col("id") % 4).cast("int") + 1),
                        lambda x: F.when(x % 3 == 0, None)
                        .otherwise(x.cast("int")))).alias("tokens"))
    specs = [("doc_id", "string"), ("tokens", "int_list")]
    man_dir = str(tmp_path / "man")
    from br_archive_spark.operators import encode_table
    encode_table(df, specs=specs, mode="scan",
                 target_values=100).write.parquet(man_dir)
    args = Namespace(input=man_dir, stats=True, source=None,
                     global_dict=None, master="local[2]",
                     shuffle_partitions=4)
    assert cmd_verify(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["ok"] and out["columns"]["tokens"]["ok"]


# ---- hypothesis fuzz of the stats lane (no Spark; pure kernel) ----

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _stats_of(kind, values):
    import pyarrow as pa

    from br_archive_spark.operators.encode import _entry_stats, _extract

    atype = {"int": pa.int64(),
             "int_list": pa.list_(pa.int32())}[kind]
    tbl = pa.table({"c": pa.array(values, type=atype)})
    data, validity = _extract(tbl, "c", kind)
    return _entry_stats(kind, data, validity)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.one_of(st.none(),
                          st.integers(-(2 ** 63), 2 ** 63 - 1)),
                max_size=40))
def test_fuzz_int_stats_match_ground_truth(xs):
    s = _stats_of("int", xs)
    vals = [x for x in xs if x is not None]
    assert s["null_count"] == len(xs) - len(vals)
    assert s["n_vals"] == len(vals)
    if not vals:
        assert s["vmin"] is None and s["vmax"] is None
        assert s["vsum"] == 0
        return
    assert s["vmin"] == min(vals) and s["vmax"] == max(vals)
    # vsum is either the EXACT sum or declined (None) — never wrong
    if s["vsum"] is not None:
        assert s["vsum"] == sum(vals)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.one_of(
    st.none(),
    st.lists(st.one_of(st.none(),
                       st.integers(-(2 ** 31), 2 ** 31 - 1)),
             max_size=8)), max_size=25))
def test_fuzz_int_list_stats_match_ground_truth(xs):
    s = _stats_of("int_list", xs)
    elems = [e for row in xs if row is not None for e in row]
    vals = [e for e in elems if e is not None]
    null_rows = sum(1 for row in xs if row is None)
    null_elems = len(elems) - len(vals)
    assert s["null_count"] == null_rows + null_elems
    assert s["n_vals"] == len(vals)
    if vals:
        assert s["vmin"] == min(vals) and s["vmax"] == max(vals)
        if s["vsum"] is not None:
            assert s["vsum"] == sum(vals)
    else:
        assert s["vmin"] is None and s["vmax"] is None


def test_metadata_pass_never_reads_payload(spark, tmp_path):
    """Plan lock: the pruning predicate reads column_stats only — the
    parquet scan's ReadSchema must not include the payload-bearing
    ``columns`` field, so a 100 TB manifest's metadata pass moves
    manifest-metadata bytes, not payload bytes."""
    src = clustered_orders(spark, 1000)
    specs = infer_specs(src)
    man_dir = str(tmp_path / "man")
    encode_table(src, specs=specs, mode="scan", target_values=500) \
        .write.parquet(man_dir)
    man = spark.read.parquet(man_dir)
    phase1 = (man.withColumn("_f", F.input_file_name())
              .where(~_stats_disjoint("price", 0, 1))
              .select("_f").distinct())
    plan = phase1._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m is not None
    assert "column_stats" in m.group(1)
    assert "columns" not in m.group(1).replace("column_stats", "")
    shutil.rmtree(man_dir, ignore_errors=True)


def test_bool_column_stats_and_scan(spark):
    """bool kind has a 0/1 int lane: verify_stats must cover it and
    scan_range must prune on its zone map instead of raising the
    misleading 'no integer lane' error (ADVICE r4 #1 — _int_kind()
    admits bool, so _int_view needs a bool branch)."""
    from br_archive_spark.operators import encode_table
    from br_archive_spark.operators.decode import scan_range
    from br_archive_spark.operators.verify import verify_stats

    df = spark.range(600).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") % 3 == 0).alias("flag"),
        (F.col("id") % 5).cast("int").alias("v"))
    specs = [("doc_id", "string"), ("flag", "bool"), ("v", "int")]
    enc = encode_table(df, specs=specs, mode="scan", target_values=128)
    res = verify_stats(enc, specs=specs)
    assert res["ok"], res
    assert "flag" in res["columns"] and res["columns"]["flag"]["ok"]
    got = scan_range(enc, "flag", 1, 1, specs=specs, with_n_tok=False)
    assert got.count() == 200
    assert got.where(~F.col("flag")).count() == 0


def test_lookup_after_zone_key_dropped(spark):
    """drop_columns of the zone-map key NULLs key_col; a later lookup
    probing a DIFFERENT column must conservatively scan every chunk,
    never silently miss (ADVICE r4 #2 — a NULL key_col made both arms
    of the prune predicate NULL and the WHERE dropped the chunk)."""
    from br_archive_spark.operators import (drop_columns, encode_table,
                                            lookup_docs, lookup_range)

    df = spark.range(300).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("alt-"), F.col("id")).alias("alt"))
    specs = [("doc_id", "string"), ("alt", "string")]
    enc = encode_table(df, specs=specs, mode="range", key="doc_id",
                       num_parts=2, target_values=64)
    man = drop_columns(enc, ["doc_id"])
    assert man.where(F.col("key_col").isNotNull()).count() == 0
    got = lookup_docs(man, ["alt-7", "alt-250"],
                      specs=[("alt", "string")], key="alt",
                      with_n_tok=False)
    assert sorted(r["alt"] for r in got.collect()) == ["alt-250", "alt-7"]
    rng = lookup_range(man, "alt-10", "alt-11",
                       specs=[("alt", "string")], key="alt",
                       with_n_tok=False)
    assert sorted(r["alt"] for r in rng.collect()) == [
        "alt-10", "alt-100", "alt-101", "alt-102", "alt-103", "alt-104",
        "alt-105", "alt-106", "alt-107", "alt-108", "alt-109", "alt-11"]


def test_float_zone_map_scan_prunes_and_matches(spark):
    """Float zone maps (r4): typed fmin/fmax double bounds prune
    chunks for scan_range on a float column (chunks_kept <
    chunks_total), the residual keeps results exact, NaN rows are
    excluded from bounds AND from finite-bound ranges consistently,
    and verify_stats/agg_encoded cover the float lanes."""
    import math

    from br_archive_spark.operators import (agg_encoded, encode_table,
                                            scan_range)
    from br_archive_spark.operators.decode import _fstats_disjoint
    from br_archive_spark.operators.verify import verify_stats

    df = spark.range(4000).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") * 0.25).alias("price"),
        F.when(F.col("id") % 101 == 0, float("nan"))
        .otherwise(F.col("id") / 7.0).alias("score"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.col("id") * 1.5).alias("maybe"))
    specs = [("doc_id", "string"), ("price", "float"),
             ("score", "float"), ("maybe", "float")]
    src = df.repartitionByRange(8, "price") \
        .sortWithinPartitions("price")
    enc = encode_table(src, specs=specs, mode="scan",
                       target_values=500).cache()
    total = enc.count()
    kept = enc.where(~_fstats_disjoint("price", 100.0, 150.0)).count()
    assert kept < total, (kept, total)

    got = scan_range(enc, "price", 100.0, 150.0, specs=specs,
                     with_n_tok=False)
    vals = sorted(r["price"] for r in got.select("price").collect())
    assert vals == [i * 0.25 for i in range(400, 601)]

    # NaN rows never match a finite-bound range, and never poison
    # bounds: the score column still prunes and scans exactly
    s = scan_range(enc, "score", 0.0, 10.0, specs=specs,
                   with_n_tok=False).select("score").collect()
    exp = sorted(i / 7.0 for i in range(0, 71) if i % 101 != 0)
    assert sorted(r["score"] for r in s) == exp
    assert not any(math.isnan(r["score"]) for r in s)

    res = verify_stats(enc, specs=specs)
    assert res["ok"], res
    assert set(res["columns"]) == {"doc_id", "price", "score", "maybe"}

    row = agg_encoded(enc, "price").first()
    assert (row["fmin"], row["fmax"]) == (0.0, 3999 * 0.25)
    assert row["n_values"] == 4000 and row["vsum"] is None
    m = agg_encoded(enc, "maybe").first()
    assert m["n_nulls"] == 308 and m["n_values"] == 4000 - 308
    with pytest.raises(ValueError, match="NaN bound"):
        scan_range(enc, "price", float("nan"), 1.0, specs=specs)
    enc.unpersist()


def test_float_list_stats_lanes(spark):
    """float_list/double_list columns record element-level fmin/fmax
    (embedding tables get manifest-only bounds); scan_where rejects
    list kinds with a clear error; verify_stats covers the lanes."""
    from br_archive_spark.operators import encode_table, scan_where
    from br_archive_spark.operators.verify import verify_stats

    df = spark.range(600).select(
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") % 7 == 0, None).otherwise(
            F.transform(F.sequence(F.lit(0), F.lit(3)),
                        lambda i: (F.col("id") + i).cast("float") / 2))
        .alias("emb"))
    specs = [("doc_id", "string"), ("emb", "float_list")]
    enc = encode_table(df, specs=specs, mode="scan", target_values=128)
    st = enc.selectExpr("explode(column_stats) s") \
        .where("s.name = 'emb'") \
        .selectExpr("min(s.fmin) lo", "max(s.fmax) hi",
                    "sum(s.n_vals) n").first()
    exp_vals = [(i + j) / 2 for i in range(600) if i % 7 != 0
                for j in range(4)]
    assert (st["lo"], st["hi"], st["n"]) == (
        min(exp_vals), max(exp_vals), len(exp_vals))
    res = verify_stats(enc, specs=specs)
    assert res["ok"], res
    with pytest.raises(ValueError, match="no scalar numeric"):
        scan_where(enc, [("emb", 0, 1)], specs=specs)


def test_cli_scan_float_column(spark, tmp_path, capsys):
    """CLI `scan` detects float-kind columns from the manifest's own
    specs and prunes on the typed fmin/fmax lanes."""
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_scan
    from br_archive_spark.operators import encode_table, infer_specs

    df = spark.range(2000).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") / 4.0).alias("x"))
    src = df.repartitionByRange(8, "x").sortWithinPartitions("x")
    man_dir = str(tmp_path / "man")
    encode_table(src, specs=infer_specs(src), mode="scan",
                 target_values=300).write.parquet(man_dir)
    args = Namespace(input=man_dir, column="x", lo=100.0, hi=150.0,
                     show=0, global_dict=None, master="local[2]",
                     shuffle_partitions=4)
    assert cmd_scan(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 201                      # ids 400..600
    assert out["chunks_decoded"] < out["chunks_total"]


def test_zorder_cluster_prunes_both_dimensions(spark):
    """Z-order layout (operators/zorder.py): after Morton clustering
    on (a, b), a two-band scan_where prunes chunks on BOTH columns —
    single-key range clustering only ever prunes on its own key.
    Results stay exact (zone maps + residual own correctness)."""
    from br_archive_spark.operators import encode_table, scan_where
    from br_archive_spark.operators.decode import _stats_disjoint
    from br_archive_spark.operators.zorder import zorder_cluster

    n = 1 << 14
    df = spark.range(n).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") * 2654435761 % n).alias("a"),
        (F.col("id") * 40503 % n).alias("b"))
    specs = [("doc_id", "string"), ("a", "int"), ("b", "int")]
    lo, hi = n // 4, n // 4 + n // 16   # narrow band on each axis

    one_key = (df.repartitionByRange(16, "a")
               .sortWithinPartitions("a"))
    enc1 = encode_table(one_key, specs=specs, mode="scan",
                        target_values=1024).cache()
    zed = zorder_cluster(df, ["a", "b"], 16)
    encz = encode_table(zed, specs=specs, mode="scan",
                        target_values=1024).cache()

    def kept(enc, col):
        return enc.where(~_stats_disjoint(col, lo, hi)).count(), \
            enc.count()

    # the OFF-KEY axis is where z-order pays: clustered on 'a' alone,
    # a b-band keeps (nearly) every chunk; the Morton layout carries
    # tight bounds on BOTH axes
    k1b, t1 = kept(enc1, "b")
    kzb, tz = kept(encz, "b")
    assert k1b >= t1 - 1, (k1b, t1)       # one-key: no b pruning
    assert kzb <= tz // 2, (kzb, tz)      # z-order: real b pruning
    # and the on-key axis still prunes under z-order
    kza, _ = kept(encz, "a")
    assert kza <= tz // 2, (kza, tz)

    got = sorted(
        r["doc_id"] for r in scan_where(
            encz, [("a", lo, hi), ("b", lo, hi)], specs=specs,
            with_n_tok=False).collect())
    exp = sorted(
        r["doc_id"] for r in df.where(
            F.col("a").between(lo, hi)
            & F.col("b").between(lo, hi)).collect())
    assert got == exp and len(got) > 0
    enc1.unpersist()
    encz.unpersist()


def test_zorder_key_properties(spark):
    """Morton key sanity: monotone in each coordinate along the other
    axis's zero plane; 3-column variant stays non-negative (sign bit
    untouched so long ordering is unsigned ordering)."""
    from br_archive_spark.operators.zorder import zorder_key

    df = spark.range(512).select(
        F.col("id").alias("a"),
        (511 - F.col("id")).alias("b"),
        (F.col("id") * 7 % 512).alias("c"))
    z2 = df.select(zorder_key(df, ["a", "b"]).alias("z")).collect()
    assert all(r["z"] >= 0 for r in z2)
    z3 = df.select(zorder_key(df, ["a", "b", "c"]).alias("z")).collect()
    assert all(r["z"] >= 0 for r in z3)
    with pytest.raises(ValueError, match="2 or 3"):
        zorder_key(df, ["a"])


def test_zorder_nan_inf_nulls(spark):
    """r5 regression (ADVICE r4): under ANSI mode the old
    cast-then-clamp order threw CAST_OVERFLOW on any NaN or +/-Inf
    double, killing the whole zorder job. Non-finite rows must rank
    deterministically instead (NaN/+Inf at the top corner, -Inf/NULL
    at the low corner), bounds must come from finite values only, and
    zorder_cluster must preserve the full row set."""
    from br_archive_spark.operators.zorder import zorder_cluster, zorder_key

    rows = [(1, 10.0, 5.0), (2, float("nan"), 6.0),
            (3, float("inf"), 7.0), (4, float("-inf"), 8.0),
            (5, None, 9.0), (6, 20.0, float("nan")),
            (7, 15.0, None)] + [(10 + i, float(i), float(i * 2))
                                for i in range(40)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    got = {r["id"]: r["z"] for r in
           df.select("id", zorder_key(df, ["a", "b"]).alias("z"))
           .collect()}
    assert len(got) == len(rows) and all(z >= 0 for z in got.values())
    # isolate axis a (constant b collapses its rank to 0): NaN and
    # +Inf must saturate to exactly the finite-max rank, -Inf and
    # NULL to the finite-min rank
    iso = df.withColumn("b", F.lit(0.0))
    ga = {r["id"]: r["z"] for r in
          iso.select("id", zorder_key(iso, ["a", "b"]).alias("z"))
          .collect()}
    top_a, lo_a = ga[10 + 39], ga[10 + 0]   # finite max a=39, min a=0
    assert ga[2] == top_a and ga[3] == top_a    # NaN, +Inf -> top
    assert ga[4] == lo_a and ga[5] == lo_a      # -Inf, NULL -> low
    # full clustering pass survives and loses no rows
    zed = zorder_cluster(df, ["a", "b"], 4)
    assert sorted(r["id"] for r in zed.select("id").collect()) == \
        sorted(r for r, *_ in rows)


# ------------------------------------------------ string zone maps (r5)

def test_trunc_upper_bound_semantics():
    """Iceberg truncate(16) upper bound: short strings pass through,
    long ones get a bumped 16-char prefix that sorts >= the original,
    the surrogate gap is skipped, and an unboundable prefix (all
    U+10FFFF) declares None."""
    from br_archive_spark.operators.encode import (_trunc_lower,
                                                   _trunc_upper)

    assert _trunc_upper("short") == "short"
    s = "abcdefghijklmnop" + "zzz"           # 16 + tail
    up = _trunc_upper(s)
    assert len(up) == 16 and up > s and up == "abcdefghijklmnoq"
    assert _trunc_lower(s) == "abcdefghijklmnop" <= s
    # last prefix char at the surrogate boundary: bump skips D800-DFFF
    t = "x" * 15 + "퟿" + "tail"
    assert _trunc_upper(t) == "x" * 15 + "" > t
    # last char maxed: bump an earlier one, drop the rest
    u = "ab" + "\U0010ffff" * 14 + "tail"
    assert _trunc_upper(u) == "ac" and _trunc_upper(u) > u
    # nothing incrementable
    assert _trunc_upper("\U0010ffff" * 17) is None


def test_string_zone_map_scan_prunes_and_matches(spark):
    """String zone maps (r5): smin/smax truncate(16) bounds prune
    chunks for scan_range/scan_where on a string column
    (chunks_decoded < chunks_total), results stay exact including the
    truncation edge (a probe equal to the truncated prefix must KEEP
    the chunk), and NULL rows never match a range."""
    from br_archive_spark.operators import encode_table, scan_range
    from br_archive_spark.operators.decode import (_sstats_disjoint,
                                                   scan_where)
    from br_archive_spark.operators.verify import verify_stats

    langs = ["ar", "de", "en", "fr", "ja", "pt", "ru", "zh"]
    df = spark.range(6000).select(
        F.format_string("doc%06d", "id").alias("doc_id"),
        F.when(F.col("id") % 53 == 0, None)
        .otherwise(F.element_at(
            F.array(*[F.lit(x) for x in langs]),
            (F.col("id") % 8 + 1).cast("int"))).alias("lang"),
        F.concat(F.lit("prefix-that-is-longer-than-sixteen-"),
                 F.col("id")).alias("url"))
    specs = [("doc_id", "string"), ("lang", "string"),
             ("url", "string")]
    src = df.repartitionByRange(8, "lang").sortWithinPartitions("lang")
    enc = encode_table(src, specs=specs, mode="scan",
                       target_values=700).cache()
    total = enc.count()
    kept = enc.where(~_sstats_disjoint("lang", "en", "en")).count()
    assert kept < total, (kept, total)

    got = scan_range(enc, "lang", "en", "en", specs=specs,
                     with_n_tok=False)
    exp = df.where(F.col("lang") == "en")
    assert got.count() == exp.count() > 0
    assert got.where(F.col("lang").isNull()).count() == 0

    # range band over two languages
    two = scan_range(enc, "lang", "de", "fr", specs=specs,
                     with_n_tok=False)
    assert two.count() == df.where(
        F.col("lang").between("de", "fr")).count()

    # truncation edge: every url shares a >16-char prefix, so smin ==
    # the truncated prefix for every chunk; a probe band equal to that
    # exact prefix must keep chunks (smin <= probe) and return the
    # rows the residual admits (none — no url EQUALS the bare prefix)
    p16 = "prefix-that-is-longer-than-sixteen-"[:16]
    eq = scan_range(enc, "url", p16, p16, specs=specs,
                    with_n_tok=False)
    assert eq.count() == 0
    # but a band from the prefix upward catches everything
    allrows = scan_range(enc, "url", p16, p16 + "￿",
                         specs=specs, with_n_tok=False)
    assert allrows.count() == 6000

    # conjunctive mixed-kind bands still compose
    both = scan_where(enc, [("lang", "en", "en"),
                            ("doc_id", "doc000000", "doc002999")],
                      specs=specs, with_n_tok=False)
    assert both.count() == df.where(
        (F.col("lang") == "en")
        & F.col("doc_id").between("doc000000", "doc002999")).count()

    res = verify_stats(enc, specs=specs)
    assert res["ok"], res
    assert res["columns"]["lang"]["ok"]
    enc.unpersist()


def test_string_scan_range_files_and_degrade(spark, tmp_path):
    """File-skipping two-phase scan prunes shard FILES on string
    bounds; a manifest whose column_stats predate the smin/smax lanes
    degrades to a prune-free scan with zero missed rows."""
    from br_archive_spark.operators import encode_table
    from br_archive_spark.operators.decode import scan_range_files

    df = spark.range(4000).select(
        F.format_string("doc%06d", "id").alias("doc_id"),
        F.element_at(F.array(F.lit("alpha"), F.lit("beta"),
                             F.lit("gamma"), F.lit("delta")),
                     (F.col("id") % 4 + 1).cast("int")).alias("src"))
    specs = [("doc_id", "string"), ("src", "string")]
    man_dir = str(tmp_path / "man")
    (encode_table(df.repartitionByRange(4, "src")
                  .sortWithinPartitions("src"),
                  specs=specs, mode="scan", target_values=500)
     .write.parquet(man_dir))
    got = scan_range_files(spark, man_dir, "src", "beta", "beta",
                           specs=specs, with_n_tok=False)
    assert got.count() == 1000

    # strip the r5 lanes -> pre-r5 manifest shape; scan must degrade
    old = spark.read.parquet(man_dir).withColumn(
        "column_stats",
        F.expr("transform(column_stats, s -> named_struct("
               "'name', s.name, 'kind', s.kind, 'codec', s.codec,"
               "'orig_bytes', s.orig_bytes, 'enc_bytes', s.enc_bytes,"
               "'vmin', s.vmin, 'vmax', s.vmax, 'vsum', s.vsum,"
               "'n_vals', s.n_vals, 'null_count', s.null_count,"
               "'fmin', s.fmin, 'fmax', s.fmax))"))
    from br_archive_spark.operators.decode import scan_range
    deg = scan_range(old, "src", "beta", "beta", specs=specs,
                     with_n_tok=False)
    assert deg.count() == 1000


def test_scan_where_equality_bands_use_blooms(spark):
    """r5: point predicates (lo == hi) on int and string columns probe
    the membership blooms, so scan_where prunes on HASH layouts where
    every chunk's min/max spans the whole domain. Results must equal
    the raw filter; absent point probes prune ~every chunk."""
    import pyspark.sql.functions as F

    from br_archive_spark.operators import encode_table, scan_where
    from br_archive_spark.operators.decode import (_bloom_keep,
                                                   _sstats_disjoint,
                                                   _stats_disjoint)

    docs = spark.range(4000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.format_string("N#%05d", (F.col("id") * 11) % 50000)
        .alias("name"),
        (F.col("id") * 7 + 3).alias("okey"))
    specs = [("doc_id", "string"), ("name", "string"),
             ("okey", "int")]
    enc = encode_table(docs, specs=specs, mode="hash", num_parts=8,
                       target_values=512).cache()
    total = enc.count()

    # blooms prune strictly harder than the zone maps on this layout
    zi = enc.where(~_stats_disjoint("okey", 24, 24)).count()
    bi = enc.where(_bloom_keep("okey", [24], "int")).count()
    assert bi <= 2 and bi < zi <= total
    zs = enc.where(
        ~_sstats_disjoint("name", "N#00033", "N#00033")).count()
    bs = enc.where(_bloom_keep("name", ["N#00033"], "string")).count()
    assert bs <= 2 and bs < zs <= total

    got = scan_where(enc, [("okey", 24, 24)], specs=specs,
                     with_n_tok=False)
    assert [r["doc_id"] for r in got.collect()] == ["3"]
    got = scan_where(enc, [("name", "N#00033", "N#00033")],
                     specs=specs, with_n_tok=False)
    assert [r["doc_id"] for r in got.collect()] == ["3"]
    # absent probes: 0 rows (and the bloom drops ~every chunk)
    assert scan_where(enc, [("okey", 25, 25)], specs=specs,
                      with_n_tok=False).count() == 0
    assert scan_where(enc, [("name", "N#00034", "N#00034")],
                      specs=specs, with_n_tok=False).count() == 0
    # conjunction: equality + range band still exact
    got = scan_where(enc, [("name", "N#00033", "N#00033"),
                           ("okey", 0, 100)], specs=specs,
                     with_n_tok=False)
    assert [r["doc_id"] for r in got.collect()] == ["3"]
    # the KEY column's point band probes key_bloom (no column bloom)
    got = scan_where(enc, [("doc_id", "17", "17")], specs=specs,
                     with_n_tok=False)
    assert [r["name"] for r in got.collect()] == ["N#00187"]


def test_pruned_scans_equal_raw_filters_randomized(spark):
    """Seeded randomized equivalence sweep over the whole pruning
    stack (zone maps: int + truncate(16) string; blooms: int, string,
    key): for random tables, layouts, chunk sizes, and bands,
    scan_where and lookup_values must return EXACTLY the raw filter's
    rows. Pruning defects are silent wrong answers — the worst
    failure class — so this net complements the targeted tests with
    breadth: nulls, extremes, shared prefixes, >16-char strings,
    empty strings, empty results, whole-table bands."""
    import random

    from br_archive_spark.operators import (encode_table, lookup_values,
                                            scan_where)

    import os

    rng = random.Random(42)
    strs = [None, "", "aa", "aab", "k05", "k17",
            "x" * 20 + "a", "x" * 20 + "b", "éléphant"]
    n_trials = int(os.environ.get("SCAN_SWEEP_TRIALS", "10"))
    for trial in range(n_trials):
        n = rng.randint(40, 300)
        mode = rng.choice(["scan", "hash"])
        rows = [(str(i),
                 rng.choice(strs),
                 rng.choice([None, rng.randint(-100, 100),
                             -(2 ** 63), 2 ** 63 - 1]))
                for i in range(n)]
        df = spark.createDataFrame(
            rows, "doc_id string, s string, v long").cache()
        specs = [("doc_id", "string"), ("s", "string"), ("v", "int")]
        enc = encode_table(df, specs=specs, mode=mode, num_parts=4,
                           target_values=rng.choice([32, 64, 128])
                           ).cache()

        def eq(got_df, exp_df, what):
            got = sorted(tuple(r) for r in got_df.collect())
            exp = sorted(tuple(r) for r in exp_df.collect())
            assert got == exp, (trial, mode, what, got[:3], exp[:3])

        lo = rng.randint(-110, 105)
        hi = rng.randint(lo, 120)
        eq(scan_where(enc, [("v", lo, hi)], specs=specs,
                      with_n_tok=False),
           df.where(F.col("v").between(lo, hi)), ("v", lo, hi))
        a, b = sorted(rng.sample([s for s in strs if s is not None], 2))
        eq(scan_where(enc, [("s", a, b)], specs=specs,
                      with_n_tok=False),
           df.where(F.col("s").between(a, b)), ("s", a, b))
        pv = rng.choice([7, -(2 ** 63), 2 ** 63 - 1, 999])
        eq(scan_where(enc, [("v", pv, pv)], specs=specs,
                      with_n_tok=False),
           df.where(F.col("v") == pv), ("v=", pv))
        ps = rng.choice([s for s in strs if s is not None] + ["nope"])
        eq(scan_where(enc, [("s", ps, ps)], specs=specs,
                      with_n_tok=False),
           df.where(F.col("s") == ps), ("s=", ps))
        vals = rng.sample(range(-105, 120), rng.randint(1, 4))
        eq(lookup_values(enc, "v", vals, specs=specs,
                         with_n_tok=False),
           df.where(F.col("v").isin(vals)), ("v in", vals))
        svals = rng.sample([s for s in strs if s is not None], 2)
        eq(lookup_values(enc, "s", svals, specs=specs,
                         with_n_tok=False),
           df.where(F.col("s").isin(svals)), ("s in", svals))
        # r5 null bands + IN-list bands through scan_where — same
        # exactness bar, same nets (nulls, extremes, empty results)
        col = rng.choice(["s", "v"])
        eq(scan_where(enc, [], specs=specs, with_n_tok=False,
                      null_cols=[col]),
           df.where(F.col(col).isNull()), ("null", col))
        eq(scan_where(enc, [], specs=specs, with_n_tok=False,
                      not_null_cols=[col]),
           df.where(F.col(col).isNotNull()), ("notnull", col))
        eq(scan_where(enc, [], specs=specs, with_n_tok=False,
                      isin={"v": vals, "s": svals}),
           df.where(F.col("v").isin(vals) & F.col("s").isin(svals)),
           ("isin", vals, svals))
        eq(scan_where(enc, [("v", lo, hi)], specs=specs,
                      with_n_tok=False, not_null_cols=["s"],
                      isin={"s": svals}),
           df.where(F.col("v").between(lo, hi)
                    & F.col("s").isNotNull()
                    & F.col("s").isin(svals)), ("combo", trial))
        df.unpersist()
        enc.unpersist()


def test_scan_where_files_multi_predicate(spark, tmp_path):
    """scan_where_files: the two-phase file-skipping pass generalized
    to the full predicate family — phase 1 must keep a strict subset
    of shard files on a clustered layout, phase 2 must equal the raw
    conjunctive filter; a stripped pre-stats manifest falls through
    to the prune-free scan with identical rows."""
    from br_archive_spark.operators import (encode_table,
                                            scan_where_files)
    from br_archive_spark.operators.decode import (_normalize_isin,
                                                   _scan_drop)

    df = spark.range(6000).select(
        F.col("id").alias("okey"),
        F.format_string("%06d", F.col("id")).alias("name"),
        F.concat(F.lit("seg"),
                 (F.col("id") / 600).cast("long")).alias("seg"),
        F.when(F.col("id") % 4 == 0, F.col("id") % 91).alias("sparse"))
    specs = [("okey", "int"), ("name", "string"), ("seg", "string"),
             ("sparse", "int")]
    man_dir = str(tmp_path / "man")
    encode_table(df.repartitionByRange(8, "okey")
                 .sortWithinPartitions("okey"),
                 specs=specs, mode="scan", key="name",
                 target_values=500).write.parquet(man_dir)
    man = spark.read.parquet(man_dir)
    total = man.select(F.input_file_name()).distinct().count()
    kinds = dict(specs)
    drop = _scan_drop(man, kinds, [("okey", 1000, 2000)], [],
                      ["sparse"],
                      _normalize_isin(kinds, {"seg": ["seg1", "seg2"]}))
    kept = (man.withColumn("_f", F.input_file_name()).where(~drop)
            .select("_f").distinct().count())
    assert 0 < kept < total, (kept, total)
    got = sorted(r["okey"] for r in scan_where_files(
        spark, man_dir, [("okey", 1000, 2000)], specs=specs,
        with_n_tok=False, isin={"seg": ["seg1", "seg2"]},
        not_null_cols=["sparse"]).collect())
    exp = sorted(r["okey"] for r in df.where(
        F.col("okey").between(1000, 2000)
        & F.col("seg").isin("seg1", "seg2")
        & F.col("sparse").isNotNull()).collect())
    assert got == exp and len(got) > 0
    # whole-domain predicate keeps all files yet stays exact
    got = scan_where_files(spark, man_dir, [], specs=specs,
                           with_n_tok=False, null_cols=["sparse"])
    assert got.count() == df.where(F.col("sparse").isNull()).count()
    # empty phase-1 result: typed empty frame, no read of any shard
    assert scan_where_files(spark, man_dir, [("okey", 10 ** 6,
                                              2 * 10 ** 6)],
                            specs=specs, with_n_tok=False).count() == 0


def test_scan_where_files_skips_files_by_key_bloom(spark, tmp_path):
    """A hash layout spreads every key range over every shard file, so
    only the key bloom can skip files for a key IN-list: phase 1 of
    ``scan_where_files`` must open exactly the shard files that hold a
    probed key, and the rows must equal decode_table + filter."""
    from br_archive_spark.operators import scan_where_files

    docs = spark.range(5000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("text-"), "id").alias("text"))
    specs = [("doc_id", "string"), ("text", "string")]
    man_dir = str(tmp_path / "man")
    encode_table(docs, specs=specs, mode="hash",
                 num_parts=8).write.parquet(man_dir)
    man = spark.read.parquet(man_dir)
    files = man.inputFiles()
    assert len(files) > 2
    keys = ["17", "4321"]
    holding = sorted(
        f for f in files
        if decode_table(spark.read.parquet(f), specs=specs,
                        with_n_tok=False)
        .where(F.col("doc_id").isin(keys)).limit(1).count())
    out = scan_where_files(spark, man_dir, [], specs=specs,
                           with_n_tok=False, isin={"doc_id": keys})
    assert sorted(out.inputFiles()) == holding
    assert sorted(map(tuple, out.collect())) == sorted(map(
        tuple, decode_table(man, specs=specs, with_n_tok=False)
        .where(F.col("doc_id").isin(keys)).collect()))
