"""Selectivity histogram lane (r5) — ``column_stats.hist``.

Each chunk records a 16-bucket equi-width histogram with EXACT bucket
counts over its non-null lane values; :func:`hist_encoded` answers
``COUNT(*) WHERE lo <= col <= hi`` with rigorous ``(cmin, cmax)``
bounds from the manifest alone. Rules under test: the bounds always
bracket the true count, a band covering the whole column is EXACT
(every bucket fully contained), full-int64-range values never wrap
(the INT64_MIN lesson from cost.py), nulls and NaNs never count,
non-histogrammable chunks refuse rather than guess, and the lane
round-trips through parquet."""

import pyspark.sql.functions as F
import pytest

from br_archive_spark.operators import encode_table, hist_encoded


def _truth(df, col, lo, hi):
    return df.where((F.col(col) >= lo) & (F.col(col) <= hi)).count()


def test_hist_brackets_truth_matrix(spark):
    """Int and float lanes, hash and scan layouts, narrow / wide /
    empty / everything bands: cmin <= truth <= cmax always, and a
    band outside the domain is exactly (0, 0)."""
    df = spark.range(30000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") * 37 % 1000).alias("v"),
        (F.col("id") / 7.0).alias("score"))
    specs = [("okey", "int"), ("doc_id", "string"),
             ("v", "int"), ("score", "float")]
    for mode in ("hash", "scan"):
        enc = encode_table(df, specs=specs, mode=mode, num_parts=4,
                           target_values=5000).cache()
        try:
            for col, lo, hi in [("v", 100, 250), ("v", 999, 999),
                                ("okey", 5000, 12345),
                                ("score", 100.5, 900.25),
                                ("score", -1.0, 1e9)]:
                cmin, cmax = hist_encoded(enc, col, lo, hi)
                t = _truth(df, col, lo, hi)
                assert cmin <= t <= cmax, (mode, col, cmin, t, cmax)
            assert hist_encoded(enc, "v", 2000, 3000) == (0, 0)
        finally:
            enc.unpersist()


def test_hist_exact_when_band_covers_column(spark):
    """A band spanning the whole domain contains every bucket fully:
    cmin == cmax == the non-null row count — the lane's exactness
    anchor (bucket counts are exact, only edge buckets add slack)."""
    df = spark.range(12000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") % 5 != 0, F.col("id") % 313).alias("v"))
    specs = [("okey", "int"), ("doc_id", "string"), ("v", "int")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=4,
                       target_values=3000)
    nn = df.where(F.col("v").isNotNull()).count()
    assert hist_encoded(enc, "v", 0, 312) == (nn, nn)
    # nulls never counted: the band is the whole int64 domain
    assert hist_encoded(enc, "v", -(1 << 63), (1 << 63) - 1) \
        == (nn, nn)


def test_hist_int64_extremes_wrap_safe(spark):
    """Full-range int64 (INT64_MIN and INT64_MAX in one chunk): the
    builder's uint64 offset math and the consumer's Python-int edge
    math must both survive a range that exceeds int64."""
    lo64, hi64 = -(1 << 63), (1 << 63) - 1
    rows = [(str(i), v) for i, v in enumerate(
        [lo64, hi64, 0, -1, 1, lo64, hi64 - 7, 42, None, -(1 << 62)])]
    df = spark.createDataFrame(rows, "doc_id string, x long")
    enc = encode_table(df, specs=[("doc_id", "string"), ("x", "int")],
                       mode="scan", num_parts=1, target_values=100)
    for blo, bhi in [(lo64, hi64), (0, hi64), (lo64, -1),
                     (-100, 100), (hi64 - 7, hi64)]:
        cmin, cmax = hist_encoded(enc, "x", blo, bhi)
        t = _truth(df, "x", blo, bhi)
        assert cmin <= t <= cmax, (blo, bhi, cmin, t, cmax)
    assert hist_encoded(enc, "x", lo64, hi64) == (9, 9)


def test_hist_nan_rows_never_count(spark):
    """All-NaN chunks store an EMPTY histogram (not null): they
    contribute 0 to both bounds, matching Spark's finite-band
    semantics where NaN never matches — no refusal, no guess."""
    df = spark.createDataFrame(
        [("a", 1.5), ("b", float("nan")), ("c", 2.5),
         ("d", float("nan")), ("e", None)],
        "doc_id string, f double")
    enc = encode_table(df, specs=[("doc_id", "string"),
                                  ("f", "float")],
                       mode="scan", num_parts=1, target_values=100)
    assert hist_encoded(enc, "f", 0.0, 10.0) == (2, 2)


def test_hist_refuses_rather_than_guesses(spark, tmp_path):
    """String kinds, unknown columns, bloom=False encodes, stripped
    (pre-r5) manifests, and ±Inf float chunks all raise a nameable
    error — bounds that silently ignored chunks would be wrong
    answers. The happy path round-trips through parquet exactly."""
    df = spark.range(4000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") % 97).alias("v"))
    specs = [("okey", "int"), ("doc_id", "string"), ("v", "int")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=2,
                       target_values=1000)
    with pytest.raises(ValueError, match="scalar int-backed"):
        hist_encoded(enc, "doc_id", "a", "b")
    with pytest.raises(ValueError, match="not in the manifest"):
        hist_encoded(enc, "ghost", 0, 1)
    no_bloom = encode_table(df, specs=specs, mode="hash",
                            num_parts=2, target_values=1000,
                            bloom=False)
    with pytest.raises(ValueError, match="without a"):
        hist_encoded(no_bloom, "v", 0, 10)
    stripped = enc.withColumn("column_stats", F.expr(
        "transform(column_stats, s -> struct(s.name as name, "
        "s.kind as kind, s.codec as codec, s.vmin as vmin, "
        "s.vmax as vmax))"))
    with pytest.raises(ValueError, match="predates"):
        hist_encoded(stripped, "v", 0, 10)
    inf = spark.createDataFrame(
        [("a", 1.0), ("b", float("inf")), ("c", 2.0)],
        "doc_id string, f double")
    enc_inf = encode_table(inf, specs=[("doc_id", "string"),
                                       ("f", "float")],
                           mode="scan", num_parts=1,
                           target_values=100)
    with pytest.raises(ValueError, match="without a"):
        hist_encoded(enc_inf, "f", 0.0, 5.0)
    # parquet round-trip: identical bounds off disk
    enc.write.parquet(str(tmp_path / "m"))
    disk = spark.read.parquet(str(tmp_path / "m"))
    assert hist_encoded(disk, "v", 10, 40) \
        == hist_encoded(enc, "v", 10, 40)


def test_verify_stats_audits_hist(spark):
    """verify --stats cross-checks the hist lane: the full-domain
    band must be exact and an interior band must bracket the decoded
    count. A forged histogram (doubled bucket counts) goes red on
    exactly the forged column."""
    from br_archive_spark.operators.verify import verify_stats

    df = spark.range(6000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") * 13 % 500).alias("v"))
    specs = [("okey", "int"), ("doc_id", "string"), ("v", "int")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=4,
                       target_values=2000)
    res = verify_stats(enc, specs=specs)
    assert res["ok"], res
    assert res["columns"]["v"]["hist"]["ok"]
    assert res["columns"]["okey"]["hist"]["ok"]
    forged = enc.withColumn("column_stats", F.expr(
        "transform(column_stats, s -> CASE WHEN s.name = 'v' THEN"
        " named_struct('name', s.name, 'kind', s.kind,"
        " 'codec', s.codec, 'orig_bytes', s.orig_bytes,"
        " 'enc_bytes', s.enc_bytes, 'vmin', s.vmin, 'vmax', s.vmax,"
        " 'vsum', s.vsum, 'n_vals', s.n_vals,"
        " 'null_count', s.null_count, 'fmin', s.fmin, 'fmax', s.fmax,"
        " 'smin', s.smin, 'smax', s.smax, 'bloom', s.bloom,"
        " 'hll', s.hll, 'topk', s.topk,"
        " 'hist', transform(s.hist, x -> x * CAST(2 AS BIGINT)),"
        " 'qcut', s.qcut, 'fqcut', s.fqcut)"
        " ELSE s END)"))
    res2 = verify_stats(forged, specs=specs)
    assert not res2["ok"]
    assert not res2["columns"]["v"]["hist"]["ok"]
    assert res2["columns"]["okey"]["hist"]["ok"]


def test_hist_cli_agg_count_between(spark, tmp_path, capsys):
    """`agg --count-between LO:HI` reports the manifest-only bracket
    next to the exact lanes; a full-domain band is exact."""
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_agg

    df = spark.range(5000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") % 200).alias("v"))
    man_dir = str(tmp_path / "man")
    encode_table(df, specs=[("okey", "int"), ("doc_id", "string"),
                            ("v", "int")],
                 mode="hash", num_parts=2,
                 target_values=2000).write.parquet(man_dir)
    args = Namespace(input=man_dir, column="v", ndv=False, topk=0,
                     count_between="0:199",
                     master="local[2]", shuffle_partitions=4)
    assert cmd_agg(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    cb = out["count_between"]
    assert (cb["count_min"], cb["count_max"]) == (5000, 5000)
    args = Namespace(input=man_dir, column="v", ndv=False, topk=0,
                     count_between="50:59",
                     master="local[2]", shuffle_partitions=4)
    assert cmd_agg(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    cb = out["count_between"]
    assert cb["count_min"] <= 250 <= cb["count_max"]


@pytest.mark.parametrize("band", ["a:b:c", "1:x", "5", "1:2:", "inf:5",
                                  "1/0:3", ""])
def test_hist_cli_count_between_rejects_malformed(band, capsys):
    """A malformed `--count-between` is a usage error (exit 2, one
    line naming the argument), never a traceback — and it is caught
    before any Spark work starts."""
    from argparse import Namespace

    from br_archive_spark.cli import cmd_agg

    args = Namespace(input="/nonexistent", column="v", ndv=False,
                     topk=0, count_between=band, master="local[1]",
                     shuffle_partitions=1)
    assert cmd_agg(args) == 2
    err = capsys.readouterr().err
    assert "--count-between" in err and repr(band) in err


def test_hist_cli_count_between_fractional_int_band(spark, tmp_path,
                                                    capsys):
    """On an int lane a fractional band means the integers inside it:
    0.5:12.5 is 1..12, reported as such, answered exactly like 1:12.
    Truncating 0.5 to 0 would make the band contain a whole bucket
    (0..12 with 13-wide buckets) and count_min would exceed the count
    that was asked for."""
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_agg

    df = spark.range(5000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") % 200).alias("v"))
    man_dir = str(tmp_path / "man")
    encode_table(df, specs=[("okey", "int"), ("doc_id", "string"),
                            ("v", "int")],
                 mode="scan", target_values=5000).write.parquet(man_dir)

    def run(band):
        args = Namespace(input=man_dir, column="v", ndv=False, topk=0,
                         count_between=band, master="local[2]",
                         shuffle_partitions=4)
        assert cmd_agg(args) == 0
        out = capsys.readouterr().out.strip().splitlines()[-1]
        return json.loads(out)["count_between"]

    truth = _truth(df, "v", 0.5, 12.5)
    assert truth == 12 * 25
    frac = run("0.5:12.5")
    assert frac["count_min"] <= truth <= frac["count_max"]
    assert (frac["lo"], frac["hi"]) == (1, 12)
    assert frac == run("1:12")
    neg = run("-3.5:-0.5")               # no integer inside: count 0
    assert (neg["lo"], neg["hi"]) == (-3, -1)
    assert neg["count_min"] == 0


def test_hist_never_reads_payload(spark):
    """Proof positive that hist_encoded is manifest-only: zero out
    EVERY payload byte (decode_table would fail its checksum) and
    the bracket answers are byte-for-byte identical."""
    df = spark.range(8000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") * 7 % 331).alias("v"))
    specs = [("okey", "int"), ("doc_id", "string"), ("v", "int")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=4,
                       target_values=2000).cache()
    want = hist_encoded(enc, "v", 40, 200)
    gutted = enc.withColumn("columns", F.expr(
        "transform(columns, c -> named_struct("
        "'name', c.name, 'kind', c.kind, 'codec', c.codec,"
        "'params', c.params, 'payload', CAST('' AS BINARY),"
        "'orig_bytes', c.orig_bytes, 'enc_bytes', c.enc_bytes))"))
    assert hist_encoded(gutted, "v", 40, 200) == want
    enc.unpersist()


def test_hist_lane_survives_evolve(spark):
    """drop_columns keeps surviving columns' histograms intact (same
    brackets) and add_column builds the lane for the new column —
    schema evolution must not shed the selectivity index."""
    from br_archive_spark.operators import add_column, drop_columns

    df = spark.range(6000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("s"), F.col("id") % 5).alias("cat"))
    specs = [("okey", "int"), ("doc_id", "string"),
             ("cat", "string")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=4,
                       target_values=2000)
    before = hist_encoded(enc, "okey", 1000, 4200)
    vals = df.select(F.col("doc_id"),
                     (F.col("okey") % 9).alias("nine"))
    added = add_column(enc, vals, "nine", "int", key="doc_id")
    assert hist_encoded(added, "nine", 0, 8) == (6000, 6000)
    cmin, cmax = hist_encoded(added, "nine", 2, 5)
    truth = df.where((F.col("okey") % 9).between(2, 5)).count()
    assert cmin <= truth <= cmax
    dropped = drop_columns(added, ["cat"])
    assert hist_encoded(dropped, "okey", 1000, 4200) == before
    assert hist_encoded(dropped, "nine", 2, 5) == (cmin, cmax)


def test_hist_date_timestamp_lane_units(spark):
    """Int-backed temporal kinds carry histograms in LANE units —
    days since epoch for date, epoch micros for timestamp (the
    scan_range convention): full-domain bands are exact and interior
    day/micro bands bracket the truth."""
    df = spark.range(3000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.date_add(F.lit("2024-01-01"),
                   (F.col("id") % 365).cast("int")).alias("d"),
        F.timestamp_micros(
            F.lit(1700000000000000) + F.col("id") * 1000000
        ).alias("ts"))
    specs = [("doc_id", "string"), ("d", "date"),
             ("ts", "timestamp")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=2,
                       target_values=1000)
    import datetime

    epoch = datetime.date(1970, 1, 1)
    d0 = (datetime.date(2024, 2, 1) - epoch).days
    d1 = (datetime.date(2024, 4, 1) - epoch).days
    cmin, cmax = hist_encoded(enc, "d", d0, d1)
    truth = df.where((F.col("d") >= "2024-02-01")
                     & (F.col("d") <= "2024-04-01")).count()
    assert cmin <= truth <= cmax
    assert hist_encoded(enc, "d", -(1 << 63), (1 << 63) - 1) \
        == (3000, 3000)
    t0 = 1700000000000000 + 500 * 1000000
    t1 = 1700000000000000 + 1500 * 1000000
    cmin, cmax = hist_encoded(enc, "ts", t0, t1)
    assert cmin <= 1001 <= cmax
    assert hist_encoded(enc, "ts", -(1 << 63), (1 << 63) - 1) \
        == (3000, 3000)


def test_hist_decimal_unscaled_units(spark):
    """Decimal lanes histogram in UNSCALED-int units (cents for
    decimal(.,2)) — same convention as scan_range; bands in cents
    bracket the truth and the full domain is exact."""
    from br_archive_spark.operators.encode import infer_specs

    df = spark.range(4000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        ((F.col("id") * 37 % 90000 + 100) / 100.0)
        .cast("decimal(12,2)").alias("price"))
    specs = infer_specs(df)
    enc = encode_table(df, specs=specs, mode="hash", num_parts=2,
                       target_values=1000)
    cmin, cmax = hist_encoded(enc, "price", 20000, 50000)  # cents
    truth = df.where((F.col("price") >= 200.00)
                     & (F.col("price") <= 500.00)).count()
    assert cmin <= truth <= cmax
    assert hist_encoded(enc, "price", -(1 << 63), (1 << 63) - 1) \
        == (4000, 4000)


def test_qcut_tightens_skewed_brackets(spark):
    """The equi-width hist is blind to skew: one huge outlier per
    chunk stretches the bucket width so the bulk collapses into
    bucket 0 and a bulk band gets the useless bracket (0, n). The
    equi-depth cuts keep n/16 resolution regardless, so the
    INTERSECTED bracket must stay tight — and still contain the
    exact count."""
    df = spark.range(16000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") % 4000 == 0, F.lit(1 << 60))
        .otherwise(F.col("id") % 100).alias("v"))
    specs = [("okey", "int"), ("doc_id", "string"), ("v", "int")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=4,
                       target_values=4000)
    cmin, cmax = hist_encoded(enc, "v", 20, 59)
    truth = df.where(F.col("v").between(20, 59)).count()
    assert cmin <= truth <= cmax
    # 4 chunks x ~4000 values: equi-depth resolution ~2*(n/16)+2 per
    # chunk => bracket width must be far below the all-or-nothing
    # 16000 the skewed hist alone would report
    assert cmax - cmin <= 4 * (2 * (4000 // 16) + 4), (cmin, cmax)
    assert cmax < 16000


def test_hist_only_manifest_still_answers(spark):
    """A manifest carrying hist but not qcut (written between the two
    r5 lane commits): hist_encoded degrades to the hist-only bracket
    — no crash, bounds still rigorous."""
    df = spark.range(6000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") % 300).alias("v"))
    specs = [("okey", "int"), ("doc_id", "string"), ("v", "int")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=2,
                       target_values=2000)
    hist_only = enc.withColumn("column_stats", F.expr(
        "transform(column_stats, s -> named_struct("
        "'name', s.name, 'kind', s.kind, 'codec', s.codec,"
        "'orig_bytes', s.orig_bytes, 'enc_bytes', s.enc_bytes,"
        "'vmin', s.vmin, 'vmax', s.vmax, 'vsum', s.vsum,"
        "'n_vals', s.n_vals, 'null_count', s.null_count,"
        "'fmin', s.fmin, 'fmax', s.fmax, 'smin', s.smin,"
        "'smax', s.smax, 'bloom', s.bloom, 'hll', s.hll,"
        "'topk', s.topk, 'hist', s.hist))"))
    cmin, cmax = hist_encoded(hist_only, "v", 50, 120)
    truth = df.where(F.col("v").between(50, 120)).count()
    assert cmin <= truth <= cmax
    assert hist_encoded(hist_only, "v", -(1 << 63), (1 << 63) - 1) \
        == (6000, 6000)


def test_verify_stats_reports_hist_coverage_gap(spark):
    """A bloom=True manifest unioned with a bloom=False increment:
    the histogrammable column has chunks without a histogram, so the
    hist audit reports the gap on the column instead of skipping it
    silently; the other lanes still verify green."""
    from br_archive_spark.operators.verify import verify_stats

    def part(lo, n, bloom):
        df = spark.range(lo, lo + n).select(
            F.col("id").alias("okey"),
            F.col("id").cast("string").alias("doc_id"),
            (F.col("id") * 13 % 500).alias("v"))
        return encode_table(df, specs=specs, mode="scan", num_parts=2,
                            target_values=1500, bloom=bloom)

    specs = [("okey", "int"), ("doc_id", "string"), ("v", "int")]
    full, bare = part(0, 3000, True).cache(), part(3000, 3000, False)
    bare = bare.cache()
    try:
        res = verify_stats(full.unionByName(bare), specs=specs)
        gap = f"{bare.count()} chunks without histogram"
        assert res["columns"]["v"]["hist"] == {"skipped": gap}, res
        assert res["columns"]["okey"]["hist"] == {"skipped": gap}, res
        assert res["ok"], res
    finally:
        full.unpersist()
        bare.unpersist()
