"""Compaction + lineage resume over a manifest containing every column
kind at once — nv.-wrapped (null-carrying), float_list, binary, and the
r3 temporal/decimal kinds (VERDICT r2 "next round" #8). The earlier
tests covered these paths only for the token-table specs."""

import shutil

import pyspark.sql.functions as F
import pytest

from pyspark.sql import DataFrame

from br_archive_spark.operators import (compact_manifest, decode_files,
                                        decode_table, infer_specs)
from br_archive_spark.plans.lineage import encode_with_checkpoint

MIXED_SPECS = [
    ("doc_id", "string"),
    ("tokens", "int_list"),
    ("emb", "float_list"),
    ("payload", "binary"),
    ("lang", "string"),
    ("d", "date"),
    ("ts", "timestamp"),
    ("price", "decimal(12,2)"),
]


def mixed_table(spark, n: int = 3000) -> DataFrame:
    """Deterministic table with every kind; nulls at row level (lang,
    payload, d, ts, price) and element level (tokens)."""
    base = spark.range(n).select(
        F.col("id"),
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id"))
    return base.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), (F.col("id") % 17 + 1).cast("int")),
            lambda x: F.when(x % 7 == 0, None)
            .otherwise((x * 31 + F.col("id") % 101).cast("int"))
        ).alias("tokens"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda x: ((x + F.col("id") % 13) / 7).cast("float")
        ).alias("emb"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.encode(F.concat(F.lit("payload:"),
                                     F.col("id").cast("string")),
                            "utf-8")).alias("payload"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.concat(F.lit("l"),
                            (F.col("id") % 4).cast("string")))
        .alias("lang"),
        F.when(F.col("id") % 9 == 0, None)
        .otherwise(F.date_add(F.lit("1995-01-01").cast("date"),
                              (F.col("id") % 3000).cast("int")))
        .alias("d"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.timestamp_seconds(F.lit(800000000) + F.col("id") * 61))
        .alias("ts"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(((F.col("id") * 997 % 1000000) / 100)
                   .cast("decimal(12,2)")).alias("price"))


@pytest.fixture()
def dirs(tmp_path):
    yield (str(tmp_path / "src.parquet"), str(tmp_path / "man"),
           str(tmp_path / "cman"))
    shutil.rmtree(tmp_path, ignore_errors=True)


def _assert_tables_equal(a: DataFrame, b: DataFrame, specs=MIXED_SPECS):
    cols = [n for n, _ in specs]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0
    assert a.count() == b.count()


def test_compact_preserves_mixed_kind_manifest(spark, dirs):
    src_dir, man_dir, cman_dir = dirs
    src = mixed_table(spark).cache()
    src.repartition(6).write.parquet(src_dir)

    from br_archive_spark.operators import encode_files

    encode_files(spark, src_dir, specs=MIXED_SPECS, output_dir=man_dir,
                 target_unit_bytes=1).collect()
    stats = compact_manifest(spark, man_dir, cman_dir,
                             target_bytes=64 << 20).collect()
    assert sum(r["input_files"] for r in stats) >= 6

    after = spark.read.parquet(cman_dir)
    # nv.-wrapped entries survived compaction verbatim
    codecs = {r[0] for r in after.selectExpr("explode(column_stats) s")
              .selectExpr("s.codec").distinct().collect()}
    assert any(c.startswith("nv.") for c in codecs)
    dec = decode_table(after, specs=MIXED_SPECS, with_n_tok=False)
    _assert_tables_equal(src, dec)


def test_lineage_resume_mixed_kinds(spark, dirs):
    src_dir, man_dir, _ = dirs
    src = mixed_table(spark).cache()
    src.repartition(4).write.parquet(src_dir)

    # interrupted run: first half of the files only
    files = sorted(spark.read.parquet(src_dir).inputFiles())
    half = files[:2]
    from br_archive_spark.operators import encode_files

    encode_files(spark, half, specs=MIXED_SPECS) \
        .write.parquet(man_dir)
    before = {r["chunk_id"]: r["checksum"] for r in
              spark.read.parquet(man_dir)
              .select("chunk_id", "checksum").collect()}

    s = encode_with_checkpoint(spark, src_dir, man_dir,
                               snapshot_id="resume", specs=MIXED_SPECS)
    assert s["skipped_files"] == len(half)
    assert s["encoded_files"] == len(files) - len(half)

    after = {r["chunk_id"]: r["checksum"] for r in
             spark.read.parquet(man_dir)
             .select("chunk_id", "checksum").collect()}
    for cid, crc in before.items():
        assert after[cid] == crc

    dec = decode_table(spark.read.parquet(man_dir), specs=MIXED_SPECS,
                       with_n_tok=False)
    _assert_tables_equal(src, dec)


def test_decode_files_mixed_kinds_bulk_sink(spark, dirs):
    """Full bulk path (encode_files -> decode_files with in-process
    sink) over all kinds at once."""
    src_dir, man_dir, out_dir = dirs
    src = mixed_table(spark, 1200).cache()
    src.repartition(3).write.parquet(src_dir)

    from br_archive_spark.operators import encode_files

    encode_files(spark, src_dir, specs=MIXED_SPECS,
                 output_dir=man_dir).collect()
    decode_files(spark, man_dir, specs=MIXED_SPECS, with_n_tok=False,
                 output_dir=out_dir).collect()
    dec = spark.read.parquet(out_dir)
    _assert_tables_equal(src, dec)


def test_decode_table_without_int_list_derives_n_tok(spark):
    """A table with no int_list column decodes under the default
    with_n_tok=True — the flag silently derives to False instead of
    dying in the UDF (n_tok is the length of the int_list column;
    absent column, absent output)."""
    import pyspark.sql.functions as F

    from br_archive_spark.operators import decode_table, encode_table
    from br_archive_spark.operators.encode import infer_specs

    df = spark.range(500).select(
        F.col("id").cast("string").alias("doc_id"),
        F.timestamp_micros(F.lit(1_700_000_000_000_000)
                           + F.col("id") * 1_000_000).alias("ts"))
    specs = infer_specs(df)
    enc = encode_table(df, specs=specs, num_parts=2)
    dec = decode_table(enc, specs=specs)
    assert "n_tok" not in dec.columns
    got = dec.select("doc_id", "ts")
    assert df.exceptAll(got).count() == 0
    assert got.exceptAll(df).count() == 0


def test_decode_files_without_int_list_derives_n_tok(spark, dirs):
    """decode_files derives the n_tok flag the way decode_table does:
    a table with no int_list column decodes under the default
    with_n_tok=True, returned and written in-process."""
    from br_archive_spark.operators import encode_table

    _, man_dir, out_dir = dirs
    df = spark.range(800).select(
        F.format_string("d%04d", "id").alias("doc_id"),
        (F.col("id") * 7 - 100).alias("v"),
        F.when(F.col("id") % 9 == 0, None)
        .otherwise(F.col("id") / 3.0).alias("f"))
    specs = [("doc_id", "string"), ("v", "int"), ("f", "float")]
    encode_table(df, specs=specs, num_parts=2, target_values=900) \
        .write.parquet(man_dir)

    dec = decode_files(spark, man_dir, specs=specs)
    assert dec.columns == ["doc_id", "v", "f"]
    _assert_tables_equal(df, dec, specs)
    decode_files(spark, man_dir, specs=specs, output_dir=out_dir).collect()
    _assert_tables_equal(df, spark.read.parquet(out_dir), specs)


@pytest.mark.parametrize("mode", ["direct", "spark"])
def test_cli_decode_reads_specs_from_manifest(spark, dirs, mode):
    """CLI ``decode`` (both modes) decodes a manifest with no token
    column by the specs the manifest records, not the token specs."""
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_decode
    from br_archive_spark.operators import encode_files

    src_dir, man_dir, out_dir = dirs
    specs = [s for s in MIXED_SPECS if s[0] != "tokens"]
    src = mixed_table(spark, 900).drop("tokens").cache()
    src.repartition(2).write.parquet(src_dir)
    encode_files(spark, src_dir, specs=specs, output_dir=man_dir).collect()

    args = Namespace(input=man_dir, output=out_dir, mode=mode, yes=True,
                     global_dict=None, master="local[2]",
                     shuffle_partitions=4)
    assert cmd_decode(args) == 0
    dec = spark.read.parquet(out_dir)
    assert dec.columns == [n for n, _ in specs]
    _assert_tables_equal(src, dec, specs)
    src.unpersist()


@pytest.mark.parametrize("kind,ddl", [
    ("string", "string"), ("int_list", "array<int>"), ("int", "bigint"),
    ("binary", "binary"), ("float_list", "array<float>"),
    ("double_list", "array<double>"), ("float", "double"),
    ("date", "date"), ("timestamp", "timestamp"), ("bool", "boolean"),
    ("decimal(12,2)", "decimal(12,2)"), ("decimal(18,4)", "decimal(18,4)"),
])
def test_decoded_spark_schema_per_kind(kind, ddl):
    """The decoded Spark type of every kind comes from its Arrow type
    (one kind->type table); n_tok follows an int_list column only."""
    from br_archive_spark.operators.decode import _decoded_spark_schema

    assert _decoded_spark_schema([("c", kind)], False) == f"c {ddl}"
    n_tok = ", n_tok int" if kind == "int_list" else ""
    assert _decoded_spark_schema([("c", kind)], True) == f"c {ddl}{n_tok}"


def test_decode_column_pruning_partial_specs(spark):
    """specs may be a SUBSET of the encoded columns: only requested
    columns decode (exactly, checksum-verified); with
    verify_checksums=False the unrequested entries are filtered out of
    the manifest rows JVM-side before the Arrow exchange."""
    import pyspark.sql.functions as F

    from br_archive_spark.operators import decode_table, encode_table

    df = spark.range(2000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.array(F.col("id").cast("int"),
                (F.col("id") + 1).cast("int")).alias("tokens"),
        F.concat(F.lit("txt-"), F.col("id")).alias("text"))
    specs = [("doc_id", "string"), ("tokens", "int_list"),
             ("text", "string")]
    enc = encode_table(df, specs=specs, num_parts=2).cache()

    # verified partial decode: full rows ship (checksum covers all
    # entries) but only the requested column reconstructs
    only = decode_table(enc, specs=[("doc_id", "string")],
                        verify_checksums=True)
    assert only.columns == ["doc_id"]
    assert df.select("doc_id").exceptAll(only).count() == 0

    # unverified partial decode: the plan filters the entry array
    # before mapInArrow, so unrequested payloads never reach Python
    fast = decode_table(enc, specs=[("text", "string")],
                        verify_checksums=False)
    assert df.select("text").exceptAll(fast).count() == 0
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "filter(columns" in plan.replace(" ", "").lower() or \
        "array_contains" in plan
    enc.unpersist()
