"""End-to-end Spark round-trip tests — the reference's e2e invariant.

``test/test_bra.cpp:78-102`` (archive → extract → byte-compare) and
``test_bra_unbra_comp*`` (:332-398, compressed + ``-t`` verify)
transposed to: encode table → decode table → per-row token-array
equality + checksum verification, per FIXTURES.md F4.
"""

import numpy as np
import pyspark.sql.functions as F
import pytest

from br_archive_spark.datagen import token_table
from br_archive_spark.operators import (ChecksumError, compression_report,
                                        decode_table, encode_table,
                                        verify_roundtrip)


@pytest.fixture(scope="module")
def source(spark):
    df = token_table(spark, 3000).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def encoded(spark, source):
    enc = encode_table(source, num_parts=8, target_values=200_000,
                       snapshot_id="test-snap").cache()
    enc.count()
    return enc


def test_roundtrip_bit_identical(source, encoded):
    res = verify_roundtrip(source, encoded)
    assert res["ok"], res
    assert res["rows"] == 3000


def test_compressed_smaller_than_reference(source, encoded):
    """bytes/token must beat the measured reference baseline
    (1.22 B/token on the same Zipf(1.3)/50k workload, BASELINE.md)."""
    ntok = source.agg(F.sum("n_tok")).collect()[0][0]
    enc_tokens_bytes = (encoded
                        .select(F.explode("columns").alias("c"))
                        .where(F.col("c.name") == "tokens")
                        .agg(F.sum("c.enc_bytes")).collect()[0][0])
    assert enc_tokens_bytes / ntok <= 1.22


def test_decode_schema_and_n_tok(encoded):
    dec = decode_table(encoded)
    assert [f.name for f in dec.schema.fields] == \
        ["doc_id", "tokens", "source", "n_tok"]
    bad = dec.where(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0


def test_deterministic_chunking(spark, source, encoded):
    """Re-encoding produces identical chunk ids and checksums —
    the determinism the reference gets from sequential scan order."""
    enc2 = encode_table(source, num_parts=8, target_values=200_000,
                        snapshot_id="test-snap")
    a = {r["chunk_id"]: r["checksum"] for r in
         encoded.select("chunk_id", "checksum").collect()}
    b = {r["chunk_id"]: r["checksum"] for r in
         enc2.select("chunk_id", "checksum").collect()}
    assert a == b


def test_checksum_verification_catches_corruption(spark, encoded):
    """Corrupt a payload → decode must raise (the reference's CRC check
    on extract, src/io/lib_bra_io_file_ctx.c:672-685)."""
    corrupted = encoded.withColumn(
        "checksum", F.col("checksum") + F.lit(1))
    with pytest.raises(Exception) as exc_info:
        decode_table(corrupted).count()
    assert "checksum mismatch" in str(exc_info.value)


def test_compression_report(encoded):
    rep = compression_report(encoded).collect()
    assert len(rep) >= 3
    for r in rep:
        assert 0 < r["ratio"] <= 1.5


def test_manifest_stats_consistency(source, encoded):
    ntok = source.agg(F.sum("n_tok")).collect()[0][0]
    nval = encoded.agg(F.sum("n_values")).collect()[0][0]
    assert nval == ntok
    nrows = encoded.agg(F.sum("n_rows")).collect()[0][0]
    assert nrows == 3000


def test_empty_input(spark):
    empty = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string")
    enc = encode_table(empty, num_parts=4)
    assert enc.count() == 0


def test_single_row_and_empty_tokens(spark):
    df = spark.createDataFrame(
        [("d1", [7, 7, 7], 3, "web"), ("d2", [], 0, "code")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    enc = encode_table(df, num_parts=2)
    out = {r["doc_id"]: r["tokens"] for r in decode_table(enc).collect()}
    assert out == {"d1": [7, 7, 7], "d2": []}


def test_lookup_rows_fsst_point_access(spark):
    """lookup_rows must return exactly the requested rows, decoding the
    value column per row (fsst path), including when some chunks are
    zone-map-pruned and when the value column carries nulls."""
    from pyspark.sql import functions as F

    from br_archive_spark.operators import encode_table, lookup_rows

    df = spark.range(2000).select(
        F.format_string("d%06d", F.col("id")).alias("doc_id"),
        F.when(F.col("id") % 13 == 0, None).otherwise(
            F.concat(F.lit("payload-shared-prefix-"),
                     F.col("id"))).alias("text"))
    specs = [("doc_id", "string"), ("text", "string")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=6,
                       target_values=4096,
                       str_codecs=("fsst", "str_dict"))
    wanted = ["d000000", "d000013", "d000777", "d001999"]
    got = {r["doc_id"]: r["text"]
           for r in lookup_rows(enc, wanted, value_col="text").collect()}
    assert set(got) == set(wanted)
    assert got["d000013"] is None  # 13 % 13 == 0 → null text preserved
    assert got["d000777"] == "payload-shared-prefix-777"
    assert got["d001999"] == "payload-shared-prefix-1999"


def test_lookup_rows_empty_request(spark):
    from pyspark.sql import functions as F

    from br_archive_spark.operators import encode_table, lookup_rows

    df = spark.range(50).select(
        F.format_string("d%03d", F.col("id")).alias("doc_id"),
        F.lit("t").alias("text"))
    enc = encode_table(df, specs=[("doc_id", "string"),
                                  ("text", "string")], num_parts=2)
    assert lookup_rows(enc, [], value_col="text").count() == 0


def test_lookup_rows_binary_kind(spark):
    """Binary value columns row-decode too (r2 review: the utf-8
    decode used to crash on bytes); kind mismatches raise clearly."""
    import pytest
    from pyspark.sql import functions as F

    from br_archive_spark.operators import encode_table, lookup_rows

    df = spark.range(300).select(
        F.format_string("d%04d", F.col("id")).alias("doc_id"),
        F.encode(F.concat(F.lit("ÿ-blob-"), F.col("id")), "utf-8")
        .alias("payload"))
    enc = encode_table(df, specs=[("doc_id", "string"),
                                  ("payload", "binary")],
                       mode="hash", num_parts=3, target_values=128)
    got = {r["doc_id"]: r["payload"] for r in
           lookup_rows(enc, ["d0000", "d0299"], value_col="payload",
                       value_kind="binary").collect()}
    assert got["d0000"] == "ÿ-blob-0".encode()
    assert got["d0299"] == "ÿ-blob-299".encode()
    with pytest.raises(Exception, match="value_kind"):
        lookup_rows(enc, ["d0000"], value_col="payload").collect()


def test_lookup_on_non_zone_map_key_does_not_miss(spark):
    """The zone map describes ONE recorded column (manifest key_col);
    a lookup keyed on a different column must not prune with those
    bounds — r2's code silently returned nothing here (ADVICE r2 #1:
    alt-key range disjoint from the doc_id zone map pruned every
    chunk)."""
    from pyspark.sql import functions as F

    from br_archive_spark.operators import (encode_table, lookup_docs,
                                            lookup_rows)

    df = spark.range(500).select(
        F.format_string("d%04d", F.col("id")).alias("doc_id"),
        F.format_string("z%04d", F.col("id")).alias("alt_key"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"))
    specs = [("doc_id", "string"), ("alt_key", "string"),
             ("text", "string")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=4,
                       target_values=128)
    assert enc.select("key_col").distinct().collect()[0][0] == "doc_id"

    got = {r["alt_key"]: r["text"] for r in
           lookup_rows(enc, ["z0007", "z0499"], value_col="text",
                       key="alt_key").collect()}
    assert got == {"z0007": "text-7", "z0499": "text-499"}

    docs = lookup_docs(enc, ["z0042"], specs=specs, key="alt_key",
                       with_n_tok=False).collect()
    assert len(docs) == 1 and docs[0]["text"] == "text-42"

    # and pruning still engages on the recorded key column
    assert {r["text"] for r in
            lookup_rows(enc, ["d0003"], value_col="text").collect()} \
        == {"text-3"}


def test_lookup_range_prunes_and_is_exact(spark):
    """lookup_range: exact BETWEEN semantics, and the zone map actually
    prunes chunks when hash-mode sorting clusters keys."""
    from pyspark.sql import functions as F

    from br_archive_spark.operators import encode_table, lookup_range

    df = spark.range(1000).select(
        F.format_string("d%04d", F.col("id")).alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"), F.lit("s").alias("source"))
    enc = encode_table(df, mode="range", num_parts=8,
                       target_values=64).cache()
    out = lookup_range(enc, "d0100", "d0149")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [f"d{i:04d}" for i in range(100, 150)]
    # pruning: the surviving chunk set is a strict subset
    from br_archive_spark.operators.decode import _scan_prune
    total = enc.count()
    surviving = _scan_prune(enc, {"doc_id": "string"},
                            [("doc_id", "d0100", "d0149")], [], [],
                            {}).count()
    assert 0 < surviving < total
