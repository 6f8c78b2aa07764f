"""Chunk checksum tests: known answers, incremental and combine
properties for both tags, and the table-level fold.

CRC-32C vectors from the reference's ``test/test_bra_crc32c.cpp``:
"123456789" → 0xE3069283 (:17-19), incremental chaining (:28-30),
combine correctness (:100-135). CRC-32 (zlib, IEEE): "123456789" →
0xCBF43926, the standard check value.
"""

import zlib

import pytest

from br_archive_spark.integrity import (CHECKSUM_ALGO, CHECKSUMS,
                                        ChecksumError, chunk_checksum,
                                        crc32c, crc32c_combine,
                                        crc_combine, verify_chunk)


def test_known_answers():
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"Hello World!") == 0xFE6CF1DC
    assert crc32c(b"") == 0


def test_incremental_chaining():
    a, b = b"Hello ", b"World!"
    assert crc32c(b, crc32c(a)) == crc32c(a + b)


def test_combine():
    a, b = b"123456789", b"Hello World!"
    assert crc32c_combine(crc32c(a), crc32c(b), len(b)) == crc32c(a + b)
    assert crc32c_combine(crc32c(a), crc32c(b""), 0) == crc32c(a)


def test_combine_associative():
    parts = [b"alpha", b"beta", b"gamma-gamma", b"d"]
    crc = crc32c(parts[0])
    for p in parts[1:]:
        crc = crc32c_combine(crc, crc32c(p), len(p))
    assert crc == crc32c(b"".join(parts))


def test_chunk_checksum_multi_part():
    assert chunk_checksum(b"ab", b"cd") == chunk_checksum(b"abcd")


def test_crc32_known_answer():
    """New chunks are checksummed with CRC-32 (zlib)."""
    assert CHECKSUM_ALGO == "crc32"
    assert chunk_checksum(b"123456789") == 0xCBF43926
    assert chunk_checksum(b"123456789", algo="crc32") == 0xCBF43926
    assert chunk_checksum(b"123456789", algo="crc32c") == 0xE3069283
    assert chunk_checksum() == 0


@pytest.mark.parametrize("algo", sorted(CHECKSUMS))
def test_checksum_incremental_and_combine(algo):
    """For each tag: parts fold incrementally, and the tag's polynomial
    combines crc(A), crc(B) into crc(A‖B) — the properties decode and
    ``table_checksum`` rely on."""
    import numpy as np

    fn, poly = CHECKSUMS[algo]
    rng = np.random.default_rng(6)
    a, b, c = rng.bytes(10000), rng.bytes(23456), rng.bytes(77)
    whole = fn(a + b + c)
    assert chunk_checksum(a, b, c, algo=algo) == whole
    assert chunk_checksum(memoryview(a), np.frombuffer(b, np.uint8),
                          c, algo=algo) == whole
    assert fn(b, fn(a)) == fn(a + b)
    assert crc_combine(fn(a), fn(b), len(b), poly) == fn(a + b)
    assert crc_combine(fn(a), fn(b""), 0, poly) == fn(a)
    assert crc_combine(0, fn(c), len(c), poly) == fn(c)
    crc = 0
    for p in (a, b, c):
        crc = crc_combine(crc, fn(p), len(p), poly)
    assert crc == whole


@pytest.mark.parametrize("algo", sorted(CHECKSUMS))
def test_verify_chunk_dispatches_on_the_stored_tag(algo):
    """``verify_chunk`` checks a chunk under its own tag; a changed byte
    is a mismatch, and a missing or unknown tag is format skew — both
    raise ChecksumError naming the chunk."""
    parts = [b"params", b"payload"]
    stored = chunk_checksum(*parts, algo=algo)
    verify_chunk("c7", stored, algo, parts)
    with pytest.raises(ChecksumError, match="chunk c7: checksum mismatch"):
        verify_chunk("c7", stored, algo, [b"params", b"payloaD"])
    for tag in (None, "crc32-zlib"):
        with pytest.raises(ChecksumError,
                           match="chunk c7: .*checksum algorithm"):
            verify_chunk("c7", stored, tag, parts)


def test_crc32c_fast_known_answer():
    from br_archive_spark.integrity.crc import crc32c_fast

    # reference vector: test/test_bra_crc32c.cpp:17-19
    assert crc32c_fast(b"123456789") == 0xE3069283


def test_crc32c_fast_matches_scalar_property():
    """The vectorized row-parallel implementation must equal the
    table-driven scalar on arbitrary sizes (block boundaries, tails,
    empty, sub-512 scalar path)."""
    import numpy as np

    from br_archive_spark.integrity.crc import crc32c, crc32c_fast

    rng = np.random.default_rng(3)
    for n in [0, 1, 7, 511, 512, 513, 4096, 4097, 65536, 70001]:
        d = rng.bytes(n)
        assert crc32c(d) == crc32c_fast(d), n
    for _ in range(50):
        n = int(rng.integers(0, 30000))
        d = rng.bytes(n)
        assert crc32c(d) == crc32c_fast(d), n


def test_crc32c_fast_incremental_and_combine():
    import numpy as np

    from br_archive_spark.integrity.crc import (chunk_checksum,
                                                crc32c_combine,
                                                crc32c_fast)

    rng = np.random.default_rng(4)
    a, b, c = rng.bytes(10000), rng.bytes(23456), rng.bytes(77)
    assert chunk_checksum(a, b, c, algo="crc32c") == crc32c_fast(a + b + c)
    assert crc32c_fast(b, crc32c_fast(a)) == crc32c_fast(a + b)
    assert crc32c_combine(crc32c_fast(a), crc32c_fast(b), len(b)) == \
        crc32c_fast(a + b)


def test_crc32c_fast_throughput_floor():
    """Guard against regressing to per-byte Python (~1 MB/s): 4 MB must
    checksum at >= 30 MB/s even on a loaded machine."""
    import time

    import numpy as np

    from br_archive_spark.integrity.crc import crc32c_fast

    data = np.random.default_rng(5).bytes(4 << 20)
    crc32c_fast(data)  # warm operator caches
    t0 = time.time()
    crc32c_fast(data)
    assert time.time() - t0 < (4 << 20) / (30e6)


def test_table_checksum_equals_concatenated_stream_crc(spark, as_crc32c):
    """The GF(2)-combined table checksum must equal a straight CRC over
    every chunk's params+payload concatenated in chunk_id order, under
    the table's own algorithm — CRC-32 for a fresh encode, CRC-32C for
    an old one — and survive manifest compaction/reordering unchanged."""
    from pyspark.sql import functions as F

    from br_archive_spark.datagen import token_table
    from br_archive_spark.integrity.crc import crc32c_fast
    from br_archive_spark.operators import encode_table, table_checksum

    enc = encode_table(token_table(spark, 800), num_parts=4).cache()
    rows = (enc.selectExpr("chunk_id", "columns").orderBy("chunk_id")
            .collect())
    blob = b"".join(bytes(b)
                    for r in rows for e in r["columns"]
                    for b in (e["params"], e["payload"]))
    for man, oracle in ((enc, zlib.crc32), (as_crc32c(enc), crc32c_fast)):
        got = table_checksum(man)
        assert got == oracle(blob)
        # order-insensitive input, deterministic output
        assert table_checksum(man.orderBy(F.col("chunk_id").desc())) == got
    enc.unpersist()


def test_table_checksum_folds_each_chunk_with_its_own_algo(spark,
                                                           as_crc32c):
    """A mixed table (a resumed encode over an old manifest) folds each
    chunk with its own algorithm's combine — a deterministic value,
    not an error — and a foreign tag raises ChecksumError naming the
    chunk."""
    from pyspark.sql import functions as F

    from br_archive_spark.datagen import token_table
    from br_archive_spark.operators import encode_table, table_checksum

    enc = encode_table(token_table(spark, 800), num_parts=4,
                       mode="hash").cache()
    old = as_crc32c(enc).cache()
    ids = sorted(r["chunk_id"] for r in enc.select("chunk_id").collect())
    assert len(ids) >= 2
    half = ids[: len(ids) // 2]
    mixed = (old.where(F.col("chunk_id").isin(half))
             .unionByName(enc.where(~F.col("chunk_id").isin(half))))
    rows = mixed.orderBy("chunk_id").collect()
    assert {r["checksum_algo"] for r in rows} == {"crc32", "crc32c"}
    want = 0
    for r in rows:
        want = crc_combine(want, r["checksum"], r["enc_bytes"],
                           CHECKSUMS[r["checksum_algo"]][1])
    got = table_checksum(mixed)
    assert got == want
    assert table_checksum(mixed.orderBy(F.col("chunk_id").desc())) == got
    assert got not in (table_checksum(enc), table_checksum(old))
    foreign = enc.withColumn("checksum_algo", F.lit("crc32-zlib"))
    with pytest.raises(ChecksumError,
                       match=f"chunk {ids[0]}: .*checksum algorithm"):
        table_checksum(foreign)
    old.unpersist()
    enc.unpersist()
