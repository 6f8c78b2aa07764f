"""Per-chunk key Bloom filters (operators/bloom.py) — membership
pruning where the zone map is layout-blind, plus the hash-parity
contract between the vectorized builder and the scalar prober."""

import random
import string

import numpy as np
import pyspark.sql.functions as F

from br_archive_spark.operators import (decode_table, delete_rows,
                                        drop_columns, encode_table,
                                        lookup_docs)
from br_archive_spark.operators.bloom import (_hash_np, bloom_sizes,
                                              build_bloom, hash_key,
                                              probe_positions)
from br_archive_spark.operators.decode import _scan_prune

SPECS = [("doc_id", "string"), ("text", "string")]
KINDS = dict(SPECS)


def _zone_kept(enc, lo, hi):
    """Chunks kept by a key range band — zone-map proofs only (a band
    with lo < hi gets no bloom arm)."""
    return _scan_prune(enc, KINDS, [("doc_id", lo, hi)], [], [], {})


def _isin_kept(enc, keys):
    """Chunks kept by a key IN-list — zone map plus key bloom."""
    return _scan_prune(enc, KINDS, [], [], [], {"doc_id": sorted(keys)})


def _col(keys):
    blob = b"".join(k.encode() for k in keys)
    offs = np.cumsum([0] + [len(k.encode()) for k in keys]) \
        .astype(np.int64)
    return blob, offs


def test_hash_parity_scalar_vs_vectorized():
    rng = random.Random(11)
    keys = [""] + ["x" * 63, "x" * 64, "x" * 65, "x" * 200] + [
        "".join(rng.choices(string.printable, k=rng.randint(1, 90)))
        for _ in range(2000)]
    blob, offs = _col(keys)
    hv = _hash_np(np.frombuffer(blob, np.uint8).copy(), offs)
    assert [int(x) for x in hv] == [hash_key(k) for k in keys]


def _member(words, key):
    m = len(words) * 64
    uw = np.array(words, np.int64).view(np.uint64)
    return all(int(uw[widx - 1]) & (mask & ((1 << 64) - 1))
               for widx, mask in probe_positions(key, m))


def test_bloom_no_false_negatives_and_fpr():
    keys = [f"doc-{i:06d}" for i in range(4000)]
    words = build_bloom(*_col(keys))
    assert len(words) * 64 in bloom_sizes()
    assert all(_member(words, k) for k in keys), "false negative"
    absent = [f"nope-{i}" for i in range(20000)]
    fpr = sum(_member(words, a) for a in absent) / len(absent)
    assert fpr < 0.02, fpr


def test_bloom_prunes_hash_layout(spark):
    """The scenario zone maps cannot help with: hash layout, every
    partition spans the full key range — membership pruning must cut
    the probed chunks to ~the chunks actually holding the keys, and
    an absent-key probe (inside the lexicographic range, so the zone
    map keeps everything) must drop (almost) every chunk."""
    docs = spark.range(5000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("text-"), "id").alias("text"))
    enc = encode_table(docs, specs=SPECS, mode="hash", num_parts=8,
                       target_values=256).cache()
    total = enc.count()
    present = ["17", "4321"]
    zp = _zone_kept(enc, min(present), max(present))
    bp = _isin_kept(enc, present)
    assert zp.count() == total          # zone map is blind here
    assert bp.count() <= len(present) + 1

    got = sorted(tuple(r) for r in
                 lookup_docs(enc, present, specs=SPECS,
                             with_n_tok=False).collect())
    assert got == [("17", "text-17"), ("4321", "text-4321")]

    # absent keys chosen INSIDE the key range (lexicographic)
    absent = ["123x", "30abc", "449z"]
    za = _zone_kept(enc, min(absent), max(absent))
    assert za.count() == total
    assert _isin_kept(enc, absent).count() <= 1  # fp budget
    assert lookup_docs(enc, absent, specs=SPECS,
                       with_n_tok=False).count() == 0


def test_bloom_degrades_without_column(spark):
    docs = spark.range(500).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("t-"), "id").alias("text"))
    enc = encode_table(docs, specs=SPECS, mode="hash", num_parts=2,
                       target_values=128)
    legacy = enc.drop("key_bloom")      # pre-bloom manifest
    out = lookup_docs(legacy, ["7", "499"], specs=SPECS,
                      with_n_tok=False)
    assert sorted(r["doc_id"] for r in out.collect()) == ["499", "7"]


def test_bloom_tracks_cow_delete_and_column_drop(spark):
    docs = spark.range(800).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("t-"), "id").alias("text"))
    enc = encode_table(docs, specs=SPECS, mode="hash", num_parts=2,
                       target_values=128).cache()
    # COW delete rewrites chunks; lookups stay exact afterwards
    man2 = delete_rows(enc, ["5", "700"], key="doc_id", specs=SPECS)
    assert lookup_docs(man2, ["5", "700"], specs=SPECS,
                       with_n_tok=False).count() == 0
    assert lookup_docs(man2, ["6"], specs=SPECS,
                       with_n_tok=False).count() == 1
    # decode equality over the whole table (bloom refresh kept rows)
    assert decode_table(man2, specs=SPECS, with_n_tok=False) \
        .count() == 798

    # dropping the zone-map column nulls the bloom with the bounds
    man3 = drop_columns(enc, ["doc_id"])
    row = man3.select("key_col", "key_bloom").first()
    assert row["key_col"] is None and row["key_bloom"] is None


def test_bloom_knob_off(spark):
    docs = spark.range(200).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("t-"), "id").alias("text"))
    enc = encode_table(docs, specs=SPECS, num_parts=2,
                       target_values=64, bloom=False)
    assert enc.where(F.col("key_bloom").isNotNull()).count() == 0
    # lookups degrade to zone-map pruning, stay correct
    out = lookup_docs(enc, ["7"], specs=SPECS, with_n_tok=False)
    assert [r["doc_id"] for r in out.collect()] == ["7"]


def test_bloom_probe_cap_bulk_lookup(spark):
    """Regression: bulk probes (>64 keys) skip bloom pruning (plan-size
    guard) but lookups stay correct."""
    docs = spark.range(2000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("t-"), "id").alias("text"))
    enc = encode_table(docs, specs=SPECS, mode="hash", num_parts=4,
                       target_values=256).cache()
    keys = [str(i) for i in range(0, 2000, 20)]       # 100 keys
    assert _isin_kept(enc, keys).count() == enc.count()
    out = lookup_docs(enc, keys, specs=SPECS, with_n_tok=False)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(keys)


# ------------------------------------------------ int-column blooms (r5)

def test_int_hash_parity_with_string_hash():
    """hash_int(v) must equal hash_key over v's 8-byte little-endian
    encoding — one hash family across lanes, and the vectorized
    builder agrees with the scalar prober on every probed bit."""
    from br_archive_spark.operators.bloom import (build_int_bloom,
                                                  hash_int, hash_key,
                                                  probe_positions_int)
    vals = [0, 1, -1, 2**31, -2**31, 2**63 - 1, -2**63, 123456789]
    for v in vals:
        assert hash_int(v) == hash_key(
            v.to_bytes(8, "little", signed=True))
    words = build_int_bloom(np.array(vals, np.int64))
    uw = np.array(words, np.int64).view(np.uint64)
    m = len(words) * 64
    for v in vals:
        assert all(int(uw[w - 1]) & (mask & ((1 << 64) - 1))
                   for w, mask in probe_positions_int(v, m)), v


def test_int_bloom_no_false_negatives_and_fpr():
    from br_archive_spark.operators.bloom import (bloom_sizes,
                                                  build_int_bloom,
                                                  probe_positions_int)
    vals = np.arange(0, 40000, 10, dtype=np.int64)        # 4000 keys
    words = build_int_bloom(vals)
    assert len(words) * 64 in bloom_sizes()
    uw = np.array(words, np.int64).view(np.uint64)
    m = len(words) * 64

    def member(v):
        return all(int(uw[w - 1]) & (mask & ((1 << 64) - 1))
                   for w, mask in probe_positions_int(v, m))

    assert all(member(int(v)) for v in vals), "false negative"
    absent = range(5, 200005, 10)                          # 20k probes
    fpr = sum(member(v) for v in absent) / 20000
    assert fpr < 0.02, fpr


INT_SPECS = [("doc_id", "string"), ("okey", "int"), ("val", "int")]


def _int_docs(spark, n=6000):
    return spark.range(n).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") * 7 + 3).alias("okey"),
        (F.col("id") % 97).cast("int").alias("val"))


def test_lookup_values_prunes_hash_layout_and_matches(spark):
    """The verdict-#6 scenario: hash layout, zone maps span the full
    okey range per partition — lookup_values must prune via the
    per-column bloom (chunks_decoded << chunks_total), return exactly
    the probed rows, and absent probes inside the range return 0 rows
    after dropping ~every chunk."""
    from br_archive_spark.operators import encode_table, lookup_values
    from br_archive_spark.operators.decode import (_bloom_keep,
                                                   _stats_disjoint)

    docs = _int_docs(spark)
    enc = encode_table(docs, specs=INT_SPECS, mode="hash",
                       num_parts=8, target_values=512).cache()
    total = enc.count()
    present = [3, 7 * 1234 + 3, 7 * 5999 + 3]
    zone_kept = enc.where(
        ~_stats_disjoint("okey", min(present), max(present))).count()
    assert zone_kept == total            # zone map blind under hash
    bloom_kept = enc.where(
        _bloom_keep("okey", present, "int")).count()
    assert bloom_kept <= len(present) + 1, (bloom_kept, total)

    got = lookup_values(enc, "okey", present, specs=INT_SPECS,
                        with_n_tok=False)
    exp = docs.where(F.col("okey").isin(present))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, exp.collect()))

    absent = [4, 7 * 1000 + 4, 7 * 5999 + 2]   # in-range, not ≡3 mod 7
    assert enc.where(_bloom_keep("okey", absent, "int")).count() <= 1
    assert lookup_values(enc, "okey", absent, specs=INT_SPECS,
                         with_n_tok=False).count() == 0


def test_lookup_values_degrade_cap_and_guards(spark):
    """Pre-r5 manifests (no bloom lane) degrade to zone-map-only; >64
    probes skip the bloom (plan-size cap) but stay exact; non-int
    columns are rejected."""
    import pytest

    from br_archive_spark.operators import encode_table, lookup_values

    docs = _int_docs(spark, 3000)
    enc = encode_table(docs, specs=INT_SPECS, mode="hash",
                       num_parts=4, target_values=512).cache()
    # strip the bloom lane -> pre-r5 manifest shape
    legacy = enc.withColumn(
        "column_stats",
        F.expr("transform(column_stats, s -> named_struct("
               "'name', s.name, 'kind', s.kind, 'codec', s.codec,"
               "'orig_bytes', s.orig_bytes, 'enc_bytes', s.enc_bytes,"
               "'vmin', s.vmin, 'vmax', s.vmax, 'vsum', s.vsum,"
               "'n_vals', s.n_vals, 'null_count', s.null_count,"
               "'fmin', s.fmin, 'fmax', s.fmax))"))
    probes = [3, 7 * 2999 + 3]
    out = lookup_values(legacy, "okey", probes, specs=INT_SPECS,
                        with_n_tok=False)
    assert out.count() == 2

    bulk = [7 * i + 3 for i in range(0, 3000, 30)]         # 100 probes
    got = lookup_values(enc, "okey", bulk, specs=INT_SPECS,
                        with_n_tok=False)
    assert got.count() == len(bulk)

    # r5: string columns route to the string-bloom path, not an error
    assert lookup_values(enc, "doc_id", ["17"], specs=INT_SPECS,
                         with_n_tok=False).count() == 1
    with pytest.raises(ValueError, match="scalar int"):
        lookup_values(enc, "okey", [1],
                      specs=[("doc_id", "string"),
                             ("okey", "int_list"), ("val", "int")])
    # bloom=False encode: lane present but null; lookups stay exact
    off = encode_table(docs, specs=INT_SPECS, num_parts=2,
                       target_values=512, bloom=False)
    assert off.where(F.exists(
        "column_stats", lambda s: s["bloom"].isNotNull())).count() == 0
    assert lookup_values(off, "okey", probes, specs=INT_SPECS,
                         with_n_tok=False).count() == 2


def test_lookup_values_string_column_bloom(spark):
    """r5 string twin of the verdict-#6 scenario: HASH layout on an
    int key, probe a NON-key unique string column. The truncate(16)
    smin/smax bounds span ~the whole name domain per chunk (layout is
    hash-random), so the string bloom must do the pruning; absent
    probes drop every chunk; values equal the plain isin."""
    from br_archive_spark.operators import encode_table, lookup_values
    from br_archive_spark.operators.decode import (_bloom_keep,
                                                   _sstats_disjoint)

    docs = spark.range(6000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.format_string("Name#%08d", (F.col("id") * 7) % 100000)
        .alias("name"),
        (F.col("id") % 97).cast("int").alias("val"))
    specs = [("doc_id", "string"), ("name", "string"), ("val", "int")]
    enc = encode_table(docs, specs=specs, mode="hash",
                       num_parts=8, target_values=512).cache()
    total = enc.count()
    present = ["Name#00000007", "Name#00008638", "Name#00041993"]
    zone_kept = enc.where(
        ~_sstats_disjoint("name", min(present), max(present))).count()
    assert zone_kept == total            # string zone map blind here
    bloom_kept = enc.where(
        _bloom_keep("name", present, "string")).count()
    assert bloom_kept <= len(present) + 1, (bloom_kept, total)

    got = lookup_values(enc, "name", present, specs=specs,
                        with_n_tok=False)
    exp = docs.where(F.col("name").isin(present))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, exp.collect()))

    absent = ["Name#00000001", "zzz", ""]
    assert enc.where(_bloom_keep("name", absent, "string")).count() <= 1
    assert lookup_values(enc, "name", absent, specs=specs,
                         with_n_tok=False).count() == 0
    # bloom=False: string lane null, lookups still exact via residual
    off = encode_table(docs, specs=specs, num_parts=2,
                       target_values=512, bloom=False)
    assert lookup_values(off, "name", present, specs=specs,
                         with_n_tok=False).count() == 3


def test_lookup_values_binary_column_bloom(spark):
    """r5 binary lane: content-digest point lookups (media hashes,
    dedup keys stored as raw bytes) — bloom-only pruning (binary has
    no zone map), exact isin residual, absent digests drop every
    chunk."""
    import hashlib

    from br_archive_spark.operators import encode_table, lookup_values
    from br_archive_spark.operators.decode import _bloom_keep

    docs = spark.range(3000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.to_binary(F.sha2(F.col("id").cast("string"), 256),
                    F.lit("hex")).alias("digest"))
    specs = [("doc_id", "string"), ("digest", "binary")]
    enc = encode_table(docs, specs=specs, mode="hash", num_parts=6,
                       target_values=256).cache()
    present = [hashlib.sha256(str(i).encode()).digest()
               for i in (17, 2345)]
    assert enc.where(_bloom_keep("digest", present, "binary")).count() <= 3
    got = lookup_values(enc, "digest", present, specs=specs,
                        with_n_tok=False)
    assert sorted(r["doc_id"] for r in got.collect()) == ["17", "2345"]
    absent = [hashlib.sha256(b"nope").digest()]
    assert enc.where(_bloom_keep("digest", absent, "binary")).count() <= 1
    assert lookup_values(enc, "digest", absent, specs=specs,
                         with_n_tok=False).count() == 0
    # nulls in the column never break the bloom build or the residual
    withnull = docs.withColumn(
        "digest", F.when(F.col("doc_id") == "5", None)
        .otherwise(F.col("digest")))
    enc2 = encode_table(withnull, specs=specs, num_parts=2,
                        target_values=256)
    assert lookup_values(enc2, "digest", present, specs=specs,
                         with_n_tok=False).count() == 2
