"""Direct (bulk-path) encode: tasks read parquet splits in-process.

Covers the properties that make ``encode_files`` the 100 TB path:
layout-stable content-addressed chunk ids (resume invariant), byte
budget bucketing, file-level skip for lineage resume, and the same
bit-identical round-trip contract as the scan path (the reference's
``AreFilesContentEquals``, ``test/test_bra.cpp:22-53``).
"""

import pyspark.sql.functions as F
import pytest

from br_archive_spark.datagen import token_table
from br_archive_spark.operators import (decode_table, encode_files,
                                        encode_table, verify_roundtrip)


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("direct") / "src.parquet")
    token_table(spark, 6000).repartition(8).write.parquet(path)
    return path


def test_direct_roundtrip(spark, src_dir):
    src = spark.read.parquet(src_dir)
    enc = encode_files(spark, src_dir)
    res = verify_roundtrip(src, enc)
    assert res["ok"], res


def test_direct_matches_scan_results(spark, src_dir):
    """Direct and scan paths must reconstruct identical tables."""
    src = spark.read.parquet(src_dir)
    d1 = decode_table(encode_files(spark, src_dir))
    d2 = decode_table(encode_table(src, mode="scan"))
    assert d1.select("doc_id", "tokens").exceptAll(
        d2.select("doc_id", "tokens")).count() == 0


def test_direct_chunk_ids_layout_stable(spark, src_dir):
    """Chunk ids are a pure function of the input file layout —
    identical across bucketing choices and repeated runs (the resume
    invariant: a rerun must reproduce, not duplicate)."""
    ids1 = sorted(r[0] for r in
                  encode_files(spark, src_dir).select("chunk_id").collect())
    ids2 = sorted(r[0] for r in
                  encode_files(spark, src_dir, target_unit_bytes=1 << 20)
                  .select("chunk_id").collect())
    assert ids1 == ids2 and len(ids1) == len(set(ids1))


def test_direct_skip_files_prunes(spark, src_dir):
    files = sorted(spark.read.parquet(src_dir).inputFiles())
    done = set(files[:len(files) // 2])
    enc = encode_files(spark, src_dir, skip_files=done)
    remaining = {r[0] for r in enc.select("input_file").distinct().collect()}
    assert remaining == set(files) - done


def test_direct_with_global_dict(spark, src_dir):
    from br_archive_spark.codecs.gdict import build_global_dict

    src = spark.read.parquet(src_dir)
    gd = build_global_dict(src, "tokens")
    enc = encode_files(spark, src_dir, global_dict=gd)
    codecs_used = {r[0] for r in enc.selectExpr("explode(column_stats) cs")
                   .where("cs.name = 'tokens'")
                   .selectExpr("cs.codec").collect()}
    assert all(c.startswith("gdict.") for c in codecs_used)
    res = verify_roundtrip(src, enc, global_dict=gd)
    assert res["ok"], res


def test_direct_distributed_enumeration(spark, src_dir):
    """The distributed (footer reads in tasks) path must produce the
    exact same chunks as the driver fast path."""
    fast = sorted(r[0] for r in
                  encode_files(spark, src_dir).select("chunk_id").collect())
    dist = sorted(r[0] for r in
                  encode_files(spark, src_dir, driver_enum_threshold=0)
                  .select("chunk_id").collect())
    assert fast == dist


def test_direct_inprocess_sink(spark, src_dir, tmp_path):
    """output_dir: tasks write their own manifest shards (payload never
    crosses the Python→JVM boundary); the returned DataFrame carries
    payload-free stats; decode reads the shards; a re-run overwrites
    shards idempotently (same names, same content addresses)."""
    out = str(tmp_path / "man")
    stats = encode_files(spark, src_dir, output_dir=out)
    rows = stats.collect()
    assert rows and all(len(r["columns"]) == 0 for r in rows)

    src = spark.read.parquet(src_dir)
    man = spark.read.parquet(out)
    res = verify_roundtrip(src, man)
    assert res["ok"], res

    import os
    shards1 = sorted(os.listdir(out))
    encode_files(spark, src_dir, output_dir=out).collect()
    shards2 = sorted(os.listdir(out))
    assert shards1 == shards2
    assert man.count() == spark.read.parquet(out).count()


def test_decode_files_roundtrip_both_modes(spark, src_dir, tmp_path):
    """decode_files (bulk decode: tasks read manifest shards
    in-process) must reconstruct the table exactly, both returning a
    DataFrame and writing decoded shards in-process."""
    from br_archive_spark.operators import decode_files

    man_dir = str(tmp_path / "man")
    encode_files(spark, src_dir, output_dir=man_dir).collect()
    src = spark.read.parquet(src_dir)

    dec = decode_files(spark, man_dir)
    assert src.selectExpr("doc_id", "tokens t1").join(
        dec.selectExpr("doc_id", "tokens t2"), "doc_id", "full_outer"
    ).where("t1 IS DISTINCT FROM t2").count() == 0

    out_dir = str(tmp_path / "dec")
    stats = decode_files(spark, man_dir, output_dir=out_dir)
    assert sum(r["n_rows"] for r in stats.collect()) == src.count()
    dec2 = spark.read.parquet(out_dir)
    assert src.selectExpr("doc_id", "tokens t1").join(
        dec2.selectExpr("doc_id", "tokens t2"), "doc_id", "full_outer"
    ).where("t1 IS DISTINCT FROM t2").count() == 0


@pytest.mark.parametrize("algo", ["crc32", "crc32c"])
def test_decode_files_checksum_verified(spark, src_dir, tmp_path, algo,
                                        as_crc32c):
    """A manifest of either checksum algorithm decodes verified, and a
    corrupted shard must fail the bulk decode loudly. The ``crc32c``
    manifest is a fresh one re-checksummed with CRC-32C and re-tagged:
    what builds before CRC-32 chunks wrote."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from br_archive_spark.operators import decode_files

    man_dir = str(tmp_path / "man")
    encode_files(spark, src_dir, output_dir=man_dir).collect()
    shards = [os.path.join(man_dir, f) for f in sorted(os.listdir(man_dir))]
    if algo == "crc32c":
        for shard in shards:
            pq.write_table(as_crc32c(pq.read_table(shard)), shard)
    tags = {t for shard in shards
            for t in pq.read_table(shard).column("checksum_algo").to_pylist()}
    assert tags == {algo}
    assert decode_files(spark, man_dir).count() == 6000

    shard = shards[0]
    tbl = pq.read_table(shard)
    idx = tbl.schema.get_field_index("checksum")
    bad_col = pa.array(
        [c + 1 for c in tbl.column("checksum").to_pylist()], pa.int64())
    pq.write_table(tbl.set_column(idx, "checksum", bad_col), shard)
    with pytest.raises(Exception, match="checksum mismatch"):
        decode_files(spark, man_dir).count()


def test_direct_giant_file_splits_by_row_group(spark, tmp_path):
    """One huge input file must not pin one task: (path, row_group)
    units let a multi-row-group file spread across buckets — the
    reference's implicit skew story (a huge file is many chunks,
    src/io/lib_bra_io_file_chunks.c:199) at cluster scale."""
    import pyarrow.parquet as pq

    from br_archive_spark.datagen import token_table

    path = str(tmp_path / "giant.parquet")
    pdf = token_table(spark, 4000).toPandas()
    import pyarrow as pa
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   path, row_group_size=400)  # 10 row groups
    assert pq.ParquetFile(path).metadata.num_row_groups == 10

    enc = encode_files(spark, [path], target_unit_bytes=1)
    # every row group became its own unit (target=1 byte → 1 unit each)
    assert enc.select("part_id").distinct().count() == 10
    src = spark.read.parquet(path)
    res = verify_roundtrip(src, enc)
    assert res["ok"], res


def test_compact_manifest_preserves_everything(spark, src_dir, tmp_path):
    """Compaction merges shards without touching payloads: fewer
    files, identical chunk set, identical decoded table."""
    import os

    from br_archive_spark.operators import compact_manifest, decode_files

    man_dir = str(tmp_path / "man")
    # tiny buckets → one shard per (file, rg): the worst small-file case
    encode_files(spark, src_dir, output_dir=man_dir,
                 target_unit_bytes=1).collect()
    n_before = len([f for f in os.listdir(man_dir)
                    if f.endswith(".parquet")])
    assert n_before >= 8

    cdir = str(tmp_path / "cman")
    stats = compact_manifest(spark, man_dir, cdir,
                             target_bytes=64 << 20).collect()
    n_after = len([f for f in os.listdir(cdir) if f.endswith(".parquet")])
    assert n_after < n_before
    assert sum(r["input_files"] for r in stats) == n_before

    before = spark.read.parquet(man_dir)
    after = spark.read.parquet(cdir)
    assert sorted(r[0] for r in before.select("chunk_id").collect()) == \
        sorted(r[0] for r in after.select("chunk_id").collect())

    src = spark.read.parquet(src_dir)
    res = verify_roundtrip(src, after)
    assert res["ok"], res
    dec = decode_files(spark, cdir)
    assert dec.count() == src.count()


def test_direct_empty_input(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "empty.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array([], pa.string()),
        "tokens": pa.array([], pa.list_(pa.int32())),
        "n_tok": pa.array([], pa.int32()),
        "source": pa.array([], pa.string())}), path)
    enc = encode_files(spark, [path])
    assert enc.agg(F.sum("n_rows")).collect()[0][0] in (0, None)


def test_bulk_path_on_custom_filesystem(spark, tmp_path):
    """The bulk operators must run against a pyarrow FileSystem object
    (SubTreeFileSystem standing in for a remote object store): no
    os.path/getsize/local-rename assumptions (VERDICT r1 missing #3).
    The fs object is pickled into every task."""
    import numpy as np
    import pyarrow.fs as pafs

    from br_archive_spark.datagen import token_table
    from br_archive_spark.operators.compact import compact_manifest
    from br_archive_spark.operators.decode import decode_files
    from br_archive_spark.operators.encode import encode_files

    root = str(tmp_path)
    sub = pafs.SubTreeFileSystem(root, pafs.LocalFileSystem())
    src = token_table(spark, 3000)
    src.repartition(3).write.parquet(f"{root}/src")
    rel_paths = sorted(
        f"src/{f.base_name}" for f in
        pafs.LocalFileSystem().get_file_info(
            pafs.FileSelector(f"{root}/src"))
        if f.base_name.endswith(".parquet"))
    assert rel_paths, "no source files found"
    stats = encode_files(spark, rel_paths, output_dir="man",
                         filesystem=sub).collect()
    assert sum(r["n_rows"] for r in stats) == 3000
    man_files = sorted(
        f"man/{f.base_name}" for f in
        pafs.LocalFileSystem().get_file_info(
            pafs.FileSelector(f"{root}/man"))
        if f.base_name.endswith(".parquet"))
    assert man_files
    cstats = compact_manifest(spark, man_files, "cman",
                              target_bytes=1 << 30,
                              filesystem=sub).collect()
    assert sum(r["n_rows"] for r in cstats) == 3000
    cman_files = sorted(
        f"cman/{f.base_name}" for f in
        pafs.LocalFileSystem().get_file_info(
            pafs.FileSelector(f"{root}/cman"))
        if f.base_name.endswith(".parquet"))
    dstats = decode_files(spark, cman_files, output_dir="dec",
                          filesystem=sub).collect()
    assert sum(r["n_rows"] for r in dstats) == 3000
    # decoded rows equal source rows
    dec = spark.read.parquet(f"{root}/dec")
    a = sorted(src.select("doc_id", "tokens", "source").collect(),
               key=lambda r: r["doc_id"])
    b = sorted(dec.select("doc_id", "tokens", "source").collect(),
               key=lambda r: r["doc_id"])
    assert a == b


def test_decode_rejects_foreign_checksum_algo(spark, tmp_path):
    """A manifest tagged with a different checksum algorithm must fail
    with a clear format-skew error, not a misleading 'corruption'
    mismatch (r2 review)."""
    import pyspark.sql.functions as F
    import pytest

    from br_archive_spark.datagen import token_table
    from br_archive_spark.operators import decode_table, encode_table

    src = token_table(spark, 200)
    enc = encode_table(src, num_parts=2).withColumn(
        "checksum_algo", F.lit("crc32-zlib"))
    with pytest.raises(Exception, match="checksum algorithm"):
        decode_table(enc).collect()
    # verification off: decodes fine regardless of the tag
    assert decode_table(enc, verify_checksums=False).count() == 200


def test_bulk_path_roundtrips_nulls(spark, tmp_path):
    """The direct path reads parquet splits with pyarrow in-process —
    nulls must flow through the same nv. wrapper as the scan path and
    survive the in-process decoded-parquet sink."""
    from br_archive_spark.operators import decode_files, encode_files

    src_dir = str(tmp_path / "src")
    df = spark.range(4000).select(
        F.format_string("d%06d", F.col("id")).alias("doc_id"),
        F.when(F.col("id") % 11 == 0, None).otherwise(
            F.transform(F.sequence(F.lit(1), F.col("id") % 7 + 1),
                        lambda x: F.when(x % 5 == 0, None)
                        .otherwise(x.cast("int")))).alias("tokens"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.lit("web")).alias("source"))
    df.repartition(4).write.parquet(src_dir)

    man_dir = str(tmp_path / "man")
    encode_files(spark, src_dir, output_dir=man_dir).collect()
    out_dir = str(tmp_path / "dec")
    decode_files(spark, man_dir, output_dir=out_dir).collect()
    dec = spark.read.parquet(out_dir)
    src = spark.read.parquet(src_dir)
    a = sorted(src.select("doc_id", "tokens", "source").collect(),
               key=lambda r: r["doc_id"])
    b = sorted(dec.select("doc_id", "tokens", "source").collect(),
               key=lambda r: r["doc_id"])
    assert a == b


def test_atomic_write_on_subtree_fs_uses_tmp_then_move(tmp_path):
    """On rename-capable non-local filesystems (SubTreeFileSystem over
    local — the test stand-in — or HDFS) the shard must land via
    tmp-name + move: r2 streamed straight to the final name, so a task
    dying mid-write left a visible truncated shard that resume treated
    as complete (ADVICE r2 #2)."""
    import os

    import pyarrow as pa
    from pyarrow import fs as pafs

    from br_archive_spark.operators.fsutil import write_parquet_atomic

    root = str(tmp_path)
    sub = pafs.SubTreeFileSystem(root, pafs.LocalFileSystem())
    tbl = pa.table({"x": pa.array([1, 2, 3], pa.int64())})
    write_parquet_atomic(tbl, "out.parquet", sub)
    names = os.listdir(root)
    assert "out.parquet" in names
    assert not any(".tmp-" in n for n in names)
    # interrupted write (stream opened, never finished → only the tmp
    # name exists): a reader/resume scan of *.parquet must not see it
    with sub.open_output_stream("crash.parquet.tmp-999") as s:
        s.write(b"partial")
    assert "crash.parquet" not in os.listdir(root)


def test_cli_decode_yes_refuses_foreign_files(spark, tmp_path):
    """decode -y must only clear its own dec-*.parquet shards — a
    directory holding anything else is refused, not rmtree'd
    (ADVICE r2 #3)."""
    import json
    import os
    from argparse import Namespace

    from br_archive_spark.cli import cmd_decode
    from br_archive_spark.operators import encode_files

    src = str(tmp_path / "src.parquet")
    token_table(spark, 500).write.parquet(src)
    man = str(tmp_path / "man")
    encode_files(spark, src, output_dir=man).collect()

    out = str(tmp_path / "out")
    os.makedirs(out)
    precious = os.path.join(out, "users_thesis.txt")
    with open(precious, "w") as f:
        f.write("irreplaceable")

    args = Namespace(input=man, output=out, mode="direct", yes=True,
                     global_dict=None, master="local[2]",
                     shuffle_partitions=4)
    rc = cmd_decode(args)
    assert rc == 1
    assert os.path.exists(precious)

    # with only dec-* shards present, -y clears and re-decodes fine
    os.unlink(precious)
    assert cmd_decode(args) == 0
    assert cmd_decode(args) == 0  # overwrite its own output
    assert all(f.startswith("dec-") for f in os.listdir(out))


def test_cli_lookup_range(spark, tmp_path, capsys):
    """lookup --range LO HI: zone-map-pruned range scan via the CLI."""
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_lookup
    from br_archive_spark.operators import encode_table

    src = token_table(spark, 300)
    man_dir = str(tmp_path / "man")
    encode_table(src, mode="range", num_parts=4).write.parquet(man_dir)
    args = Namespace(input=man_dir, ids=[], key="doc_id",
                     value_col=None,
                     range=["doc-000000000010", "doc-000000000019"],
                     global_dict=None, master="local[2]",
                     shuffle_partitions=4)
    assert cmd_lookup(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["found"] == 10


def test_cli_lookup_column_values(spark, tmp_path, capsys):
    """lookup --column COL V...: value-membership lookup via the CLI —
    int-backed and string columns, bloom+zone pruned (r5)."""
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_lookup
    from br_archive_spark.operators import encode_table

    src = token_table(spark, 300)
    man_dir = str(tmp_path / "man")
    encode_table(src, mode="hash", num_parts=4,
                 target_values=2048).write.parquet(man_dir)
    base = dict(input=man_dir, ids=[], key="doc_id", value_col=None,
                range=None, global_dict=None, master="local[2]",
                shuffle_partitions=4)
    src_val = src.first()["source"]
    args = Namespace(**base, column="source")
    args.ids = [src_val]
    assert cmd_lookup(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["found"] == src.where(F.col("source") == src_val).count()
