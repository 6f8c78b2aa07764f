"""One lister for every bulk operator, and staging files no reader sees.

* ``fsutil.list_files`` names exactly the files
  ``sorted(spark.read.parquet(p).inputFiles())`` names: chunk ids are
  ``path_tag`` of that URI string, so its form is part of the format.
* ``write_parquet_atomic`` stages a file under a dot name; a staging
  leftover of a crashed task (complete or truncated) changes no
  reader's answer.
* A resume that cannot read the manifest it resumes raises before it
  writes anything.
"""

import json
import os
from argparse import Namespace

import pyarrow.parquet as pq
import pytest
from pyarrow import fs as pafs
from pyspark.sql import functions as F

from br_archive_spark.datagen import token_table
from br_archive_spark.operators import (compact_manifest, decode_files,
                                        encode_files)
from br_archive_spark.operators.fsutil import (list_files, path_tag,
                                               write_parquet_atomic)


def _spark_files(spark, path):
    return sorted(spark.read.parquet(path).inputFiles())


def test_list_files_matches_spark_input_files(spark, tmp_path,
                                              monkeypatch):
    df = token_table(spark, 300)
    plain = str(tmp_path / "plain")
    df.repartition(3).write.parquet(plain)
    names = os.listdir(plain)
    assert "_SUCCESS" in names
    assert any(n.endswith(".crc") for n in names)
    parted = str(tmp_path / "parted")
    df.write.partitionBy("source").parquet(parted)
    assert any("=" in n for n in os.listdir(parted))
    # plain subdirectories of a partition directory are read too
    df.coalesce(1).write.parquet(
        os.path.join(parted, sorted(os.listdir(parted))[-1], "sub", "deeper"))
    # outside a key=value layout Spark reads the top level only
    mixed = str(tmp_path / "mixed")
    df.coalesce(1).write.parquet(mixed)
    df.coalesce(1).write.parquet(os.path.join(mixed, "2024", "01"))
    # java.net.URI escapes ASCII and non-ASCII space/control
    # characters, and keeps other non-ASCII characters as they are
    odd = str(tmp_path / "sp ace%x,y")
    df.repartition(2).write.parquet(odd)
    uni = str(tmp_path / "donn\u00e9es\u00a0\u4e2d\U0001F600")
    df.coalesce(1).write.parquet(uni)
    single = os.path.join(
        plain, sorted(n for n in names if n.endswith(".parquet"))[0])
    for path in (plain, parted, mixed, odd, uni, single):
        assert list_files(path) == _spark_files(spark, path), path
    assert all("/2024/" not in f for f in list_files(mixed))
    assert any("/sub/deeper/" in f for f in list_files(parted))
    assert "donn\u00e9es%C2%A0\u4e2d\U0001F600/" in list_files(uni)[0]
    # escaped URIs open: the bulk path reads a dir Spark escapes
    for path in (odd, uni):
        assert encode_files(spark, path).agg(
            F.sum("n_rows")).collect()[0][0] == 300
    # a directory with only nested plain directories, or none at all,
    # has no data file for Spark or the lister
    nest = str(tmp_path / "nest")
    df.write.parquet(os.path.join(nest, "a"))
    os.makedirs(tmp_path / "empty")
    for path in (nest, str(tmp_path / "empty"), str(tmp_path / "missing")):
        with pytest.raises(FileNotFoundError):
            list_files(path)
        with pytest.raises(Exception):
            _spark_files(spark, path)
    # under an explicit filesystem, paths stay relative to it
    sub = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    assert list_files("plain", sub) == sorted(
        f"plain/{n}" for n in names if n.startswith("part-"))

    # relative paths resolve against the JVM's working directory,
    # wherever the driver's cwd has moved since
    jvm_cwd = spark.sparkContext._jvm.System.getProperty("user.dir")
    rel = os.path.relpath(plain, jvm_cwd)
    away = tmp_path / "away"
    away.mkdir()
    monkeypatch.chdir(away)
    assert list_files(rel) == _spark_files(spark, rel) == list_files(plain)


def test_resume_with_relative_paths_after_chdir(spark, tmp_path,
                                                monkeypatch):
    """Listing, reading and writing a relative input and manifest all
    resolve in the JVM's working directory, so a resume run after the
    driver ``chdir``s skips every file the first run encoded."""
    from br_archive_spark.plans.lineage import encode_with_checkpoint

    src = str(tmp_path / "src")
    token_table(spark, 1000).repartition(3).write.parquet(src)
    jvm_cwd = spark.sparkContext._jvm.System.getProperty("user.dir")
    rel_src = os.path.relpath(src, jvm_cwd)
    rel_out = os.path.relpath(str(tmp_path / "out"), jvm_cwd)
    away = tmp_path / "away"
    away.mkdir()
    monkeypatch.chdir(away)
    s1 = encode_with_checkpoint(spark, rel_src, rel_out)
    assert s1["encoded_files"] == s1["total_files"] == 3
    shards = sorted(os.listdir(tmp_path / "out"))
    s2 = encode_with_checkpoint(spark, rel_src, rel_out)
    assert (s2["skipped_files"], s2["encoded_files"]) == (3, 0)
    assert sorted(os.listdir(tmp_path / "out")) == shards
    assert os.listdir(away) == []
    # the bulk path's own output dir lands there too
    stats = encode_files(spark, rel_src, output_dir=rel_out + "-bulk")
    assert sum(r["n_rows"] for r in stats.collect()) == 1000
    assert os.listdir(away) == []
    assert decode_files(spark, rel_out + "-bulk").count() == 1000


def test_encode_files_ids_match_enumeration_modes(spark, tmp_path):
    """Driver and distributed footer enumeration give identical chunks,
    and every chunk id is addressed by the file's Spark URI."""
    src = str(tmp_path / "src")
    token_table(spark, 2000).repartition(3).write.parquet(src)
    cols = ["chunk_id", "checksum", "enc_bytes", "input_file"]
    by_mode = {
        thr: sorted(tuple(r) for r in encode_files(
            spark, src, driver_enum_threshold=thr).select(*cols).collect())
        for thr in (2048, 0)}
    assert by_mode[2048] == by_mode[0]
    uris = _spark_files(spark, src)
    assert {r[3] for r in by_mode[0]} == set(uris)
    assert all(r[0].split(":")[0] == path_tag(r[3]) for r in by_mode[0])


def _leave_staging(monkeypatch, table, path, truncate=False):
    """Stage ``table`` for ``path`` the way write_parquet_atomic does and
    crash before the rename; returns the leftover's name."""
    d = os.path.dirname(path)
    before = set(os.listdir(d))

    def crash(*a, **k):
        raise OSError("crashed before rename")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError):
            write_parquet_atomic(table, path)
    (left,) = set(os.listdir(d)) - before
    if truncate:
        full = os.path.join(d, left)
        with open(full, "rb") as f:
            head = f.read(os.path.getsize(full) // 2)
        with open(full, "wb") as f:
            f.write(head)
    return left


def _answers(spark, man, tmp_path, tag, capsys):
    from br_archive_spark.cli import cmd_list
    from br_archive_spark.operators.decode import scan_where_files

    dec = decode_files(spark, man).agg(
        F.count("*"), F.sum("n_tok")).collect()[0]
    dstats = decode_files(spark, man,
                          output_dir=str(tmp_path / f"dec-{tag}")).collect()
    cstats = compact_manifest(spark, man,
                              str(tmp_path / f"cman-{tag}")).collect()
    scan = scan_where_files(
        spark, man, [("doc_id", "doc-000000000100", "doc-000000000199")])
    args = Namespace(input=man, master="local[2]", shuffle_partitions=4)
    capsys.readouterr()
    assert cmd_list(args) == 0
    listed = json.loads(next(line for line in capsys.readouterr().out
                             .splitlines() if line.startswith("{")))
    return {
        "decode": tuple(dec),
        "decode_output_dir": sum(r["n_rows"] for r in dstats),
        "compact": (sum(r["n_rows"] for r in cstats),
                    sum(r["chunks"] for r in cstats)),
        "scan_where_files": scan.count(),
        "cli_list": listed,
    }


def test_staging_leftovers_are_invisible(spark, tmp_path, monkeypatch,
                                         capsys):
    from br_archive_spark.cli import cmd_decode
    from br_archive_spark.plans.lineage import encode_with_checkpoint

    src = str(tmp_path / "src")
    token_table(spark, 2000).repartition(4).write.parquet(src)
    man = str(tmp_path / "man")
    encode_files(spark, src, output_dir=man).collect()
    want = _answers(spark, man, tmp_path, "clean", capsys)

    shard = sorted(n for n in os.listdir(man) if n.endswith(".parquet"))[0]
    table = pq.read_table(os.path.join(man, shard))
    _leave_staging(monkeypatch, table,
                   os.path.join(man, "man-leftover-a.parquet"))
    _leave_staging(monkeypatch, table,
                   os.path.join(man, "man-leftover-b.parquet"), truncate=True)
    assert _answers(spark, man, tmp_path, "left", capsys) == want

    out = str(tmp_path / "out")
    args = Namespace(input=man, output=out, mode="direct", yes=True,
                     global_dict=None, master="local[2]",
                     shuffle_partitions=4)
    capsys.readouterr()
    assert cmd_decode(args) == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["rows"] == 2000

    # resume past a manifest holding staging leftovers
    ckpt = str(tmp_path / "ckpt")
    s1 = encode_with_checkpoint(spark, src, ckpt)
    part = sorted(n for n in os.listdir(ckpt) if n.endswith(".parquet"))[0]
    ptable = pq.read_table(os.path.join(ckpt, part))
    _leave_staging(monkeypatch, ptable, os.path.join(ckpt, "part-x.parquet"))
    _leave_staging(monkeypatch, ptable, os.path.join(ckpt, "part-y.parquet"),
                   truncate=True)
    s2 = encode_with_checkpoint(spark, src, ckpt)
    assert s2["skipped_files"] == s1["total_files"] == s1["encoded_files"]
    assert s2["encoded_files"] == 0


def test_cli_decode_yes_clears_its_staging_leftovers(spark, tmp_path,
                                                     monkeypatch, capsys):
    """``decode -y`` counts a previous decode's ``.dec-*.tmp-*``
    staging leftover as its own output: cleared, not refused."""
    from br_archive_spark.cli import cmd_decode

    src = str(tmp_path / "src")
    token_table(spark, 500).write.parquet(src)
    man = str(tmp_path / "man")
    encode_files(spark, src, output_dir=man).collect()
    out = str(tmp_path / "out")
    args = Namespace(input=man, output=out, mode="direct", yes=True,
                     global_dict=None, master="local[2]",
                     shuffle_partitions=4)
    assert cmd_decode(args) == 0
    shard = sorted(os.listdir(out))[0]
    left = _leave_staging(monkeypatch,
                          pq.read_table(os.path.join(out, shard)),
                          os.path.join(out, "dec-0123456789abcdef-x.parquet"))
    assert left.startswith(".dec-")
    capsys.readouterr()
    assert cmd_decode(args) == 0
    assert left not in os.listdir(out)
    assert json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])["rows"] == 500


def _break_shards(d):
    """Overwrite every visible shard of ``d`` with non-parquet bytes;
    returns the directory's listing."""
    for n in os.listdir(d):
        if n.endswith(".parquet"):
            with open(os.path.join(d, n), "wb") as f:
                f.write(b"not parquet")
    return sorted(os.listdir(d))


def test_resume_raises_before_writing_on_unreadable_manifest(spark,
                                                             tmp_path):
    from br_archive_spark.plans.lineage import encode_with_checkpoint

    src = str(tmp_path / "src")
    token_table(spark, 2000).repartition(4).write.parquet(src)
    out = str(tmp_path / "out")
    encode_with_checkpoint(spark, src, out)
    listing = _break_shards(out)
    with pytest.raises(Exception):
        encode_with_checkpoint(spark, src, out)
    assert sorted(os.listdir(out)) == listing


def test_stream_replay_check_raises_on_unreadable_manifest(spark,
                                                          tmp_path):
    from br_archive_spark.streaming import encode_stream

    landing = str(tmp_path / "landing")
    token_table(spark, 500).write.parquet(landing)
    out = str(tmp_path / "out")
    token_table(spark, 50).write.parquet(out)
    listing = _break_shards(out)
    q = encode_stream(spark, landing, out, str(tmp_path / "ckpt"))
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert sorted(os.listdir(out)) == listing
