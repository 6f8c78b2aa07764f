"""Snapshot log + time travel (operators/snapshots.py).

The table-format generalization of the reference's immutable archive:
commits are append-only and delta-sized, any retained snapshot loads
reproducibly, rollback is a log append, expire reclaims unreferenced
commit directories. Verified end to end through decode equality.
"""

import os

import pytest
from pyspark.sql import functions as F

from br_archive_spark.operators import (commit_snapshot, decode_table,
                                        encode_table, expire_snapshots,
                                        incremental_manifest, infer_specs,
                                        load_snapshot, rollback,
                                        snapshot_diff, snapshots,
                                        upsert_rows)


def _docs(spark, n=400):
    return spark.range(n).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("body-"), F.col("id")).alias("text"))


SPECS = [("doc_id", "string"), ("text", "string")]


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    d = str(tmp_path / "tbl")
    src = _docs(spark)
    enc = encode_table(src, specs=SPECS, mode="range", key="doc_id",
                       num_parts=4, target_values=100)
    row = commit_snapshot(enc, d, op="encode")
    return d, src, row


def test_commit_load_roundtrip(spark, table):
    d, src, row = table
    assert row["seq"] == 1 and row["parent_id"] is None
    man = load_snapshot(spark, d)
    out = decode_table(man, specs=SPECS, with_n_tok=False,
                       verify_checksums=True)
    assert _sorted_rows(out) == _sorted_rows(src)


def test_upsert_commit_is_delta_sized(spark, table):
    d, src, r1 = table
    man1 = load_snapshot(spark, d)
    updates = spark.createDataFrame(
        [("7", "UPDATED-7"), ("999", "inserted")],
        "doc_id string, text string")
    man2 = upsert_rows(man1, updates, key="doc_id", specs=SPECS,
                       num_parts=1)
    r2 = commit_snapshot(man2, d, op="upsert")
    assert r2["seq"] == 2 and r2["parent_id"] == r1["snapshot_id"]

    # append-only delta: seq=2 holds only the rewritten + fresh chunks
    delta = spark.read.parquet(os.path.join(d, "data", "seq=2"))
    total = man2.count()
    assert 0 < delta.count() < total

    # both snapshots load with full fidelity
    v1 = decode_table(load_snapshot(spark, d, r1["snapshot_id"]),
                      specs=SPECS, with_n_tok=False)
    assert _sorted_rows(v1) == _sorted_rows(src)
    v2 = decode_table(load_snapshot(spark, d), specs=SPECS,
                      with_n_tok=False, verify_checksums=True)
    expect = {r[0]: r[1] for r in _sorted_rows(src)}
    expect["7"] = "UPDATED-7"
    expect["999"] = "inserted"
    assert {r[0]: r[1] for r in _sorted_rows(v2)} == expect

    log = snapshots(spark, d).collect()
    assert [r["seq"] for r in log] == [1, 2]
    assert log[1]["op"] == "upsert"


def test_identical_recommit_is_metadata_only(spark, table):
    d, _src, r1 = table
    man = load_snapshot(spark, d)
    r2 = commit_snapshot(man, d, op="recommit")
    assert r2["snapshot_id"] == r1["snapshot_id"]  # content-addressed
    assert r2["seq"] == 2
    assert not os.path.exists(os.path.join(d, "data", "seq=2"))


def test_rollback_and_expire(spark, table):
    d, src, r1 = table
    man1 = load_snapshot(spark, d)
    man2 = upsert_rows(
        man1, spark.createDataFrame([("7", "X")],
                                    "doc_id string, text string"),
        key="doc_id", specs=SPECS, num_parts=1)
    r2 = commit_snapshot(man2, d, op="upsert")
    rb = rollback(spark, d, r1["snapshot_id"])
    assert rb["seq"] == 3 and rb["parent_id"] == r2["snapshot_id"]

    head = decode_table(load_snapshot(spark, d), specs=SPECS,
                        with_n_tok=False)
    assert _sorted_rows(head) == _sorted_rows(src)

    # expire everything but the (rolled-back) head: v2's index and its
    # delta-only seq dir go away, v1 stays loadable
    res = expire_snapshots(spark, d, keep_last=1)
    assert res["retained"] == [r1["snapshot_id"]]
    assert r2["snapshot_id"] in res["dropped_indexes"]
    assert res["dropped_seq_dirs"] == [2]
    again = decode_table(load_snapshot(spark, d), specs=SPECS,
                         with_n_tok=False, verify_checksums=True)
    assert _sorted_rows(again) == _sorted_rows(src)
    with pytest.raises(FileNotFoundError):
        load_snapshot(spark, d, r2["snapshot_id"])
    with pytest.raises(FileNotFoundError):
        rollback(spark, d, r2["snapshot_id"])


def test_compact_then_expire_reclaims_history(spark, tmp_path):
    """The documented reclamation path: a rewrite commit consolidates
    the live table into one fresh seq dir, expire then drops every
    prior dir."""
    d = str(tmp_path / "tbl")
    src = _docs(spark, 300)
    enc = encode_table(src, specs=SPECS, mode="range", key="doc_id",
                       num_parts=4, target_values=64)
    commit_snapshot(enc, d)
    man = load_snapshot(spark, d)
    man2 = upsert_rows(
        man, spark.createDataFrame([("5", "Y")],
                                   "doc_id string, text string"),
        key="doc_id", specs=SPECS, num_parts=1)
    commit_snapshot(man2, d, op="upsert")

    r3 = commit_snapshot(load_snapshot(spark, d), d, op="compact",
                         rewrite=True)
    res = expire_snapshots(spark, d, keep_last=1)
    assert res["kept_seq_dirs"] == [r3["seq"]]
    assert set(res["dropped_seq_dirs"]) == {1, 2}
    out = decode_table(load_snapshot(spark, d), specs=SPECS,
                       with_n_tok=False, verify_checksums=True)
    expect = {r[0]: r[1] for r in _sorted_rows(src)}
    expect["5"] = "Y"
    assert {r[0]: r[1] for r in _sorted_rows(out)} == expect


def test_incremental_manifest_is_delta_only(spark, table):
    """incremental_manifest returns exactly the chunks v2 added (the
    rewritten COW chunks + fresh insert chunks), decodable standalone,
    and NEVER chunks carried over from v1."""
    d, src, r1 = table
    man1 = load_snapshot(spark, d)
    updates = spark.createDataFrame(
        [("7", "UPDATED-7"), ("999", "inserted")],
        "doc_id string, text string")
    man2 = upsert_rows(man1, updates, key="doc_id", specs=SPECS,
                       num_parts=1)
    r2 = commit_snapshot(man2, d, op="upsert")

    inc = incremental_manifest(spark, d, r1["snapshot_id"],
                               r2["snapshot_id"])
    # the delta = v2 chunks minus v1 chunks, exactly — identity is
    # (chunk_id, checksum): a COW rewrite keeps the chunk_id but
    # changes the content checksum
    key = ["chunk_id", "checksum"]
    v1_ids = {tuple(r) for r in man1.select(*key).collect()}
    v2_ids = {tuple(r)
              for r in load_snapshot(spark, d).select(*key).collect()}
    inc_ids = {tuple(r) for r in inc.select(*key).collect()}
    assert inc_ids == v2_ids - v1_ids and inc_ids

    # decoded delta rows contain the changed + inserted keys
    rows = decode_table(inc, specs=SPECS, with_n_tok=False)
    got = {r[0]: r[1] for r in _sorted_rows(rows)}
    assert got["7"] == "UPDATED-7" and got["999"] == "inserted"

    # from == to → empty manifest, decodes to zero rows
    same = incremental_manifest(spark, d, r2["snapshot_id"],
                                r2["snapshot_id"])
    assert same.count() == 0

    # directory-pruning lock: the incremental read must touch ONLY the
    # delta's seq directory — v1's data files never appear in the scan
    # (the payload-free _index files are metadata, expected)
    files = [f for f in inc.inputFiles() if "/data/" in f]
    assert files and all("/data/seq=2/" in f for f in files), files


def test_snapshot_diff_exact_row_cdc(spark, table):
    """snapshot_diff emits the exact row-level change feed: carried
    COW rows cancel, updates appear as del+add, inserts as add."""
    d, src, r1 = table
    man1 = load_snapshot(spark, d)
    updates = spark.createDataFrame(
        [("7", "UPDATED-7"), ("999", "inserted")],
        "doc_id string, text string")
    man2 = upsert_rows(man1, updates, key="doc_id", specs=SPECS,
                       num_parts=1)
    r2 = commit_snapshot(man2, d, op="upsert")

    diff = snapshot_diff(spark, d, r1["snapshot_id"],
                         r2["snapshot_id"], specs=SPECS)
    got = _sorted_rows(diff)
    assert got == sorted([("7", "body-7", "del"),
                          ("7", "UPDATED-7", "add"),
                          ("999", "inserted", "add")])

    # diff of a snapshot against itself is empty
    assert snapshot_diff(spark, d, r2["snapshot_id"],
                         r2["snapshot_id"], specs=SPECS).count() == 0

    # reverse direction swaps add/del
    rev = _sorted_rows(snapshot_diff(spark, d, r2["snapshot_id"],
                                     r1["snapshot_id"], specs=SPECS))
    assert rev == sorted([("7", "body-7", "add"),
                          ("7", "UPDATED-7", "del"),
                          ("999", "inserted", "del")])


def test_snapshot_model_random_history(spark, tmp_path):
    """Model-based check over a randomized commit history: a seeded
    sequence of upserts, deletes, and rollbacks runs against both the
    table and a plain in-memory dict model. Afterwards EVERY recorded
    snapshot must still decode (checksum-verified) to the model state
    captured at its commit, and snapshot_diff between consecutive
    snapshots must equal the model-level diff — history is immutable
    no matter how it was produced."""
    import random

    from br_archive_spark.operators import delete_rows

    rng = random.Random(0xB7A)
    d = str(tmp_path / "tbl")
    model = {str(i): f"body-{i}" for i in range(250)}

    def df_of(rows):
        return spark.createDataFrame(list(rows.items()),
                                     "doc_id string, text string")

    enc = encode_table(df_of(model), specs=SPECS, mode="range",
                       key="doc_id", num_parts=3, target_values=64)
    r = commit_snapshot(enc, d, op="encode")
    history = [(r["snapshot_id"], dict(model))]

    next_id = 1000
    for _step in range(4):
        op = rng.choice(["upsert", "delete", "rollback"])
        if op == "rollback" and len(history) > 1:
            target = rng.choice(history[:-1])
            rollback(spark, d, target[0])
            model = dict(target[1])
            history.append((target[0], dict(model)))
            continue
        man = load_snapshot(spark, d)
        if op == "delete":
            keys = rng.sample(sorted(model), k=min(7, len(model)))
            man2 = delete_rows(man, keys, key="doc_id", specs=SPECS)
            for k in keys:
                model.pop(k)
        else:
            batch = {}
            for k in rng.sample(sorted(model), k=5):
                batch[k] = model[k] + "+u"
            for _ in range(3):
                batch[str(next_id)] = f"ins-{next_id}"
                next_id += 1
            man2 = upsert_rows(man, df_of(batch), key="doc_id",
                               specs=SPECS, num_parts=1)
            model.update(batch)
        r = commit_snapshot(man2, d, op=op)
        history.append((r["snapshot_id"], dict(model)))

    # every recorded snapshot still reproduces its model state
    for sid, state in history:
        out = decode_table(load_snapshot(spark, d, sid), specs=SPECS,
                           with_n_tok=False, verify_checksums=True)
        assert {r[0]: r[1] for r in out.collect()} == state, sid

    # consecutive diffs equal the model diff (skip no-op transitions:
    # a rollback re-commits an EXISTING id, and diff(id, id) == empty)
    for (sa, a), (sb, b) in zip(history, history[1:]):
        got = {(r["doc_id"], r["text"], r["op"])
               for r in snapshot_diff(spark, d, sa, sb,
                                      specs=SPECS).collect()}
        want = ({(k, v, "add") for k, v in b.items()
                 if a.get(k) != v}
                | {(k, v, "del") for k, v in a.items()
                   if b.get(k) != v})
        assert got == want, (sa, sb)


def test_unknown_snapshot_raises(spark, table):
    d, _src, _r1 = table
    with pytest.raises(FileNotFoundError):
        load_snapshot(spark, d, "0" * 16)
    with pytest.raises(FileNotFoundError):
        rollback(spark, d, "0" * 16)
    with pytest.raises(FileNotFoundError):
        snapshots(spark, str(_r1) + "-nope")


def test_cli_snapshot_surface(spark, tmp_path, capsys):
    """Drive the snapshot lifecycle through the CLI entry points:
    commit, log, rollback, expire, and decode --at."""
    import json

    from br_archive_spark.cli import main

    src = _docs(spark, 200)
    man_dir = str(tmp_path / "man")
    encode_table(src, specs=SPECS, mode="scan",
                 target_values=64).write.parquet(man_dir)
    tbl = str(tmp_path / "tbl")
    base = ["--master", "local[2]", "--shuffle-partitions", "4"]

    assert main(base + ["snapshot", "commit", man_dir, tbl]) == 0
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r1["seq"] == 1

    # second commit of modified content
    man2 = upsert_rows(
        load_snapshot(spark, tbl),
        spark.createDataFrame([("3", "Z")], "doc_id string, text string"),
        key="doc_id", specs=SPECS, num_parts=1)
    man2_dir = str(tmp_path / "man2")
    man2.write.parquet(man2_dir)
    assert main(base + ["snapshot", "commit", man2_dir, tbl,
                        "--op", "upsert"]) == 0
    capsys.readouterr()

    assert main(base + ["snapshot", "log", tbl]) == 0
    log_rows = [json.loads(ln) for ln in
                capsys.readouterr().out.strip().splitlines()]
    assert [r["seq"] for r in log_rows] == [1, 2]

    out1 = str(tmp_path / "out1")
    assert main(base + ["decode", tbl, "-o", out1, "--at",
                        r1["snapshot_id"]]) == 0
    capsys.readouterr()
    got = spark.read.parquet(out1).select("doc_id", "text")
    assert _sorted_rows(got) == _sorted_rows(src)

    assert main(base + ["snapshot", "rollback", tbl,
                        r1["snapshot_id"]]) == 0
    capsys.readouterr()
    head = decode_table(load_snapshot(spark, tbl), specs=SPECS,
                        with_n_tok=False)
    assert _sorted_rows(head) == _sorted_rows(src)

    assert main(base + ["snapshot", "expire", tbl, "--keep", "1"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["retained"] == [r1["snapshot_id"]]


def test_commit_conflict_guards(spark, table):
    """Optimistic concurrency: a CAS precondition on the head, and
    deterministic winner resolution if two commits land one seq."""
    from br_archive_spark.operators import CommitConflict

    d, src, r1 = table
    man = load_snapshot(spark, d)
    man2 = upsert_rows(
        man, spark.createDataFrame([("7", "A")],
                                   "doc_id string, text string"),
        key="doc_id", specs=SPECS, num_parts=1)

    # stale expectation -> conflict, nothing committed
    with pytest.raises(CommitConflict):
        commit_snapshot(man2, d, op="upsert", expected_head="f" * 16)
    assert snapshots(spark, d).count() == 1

    # correct expectation commits
    r2 = commit_snapshot(man2, d, op="upsert",
                         expected_head=r1["snapshot_id"])
    assert r2["parent_id"] == r1["snapshot_id"]

    # simulate the true race window: a rival lands the SAME seq with a
    # smaller id between our log read and our append — the loser must
    # withdraw its row and raise; the rival stays head for every reader
    import importlib
    import shutil

    # the operators package re-exports a FUNCTION named `snapshots`
    # which shadows the module attribute — fetch the module itself
    S = importlib.import_module("br_archive_spark.operators.snapshots")

    shutil.copytree(os.path.join(d, "_index", r2["snapshot_id"]),
                    os.path.join(d, "_index", "0" * 16))
    orig_append = S._append_log

    def race_append(table_dir, row):
        orig_append(table_dir, {**row, "snapshot_id": "0" * 16,
                                "op": "rival"})
        orig_append(table_dir, row)

    man3 = upsert_rows(
        load_snapshot(spark, d, r2["snapshot_id"]),
        spark.createDataFrame([("8", "B")],
                              "doc_id string, text string"),
        key="doc_id", specs=SPECS, num_parts=1)
    S._append_log = race_append
    try:
        with pytest.raises(CommitConflict):
            commit_snapshot(man3, d, op="upsert")
    finally:
        S._append_log = orig_append
    log = snapshots(spark, d).collect()
    assert log[-1]["snapshot_id"] == "0" * 16  # rival winner is head
    # our withdrawn row is gone: exactly one log FILE per seq
    files = sorted(os.listdir(os.path.join(d, "_log")))
    seqs = [f.split("-")[0] for f in files]
    assert seqs == sorted(set(seqs))


def test_snapshot_fsck(spark, table):
    from br_archive_spark.operators import snapshot_fsck

    d, src, r1 = table
    man2 = upsert_rows(
        load_snapshot(spark, d),
        spark.createDataFrame([("7", "Z")],
                              "doc_id string, text string"),
        key="doc_id", specs=SPECS, num_parts=1)
    r2 = commit_snapshot(man2, d, op="upsert")

    # healthy table: nothing missing, nothing orphaned
    rep = snapshot_fsck(spark, d)
    assert rep["ok"] and rep["missing"] == {} \
        and rep["orphan_chunks"] == 0
    assert rep["snapshots_checked"] == 2

    # expire v1 -> its delta-only seq dirs may vanish; remaining
    # shared dirs can hold chunks only v1 referenced = orphans
    expire_snapshots(spark, d, keep_last=1)
    rep2 = snapshot_fsck(spark, d)
    assert rep2["ok"]                       # head still fully loadable
    assert rep2["snapshots_checked"] == 1
    assert r1["snapshot_id"] in rep2["expired_parents"]
    assert rep2["orphan_chunks"] >= 1       # v1's superseded chunks

    # destroy one data file -> fsck reports the head as missing chunks
    seq_dir = os.path.join(d, "data", f"seq={r2['seq']}")
    victim = max((f for f in os.listdir(seq_dir)
                  if f.endswith(".parquet")),
                 key=lambda f: os.path.getsize(
                     os.path.join(seq_dir, f)))
    os.remove(os.path.join(seq_dir, victim))
    rep3 = snapshot_fsck(spark, d)
    assert not rep3["ok"]
    assert rep3["missing"].get(r2["snapshot_id"], 0) >= 1


def test_snapshot_diff_identical_snapshots_no_specs(spark, table):
    """Regression: diff of content-identical snapshots with specs=None
    (the CLI path) returns an empty feed instead of crashing
    manifest_specs on an empty manifest."""
    d, _src, r1 = table
    same = snapshot_diff(spark, d, r1["snapshot_id"],
                         r1["snapshot_id"])
    assert same.count() == 0


def test_recluster_snapshot_tightens_pruning(spark, tmp_path):
    """recluster_snapshot: content identical (empty CDC vs prior
    head), layout range-clustered — a narrow range read decodes far
    fewer chunks than under the scattered hash layout."""
    from br_archive_spark.operators import (lookup_range,
                                            recluster_snapshot,
                                            snapshot_diff)
    from br_archive_spark.operators.decode import _scan_prune

    def zone_kept(man):
        return _scan_prune(man, dict(SPECS), [("doc_id", "00100", "00140")],
                           [], [], {}).count()

    d = str(tmp_path / "tbl")
    src = spark.range(2000).select(
        F.format_string("%05d", F.col("id")).alias("doc_id"),
        F.concat(F.lit("b-"), "id").alias("text"))
    enc = encode_table(src, specs=SPECS, mode="hash", key="doc_id",
                       num_parts=8, target_values=128)
    r1 = commit_snapshot(enc, d, op="encode")
    before = zone_kept(load_snapshot(spark, d))

    r2 = recluster_snapshot(spark, d, key="doc_id", specs=SPECS,
                            num_parts=8, target_values=128)
    assert r2["op"] == "recluster"
    # identical content: the row-level change feed is empty
    assert snapshot_diff(spark, d, r1["snapshot_id"],
                         r2["snapshot_id"], specs=SPECS).count() == 0
    after = zone_kept(load_snapshot(spark, d))
    assert after < before / 3, (before, after)
    # and the data still reads correctly through the new layout
    got = lookup_range(load_snapshot(spark, d), "00100", "00105",
                       specs=SPECS, with_n_tok=False)
    assert sorted(r["doc_id"] for r in got.collect()) == [
        f"{i:05d}" for i in range(100, 106)]


def test_claim_blocks_rival_and_breaks_stale_orphan(spark, table):
    """Pre-append seq claim (ADVICE r4 #3): a live rival's claim turns
    the commit into CommitConflict BEFORE any log row lands; a stale
    claim with no log row (committer crashed between claim and append)
    is broken and the commit proceeds."""
    import importlib
    import time as _t

    from br_archive_spark.operators import CommitConflict

    S = importlib.import_module("br_archive_spark.operators.snapshots")
    d, src, r1 = table
    man2 = upsert_rows(
        load_snapshot(spark, d),
        spark.createDataFrame([("5", "X")],
                              "doc_id string, text string"),
        key="doc_id", specs=SPECS, num_parts=1)
    claim = os.path.join(d, "_log", f"{r1['seq'] + 1:08d}.claim")
    with open(claim, "w") as f:
        f.write("f" * 16)
    with pytest.raises(CommitConflict):
        commit_snapshot(man2, d, op="upsert")
    assert snapshots(spark, d).count() == 1   # loser appended nothing

    past = _t.time() - 2 * S._CLAIM_STALE_S
    os.utime(claim, (past, past))
    r2 = commit_snapshot(man2, d, op="upsert")
    assert r2["seq"] == r1["seq"] + 1
    assert snapshots(spark, d).count() == 2


def _race_commit_worker(args):
    """Race the claim->append window (no Spark: the synchronization
    primitive under test is pure filesystem)."""
    import time as _t

    from br_archive_spark.operators.snapshots import (CommitConflict,
                                                      _append_log,
                                                      _claim_seq)

    d, seq, sid = args
    try:
        _claim_seq(d, seq, sid)
    except CommitConflict:
        return "conflict"
    _append_log(d, {"seq": seq, "snapshot_id": sid, "parent_id": None,
                    "op": "race", "n_chunks": 0, "enc_bytes": 0,
                    "committed_at": _t.time()})
    return "committed"


def test_two_process_commit_race(tmp_path):
    """Two OS processes race the same seq 20 times: exactly one wins
    each race, the loser raises CommitConflict, and the log never
    holds two rows at one seq (VERDICT r3 next-steps #8)."""
    import multiprocessing as mp

    d = str(tmp_path / "tbl")
    os.makedirs(os.path.join(d, "_log"))
    ctx = mp.get_context("spawn")
    with ctx.Pool(2) as pool:
        for seq in range(1, 21):
            sids = [f"{seq:02d}" + "a" * 14, f"{seq:02d}" + "b" * 14]
            res = pool.map(_race_commit_worker,
                           [(d, seq, s) for s in sids])
            assert sorted(res) == ["committed", "conflict"], (seq, res)
            rows = [f for f in os.listdir(os.path.join(d, "_log"))
                    if f.startswith(f"{seq:08d}-")]
            assert len(rows) == 1, (seq, rows)


def test_recluster_snapshot_zorder(spark, tmp_path):
    """snapshot recluster --zorder: the committed layout carries tight
    zone maps on BOTH Morton columns; content identical to the prior
    head (empty row-level diff)."""
    from br_archive_spark.operators import (commit_snapshot, decode_table,
                                            encode_table, infer_specs,
                                            recluster_snapshot,
                                            snapshot_diff)
    from br_archive_spark.operators.decode import _stats_disjoint

    d = str(tmp_path / "ztbl")
    n = 4096
    src = spark.range(n).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") * 2654435761 % n).alias("a"),
        (F.col("id") * 40503 % n).alias("b"))
    specs = infer_specs(src)
    r1 = commit_snapshot(
        encode_table(src.repartitionByRange(8, "a")
                     .sortWithinPartitions("a"),
                     specs=specs, mode="scan", target_values=512),
        d, op="encode")
    r2 = recluster_snapshot(spark, d, zorder=["a", "b"], num_parts=8,
                            target_values=512)
    assert r2["op"] == "recluster"
    diff = snapshot_diff(spark, d, r1["snapshot_id"],
                         r2["snapshot_id"], specs=specs)
    assert diff.count() == 0              # content identical
    from br_archive_spark.operators import load_snapshot
    man = load_snapshot(spark, d)
    lo, hi = n // 4, n // 4 + n // 16
    kept_b = man.where(~_stats_disjoint("b", lo, hi)).count()
    assert kept_b <= man.count() // 2     # off-key axis now prunes
    dec = decode_table(man, specs=specs, with_n_tok=False,
                       verify_checksums=True)
    assert dec.count() == n
    with pytest.raises(ValueError, match="exactly one"):
        recluster_snapshot(spark, d, key="doc_id", zorder=["a", "b"])


def test_tags_resolve_pin_and_cli(spark, table, capsys):
    """Iceberg-tag analog: a tag resolves everywhere a snapshot id
    does, pins its snapshot against expire regardless of keep_last,
    and round-trips through the CLI."""
    import json

    from br_archive_spark.cli import main
    from br_archive_spark.operators.snapshots import (delete_tag,
                                                      list_tags,
                                                      resolve_ref,
                                                      tag_snapshot)

    d, src, r1 = table
    man1 = load_snapshot(spark, d)
    tag_snapshot(spark, d, "v1.0-train")           # tag the head
    # advance the head twice so v1 falls outside keep_last=2
    for step in ("8", "9"):
        ups = spark.createDataFrame(
            [(step, f"UPDATED-{step}")], "doc_id string, text string")
        man1 = upsert_rows(load_snapshot(spark, d), ups,
                           key="doc_id", specs=SPECS)
        commit_snapshot(man1, d, op="merge")
    assert resolve_ref(d, "v1.0-train") == r1["snapshot_id"]
    assert resolve_ref(d, r1["snapshot_id"]) == r1["snapshot_id"]
    with pytest.raises(FileNotFoundError, match="unknown snapshot ref"):
        resolve_ref(d, "nope")

    # load/diff by tag
    out = decode_table(load_snapshot(spark, d, "v1.0-train"),
                       specs=SPECS, with_n_tok=False)
    assert _sorted_rows(out) == _sorted_rows(src)
    diff = snapshot_diff(spark, d, "v1.0-train")
    assert diff.where("op = 'add'").count() == 2

    # duplicate without replace raises; replace moves it
    with pytest.raises(ValueError, match="already exists"):
        tag_snapshot(spark, d, "v1.0-train")
    head = snapshots(spark, d).collect()[-1]["snapshot_id"]
    tag_snapshot(spark, d, "latest", snapshot_id=head)

    # expire keep_last=1 would drop r1 — the tag pins it
    rep = expire_snapshots(spark, d, keep_last=1)
    assert r1["snapshot_id"] in rep["retained"]
    out = decode_table(load_snapshot(spark, d, "v1.0-train"),
                       specs=SPECS, with_n_tok=False,
                       verify_checksums=True)
    assert _sorted_rows(out) == _sorted_rows(src)

    # untag, then the same expire reclaims it
    delete_tag(d, "v1.0-train")
    rep = expire_snapshots(spark, d, keep_last=1)
    assert r1["snapshot_id"] not in rep["retained"]
    with pytest.raises(FileNotFoundError):
        load_snapshot(spark, d, r1["snapshot_id"])

    # CLI surface
    assert main(["--master", "local[2]", "--shuffle-partitions", "4",
                 "snapshot", "tag", d, "rc1"]) == 0
    capsys.readouterr()
    assert main(["snapshot", "tags", d]) == 0
    tags = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert tags == {"latest": head, "rc1": head}
    assert main(["snapshot", "untag", d, "rc1"]) == 0
    assert list_tags(d) == {"latest": head}


def test_tag_name_validation(spark, table):
    from br_archive_spark.operators.snapshots import tag_snapshot

    d, _, r1 = table
    for bad in (r1["snapshot_id"], "00000001", "-lead", "a b", "x" * 70):
        with pytest.raises(ValueError, match="invalid"):
            tag_snapshot(spark, d, bad)
