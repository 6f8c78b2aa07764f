"""Schema evolution on encoded manifests (operators/evolve.py).

DROP COLUMN rewrites only metadata + checksum (surviving payload bytes
are untouched — asserted bit-for-bit); RENAME COLUMN is metadata-only
(checksum unchanged, pure JVM transform). Decode-time checksum
verification must keep passing after either operation, and lookups
must not prune on a dropped zone-map column.
"""

import pyspark.sql.functions as F
import pytest

from br_archive_spark.operators import (agg_encoded, decode_table,
                                        drop_columns, encode_table,
                                        infer_specs, manifest_specs,
                                        rename_column, scan_range)


def _table(spark, n=2000):
    return spark.range(n).select(
        F.col("id").cast("string").alias("doc_id"),
        F.col("id").alias("v"),
        (F.col("id") % 97).alias("w"),
        F.concat(F.lit("txt-"), F.col("id")).alias("text"))


@pytest.fixture(scope="module")
def encoded(spark):
    src = _table(spark)
    specs = infer_specs(src)
    enc = encode_table(src, specs=specs, mode="scan",
                       target_values=400, key="doc_id").cache()
    enc.count()
    yield src, specs, enc
    enc.unpersist()


def test_drop_column_roundtrips_and_verifies(spark, encoded):
    src, specs, enc = encoded
    dropped = drop_columns(enc, ["text"])
    kept = [s for s in specs if s[0] != "text"]
    assert manifest_specs(dropped) == kept
    # checksum verification ON — the recomputed CRC must hold
    dec = decode_table(dropped, specs=kept, with_n_tok=False,
                       verify_checksums=True)
    got = sorted((r["doc_id"], r["v"], r["w"]) for r in dec.collect())
    exp = sorted((r["doc_id"], r["v"], r["w"])
                 for r in src.select("doc_id", "v", "w").collect())
    assert got == exp


def test_drop_column_keeps_surviving_bytes_identical(spark, encoded):
    _src, _specs, enc = encoded
    before = {r["chunk_id"]: r for r in enc.select(
        "chunk_id", "columns").collect()}
    after = drop_columns(enc, ["w"]).select(
        "chunk_id", "columns", "orig_bytes", "enc_bytes").collect()
    for row in after:
        keep = {e["name"]: e for e in before[row["chunk_id"]]["columns"]
                if e["name"] != "w"}
        assert [e["name"] for e in row["columns"]] == [
            e["name"] for e in before[row["chunk_id"]]["columns"]
            if e["name"] != "w"]
        for e in row["columns"]:
            assert bytes(e["payload"]) == bytes(keep[e["name"]]["payload"])
            assert bytes(e["params"]) == bytes(keep[e["name"]]["params"])
        assert row["enc_bytes"] == sum(
            e["enc_bytes"] for e in keep.values())


def test_drop_key_column_nulls_zone_map(spark, encoded):
    _src, _specs, enc = encoded
    dropped = drop_columns(enc, ["doc_id"])
    row = dropped.select("key_col", "key_min", "key_max").first()
    assert row["key_col"] is None and row["key_min"] is None
    # numeric stats of surviving columns still serve scan/agg
    n = scan_range(dropped, "v", 100, 300,
                   specs=[("v", "int"), ("w", "int"),
                          ("text", "string")],
                   with_n_tok=False).count()
    assert n == 201
    assert agg_encoded(dropped, "w").first()["n_values"] == 2000


def test_drop_errors(spark, encoded):
    _src, specs, enc = encoded
    with pytest.raises(Exception, match="not present"):
        drop_columns(enc, ["nope"]).count()
    with pytest.raises(Exception, match="every column"):
        drop_columns(enc, [s[0] for s in specs]).count()


def test_rename_column_metadata_only(spark, encoded):
    src, specs, enc = encoded
    ren = rename_column(enc, "v", "value")
    # checksums bit-identical: names are outside the checksum domain
    a = sorted(r["checksum"] for r in enc.select("checksum").collect())
    b = sorted(r["checksum"] for r in ren.select("checksum").collect())
    assert a == b
    new_specs = [("value" if n == "v" else n, k) for n, k in specs]
    assert manifest_specs(ren) == new_specs
    dec = decode_table(ren, specs=new_specs, with_n_tok=False)
    assert "value" in dec.columns and "v" not in dec.columns
    got = sorted((r["doc_id"], r["value"]) for r in
                 dec.select("doc_id", "value").collect())
    exp = sorted((r["doc_id"], r["v"]) for r in
                 src.select("doc_id", "v").collect())
    assert got == exp
    # key_col follows a rename of the zone-map column
    assert rename_column(enc, "doc_id", "k").select("key_col") \
        .first()[0] == "k"


def test_add_column_roundtrips_with_nulls(spark, encoded):
    from br_archive_spark.operators import add_column

    src, specs, enc = encoded
    vals = src.where(F.col("v") % 3 != 0).select(
        "doc_id", (F.col("v") * 7).alias("score"))
    out = add_column(enc, vals, "score", "int", key="doc_id")
    new_specs = specs + [("score", "int")]
    assert manifest_specs(out) == new_specs
    dec = decode_table(out, specs=new_specs, with_n_tok=False,
                       verify_checksums=True)
    truth = src.join(vals, ["doc_id"], "left") \
        .select("doc_id", "v", "score")
    got = sorted((r["doc_id"], r["score"]) for r in dec.collect())
    exp = sorted((r["doc_id"], r["score"]) for r in truth.collect())
    assert got == exp
    # the spliced entry carries numeric stats: manifest-only agg works
    row = agg_encoded(out, "score").first()
    t = vals.agg(F.count("score"), F.sum("score")).first()
    assert (row["n_values"], int(row["vsum"])) == tuple(t)
    assert row["n_nulls"] == src.count() - t[0]


def test_add_column_duplicate_keys_rejected(spark, encoded):
    from br_archive_spark.operators import add_column

    _src, _specs, enc = encoded
    dup = spark.createDataFrame(
        [("7", 1), ("7", 2)], "doc_id string, score int")
    with pytest.raises(Exception, match="keys unique"):
        add_column(enc, dup, "score", "int", key="doc_id").count()


def test_add_column_arg_errors(spark, encoded):
    from br_archive_spark.operators import add_column

    _src, _specs, enc = encoded
    vals = spark.createDataFrame([("1", 2)], "doc_id string, v int")
    with pytest.raises(ValueError, match="already exists"):
        add_column(enc, vals, "v", "int", key="doc_id")
    with pytest.raises(ValueError, match="list kind"):
        add_column(enc, vals, "xs", "int_list", key="doc_id")
    with pytest.raises(ValueError, match="missing column"):
        add_column(enc, vals, "score", "int", key="doc_id")


def test_drop_then_add_evolution_cycle(spark, encoded):
    """Full evolution cycle: drop a column, add a replacement under a
    new name — decode with checksums ON stays exact throughout."""
    from br_archive_spark.operators import add_column, drop_columns

    src, specs, enc = encoded
    step1 = drop_columns(enc, ["w"])
    vals = src.select("doc_id", F.concat(F.lit("u-"), "v").alias("u"))
    step2 = add_column(step1, vals, "u", "string", key="doc_id")
    new_specs = [s for s in specs if s[0] != "w"] + [("u", "string")]
    assert manifest_specs(step2) == new_specs
    dec = decode_table(step2, specs=new_specs, with_n_tok=False,
                       verify_checksums=True)
    got = sorted((r["doc_id"], r["u"]) for r in dec.collect())
    exp = sorted((r["doc_id"], "u-" + str(r["v"]))
                 for r in src.collect())
    assert got == exp


def _keyed_table(spark, n=3000):
    return spark.range(n).select(
        F.format_string("doc-%05d", "id").alias("doc_id"),
        F.col("id").alias("v"),
        F.concat(F.lit("t"), F.col("id")).alias("text"))


@pytest.fixture(scope="module")
def range_encoded(spark):
    src = _keyed_table(spark)
    specs = infer_specs(src)
    # pin num_parts: chunk layout must not depend on the session's
    # shuffle-partitions conf (the whole-chunk-delete test needs the
    # first ~375-row chunk fully inside the deleted key range)
    enc = encode_table(src, specs=specs, mode="range", key="doc_id",
                       num_parts=8, target_values=400).cache()
    enc.count()
    yield src, specs, enc
    enc.unpersist()


def test_delete_rows_cow_touches_only_matching_chunks(spark,
                                                      range_encoded):
    from br_archive_spark.operators import delete_rows

    src, specs, enc = range_encoded
    # clustered deletes: zone maps confine the rewrite to few chunks
    kill = [f"doc-{i:05d}" for i in range(100, 110)]
    out = delete_rows(enc, kill, key="doc_id", specs=specs)
    before = {r["chunk_id"]: r["checksum"]
              for r in enc.select("chunk_id", "checksum").collect()}
    after = {r["chunk_id"]: r["checksum"]
             for r in out.select("chunk_id", "checksum").collect()}
    rewritten = [c for c in after if after[c] != before[c]]
    assert 1 <= len(rewritten) <= 2, rewritten
    # every untouched chunk is BYTE-identical (checksum equality)
    assert all(after[c] == before[c]
               for c in after if c not in rewritten)
    dec = decode_table(out, specs=specs, with_n_tok=False,
                       verify_checksums=True)
    got = sorted(r["doc_id"] for r in dec.collect())
    exp = sorted(r["doc_id"] for r in
                 src.where(~F.col("doc_id").isin(kill)).collect())
    assert got == exp


def test_delete_rows_whole_chunk_vanishes(spark, range_encoded):
    from br_archive_spark.operators import delete_rows

    src, specs, enc = range_encoded
    n_chunks = enc.count()
    # delete every key of the first chunk (range mode: first ~400 ids
    # live together) plus a couple of strays
    kill = [f"doc-{i:05d}" for i in range(0, 500)]
    out = delete_rows(enc, kill, key="doc_id", specs=specs)
    assert out.count() < n_chunks
    dec = decode_table(out, specs=specs, with_n_tok=False,
                       verify_checksums=True)
    assert dec.count() == src.count() - 500
    assert dec.where(F.col("doc_id") < "doc-00500").count() == 0


def test_delete_rows_updates_stats_and_bounds(spark, range_encoded):
    from br_archive_spark.operators import agg_encoded, delete_rows

    src, specs, enc = range_encoded
    kill = [f"doc-{i:05d}" for i in range(200, 300)]
    out = delete_rows(enc, kill, key="doc_id", specs=specs)
    row = agg_encoded(out, "v").first()
    t = src.where(~F.col("doc_id").isin(kill)) \
        .agg(F.count("v"), F.sum("v"), F.min("v"), F.max("v")).first()
    assert (row["n_values"], int(row["vsum"]), row["vmin"],
            row["vmax"]) == tuple(t)
    # rewritten chunk's key bounds exclude the deleted range interior
    assert decode_table(out, specs=specs, with_n_tok=False) \
        .where(F.col("doc_id").isin(kill)).count() == 0


def test_delete_rows_errors_and_noop(spark, range_encoded):
    from br_archive_spark.operators import delete_rows

    _src, specs, enc = range_encoded
    assert delete_rows(enc, [], key="doc_id", specs=specs) is enc
    with pytest.raises(ValueError, match="string-kind"):
        delete_rows(enc, ["x"], key="v", specs=specs)


def test_upsert_rows_merge_semantics(spark, range_encoded):
    from br_archive_spark.operators import upsert_rows

    src, specs, enc = range_encoded
    batch = spark.createDataFrame(
        [("doc-00010", 999_010, "updated-10"),     # replace
         ("doc-00777", 999_777, "updated-777"),    # replace
         ("doc-99999", 999_999, "inserted")],      # insert
        "doc_id string, v bigint, text string")
    out = upsert_rows(enc, batch, key="doc_id", specs=specs,
                      num_parts=2)
    ids = out.select("chunk_id").collect()
    assert len(ids) == len({r[0] for r in ids})   # no chunk_id collision
    dec = decode_table(out, specs=specs, with_n_tok=False,
                       verify_checksums=True)
    exp = (src.where(~F.col("doc_id").isin("doc-00010", "doc-00777"))
           .unionByName(batch))
    got = sorted(map(tuple, dec.collect()))
    want = sorted(map(tuple, exp.collect()))
    assert got == want
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert_rows(enc, batch.unionByName(batch), key="doc_id",
                    specs=specs)


def test_upsert_is_idempotent_on_chunk_ids(spark, range_encoded):
    """Same batch twice: the second upsert replaces the first's chunks
    under the SAME deterministic tag — ids stay unique, content equal."""
    from br_archive_spark.operators import upsert_rows

    src, specs, enc = range_encoded
    batch = spark.createDataFrame(
        [("doc-00001", 1_000_001, "u1")],
        "doc_id string, v bigint, text string")
    once = upsert_rows(enc, batch, key="doc_id", specs=specs,
                       num_parts=1)
    twice = upsert_rows(once, batch, key="doc_id", specs=specs,
                        num_parts=1)
    ids = twice.select("chunk_id").collect()
    assert len(ids) == len({r[0] for r in ids})
    a = sorted(map(tuple, decode_table(
        once, specs=specs, with_n_tok=False).collect()))
    b = sorted(map(tuple, decode_table(
        twice, specs=specs, with_n_tok=False).collect()))
    assert a == b


def test_cli_evolve(spark, tmp_path, capsys):
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_evolve

    src = _table(spark, 500)
    man_dir = str(tmp_path / "man")
    out_dir = str(tmp_path / "out")
    encode_table(src, specs=infer_specs(src), mode="scan",
                 key="doc_id").write.parquet(man_dir)
    args = Namespace(input=man_dir, output=out_dir, drop=["w"],
                     rename=["v=value"], delete=["3", "4"],
                     key="doc_id", master="local[2]",
                     shuffle_partitions=4)
    assert cmd_evolve(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["columns"] == ["doc_id", "value", "text"]
    man = spark.read.parquet(out_dir)
    dec = decode_table(man, specs=manifest_specs(man),
                       with_n_tok=False, verify_checksums=True)
    assert dec.count() == 498
    assert dec.where(F.col("doc_id").isin("3", "4")).count() == 0


def test_rename_is_jvm_only(spark, encoded):
    """Plan lock: rename adds no Python evaluation — no
    ArrowEvalPython/MapInArrow beyond what the input manifest has
    (here: none, the manifest is materialized)."""
    _src, _specs, enc = encoded
    base = enc._jdf.queryExecution().executedPlan().toString()
    plan = rename_column(enc, "v", "value")._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("MapInArrow") == base.count("MapInArrow")
    assert plan.count("EvalPython") == base.count("EvalPython") == 0


def test_delete_rows_join_path_matches_literal(spark, range_encoded):
    """keys as a DataFrame takes the fully-distributed COW delete (the
    large-batch MERGE path): same decoded table and same rewritten
    chunk set as the literal path, with the probe expressed as a JOIN
    against the keys DataFrame — the key set never transits the
    driver (VERDICT r3 next-steps #4)."""
    from br_archive_spark.operators import decode_table, delete_rows

    src, specs, enc = range_encoded
    kill = [f"doc-{i:05d}" for i in range(100, 110)]
    kdf = spark.createDataFrame([(k,) for k in kill], "doc_id string")
    out = delete_rows(enc, kdf, key="doc_id", specs=specs)
    lit = delete_rows(enc, kill, key="doc_id", specs=specs)
    a = sorted(map(tuple, decode_table(
        out, specs=specs, with_n_tok=False,
        verify_checksums=True).collect()))
    b = sorted(map(tuple, decode_table(
        lit, specs=specs, with_n_tok=False).collect()))
    assert a == b
    before = {r["chunk_id"]: r["checksum"]
              for r in enc.select("chunk_id", "checksum").collect()}
    after = {r["chunk_id"]: r["checksum"]
             for r in out.select("chunk_id", "checksum").collect()}
    rewritten = [c for c in after if after[c] != before[c]]
    assert 1 <= len(rewritten) <= 2, rewritten
    assert all(after[c] == before[c]
               for c in after if c not in rewritten)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan


def test_delete_rows_join_path_empty_and_whole_chunk(spark,
                                                     range_encoded):
    from br_archive_spark.operators import decode_table, delete_rows

    src, specs, enc = range_encoded
    empty = spark.createDataFrame([], "doc_id string")
    assert delete_rows(enc, empty, key="doc_id",
                       specs=specs).count() == enc.count()
    kdf = spark.range(500).select(
        F.format_string("doc-%05d", "id").alias("doc_id"))
    out = delete_rows(enc, kdf, key="doc_id", specs=specs)
    assert out.count() < enc.count()     # first chunk vanished whole
    dec = decode_table(out, specs=specs, with_n_tok=False,
                       verify_checksums=True)
    assert dec.count() == src.count() - 500
    assert dec.where(F.col("doc_id") < "doc-00500").count() == 0


def test_delete_rows_partial_specs_keeps_all_columns(spark,
                                                     range_encoded):
    """Chunk rebuild derives from the chunk's OWN entry list (kinds
    fall back to the entry's recorded kind), so partial caller specs
    can no longer silently drop unlisted columns from rewritten chunks
    (ADVICE r4 #5)."""
    from br_archive_spark.operators import decode_table, delete_rows

    src, specs, enc = range_encoded
    partial = [s for s in specs if s[0] != "text"]
    out = delete_rows(enc, ["doc-00105"], key="doc_id", specs=partial)
    dec = decode_table(out, specs=specs, with_n_tok=False,
                       verify_checksums=True)
    assert dec.where("doc_id = 'doc-00105'").count() == 0
    assert dec.count() == src.count() - 1
    assert dec.where(F.col("text").isNull()).count() == 0


def test_upsert_large_batch_join_path(spark, range_encoded):
    """A batch above join_threshold: duplicate check and COW probe run
    as joins (no key collect, no literal plans); merge semantics match
    the literal path; the deterministic batch tag keeps re-runs
    idempotent."""
    from br_archive_spark.operators import decode_table, upsert_rows

    src, specs, enc = range_encoded
    batch = spark.range(2000).select(
        F.format_string("doc-%05d", F.col("id") + 2500).alias("doc_id"),
        (F.col("id") + 10_000_000).alias("v"),
        F.concat(F.lit("J"), F.col("id")).alias("text"))
    out = upsert_rows(enc, batch, key="doc_id", specs=specs,
                      num_parts=2, join_threshold=100)
    dec = decode_table(out, specs=specs, with_n_tok=False,
                       verify_checksums=True)
    exp = (src.where(F.col("doc_id") < "doc-02500").unionByName(batch))
    assert sorted(map(tuple, dec.collect())) \
        == sorted(map(tuple, exp.collect()))
    ids = out.select("chunk_id").collect()
    assert len(ids) == len({r[0] for r in ids})
    # idempotent: same batch again under the same derived tag
    again = upsert_rows(out, batch, key="doc_id", specs=specs,
                        num_parts=2, join_threshold=100)
    a = sorted(map(tuple, decode_table(
        again, specs=specs, with_n_tok=False).collect()))
    assert a == sorted(map(tuple, exp.collect()))
    # duplicate keys rejected without collecting
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert_rows(enc, batch.unionByName(batch), key="doc_id",
                    specs=specs, join_threshold=100)


def test_delete_where_numeric_and_float(spark):
    """Predicate delete over the numeric zone maps: non-overlapping
    chunks pass through byte-identical, fully-covered chunks vanish,
    partial chunks rewrite copy-on-write; NULL/NaN rows never match a
    finite band. Works on int lanes and the r4 float lanes."""
    from br_archive_spark.operators import (decode_table, delete_where,
                                            encode_table, infer_specs)

    df = spark.range(4000).select(
        F.format_string("doc-%05d", "id").alias("doc_id"),
        F.when(F.col("id") % 17 == 0, None)
        .otherwise(F.col("id")).alias("v"),
        F.when(F.col("id") % 23 == 0, float("nan"))
        .otherwise(F.col("id") / 4.0).alias("x"))
    src = df.repartitionByRange(8, "v").sortWithinPartitions("v")
    specs = infer_specs(src)
    enc = encode_table(src, specs=specs, mode="scan",
                       target_values=500).cache()

    out = delete_where(enc, "v", 1000, 1999, specs=specs)
    before = {r["chunk_id"]: r["checksum"]
              for r in enc.select("chunk_id", "checksum").collect()}
    after = {r["chunk_id"]: r["checksum"]
             for r in out.select("chunk_id", "checksum").collect()}
    # clustered on v: interior chunks vanish, 0-2 boundary rewrites
    assert len(after) < len(before)
    rewritten = [c for c in after if after[c] != before[c]]
    assert len(rewritten) <= 2, rewritten
    dec = decode_table(out, specs=specs, with_n_tok=False,
                       verify_checksums=True)
    exp = src.where(~F.col("v").between(1000, 1999)
                    | F.col("v").isNull())
    assert sorted(r["doc_id"] for r in dec.collect()) \
        == sorted(r["doc_id"] for r in exp.collect())
    # NULL v rows inside the id band survived
    assert dec.where(F.col("v").isNull()).count() \
        == src.where(F.col("v").isNull()).count()

    # float lane: delete x in [100.0, 200.0); NaN rows survive
    out2 = delete_where(enc, "x", 100.0, 200.0, specs=specs)
    dec2 = decode_table(out2, specs=specs, with_n_tok=False,
                        verify_checksums=True)
    exp2_ids = sorted(
        r["doc_id"] for r in src.collect()
        if r["x"] is None or not (100.0 <= r["x"] <= 200.0)
        or r["x"] != r["x"])
    got2_ids = sorted(r["doc_id"] for r in dec2.collect())
    assert got2_ids == exp2_ids
    n_nan = src.where(F.isnan("x")).count()
    assert dec2.where(F.isnan("x")).count() == n_nan > 0

    with pytest.raises(ValueError, match="no scalar numeric"):
        delete_where(enc, "doc_id", 0, 1, specs=specs)
    with pytest.raises(ValueError, match="NaN band"):
        delete_where(enc, "x", float("nan"), 1.0, specs=specs)
    enc.unpersist()


def test_cli_evolve_delete_where(spark, tmp_path, capsys):
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_evolve
    from br_archive_spark.operators import (decode_table, encode_table,
                                            infer_specs)

    df = spark.range(1000).select(
        F.format_string("doc-%04d", "id").alias("doc_id"),
        F.col("id").alias("v"))
    specs = infer_specs(df)
    man_dir = str(tmp_path / "man")
    encode_table(df.repartitionByRange(4, "v")
                 .sortWithinPartitions("v"),
                 specs=specs, mode="scan",
                 target_values=300).write.parquet(man_dir)
    out_dir = str(tmp_path / "out")
    args = Namespace(input=man_dir, output=out_dir, drop=[],
                     rename=[], delete=[], delete_where="v:250:749",
                     key="doc_id", master="local[2]",
                     shuffle_partitions=4)
    assert cmd_evolve(args) == 0
    dec = decode_table(spark.read.parquet(out_dir), specs=specs,
                       with_n_tok=False, verify_checksums=True)
    assert dec.count() == 500
    assert dec.where(F.col("v").between(250, 749)).count() == 0


def test_null_column_stats_stay_null(spark, encoded):
    """ADVICE r4 regression: the Arrow-native rewrites rebuilt list
    columns without a validity bitmap, so a chunk whose column_stats
    was NULL came out of drop_columns as an empty list and out of
    add_column as a one-entry list. NULL rows must stay NULL (the r3
    behavior), non-null rows must evolve normally, and decode must
    still checksum-verify."""
    from br_archive_spark.operators import add_column

    src, specs, enc = encoded
    nulled = enc.withColumn(
        "column_stats",
        F.when(F.col("part_id") % 2 == 0,
               F.col("column_stats"))).cache()
    null_ids = {r["chunk_id"] for r in
                nulled.where(F.col("column_stats").isNull())
                .select("chunk_id").collect()}
    assert null_ids and len(null_ids) < nulled.count()

    dropped = drop_columns(nulled, ["text"])
    for r in dropped.select("chunk_id", "column_stats").collect():
        if r["chunk_id"] in null_ids:
            assert r["column_stats"] is None
        else:
            assert r["column_stats"] is not None
            assert all(e["name"] != "text" for e in r["column_stats"])

    vals = src.select("doc_id", (F.col("v") * 3).alias("s2"))
    added = add_column(nulled, vals, "s2", "int", key="doc_id")
    for r in added.select("chunk_id", "column_stats").collect():
        if r["chunk_id"] in null_ids:
            assert r["column_stats"] is None
        else:
            assert any(e["name"] == "s2" for e in r["column_stats"])
    dec = decode_table(added, specs=specs + [("s2", "int")],
                       with_n_tok=False, verify_checksums=True)
    assert dec.count() == src.count()

    # a copy-on-write rewrite keeps a NULL column_stats NULL too
    from br_archive_spark.operators import delete_rows

    deleted = delete_rows(nulled, [str(i) for i in range(0, 2000, 7)],
                          key="doc_id", specs=specs)
    for r in deleted.select("chunk_id", "column_stats").collect():
        assert (r["column_stats"] is None) == (r["chunk_id"] in null_ids)
    nulled.unpersist()


def test_delete_where_fractional_bounds_contained(spark):
    """ADVICE r4 regression: int(lo)/int(hi) truncate toward zero,
    which WIDENED a negative fractional band — hi=-3.7 became -3 and
    deleted rows the request excluded. Fractional bounds must snap
    inward (ceil(lo), floor(hi)); an all-fractional band containing
    no integer deletes nothing."""
    from br_archive_spark.operators import (decode_table, delete_where,
                                            encode_table, infer_specs)

    df = spark.range(-10, 11).select(
        F.format_string("doc%03d", F.col("id") + 10).alias("doc_id"),
        F.col("id").alias("v"))
    specs = infer_specs(df)
    enc = encode_table(df.repartitionByRange(3, "v")
                       .sortWithinPartitions("v"),
                       specs=specs, mode="scan", target_values=6).cache()

    out = delete_where(enc, "v", -4.5, -3.7, specs=specs)
    dec = decode_table(out, specs=specs, with_n_tok=False)
    kept = sorted(r["v"] for r in dec.collect())
    assert kept == [v for v in range(-10, 11) if v != -4]  # -3 SURVIVES

    noop = delete_where(enc, "v", 2.2, 2.8, specs=specs)
    dec2 = decode_table(noop, specs=specs, with_n_tok=False)
    assert sorted(r["v"] for r in dec2.collect()) == list(range(-10, 11))
    enc.unpersist()


def test_delete_keeps_the_zone_map_key(spark, encoded):
    """A delete by a string column other than the zone-map key leaves
    every chunk's ``key_col`` on the encode's key; rewritten chunks'
    bounds describe that key's surviving values."""
    from br_archive_spark.operators import delete_rows

    _src, specs, enc = encoded
    before = {r["chunk_id"]: r["checksum"]
              for r in enc.select("chunk_id", "checksum").collect()}
    out = delete_rows(enc, ["txt-5", "txt-1500"], key="text",
                      specs=specs).cache()
    rows = out.collect()
    assert {r["key_col"] for r in rows} == {"doc_id"}
    rewritten = [r for r in rows if r["checksum"] != before[r["chunk_id"]]]
    assert len(rewritten) == 2
    for r in rewritten:
        ids = [d["doc_id"] for d in decode_table(
            out.where(F.col("chunk_id") == r["chunk_id"]), specs=specs,
            with_n_tok=False).collect()]
        assert (r["key_min"], r["key_max"]) == (min(ids), max(ids))
    out.unpersist()


def _fresh_encode_of(spark, man, chunk_id, specs, key):
    """The manifest row a fresh single-chunk ``encode_table`` writes
    for ``chunk_id``'s rows, in their stored order."""
    dec = decode_table(man.where(F.col("chunk_id") == chunk_id),
                       specs=specs, with_n_tok=False)
    one = spark.createDataFrame(dec.collect(), dec.schema).coalesce(1)
    (fresh,) = encode_table(one, specs=specs, key=key,
                            target_values=1 << 30).collect()
    return fresh


def test_cow_rewrite_equals_fresh_encode(spark):
    """Fresh encodes and copy-on-write rewrites share one chunk
    writer: every chunk that delete_where or delete_rows rewrites
    equals a fresh single-chunk encode_table of its surviving rows in
    entries, stats, zone map, key bloom and checksum — also when the
    delete's key is not the zone-map key."""
    from br_archive_spark.operators import delete_rows, delete_where

    df = spark.range(1200).select(
        F.format_string("doc-%05d", "id").alias("doc_id"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 7).cast("string")))
        .alias("src"),
        F.col("id").alias("v"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.col("id") / 7.0).alias("f"))
    specs = infer_specs(df)
    enc = encode_table(df, specs=specs, mode="range", key="doc_id",
                       num_parts=3, target_values=800).cache()
    before = {r["chunk_id"]: r["checksum"]
              for r in enc.select("chunk_id", "checksum").collect()}
    outs = {
        "delete_where": delete_where(enc, "v", 150, 450, specs=specs),
        "delete_rows": delete_rows(enc, ["doc-00010", "doc-00777"],
                                   specs=specs),
        "delete_rows by src": delete_rows(enc, ["s3"], key="src",
                                          specs=specs),
    }
    fields = ("columns", "column_stats", "key_col", "key_min", "key_max",
              "key_bloom", "checksum")
    for op, out in outs.items():
        out = out.cache()
        rewritten = [r for r in out.collect()
                     if r["checksum"] != before[r["chunk_id"]]]
        assert rewritten, op
        for r in rewritten:
            fresh = _fresh_encode_of(spark, out, r["chunk_id"], specs,
                                     "doc_id")
            for f in fields:
                assert r[f] == fresh[f], (op, r["chunk_id"], f)
        out.unpersist()
    enc.unpersist()
