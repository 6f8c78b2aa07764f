"""One stats-lane abstraction on both sides of the manifest.

Encode side: ``_entry_stats`` fills every ``column_stats`` lane of the
manifest schema for every kind (per-kind builders set theirs, the rest
default to null). Read side: ``_has_lane`` is the only lane probe and
refuses names the schema has no lane for, and every pruned read —
``scan_range_files`` and the CLI's ``scan`` report included — goes
through the one ``_scan_drop`` prune engine."""

import json
from argparse import Namespace

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
import pytest

from br_archive_spark.operators import encode_table

SPECS = [("doc_id", "string"), ("okey", "int"), ("val", "int")]
# okey of doc 1234: mid-domain, so every hash chunk's zone map keeps it
PROBE = 7 * 1234 + 3

_KIND_ARRAYS = {
    "int": (pa.array([3, None, -7], pa.int64()),
            pa.array([None, None], pa.int64())),
    "bool": (pa.array([True, None, False]), pa.array([None], pa.bool_())),
    "date": (pa.array([1, None, 9], pa.date32()),
             pa.array([None], pa.date32())),
    "timestamp": (pa.array([1, None, 10 ** 12], pa.timestamp("us")),
                  pa.array([None], pa.timestamp("us"))),
    "float": (pa.array([1.5, None, float("nan")]),
              pa.array([None], pa.float64())),
    "string": (pa.array(["a", None, "b" * 40]),
               pa.array([None], pa.string())),
    "binary": (pa.array([b"\x00", None, b"zz"]),
               pa.array([None], pa.binary())),
    "int_list": (pa.array([[1, None], None, []], pa.list_(pa.int32())),
                 pa.array([None], pa.list_(pa.int32()))),
    "float_list": (pa.array([[1.0], None], pa.list_(pa.float32())),
                   pa.array([None], pa.list_(pa.float32()))),
    "double_list": (pa.array([[2.0, None]], pa.list_(pa.float64())),
                    pa.array([None], pa.list_(pa.float64()))),
}


@pytest.mark.parametrize("kind", sorted(_KIND_ARRAYS))
def test_entry_stats_returns_every_lane(kind):
    """Values, all-null and empty chunks of every kind, under every
    bloom/sketch gate: the stats dict has exactly the lane names of
    the manifest's ``column_stats`` struct (minus the entry's own
    name/kind/codec/byte fields), so a stats row always fills the
    schema and ``s.update(...)`` overwrites every lane."""
    from br_archive_spark.operators.encode import (MANIFEST_SCHEMA,
                                                   _entry_stats, _extract)

    struct = MANIFEST_SCHEMA.field("column_stats").type.value_type
    lanes = {f.name for f in struct} - {
        "name", "kind", "codec", "orig_bytes", "enc_bytes"}
    values, all_null = _KIND_ARRAYS[kind]
    for arr in (values, all_null, values.slice(0, 0)):
        data, validity = _extract(pa.table({"c": arr}), "c", kind)
        for bloom, sketch in ((True, None), (False, True),
                              (True, False), (False, None)):
            st = _entry_stats(kind, data, validity, bloom=bloom,
                              sketch=sketch)
            assert set(st) == lanes, (kind, len(arr), bloom, sketch)
            assert st["null_count"] == arr.null_count + (
                pc.list_flatten(arr).null_count
                if kind.endswith("_list") else 0)


def _hash_layout(spark, tmp_path):
    docs = spark.range(4000).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") * 7 + 3).alias("okey"),
        (F.col("id") % 97).cast("int").alias("val"))
    man_dir = str(tmp_path / "man")
    encode_table(docs, specs=SPECS, mode="hash", num_parts=8,
                 target_values=512).write.parquet(man_dir)
    return docs, man_dir


def test_has_lane_is_the_one_probe(spark, tmp_path):
    """``_has_lane`` answers per manifest vintage and rejects a field
    the manifest schema has no lane for — a misspelt name must not
    quietly turn a proof off."""
    from br_archive_spark.operators.decode import _has_lane

    _docs, man_dir = _hash_layout(spark, tmp_path)
    man = spark.read.parquet(man_dir)
    assert _has_lane(man, "bloom") and _has_lane(man, "vmin")
    legacy = man.withColumn("column_stats", F.expr(
        "transform(column_stats, s -> named_struct('name', s.name,"
        " 'vmin', s.vmin, 'vmax', s.vmax))"))
    assert _has_lane(legacy, "vmin") and not _has_lane(legacy, "bloom")
    assert not _has_lane(man.drop("column_stats"), "vmin")
    for bad in ("blom", "key_bloom", "payload"):
        with pytest.raises(ValueError, match="not a column_stats field"):
            _has_lane(man, bad)


def test_scan_range_files_point_band_skips_files(spark, tmp_path):
    """A hash-layout int point band: every shard's zone map spans the
    whole okey range, so only the bloom arm of the shared prune engine
    can skip shard files — the payload pass must open fewer files than
    the manifest has, and return exactly the probed row."""
    from br_archive_spark.operators import scan_range_files

    docs, man_dir = _hash_layout(spark, tmp_path)
    # shard files holding chunks (a write may also leave empty ones)
    n_files = spark.read.parquet(man_dir).select(
        F.input_file_name()).distinct().count()
    assert n_files > 2
    out = scan_range_files(spark, man_dir, "okey", PROBE, PROBE,
                           specs=SPECS, with_n_tok=False)
    assert len(out.inputFiles()) < n_files
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, docs.where(F.col("okey") == PROBE).collect()))


def test_cli_scan_reports_engine_kept_chunks(spark, tmp_path, capsys):
    """``scan``'s ``chunks_decoded`` is the prune engine's own count:
    on a hash layout an int point band is pruned by the column bloom,
    which a zone-map-only count misses."""
    from br_archive_spark.cli import cmd_scan
    from br_archive_spark.operators import scan_estimate

    _docs, man_dir = _hash_layout(spark, tmp_path)
    args = Namespace(input=man_dir, column="okey", lo=str(PROBE),
                     hi=str(PROBE), null=False, not_null=False,
                     estimate=False,
                     global_dict=None, show=0, master="local[2]",
                     shuffle_partitions=4)
    assert cmd_scan(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    est = scan_estimate(spark.read.parquet(man_dir),
                        [("okey", PROBE, PROBE)], specs=SPECS)
    assert out["rows"] == 1
    assert out["chunks_decoded"] == est["chunks_kept"]
    assert out["chunks_decoded"] < out["chunks_total"]


_NS_SPECS = [("doc_id", "string"), ("name", "string"), ("okey", "int"),
             ("score", "float"), ("blob", "binary"), ("note", "string")]
# column_stats lanes of the pre-r4 and pre-r5 manifest vintages
_PRE_R4 = ("name", "kind", "codec", "orig_bytes", "enc_bytes", "vmin",
           "vmax", "vsum", "n_vals", "null_count")
_PRE_R5 = _PRE_R4 + ("fmin", "fmax")


def _strip(man, lanes):
    fields = ", ".join(f"'{f}', s.{f}" for f in lanes)
    return man.withColumn("column_stats", F.expr(
        f"transform(column_stats, s -> named_struct({fields}))"))


def test_scan_drop_is_null_free_on_stripped_manifests(spark, tmp_path):
    """A NULL ``drop`` makes ``WHERE ~drop`` discard the chunk, so
    every arm of the one prune engine must be NULL-free on every
    manifest vintage: lane strips (pre-r3: no column_stats; pre-r4;
    pre-r5), no key zone-map columns at all, ``drop_columns`` of the
    key (NULL key_col/key_min/key_max/key_bloom), a ``bloom=False``
    encode and NULL ``column_stats`` rows. Lookups and scans on each
    return exactly the rows of decode_table + filter, and a delete
    that matches no row keeps every row."""
    from br_archive_spark.operators import (decode_table, delete_where,
                                            drop_columns, lookup_docs,
                                            lookup_range, lookup_values,
                                            scan_where)
    from br_archive_spark.operators.decode import (_normalize_isin,
                                                   _scan_drop)

    docs = spark.range(2000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.format_string("N#%04d", F.col("id") % 500).alias("name"),
        (F.col("id") * 7 + 3).alias("okey"),
        (F.col("id") / 4.0).alias("score"),
        F.unhex(F.format_string("%04x", F.col("id") % 300)).alias("blob"),
        F.when(F.col("id") % 5 == 0, F.lit("n")).alias("note"))
    enc = encode_table(docs, specs=_NS_SPECS, mode="hash", num_parts=4,
                       target_values=256)
    man_dir = str(tmp_path / "man")
    enc.write.parquet(man_dir)
    man = spark.read.parquet(man_dir)
    fixtures = {
        "pre_r3": man.drop("column_stats"),
        "pre_r4": _strip(man, _PRE_R4),
        "pre_r5": _strip(man, _PRE_R5),
        "no_key_zone": man.drop("key_col", "key_min", "key_max",
                                "key_bloom"),
        "key_dropped": drop_columns(man, ["doc_id"]),
        "bloom_off": encode_table(docs, specs=_NS_SPECS, mode="hash",
                                  num_parts=4, target_values=256,
                                  bloom=False),
        "null_stats": man.withColumn(
            "column_stats", F.when(F.col("part_id") % 2 == 0,
                                   F.col("column_stats"))),
    }
    kinds = dict(_NS_SPECS)
    probes = [
        ([("okey", 700, 9000)], [], [], {}),
        ([("okey", 8641, 8641)], [], [], {}),
        ([("score", 10.0, 60.5)], [], [], {}),
        ([("name", "N#0100", "N#0120")], [], [], {}),
        ([("name", "N#0042", "N#0042")], [], [], {}),
        ([("doc_id", "40", "41")], [], [], {}),
        ([("doc_id", "17", "17")], [], [], {}),
        ([], [], [], {"doc_id": ["17", "4321", "999"]}),
        ([], [], [], {"name": ["N#0001", "N#0499"]}),
        ([], [], [], {"okey": [3, 10, 8641]}),
        ([], [], [], {"blob": [b"\x00\x07"]}),
        ([], ["note"], [], {}),
        ([], [], ["note"], {}),
    ]
    for label, fx in fixtures.items():
        nulls = fx.select(*[
            F.sum(_scan_drop(fx, kinds, b, n, nn,
                             _normalize_isin(kinds, i))
                  .isNull().cast("int")).alias(f"p{k}")
            for k, (b, n, nn, i) in enumerate(probes)]).first()
        assert not any(nulls), (label, nulls)

        specs = [s for s in _NS_SPECS
                 if label != "key_dropped" or s[0] != "doc_id"]
        dec = decode_table(fx, specs=specs, with_n_tok=False).cache()

        def same(got, cond):
            assert sorted(map(tuple, got.collect())) == sorted(
                map(tuple, dec.where(cond).collect())), label

        if label != "key_dropped":
            same(lookup_docs(fx, ["17", "4321", "999"], specs=specs,
                             with_n_tok=False),
                 F.col("doc_id").isin("17", "4321", "999"))
            same(lookup_range(fx, "40", "41", specs=specs,
                              with_n_tok=False),
                 F.col("doc_id").between("40", "41"))
        same(lookup_values(fx, "name", ["N#0042"], specs=specs,
                           with_n_tok=False),
             F.col("name") == "N#0042")
        same(lookup_values(fx, "okey", [8641, 3], specs=specs,
                           with_n_tok=False),
             F.col("okey").isin(8641, 3))
        same(scan_where(fx, [("score", 10.0, 60.5)], specs=specs,
                        with_n_tok=False, null_cols=["note"]),
             F.col("score").between(10.0, 60.5) & F.col("note").isNull())
        kept = delete_where(fx, "okey", -5, -1, specs=specs)
        assert decode_table(kept, specs=specs, with_n_tok=False) \
            .count() == 2000, label
        dec.unpersist()
