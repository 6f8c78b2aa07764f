"""Physical-plan regression tests.

Correctness tests prove the queries return the right rows; these prove
they return them with the right PLAN — the properties that decide
whether the same query survives a 100 TB / 1000-executor scale-up:

* predicate pushdown reaches the parquet scan (``PushedFilters``),
* column pruning reaches the scan (``ReadSchema`` is minimal),
* small dimension tables broadcast instead of shuffling the fact table,
* top-k goes through ``TakeOrderedAndProject`` / ``WindowGroupLimit``
  rather than a global sort,
* the encode path contains NO shuffle (scan mode: Exchange-free).

A refactor that silently regresses one of these still passes the value
checks at sf0.01 but falls over at scale — this file is the guard.
"""

import io
import os
from contextlib import redirect_stdout

import pytest

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present")


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def test_pricing_summary_pushdown_and_pruning(spark, queries):
    plan = _plan(queries["pricing_summary"](spark, SF_DIR))
    # the shipdate predicate must reach the parquet reader
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: none of the untouched wide columns may be read
    assert "l_comment" not in plan
    assert "l_shipinstruct" not in plan
    # partial aggregation before the exchange (map-side combine)
    assert plan.count("HashAggregate") >= 2


def test_top_revenue_orders_broadcasts_dims(spark, queries):
    plan = _plan(queries["top_revenue_orders"](spark, SF_DIR))
    # customer + orders broadcast against the lineitem fact table: the
    # big side must never shuffle for the join
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # mktsegment filter pushed into the customer scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    # LIMIT k implemented as streaming top-k, not global sort
    assert "TakeOrderedAndProject" in plan


def test_knn_topk_uses_window_group_limit(spark, queries):
    plan = _plan(queries["knn_cosine"](spark, SF_DIR))
    # probe set broadcast; corpus scanned once
    assert "BroadcastExchange" in plan
    # rank<=k pushed into WindowGroupLimit (partial top-k per partition
    # before the shuffle) — without it every (probe, corpus) pair
    # shuffles
    assert "WindowGroupLimit" in plan


def test_encode_scan_mode_is_shuffle_free(spark):
    from br_archive_spark.datagen import token_table
    from br_archive_spark.operators import encode_table

    src = token_table(spark, 200)
    plan = _plan(encode_table(src, mode="scan"))
    assert "Exchange" not in plan, (
        "scan-mode encode must be embarrassingly parallel — one "
        "mapInArrow over scan splits, no shuffle")
    assert "MapInArrow" in plan


def test_decode_is_shuffle_free(spark, tmp_path):
    from br_archive_spark.datagen import token_table
    from br_archive_spark.operators import decode_table, encode_table

    src = token_table(spark, 200)
    path = str(tmp_path / "enc.parquet")
    encode_table(src, mode="scan").write.parquet(path)
    plan = _plan(decode_table(spark.read.parquet(path)))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_random_access_lookup_prunes_payloads(spark, queries):
    plan = _plan(queries["random_access_lookup"](spark, SF_DIR))
    # zone-map filter must run BEFORE the payload-decoding MapInArrow:
    # the Filter on chunk min/max appears between the manifest scan and
    # the decode stage
    assert "MapInArrow" in plan
    assert "Filter" in plan


def test_dedup_exact_single_shuffle(spark, queries):
    plan = _plan(queries["dedup_exact"](spark, SF_DIR))
    # hash-groupBy dedup: exactly one exchange (by content hash), with
    # map-side partial aggregation
    import re

    ops = re.findall(r"^\((\d+)\) (\w+)", plan, re.M)
    names = [n for _, n in ops]
    assert names.count("Exchange") == 1
    assert names.count("HashAggregate") == 2


def test_embedding_lsh_has_no_cartesian_product(spark, queries):
    """The LSH pair miner exists to avoid all-pairs: its plan must be
    equality joins on the (table, bucket) key — a CartesianProduct or
    BroadcastNestedLoopJoin anywhere means the bucketing silently
    degenerated into the brute-force form it replaces."""
    plan = _plan(queries["embedding_neardup_lsh"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the exact form, by contrast, IS a cross join (it is the oracle)
    exact = _plan(queries["embedding_neardup"](spark, SF_DIR))
    assert "CartesianProduct" in exact or "BroadcastNestedLoopJoin" in exact


def test_simhash_single_aggregate_pass(spark):
    """simhash must walk the shingle array once (one aggregate carrying
    a 64-counter array), not 64 times: the optimized plan may contain
    only ONE aggregate over the hashes."""
    import pyspark.sql.functions as F

    from br_archive_spark.functions.dedup import simhash

    df = spark.createDataFrame([(1, "hello world")], "id long, text string")
    expr = df.select(simhash("text").alias("s"))
    optimized = expr._jdf.queryExecution().optimizedPlan().toString()
    # the outer reduce over 64 mask entries is one aggregate; the inner
    # per-shingle pass is one aggregate: anything >2 means the per-bit
    # expansion came back
    assert optimized.count("aggregate(") <= 2, optimized.count("aggregate(")


def test_minhash_single_aggregate_pass(spark):
    import pyspark.sql.functions as F

    from br_archive_spark.functions.dedup import minhash_signature

    df = spark.createDataFrame([(1, [11, 22, 33])], "id long, sh array<long>")
    expr = df.select(minhash_signature(F.col("sh")).alias("s"))
    optimized = expr._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("aggregate(") <= 1
    assert optimized.count("array_min(transform(") == 0


def test_encode_range_mode_single_range_exchange(spark):
    """mode='range' costs exactly one shuffle, and it is a RANGE
    partitioning (tight per-chunk zone maps), not a hash scatter."""
    from br_archive_spark.datagen import token_table
    from br_archive_spark.operators import encode_table

    src = token_table(spark, 200)
    plan = _plan(encode_table(src, mode="range", num_parts=4))
    # one Exchange node in the plan tree (formatted output also lists
    # it in the details section, so count tree-edge occurrences)
    assert plan.count("+- Exchange") == 1
    assert "rangepartitioning" in plan
    assert "hashpartitioning" not in plan
    assert "MapInArrow" in plan


def test_lookup_range_prunes_before_decode(spark):
    """lookup_range's zone-map WHERE must sit under the decode
    MapInArrow as a pushed filter on the manifest scan."""
    from pyspark.sql import functions as F

    from br_archive_spark.datagen import token_table
    from br_archive_spark.operators import encode_table, lookup_range

    src = token_table(spark, 200)
    enc = encode_table(src, mode="range", num_parts=4)
    plan = _plan(lookup_range(enc, "d1", "d2"))
    assert "key_min" in plan and "key_max" in plan


def test_md5_twins_have_no_cartesian_product(spark, queries):
    """The engine-portable `_md5` conformance twins must keep the SAME
    scale shape as their xxhash64 fast paths: candidates from equality
    joins on band/block/bucket keys — a CartesianProduct or
    BroadcastNestedLoopJoin means the portable form silently
    degenerated into all-pairs."""
    for name in ("minhash_pairs_md5", "simhash_pairs_md5",
                 "embedding_neardup_lsh_md5", "knn_lsh_md5"):
        plan = _plan(queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_float_scan_prunes_on_stats_not_payload(spark, tmp_path):
    """Float-band scan: the fmin/fmax prune is a WHERE on the
    manifest scan whose ReadSchema needs column_stats but not a
    payload decode for pruned chunks (the filter sits under the decode
    MapInArrow)."""
    import pyspark.sql.functions as F

    from br_archive_spark.operators import encode_table, scan_range

    df = spark.range(500).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") / 2.0).alias("x"))
    specs = [("doc_id", "string"), ("x", "float")]
    enc_dir = str(tmp_path / "fenc")
    encode_table(df.repartitionByRange(4, "x")
                 .sortWithinPartitions("x"),
                 specs=specs, mode="scan").write.parquet(enc_dir)
    man = spark.read.parquet(enc_dir)
    plan = _plan(scan_range(man, "x", 10.0, 20.0, specs=specs,
                            with_n_tok=False))
    assert "fmin" in plan and "fmax" in plan
    assert "MapInArrow" in plan
    # the prune is a filter BELOW the arrow decode, readable from the
    # parquet scan's pushed-down structure
    assert plan.index("fmin") > plan.index("MapInArrow") or \
        "Filter" in plan


def test_zorder_cluster_single_exchange(spark):
    """Morton clustering costs exactly one row-payload Exchange
    (hashpartitioning on the relabeled literal-cut bucket — the
    deterministic replacement for rangepartitioning's
    session-seeded sampling) and compiles to pure codegen bit
    arithmetic — no UDF node."""
    import pyspark.sql.functions as F

    from br_archive_spark.operators.zorder import zorder_cluster

    df = spark.range(1000).select(
        F.col("id").alias("a"), (999 - F.col("id")).alias("b"))
    plan = _plan(zorder_cluster(df, ["a", "b"], 4))
    assert plan.count("+- Exchange") == 1
    assert "hashpartitioning" in plan
    assert "rangepartitioning" not in plan
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_join_delete_probes_with_a_join_not_literals(spark):
    """The large-batch COW delete expresses its key probe as a JOIN
    against the keys DataFrame — no driver-collected literal list in
    the plan."""
    import pyspark.sql.functions as F

    from br_archive_spark.operators import delete_rows, encode_table

    src = spark.range(2000).select(
        F.format_string("doc-%05d", "id").alias("doc_id"),
        F.col("id").alias("v"))
    specs = [("doc_id", "string"), ("v", "int")]
    enc = encode_table(src, specs=specs, mode="range", key="doc_id",
                       num_parts=4, target_values=400)
    kdf = spark.range(50).select(
        F.format_string("doc-%05d", "id").alias("doc_id"))
    plan = _plan(delete_rows(enc, kdf, key="doc_id", specs=specs))
    assert "Join" in plan


def test_asof_attribution_single_exchange_no_join(spark, queries):
    """The as-of driver query is the union+window form: exactly one
    hashpartitioning Exchange (the user_id window), zero join nodes —
    the inequality-join + argmax shape lives only in the oracle."""
    plan = _plan(queries["asof_attribution"](spark, SF_DIR))
    assert plan.count("+- Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_value_band_pairs_no_cartesian(spark, queries):
    """The range pair-join is an equi-join on the eps-bucket id —
    never a CartesianProduct / BroadcastNestedLoopJoin."""
    plan = _plan(queries["value_band_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_repetition_and_pii_are_map_only(spark, queries):
    """Gopher repetition stats (sort_array + aggregate run scan) and
    the PII scrub (regexp_replace) are embarrassingly parallel:
    zero Exchanges in either plan."""
    for name in ("repetition_filter", "pii_scrub"):
        plan = _plan(queries[name](spark, SF_DIR))
        assert "Exchange" not in plan, (name, plan)


def test_lookup_values_bloom_probe_is_pure_catalyst(spark, tmp_path):
    """r5 column-bloom point lookups: the zone-map + bloom prune must
    be a WHERE over the manifest (filter BEFORE the decode
    MapInArrow), built from literal bit tests — no Python node, no
    extra Exchange. Holds for the int lane and the string lane."""
    from pyspark.sql import functions as F

    from br_archive_spark.operators import encode_table, lookup_values

    docs = spark.range(500).select(
        F.col("id").cast("string").alias("doc_id"),
        F.format_string("N#%04d", F.col("id")).alias("name"),
        (F.col("id") * 3).alias("okey"))
    specs = [("doc_id", "string"), ("name", "string"),
             ("okey", "int")]
    encode_table(docs, specs=specs, mode="hash", num_parts=4,
                 target_values=128).write.parquet(str(tmp_path / "m"))
    enc = spark.read.parquet(str(tmp_path / "m"))
    import re

    for col, vals in (("okey", [21, 300]), ("name", ["N#0007"])):
        plan = _plan(lookup_values(enc, col, vals, specs=specs,
                                   with_n_tok=False))
        assert "BatchEvalPython" not in plan, col
        assert "ArrowEvalPython" not in plan, col
        assert "Exchange" not in plan, col           # map-only lookup
        # exactly one Python-boundary node: the decode MapInArrow
        nodes = set(re.findall(r"MapInArrow \((\d+)\)", plan))
        assert len(nodes) == 1, (col, nodes)
        # the prune is a Filter below it, probing the bloom words
        assert "element_at" in plan or "bloom" in plan, col


def test_scan_where_null_band_is_pure_catalyst(spark, tmp_path):
    """r5 null-predicate scans: the null_count prune must stay a plain
    WHERE over the manifest below the decode MapInArrow — an exists()
    over column_stats comparing null_count (to 0, or to the outer
    n_rows column) — with no Python eval node and no Exchange, the
    same shape as every other stats prune."""
    import re

    from pyspark.sql import functions as F

    from br_archive_spark.operators import encode_table, scan_where

    src = spark.range(600).select(
        F.col("id").alias("okey"),
        F.when(F.col("id") >= 300, F.format_string("n%d", F.col("id")))
        .alias("note"))
    specs = [("okey", "int"), ("note", "string")]
    encode_table(src.repartitionByRange(3, "okey"), specs=specs,
                 mode="scan", key="okey",
                 target_values=200).write.parquet(str(tmp_path / "m"))
    enc = spark.read.parquet(str(tmp_path / "m"))
    for kw in ({"null_cols": ["note"]}, {"not_null_cols": ["note"]}):
        plan = _plan(scan_where(enc, [], specs=specs,
                                with_n_tok=False, **kw))
        label = next(iter(kw))
        assert "BatchEvalPython" not in plan, label
        assert "ArrowEvalPython" not in plan, label
        assert "Exchange" not in plan, label        # map-only scan
        nodes = set(re.findall(r"MapInArrow \((\d+)\)", plan))
        assert len(nodes) == 1, (label, nodes)
        assert "null_count" in plan, label          # the stats prune


def test_scan_where_isin_band_is_pure_catalyst(spark, tmp_path):
    """r5 IN-list bands: envelope + membership prune stays a manifest
    WHERE below the decode MapInArrow — literal bloom bit tests per
    probe value, no Python eval node, no Exchange."""
    import re

    from pyspark.sql import functions as F

    from br_archive_spark.operators import encode_table, scan_where

    src = spark.range(600).select(
        F.col("id").alias("okey"),
        F.concat(F.lit("s"), F.col("id") % 7).alias("seg"))
    specs = [("okey", "int"), ("seg", "string")]
    encode_table(src, specs=specs, mode="hash", key="seg",
                 num_parts=4,
                 target_values=200).write.parquet(str(tmp_path / "m"))
    enc = spark.read.parquet(str(tmp_path / "m"))
    plan = _plan(scan_where(enc, [], specs=specs, with_n_tok=False,
                            isin={"seg": ["s1", "s4"],
                                  "okey": [3, 300]}))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan
    nodes = set(re.findall(r"MapInArrow \((\d+)\)", plan))
    assert len(nodes) == 1, nodes
    assert "element_at" in plan          # bloom word bit tests


def test_bulk_paths_schedule_from_a_local_table(spark, tmp_path):
    """The bulk operators' bucket tables are driver-built Arrow
    tables: the JVM reads them as a LocalTableScan. A frame built from
    a Python list would show ``Scan ExistingRDD`` — a Python
    ``parallelize`` + ``map`` stage run by a second pool of Python
    workers, one extra Python task per partition. The codec
    ``MapInArrow`` stays the only Python operator."""
    import re

    from br_archive_spark.datagen import token_table
    from br_archive_spark.operators import (compact_manifest,
                                            decode_files, encode_files)

    src = str(tmp_path / "src")
    token_table(spark, 400).repartition(3).write.parquet(src)
    man = str(tmp_path / "man")
    encode_files(spark, src).write.parquet(man)
    files = spark.read.parquet(src).inputFiles()
    plans = {
        "encode_files": encode_files(spark, src),
        "encode_files distributed enumeration":
            encode_files(spark, src, driver_enum_threshold=0),
        "encode_files empty input":
            encode_files(spark, src, skip_files=set(files)),
        "decode_files": decode_files(spark, man),
        "decode_files output_dir":
            decode_files(spark, man, output_dir=str(tmp_path / "dec")),
        "compact_manifest":
            compact_manifest(spark, man, str(tmp_path / "cman")),
    }
    for label, df in plans.items():
        plan = _plan(df)
        assert "LocalTableScan" in plan, label
        assert "ExistingRDD" not in plan, label
        python_ops = {op for op in re.findall(r"^\(\d+\) (\w+)", plan,
                                              re.M)
                      if re.search(r"Python|Pandas|Arrow", op)}
        want = set() if label.endswith("empty input") else {"MapInArrow"}
        assert python_ops == want, (label, python_ops)


def test_packing_offsets_are_local_tables(spark):
    """``pack_sequences`` and ``sample_by_tokens`` broadcast their
    per-bucket start offsets from driver-built Arrow tables: a
    ``LocalTableScan``, never a Python-list ``Scan ExistingRDD`` (a
    ``parallelize`` + ``map`` stage on a second pool of Python
    workers). Both stay free of Python operators."""
    import re

    from pyspark.sql import functions as F

    from br_archive_spark.functions.packing import (pack_sequences,
                                                    sample_by_tokens)

    docs = spark.range(0, 60, 1, 3).select(
        F.format_string("d%03d", "id").alias("doc_id"),
        F.sequence(F.lit(1), (F.col("id") % 9 + 1).cast("int"))
        .alias("tokens"),
        (F.col("id") % 9 + 1).cast("int").alias("n_tok"),
        F.when(F.col("id") % 2 == 0, "web").otherwise("code")
        .alias("source"))
    plans = {
        "pack_sequences": pack_sequences(docs, 16, num_parts=3),
        "sample_by_tokens": sample_by_tokens(
            docs, {"web": 40, "code": 30}, num_buckets=4),
    }
    for label, df in plans.items():
        plan = _plan(df)
        assert "LocalTableScan" in plan, label
        assert "ExistingRDD" not in plan, label
        assert not re.search(r"Python|Pandas|Arrow", plan), label
