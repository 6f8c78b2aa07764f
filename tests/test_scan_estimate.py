"""Planner probe (r5) — :func:`scan_estimate`.

Manifest-only answer to "what would this scan_where cost, and how
many rows can it return": chunk keep-counts from the shared
`_scan_drop` proof engine, row ceilings from ``n_rows``, and a
rigorous bracket on the true result count combining per-column
histogram bounds with the Fréchet conjunction inequalities (upper:
min over columns; lower: sum minus (k-1)·n per chunk) — pruned
chunks contribute (0, 0), so bloom/zone proofs tighten the bracket
beyond what histograms alone give. Rules under test: the bracket
always contains the exact count, pruning bites on clustered
layouts, non-histogram predicates invalidate only the lower bound,
pre-r5 manifests degrade wide-but-correct, and bad inputs refuse."""

import pyspark.sql.functions as F
import pytest

from br_archive_spark.operators import (encode_table, scan_estimate,
                                        scan_where)


def _enc_clustered(spark, n=24000):
    df = spark.range(n).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") % 977).alias("v"),
        (F.col("id") / 3.0).alias("score"))
    specs = [("okey", "int"), ("doc_id", "string"),
             ("v", "int"), ("score", "float")]
    enc = encode_table(df.repartitionByRange(8, "okey")
                       .sortWithinPartitions("okey"),
                       specs=specs, mode="scan",
                       target_values=3000)
    return df, specs, enc


def test_scan_estimate_single_band(spark):
    """Range-clustered on okey: a narrow okey band prunes most
    chunks, the bracket contains the exact count, and every quantity
    nests: bracket_lo <= exact <= bracket_hi <= rows_kept_max."""
    df, specs, enc = _enc_clustered(spark)
    enc = enc.cache()
    est = scan_estimate(enc, [("okey", 3000, 5000)], specs=specs)
    exact = df.where(F.col("okey").between(3000, 5000)).count()
    lo, hi = est["rows_bracket"]
    assert est["chunks_kept"] < est["chunks_total"]
    assert lo <= exact <= hi <= est["rows_kept_max"]
    assert est["bracket_lower_valid"]
    assert est["rows_total"] == 24000
    # clustered layout: zone maps make the okey band bucket-aligned,
    # so the bracket should be meaningfully tighter than the ceiling
    assert hi < est["rows_total"]
    # the estimate's kept count is an upper bound on scan_where's
    # actual decode set (here: equal, both use _scan_drop)
    got = scan_where(enc, [("okey", 3000, 5000)], specs=specs,
                     with_n_tok=False)
    assert got.count() == exact
    enc.unpersist()


def test_scan_estimate_frechet_conjunction(spark):
    """Two bands (int + float): the Fréchet-combined bracket must
    contain the exact conjunctive count with a valid lower bound."""
    df, specs, enc = _enc_clustered(spark)
    bands = [("okey", 2000, 14000), ("score", 1000.0, 3000.5)]
    est = scan_estimate(enc, bands, specs=specs)
    exact = df.where(F.col("okey").between(2000, 14000)
                     & F.col("score").between(1000.0, 3000.5)).count()
    lo, hi = est["rows_bracket"]
    assert est["bracket_lower_valid"]
    assert lo <= exact <= hi, (lo, exact, hi)
    assert est["chunks_missing_hist"] == 0


def test_scan_estimate_non_hist_predicates_keep_upper(spark):
    """An IN-list (or string band / null term) conjunct only shrinks
    the true count: the lower bound is reported 0 (invalid), the
    upper bound stays rigorous."""
    df, specs, enc = _enc_clustered(spark)
    est = scan_estimate(enc, [("v", 100, 300)], specs=specs,
                        isin={"okey": [3, 4, 5, 6000]})
    exact = df.where(F.col("v").between(100, 300)
                     & F.col("okey").isin([3, 4, 5, 6000])).count()
    assert not est["bracket_lower_valid"]
    lo, hi = est["rows_bracket"]
    assert lo == 0 and exact <= hi
    # null-term variant
    est2 = scan_estimate(enc, [("v", 100, 300)], specs=specs,
                         not_null_cols=["doc_id"])
    assert not est2["bracket_lower_valid"]
    assert est2["rows_bracket"][1] >= df.where(
        F.col("v").between(100, 300)
        & F.col("doc_id").isNotNull()).count()


def test_scan_estimate_pre_r5_degrades_wide_not_wrong(spark):
    """A manifest stripped of every r5 lane still answers: the
    bracket degrades to (0, kept-row ceiling) — wider, never
    wrong."""
    df, specs, enc = _enc_clustered(spark)
    old = enc.withColumn("column_stats", F.expr(
        "transform(column_stats, s -> named_struct("
        "'name', s.name, 'kind', s.kind, 'codec', s.codec,"
        "'orig_bytes', s.orig_bytes, 'enc_bytes', s.enc_bytes,"
        "'vmin', s.vmin, 'vmax', s.vmax, 'vsum', s.vsum,"
        "'n_vals', s.n_vals, 'null_count', s.null_count,"
        "'fmin', s.fmin, 'fmax', s.fmax))"))
    est = scan_estimate(old, [("okey", 3000, 5000)], specs=specs)
    exact = df.where(F.col("okey").between(3000, 5000)).count()
    lo, hi = est["rows_bracket"]
    assert lo <= exact <= hi
    assert hi == est["rows_kept_max"]   # no histograms: ceiling
    assert est["chunks_kept"] < est["chunks_total"]  # zone maps live


def test_scan_estimate_refuses_bad_inputs(spark):
    """No predicate, unknown columns, and NaN float bounds refuse
    with nameable errors."""
    _df, specs, enc = _enc_clustered(spark, n=2000)
    with pytest.raises(ValueError, match="at least one predicate"):
        scan_estimate(enc, [], specs=specs)
    with pytest.raises(ValueError, match="not in encode specs"):
        scan_estimate(enc, [("ghost", 0, 1)], specs=specs)
    with pytest.raises(ValueError, match="NaN bound"):
        scan_estimate(enc, [("score", float("nan"), 1.0)],
                      specs=specs)


def test_scan_estimate_cli(spark, tmp_path, capsys):
    """`scan --estimate` prints the probe JSON without decoding a
    chunk; bracket and keep-counts match the library call."""
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_scan

    _df, specs, enc = _enc_clustered(spark, n=8000)
    man_dir = str(tmp_path / "man")
    enc.write.parquet(man_dir)
    args = Namespace(input=man_dir, column="okey", lo="1000",
                     hi="3000", null=False, not_null=False,
                     show=0, estimate=True, global_dict=None,
                     master="local[2]", shuffle_partitions=4)
    assert cmd_scan(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["column"] == "okey"
    assert out["chunks_kept"] <= out["chunks_total"]
    lo, hi = out["rows_bracket"]
    assert lo <= 2001 <= hi
    assert out["bracket_lower_valid"]


def test_scan_estimate_kept_equals_decoded_chunks(spark, tmp_path,
                                                  capsys):
    """The key zone map and the key bloom are proofs of the one prune
    engine, so on a hash layout the estimate's kept chunks are exactly
    the chunks scan_where decodes — for a key IN-list, a key point
    band, a key range and an int band — and CLI ``scan`` reports the
    same count as ``chunks_decoded``."""
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_scan
    from br_archive_spark.operators.decode import (_normalize_isin,
                                                   _scan_prune)

    docs = spark.range(5000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("text-"), "id").alias("text"),
        (F.col("id") * 7 % 1000).alias("v"))
    specs = [("doc_id", "string"), ("text", "string"), ("v", "int")]
    man_dir = str(tmp_path / "man")
    encode_table(docs, specs=specs, mode="hash", num_parts=8,
                 target_values=256).write.parquet(man_dir)
    enc = spark.read.parquet(man_dir)
    kinds = dict(specs)
    probes = {
        "key_isin": ([], {"doc_id": ["17", "4321"]}),
        "key_point": ([("doc_id", "17", "17")], {}),
        "key_range": ([("doc_id", "40", "41")], {}),
        "int_band": ([("v", 10, 20)], {}),
    }
    for label, (bands, isin) in probes.items():
        est = scan_estimate(enc, bands, specs=specs, isin=isin)
        kept = _scan_prune(enc, kinds, bands, [], [],
                           _normalize_isin(kinds, isin)).count()
        assert est["chunks_kept"] == kept, (label, est, kept)
        if not bands:
            continue
        (column, lo, hi), = bands
        args = Namespace(input=man_dir, column=column, lo=str(lo),
                         hi=str(hi), null=False, not_null=False,
                         show=0, estimate=False, global_dict=None,
                         master="local[2]", shuffle_partitions=4)
        assert cmd_scan(args) == 0
        out = json.loads(capsys.readouterr().out.strip()
                         .splitlines()[-1])
        assert out["chunks_decoded"] == kept, label
        assert out["chunks_total"] == est["chunks_total"], label
    # the key bloom prunes the hash layout to the chunks holding keys
    est = scan_estimate(enc, [], specs=specs,
                        isin={"doc_id": ["17", "4321"]})
    assert est["chunks_kept"] <= 3 < est["chunks_total"]
