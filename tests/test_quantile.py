"""Manifest-only quantile bounds (r5) — :func:`quantile_encoded`.

CDF-bracket bisection over the hist+qcut lanes: for probe x,
F_max(x) < k proves the k-th smallest is above x and F_min(x) >= k
proves it is at or below x, so a refined grid pins the q-quantile
between two proven points — a rigorous value bracket from metadata,
no sort, no payload byte. Rules under test: the bracket always
contains the exact k-th smallest (ties included), integer gaps close
to exact, extreme-outlier domains converge, constant columns are
exact, payloads are provably unread, and bad inputs refuse."""

import math

import pyspark.sql.functions as F
import pytest

from br_archive_spark.operators import encode_table, quantile_encoded


def _exact_kth(df, col, q, n):
    k = min(n, max(1, int(math.ceil(q * n))))
    return df.select(col).orderBy(col).limit(k).collect()[-1][0]


def test_quantile_bracket_matrix(spark):
    """Several quantiles over int and float lanes, hash and range
    layouts: the bracket always contains the exact k-th smallest."""
    df = spark.range(30000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") * 37 % 10007).alias("v"),
        (F.col("id") / 7.0).alias("f"))
    specs = [("okey", "int"), ("doc_id", "string"),
             ("v", "int"), ("f", "float")]
    for mode in ("hash", "scan"):
        src = df if mode == "hash" else \
            df.repartitionByRange(4, "okey").sortWithinPartitions(
                "okey")
        enc = encode_table(src, specs=specs, mode=mode, num_parts=4,
                           target_values=5000).cache()
        try:
            for col, q in [("v", 0.5), ("v", 0.95), ("okey", 0.25),
                           ("f", 0.5), ("v", 1.0)]:
                vlo, vhi = quantile_encoded(enc, col, q)
                exact = _exact_kth(df, col, q, 30000)
                assert vlo <= exact <= vhi, (mode, col, q, vlo,
                                             exact, vhi)
        finally:
            enc.unpersist()


def test_quantile_converges_under_outliers(spark):
    """A 2^55-wide domain from a handful of outliers: the grid
    refinement must still close onto the bulk median — the bracket
    ends within a few values of the truth, not within 2^40."""
    df = spark.range(30000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") % 4000 == 0, F.lit(1 << 55))
        .otherwise(F.col("id") % 100).alias("skew"))
    specs = [("okey", "int"), ("doc_id", "string"), ("skew", "int")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=4,
                       target_values=5000).cache()
    try:
        vlo, vhi = quantile_encoded(enc, "skew", 0.5)
        exact = _exact_kth(df, "skew", 0.5, 30000)
        assert vlo <= exact <= vhi
        assert vhi - vlo <= 64, (vlo, vhi)
    finally:
        enc.unpersist()


def test_quantile_constant_and_extreme_q(spark):
    """A constant column is exact at every q; q=1.0 brackets the
    max; ties never break the rank bound."""
    df = spark.range(5000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        F.lit(42).alias("c"),
        (F.col("id") % 3).alias("t"))
    specs = [("okey", "int"), ("doc_id", "string"),
             ("c", "int"), ("t", "int")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=2,
                       target_values=1000)
    assert quantile_encoded(enc, "c", 0.5) == (42, 42)
    vlo, vhi = quantile_encoded(enc, "okey", 1.0)
    assert vlo <= 4999 <= vhi
    for q in (0.3, 0.6, 0.99):
        vlo, vhi = quantile_encoded(enc, "t", q)
        exact = _exact_kth(df, "t", q, 5000)
        assert vlo <= exact <= vhi, (q, vlo, exact, vhi)


def test_quantile_never_reads_payload(spark):
    """Zero out every payload byte: identical brackets — the probe
    is manifest-only by proof, not just by construction."""
    df = spark.range(8000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") * 7 % 331).alias("v"))
    specs = [("okey", "int"), ("doc_id", "string"), ("v", "int")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=2,
                       target_values=2000).cache()
    want = quantile_encoded(enc, "v", 0.5)
    gutted = enc.withColumn("columns", F.expr(
        "transform(columns, c -> named_struct("
        "'name', c.name, 'kind', c.kind, 'codec', c.codec,"
        "'params', c.params, 'payload', CAST('' AS BINARY),"
        "'orig_bytes', c.orig_bytes, 'enc_bytes', c.enc_bytes))"))
    assert quantile_encoded(gutted, "v", 0.5) == want
    enc.unpersist()


def test_quantile_refuses_bad_inputs(spark, tmp_path):
    """q outside (0,1], string kinds, unknown columns, all-null
    columns, and bloom=False encodes refuse with nameable errors;
    the happy path round-trips through parquet."""
    df = spark.range(3000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") % 50).alias("v"),
        F.lit(None).cast("long").alias("empty"))
    specs = [("okey", "int"), ("doc_id", "string"),
             ("v", "int"), ("empty", "int")]
    enc = encode_table(df, specs=specs, mode="hash", num_parts=2,
                       target_values=1000)
    with pytest.raises(ValueError, match="not in \\(0, 1\\]"):
        quantile_encoded(enc, "v", 0.0)
    with pytest.raises(ValueError, match="not in \\(0, 1\\]"):
        quantile_encoded(enc, "v", 1.5)
    with pytest.raises(ValueError, match="scalar int-backed"):
        quantile_encoded(enc, "doc_id", 0.5)
    with pytest.raises(ValueError, match="not in the manifest"):
        quantile_encoded(enc, "ghost", 0.5)
    with pytest.raises(ValueError, match="no non-null"):
        quantile_encoded(enc, "empty", 0.5)
    no_bloom = encode_table(df, specs=specs, mode="hash",
                            num_parts=2, target_values=1000,
                            bloom=False)
    with pytest.raises(ValueError, match="without a"):
        quantile_encoded(no_bloom, "v", 0.5)
    enc.write.parquet(str(tmp_path / "m"))
    disk = spark.read.parquet(str(tmp_path / "m"))
    assert quantile_encoded(disk, "v", 0.5) \
        == quantile_encoded(enc, "v", 0.5)


def test_quantile_cli_agg_flag(spark, tmp_path, capsys):
    """`agg --quantile Q` prints the value bracket next to the exact
    lanes."""
    import json
    from argparse import Namespace

    from br_archive_spark.cli import cmd_agg

    df = spark.range(5000).select(
        F.col("id").alias("okey"),
        F.col("id").cast("string").alias("doc_id"))
    man_dir = str(tmp_path / "man")
    encode_table(df, specs=[("okey", "int"), ("doc_id", "string")],
                 mode="hash", num_parts=2,
                 target_values=2000).write.parquet(man_dir)
    args = Namespace(input=man_dir, column="okey", ndv=False, topk=0,
                     count_between=None, quantile=0.5,
                     master="local[2]", shuffle_partitions=4)
    assert cmd_agg(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    qb = out["quantile"]
    assert qb["value_min"] <= 2500 <= qb["value_max"]


def test_quantile_float_full_double_domain(spark):
    """A float column spanning [-DBL_MAX, DBL_MAX]: the full-domain
    width overflows to inf, so the grid is built in half-domain
    arithmetic and every refinement only tightens — the bracket stays
    finite and contains the exact k-th smallest."""
    big = 1.7976931348623157e308
    vals = [-big, -1.0, 0.0, 1.0, 2.0, 3.0, big] * 50
    df = spark.createDataFrame(
        [(str(i), v) for i, v in enumerate(vals)], "doc_id string, x double")
    specs = [("doc_id", "string"), ("x", "float")]
    enc = encode_table(df, specs=specs, mode="scan", num_parts=2,
                       target_values=200).cache()
    try:
        for q in (0.3, 0.5):
            lo, hi = quantile_encoded(enc, "x", q)
            exact = _exact_kth(df, "x", q, len(vals))
            assert math.isfinite(lo) and math.isfinite(hi), (q, lo, hi)
            assert lo <= exact <= hi, (q, lo, exact, hi)
    finally:
        enc.unpersist()
