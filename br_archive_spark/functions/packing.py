"""Sequence packing + dataset splitting + token statistics — the ops
between "deduped token table" and "training dataloader".

All three are pure DataFrame programs (JVM-side codegen; zero Python
UDFs) with engine-portable semantics, so each ships with an exact
DuckDB oracle in ``__spark_entry__.py``.

The reference has no analog (it archives files); these close the gap
between its data model and what a 10^12-sequence training pipeline
actually consumes.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["pack_sequences", "train_val_split", "token_histogram",
           "stratified_sample", "sample_by_tokens"]


def pack_sequences(df: DataFrame, max_len: int,
                   id_col: str = "doc_id",
                   tokens_col: str = "tokens",
                   num_parts: int | None = None) -> DataFrame:
    """Pack the token stream into fixed-length training sequences.

    Semantics (deterministic, engine-portable): concatenate all
    documents' tokens in ``id_col`` order into one global stream and
    cut it every ``max_len`` tokens — the standard "pack with document
    splitting" rule (no padding waste; a document may straddle packs).
    Returns ``(pack_id, tokens, n_tok)`` where every pack is exactly
    ``max_len`` tokens except the last.

    Scale design — the naive formulation is a GLOBAL ordered running
    sum, i.e. a one-reducer window; instead:

    1. id-range BUCKETS from a one-time driver-side sample make the
       bucket id a PURE FUNCTION of the document id (Spark's own
       ``repartitionByRange`` would re-sample bounds per job — the
       offsets job and the assembly job could then disagree on who
       owns a row, silently corrupting global positions; caught by
       the DuckDB oracle);
    2. a per-bucket window gives each row its LOCAL running sum
       (bucket-parallel);
    3. per-bucket totals (one tiny row each) aggregate on the driver
       into bucket START OFFSETS, broadcast back;
    4. each doc then knows its global offset, emits one row per pack
       it overlaps (``sequence``/``slice`` — codegen, no UDF), and one
       shuffle on ``pack_id`` assembles the packs.

    Cost: one sample collect + two shuffles of the token payload
    (bucket window, pack assembly) + one metadata-sized collect. No
    single-reducer stage; bucket skew is bounded by sample quality
    and correctness never depends on it.
    """
    spark = df.sparkSession
    from pyspark.sql import Window

    n = num_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = (df.select(F.col(id_col).alias("_id"),
                      F.col(tokens_col).alias("_toks"))
            .withColumn("_n", F.size("_toks"))
            .where(F.col("_n") > 0))
    # id-range buckets from a one-time uniform sample (~200 ids per
    # bucket): the cut points are collected ONCE and embedded as
    # literals, so every later job agrees on bucket ownership even
    # though the sample itself is a sample. One extra narrow-column
    # pass for the count; skew is bounded by sample quality,
    # correctness doesn't depend on it.
    n_docs = base.count()
    frac = min(1.0, (n * 200) / max(n_docs, 1))
    sample = sorted(r["_id"] for r in
                    base.select("_id")
                    .sample(False, frac, seed=42).collect())
    cuts = sorted({sample[len(sample) * i // n]
                   for i in range(1, n)}) if len(sample) > n else []
    if cuts:
        carr = F.array(*[F.lit(c) for c in cuts])
        pid = F.aggregate(
            carr, F.lit(0),
            lambda acc, c: acc + F.when(F.col("_id") >= c, 1)
            .otherwise(0))
    else:
        pid = F.lit(0)
    base = base.withColumn("_pid", pid)
    w = Window.partitionBy("_pid").orderBy("_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    local = base.withColumn("_cum", F.sum("_n").over(w))

    # partition totals -> global start offsets (metadata-sized)
    totals = {r["_pid"]: r["t"] for r in
              local.groupBy("_pid").agg(F.max("_cum").alias("t"))
              .collect()}
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    # Arrow-built: a LocalTableScan, not a Python-list ExistingRDD
    off_df = spark.createDataFrame(pa.table({
        "_pid": pa.array(list(offsets), pa.int32()),
        "_off": pa.array(list(offsets.values()), pa.int64())}))

    g = (local.join(F.broadcast(off_df), "_pid")
         .withColumn("_before", F.col("_off") + F.col("_cum")
                     - F.col("_n")))
    # one output row per (doc, pack) overlap; slice bounds in tokens
    L = F.lit(max_len).cast("long")
    first_pack = F.floor(F.col("_before") / L)
    last_pack = F.floor((F.col("_before") + F.col("_n") - 1) / L)
    pieces = (g.select(
        "_before", "_toks", "_n",
        F.explode(F.sequence(first_pack, last_pack)).alias("pack_id"))
        .withColumn("_lo", F.greatest(F.col("pack_id") * L,
                                      F.col("_before")))
        .withColumn("_hi", F.least((F.col("pack_id") + 1) * L,
                                   F.col("_before") + F.col("_n")))
        .select(
            "pack_id", "_lo",
            F.slice("_toks",
                    (F.col("_lo") - F.col("_before") + 1).cast("int"),
                    (F.col("_hi") - F.col("_lo")).cast("int"))
            .alias("_piece")))
    return (pieces
            .groupBy("pack_id")
            .agg(F.array_sort(F.collect_list(
                F.struct(F.col("_lo").alias("o"),
                         F.col("_piece").alias("p")))).alias("s"))
            .select(
                "pack_id",
                F.flatten(F.transform("s", lambda x: x["p"]))
                .alias("tokens"))
            .withColumn("n_tok", F.size("tokens")))


def train_val_split(df: DataFrame, id_col: str = "doc_id",
                    val_cutoff: str = "1a") -> Column:
    """Deterministic, engine-portable train/val assignment.

    A document is ``val`` iff ``md5(id)`` (lowercase hex) is
    lexicographically below ``val_cutoff`` — a pure function of the id,
    stable across engines, runs, and cluster sizes (no RNG, no
    shuffle). A 2-hex-char cutoff ``"1a"`` keeps ~26/256 ≈ 10.2%;
    derive cutoffs as ``hex(round(256 * fraction))``. Returns a column
    (compose with ``withColumn``) so the split costs nothing extra on
    any plan that already scans the table.
    """
    c = F.md5(F.col(id_col).cast("string"))
    return F.when(c < F.lit(val_cutoff), F.lit("val")) \
        .otherwise(F.lit("train"))


def token_histogram(df: DataFrame, tokens_col: str = "tokens",
                    top_k: int | None = None) -> DataFrame:
    """Token frequency histogram over an ``array<int>`` column.

    ``explode`` + hash aggregate: Catalyst's partial aggregation
    combines counts map-side, so the shuffle carries one row per
    DISTINCT token per partition (vocab-bounded), not one per token
    occurrence — the declarative form of a per-partition bincount.
    """
    hist = (df.select(F.explode(tokens_col).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("freq")))
    if top_k:
        return hist.orderBy(F.col("freq").desc(), "token").limit(top_k)
    return hist


def sample_by_tokens(df: DataFrame, budgets: dict[str, int],
                     strata_col: str = "source",
                     id_col: str = "doc_id",
                     weight_col: str = "n_tok",
                     num_buckets: int | None = None) -> DataFrame:
    """Exact-to-budget per-stratum selection: keep, per stratum, the
    md5-ordered prefix of documents whose cumulative ``weight_col``
    (token count) stays within the stratum's budget.

    :func:`stratified_sample` hits a target RATIO; training mixtures
    are specified in TOKENS ("50 B tokens of web, 5 B of code"), and a
    ratio over skewed doc lengths misses a token target by the skew.
    The selection rule here is deterministic and engine-portable: a
    doc survives iff its running total in ``md5(id)`` order (id as
    tiebreak) is ``<= budgets[stratum]``; strata absent from
    ``budgets`` are dropped. The md5 order is a stable uniform shuffle
    — a pure function of the id, so the same docs survive on any
    engine, any run, any cluster size.

    Scale design — the naive form is a per-stratum ordered running
    sum: ONE reducer per stratum, and a training mixture has ~10
    strata, so ~10 reducers would own 100 TB. Instead the
    :func:`pack_sequences` bucket-offset trick, with one improvement:
    the bucket key is a PREFIX RANGE OF THE md5 HASH ITSELF
    (``floor(int(hex[:4]) * n / 65536)``) — order-preserving in the
    sort key and uniform by construction, so no driver-side sampling
    pass is needed at all. Per-(stratum, bucket) windows run in
    parallel; per-bucket totals (metadata-sized) prefix-sum on the
    driver into start offsets; a broadcast join hands every row its
    global running total. Cost: one narrow aggregate + one window
    shuffle + one broadcast — no single-reducer stage, no RNG.

    Reference analog: the cost-bounded "take while it fits" rule of
    stored-vs-compressed (``src/io/lib_bra_io_file_chunks.c:268-297``)
    lifted from bytes-per-entry to tokens-per-stratum.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n = num_buckets or int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    strata = sorted(s for s, b in budgets.items() if b > 0)
    if not strata:
        return df.where(F.lit(False))
    base = (df.where(F.col(strata_col).isin(strata))
            .withColumn("_h", F.md5(F.col(id_col).cast("string")))
            .withColumn("_b", F.floor(
                F.conv(F.substring("_h", 1, 4), 16, 10).cast("long")
                * n / 65536).cast("int")))
    w = (Window.partitionBy(strata_col, "_b")
         .orderBy("_h", id_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    local = base.withColumn(
        "_cum", F.sum(F.col(weight_col).cast("long")).over(w))

    # per-(stratum, bucket) totals -> global start offsets: one tiny
    # row per bucket; the hex-prefix bucket id is monotone in _h, so
    # bucket-order prefix sums ARE the global md5-order offsets
    totals = (local.groupBy(strata_col, "_b")
              .agg(F.max("_cum").alias("_t")).collect())
    by_stratum: dict[str, list] = {}
    for r in totals:
        by_stratum.setdefault(r[strata_col], []).append(
            (r["_b"], r["_t"]))
    rows = []
    for s, bs in by_stratum.items():
        acc = 0
        for b, t in sorted(bs):
            rows.append((s, b, acc))
            acc += t
    off_df = spark.createDataFrame(pa.table({
        strata_col: pa.array([r[0] for r in rows], pa.string()),
        "_b": pa.array([r[1] for r in rows], pa.int32()),
        "_off": pa.array([r[2] for r in rows], pa.int64())}))

    pairs = []
    for s in strata:
        pairs += [F.lit(s), F.lit(int(budgets[s]))]
    budget = F.create_map(*pairs)[F.col(strata_col)]
    return (local.join(F.broadcast(off_df), [strata_col, "_b"])
            .where(F.col("_off") + F.col("_cum") <= budget)
            .drop("_h", "_b", "_cum", "_off"))


def stratified_sample(df: DataFrame, fractions: dict[str, float],
                      strata_col: str = "source",
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-stratum sampling — the domain-mixing step of
    a training pipeline (keep fraction f_s of each source s to hit a
    target mixture).

    A row survives iff ``md5(id)`` is lexicographically below its
    stratum's hex cutoff ``hex(round(65536 * f_s))`` (4 hex chars →
    1/65536 granularity; ``f >= 1`` → the sentinel ``"g"``, above
    every hex digest). Like :func:`train_val_split`, a pure function
    of the id: no RNG, no shuffle, no state — identical output on any
    engine, any run, any cluster size, and a pushdown-friendly filter
    (Catalyst folds the map lookup + comparison into the scan).
    Strata absent from ``fractions`` are dropped (fraction 0).
    """
    def cutoff(f: float) -> str:
        v = int(round(f * 65536))
        if v >= 65536:
            # includes f just below 1.0 whose rounding hits 65536 —
            # a 5-hex-char cutoff would compare lexicographically
            # BELOW most digests and silently keep ~6%
            return "g"
        return format(max(v, 0), "04x")

    pairs = []
    for s, f in sorted(fractions.items()):
        pairs += [F.lit(s), F.lit(cutoff(f))]
    cut = F.coalesce(
        F.create_map(*pairs)[F.col(strata_col)], F.lit(""))
    return df.where(F.md5(F.col(id_col).cast("string")) < cut)
