#!/usr/bin/env python3
"""How well the generated lineitem table stands in for a real one.

    python3 perfbench/fit_lineitem.py PATH/TO/lineitem.parquet

Cuts the given table to the rows with ``l_orderkey`` below the
generator's key domain (``ROWS // 4``), so both sides have about
:data:`lineitem.ROWS` rows and the same lines per key, and compares it
with the generated table of seed 42, with and without its nulls in
``l_discount``. For each table it prints the column profile, a traced
replay of the typed encode (``replay.encode_partitions``) and of the
checksum-verified decode of what that wrote (``replay.decode_shards``),
median of three, and the mean matched rows of each row-returning probe
kind of the seed's probe plan.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 42
REPEATS = 3
LAYERS = ["stored_bytes_per_row", "chunks", "operators.encode.stats_s",
          "operators.bloom.build_s", "codecs.cost.ns_per_value",
          "codecs.encode.ns_per_value", "codecs.encode.trial_fraction",
          "codecs.decode.ns_per_value", "integrity.crc.share",
          "replay.wall_s"]


def cols_of(table: pa.Table) -> dict[str, np.ndarray]:
    """The arrays :func:`lineitem.generate` returns, from a table."""
    cols = {}
    for name in table.column_names:
        a = table.column(name)
        if pa.types.is_timestamp(a.type):
            a = a.cast(pa.timestamp("us")).cast(pa.int64())
        cols[name] = a.fill_null(0).to_numpy() \
            if not pa.types.is_string(a.type) \
            else np.array(a.to_pylist())
    cols["l_discount_null"] = table.column("l_discount").is_null() \
        .to_numpy(zero_copy_only=False)
    return cols


def specs_of(table: pa.Table) -> list[tuple[str, str]]:
    """What ``infer_specs`` gives for the Spark types of these columns."""
    def kind(t):
        if pa.types.is_integer(t):
            return "int"
        if pa.types.is_floating(t):
            return "float"
        if pa.types.is_timestamp(t):
            return "timestamp"
        return "string"
    return [(f.name, kind(f.type)) for f in table.schema]


def profile(cols: dict[str, np.ndarray]) -> dict[str, str]:
    out = {}
    for name, a in cols.items():
        if name == "l_discount_null":
            continue
        u = np.unique(a)
        out[name] = (f"{u[0]}..{u[-1]} distinct={len(u)}"
                     + (f" nulls={int(cols['l_discount_null'].sum())}"
                        if name == "l_discount" else ""))
    sd = cols["l_shipdate"].astype(np.float64)
    out["corr(shipdate, returnflag=R)"] = \
        f"{np.corrcoef(sd, cols['l_returnflag'] == 'R')[0, 1]:.4f}"
    out["corr(shipdate, linestatus=F)"] = \
        f"{np.corrcoef(sd, cols['l_linestatus'] == 'F')[0, 1]:.4f}"
    out["corr(partkey, suppkey)"] = \
        f"{np.corrcoef(cols['l_partkey'], cols['l_suppkey'])[0, 1]:.4f}"
    out["corr(quantity, extendedprice)"] = \
        f"{np.corrcoef(cols['l_quantity'], cols['l_extendedprice'])[0, 1]:.4f}"
    return out


def layers(table: pa.Table, work: str) -> dict[str, float]:
    import lineitem
    import replay

    specs = specs_of(table)
    runs: dict[str, list[float]] = {}
    for _ in range(REPEATS):
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        totals = {}

        def work_fn(tracer):
            totals.update(replay.encode_partitions(
                tracer, table, specs, "l_orderkey", lineitem.PARTS, work))
            replay.decode_shards(tracer, work, specs, with_n_tok=False)

        tracer, wall = replay.run(work_fn, traced=True)
        row = replay.layer_table(tracer.spans, wall)
        row["stored_bytes_per_row"] = totals["enc_bytes"] / table.num_rows
        row["chunks"] = totals["chunks"]
        for k, v in row.items():
            runs.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in runs.items()}


def matched_rows(cols: dict[str, np.ndarray]) -> dict[str, float]:
    import lineitem

    by_kind: dict[str, list[int]] = {}
    for p in lineitem.plan(cols, SEED, 64):
        if p["kind"] in lineitem.ROWS_OUT:
            by_kind.setdefault(p["kind"], []).append(p["expect"][0])
    return {k: statistics.mean(v) for k, v in by_kind.items()}


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import lineitem

    real = pq.read_table(sys.argv[1])
    real = real.filter(pc.less(real.column("l_orderkey"),
                               lineitem.ROWS // 4))
    gen = lineitem.generate(SEED)
    no_nulls = dict(gen, l_discount_null=np.zeros(len(gen["l_discount"]),
                                                  dtype=bool))
    sides = {"real cut": cols_of(real), "generated": gen,
             "generated, no nulls": no_nulls}
    work = tempfile.mkdtemp(prefix="fit-")
    try:
        rows = {}
        for side, cols in sides.items():
            table = lineitem.to_arrow(cols)
            rows[side] = {"rows": table.num_rows, **profile(cols),
                          **{k: v for k, v in layers(table, work).items()
                             if k in LAYERS or (k.startswith("codecs.choice.")
                                                and v)},
                          **{f"matched rows, {k}": v
                             for k, v in matched_rows(cols).items()}}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    keys = list(dict.fromkeys(k for r in rows.values() for k in r))
    print("| | " + " | ".join(rows) + " |")
    print("|---|" + "---:|" * len(rows))
    for k in keys:
        cells = []
        for r in rows.values():
            v = r.get(k, 0)
            cells.append(f"{v:.4g}" if isinstance(v, float) else str(v))
        print(f"| {k} | " + " | ".join(cells) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
