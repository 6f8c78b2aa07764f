"""Seeded lineitem-shaped table and the probe plan run against it.

The table has the 11 columns of TPC-H ``lineitem`` (int keys, float
money/ratios, two flag strings, a timestamp ship date), the part and
supplier key domains of scale 0.1 and four lines per order on average,
except that ``l_discount`` is null in 0.5% of rows so that IS NULL
probes have rows to find. It is generated in the
benchmark, from the seed, so a run reads nothing outside its checkout.

Every probe's expected answer is computed here with NumPy over the same
arrays, once, at set-up.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

ROWS = 100_000
PARTS = 8            # range partitions, so chunks, of the encoded table
INT_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
DAY_US = 86_400 * 1_000_000
SHIP0_US = int(np.datetime64("1995-01-02", "us").astype(np.int64))

# one rotation of probe kinds; every run starts at the first
KINDS = ["range", "eq", "in", "null", "lookup", "ndv", "quantile", "agg"]
# kinds that return rows (answered by decoding surviving chunks); the
# rest are answered from the manifest alone
ROWS_OUT = KINDS[:5]


def generate(seed: int, rows: int = ROWS) -> dict[str, np.ndarray]:
    rng = np.random.default_rng((seed, 0x11E))
    n = rows
    return {
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_discount_null": rng.random(n) < 0.005,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": SHIP0_US + rng.integers(0, 2_499, n) * DAY_US,
    }


def to_arrow(cols: dict[str, np.ndarray]) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(cols["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(cols["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(cols["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(cols["l_linenumber"], pa.int32()),
        "l_quantity": pa.array(cols["l_quantity"]),
        "l_extendedprice": pa.array(cols["l_extendedprice"]),
        "l_discount": pa.array(cols["l_discount"],
                               mask=cols["l_discount_null"]),
        "l_tax": pa.array(cols["l_tax"]),
        "l_returnflag": pa.array(cols["l_returnflag"], pa.string()),
        "l_linestatus": pa.array(cols["l_linestatus"], pa.string()),
        "l_shipdate": pa.array(cols["l_shipdate"], pa.timestamp("us")),
    })


def _answer(cols, mask) -> tuple[int, int, int]:
    """What a row-returning probe is checked by: matched rows and the
    sums of two key columns over them."""
    return (int(mask.sum()), int(cols["l_orderkey"][mask].sum()),
            int(cols["l_partkey"][mask].sum()))


def plan(cols: dict[str, np.ndarray], seed: int, count: int) -> list[dict]:
    """``count`` probes cycling through :data:`KINDS`, parameters drawn
    from the seed, each with its expected answer.

    Every key band is a fixed share of the key domain, centred on the
    middle of a seeded one of the :data:`PARTS` range partitions and
    narrower than a partition, so each row-returning probe keeps one
    chunk on every seed and every run does the same work."""
    rng = np.random.default_rng((seed, 0x9B0BE))
    ok = cols["l_orderkey"]
    s = np.sort(ok)
    dom = int(ok.max()) + 1
    probes = []
    for i in range(count):
        kind = KINDS[i % len(KINDS)]
        width = dom // 100 if kind == "range" else dom // 20
        j = int(rng.integers(0, PARTS))
        lo = int(s[(2 * j + 1) * len(s) // (2 * PARTS)]) - width // 2
        hi = lo + width
        band = (ok >= lo) & (ok <= hi)
        p: dict = {"kind": kind, "bands": [("l_orderkey", lo, hi)]}
        if kind == "range":
            p["expect"] = _answer(cols, band)
        elif kind == "eq":
            v = int(rng.integers(0, 1_000))
            p["bands"].append(("l_suppkey", v, v))
            p["expect"] = _answer(cols, band & (cols["l_suppkey"] == v))
        elif kind == "in":
            # values drawn from rows inside the band, so some match
            vals = sorted({int(x) for x in rng.choice(
                cols["l_partkey"][band], 5)})
            p["isin"] = {"l_partkey": vals}
            p["expect"] = _answer(
                cols, band & np.isin(cols["l_partkey"], vals))
        elif kind == "null":
            p["null_cols"] = ["l_discount"]
            p["expect"] = _answer(cols, band & cols["l_discount_null"])
        elif kind == "lookup":
            vals = sorted({int(x) for x in rng.choice(ok[band], 3)})
            p = {"kind": kind, "column": "l_orderkey", "values": vals,
                 "expect": _answer(cols, np.isin(ok, vals))}
        elif kind == "ndv":
            col = ["l_suppkey", "l_partkey"][i // len(KINDS) % 2]
            p = {"kind": kind, "column": col,
                 "expect": len(np.unique(cols[col]))}
        elif kind == "quantile":
            q = float(rng.uniform(0.1, 0.9))
            p = {"kind": kind, "column": "l_orderkey", "q": q,
                 "expect": int(s[math.ceil(q * len(s)) - 1])}
        else:
            col = INT_COLS[int(rng.integers(0, len(INT_COLS)))]
            v = cols[col].astype(np.int64)
            p = {"kind": kind, "column": col,
                 "expect": (len(v), 0, int(v.min()), int(v.max()),
                            int(v.sum()))}
        probes.append(p)
    return probes


def check(p: dict, got) -> bool:
    """Whether a probe's answer is right: exact, except the HyperLogLog
    distinct count (within 5% of exact, the engine's stated contract)
    and the quantile (a bracket that must contain the exact value)."""
    want = p["expect"]
    if p["kind"] == "ndv":
        return abs(got - want) <= 0.05 * want
    if p["kind"] == "quantile":
        return got[0] <= want <= got[1]
    return tuple(got) == tuple(want)
