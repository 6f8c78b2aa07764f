#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, over several seeds.

    python3 perfbench/spread.py --workload lineitem_mixed --seeds 1-10

Runs ``run.py`` once per seed, one run at a time, with the
``run_seconds`` of ``BENCHMARK.json``, prints each run's wall seconds,
and prints for each metric its
median and the distance between its first and third quartile as a share
of the median (``statistics.quantiles(values, n=4)``), next to the
metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds_of(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload,
                                "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True)
        wall = time.perf_counter() - t0
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        print("\n".join(ln for ln in lines
                        if ln.startswith(("host", "op seconds", "op cpu",
                                          "setup_s"))))
        print(f"seed {seed}: wall={wall:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.6g}"
                         for k, v in res["metrics"].items()
                         if k in bounds), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vals in values.items():
        if k not in bounds or len(vals) < 2:
            continue
        print(f"{k:24s} median={statistics.median(vals):.6g} "
              f"spread={tracing.quartile_spread(vals):.4f} "
              f"bound={bounds[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
