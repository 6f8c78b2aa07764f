#!/usr/bin/env python3
"""Benchmark of the encode, decode and probe paths on ``local[4]``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tokens_encode --seed 42 \\
        --seconds 10 --trace 0

Workloads: ``tokens_encode``, ``tokens_decode``, ``lineitem_mixed``
(see ``perfbench/README.md``). ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is a separate run on the same seed that reports
the per-layer metrics (driver-side spans with Spark job counts, and a
single-process replay of the kernels with their layer functions
wrapped). Human-readable lines go first; the last line of standard
output is one JSON object ``{correct, attempted, failed, metrics}``.

All inputs, manifests, Spark scratch files and traces live under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# what each workload's operations process, for the human-readable names
LABELS = {
    "tokens_encode": ("encode_tok_per_s", "tok/s", "bytes_per_token",
                      "B/token"),
    "tokens_decode": ("decode_tok_per_s", "tok/s", "bytes_per_token",
                      "B/token"),
    "lineitem_mixed": ("typed_encode_rows_per_s", "rows/s",
                       "typed_bytes_per_row", "B/row"),
}


def host_facts() -> dict:
    model = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_model": model,
            "loadavg": os.getloadavg(), "ref_loop_ms": ref_loop_ms()}


def ref_loop_ms() -> float:
    """Median milliseconds of a fixed single-threaded Python loop: the
    speed the host gives one core at the start of the run, printed so
    that runs on a host whose speed drifts can be told apart."""
    import statistics
    import time

    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def _peak_rss_bytes(pid: int) -> int:
    """The kernel's record of a process's peak resident set (VmHWM),
    or 0 when the process is not a Python one or has gone."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if not f.read().startswith("python"):
                return 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of the Python processes among ``root`` and
    its descendants (the driver, the Python daemon and its workers,
    where the package's code runs; the JVM between them is walked
    through but not counted), read from outside the engine every
    0.25 s. Each sample sums the live processes' own peaks, which the
    kernel keeps, so no process's peak falls between two samples;
    :attr:`peak` is the largest sum."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root = root
        self.peak = 0
        self.processes = 0
        self._done = threading.Event()

    def sample(self) -> None:
        import workloads

        children = workloads.child_pids()
        todo, peaks = [self.root], []
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            peaks.append(_peak_rss_bytes(pid))
        if sum(peaks) > self.peak:
            self.peak = sum(peaks)
            self.processes = sum(p > 0 for p in peaks)

    def run(self):
        while True:
            self.sample()
            if self._done.wait(0.25):
                return

    def stop(self):
        self._done.set()
        self.join()


def loop_wall(run, result, ops) -> dict:
    """Wall-clock figures of the loop: main operations per second and
    the geometric mean and tail of every operation's seconds."""
    import tracing

    main = result["main"]
    main_s = [o["s"] for o in ops if o["kind"] == main and o["ok"]] \
        or [o["s"] for o in ops if o["kind"] == main]
    lat = [o["s"] for o in ops if o["ok"]] or [o["s"] for o in ops]
    tail_p, tail_v, n, beyond = tracing.tail(lat)
    rate, rate_u, _, _ = LABELS[run.workload]
    print(f"{rate} {result['items_total'] / tracing.median(main_s):.6g} "
          f"{rate_u} wall (median of {len(main_s)} {main} operations)")
    print("op seconds: " + " ".join(
        f"{o['kind']}={o['s']:.3f}{'' if o['ok'] else '(failed)'}"
        for o in ops))
    print(f"op_geomean_s {tracing.geomean(lat):.6g} s (n={len(lat)}; "
          f"p50 {tracing.median(lat):.6g} s)")
    print(f"op_tail_s {tail_v:.6g} s (p{tail_p:.1f} of n={n}, "
          f"{beyond} samples beyond)")
    return {"loop.items_per_s": result["items_total"]
            / tracing.median(main_s),
            "loop.op_geomean_s": tracing.geomean(lat),
            "loop.op_tail_s": tail_v}


def end_to_end(run, result, peak_rss: int) -> dict:
    """The end-to-end metrics. Work is counted in CPU seconds, which a
    host that lends its cores to other guests stretches far less than
    wall time: the main operation's throughput per CPU second of the
    Python processes, where the package's code runs, and the geometric
    mean over all operations of the whole process tree's CPU seconds,
    the JVM's included. The wall-clock figures are printed here and
    reported per layer."""
    import tracing

    main = result["main"]
    ops = [o for o in run.ops if o["ok"]] or run.ops
    main_py = [o["py_cpu_s"] for o in ops if o["kind"] == main]
    cpu = [o["cpu_s"] for o in ops]
    metrics = {
        "setup_s": (sum(run.setup.values()), "s"),
        "items_per_cpu_s": (result["items_total"]
                            / tracing.median(main_py), "1/s"),
        "stored_bytes_per_item": (result["stored_bytes"]
                                  / result["items_total"], "B"),
        "op_cpu_geomean_s": (tracing.geomean(cpu), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    rate, rate_u, size, size_u = LABELS[run.workload]
    print(f"{rate} {metrics['items_per_cpu_s'][0]:.6g} {rate_u} per Python "
          f"CPU second (median of {len(main_py)} {main} operations)")
    print(f"{size} {metrics['stored_bytes_per_item'][0]:.6g} {size_u} "
          f"({result['stored_bytes']} B over {result['items_total']} "
          f"{result['items']}, {result['chunks']} chunks)")
    print("op cpu seconds, all/python: " + " ".join(
        f"{o['kind']}={o['cpu_s']:.2f}/{o['py_cpu_s']:.2f}"
        for o in run.ops))
    print(f"op_cpu_geomean_s {metrics['op_cpu_geomean_s'][0]:.6g} s "
          f"(n={len(cpu)})")
    loop_wall(run, result, run.ops)
    return metrics


def per_layer(run, result) -> dict:
    import replay
    import tracing

    main = result["main"]
    traced = [o for o in run.ops if o["traced"]]
    # the probe-side Spark numbers come from the probes of the mixed
    # workload, and from the one operation of the others
    sparked = [o for o in traced if o["kind"] != main] \
        or [o for o in traced if o["kind"] == main]
    main_traced = [o for o in traced if o["kind"] == main]

    def med(key, ops):
        vals = [o.get(key, 0) for o in ops]
        return tracing.median(vals) if vals else 0.0

    # an untimed first replay takes the one-time costs (imports, first
    # reads of the files) out of both timed ones
    replay.run(result["replay"], traced=False)
    plain, wall_plain = replay.run(result["replay"], traced=False)
    tracer, wall = replay.run(result["replay"], traced=True)
    kernel = {"encode_files": replay.UDF_ENCODE,
              "encode_table": replay.UDF_ENCODE,
              "decode_files": replay.UDF_DECODE}[main]
    kernel_s = sum(sp.duration for sp in plain.spans
                   if sp.name == kernel) / 1e9
    # each pair is one operation run untraced and traced, back to back
    pairs = [(a, b) if b["traced"] else (b, a)
             for a, b in zip(run.ops[::2], run.ops[1::2])]
    metrics = {
        **loop_wall(run, result, [o for o in run.ops if not o["traced"]]),
        "plans.session_s": run.setup["plans.session_s"],
        "datagen.generate_s": run.setup["datagen.generate_s"],
        **replay.layer_table(tracer.spans, wall),
        "replay.trace_overhead_frac": wall / wall_plain - 1.0,
        "spark.job_s": med("spark.job_s", sparked),
        "spark.jobs": med("spark.jobs", sparked),
        "spark.tasks": med("spark.tasks", sparked),
        "spark.input_bytes": med("spark.input_bytes", sparked),
        "spark.input_bytes_per_item": tracing.per(
            sum(o.get("spark.input_bytes", 0) for o in sparked),
            sum(o["items"] for o in sparked)),
        "spark.orchestration_share": tracing.orchestration_share(
            kernel_s, 4, med("spark.job_s", main_traced)),
        "trace_overhead_frac": tracing.median(
            [t["s"] / u["s"] for u, t in pairs]) - 1.0 if pairs else 0.0,
    }
    trace_dir = os.path.join(WORK_ROOT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    stem = os.path.join(trace_dir, f"{run.workload}-seed{run.seed}")
    run.tracer.dump(f"{stem}-driver.jsonl")
    tracer.dump(f"{stem}-replay.jsonl")
    print(f"spans written to {stem}-driver.jsonl and -replay.jsonl")
    for k in sorted(metrics):
        print(f"  {k:40s} {metrics[k]:.6g}")
    return {k: (v, unit_of(k)) for k, v in metrics.items()}


def unit_of(name: str) -> str:
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name.endswith("items_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("share", "fraction", "frac")):
        return "fraction"
    if name.endswith("ns_per_value"):
        return "ns"
    if name.endswith(("input_bytes", "input_bytes_per_item")):
        return "B"
    return "count"


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "br_archive_spark",
                                       "__init__.py")):
        print(f"perfbench: no br_archive_spark package in {ROOT}; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2

    facts = host_facts()
    print(f"host nproc={facts['nproc']} cpu_model={facts['cpu_model']!r} "
          "loadavg={:.2f} {:.2f} {:.2f}".format(*facts["loadavg"])
          + f" ref_loop_ms={facts['ref_loop_ms']:.2f}")
    print(f"workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} "
          f"master=local[{workloads.CORES}]")

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's Python workers import the package from the checkout; the
    # driver's own temporary files stay in the work directory too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = workloads.DRIVER_MEM
    sys.path.insert(0, ROOT)

    sampler = RssSampler(os.getpid())
    sampler.start()
    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), work)
    try:
        run.start_session()
        result = workloads.WORKLOADS[args.workload](run)
        sampler.sample()
        rss = sampler.peak
        if args.trace:
            metrics = per_layer(run, result)
        else:
            metrics = end_to_end(run, result, rss)
    finally:
        if run.spark is not None:
            run.stop()
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(run.ops)
    failed = sum(not o["ok"] for o in run.ops)
    print(f"setup_s {sum(run.setup.values()):.6g} s "
          + " ".join(f"{k}={v:.3f}" for k, v in run.setup.items()))
    print(f"peak_rss_mb {sampler.peak / 2**20:.6g} MB (sum of the peak "
          f"resident sets of {sampler.processes} Python processes)")
    print(f"fail_rate {failed / max(attempted, 1):.6g} "
          f"({failed} of {attempted} operations)")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
