"""The three workloads: set-up, the measured closed loop, and the traced
run. One client; each operation starts when the previous one returns.

* ``tokens_encode`` — repeated ``encode_files`` passes (in-process
  shard sink) over the seeded Zipf(1.3)/50k-vocab token table.
* ``tokens_decode`` — repeated checksum-verified ``decode_files``
  passes over the manifest written at set-up.
* ``lineitem_mixed`` — rounds of three range-clustered typed
  ``encode_table`` writes, each followed by a third of one seeded
  selective read of every kind against the manifest it wrote.

Every operation's output is checked; a wrong or failed operation counts in ``failed``
and the loop goes on.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time
import traceback

import lineitem
import replay
import tracing

CORES = 4
DRIVER_MEM = "2g"
TOKEN_DOCS = 16_384     # 4 generation blocks of 4096 docs → 4 files
TOKEN_WARM_PASSES = 6   # encode or decode passes in the warm-up
PROBE_PLAN = 64         # probes planned per run (more than ever run)
LINEITEM_WARM_ROUNDS = 2  # rotations of every probe kind in the warm-up


class Run:
    """State of one benchmark run: the session, the work directory,
    the operation records and, when tracing, the driver-side spans."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spark = None
        self.setup: dict[str, float] = {}
        self.ops: list[dict] = []
        self.tracer = tracing.Tracer()
        self._group = 0

    # -- set-up -------------------------------------------------------

    def start_session(self) -> None:
        from br_archive_spark.plans import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"local[{CORES}]", app_name=f"perfbench-{self.workload}",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work,
                                                        "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            })
        self.spark.sparkContext.setLogLevel("ERROR")

        # nested, so it is pickled by value: the workers cannot import
        # the benchmark's own modules
        def warm_worker(batches):
            import br_archive_spark.operators.decode  # noqa: F401
            import br_archive_spark.operators.encode  # noqa: F401

            yield from batches

        # spawn and import the Python workers of every core
        (self.spark.range(0, CORES, 1, CORES)
         .mapInArrow(warm_worker, "id long").count())
        self.setup["plans.session_s"] = time.perf_counter() - t0

    def timed_setup(self, key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup[key] = time.perf_counter() - t0
        return out

    # -- operations ---------------------------------------------------

    def op(self, kind: str, fn, check, items_of=None, traced=False):
        """Run one operation, check its output, and record it."""
        rec = {"kind": kind, "ok": False, "items": 0}
        group = None
        if traced:
            self._group += 1
            group = f"perfbench-op-{self._group}"
            self.spark.sparkContext.setJobGroup(group, kind)
            self.tracer.op_id = self._group
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"driver.{kind}") as sp:
                    out = fn()
            else:
                out = fn()
            rec["s"] = time.perf_counter() - t0
            rec["cpu_s"], rec["py_cpu_s"] = _minus(tree_cpu_s(), c0)
            rec["ok"] = bool(check(out))
            rec["items"] = items_of(out) if items_of else 0
            if not rec["ok"]:
                print(f"perfbench: wrong answer from {kind}: {out!r}",
                      file=sys.stderr)
        except Exception:
            rec["s"] = time.perf_counter() - t0
            rec["cpu_s"], rec["py_cpu_s"] = _minus(tree_cpu_s(), c0)
            traceback.print_exc()
        if traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id",
                                                     None)
            rec.update(spark_stats(self.spark.sparkContext, group))
            sp.attrs.update({k: v for k, v in rec.items()
                             if k.startswith("spark.")})
        rec["traced"] = traced
        return rec

    def loop(self, round_ops) -> None:
        """Closed loop: ``round_ops(r)`` lists the operations of round
        ``r``, each a callable ``op(traced) -> record``. Rounds run
        whole, at least one, and a next round starts only if it fits in
        ``seconds`` at the length of the last one. Traced runs execute
        every operation twice, untraced and traced, alternating which
        goes first."""
        t0 = time.perf_counter()
        last = 0.0
        r = 0
        while r == 0 or time.perf_counter() - t0 + last <= self.seconds:
            start = time.perf_counter()
            for op in round_ops(r):
                if not self.trace:
                    self.ops.append(op(False))
                else:
                    first = len(self.ops) // 2 % 2 == 0
                    self.ops.extend(op(t) for t in (not first, first))
            last = time.perf_counter() - start
            r += 1

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers have
        exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()     # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while child_pids().get(os.getpid()) \
                and time.monotonic() < deadline:
            time.sleep(0.1)


def child_pids() -> dict[int, list[int]]:
    """Parent pid -> pids of its children, over every process."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children


def tree_cpu_s() -> tuple[float, float]:
    """CPU seconds (user and system, reaped children included) spent so
    far by this process and its descendants, as ``(all, python)``:
    every process, and the Python ones alone (the driver, the Python
    daemon and its workers, where the package's code runs)."""
    children = child_pids()
    todo, ticks, py_ticks = [os.getpid()], 0, 0
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        t = sum(map(int, stat[stat.rindex(")") + 2:].split()[11:15]))
        ticks += t
        if stat[stat.index("(") + 1:].startswith("python"):
            py_ticks += t
    hz = os.sysconf("SC_CLK_TCK")
    return ticks / hz, py_ticks / hz


def _minus(a: tuple, b: tuple) -> tuple:
    return tuple(x - y for x, y in zip(a, b))


def spark_stats(sc, group: str) -> dict:
    """Jobs, tasks, input bytes and job seconds of one job group, from
    the status tracker and the application status store."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = sorted(st.getJobIdsForGroup(group))
    deadline = time.monotonic() + 2.0
    out = {"spark.jobs": len(jobs), "spark.tasks": 0,
           "spark.input_bytes": 0, "spark.job_s": 0.0}
    for j in jobs:
        jd = store.job(j)
        # the listener bus is asynchronous: wait for the job's end
        while not jd.completionTime().isDefined() \
                and time.monotonic() < deadline:
            time.sleep(0.02)
            jd = store.job(j)
        if jd.completionTime().isDefined() \
                and jd.submissionTime().isDefined():
            out["spark.job_s"] += (jd.completionTime().get().getTime()
                                   - jd.submissionTime().get().getTime()
                                   ) / 1e3
        info = st.getJobInfo(j)
        for s in (info.stageIds if info is not None else []):
            sd = store.lastStageAttempt(s)
            if sd.status().toString() == "SKIPPED":
                continue
            out["spark.tasks"] += sd.numTasks()
            out["spark.input_bytes"] += sd.inputBytes()
    return out


# -- token workloads --------------------------------------------------

def _table_facts(df, with_hash: bool) -> dict:
    """Rows, tokens and (when asked) an order-free content hash of a
    token table: what every decode is checked against."""
    from pyspark.sql import functions as F

    aggs = [F.count("*"), F.sum(F.size("tokens"))]
    if with_hash:
        aggs.append(F.sum(F.xxhash64("doc_id", "tokens", "source")
                          .cast("decimal(38,0)")))
    r = df.agg(*aggs).collect()[0]
    out = {"rows": int(r[0]), "tokens": int(r[1])}
    if with_hash:
        out["hash"] = int(r[2])
    return out


def _token_setup(run: Run, with_hash: bool = False) -> dict:
    from br_archive_spark.datagen import token_table

    src = os.path.join(run.work, "tokens")

    def gen():
        token_table(run.spark, TOKEN_DOCS, seed=run.seed).write.parquet(src)
        return _table_facts(run.spark.read.parquet(src), with_hash)

    facts = run.timed_setup("datagen.generate_s", gen)
    sizes = [os.path.getsize(p) for p in glob.glob(f"{src}/*.parquet")]
    # a bucket budget of the smallest file puts each file in its own
    # bucket: 4 equal tasks, one wave on 4 cores, on every seed
    facts["unit_bytes"] = min(sizes)
    facts["src"] = src
    return facts


def _encode_pass(run: Run, facts: dict, out_dir: str):
    from pyspark.sql import functions as F

    from br_archive_spark.operators import encode_files

    shutil.rmtree(out_dir, ignore_errors=True)
    enc = encode_files(run.spark, facts["src"],
                       target_unit_bytes=facts["unit_bytes"],
                       output_dir=out_dir)
    r = enc.agg(F.sum("n_values"), F.sum("enc_bytes"),
                F.count("*")).collect()[0]
    return {"tokens": int(r[0]), "enc_bytes": int(r[1]),
            "chunks": int(r[2])}


def _decode_pass(run: Run, man: str):
    from br_archive_spark.operators import decode_files

    return _table_facts(decode_files(run.spark, man), True)


def tokens_encode(run: Run) -> dict:
    facts = _token_setup(run)
    man = os.path.join(run.work, "manifest")
    # the JVM's share of a pass's CPU time falls by about a third over
    # the first six or seven passes
    first = run.timed_setup("warmup_s", lambda: [
        _encode_pass(run, facts, man) for _ in range(TOKEN_WARM_PASSES)][-1])

    # chunk count and stored bytes must repeat those of the last warm-up
    # pass
    def check(out):
        return out == first and out["tokens"] == facts["tokens"]

    run.loop(lambda r: [lambda traced: run.op(
        "encode_files", lambda: _encode_pass(run, facts, man), check,
        lambda out: out["tokens"], traced)])
    result = {"items": "tokens", "stored_bytes": first["enc_bytes"],
              "items_total": first["tokens"], "chunks": first["chunks"],
              "main": "encode_files"}
    if run.trace:
        out_dir = os.path.join(run.work, "replay-manifest")
        os.makedirs(out_dir, exist_ok=True)

        def work(tracer):
            # the decode of what was just written gives the decode
            # layers a number on this workload's data too
            replay.encode_files(tracer, facts["src"], out_dir)
            replay.decode_shards(tracer, out_dir)
        result["replay"] = work
    return result


def tokens_decode(run: Run) -> dict:
    facts = _token_setup(run, with_hash=True)
    man = os.path.join(run.work, "manifest")

    def build():
        enc = _encode_pass(run, facts, man)
        for _ in range(TOKEN_WARM_PASSES):     # warm the decode path
            _decode_pass(run, man)
        return enc

    enc = run.timed_setup("warmup_s", build)
    want = {k: facts[k] for k in ("rows", "tokens", "hash")}

    run.loop(lambda r: [lambda traced: run.op(
        "decode_files", lambda: _decode_pass(run, man),
        lambda out: out == want,
        lambda out: out["tokens"], traced)])
    result = {"items": "tokens", "stored_bytes": enc["enc_bytes"],
              "items_total": enc["tokens"], "chunks": enc["chunks"],
              "main": "decode_files"}
    if run.trace:
        result["replay"] = lambda tracer: replay.decode_shards(tracer, man)
    return result


# -- lineitem workload ------------------------------------------------

def _lineitem_write(df, specs, man: str) -> None:
    from br_archive_spark.operators import encode_table

    encode_table(df, specs=specs, key="l_orderkey", mode="range",
                 num_parts=lineitem.PARTS) \
        .write.mode("overwrite").parquet(man)


def _manifest_facts(man: str) -> dict:
    """Rows, stored bytes and chunks of a written manifest, read in the
    driver: two small columns, no Spark job."""
    import pyarrow.parquet as pq

    t = pq.read_table(man, columns=["n_rows", "enc_bytes"])
    return {"rows": sum(t.column("n_rows").to_pylist()),
            "enc_bytes": sum(t.column("enc_bytes").to_pylist()),
            "chunks": t.num_rows}


def _probe(run: Run, p: dict, specs, man: str):
    from pyspark.sql import functions as F

    from br_archive_spark.operators import (agg_encoded, lookup_values,
                                            ndv_encoded, quantile_encoded,
                                            scan_where_files)

    spark = run.spark
    kind = p["kind"]
    if kind == "ndv":
        return ndv_encoded(spark.read.parquet(man), p["column"])
    if kind == "quantile":
        return quantile_encoded(spark.read.parquet(man), p["column"],
                                p["q"])
    if kind == "agg":
        r = agg_encoded(spark.read.parquet(man), p["column"]).first()
        return (r["n_values"], r["n_nulls"], r["vmin"], r["vmax"],
                int(r["vsum"]))
    if kind == "lookup":
        df = lookup_values(spark.read.parquet(man), p["column"],
                           p["values"], specs=specs, with_n_tok=False)
    else:
        df = scan_where_files(spark, man, p["bands"], specs=specs,
                              with_n_tok=False, isin=p.get("isin"),
                              null_cols=p.get("null_cols"))
    r = df.agg(F.count("*"), F.sum("l_orderkey"),
               F.sum("l_partkey")).collect()[0]
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0))


def lineitem_mixed(run: Run) -> dict:
    from br_archive_spark.operators import infer_specs

    src = os.path.join(run.work, "lineitem")
    man = os.path.join(run.work, "manifest")

    def gen():
        import pyarrow.parquet as pq

        cols = lineitem.generate(run.seed)
        table = lineitem.to_arrow(cols)
        os.makedirs(src)
        n = table.num_rows
        for i in range(4):
            pq.write_table(table.slice(i * n // 4, n // 4),
                           os.path.join(src, f"part-{i}.parquet"))
        return cols, table, lineitem.plan(cols, run.seed, PROBE_PLAN)

    cols, table, probes = run.timed_setup("datagen.generate_s", gen)
    df = run.spark.read.parquet(src)
    specs = infer_specs(df)

    k = len(lineitem.KINDS)

    def warm():
        # the first write runs about three times as long as later ones,
        # and a kind's first probes two to five times as long as later
        # ones, until the JVM has compiled the planner's code; probes do
        # not depend on each other, so they warm up side by side, a
        # whole rotation of kinds at once
        from concurrent.futures import ThreadPoolExecutor

        _lineitem_write(df, specs, man)
        with ThreadPoolExecutor(k) as pool:
            for w in range(LINEITEM_WARM_ROUNDS):
                for f in [pool.submit(_probe, run, p, specs, man)
                          for p in probes[w * k:(w + 1) * k]]:
                    f.result()
        return _manifest_facts(man)

    first = run.timed_setup("warmup_s", warm)
    # every write must repeat the warm-up's. The range shuffle orders
    # rows of equal key differently from write to write, so stored
    # bytes may move by a few bytes; the row and chunk counts may not
    shape = {"rows": len(cols["l_orderkey"]), "chunks": first["chunks"]}

    def encode_ok(_):
        out = _manifest_facts(man)
        return out["rows"] == shape["rows"] \
            and out["chunks"] == shape["chunks"] \
            and abs(out["enc_bytes"] - first["enc_bytes"]) \
            <= 1e-3 * first["enc_bytes"]

    def encode_op(traced):
        return run.op(
            "encode_table", lambda: _lineitem_write(df, specs, man),
            encode_ok, lambda _: shape["rows"], traced)

    def probe_op(p):
        return lambda traced: run.op(
            p["kind"], lambda: _probe(run, p, specs, man),
            lambda out: lineitem.check(p, out),
            lambda out: out[0] if p["kind"] in lineitem.ROWS_OUT else 0,
            traced)

    # a round: three writes, each followed by about a third of one probe
    # of every kind; whole rounds keep the mix the same in every run
    def round_ops(r):
        first = (r + LINEITEM_WARM_ROUNDS) * k
        ps = [probe_op(p) for p in probes[first:first + k]]
        c = -(-k // 3)
        return [encode_op, *ps[:c], encode_op, *ps[c:2 * c],
                encode_op, *ps[2 * c:]]

    run.loop(round_ops)
    result = {"items": "rows", "stored_bytes": first["enc_bytes"],
              "items_total": first["rows"], "chunks": first["chunks"],
              "main": "encode_table"}
    if run.trace:
        def work(tracer):
            replay.encode_partitions(tracer, table, specs, "l_orderkey",
                                     lineitem.PARTS)
            replay.decode_shards(tracer, man, specs, with_n_tok=False)
        result["replay"] = work
    return result


WORKLOADS = {"tokens_encode": tokens_encode,
             "tokens_decode": tokens_decode,
             "lineitem_mixed": lineitem_mixed}
