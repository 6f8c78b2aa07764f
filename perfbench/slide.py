#!/usr/bin/env python3
"""Per-layer single-core cost of the token encode/decode kernels of any
source tree of the package, for comparing commits.

    python3 perfbench/slide.py --make-input DIR
    python3 perfbench/slide.py --tree SRC_TREE --input DIR

The first form writes the seeded token table (``datagen``'s generator,
:data:`DOCS` docs at seed :data:`SEED`, one parquet file per 4096-doc
block, the same table ``token_table`` makes) with this checkout's
package. The second imports the package from ``SRC_TREE`` (for example
an extracted ``git archive`` of an older commit), replays the encode of
every row group and the checksum-verified decode of every shard it
wrote, traced, :data:`REPEATS` times, and prints
one JSON line: ns per token of each layer (median over the repeats) and
the untraced single-core Mtok/s of both directions. Layer functions
missing from that tree are simply not wrapped.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
DOCS = 32_768
SEED = 42
REPEATS = 3

ENCODE_LAYERS = ["codecs.cost", "codecs.cost.auto", "codecs.encode",
                 "integrity.crc", "operators.encode.extract",
                 "operators.encode.stats", "operators.bloom.build",
                 "operators.chunk", "operators.encode.udf",
                 "operators.fsutil.read", "operators.fsutil.write"]
DECODE_LAYERS = ["integrity.crc", "codecs.decode",
                 "operators.decode.rebuild", "operators.chunk",
                 "operators.decode.udf", "operators.fsutil.read"]


def make_input(out: str) -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from br_archive_spark.datagen import _GEN_BLOCK, _gen_fn

    os.makedirs(out, exist_ok=True)
    fn = _gen_fn(SEED, 50_000, 1.3, 512)
    for start in range(0, DOCS, _GEN_BLOCK):
        ids = np.arange(start, min(start + _GEN_BLOCK, DOCS))
        batch = pa.RecordBatch.from_arrays([pa.array(ids)], ["id"])
        table = pa.Table.from_batches(list(fn(iter([batch]))))
        pq.write_table(table, os.path.join(out, f"part-{start:08d}.parquet"))


def measure(tree: str, input_dir: str) -> dict:
    sys.path[:0] = [HERE, os.path.abspath(tree)]
    import replay
    import tracing

    enc_ns: dict[str, list[float]] = {}
    dec_ns: dict[str, list[float]] = {}
    enc_wall, dec_wall = [], []
    tmp = tempfile.mkdtemp(prefix="slide-", dir=os.path.dirname(
        os.path.abspath(input_dir)))
    try:
        for _ in range(REPEATS):
            for traced in (False, True):
                shutil.rmtree(tmp, ignore_errors=True)
                os.makedirs(tmp)
                totals = {}

                def enc(tr):
                    totals.update(replay.encode_files(tr, input_dir, tmp))

                tr_e, wall_e = replay.run(enc, traced)
                tr_d, wall_d = replay.run(
                    lambda tr: replay.decode_shards(tr, tmp), traced)
                tokens = totals["n_values"]
                if not traced:
                    enc_wall.append(tokens / wall_e / 1e6)
                    dec_wall.append(tokens / wall_d / 1e6)
                    continue
                for spans, names, acc in ((tr_e.spans, ENCODE_LAYERS,
                                           enc_ns),
                                          (tr_d.spans, DECODE_LAYERS,
                                           dec_ns)):
                    selfs = tracing.self_seconds_by_name(spans)
                    for name in names:
                        acc.setdefault(name, []).append(
                            selfs.get(name, 0.0) * 1e9 / tokens)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "tree": tree, "tokens": tokens, "bytes_per_token":
            totals["enc_bytes"] / tokens,
        "encode_mtok_per_s": statistics.median(enc_wall),
        "decode_mtok_per_s": statistics.median(dec_wall),
        "encode_ns_per_token": {k: statistics.median(v)
                                for k, v in enc_ns.items()},
        "decode_ns_per_token": {k: statistics.median(v)
                                for k, v in dec_ns.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--make-input")
    ap.add_argument("--tree")
    ap.add_argument("--input")
    args = ap.parse_args()
    if args.make_input:
        make_input(args.make_input)
        return 0
    if not (args.tree and args.input):
        ap.error("give --make-input DIR, or --tree and --input")
    print(json.dumps(measure(args.tree, args.input)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
