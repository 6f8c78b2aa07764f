"""Tests of the benchmark's own arithmetic (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import lineitem  # noqa: E402
import replay  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402


# -- the percentile with ten samples beyond it -------------------------

@pytest.mark.parametrize("n", [100, 101, 250, 1000])
def test_tail_has_exactly_ten_beyond(n):
    xs = [float(i) for i in range(n)][::-1]      # any order
    p, v, got_n, beyond = tracing.tail(xs)
    assert (got_n, beyond) == (n, 10)
    assert sum(x > v for x in xs) == 10
    assert p == pytest.approx(100 * (n - 10) / n)


def test_tail_of_hundred_is_p90_and_of_thousand_p99():
    assert tracing.tail(range(1, 101))[:2] == (90.0, 90)
    assert tracing.tail(range(1, 1001))[:2] == (99.0, 990)


@pytest.mark.parametrize("n,want", [(1, 1.0), (2, 1.9), (9, 8.2),
                                    (11, 10.0), (99, 89.2)])
def test_small_samples_report_interpolated_p90(n, want):
    p, v, got_n, beyond = tracing.tail(range(1, n + 1))
    assert (p, got_n) == (90.0, n)
    assert v == pytest.approx(want)
    assert beyond == sum(x > v for x in range(1, n + 1))


# -- self time ---------------------------------------------------------

def test_self_time_nested_children():
    spans = [Span("root", 0, 100, -1, 0),
             Span("a", 10, 40, 0, 0),
             Span("a.x", 15, 35, 1, 0),    # grandchild: only a loses it
             Span("b", 50, 70, 0, 0)]
    assert tracing.self_times(spans) == [50, 10, 20, 20]


def test_self_time_overlapping_children_counted_once():
    spans = [Span("root", 0, 100, -1, 0),
             Span("a", 10, 40, 0, 0),
             Span("b", 30, 60, 0, 0),      # overlaps a by 10
             Span("c", 55, 58, 0, 0)]      # inside b
    assert tracing.self_times(spans)[0] == 100 - 50


def test_self_time_clips_children_to_parent():
    spans = [Span("root", 10, 20, -1, 0),
             Span("late", 15, 30, 0, 0)]
    assert tracing.self_times(spans) == [5, 15]


def test_self_seconds_by_name_sums_layers():
    spans = [Span("u", 0, 4_000_000_000, -1, 0),
             Span("k", 0, 1_000_000_000, 0, 0),
             Span("k", 2_000_000_000, 3_000_000_000, 0, 0)]
    assert tracing.self_seconds_by_name(spans) == {"u": 2.0, "k": 2.0}


# -- ratio bases ---------------------------------------------------------

def test_per_and_zero_base():
    assert tracing.per(3.0, 2.0) == 1.5
    assert tracing.per(3.0, 0) == 0.0


def test_trial_fraction_base_is_final_values():
    # 300 values went through codec encoders for 100 values stored
    assert tracing.trial_fraction(300, 100) == 2.0
    assert tracing.trial_fraction(100, 100) == 0.0
    assert tracing.trial_fraction(0, 0) == 0.0


def test_orchestration_share_base_is_cores_times_job():
    assert tracing.orchestration_share(4.0, 4, 2.0) == 0.5
    assert tracing.orchestration_share(8.0, 4, 2.0) == 0.0
    assert tracing.orchestration_share(1.0, 4, 0.0) == 0.0


def test_quartile_spread():
    assert tracing.quartile_spread([10, 10, 10, 10]) == 0.0
    assert tracing.quartile_spread([1, 2, 3, 4, 5]) == pytest.approx(
        (4.5 - 1.5) / 3)


def test_layer_table_bases():
    s = 1_000_000_000
    spans = [Span(replay.UDF_ENCODE, 0, 4 * s, -1, 0),
             Span(replay.COST_AUTO, 0, 2 * s, 0, 0,
                  {"values": 1000, "codec": "zstd"}),
             Span(replay.COST, 0, 1 * s, 1, 0),
             Span(replay.ENCODE, 1 * s, 2 * s, 1, 0, {"values": 3000}),
             Span(replay.CRC, 2 * s, 3 * s, 0, 0, {"bytes": 5_000_000})]
    t = replay.layer_table(spans, wall_s=5.0)
    assert t["codecs.cost.self_s"] == 1.0        # COST_AUTO self is 0
    assert t["codecs.cost.share"] == 0.2         # of the 5 s wall
    assert t["codecs.cost.ns_per_value"] == 1e6  # per final value
    assert t["codecs.encode.trial_fraction"] == 2.0
    assert t["integrity.crc.mb_per_s"] == 5.0
    assert t["operators.encode.other_s"] == 1.0
    assert t["replay.unattributed_s"] == 1.0     # 5 s wall - 4 s span
    assert t["codecs.choice.zstd"] == 1


# -- the codec-choice histogram repeats on a fixed seed ------------------

def _token_table(seed: int, docs: int):
    import numpy as np
    import pyarrow as pa

    from br_archive_spark.datagen import _gen_fn

    ids = pa.RecordBatch.from_arrays([pa.array(np.arange(docs))], ["id"])
    batches = list(_gen_fn(seed, 50_000, 1.3, 128)(iter([ids])))
    return pa.Table.from_batches(batches)


def _histogram(seed: int) -> dict:
    from br_archive_spark.operators.encode import TOKEN_SPECS

    table = _token_table(seed, 2048)
    tracer, _ = replay.run(lambda tr: replay.encode_partitions(
        tr, table, TOKEN_SPECS, "doc_id", 2, target_values=1 << 16),
        traced=True)
    return replay.codec_histogram(tracer.spans)


def test_codec_histogram_repeats_on_fixed_seed():
    first = _histogram(7)
    assert sum(first.values()) > 0
    assert _histogram(7) == first


def test_wrappers_are_removed_after_a_traced_replay():
    from br_archive_spark.codecs import cost

    orig = cost.encode_int
    _histogram(3)
    assert cost.encode_int is orig


# -- the lineitem probe plan ----------------------------------------------

@pytest.mark.parametrize("seed", [1, 42])
def test_probe_bands_stay_inside_one_partition(seed):
    import numpy as np

    cols = lineitem.generate(seed, rows=20_000)
    s = np.sort(cols["l_orderkey"])
    cuts = [s[i * len(s) // lineitem.PARTS]
            for i in range(1, lineitem.PARTS)]
    probes = lineitem.plan(cols, seed, 3 * len(lineitem.KINDS))
    for p in probes:
        if p["kind"] not in lineitem.ROWS_OUT:
            continue
        keys = p.get("values") or [b for b in p["bands"]
                                   if b[0] == "l_orderkey"][0][1:]
        assert not any(min(keys) <= c <= max(keys) for c in cuts), p
        assert lineitem.check(p, p["expect"])

def test_probe_plan_repeats_on_a_seed():
    cols = lineitem.generate(5, rows=20_000)
    a = lineitem.plan(cols, 5, 18)
    assert [p["kind"] for p in a[:len(lineitem.KINDS)]] == lineitem.KINDS
    assert repr(a) == repr(lineitem.plan(cols, 5, 18))
