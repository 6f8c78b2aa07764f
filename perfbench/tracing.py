"""In-memory spans and the arithmetic the benchmark reports.

A span is ``(name, start_ns, end_ns, parent, op_id, attrs)``. Spans are
kept in a list while the run lasts and written out once, at the end
(:meth:`Tracer.dump`). Layer spans come from wrapping module-level
functions of the package from outside (:meth:`Tracer.wrap`): the
package itself is never edited, and nothing is recorded while no
wrapper is installed.

Everything here is pure Python so the tests can check it without Spark.
"""

from __future__ import annotations

import functools
import json
import math
import statistics
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "op_id", "attrs")

    def __init__(self, name, start, end, parent, op_id, attrs=None):
        self.name = name
        self.start = start
        self.end = end
        self.parent = parent
        self.op_id = op_id
        self.attrs = attrs if attrs is not None else {}

    @property
    def duration(self) -> int:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "op_id": self.op_id,
                "attrs": self.attrs}


class Tracer:
    """Span recorder for one single-threaded process."""

    def __init__(self):
        self.spans: list[Span] = []
        self.op_id = 0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else -1
        sp = Span(name, time.perf_counter_ns(), 0, parent, self.op_id,
                  attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter_ns()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, note=None) -> None:
        """Replace ``module.attr`` by a wrapper that records a span
        named ``name`` around every call; ``note(span, args, result)``
        may add attributes (value counts, codec names) to it."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
                if note is not None:
                    note(sp, args, result)
                return result

        self._patches.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.as_dict(), default=str) + "\n")


def covered(intervals, lo: int, hi: int) -> int:
    """Length of ``[lo, hi)`` covered by the union of ``intervals``."""
    total = 0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[int]:
    """Per span: its duration minus the part of it its children cover.
    Children may nest and overlap; overlap is counted once."""
    children: dict[int, list[tuple[int, int]]] = {}
    for sp in spans:
        if sp.parent >= 0:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return [sp.duration - covered(children.get(i, ()), sp.start, sp.end)
            for i, sp in enumerate(spans)]


def self_seconds_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for sp, ns in zip(spans, self_times(spans)):
        out[sp.name] = out.get(sp.name, 0.0) + ns / 1e9
    return out


def attr_sum(spans: list[Span], name: str, key: str) -> int:
    return sum(sp.attrs.get(key, 0) for sp in spans if sp.name == name)


def tail(values) -> tuple[float, float, int, int]:
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value, n, beyond)``.

    Sorted ascending, the sample of 1-based rank ``r`` has ``n - r``
    samples beyond it, so that percentile is rank ``n - 10``. Below 100
    samples it would fall under p90, which is no tail, so p90 is
    reported instead, interpolated between the two samples around it
    (``statistics.quantiles(method="inclusive")``): with a few samples,
    the largest alone is too noisy to compare runs by."""
    xs = sorted(values)
    n = len(xs)
    if n >= 100:
        return 100.0 * (n - 10) / n, xs[n - 11], n, 10
    v = statistics.quantiles(xs, n=10, method="inclusive")[-1] \
        if n > 1 else xs[0]
    return 90.0, v, n, sum(x > v for x in xs)


def median(values) -> float:
    return statistics.median(values)


def geomean(values) -> float:
    """Geometric mean: each operation weighs the same whatever its
    length, as in the TPC-H power metric's mean of query times."""
    return statistics.geometric_mean(values)


def per(num: float, base: float) -> float:
    """``num / base``, 0 when the base is 0 (a layer that did no work
    reports 0, not an error)."""
    return num / base if base else 0.0


def trial_fraction(encoded_values: int, final_values: int) -> float:
    """Values passed to codec encoders beyond the one final encode per
    stream (sample trials and PLAIN re-encodes), per final value."""
    return per(encoded_values - final_values, final_values)


def orchestration_share(kernel_s: float, cores: int, job_s: float) -> float:
    """1 - kernel seconds / (cores x Spark job seconds): the share of
    the cores' time in a job not spent in the package's kernels."""
    return 1.0 - per(kernel_s, cores * job_s) if job_s else 0.0


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
