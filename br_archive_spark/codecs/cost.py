"""Sampled cost model for per-chunk codec auto-selection.

Generalizes the reference's stored-vs-compressed decision
(``src/io/lib_bra_io_file_chunks.c:268-297``: compress to a tmpfile, and if
``tmpfile_size >= data_size`` flip the entry to STORED and redo it) into a
cost-BEFORE-commit rule over the whole codec suite:

1. compute cheap chunk statistics. Exact over the whole chunk: ``n``,
   the min/max range and the run count (one native-dtype compare, 1 B
   of scratch per value; a window count would overprice RLE when the
   runs lie outside the window, a miss step 3 cannot see). Sampled on
   the centered :data:`_SAMPLE`-value window that step 2 also
   trial-encodes: the zigzag first- and second-difference maxima and
   the sorted flag. The distinct count is estimated on a strided
   sample. No full-chunk int64 temporary is made: a 3.1 M-value int32
   chunk peaks near 3 MB of scratch;
2. estimate the encoded size of every candidate codec from the stats;
3. encode once with the argmin candidate. A window stat can only
   under-report a diff width or call an unsorted chunk sorted, so a miss
   (an outlier or a stride break outside the window) underprices
   DELTA/DD. When the chunk is longer than the window and encodes above
   twice the winner's estimate, the choice is re-run once with exact
   full-chunk stats and the chunk re-encoded with that pick: a miss costs
   one full stats pass and one more encode;
4. if the actual encoded size is >= the PLAIN size, fall back to PLAIN —
   the reference's invariant that no entry is ever stored bigger than raw.

The estimate is allowed to be wrong (it is sampled): every codec
recomputes its own widths, so a wrong pick costs bytes, never data, and
steps 3-4 bound those bytes without double-encoding in the common case.
"""

from __future__ import annotations

import numpy as np

from .bitpack import bits_needed
from .intcodecs import ZSTD_AVAILABLE, _zigzag, encode_int
from .strcodecs import encode_str

__all__ = ["choose_int_codec", "encode_int_auto", "encode_str_auto",
           "int_chunk_stats"]

_SAMPLE = 65536

# entropy-codec candidates trialed by default: Zstd-backed when available
# (3-10x faster encode at equal-or-better ratio than DEFLATE), DEFLATE
# otherwise; explicit ``codecs=`` tuples can still trial the zlib family
_ENTROPY_TRIAL = ("dict_zstd", "zstd") if ZSTD_AVAILABLE else \
    ("dict_z", "zlib")
_ENTROPY_ALL = ("dict_zstd", "zstd", "dict_z", "zlib")

_INT32_MIN, _INT32_MAX = -(1 << 31), (1 << 31) - 1


def _window(values: np.ndarray) -> np.ndarray:
    """The centered ``_SAMPLE``-value view both the sampled stats and the
    entropy trials read (the whole array when it is no longer)."""
    n = len(values)
    k = min(n, _SAMPLE)
    start = (n - k) // 2
    return values[start:start + k]


def _stats(values: np.ndarray, window: np.ndarray) -> dict:
    """Chunk stats with the diff-based ones taken over ``window``; passing
    ``window=values`` makes them exact (``distinct_est`` is estimated
    either way)."""
    n = len(values)
    if n == 0:
        return {"n": 0, "vmin": 0, "vmax": 0, "runs": 0, "distinct_est": 0,
                "dzmax": 0, "ddzmax": 0, "sorted": True}
    vmin, vmax = int(values.min()), int(values.max())
    runs = int(np.count_nonzero(values[1:] != values[:-1])) + 1
    # diffs stay exact in the native dtype iff the value span fits —
    # int32 wrap can't fake a zero, but would corrupt sorted/dmax
    if values.dtype.itemsize > 4 or vmax - vmin < (1 << 31):
        d = np.diff(window)
    else:
        d = np.diff(window.astype(np.int64))
    # int64 view of the diffs for the zigzag-domain width stats below:
    # exact for narrow dtypes; for int64 inputs the (wrapping) diff is
    # already what _enc_delta/_enc_dd will pack, so the widths match
    d64 = d.astype(np.int64, copy=False)
    stride = max(1, n // _SAMPLE)
    sample = values[::stride]
    distinct_est = int(len(np.unique(sample)) * (n / len(sample)) ** 0.5) \
        if stride > 1 else int(len(np.unique(sample)))
    distinct_est = max(1, min(distinct_est, n))
    return {
        "n": n,
        "vmin": vmin,
        "vmax": vmax,
        "runs": runs,
        "distinct_est": distinct_est,
        # diff maxima live in the zigzag (uint64) domain — the exact
        # width domain the delta/dd codecs pack in — so int64 wrap
        # (INT64_MIN diffs, |INT64_MIN| staying negative under two's
        # complement np.abs) can never surface a negative here
        "dzmax": int(_zigzag(d64).max()) if len(d) else 0,
        "ddzmax": int(_zigzag(np.diff(d64)).max()) if len(d) > 1 else 0,
        "sorted": bool(len(d) == 0 or d.min() >= 0),
    }


def int_chunk_stats(values: np.ndarray) -> dict:
    """Cost-model statistics of one chunk.

    ``n``, ``vmin``, ``vmax`` and ``runs`` are exact over the whole chunk.
    ``dzmax``, ``ddzmax`` (zigzag first/second-difference maxima) and
    ``sorted`` are taken over the centered ``_SAMPLE``-value window, so
    they may miss an outlier or stride break outside it (they can only
    under-report). ``distinct_est`` scales a strided sample's distinct
    count. Chunks no longer than the window get exact stats throughout.
    """
    return _stats(values, _window(values))


def _plain_width(st: dict) -> int:
    """Bytes per value PLAIN stores: ``_enc_plain`` widens to 8 once any
    value leaves the int32 range."""
    return 4 if _INT32_MIN <= st["vmin"] and st["vmax"] <= _INT32_MAX \
        else 8


def _estimates(st: dict) -> dict[str, float]:
    n = st["n"]
    if n == 0:
        return {"plain": 0.0}
    w_full = bits_needed(st["vmax"] - st["vmin"])
    w_run = bits_needed(max(n // max(st["runs"], 1) * 8, 1))
    d = st["distinct_est"]
    w_code = bits_needed(max(d - 1, 0))
    est = {
        "plain": float(_plain_width(st) * n),
        "for": n * w_full / 8 + 16,
        "rle": st["runs"] * (w_full + w_run) / 8 + 32,
        "dict": d * (w_full / 8 + 0.5) + n * w_code / 8 + 32,
        "dict_rle": d * (w_full / 8 + 0.5)
        + st["runs"] * (w_code + w_run) / 8 + 48,
    }
    if st["sorted"]:
        est["delta"] = n * bits_needed(st["dzmax"]) / 8 + 24
    # delta-of-delta is order-agnostic (zigzag second differences):
    # regular strides — timestamps, auto-increment ids — estimate near
    # zero bits/value; irregular data estimates large and never wins
    est["dd"] = n * bits_needed(st["ddzmax"]) / 8 + 40
    return est


def _trial_estimates(values: np.ndarray, st: dict,
                     candidates: tuple[str, ...]) -> dict[str, float]:
    """Trial-encode entropy codecs on the stats window and scale.

    DEFLATE-backed sizes have no closed form, so — like the reference,
    which costs by actually encoding (``src/io/lib_bra_io_file_chunks.c:268``)
    — we encode a bounded sample and extrapolate. The dictionary term is
    re-scaled by the full-chunk distinct estimate.
    """
    n = st["n"]
    if n == 0:
        return {}
    sample = _window(values)
    scale = n / len(sample)
    out: dict[str, float] = {}
    for c in candidates:
        p, b = encode_int(c, sample)
        size = len(p) + len(b)
        if c in ("dict_z", "dict_zstd"):
            d_sample = len(np.unique(sample))
            dict_part = d_sample * 2.0
            size = (size - dict_part) * scale + st["distinct_est"] * 2.0
        else:
            size = size * scale
        out[c] = size
    return out


def _pick(values: np.ndarray, st: dict,
          codecs: tuple[str, ...] | None) -> tuple[str, float]:
    """The argmin codec under ``st`` and its estimated size."""
    est = _estimates(st)
    if st["n"] >= 256:
        # guard explicit requests against codecs unavailable on this
        # host (zstd-backed entries are registered only when pyarrow
        # ships the zstd codec), mirroring encode_str_auto's tolerance
        from .intcodecs import INT_CODECS
        trial = [c for c in _ENTROPY_ALL
                 if (c in _ENTROPY_TRIAL if codecs is None else c in codecs)
                 and c in INT_CODECS]
        est.update(_trial_estimates(values, st, tuple(trial)))
    if codecs is not None:
        est = {c: s for c, s in est.items() if c in codecs or c == "plain"}
    codec = min(est, key=est.get)  # type: ignore[arg-type]
    return codec, est[codec]


def _full_stats_choice(values: np.ndarray,
                       codecs: tuple[str, ...] | None) -> str:
    """The pick with exact full-chunk stats: the re-pick after a miss."""
    return _pick(values, _stats(values, values), codecs)[0]


def choose_int_codec(values: np.ndarray,
                     codecs: tuple[str, ...] | None = None) -> str:
    return _pick(values, int_chunk_stats(values), codecs)[0]


def encode_int_auto(values: np.ndarray,
                    codecs: tuple[str, ...] | None = None
                    ) -> tuple[str, bytes, bytes]:
    """Pick a codec by the cost model, encode, re-pick on a sampling miss,
    PLAIN-fallback if it loses.

    Keeps the input's native integer dtype (no int64 widening): the
    distributed encode path is memory-bandwidth-bound, so int32 token
    columns stay 4-byte through stats and packing.
    """
    values = np.asarray(values)
    if values.dtype.kind != "i":
        values = values.astype(np.int64)
    values = np.ascontiguousarray(values)
    st = int_chunk_stats(values)
    codec, est = _pick(values, st, codecs)
    params, payload = encode_int(codec, values)
    # a window stat missed structure outside it (module docstring, step
    # 3); the 64 B slack keeps the headers of near-empty streams from
    # paying for a full stats pass
    if st["n"] > _SAMPLE and len(params) + len(payload) > 2 * est + 64:
        full = _full_stats_choice(values, codecs)
        if full != codec:
            codec = full
            params, payload = encode_int(codec, values)
    if codec != "plain":
        if len(params) + len(payload) >= _plain_width(st) * st["n"]:
            codec = "plain"
            params, payload = encode_int("plain", values)
    return codec, params, payload


def encode_str_auto(blob: bytes, offsets: np.ndarray,
                    codecs: tuple[str, ...] | None = None
                    ) -> tuple[str, bytes, bytes]:
    """String codec selection by trial on a bounded sample.

    Strings lack the clean algebraic size formulas of the int codecs, so
    candidates are trial-encoded on a prefix sample (the reference costs
    by fully encoding, ``src/io/lib_bra_io_file_chunks.c:268``; we bound
    the pre-pass) and the winner encodes the full chunk, with the same
    PLAIN fallback.
    """
    n = len(offsets) - 1
    if n <= 0 or len(blob) == 0:
        params, payload = encode_str("str_plain", blob, offsets)
        return "str_plain", params, payload
    # sample: first k strings covering <= 64 KiB
    k = int(np.searchsorted(offsets, 65536))
    k = max(1, min(k, n))
    s_blob = blob[:int(offsets[k])]
    s_off = offsets[:k + 1]
    # FSST is not a DEFAULT candidate: even vectorized (~8 MB/s NumPy
    # vs zstd's GB/s) it trades encode speed for per-string random
    # access, and str_zstd matches or beats its ratio on concatenated
    # blobs. It stays available by explicit request
    # (codecs=("fsst",...)) when the layout wants point lookups that
    # decode single strings (lookup_docs over an fsst column).
    if codecs is not None:
        candidates = [c for c in ("str_dict", "str_zstd", "str_zlib", "fsst")
                      if c in codecs]
    elif ZSTD_AVAILABLE:
        candidates = ["str_dict", "str_zstd"]
    else:
        candidates = ["str_dict", "str_zlib"]
    sizes: dict[str, int] = {"str_plain": len(s_blob) + 8 * 2 + 30}
    for c in candidates:
        try:
            p, b = encode_str(c, s_blob, s_off)
            sizes[c] = len(p) + len(b)
        except Exception:
            continue
    codec = min(sizes, key=sizes.get)  # type: ignore[arg-type]
    params, payload = encode_str(codec, blob, offsets)
    if codec != "str_plain":
        pp, pb = encode_str("str_plain", blob, offsets)
        if len(params) + len(payload) >= len(pp) + len(pb):
            return "str_plain", pp, pb
    return codec, params, payload
