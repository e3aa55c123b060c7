"""Per-(partition, column) codec auto-selector (SURVEY.md §2.1 #14).

Samples column statistics — cardinality, run lengths, value ranges,
delta ranges, symbol/byte frequencies via an FSST trial — and picks the
cheapest codec with RLE/raw fallback (BASELINE.json:6). Expected picks:
dict for ``lang``, delta/FoR+bit-pack for ``warc_ts``, FSST for
``url``/``text``. Pure numpy/pyarrow on a bounded sample; the decision
and the stats that drove it are recorded in the manifest
("codec-choice metrics").
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .codecs import fsst as fsst_mod
from .codecs import header as H
from .codecs import strcol_of
from .codecs.intcodec import estimate_sizes
from .codecs.strcol import StrCol

SAMPLE_VALUES = 8192
FSST_TRIAL_BYTES = 1 << 16

# Measured single-core kernel throughputs in GB/s of RAW bytes
# (encode, decode), rounded from BENCH/KERNELS.md (4 vCPUs; fsst is
# its webtext text row, raw its webtext text raw row); dzbv has no
# measured row and keeps a conservative estimate. Size alone mispicks:
# encode throughput spans 6.2 GB/s (rle) to 0.18 GB/s (fsst) and a
# near-tie on size can cost 30x the CPU (VERDICT r2 "what's missing"
# #3). tests/test_selector.py pins the picks these values give.
SPEED_GBPS: dict[str, tuple[float, float]] = {
    "for": (1.1, 2.8),
    "delta": (1.3, 0.68),
    "dict": (0.28, 0.71),
    "rle": (6.2, 9.8),
    "fsst": (0.18, 0.79),
    "raw": (3.5, 4.8),
    "dzbv": (0.5, 0.8),
}
# Size-vs-speed weight: one nanosecond of per-value (encode + decode)
# CPU counts as this many bytes of storage. 0.02 B/ns means a codec
# must save >= 0.02 B/value for every extra ns/value it costs — i.e.
# marginal compression below 20 GB/s-equivalent isn't worth the CPU.
# Near-size-ties (< ~0.5 B/value on 8-byte ints) flip to the faster
# codec; real size wins (FSST on text: ~100 B/value saved) dominate.
SPEED_WEIGHT = 0.02


def _speed_penalty(codec: str, raw_bytes_per_value: float) -> float:
    enc, dec = SPEED_GBPS.get(codec, (0.5, 0.8))
    ns = raw_bytes_per_value / enc + raw_bytes_per_value / dec
    return SPEED_WEIGHT * ns


def _pick(per_value: dict[str, float], raw_bpv: float) -> tuple[str, dict[str, float]]:
    """Cheapest codec by size + speed-equivalent bytes; returns the
    pick and the effective costs (recorded in the manifest stats so
    every choice is auditable)."""
    eff = {k: v + _speed_penalty(k, raw_bpv) for k, v in per_value.items()}
    return min(eff, key=lambda k: (eff[k], k)), eff


def _sample(arr: pa.Array, k: int = SAMPLE_VALUES) -> pa.Array:
    """Deterministic stride sample preserving local run structure."""
    n = len(arr)
    if n <= k:
        return arr
    # contiguous stripes (not pure stride) so run-length stats survive
    stripe = 256
    nstripes = max(k // stripe, 1)
    step = n // nstripes
    idx = (np.arange(nstripes)[:, None] * step + np.arange(stripe)[None, :]).ravel()
    idx = idx[idx < n]
    return arr.take(pa.array(idx, type=pa.int64()))


def select_codec(
    arr: pa.Array, column: str | None = None
) -> tuple[str, dict, dict]:
    """-> (codec name, stats dict, artifacts dict).

    ``artifacts`` may carry a trial-trained FSST table ('fsst_table')
    so the encoder does not re-train on the same partition."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n_total = len(arr)
    dense = arr.drop_null() if arr.null_count else arr
    if len(dense) == 0:
        return "raw", {"n": n_total, "reason": "all-null-or-empty"}, {}
    s = _sample(dense)
    n = len(s)
    dt = None
    try:
        from .codecs import _logical_dt

        dt = _logical_dt(s.type)
    except TypeError:
        return "raw", {"n": n_total, "reason": "unsupported-type"}, {}

    if H.is_string_dt(dt):
        return _select_string(s, n_total)
    codec, stats = _select_numeric(s, dt, n_total)
    return codec, stats, {}


def train_fsst(arr: pa.Array) -> fsst_mod.SymbolTable:
    """The FSST table of a column the selector did not trial (a forced
    ``fsst`` codec), trained on the same shape of sample as the trial:
    the first FSST_TRIAL_BYTES of the column's non-null values. A
    bounded sample keeps training cost flat in the column size; FSST's
    escape byte keeps any input encodable under a sampled table."""
    dense = arr.drop_null() if arr.null_count else arr
    return fsst_mod.train(strcol_of(dense).data[:FSST_TRIAL_BYTES])


def _runs_fraction(neq: np.ndarray, n: int) -> float:
    nruns = 1 + int(neq.sum())
    return nruns / max(n, 1)


def _select_numeric(s: pa.Array, dt: int, n_total: int) -> tuple[str, dict]:
    from .codecs import _int_values

    x = _int_values(s, dt)
    n = len(x)
    card = len(np.unique(x[: SAMPLE_VALUES]))
    nruns = 1 + int((x[1:] != x[:-1]).sum()) if n > 1 else n
    est = estimate_sizes(x)  # bitpack/for/delta per-value costs on sample
    per_value = {k: v / n for k, v in est.items() if k in ("for", "delta")}
    # dict: card * 8 bytes amortized + packed index width
    iw = max(int(np.ceil(np.log2(max(card, 2)))), 1)
    per_value["dict"] = iw / 8 + card * 8 / max(n, 1)
    # rle: each run costs ~ (value width + length width); per value:
    vw = min(per_value["for"] * 8, 64)
    per_value["rle"] = (nruns / n) * (vw + 32) / 8
    per_value["raw"] = x.dtype.itemsize
    # dzbv: 2-bit code + 1/2/4/8 significant bytes per value
    from .codecs.extra import _DZBV_LENS, dzbv_codes
    from .codecs.intcodec import _as_u64

    per_value["dzbv"] = float(_DZBV_LENS[dzbv_codes(_as_u64(x))].mean()) + 0.25
    codec, eff = _pick(per_value, float(x.dtype.itemsize))
    stats = {
        "n": n_total,
        "sample_n": n,
        "cardinality": card,
        "n_runs": nruns,
        "min": int(x.min()),
        "max": int(x.max()),
        "est_bytes_per_value": {k: round(v, 3) for k, v in per_value.items()},
        "eff_bytes_per_value": {k: round(v, 3) for k, v in eff.items()},
    }
    return codec, stats


def _select_string(s: pa.Array, n_total: int) -> tuple[str, dict, dict]:
    n = len(s)
    card = pc.count_distinct(s).as_py()
    if n > 1:
        neq = pc.not_equal(s.slice(1), s.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
        nruns = 1 + int(np.nansum(neq))
    else:
        nruns = n
    col = strcol_of(s)
    total_bytes = col.nbytes
    avg_len = total_bytes / n
    per_value: dict[str, float] = {"raw": avg_len + 2.0}
    # dict: unique values stored once + packed indices
    iw = max(int(np.ceil(np.log2(max(card, 2)))), 1)
    uniq_bytes_est = (card / n) * total_bytes + 2.0 * card  # uniques ~ avg len
    per_value["dict"] = iw / 8 + uniq_bytes_est / n
    per_value["rle"] = (nruns / n) * (avg_len + 6.0)
    # fsst trial: train on a slice of the sample bytes with the FSST
    # paper's 5-generation growing-sample schedule (fsst.train's
    # default: perfbench webtext ratio 0.50 -> 0.44 against the 3
    # full-sample generations used before, for the same training
    # time), measure ratio; the trained table is returned for reuse by
    # the actual encoder
    fsst_ratio = None
    artifacts: dict = {}
    if avg_len >= 4 and card > max(n // 64, 16):
        trial = col.data[:FSST_TRIAL_BYTES]
        table = fsst_mod.train(trial)
        chunk = 256
        offs = np.arange(0, len(trial) + chunk, chunk, dtype=np.int64)
        offs[-1] = len(trial)
        codes, _ = fsst_mod.encode_tokens(StrCol(offs, trial), table)
        fsst_ratio = len(codes) / max(len(trial), 1)
        per_value["fsst"] = fsst_ratio * avg_len + 2.0 + 1200.0 / max(n_total, 1)
        artifacts["fsst_table"] = table
    codec, eff = _pick(per_value, avg_len)
    stats = {
        "n": n_total,
        "sample_n": n,
        "cardinality": card,
        "n_runs": nruns,
        "avg_len": round(avg_len, 2),
        "fsst_trial_ratio": round(fsst_ratio, 4) if fsst_ratio is not None else None,
        "est_bytes_per_value": {k: round(v, 3) for k, v in per_value.items()},
        "eff_bytes_per_value": {k: round(v, 3) for k, v in eff.items()},
    }
    return codec, stats, artifacts
