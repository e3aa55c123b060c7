"""Naive reference encoders — the operative compressed-size bound.

BASELINE.json:6 requires compressed size <= "the reference encoder's".
The upstream snapshot is empty in this sandbox (SURVEY.md §0), so per
SURVEY.md §5.2.3 each scheme gets a deliberately simple, obviously
correct textbook encoder here; the production encoder must achieve
``enc_bytes <= naive_bytes + HEADER_ALLOWANCE`` on every test input
(the allowance covers the self-describing block container — codec id,
dtype, section lengths — which the naive layouts omit).

These run in pure Python / trivial numpy on test-sized inputs only;
clarity over speed by design.
"""

from __future__ import annotations

import numpy as np

from .fsst import ESCAPE, SymbolTable

HEADER_ALLOWANCE = 128


def _bits(v: int) -> int:
    return int(v).bit_length()


def _u(x: np.ndarray) -> np.ndarray:
    if x.dtype.kind == "u":
        return x.astype(np.uint64)
    return x.astype(np.int64).view(np.uint64)


def naive_bitpack_bytes(x: np.ndarray) -> int:
    """Textbook fixed-width bit-packing: w = bits(max), one width byte."""
    n = len(x)
    if n == 0:
        return 1
    w = max(_bits(int(v)) for v in _u(x))
    return 1 + (n * w + 7) // 8


SEG = 4096  # libgiddy's segmented layouts carry one anchor/reference per
# segment so segments decode in parallel (SURVEY.md §2.1 #2/#3 — that IS
# the reference's normative layout); the naive encoders mirror it.


def naive_for_bytes(x: np.ndarray) -> int:
    """Per-segment 8B reference + offsets bit-packed at bits(max offset)."""
    n = len(x)
    if n == 0:
        return 9
    u = _u(x)
    signed = x.dtype.kind != "u"
    nseg = (n + SEG - 1) // SEG
    total = 1 + 8 * nseg
    w = 0
    for s in range(nseg):
        seg = u[s * SEG : (s + 1) * SEG]
        ref = (
            np.array([seg.view(np.int64).min()], np.int64).view(np.uint64)[0]
            if signed
            else seg.min()
        )
        w = max(w, max(_bits(int(v - ref)) for v in seg))
    return total + (n * w + 7) // 8


def naive_delta_bytes(x: np.ndarray) -> int:
    """Per-segment 8B anchor + zigzag deltas bit-packed at bits(max)."""
    n = len(x)
    if n == 0:
        return 9
    u = _u(x).view(np.int64)
    d = np.zeros(n, dtype=np.int64)
    d[1:] = u[1:] - u[:-1]
    zz = ((d << 1) ^ (d >> 63)).view(np.uint64)
    zz[::SEG] = 0  # anchor positions
    nseg = (n + SEG - 1) // SEG
    w = max(_bits(int(v)) for v in zz)
    return 1 + 8 * nseg + (n * w + 7) // 8


def naive_dzbv_bytes(x: np.ndarray) -> int:
    """Textbook DZB-variable: 2-bit code per element (packed 4/byte) +
    the minimal 1/2/4/8 significant little-endian bytes per element."""
    n = len(x)
    if n == 0:
        return 1
    total = (n + 3) // 4
    for v in _u(x):
        b = max((_bits(int(v)) + 7) // 8, 1)
        total += next(L for L in (1, 2, 4, 8) if L >= b)
    return total


def naive_dict_int_bytes(x: np.ndarray) -> int:
    """Dictionary of 8B values + indices bit-packed at bits(card-1)."""
    n = len(x)
    uniq = np.unique(x)
    iw = _bits(max(len(uniq) - 1, 0))
    return 8 + len(uniq) * 8 + (n * iw + 7) // 8


def naive_dict_str_bytes(items: list[bytes]) -> int:
    """Arrow-style dictionary: int32 offsets + bytes, int-packed indices."""
    uniq = sorted(set(items))
    dict_bytes = 4 * (len(uniq) + 1) + sum(len(s) for s in uniq)
    iw = _bits(max(len(uniq) - 1, 0))
    return 8 + dict_bytes + (len(items) * iw + 7) // 8


def naive_rle_int_bytes(x: np.ndarray) -> int:
    """Textbook RLE: (8B value, 8B length) per run."""
    n = len(x)
    if n == 0:
        return 8
    nruns = 1 + int((x[1:] != x[:-1]).sum())
    return 8 + nruns * 16


def naive_rle_str_bytes(items: list[bytes]) -> int:
    """(4B offset + value bytes) per run value + 8B length per run."""
    if not items:
        return 8
    runs = [items[0]]
    for a, b in zip(items, items[1:]):
        if b != a:
            runs.append(b)
    return 8 + 4 * (len(runs) + 1) + sum(len(r) for r in runs) + 8 * len(runs)


def naive_raw_str_bytes(items: list[bytes]) -> int:
    """Arrow var-length layout: int64 offsets + data bytes."""
    return 8 * (len(items) + 1) + sum(len(s) for s in items)


def naive_fsst_encode(items: list[bytes], table: SymbolTable) -> bytes:
    """Per-byte Python greedy longest-match with the SAME trained table —
    the obviously-correct sequential mirror of the vectorized encoder.
    Returns the code stream, so tests can also assert the vectorized
    token stream is byte-identical, not merely no larger.

    Codec spec shared with the vectorized encoder: symbols never span
    fsst.ENC_CHUNK (1 KiB) chunk boundaries within a string."""
    from .fsst import ENC_CHUNK

    by_len: dict[int, dict[bytes, int]] = {}
    for code, s in enumerate(table.symbols):
        by_len.setdefault(len(s), {})[s] = code
    out = bytearray()
    for s0 in items:
        for c in range(0, len(s0), ENC_CHUNK):
            s = s0[c : c + ENC_CHUNK]
            i = 0
            while i < len(s):
                for l in range(min(8, len(s) - i), 0, -1):
                    code = by_len.get(l, {}).get(s[i : i + l])
                    if code is not None:
                        out.append(code)
                        i += l
                        break
                else:
                    out.append(ESCAPE)
                    out.append(s[i])
                    i += 1
    return bytes(out)


def naive_fsst_bytes(items: list[bytes], table: SymbolTable) -> int:
    stream = naive_fsst_encode(items, table)
    table_bytes = 1 + len(table.symbols) + sum(len(s) for s in table.symbols)
    return table_bytes + 8 * len(items) + len(stream)  # 8B length per string
