"""FSST-style string symbol table codec (scope addition per BASELINE.json:6).

Based on the published FSST design (Boncz, Neumann, Leis — "FSST: Fast
Random Access String Compression", VLDB 2020), simplified:

- a static table of <=255 symbols, each 1..8 bytes, trained on a sample
  by BPE-like *generations*: encode the sample with the current table,
  count adjacent token-pair concatenations, keep the top symbols by
  gain = count * length;
- encode = greedy longest-match over each string's bytes; a byte with no
  match is emitted as ESCAPE (255) + the literal byte;
- decode = per-code-byte table lookup + concatenate.

Vectorization strategy (no per-row Python, BASELINE.json:15): encode runs
one *lane per string*, all lanes advancing in lock-step — each iteration
does whole-array gathers/compares for every active lane, the CPU
transposition of a GPU warp where each thread owns one string. Decode is
a single whole-stream pass: escape positions fall out of run-parity over
runs of 255-bytes, then output bytes are one big gather from the symbol
matrix.
"""

from __future__ import annotations

import functools
import itertools
import struct

import numpy as np

from . import header as H
from .bitpack import pack_bits, unpack_bits, width_of
from .strcol import StrCol

ESCAPE = 255
MAX_SYMBOLS = 255  # codes 0..254
MAX_SYM_LEN = 8

_U64 = np.uint64
_MASKS = np.array([(1 << (8 * l)) - 1 if l < 8 else 0xFFFFFFFFFFFFFFFF
                   for l in range(9)], dtype=np.uint64)


class SymbolTable:
    """Immutable trained table. ``symbols`` is a list[bytes], each 1..8 B."""

    def __init__(self, symbols: list[bytes]):
        assert len(symbols) <= MAX_SYMBOLS
        n = len(symbols)
        self.symbols = symbols
        self.lens = np.array([len(s) for s in symbols], dtype=np.int64)
        self.lens_safe = self.lens if n else np.zeros(1, np.int64)
        # (n_sym, 8) zero-padded byte matrix for the decode gather; its
        # rows read as little-endian u64 are the masked symbol values
        self.matrix = np.frombuffer(
            b"".join(s.ljust(MAX_SYM_LEN, b"\0") for s in symbols)
            or bytes(MAX_SYM_LEN), dtype=np.uint8).reshape(-1, MAX_SYM_LEN)
        self.vals64 = self.matrix.view("<u8").ravel()
        # T1 maps a single byte to its 1-byte symbol code (or -1)
        self.t1 = np.full(256, -1, dtype=np.int64)
        ones = np.flatnonzero(self.lens == 1)
        self.t1[self.matrix[ones, 0]] = ones
        # symbols of len>=2 grouped by 2-byte prefix (SURVEY.md §2.1
        # #13), longest first, then by code; _rank = slot within group
        multi = np.flatnonzero(self.lens >= 2)
        pref = (self.vals64[multi] & _U64(0xFFFF)).astype(np.int64)
        order = np.lexsort((-self.lens[multi], pref))
        multi, pref = multi[order], pref[order]
        self._multi, self._pref = multi, pref
        self._rank = np.arange(len(pref)) - np.searchsorted(pref, pref)
        self.k_max = int(self._rank.max()) + 1 if len(multi) else 0
        # Branch-free C fast-path tables (see _native.py): fixed 3-slot
        # u16 candidate matrix (len<<8 | code, 384 KB — vs the 65536 x
        # k_max int64 prefix table's ~1.5 MB of L3-latency loads) +
        # padded sym_vals. Sentinel slots use code 255 (never a real
        # code: symbols are 0..254) whose padded value 0x100 exceeds any
        # 1-byte masked window, so sentinels can never match. Slot
        # order per prefix = (longest-first) — same as prefix, so
        # the token stream is identical. Tables with >3 candidates per
        # prefix (train caps at 3; only hand-built tables exceed it)
        # fall back to the numpy encoder.
        self.cand3 = np.full(65536 * 3, (1 << 8) | 255, dtype=np.uint16)
        if self.k_max <= 3:
            self.cand3[pref * 3 + self._rank] = (self.lens[multi] << 8) | multi
        self.vals64_pad = np.zeros(256, dtype=np.uint64)
        self.vals64_pad[:n] = self.vals64[:n]
        self.vals64_pad[255] = 0x100

    @functools.cached_property
    def prefix(self) -> np.ndarray:
        """(65536, k_max) int64 table: P[prefix2] lists the codes of the
        len>=2 symbols starting with those two bytes, longest first,
        -1-padded. Only the numpy encoder reads it, so it is built on
        first use."""
        prefix = np.full((65536, self.k_max), -1, dtype=np.int64)
        prefix[self._pref, self._rank] = self._multi
        return prefix

    def serialize(self) -> bytes:
        lens = bytes(self.lens.astype(np.uint8).tobytes())
        return struct.pack("<B", len(self.symbols)) + lens + b"".join(self.symbols)

    @classmethod
    def deserialize(cls, buf) -> "SymbolTable":
        buf = bytes(buf)
        (n,) = struct.unpack_from("<B", buf, 0)
        ends = list(itertools.accumulate(buf[1 : 1 + n], initial=1 + n))
        return cls([buf[a:b] for a, b in zip(ends, ends[1:])])


ENC_CHUNK = 1024  # codec spec: symbols never span 1 KiB chunk boundaries
# within a string — bounds the lock-step iteration count (a straggler
# 1 MB document would otherwise serialize the whole batch) exactly like
# a GPU kernel bounds per-thread work by splitting long inputs across
# threads. The sequential reference encoder chunks identically, so the
# token stream stays byte-identical between the two.


def _lane_split(col: StrCol, chunk: int = ENC_CHUNK):
    """Split rows into lanes of <= chunk bytes.

    Returns (lane_start, lane_end, lane_row) with lanes in row-major,
    chunk-ascending order (so per-lane streams concatenate per row)."""
    lens = col.lengths()
    n_chunks = np.maximum((lens + chunk - 1) // chunk, 0).astype(np.int64)
    total = int(n_chunks.sum())
    lane_row = np.repeat(np.arange(len(col), dtype=np.int64), n_chunks)
    within = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(n_chunks) - n_chunks, n_chunks
    )
    lane_start = col.offsets[:-1][lane_row] + within * chunk
    lane_end = np.minimum(lane_start + chunk, col.offsets[1:][lane_row])
    return lane_start, lane_end, lane_row


def _window_fn(data: np.ndarray):
    """Returns pos-array -> little-endian u64 window reader.

    Two aligned u64 gathers + shifts per position (unaligned-read trick),
    no precomputed window array."""
    n = len(data)
    pad = (-n) % 8 + 16
    padded = np.concatenate([data, np.zeros(pad, np.uint8)])
    aligned = padded.view(np.uint64)

    def read(pos):
        pos = pos.astype(np.uint64, copy=False)
        word = (pos >> _U64(3)).astype(np.int64)
        sh = (pos & _U64(7)) << _U64(3)
        lo = aligned[word] >> sh
        hi = (aligned[word + 1] << ((_U64(64) - sh) & _U64(63))) * (sh != 0)
        return lo | hi

    return read


def encode_tokens(col: StrCol, table: SymbolTable):
    """Greedy longest-match tokenize every string.

    Fast path: a tiny C kernel (codecs/_native.py) runs the greedy
    loop at GB/s — same candidate order, masks and escape rule, so the
    token stream is bit-identical to the numpy path (asserted in
    tests). Fallback (no compiler / LIBGIDDY_SPARK_NO_NATIVE=1): the
    vectorized lock-step numpy encoder — one lane per <=ENC_CHUNK
    (1 KiB) chunk of each string, all lanes advancing together, each
    iteration doing whole-array gathers (the CPU transposition of a
    GPU warp); token order recovered by direct scatter.

    Returns (codes: uint8 stream incl. escapes+literals,
             out_lens: int64 encoded byte count per string).
    """
    from ._native import native_lib

    lib = native_lib()
    # the C fast path's fixed 3-slot candidate matrix can't represent
    # >3 candidates per 2-byte prefix (train caps at 3; only hand-built
    # tables exceed it) — numpy handles those
    if lib is not None and table.k_max <= 3:
        return _encode_tokens_native(col, table, lib)
    return _encode_tokens_numpy(col, table)


def _encode_tokens_native(col: StrCol, table: SymbolTable, lib):
    n = len(col)
    lane_start, lane_end, lane_row = _lane_split(col)
    n_lanes = len(lane_start)
    if n_lanes == 0:
        return np.zeros(0, np.uint8), np.zeros(n, np.int64)
    # 8 slack bytes so the kernel's unconditional 8-byte window load
    # never reads past the allocation (rem>=len masks the garbage out)
    data_len = len(col.data)
    data = np.empty(data_len + 8, dtype=np.uint8)
    data[:data_len] = col.data
    data[data_len:] = 0
    total = int((lane_end - lane_start).sum())
    out = np.empty(2 * total + 8, dtype=np.uint8)
    lane_out = np.zeros(n_lanes, dtype=np.int64)
    nbytes = lib.fsst_encode_lanes(
        data, data_len,
        np.ascontiguousarray(lane_start), np.ascontiguousarray(lane_end),
        n_lanes,
        np.ascontiguousarray(table.cand3),
        np.ascontiguousarray(table.vals64_pad),
        np.ascontiguousarray(table.t1),
        out, lane_out,
    )
    out_lens = np.bincount(lane_row, weights=lane_out, minlength=n).astype(np.int64)
    return out[:nbytes].copy(), out_lens


def _encode_tokens_numpy(col: StrCol, table: SymbolTable):
    n = len(col)
    cursor, end, lane_row = _lane_split(col)
    n_lanes = len(cursor)
    read8 = _window_fn(col.data)
    active = np.flatnonzero(cursor < end)
    have_syms = len(table.symbols) > 0
    prefix_flat = table.prefix.ravel()
    iters_lane: list[np.ndarray] = []
    iters_tok: list[np.ndarray] = []  # uint16: code<<8 | literal (escapes)
    lane_ntok = np.zeros(n_lanes, dtype=np.int64)
    while len(active):
        pos = cursor[active]
        rem = end[active] - pos
        w = read8(pos)
        match_code = np.full(len(active), -1, dtype=np.int64)
        match_len = np.ones(len(active), dtype=np.int64)
        low = w & _U64(0xFF)
        if have_syms:
            unmatched = np.ones(len(active), dtype=bool)
            key_base = (w & _U64(0xFFFF)).astype(np.int64) * table.k_max
            for k in range(table.k_max):
                cand = prefix_flat[key_base + k]
                live = unmatched & (cand >= 0)
                if not live.any():
                    break
                safe = np.maximum(cand, 0)
                cl = table.lens_safe[safe]
                hit = live & (rem >= cl) & ((w & _MASKS[cl]) == table.vals64[safe])
                match_code[hit] = cand[hit]
                match_len[hit] = cl[hit]
                unmatched &= ~hit
            c1 = table.t1[low]
            hit1 = unmatched & (c1 >= 0)
            match_code[hit1] = c1[hit1]
        is_esc = match_code < 0
        tok = np.where(
            is_esc,
            (ESCAPE << 8) | low.astype(np.int64),
            match_code << 8,
        ).astype(np.uint16)
        iters_lane.append(active)
        iters_tok.append(tok)
        lane_ntok[active] += 1
        cursor[active] = pos + match_len
        active = active[match_len < rem]
    if not iters_lane:
        return np.zeros(0, np.uint8), np.zeros(n, np.int64)
    # lane-major token stream via scatter: lane's t-th token <- iteration t
    tok_start = np.zeros(n_lanes, dtype=np.int64)
    np.cumsum(lane_ntok[:-1], out=tok_start[1:])
    total_tok = int(lane_ntok.sum())
    stream = np.empty(total_tok, dtype=np.uint16)
    for t, (lanes_t, tok_t) in enumerate(zip(iters_lane, iters_tok)):
        stream[tok_start[lanes_t] + t] = tok_t
    code_hi = (stream >> np.uint16(8)).astype(np.uint8)
    is_esc = code_hi == ESCAPE
    nbytes_tok = np.where(is_esc, 2, 1).astype(np.int64)
    out_total = int(nbytes_tok.sum())
    offs = np.zeros(total_tok + 1, dtype=np.int64)
    np.cumsum(nbytes_tok, out=offs[1:])
    out = np.empty(out_total, dtype=np.uint8)
    out[offs[:-1]] = code_hi
    esc_idx = np.flatnonzero(is_esc)
    out[offs[:-1][esc_idx] + 1] = (stream[esc_idx] & np.uint16(0xFF)).astype(np.uint8)
    # per-ROW encoded byte counts (lanes are row-major contiguous)
    lane_bytes = np.bincount(
        np.repeat(np.arange(n_lanes), lane_ntok), weights=nbytes_tok, minlength=n_lanes
    ).astype(np.int64) if n_lanes else np.zeros(0, np.int64)
    out_lens = np.bincount(lane_row, weights=lane_bytes, minlength=n).astype(np.int64)
    return out, out_lens


def decode_stream(codes: np.ndarray, table: SymbolTable):
    """Decode a code stream (escape pairs must be intact).

    Returns (out_bytes: uint8 array, offs: int64[m+1] — decoded output
    offset before each code position; escapes contribute 0 bytes).
    Raises ValueError on a non-escape code outside the table or a
    dangling escape at the end of the stream.
    """
    m = len(codes)
    if m == 0:
        return np.zeros(0, np.uint8), np.zeros(1, np.int64)
    from ._native import native_lib

    n_sym = len(table.symbols)
    lib = native_lib()
    if lib is not None:
        # C fast path: two sequential passes (offsets and code check,
        # then byte fill with fixed 8-byte symbol copies) — identical
        # semantics to the vectorized classifier below, asserted by tests
        codes_c = np.ascontiguousarray(codes)
        lens_c = np.ascontiguousarray(table.lens)
        offs = np.empty(m + 1, dtype=np.int64)
        total = lib.fsst_decode_offsets(codes_c, m, lens_c, n_sym, offs)
        if total < 0:
            raise ValueError(_BAD_CODES.format(n_sym))
        out = np.empty(total + 8, dtype=np.uint8)
        lib.fsst_decode_full(
            codes_c, m, np.ascontiguousarray(table.matrix), lens_c, out)
        return out[:total], offs
    is255 = codes == ESCAPE
    # runs of 255: even offsets inside a run are escapes
    d = np.diff(is255.astype(np.int8))
    run_starts = np.flatnonzero(d == 1) + 1
    if is255[0]:
        run_starts = np.concatenate([[0], run_starts])
    run_ends = np.flatnonzero(d == -1) + 1
    if is255[-1]:
        run_ends = np.concatenate([run_ends, [m]])
    run_lens = run_ends - run_starts
    n_esc_per_run = (run_lens + 1) // 2
    total_esc = int(n_esc_per_run.sum())
    if total_esc:
        rep_starts = np.repeat(run_starts, n_esc_per_run)
        eoffs = np.zeros(total_esc + 1, dtype=np.int64)
        np.cumsum(n_esc_per_run, out=eoffs[1 : len(n_esc_per_run) + 1])
        within = np.arange(total_esc) - np.repeat(eoffs[: len(n_esc_per_run)], n_esc_per_run)
        esc_pos = rep_starts + 2 * within
    else:
        esc_pos = np.zeros(0, dtype=np.int64)
    lit_pos = esc_pos + 1
    kind = np.zeros(m, dtype=np.uint8)  # 0 = normal symbol code
    kind[esc_pos] = 1
    kind[lit_pos[lit_pos < m]] = 2
    sym = np.flatnonzero(kind == 0)
    if (total_esc and lit_pos[-1] == m) or (codes[sym] >= n_sym).any():
        raise ValueError(_BAD_CODES.format(n_sym))
    tok_len = np.zeros(m, dtype=np.int64)
    tok_len[sym] = table.lens[codes[sym]]
    out_len = tok_len + (kind == 2)
    total = int(out_len.sum())
    offs = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(out_len, out=offs[1:])
    # byte assembly by symbol-length class: <= 8x8 strided scatters over
    # token subsets instead of one giant token-expanded gather
    out = np.empty(total, dtype=np.uint8)
    lit_sel = np.flatnonzero(kind == 2)
    out[offs[lit_sel]] = codes[lit_sel]
    for L in np.unique(table.lens):
        L = int(L)
        sel = np.flatnonzero(tok_len == L)
        if len(sel) == 0:
            continue
        base = offs[sel]
        cds = codes[sel]
        for k in range(L):
            out[base + k] = table.matrix[cds, k]
    return out, offs


_BAD_CODES = ("FSST code stream does not fit its {} symbol table: a code "
              "outside the table or a dangling escape")


SCHEDULE = (8, 38, 68, 98, 128)  # per generation: chunks of every 128
SAMPLE_CHUNK = 512


def train(sample: np.ndarray, generations: int | None = None) -> SymbolTable:
    """Train a symbol table on a byte sample (uint8 array), BPE-style.

    The trainer sees a SPREAD sample: SAMPLE_CHUNK (512-byte) chunks
    strided evenly across the whole input, 32 KiB total (the FSST
    paper's sampling shape). Chunk seams add <1 fake adjacency per 512
    real ones, noise at counting granularity.

    By default it runs the FSST paper's schedule (Boncz, Neumann &
    Leis, VLDB 2020): 5 generations counting over 8, 38, 68, 98 and
    then all 128 of every 128 chunks, evenly strided. On the selector's
    64 KiB trials of webtext url, text and html, its tables code 7, 10
    and 15 % smaller than 3 full-sample generations did, in the same
    ~4 ms (BENCH/KERNELS.md). ``generations=g`` runs g full-sample
    generations; it keeps the tables recorded before the schedule (the
    golden test) reproducible byte for byte.

    Each generation has two steps. The counting step greedy-tokenizes
    its chunks (in 256-byte lanes) with the current table and counts
    every token and every adjacent token pair of <= 8 bytes as a
    (value, len) candidate. The C kernel ``fsst_count_cands`` does this
    in one hashed pass (codecs/_native.py); without it the numpy path
    encodes, rebuilds token spans (_token_values) and unique-counts
    with a lexsort. Both yield the same counts, and one shared pick
    (_pick_symbols) builds the next table from them, so tables are
    byte-identical on both paths. Deterministic: ties broken by (gain
    desc, value asc, len asc).
    """
    from ._native import native_lib

    total = 1 << 15
    if len(sample) > total:
        k = total // SAMPLE_CHUNK
        starts = (np.arange(k, dtype=np.int64)
                  * (len(sample) - SAMPLE_CHUNK)) // max(k - 1, 1)
        sample = np.concatenate([sample[s:s + SAMPLE_CHUNK] for s in starts])
    if len(sample) == 0:
        return SymbolTable([])
    lib = native_lib()
    table = SymbolTable([])
    for frac in SCHEDULE if generations is None else (128,) * generations:
        col = _sample_lanes(sample, frac)
        if lib is not None:
            vals, lens, counts = _count_native(col, table, lib)
        else:
            vals, lens, counts = _count_numpy(col, table)
        table = SymbolTable(_pick_symbols(vals, lens, counts))
    return table


def _sample_lanes(sample: np.ndarray, frac: int) -> StrCol:
    """``frac`` of every 128 of the sample's SAMPLE_CHUNK chunks (at
    least one, evenly strided, the first always in), split into
    256-byte lanes so the lock-step encoder stays parallel; the few
    lost cross-lane matches are irrelevant for frequency counting."""
    k = -(-len(sample) // SAMPLE_CHUNK)
    m = -(-k * frac // 128)
    if m < k:
        starts = np.arange(m, dtype=np.int64) * k // m * SAMPLE_CHUNK
        sample = np.concatenate([sample[s:s + SAMPLE_CHUNK] for s in starts])
    lane = 256
    offs = np.arange(0, len(sample) + lane, lane, dtype=np.int64)
    offs[-1] = len(sample)
    return StrCol(offs, sample)


def _count_native(col: StrCol, table: SymbolTable, lib):
    """(value, len, count) per distinct candidate, in first-seen order."""
    n = len(col.data)
    data = np.zeros(n + 8, dtype=np.uint8)  # 8 slack bytes: see _native
    data[:n] = col.data
    lane_start, lane_end, _ = _lane_split(col)
    # tokens + pairs <= 2n keys; a power-of-two table at most half full
    cap = 1 << (4 * n - 1).bit_length()
    vals = np.empty(2 * n, dtype=np.uint64)
    lens = np.empty(2 * n, dtype=np.int64)
    counts = np.empty(2 * n, dtype=np.int64)
    k = lib.fsst_count_cands(
        data, lane_start, lane_end, len(lane_start),
        table.cand3, table.vals64_pad,
        np.full(cap, -1, dtype=np.int32), cap,
        vals, lens, counts,
    )
    return vals[:k], lens[:k], counts[:k]


def _count_numpy(col: StrCol, table: SymbolTable):
    """(value, len, count) per distinct candidate, sorted by (value, len)."""
    codes, _ = encode_tokens(col, table)
    # token spans over the sample: reconstruct (start, len) per token
    tok_val, tok_len = _token_values(codes, table, col.data)
    cand_val = [tok_val]
    cand_len = [tok_len]
    pair_len = tok_len[:-1] + tok_len[1:]
    ok = pair_len <= MAX_SYM_LEN
    if ok.any():
        pv = tok_val[:-1][ok] | (tok_val[1:][ok] << (tok_len[:-1][ok] * 8).astype(np.uint64))
        cand_val.append(pv)
        cand_len.append(pair_len[ok])
    v = np.concatenate(cand_val)
    l = np.concatenate(cand_len)
    # unique (value, len) pairs + counts via lexsort (np.unique
    # axis=0 is an order of magnitude slower here)
    order = np.lexsort((l, v))
    vs, ls = v[order], l[order]
    bound = np.ones(len(vs), dtype=bool)
    bound[1:] = (vs[1:] != vs[:-1]) | (ls[1:] != ls[:-1])
    starts = np.flatnonzero(bound)
    counts = np.diff(np.append(starts, len(vs)))
    return vs[starts], ls[starts], counts


PICK_POOL = 1024  # _pick_symbols sorts the top PICK_POOL gains first


def _pick_symbols(vals: np.ndarray, lens: np.ndarray, counts: np.ndarray) -> list[bytes]:
    """The next table's symbols from distinct (value, len) candidates:
    order by (gain = count * len desc, value asc, len asc) — a total
    order, so the candidates' input order does not matter — and take
    the first MAX_SYMBOLS, skipping a len>=2 candidate once three
    earlier ones share its 2-byte prefix. The cap bounds the encoder's
    probe passes (k_max<=3) for ~no ratio cost; freed slots refill
    with the next candidates. It lives in the TABLE, so the naive
    sequential encoder sees identical symbols (stream identity).

    It sorts the top PICK_POOL gains (ties included) first, and all
    candidates only if those leave the table short after the cap. That
    is exact: the top gains are a prefix of the order, so each meets
    the same earlier candidates and prefix-cap decisions as in a full
    sort."""
    gain = counts * lens
    if len(gain) > PICK_POOL:
        cut = len(gain) - PICK_POOL
        top = np.flatnonzero(gain >= np.partition(gain, cut)[cut])
        picked = _pick_sorted(vals[top], lens[top], gain[top])
        if len(picked) == MAX_SYMBOLS:
            return picked
    return _pick_sorted(vals, lens, gain)


def _pick_sorted(vals: np.ndarray, lens: np.ndarray, gain: np.ndarray) -> list[bytes]:
    """_pick_symbols over a full sort of the given candidates."""
    order = np.lexsort((lens, vals, -gain))
    v, l = vals[order], lens[order]
    multi = np.flatnonzero(l >= 2)
    pref = (v[multi] & _U64(0xFFFF)).astype(np.int64)
    by_pref = np.argsort(pref, kind="stable")  # rank order within prefix
    ps = pref[by_pref]
    rank = np.arange(len(ps)) - np.searchsorted(ps, ps)
    keep = np.ones(len(v), dtype=bool)
    keep[multi[by_pref[rank >= 3]]] = False
    pick = np.flatnonzero(keep)[:MAX_SYMBOLS]
    raw = v[pick].astype("<u8").tobytes()
    return [raw[8 * i: 8 * i + ln] for i, ln in enumerate(l[pick].tolist())]


def _token_values(codes: np.ndarray, table: SymbolTable, sample: np.ndarray):
    """(u64 value, byte length) per token of an encoded sample stream."""
    m = len(codes)
    if m == 0:
        return np.zeros(0, np.uint64), np.zeros(0, np.int64)
    # reuse decode-side classification
    out_bytes, offs = decode_stream(codes, table)
    # tokens = positions with kind 0 (symbol) or 2 (literal); their decoded
    # spans are consecutive in out_bytes == sample
    tok_mask = np.diff(offs) > 0  # escape positions contribute 0 bytes
    starts = offs[:-1][tok_mask]
    lens = np.diff(offs)[tok_mask]
    vals = _window_fn(out_bytes)(starts) & _MASKS[np.minimum(lens, 8)]
    return vals, lens.astype(np.int64)


def encode_fsst(col: StrCol, dt: int, table: SymbolTable | None = None) -> bytes:
    n = len(col)
    if table is None:
        table = train(col.data)
    codes, out_lens = encode_tokens(col, table)
    lw = width_of(int(out_lens.max())) if n else 0
    params = struct.pack("<QB", n, lw)
    return H.pack_block(
        H.FSST,
        dt,
        n,
        [
            params,
            table.serialize(),
            pack_bits(out_lens.astype(np.uint64), lw),
            codes.tobytes(),
        ],
    )


def decode_fsst(sections, n: int, dt: int) -> StrCol:
    _, lw = struct.unpack_from("<QB", sections[0], 0)
    table = SymbolTable.deserialize(sections[1])
    enc_lens = unpack_bits(sections[2], n, lw).astype(np.int64)
    codes = np.frombuffer(sections[3], dtype=np.uint8)
    out_bytes, offs_tok = decode_stream(codes, table)
    # per-string decoded lengths: sum decoded bytes over each string's codes
    code_offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(enc_lens, out=code_offs[1:])
    str_out_offs = offs_tok[code_offs]
    return StrCol(str_out_offs.astype(np.int64), out_bytes)
