"""Optional C fast path for the FSST greedy tokenizer and trainer.

The vectorized numpy encoder (fsst.encode_tokens) is the portable
baseline, but its lock-step formulation costs ~75 ns/byte in numpy
dispatch overhead — FSST encode was 63% of whole-job wall time in
round 1. The greedy longest-match loop is branchy, byte-granular and
cache-local (the symbol table fits in L1), i.e. exactly what a few
lines of C do at GB/s. This module compiles that loop with the host
``cc`` at first use and caches the .so; if no compiler is available
(or ``LIBGIDDY_SPARK_NO_NATIVE=1``), callers fall back to the numpy
kernel. Token streams are bit-identical by construction (the C loop
mirrors the numpy matcher exactly — same 2-byte-prefix candidate
order, same masks, same escape rule) and tests assert it.

The same matcher drives the trainer's counting pass
(``fsst_count_cands``): per generation, fsst.train tokenizes its
sample and hash-counts tokens and adjacent token pairs in one C loop.
It has the same no-compiler fallback, the numpy encode + lexsort
count, and both give identical counts, hence identical tables.

The C source is embedded so the package stays a plain ``--py-files``
zip: each executor host compiles once into a content-addressed file
under the system temp dir (atomic rename — safe under concurrent
workers). Little-endian hosts only (x86-64/aarch64); big-endian falls
back to numpy.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import sys
import tempfile

import numpy as np

_C_SRC = r"""
#include <stdint.h>
#include <string.h>

static const uint64_t MASKS[9] = {
    0ULL, 0xFFULL, 0xFFFFULL, 0xFFFFFFULL, 0xFFFFFFFFULL,
    0xFFFFFFFFFFULL, 0xFFFFFFFFFFFFULL, 0xFFFFFFFFFFFFFFULL,
    0xFFFFFFFFFFFFFFFFULL};

/* The greedy matcher shared by the tokenizer and the trainer's
   counting pass: the longest multi-byte symbol whose bytes start the
   8-byte window w (rem bytes left in the lane). Returns its code and
   sets *mlen to its length, or returns -1 with *mlen = 1.

   The candidate table is a fixed 3-slot u16 matrix cand3[pref*3+k] =
   len<<8 | code (384 KB, L2-resident — vs the old 65536 x k_max int64
   table's ~1.5 MB of L3-latency loads), sorted longest-first per
   2-byte prefix. Sentinel slots carry code 255 (never a real code:
   symbols are 0..254) whose padded sym_vals entry 0x100 exceeds any
   1-byte masked window, so sentinels can never match; the early-break
   candidate loop therefore behaves exactly like the old -1-terminated
   scan, longest-first. (A fully branch-free cmov variant and a 4-lane
   interleaved variant were both measured SLOWER on this data — the
   branches predict well and the extra always-evaluated loads
   dominate.) */
static inline long match_multi(
    uint64_t w, long rem, const uint16_t* cand3, const uint64_t* sym_vals,
    long* mlen)
{
    const uint16_t* s = cand3 + (w & 0xFFFFULL) * 3;
    for (long k = 0; k < 3; k++) {
        const long c = s[k] & 0xFF;
        const long cl = s[k] >> 8;
        if (rem >= cl && (w & MASKS[cl]) == sym_vals[c]) {
            *mlen = cl;
            return c;
        }
    }
    *mlen = 1;
    return -1;
}

/* Greedy longest-match FSST tokenizer over pre-split lanes.
   Mirrors fsst.encode_tokens exactly:
   - per position, try the candidates for the 2-byte prefix (sorted
     longest-first), first (rem>=len && masked window == value) wins;
   - else the 1-byte symbol for the leading byte;
   - else ESCAPE(255) + literal byte.

   `data` MUST have >=8 readable slack bytes past data_len (caller
   pads): the unconditional 8-byte load reads garbage there, but the
   rem>=len guard keeps it out of every comparison.
   Returns total output bytes; per-lane byte counts in lane_out_lens. */
long fsst_encode_lanes(
    const uint8_t* data, long data_len,
    const int64_t* lane_start, const int64_t* lane_end, long n_lanes,
    const uint16_t* cand3,
    const uint64_t* sym_vals,   /* 256 entries; [255] = 0x100 sentinel */
    const int64_t* t1,
    uint8_t* out, int64_t* lane_out_lens)
{
    (void)data_len;
    long o = 0;
    for (long L = 0; L < n_lanes; L++) {
        int64_t pos = lane_start[L];
        const int64_t end = lane_end[L];
        const long o0 = o;
        while (pos < end) {
            uint64_t w;
            memcpy(&w, data + pos, 8);  /* padded: always safe */
            long mlen;
            const long code = match_multi(w, end - pos, cand3, sym_vals, &mlen);
            if (code >= 0) {
                out[o++] = (uint8_t)code;
            } else {
                const int64_t c1 = t1[w & 0xFFULL];
                if (c1 >= 0) {
                    out[o++] = (uint8_t)c1;
                } else {
                    out[o++] = 255;
                    out[o++] = (uint8_t)(w & 0xFFULL);
                }
            }
            pos += mlen;
        }
        lane_out_lens[L] = o - o0;
    }
    return o;
}

/* Add one occurrence of candidate (v, l) to the open-addressing count
   table: slots[h] is -1 or the key's index into out_*. Returns the new
   number of distinct keys. */
static inline long count_key(
    uint64_t v, long l, int32_t* slots, uint64_t mask,
    uint64_t* out_val, int64_t* out_len, int64_t* out_cnt, long n)
{
    uint64_t h = (v ^ ((uint64_t)l << 59)) * 0x9E3779B97F4A7C15ULL;
    h ^= h >> 29;
    for (;;) {
        const uint64_t i = h & mask;
        const int32_t j = slots[i];
        if (j < 0) {
            slots[i] = (int32_t)n;
            out_val[n] = v;
            out_len[n] = l;
            out_cnt[n] = 1;
            return n + 1;
        }
        if (out_val[j] == v && out_len[j] == l) {
            out_cnt[j]++;
            return n;
        }
        h = i + 1;
    }
}

/* One training generation's candidate counts (fsst.train): tokenize
   the lanes with the current table (match_multi, as in
   fsst_encode_lanes; a 1-byte symbol and an escaped literal are the
   same (byte, 1) token), then hash-count every token (value, len) and
   every adjacent token pair whose concatenation is <= 8 bytes. Pairs
   run over the lane-ordered token stream, so they cross lane seams
   exactly as the numpy path's tok_val[:-1] / tok_val[1:] do. Values
   are little-endian, zero above their length, so b"a" and b"a\0" are
   distinct (value, len) keys.

   `data` needs 8 slack bytes (as above). `slots` has cap entries, all
   -1, cap a power of two >= 2x the number of keys (tokens + pairs <=
   2x the sample bytes); out_* get one entry per distinct key, in
   first-seen order. Returns the number of distinct keys. */
long fsst_count_cands(
    const uint8_t* data,
    const int64_t* lane_start, const int64_t* lane_end, long n_lanes,
    const uint16_t* cand3, const uint64_t* sym_vals,
    int32_t* slots, long cap,
    uint64_t* out_val, int64_t* out_len, int64_t* out_cnt)
{
    const uint64_t mask = (uint64_t)cap - 1;
    long n = 0;
    uint64_t pv = 0;
    long pl = 0;  /* previous token's length; 0 before the first */
    for (long L = 0; L < n_lanes; L++) {
        int64_t pos = lane_start[L];
        const int64_t end = lane_end[L];
        while (pos < end) {
            uint64_t w;
            memcpy(&w, data + pos, 8);
            long l;
            const long c = match_multi(w, end - pos, cand3, sym_vals, &l);
            const uint64_t v = c >= 0 ? sym_vals[c] : (w & 0xFFULL);
            n = count_key(v, l, slots, mask, out_val, out_len, out_cnt, n);
            if (pl && pl + l <= 8)
                n = count_key(pv | (v << (8 * pl)), pl + l, slots, mask,
                              out_val, out_len, out_cnt, n);
            pv = v;
            pl = l;
            pos += l;
        }
    }
    return n;
}

/* FSST decode, pass 1: per-code output offsets (offs[i] = decoded
   bytes before code position i; escape markers contribute 0 bytes,
   their literal contributes 1). Returns the total decoded size.
   Semantics identical to the numpy escape-run-parity classifier:
   inside a run of 255 bytes, alternating positions are escapes. */
long fsst_decode_offsets(
    const uint8_t* codes, long m,
    const int64_t* sym_lens, long n_sym, int64_t* offs)
{
    long o = 0;
    int lit = 0;
    for (long i = 0; i < m; i++) {
        offs[i] = o;
        if (lit) { o += 1; lit = 0; }
        else if (codes[i] == 255) { lit = 1; }
        else {
            const long c = codes[i] < n_sym ? codes[i] : n_sym - 1;
            o += sym_lens[c];
        }
    }
    offs[m] = o;
    return o;
}

/* FSST decode, pass 2: byte fill. `out` needs >=8 bytes of slack
   (symbol copies are fixed 8-byte memcpys advanced by true length). */
void fsst_decode_full(
    const uint8_t* codes, long m,
    const uint8_t* sym_matrix, const int64_t* sym_lens, long n_sym,
    uint8_t* out)
{
    long o = 0;
    int lit = 0;
    for (long i = 0; i < m; i++) {
        if (lit) { out[o++] = codes[i]; lit = 0; }
        else if (codes[i] == 255) { lit = 1; }
        else {
            const long c = codes[i] < n_sym ? codes[i] : n_sym - 1;
            memcpy(out + o, sym_matrix + c * 8, 8);
            o += sym_lens[c];
        }
    }
}

/* Fixed-width little-endian bit packing (the innermost int-codec
   kernel; FoR/delta/dict/RLE all compose onto it). Caller zeroes
   `out` (nwords + 1 slack) and guarantees v[i] < 2^width, 0<width<64. */
void pack_bits64(const uint64_t* v, long n, long width, uint64_t* out)
{
    long bitpos = 0;
    for (long i = 0; i < n; i++) {
        const long wi = bitpos >> 6;
        const long off = bitpos & 63;
        out[wi] |= v[i] << off;
        if (off + width > 64)
            out[wi + 1] |= v[i] >> (64 - off);
        bitpos += width;
    }
}

/* Inverse of pack_bits64; `words` has >=1 trailing slack word. */
void unpack_bits64(const uint64_t* words, long n, long width, uint64_t* out)
{
    const uint64_t mask = (1ULL << width) - 1;
    long bitpos = 0;
    for (long i = 0; i < n; i++) {
        const long wi = bitpos >> 6;
        const long off = bitpos & 63;
        const uint64_t lo = words[wi] >> off;
        const uint64_t hi = off ? (words[wi + 1] << (64 - off)) : 0;
        out[i] = (lo | hi) & mask;
        bitpos += width;
    }
}

/* Vectorized int.bit_length() (width chooser input). */
void bit_lengths64(const uint64_t* v, long n, uint8_t* out)
{
    for (long i = 0; i < n; i++)
        out[i] = v[i] ? (uint8_t)(64 - __builtin_clzll(v[i])) : 0;
}

/* Row gather over a string column (dict/RLE decode), two fused
   passes: output offsets, then one memcpy per row. The numpy
   formulation ran two int64 fancy-gathers + a cumsum over the rows
   and then materialized THREE int64 index arrays of one entry per
   OUTPUT BYTE (~24x write amplification) — the dict-decode hotspot
   for short strings. */
void take_offsets(const int64_t* offs, const int64_t* idx, long n,
                  int64_t* out_offs)
{
    int64_t acc = 0;
    for (long i = 0; i < n; i++) {
        out_offs[i] = acc;
        acc += offs[idx[i] + 1] - offs[idx[i]];
    }
    out_offs[n] = acc;
}

void gather_str_idx(const int64_t* offs, const uint8_t* data,
                    const int64_t* idx, const int64_t* out_offs,
                    long n, uint8_t* out)
{
    for (long i = 0; i < n; i++)
        memcpy(out + out_offs[i], data + offs[idx[i]],
               (size_t)(out_offs[i + 1] - out_offs[i]));
}

/* Fused delta pre-pass: zigzagged wrapping diffs with per-segment
   anchors zeroed, plus the bit-length histogram of the result — ONE
   read of `u` and one write of `zz` replace the numpy diff + zigzag +
   bit_lengths + bincount chain (4 extra full-column passes of memory
   traffic, the round-4 verdict's np.diff hotspot). hist must be 65
   zeroed int64 slots. */
void delta_zigzag_hist64(
    const uint64_t* u, long n, long seg_len, uint64_t* zz, int64_t* hist)
{
    uint64_t prev = 0;
    for (long i = 0; i < n; i++) {
        uint64_t d = (i % seg_len == 0) ? 0 : u[i] - prev;
        prev = u[i];
        /* zigzag: (d<<1)^(d>>63) with the left shift done unsigned
           (wrapping, like numpy) and the sign-mask shift arithmetic */
        uint64_t z = (d << 1) ^ (uint64_t)(((int64_t)d) >> 63);
        zz[i] = z;
        hist[z ? 64 - __builtin_clzll(z) : 0]++;
    }
}

/* Fused PFOR pack: bit-pack (bl<=w ? v : 0) at width w while
   collecting the exceptions (ascending positions + original values) —
   one read of `v` replaces numpy's where/flatnonzero/mask passes plus
   the separate pack pass. `out` zeroed with 1 slack word; returns the
   exception count (caller sized the arrays from the histogram). */
long pack_exc64(
    const uint64_t* v, long n, long w,
    uint64_t* out, int64_t* exc_pos, uint64_t* exc_val)
{
    const uint64_t lim = (w >= 64) ? 0xFFFFFFFFFFFFFFFFULL
                                   : ((1ULL << w) - 1);
    long ne = 0;
    long bitpos = 0;
    for (long i = 0; i < n; i++) {
        uint64_t x = v[i];
        if (x > lim) {
            exc_pos[ne] = i;
            exc_val[ne] = x;
            ne++;
            x = 0;
        }
        if (w) {
            const long wi = bitpos >> 6;
            const long off = bitpos & 63;
            out[wi] |= x << off;
            if (off + w > 64)
                out[wi + 1] |= x >> (64 - off);
            bitpos += w;
        }
    }
    return ne;
}
"""

_lib = None
_tried = False


def _compile() -> str | None:
    digest = hashlib.sha256(_C_SRC.encode()).hexdigest()[:16]
    so_path = os.path.join(tempfile.gettempdir(), f"lgs_fsst_{digest}.so")
    if os.path.exists(so_path):
        return so_path
    cc = os.environ.get("CC", "cc")
    tmpdir = tempfile.mkdtemp(prefix="lgs_cc_")
    c_path = os.path.join(tmpdir, "fsst_kernel.c")
    with open(c_path, "w") as f:
        f.write(_C_SRC)
    tmp_so = os.path.join(tmpdir, "fsst_kernel.so")
    # -march=native when the toolchain supports it (the .so is cached
    # per-host under its temp dir, so host-specific codegen is safe);
    # plain -O3 otherwise
    for extra in (["-march=native"], []):
        try:
            subprocess.run(
                [cc, "-O3", *extra, "-shared", "-fPIC", "-o", tmp_so, c_path],
                check=True, capture_output=True, timeout=120,
            )
            os.replace(tmp_so, so_path)  # atomic under concurrent workers
            return so_path
        except (OSError, subprocess.SubprocessError):
            continue
    return None


def native_lib():
    """ctypes handle to the compiled kernel, or None (fallback)."""
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    if os.environ.get("LIBGIDDY_SPARK_NO_NATIVE") == "1":
        return None
    if sys.byteorder != "little":
        return None
    so_path = _compile()
    if so_path is None:
        return None
    try:
        lib = ctypes.CDLL(so_path)
    except OSError:
        return None
    i64p = np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS")
    i32p = np.ctypeslib.ndpointer(np.int32, flags="C_CONTIGUOUS")
    u64p = np.ctypeslib.ndpointer(np.uint64, flags="C_CONTIGUOUS")
    u16p = np.ctypeslib.ndpointer(np.uint16, flags="C_CONTIGUOUS")
    u8p = np.ctypeslib.ndpointer(np.uint8, flags="C_CONTIGUOUS")
    lib.fsst_encode_lanes.restype = ctypes.c_long
    lib.fsst_encode_lanes.argtypes = [
        u8p, ctypes.c_long,          # data (8B padded), data_len
        i64p, i64p, ctypes.c_long,   # lane_start, lane_end, n_lanes
        u16p,                        # cand3 (65536*3: len<<8 | code)
        u64p,                        # sym_vals (256, [255]=sentinel)
        i64p,                        # t1
        u8p, i64p,                   # out, lane_out_lens
    ]
    lib.fsst_count_cands.restype = ctypes.c_long
    lib.fsst_count_cands.argtypes = [
        u8p,                         # data (8B padded)
        i64p, i64p, ctypes.c_long,   # lane_start, lane_end, n_lanes
        u16p, u64p,                  # cand3, sym_vals
        i32p, ctypes.c_long,         # slots (all -1), cap (power of 2)
        u64p, i64p, i64p,            # out_val, out_len, out_cnt
    ]
    lib.fsst_decode_offsets.restype = ctypes.c_long
    lib.fsst_decode_offsets.argtypes = [
        u8p, ctypes.c_long,          # codes, m
        i64p, ctypes.c_long, i64p,   # sym_lens, n_sym, offs
    ]
    lib.fsst_decode_full.restype = None
    lib.fsst_decode_full.argtypes = [
        u8p, ctypes.c_long,          # codes, m
        u8p, i64p, ctypes.c_long,    # sym_matrix, sym_lens, n_sym
        u8p,                         # out
    ]
    lib.pack_bits64.restype = None
    lib.pack_bits64.argtypes = [u64p, ctypes.c_long, ctypes.c_long, u64p]
    lib.unpack_bits64.restype = None
    lib.unpack_bits64.argtypes = [u64p, ctypes.c_long, ctypes.c_long, u64p]
    lib.bit_lengths64.restype = None
    lib.bit_lengths64.argtypes = [u64p, ctypes.c_long, u8p]
    lib.take_offsets.restype = None
    lib.take_offsets.argtypes = [i64p, i64p, ctypes.c_long, i64p]
    lib.gather_str_idx.restype = None
    lib.gather_str_idx.argtypes = [
        i64p, u8p, i64p, i64p, ctypes.c_long, u8p]
    lib.delta_zigzag_hist64.restype = None
    lib.delta_zigzag_hist64.argtypes = [
        u64p, ctypes.c_long, ctypes.c_long, u64p, i64p]
    lib.pack_exc64.restype = ctypes.c_long
    lib.pack_exc64.argtypes = [
        u64p, ctypes.c_long, ctypes.c_long, u64p, i64p, u64p]
    _lib = lib
    return _lib
