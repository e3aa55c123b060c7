"""Per-block Bloom filters for point-lookup data skipping.

Zone maps (blocks.py ``key_lo/key_hi``, plus the manifest's part-level
aggregates) prune *range* predicates on integer sort keys. Blooms close
the remaining gap: equality probes — above all on STRING keys (a url
lookup on a url-sorted webtext table), where min/max bounds still leave
every in-range block a candidate. One filter per (part_id, salt,
block_seq) row-slice, stored on the sort-key column's block rows and
tested BEFORE any payload byte is read (engine.decode_blocks picks a
block file's blocks from one read of its metadata columns). This is the
Iceberg data-file bloom pattern (puffin sidecars) transposed to our
blocks dataset.

Determinism: everything derives from a fixed 64-bit mix (splitmix64
finalizer) over either the raw int64 key or a polynomial byte hash of
the UTF-8 key — no seeds, no process state — so encode is reproducible
bit-for-bit and a driver-side probe computes the same positions the
executor wrote. All per-value work is vectorized numpy over the Arrow
buffers (no per-row Python in the encode path, BASELINE.json:15); the
scalar twins below exist for the single probe value on the lookup side
and are property-tested equal to the vector path.

Layout: ``[version:1][k:1][log2_m:1][domain:1]`` + ``m/8`` bitmap
bytes; ``domain`` records whether the filter was built over int64 keys
or UTF-8 byte keys, so a probe from the OTHER domain never consults it
(a string probe against an int-keyed block must over-include, not test
foreign hash positions and silently prune live rows). ``m``
scales with the block's value count (~8 bits/value, capped) so a 500-row
test block costs 128 B while a 65536-row production block costs 64 KiB
— ~1 byte per value on ONE column, invisible next to the payload.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_M64 = (1 << 64) - 1
_POLY_P = 1099511628211  # FNV-1a 64-bit prime
_LEN_SALT = 0x9E3779B97F4A7C15  # golden-ratio odd constant
_BLOOM_VERSION = 1
_K = 6  # hash functions; ~2.2% FPR at 8 bits/value
_MIN_LOG2_M = 10  # 1024 bits = 128 B floor
_MAX_LOG2_M = 20  # 1 MiB bits = 128 KiB cap

# powers of _POLY_P mod 2^64, grown on demand (index = position from end)
_POW = np.array([1], dtype=np.uint64)


def _pow_table(upto: int) -> np.ndarray:
    global _POW
    if len(_POW) <= upto:
        ext = np.empty(upto + 1, dtype=np.uint64)
        ext[: len(_POW)] = _POW
        p = np.uint64(_POLY_P)
        with np.errstate(over="ignore"):  # uint64 wrap mod 2^64 intended
            for i in range(len(_POW), upto + 1):
                ext[i] = ext[i - 1] * p
        _POW = ext
    return _POW


def mix64(x: int) -> int:
    """splitmix64 finalizer (public-domain constant set)."""
    x &= _M64
    x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & _M64
    x = (x ^ (x >> 27)) * 0x94D049BB133111EB & _M64
    return x ^ (x >> 31)


def mix64_np(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def poly_hash(b: bytes) -> int:
    """Horner form of sum(byte[i] * P^(len-1-i)) mod 2^64, finalized
    with the length so a leading NUL can't alias a shorter string."""
    h = 0
    for byte in b:
        h = (h * _POLY_P + byte) & _M64
    return mix64(h ^ (len(b) * _LEN_SALT & _M64))


def _poly_hash_segments(data: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """Vectorized poly_hash over contiguous byte segments: ``data`` is
    the uint8 byte stream, ``offs`` (len n+1, int64, zero-based) bounds
    each value's bytes. Returns uint64 hashes, one per value, equal to
    the scalar ``poly_hash`` of each segment (property-tested)."""
    n = len(offs) - 1
    lens = np.diff(offs)
    total = int(offs[-1] - offs[0])
    if total == 0:
        base = np.zeros(n, dtype=np.uint64)
    else:
        base0 = int(offs[0])
        idx = np.repeat(np.arange(n), lens)  # owning value per byte
        g = np.arange(total, dtype=np.int64) + base0
        pos_from_end = (offs[1:][idx] - 1 - g).astype(np.int64)
        pows = _pow_table(int(lens.max()))[pos_from_end]
        contrib = data[base0 : base0 + total].astype(np.uint64) * pows
        # empty-segment-safe segmented sum: cumsum difference (reduceat
        # mishandles zero-length segments)
        c = np.zeros(total + 1, dtype=np.uint64)
        np.cumsum(contrib, out=c[1:])
        base = c[(offs[1:] - base0)] - c[(offs[:-1] - base0)]
    return mix64_np(base ^ (lens.astype(np.uint64) * np.uint64(_LEN_SALT)))


def hash_string_array(arr: pa.Array) -> np.ndarray:
    """uint64 key hashes for a non-null Arrow string/binary array."""
    if pa.types.is_string(arr.type):
        arr = arr.cast(pa.large_binary())
    elif pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.large_binary())
    elif pa.types.is_binary(arr.type):
        arr = arr.cast(pa.large_binary())
    buf_off = np.frombuffer(arr.buffers()[1], dtype=np.int64)
    offs = buf_off[arr.offset : arr.offset + len(arr) + 1]
    data_buf = arr.buffers()[2]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.zeros(0, dtype=np.uint8)
    )
    return _poly_hash_segments(data, offs)


def hash_int_array(vals: np.ndarray) -> np.ndarray:
    """uint64 key hashes for int64 key values (bit-pattern mix)."""
    return mix64_np(vals.astype(np.int64).view(np.uint64))


def hash_value(v) -> int:
    """Scalar twin of the array hashers for the lookup-side probe."""
    if isinstance(v, str):
        return poly_hash(v.encode("utf-8"))
    if isinstance(v, (bytes, bytearray)):
        return poly_hash(bytes(v))
    # int & mask == the two's-complement uint64 bit pattern hash_int_array uses
    return mix64(int(v) & _M64)


def _positions_scalar(h: int, log2_m: int, k: int) -> list[int]:
    # Kirsch-Mitzenmacher double hashing: g_i = h1 + i*h2 (h2 odd)
    mask = (1 << log2_m) - 1
    h1 = h & _M64
    h2 = ((h >> 32) | 1) & _M64
    return [((h1 + i * h2) & _M64) & mask for i in range(k)]


DOMAIN_INT = 0
DOMAIN_BYTES = 1


def domain_of(v) -> int:
    return DOMAIN_BYTES if isinstance(v, (str, bytes, bytearray)) else DOMAIN_INT


def build_bloom(hashes: np.ndarray, domain: int = DOMAIN_BYTES) -> bytes:
    """Bloom filter bytes over the given value hashes (one block)."""
    n = max(len(hashes), 1)
    log2_m = min(max(int(n * 8 - 1).bit_length(), _MIN_LOG2_M), _MAX_LOG2_M)
    m = 1 << log2_m
    bits = np.zeros(m >> 3, dtype=np.uint8)
    if len(hashes):
        h1 = hashes.astype(np.uint64)
        h2 = (h1 >> np.uint64(32)) | np.uint64(1)
        for i in range(_K):
            pos = (h1 + np.uint64(i) * h2) & np.uint64(m - 1)
            np.bitwise_or.at(
                bits, (pos >> np.uint64(3)).astype(np.int64),
                (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
            )
    return bytes([_BLOOM_VERSION, _K, log2_m, domain]) + bits.tobytes()


def bloom_might_contain(bloom: bytes, h: int, domain: int = DOMAIN_BYTES) -> bool:
    """True unless the filter PROVES the hash absent (no false
    negatives by construction; ~2% false positives). A filter built
    over the OTHER key domain is never consulted (returns True)."""
    if bloom is None or len(bloom) < 5 or bloom[0] != _BLOOM_VERSION:
        return True  # unknown layout: never prune on it
    k, log2_m, bloom_domain = bloom[1], bloom[2], bloom[3]
    if bloom_domain != domain:
        return True
    bits = bloom[4:]
    if len(bits) != (1 << log2_m) >> 3:
        return True
    for pos in _positions_scalar(h, log2_m, k):
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True
