"""Self-describing block container format shared by every codec.

A compressed block ("payload") is a single ``bytes`` value laid out as::

    MAGIC(4) | version:u8 | codec:u8 | dtype:u8 | flags:u8 | n_values:u64
    | n_sections:u16 | section_len:u64 * n_sections | section bytes ...

This mirrors libgiddy's model of a compressed column as a small set of
device buffers (data + auxiliaries such as dictionary / run arrays /
anchors) — see SURVEY.md §1.1; here the buffers are the *sections* and
the header carries what the reference encodes in C++ template parameters
(element type, scheme, sizes). Everything is little-endian.

Nulls: when flag ``FLAG_NULLS`` is set, the LAST section is a validity
bitmap (``np.packbits(valid, bitorder='little')``) over ``n_values``
logical slots, and the codec sections encode only the *valid* values
(libgiddy kernels assume dense non-null input — SURVEY.md §1.1 — so null
handling lives in this container layer, not in the kernels).
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = b"LGSB"
VERSION = 1

# codec ids --------------------------------------------------------------
RAW = 0
BITPACK = 1
FOR = 2  # frame-of-reference + bit-packing (+ optional patching)
DELTA = 3  # delta -> zigzag -> FoR -> bit-packing
DICT = 4
RLE = 5
FSST = 6
RPE = 7  # run-position encoding (values + run start positions)

CODEC_NAMES = {
    RAW: "raw",
    BITPACK: "bitpack",
    FOR: "for",
    DELTA: "delta",
    DICT: "dict",
    RLE: "rle",
    FSST: "fsst",
    RPE: "rpe",
}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}

# dtype codes ------------------------------------------------------------
DT_INT8, DT_INT16, DT_INT32, DT_INT64 = 0, 1, 2, 3
DT_UINT8, DT_UINT16, DT_UINT32, DT_UINT64 = 4, 5, 6, 7
DT_FLOAT32, DT_FLOAT64 = 8, 9
DT_UTF8, DT_BINARY = 10, 11
DT_TS_US = 12  # timestamp[us] — int64 microseconds on the wire

_NUMPY_TO_DT = {
    np.dtype(np.int8): DT_INT8,
    np.dtype(np.int16): DT_INT16,
    np.dtype(np.int32): DT_INT32,
    np.dtype(np.int64): DT_INT64,
    np.dtype(np.uint8): DT_UINT8,
    np.dtype(np.uint16): DT_UINT16,
    np.dtype(np.uint32): DT_UINT32,
    np.dtype(np.uint64): DT_UINT64,
    np.dtype(np.float32): DT_FLOAT32,
    np.dtype(np.float64): DT_FLOAT64,
}
_DT_TO_NUMPY = {v: k for k, v in _NUMPY_TO_DT.items()}
_DT_TO_NUMPY[DT_TS_US] = np.dtype(np.int64)

FLAG_NULLS = 0x01

_HEAD = struct.Struct("<4sBBBBQH")  # magic, ver, codec, dtype, flags, n, nsect


def dt_of(dtype: np.dtype) -> int:
    return _NUMPY_TO_DT[np.dtype(dtype)]


def np_of(dt: int) -> np.dtype:
    return _DT_TO_NUMPY[dt]


def is_string_dt(dt: int) -> bool:
    return dt in (DT_UTF8, DT_BINARY)


def pack_block(
    codec: int, dt: int, n_values: int, sections: list[bytes], flags: int = 0
) -> bytes:
    head = _HEAD.pack(MAGIC, VERSION, codec, dt, flags, n_values, len(sections))
    lens = struct.pack(f"<{len(sections)}Q", *(len(s) for s in sections))
    return head + lens + b"".join(sections)


def unpack_block(payload: bytes) -> tuple[int, int, int, int, list[memoryview]]:
    """-> (codec, dt, flags, n_values, sections). Sections are zero-copy
    views. Raises ValueError unless the header, the section-length table
    and the sections exactly fill the payload: a truncated payload or a
    corrupt length must never decode from short views."""
    mv = memoryview(payload)
    if len(mv) < _HEAD.size:
        raise ValueError(
            f"truncated block: {len(mv)} bytes, header needs {_HEAD.size}")
    magic, ver, codec, dt, flags, n_values, nsect = _HEAD.unpack_from(mv, 0)
    if magic != MAGIC or ver != VERSION:
        raise ValueError(f"bad block header: magic={magic!r} version={ver}")
    off = _HEAD.size + 8 * nsect
    if off > len(mv):
        raise ValueError(
            f"truncated block: {nsect} section lengths need {off} bytes, "
            f"payload has {len(mv)}")
    lens = struct.unpack_from(f"<{nsect}Q", mv, _HEAD.size)
    if off + sum(lens) != len(mv):
        raise ValueError(
            f"corrupt block: sections {list(lens)} end at byte "
            f"{off + sum(lens)} of a {len(mv)}-byte payload")
    sections = []
    for ln in lens:
        sections.append(mv[off : off + ln])
        off += ln
    return codec, dt, flags, n_values, sections
