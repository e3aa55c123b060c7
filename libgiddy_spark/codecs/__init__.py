"""Codec dispatch at the pyarrow boundary.

``encode_array(pa.Array, codec) -> (payload, meta)`` and
``decode_array(payload) -> pa.Array`` are the only entry points the
Spark layer uses; they handle nulls (validity-bitmap sidecar section,
SURVEY.md §1.1 — libgiddy kernels assume dense input), float
bit-pattern views, timestamp[us] <-> int64 normalization, and
string/binary <-> StrCol conversion. Everything below them is pure
numpy (the kernel layer, SURVEY.md §2.1).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from . import header as H
from .bitpack import pack_bits, unpack_bits
from .dictionary import decode_dict, encode_dict_int, encode_dict_str
from .fsst import SymbolTable, decode_fsst, encode_fsst
from .intcodec import encode_bitpack, encode_delta, encode_for, encode_int_auto
from .rle import (
    decode_rle,
    decode_rpe,
    encode_rle_int,
    encode_rle_str,
    encode_rpe_int,
    run_starts_int,
)
from .strcol import StrCol, pack_strcol, unpack_strcol

__all__ = [
    "as_array",
    "encode_array",
    "decode_array",
    "decode_payload_numpy",
    "SymbolTable",
]

_PA_INT_TYPES = {
    pa.int8(): H.DT_INT8,
    pa.int16(): H.DT_INT16,
    pa.int32(): H.DT_INT32,
    pa.int64(): H.DT_INT64,
    pa.uint8(): H.DT_UINT8,
    pa.uint16(): H.DT_UINT16,
    pa.uint32(): H.DT_UINT32,
    pa.uint64(): H.DT_UINT64,
}


def _logical_dt(typ: pa.DataType) -> int:
    if typ in _PA_INT_TYPES:
        return _PA_INT_TYPES[typ]
    if pa.types.is_timestamp(typ):
        if typ.unit != "us" or typ.tz not in (None, "UTC"):
            raise TypeError(f"unsupported timestamp {typ}; normalize to us first")
        return H.DT_TS_US
    if pa.types.is_float32(typ):
        return H.DT_FLOAT32
    if pa.types.is_float64(typ):
        return H.DT_FLOAT64
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return H.DT_UTF8
    if pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
        return H.DT_BINARY
    raise TypeError(f"unsupported arrow type for codecs: {typ}")


def _pa_type_of(dt: int) -> pa.DataType:
    if dt == H.DT_TS_US:
        return pa.timestamp("us")
    if dt == H.DT_UTF8:
        return pa.string()
    if dt == H.DT_BINARY:
        return pa.binary()
    return pa.from_numpy_dtype(H.np_of(dt))


def strcol_of(arr: pa.Array) -> StrCol:
    """Zero-copy-ish Arrow var-length array -> StrCol (no per-row work)."""
    typ = arr.type
    big = pa.types.is_large_string(typ) or pa.types.is_large_binary(typ)
    odt = np.int64 if big else np.int32
    bufs = arr.buffers()
    n = len(arr)
    if n == 0 or bufs[1] is None:
        return StrCol(np.zeros(n + 1, np.int64), np.zeros(0, np.uint8))
    offs = np.frombuffer(bufs[1], dtype=odt, count=n + 1, offset=arr.offset * odt().itemsize)
    offs = offs.astype(np.int64)
    raw = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    data = raw[offs[0] : offs[-1]]
    return StrCol(offs - offs[0], np.ascontiguousarray(data))


def _pa_from_strcol(col: StrCol, dt: int) -> pa.Array:
    offs = pa.py_buffer(col.offsets.astype(np.int64).tobytes())
    data = pa.py_buffer(col.data.tobytes())
    typ = pa.large_string() if dt == H.DT_UTF8 else pa.large_binary()
    arr = pa.Array.from_buffers(typ, len(col), [None, offs, data])
    return arr.cast(pa.string() if dt == H.DT_UTF8 else pa.binary())


def _int_values(arr: pa.Array, dt: int) -> np.ndarray:
    """Dense (null-free) arrow numeric array -> numpy, bit-pattern exact."""
    if dt == H.DT_TS_US:
        return arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
    v = arr.to_numpy(zero_copy_only=False)
    if dt == H.DT_FLOAT32:
        return v.view(np.int32)
    if dt == H.DT_FLOAT64:
        return v.view(np.int64)
    return v


_FLOAT_VIEW = {H.DT_FLOAT32: np.float32, H.DT_FLOAT64: np.float64}


def as_array(arr: pa.ChunkedArray | pa.Array) -> pa.Array:
    """One contiguous Array: ``combine_chunks`` returns an Array for any
    chunk count, zero included."""
    return arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr


def encode_array(
    arr: pa.Array,
    codec: str,
    fsst_table: SymbolTable | None = None,
) -> tuple[bytes, dict]:
    """Encode one Arrow array into a self-describing block payload."""
    arr = as_array(arr)
    dt = _logical_dt(arr.type)
    n = len(arr)
    valid = None
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        dense = arr.drop_null()
    else:
        dense = arr
    payload = _encode_dense(dense, dt, codec, fsst_table)
    if valid is not None:
        codec_id, ddt, flags, nn, secs = H.unpack_block(payload)
        bitmap = np.packbits(valid, bitorder="little").tobytes()
        payload = H.pack_block(
            codec_id, ddt, n, [bytes(s) for s in secs] + [bitmap], flags | H.FLAG_NULLS
        )
    meta = {
        "codec": codec,
        "n_values": n,
        "raw_bytes": int(arr.nbytes),
        "enc_bytes": len(payload),
    }
    return payload, meta


def _encode_dense(
    arr: pa.Array, dt: int, codec: str, fsst_table: SymbolTable | None
) -> bytes:
    if H.is_string_dt(dt):
        col = strcol_of(arr)
        if codec == "raw":
            return H.pack_block(H.RAW, dt, len(col), [pack_strcol(col)])
        if codec == "fsst":
            return encode_fsst(col, dt, fsst_table)
        if codec == "dict":
            denc = arr.dictionary_encode()
            dvals = strcol_of(denc.dictionary)
            idx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            return encode_dict_str(dvals, idx, dt)
        if codec == "rle":
            n = len(arr)
            if n <= 1:
                starts = np.arange(n, dtype=np.int64)
            else:
                neq = pa.compute.not_equal(arr.slice(1), arr.slice(0, n - 1))
                neq_np = neq.to_numpy(zero_copy_only=False)
                starts = np.concatenate([[0], np.flatnonzero(neq_np) + 1])
            run_vals = col.take(starts)
            return encode_rle_str(run_vals, starts, n, dt)
        raise ValueError(f"codec {codec!r} not valid for strings")
    # numeric path
    x = _int_values(arr, dt)
    if codec == "raw":
        return H.pack_block(H.RAW, dt, len(x), [x.tobytes()])
    if codec == "bitpack":
        return encode_bitpack(x, dt)
    if codec == "for":
        return encode_for(x, dt)
    if codec == "delta":
        return encode_delta(x, dt)
    if codec == "auto":
        return encode_int_auto(x, dt)
    if codec == "dict":
        return encode_dict_int(x, dt)
    if codec == "rle":
        return encode_rle_int(x, dt)
    if codec == "rpe":
        return encode_rpe_int(x, dt)
    if codec == "dzb":
        from .extra import encode_dzb

        return encode_dzb(x, dt)
    if codec == "dzbv":
        from .extra import encode_dzbv

        return encode_dzbv(x, dt)
    if codec == "bitmap":
        from .extra import encode_bitmap

        return encode_bitmap(x, dt)
    if codec == "model":
        from .extra import encode_model

        return encode_model(x, dt)
    raise ValueError(f"codec {codec!r} not valid for numeric type")


def decode_payload_numpy(payload: bytes):
    """Decode to numpy (ints/floats) or StrCol (strings) — dense values only."""
    codec, dt, flags, n, secs = H.unpack_block(payload)
    if flags & H.FLAG_NULLS:
        # sections encode only the valid (dense) values
        bitmap = np.frombuffer(secs[-1], dtype=np.uint8)
        n = int(np.unpackbits(bitmap, bitorder="little", count=n).sum())
        secs = secs[:-1]
    from .intcodec import _decode_bitpack, _decode_delta, _decode_for

    if codec == H.RAW:
        if H.is_string_dt(dt):
            return unpack_strcol(secs[0])
        return np.frombuffer(secs[0], dtype=H.np_of(dt)).copy()
    if codec == H.BITPACK:
        return _decode_bitpack(secs, n, dt)
    if codec == H.FOR:
        return _decode_for(secs, n, dt)
    if codec == H.DELTA:
        return _decode_delta(secs, n, dt)
    if codec == H.DICT:
        return decode_dict(secs, n, dt)
    if codec == H.RLE:
        return decode_rle(secs, n, dt)
    if codec == H.RPE:
        return decode_rpe(secs, n, dt)
    if codec == H.FSST:
        return decode_fsst(secs, n, dt)
    from . import extra

    if codec == extra.DZB:
        return extra.decode_dzb(secs, n, dt)
    if codec == extra.DZBV:
        return extra.decode_dzbv(secs, n, dt)
    if codec == extra.BITMAP:
        return extra.decode_bitmap(secs, n, dt)
    if codec == extra.MODEL:
        return extra.decode_model(secs, n, dt)
    raise ValueError(f"unknown codec id {codec}")


def decode_array(payload: bytes) -> pa.Array:
    """Decode a block payload back to an Arrow array (incl. nulls)."""
    codec, dt, flags, n, secs = H.unpack_block(payload)
    has_nulls = bool(flags & H.FLAG_NULLS)
    valid = None
    if has_nulls:
        bitmap = np.frombuffer(secs[-1], dtype=np.uint8)
        valid = np.unpackbits(bitmap, bitorder="little", count=n).astype(bool)
    values = decode_payload_numpy(payload)  # dense values (len = n_valid)
    if H.is_string_dt(dt):
        if valid is None:
            return _pa_from_strcol(values, dt)
        # scatter dense rows into full-length col: null rows get empty span
        dense_idx = np.flatnonzero(valid)
        lens = np.zeros(n, dtype=np.int64)
        lens[dense_idx] = values.lengths()
        offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        full = _pa_from_strcol(StrCol(offs, values.data), dt)
        return pa.compute.if_else(pa.array(valid), full, pa.nulls(n, full.type))
    np_dt = H.np_of(dt)
    if dt in _FLOAT_VIEW:
        values = values.view(_FLOAT_VIEW[dt])
    if valid is None:
        return pa.array(values, type=_pa_type_of(dt))
    full = np.zeros(n, dtype=values.dtype)
    full[valid] = values
    if dt == H.DT_TS_US:
        return pa.Array.from_pandas(full, mask=~valid, type=pa.timestamp("us"))
    return pa.array(full, type=_pa_type_of(dt), mask=~valid)
