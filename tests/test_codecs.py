"""Per-scheme kernel round-trip unit tests on adversarial fixtures
(FIXTURES.md §3, SURVEY.md §5.2.1) — decode(encode(x)) bit-identical."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from tests.conftest import roundtrip

INT_CODECS = ["raw", "for", "delta", "dict", "rle", "rpe", "auto"]
STR_CODECS = ["raw", "dict", "rle", "fsst"]

I64 = np.iinfo(np.int64)


def int_cases(rng):
    return {
        "empty": np.array([], dtype=np.int64),
        "single": np.array([42], dtype=np.int64),
        "single_neg": np.array([-42], dtype=np.int64),
        "constant": np.full(1000, -7, dtype=np.int64),
        "sorted": np.arange(10_000, dtype=np.int64),
        "reverse": np.arange(10_000, dtype=np.int64)[::-1].copy(),
        "random": rng.integers(-(2**62), 2**62, 5000),
        "extremes": np.array([I64.min, I64.max] * 500, dtype=np.int64),
        "width_bounds": np.array(
            [v + d for k in (1, 7, 8, 31, 32, 63) for v in ((1 << k),) for d in (-1, 0, 1) if 0 <= v + d <= I64.max],
            dtype=np.int64,
        ),
        "runs_len1": rng.permutation(np.arange(5000)).astype(np.int64),
        "one_run": np.full(5000, 123456789, dtype=np.int64),
        "outliers": np.where(rng.random(10_000) < 0.01, 2**60, rng.integers(0, 100, 10_000)).astype(np.int64),
        "int16": rng.integers(-300, 300, 2000).astype(np.int16),
        "int32": rng.integers(-(2**30), 2**30, 2000).astype(np.int32),
        "uint64_high": (rng.integers(0, 2**62, 1000, dtype=np.uint64) * np.uint64(3)),
    }


@pytest.mark.parametrize("codec", INT_CODECS)
def test_int_roundtrips(codec, rng):
    for name, x in int_cases(rng).items():
        roundtrip(pa.array(x), codec)


def test_bitpack_nonneg(rng):
    roundtrip(pa.array(rng.integers(0, 2**40, 3000)), "bitpack")
    roundtrip(pa.array(np.zeros(100, np.int64)), "bitpack")
    with pytest.raises(ValueError):
        roundtrip(pa.array([-1, 2, 3]), "bitpack")


@pytest.mark.parametrize("codec", ["raw", "for", "delta", "dict", "rle", "rpe"])
def test_int_nulls(codec):
    for arr in [
        pa.array([1, None, 3, None, -5] * 100),
        pa.array([None] * 50, type=pa.int64()),
        pa.array([None, 7], type=pa.int64()),
        pa.array([7, None], type=pa.int64()),
    ]:
        roundtrip(arr, codec)


@pytest.mark.parametrize("codec", ["delta", "for", "rle", "dict", "raw"])
def test_timestamps(codec, rng):
    base = 1_704_067_200_000_000  # 2024-01-01 in us
    gaps = rng.integers(0, 1_000_000, 5000)
    ts = (base + np.cumsum(gaps)).astype("datetime64[us]")
    roundtrip(pa.array(ts), codec)
    # far past / future extremes
    ext = np.array([0, -(2**55), 2**55], dtype=np.int64).astype("datetime64[us]")
    roundtrip(pa.array(ext), codec)


@pytest.mark.parametrize("codec", ["raw", "for", "rle", "dict"])
def test_floats_bit_identity(codec):
    f = np.array([1.5, np.nan, np.inf, -np.inf, -0.0, 0.0, 1e-308] * 100)
    roundtrip(pa.array(f), codec)
    roundtrip(pa.array([1.5, None, np.nan, 2.0] * 50), codec)


@pytest.mark.parametrize("codec", STR_CODECS)
def test_string_roundtrips(codec, rng):
    cases = [
        [],
        [""],
        ["a"],
        ["", "", ""],
        ["中文测试" * 10, "🎉emoji", "", "ascii"] * 50,
        ["x" * 8192],  # 8 KiB single string
        ["\xff☃", "contains\x00nul-ish? no, utf8"],
        [f"https://host{i % 20}.example.com/p/{i}" for i in range(1000)],
    ]
    for items in cases:
        roundtrip(pa.array(items, type=pa.string()), codec)
    # escape-byte-heavy content (0xff is the FSST escape)
    roundtrip(pa.array(["ÿ" * 50, "aÿbÿc"] * 20), codec)


@pytest.mark.parametrize("codec", STR_CODECS)
def test_binary_roundtrips(codec, rng):
    cases = [
        [b"\x00" * 100, b"\xff" * 100, b"", b"\x00\xff\x00"],
        [bytes(rng.integers(0, 256, 500, dtype=np.uint8)) for _ in range(20)],
        [b"<html><head></head><body>hi</body></html>"] * 50,
    ]
    for items in cases:
        roundtrip(pa.array(items, type=pa.binary()), codec)


@pytest.mark.parametrize("codec", STR_CODECS)
def test_string_nulls(codec):
    roundtrip(pa.array(["abc", None, "", None, "déf"] * 40), codec)
    roundtrip(pa.array([None, None], type=pa.string()), codec)


def test_dict_beats_raw_on_lang():
    lang = pa.array(["en"] * 600 + ["zh"] * 120 + ["es", "de", "fr"] * 90)
    m_dict, _ = roundtrip(lang, "dict")
    m_raw, _ = roundtrip(lang, "raw")
    assert m_dict["enc_bytes"] < m_raw["enc_bytes"] / 4


def test_delta_beats_raw_on_monotone_ts(rng):
    base = 1_704_067_200_000_000
    ts = pa.array((base + np.cumsum(rng.integers(0, 800_000, 20000))).astype("datetime64[us]"))
    m, _ = roundtrip(ts, "delta")
    assert m["enc_bytes"] < m["raw_bytes"] / 2


def test_patching_handles_outliers(rng):
    x = rng.integers(0, 100, 100_000).astype(np.int64)
    x[::1000] = 2**55
    m, _ = roundtrip(pa.array(x), "for")
    assert m["enc_bytes"] < 100_000 * 56 // 8 * 0.3  # far below unpatched width


def test_bitpack_native_numpy_parity(rng):
    """C pack/unpack/bit_lengths must be byte-identical to the numpy
    kernels on every width and on boundary values."""
    import numpy as np
    import pytest

    import libgiddy_spark.codecs._native as N
    from libgiddy_spark.codecs import bitpack as bp
    from libgiddy_spark.codecs import intcodec as ic

    if N.native_lib() is None:
        pytest.skip("no C compiler on host")
    for w in [1, 2, 3, 5, 7, 8, 13, 31, 32, 33, 63]:
        v = rng.integers(0, 1 << min(w, 62), 4000).astype(np.uint64)
        v &= np.uint64((1 << w) - 1)
        packed_c = bp.pack_bits(v, w)
        saved = N._lib, N._tried
        N._lib, N._tried = None, True
        try:
            packed_np = bp.pack_bits(v, w)
            out_np = bp.unpack_bits(packed_c, len(v), w)
        finally:
            N._lib, N._tried = saved
        assert packed_c == packed_np, w
        assert np.array_equal(bp.unpack_bits(packed_c, len(v), w), v), w
        assert np.array_equal(out_np, v), w
    v = np.array([0, 1, 2, 2**32 - 1, 2**32, 2**63, 2**64 - 1], np.uint64)
    bl_c = ic.bit_lengths(v)
    saved = N._lib, N._tried
    N._lib, N._tried = None, True
    try:
        bl_np = ic.bit_lengths(v)
    finally:
        N._lib, N._tried = saved
    assert np.array_equal(bl_c, bl_np)


def test_delta_for_fused_native_stream_identity(rng):
    """The fused C delta pre-pass (delta_zigzag_hist64 + pack_exc64)
    and the C _for_sections pack must produce byte-identical block
    streams to the numpy path — negatives, outliers, anchors, widths
    0 and 64, short and unaligned lengths."""
    import numpy as np
    import pytest

    import libgiddy_spark.codecs._native as N
    from libgiddy_spark.codecs import intcodec as ic

    if N.native_lib() is None:
        pytest.skip("no C compiler on host")
    cases = [
        np.cumsum(rng.integers(0, 800_000, 10_001)).astype(np.int64),
        rng.integers(-(1 << 40), 1 << 40, 4093),
        np.zeros(5000, np.int64),
        np.arange(7),
        np.array([5], np.int64),
        np.array([], np.int64),
        np.where(rng.random(9000) < 0.01,
                 rng.integers(0, 1 << 62, 9000),
                 rng.integers(0, 1000, 9000)),  # PFOR outliers
        np.full(3000, -(1 << 63), np.int64),  # width-64 extremes
    ]
    for x in cases:
        for enc in (ic.encode_delta, ic.encode_for, ic.encode_bitpack):
            if enc is ic.encode_bitpack and (len(x) and x.min() < 0):
                continue
            b_c = enc(x)
            saved = N._lib, N._tried
            N._lib, N._tried = None, True
            try:
                b_np = enc(x)
            finally:
                N._lib, N._tried = saved
            assert b_c == b_np, (enc.__name__, len(x))
            from libgiddy_spark.codecs import decode_payload_numpy
            out = decode_payload_numpy(b_c)
            assert np.array_equal(out, x), (enc.__name__, len(x))


@pytest.fixture(params=["native", "numpy"])
def fsst_path(request):
    """Runs a test on the native FSST kernels and on the numpy path."""
    import libgiddy_spark.codecs._native as N

    if request.param == "native" and N.native_lib() is None:
        pytest.skip("no C compiler on host")
    saved = N._lib, N._tried
    if request.param == "numpy":
        N._lib, N._tried = None, True
    yield request.param
    N._lib, N._tried = saved


def test_fsst_decode_rejects_codes_outside_table(fsst_path):
    """A non-escape code >= the table size, a trailing escape, or any
    non-escape code under an empty table raises ValueError instead of
    decoding to wrong bytes; payloads that fit still decode."""
    from libgiddy_spark.codecs import decode_array, encode_array
    from libgiddy_spark.codecs.fsst import SymbolTable, decode_stream

    table = SymbolTable([b"ab", b"c", b"hello"])
    codes = np.array([0, 1, 2, 255, ord("z"), 0], np.uint8)
    out, _ = decode_stream(codes, table)
    assert bytes(out) == b"abchelloz" + b"ab"
    for bad in range(len(table.symbols), 255):
        for pos in (0, 2, 5):
            mutated = codes.copy()
            mutated[pos] = bad
            with pytest.raises(ValueError, match="symbol table"):
                decode_stream(mutated, table)
    for tail in ([255], [255, 255, 255]):
        with pytest.raises(ValueError, match="symbol table"):
            decode_stream(np.concatenate([codes, np.array(tail, np.uint8)]),
                          table)
    empty = SymbolTable([])
    out, _ = decode_stream(np.array([255, 97, 255, 255], np.uint8), empty)
    assert bytes(out) == b"a\xff"
    for bad in ([0], [255, 97, 3], [254, 255, 97]):
        with pytest.raises(ValueError, match="symbol table"):
            decode_stream(np.array(bad, np.uint8), empty)
    # through a whole payload: the last byte of the code section
    arr = pa.array(["abab", "hello", "cab"])
    payload, _ = encode_array(arr, "fsst", fsst_table=table)
    assert decode_array(payload).equals(arr)
    corrupt = bytearray(payload)
    corrupt[-1] = 200
    with pytest.raises(ValueError, match="symbol table"):
        decode_array(bytes(corrupt))
