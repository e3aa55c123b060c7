"""Compressed-size bound: production encoder <= naive reference encoder
(+ fixed container allowance) per scheme — operationalizes BASELINE.json:6
"compressed size <= the reference encoder's" (SURVEY.md §5.2.3)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from libgiddy_spark.codecs import encode_array
from libgiddy_spark.codecs import reference as ref
from libgiddy_spark.codecs.fsst import train
from libgiddy_spark.codecs.strcol import StrCol

A = ref.HEADER_ALLOWANCE


def enc_bytes(x, codec, **kw):
    payload, meta = encode_array(pa.array(x), codec, **kw)
    return meta["enc_bytes"]


@pytest.fixture(scope="module")
def int_inputs(rng=None):
    rng = np.random.default_rng(42)
    return {
        "sorted": np.arange(20_000, dtype=np.int64),
        "random_small": rng.integers(0, 1000, 20_000),
        "random_wide": rng.integers(-(2**60), 2**60, 20_000),
        "constant": np.full(20_000, 5, dtype=np.int64),
        "runs": np.repeat(rng.integers(0, 50, 200), 100),
        "ts": 1_704_067_200_000_000 + np.cumsum(rng.integers(0, 800_000, 20_000)),
        "outliers": np.where(rng.random(20_000) < 0.01, 2**59, rng.integers(0, 64, 20_000)).astype(np.int64),
    }


def test_bitpack_bound(int_inputs):
    for name, x in int_inputs.items():
        if x.min() < 0:
            continue
        assert enc_bytes(x, "bitpack") <= ref.naive_bitpack_bytes(x) + A, name


def test_for_bound(int_inputs):
    for name, x in int_inputs.items():
        assert enc_bytes(x, "for") <= ref.naive_for_bytes(x) + A, name


def test_delta_bound(int_inputs):
    for name, x in int_inputs.items():
        assert enc_bytes(x, "delta") <= ref.naive_delta_bytes(x) + A, name


def test_dict_int_bound(int_inputs):
    for name, x in int_inputs.items():
        assert enc_bytes(x, "dict") <= ref.naive_dict_int_bytes(x) + A, name


def test_rle_int_bound(int_inputs):
    for name, x in int_inputs.items():
        assert enc_bytes(x, "rle") <= ref.naive_rle_int_bytes(x) + A, name


STR_INPUTS = {
    "langs": ["en"] * 600 + ["zh"] * 120 + ["es", "de", "fr"] * 90,
    "urls": [f"https://www.site{i % 40}.org/posts/{i}?ref=feed" for i in range(3000)],
    "text": [
        " ".join(f"word{j % 97}" for j in range(i, i + 40)) for i in range(1000)
    ],
    "empties": ["", "", "x", ""] * 200,
}


def test_dict_str_bound():
    for name, items in STR_INPUTS.items():
        n = ref.naive_dict_str_bytes([s.encode() for s in items])
        assert enc_bytes(items, "dict") <= n + A, name


def test_rle_str_bound():
    for name, items in STR_INPUTS.items():
        n = ref.naive_rle_str_bytes([s.encode() for s in items])
        assert enc_bytes(items, "rle") <= n + A, name


def test_raw_str_bound():
    for name, items in STR_INPUTS.items():
        n = ref.naive_raw_str_bytes([s.encode() for s in items])
        assert enc_bytes(items, "raw") <= n + A, name


def test_fsst_bound_and_stream_identity():
    """Vectorized FSST must produce the byte-identical token stream the
    sequential reference encoder produces with the same table — strictly
    stronger than the size bound."""
    from libgiddy_spark.codecs.fsst import encode_tokens

    for name, items in STR_INPUTS.items():
        bitems = [s.encode() for s in items]
        col = StrCol.from_pylist(bitems)
        table = train(col.data)
        codes, _ = encode_tokens(col, table)
        naive_stream = ref.naive_fsst_encode(bitems, table)
        assert codes.tobytes() == naive_stream, name
        assert enc_bytes(items, "fsst", fsst_table=table) <= ref.naive_fsst_bytes(bitems, table) + A, name


def _webtext_trials():
    """(name, sample bytes, generations): the selector's 64 KiB trials
    of seeded webtext url/text/html, at 3 and 5 generations."""
    from libgiddy_spark.codecs import strcol_of
    from libgiddy_spark.selector import FSST_TRIAL_BYTES
    from libgiddy_spark.webtext import generate_batch

    wt = generate_batch(np.arange(3000), seed=7)
    return [(f"{c}-g{g}", strcol_of(wt.column(c)).data[:FSST_TRIAL_BYTES], g)
            for c in ("url", "text", "html") for g in (3, 5)]


def _trainer_inputs():
    """The webtext trials plus edge inputs, at 5 generations."""
    rng = np.random.default_rng(11)
    edges = {
        "empty": np.zeros(0, np.uint8),
        "one_byte": np.frombuffer(b"a", np.uint8),
        "seven_bytes": np.frombuffer(b"abcdefg", np.uint8),
        "all_zero": np.zeros(5000, np.uint8),
        # b"a" and b"a\0" must stay distinct candidates
        "nul_heavy": np.array([0, 0, 0, 97, 98], np.uint8)[
            rng.integers(0, 5, 20000)],
        "uniform": rng.integers(0, 256, 40000).astype(np.uint8),
        "three_letters": np.array([97, 98, 99], np.uint8)[
            rng.integers(0, 3, 30000)],
    }
    return _webtext_trials() + [(k, v, 5) for k, v in edges.items()]


def _train_numpy(sample, generations):
    """train() with the native kernels switched off."""
    import libgiddy_spark.codecs._native as N

    saved = N._lib, N._tried
    N._lib, N._tried = None, True
    try:
        return train(sample, generations)
    finally:
        N._lib, N._tried = saved


def test_fsst_native_numpy_trainers_agree():
    """The native counting kernel and the numpy counting path build
    identical tables: symbols, encoder tables and the prefix table."""
    from libgiddy_spark.codecs._native import native_lib

    if native_lib() is None:
        pytest.skip("no C compiler on host")
    for name, sample, g in _trainer_inputs():
        a, b = train(sample, g), _train_numpy(sample, g)
        assert a.symbols == b.symbols, name
        assert a.k_max == b.k_max, name
        for attr in ("cand3", "t1", "vals64_pad", "prefix"):
            assert np.array_equal(getattr(a, attr), getattr(b, attr)), \
                (name, attr)


# sha256 of the concatenated serialized tables of _trainer_inputs(),
# recorded from the trainer that counted candidates with numpy lexsorts
# (before the native counting kernel)
TRAINED_TABLES_SHA256 = (
    "d2641760251e7bcdcb2b1dbee9ff9fe390de445f922400f614ef04f01639842a")


def test_fsst_trained_tables_golden():
    """Table bytes do not drift: the trainer (whichever path runs)
    reproduces tables recorded from the lexsort-counting trainer."""
    import hashlib

    blob = b"".join(train(sample, g).serialize()
                    for _name, sample, g in _trainer_inputs())
    assert hashlib.sha256(blob).hexdigest() == TRAINED_TABLES_SHA256


def test_fsst_pick_order_and_prefix_cap():
    """The shared pick orders candidates by (gain desc, value asc, len
    asc) whatever their input order, keeps at most 3 symbols of len>=2
    per 2-byte prefix, and stops at 255 symbols."""
    from libgiddy_spark.codecs.fsst import MAX_SYMBOLS, _pick_symbols

    cands = [  # (symbol, count): gain = count * len
        (b"xya", 10), (b"xyb", 10), (b"xyc", 9), (b"xyd", 9),  # 4th capped
        (b"a\0", 5), (b"a", 10), (b"b", 10),  # gain ties at 10
        (b"xy", 1),
    ] + [(bytes([c, c]), 1) for c in range(MAX_SYMBOLS)]  # gain 2
    order = np.random.default_rng(3).permutation(len(cands))
    syms = [cands[i][0] for i in order]
    vals = np.array([int.from_bytes(s, "little") for s in syms], np.uint64)
    lens = np.array([len(s) for s in syms], np.int64)
    counts = np.array([cands[i][1] for i in order], np.int64)
    picked = _pick_symbols(vals, lens, counts)
    assert picked[:6] == [b"xya", b"xyb", b"xyc", b"a", b"a\0", b"b"]
    # b"xyd" (gain 27) and b"xy" (gain 2) are past the prefix cap
    assert b"xyd" not in picked and b"xy" not in picked
    assert picked[6:] == [bytes([c, c]) for c in range(249)]


def test_fsst_native_numpy_stream_identity():
    """The C fast path, the lock-step numpy path and the per-byte naive
    reference must all emit the SAME token stream."""
    from libgiddy_spark.codecs._native import native_lib
    from libgiddy_spark.codecs.fsst import (
        _encode_tokens_native,
        _encode_tokens_numpy,
    )

    lib = native_lib()
    if lib is None:
        pytest.skip("no C compiler on host")
    cases = [(items, None) for items in STR_INPUTS.values()] + [
        ([], None),
        ([""] * 10, None),
        (["\x00\xff bin\x00ary" * 100, "", "z"], None),
        (["日本語のテキスト" * 300, "mixed ascii 日本語"], None),
        (["x" * 5000], None),  # multi-lane single string
    ]
    # every trainer input's table, on 100-byte strings of its first 8 KiB
    for _name, sample, g in _trainer_inputs():
        head = bytes(sample[:8192])
        items = [head[i:i + 100] for i in range(0, len(head), 100)]
        cases.append((items, train(sample, g)))
    for items, table in cases:
        bitems = [s if isinstance(s, bytes) else s.encode() for s in items]
        col = StrCol.from_pylist(bitems)
        if table is None:
            table = train(col.data)
        c_np, l_np = _encode_tokens_numpy(col, table)
        c_c, l_c = _encode_tokens_native(col, table, lib)
        assert np.array_equal(c_np, c_c)
        assert np.array_equal(l_np, l_c)
        naive = ref.naive_fsst_encode(bitems, table)
        assert c_c.tobytes() == naive
        # decode parity: native two-pass vs vectorized numpy classifier
        import libgiddy_spark.codecs._native as N
        from libgiddy_spark.codecs.fsst import decode_stream

        out_c, offs_c = decode_stream(c_c, table)
        saved = N._lib, N._tried
        N._lib, N._tried = None, True
        try:
            out_np, offs_np = decode_stream(c_c, table)
        finally:
            N._lib, N._tried = saved
        assert np.array_equal(out_c, out_np)
        assert np.array_equal(offs_c, offs_np)
        assert bytes(out_c) == b"".join(bitems)
