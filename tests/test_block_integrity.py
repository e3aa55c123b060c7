"""Fault injection on block files and payloads: a truncated payload, a
corrupt section length or a duplicated block raises an error naming
the block file, part, salt, column and block_seq, and a truncated
block file or one without ``n_values`` an error naming the file —
never short or shifted section views, wrong, extra or fewer rows."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from libgiddy_spark.codecs import encode_array
from libgiddy_spark.codecs import header as H
from libgiddy_spark.engine import (
    _committed_block_files,
    decode_blocks,
    encode_snapshot,
)


def _payload():
    payload, _ = encode_array(pa.array([f"row-{i}" for i in range(500)]),
                              "fsst")
    return payload


def _flip_length_byte(payload: bytes) -> bytes:
    """Flip the low bit of the first section length."""
    b = bytearray(payload)
    b[H._HEAD.size] ^= 0x01
    return bytes(b)


def test_unpack_block_rejects_truncated_payload():
    payload = _payload()
    H.unpack_block(payload)  # intact: no error
    for cut in (1, len(payload) // 2, len(payload) - H._HEAD.size - 1,
                len(payload) - 3):
        with pytest.raises(ValueError, match="truncated|corrupt"):
            H.unpack_block(payload[:-cut])


def test_unpack_block_rejects_flipped_length_byte():
    with pytest.raises(ValueError, match="corrupt block"):
        H.unpack_block(_flip_length_byte(_payload()))
    # a length table longer than the whole payload
    b = bytearray(_payload())
    b[H._HEAD.size - 2:H._HEAD.size] = (1000).to_bytes(2, "little")
    with pytest.raises(ValueError, match="truncated block"):
        H.unpack_block(bytes(b))


def _encode(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    n = 3000
    tbl = pa.table({
        "k": pa.array(range(n), pa.int64()),
        "v": pa.array([f"row-{i % 97}-{i}" for i in range(n)]),
    })
    pq.write_table(tbl, os.path.join(src, "part-0.parquet"))
    out = str(tmp_path / "enc")
    encode_snapshot(spark, src, out, key_col="k", block_rows=1000)
    assert decode_blocks(spark, out, tbl.schema).count() == n
    return out, tbl.schema


@pytest.mark.parametrize("corrupt", [
    lambda p: p[:-5],          # truncated payload
    _flip_length_byte,         # flipped section-length byte
], ids=["truncated", "flipped_length"])
def test_corrupt_payload_raises_naming_block(spark, tmp_path, corrupt):
    out, schema = _encode(spark, tmp_path)
    (path,) = _committed_block_files(out)
    blocks = pq.read_table(path)
    cols = blocks.column("column").to_pylist()
    seqs = blocks.column("block_seq").to_pylist()
    (i,) = [j for j, cq in enumerate(zip(cols, seqs)) if cq == ("v", 1)]
    payloads = blocks.column("payload").to_pylist()
    payloads[i] = corrupt(payloads[i])
    pid = blocks.column("part_id")[i].as_py()
    salt = blocks.column("salt")[i].as_py()
    blocks = blocks.set_column(
        blocks.schema.get_field_index("payload"), "payload",
        pa.array(payloads, pa.binary()))
    pq.write_table(blocks, path)
    with pytest.raises(Exception) as ei:
        decode_blocks(spark, out, schema).count()
    msg = str(ei.value)
    assert path in msg, msg
    assert f"part {pid} salt {salt} column 'v' block_seq 1" in msg, msg


def test_truncated_block_file_raises_naming_file(spark, tmp_path):
    """A committed block file cut short (its parquet footer gone) fails
    the decode with an error naming that file, not a bare Arrow error."""
    out, schema = _encode(spark, tmp_path)
    (path,) = _committed_block_files(out)
    with open(path, "rb") as f:
        data = f.read()
    with open(path, "wb") as f:
        f.write(data[: len(data) // 2])
    with pytest.raises(Exception) as ei:
        decode_blocks(spark, out, schema).count()
    msg = str(ei.value)
    assert f"block file {path!r}" in msg, msg


def test_duplicate_block_raises_naming_block(spark, tmp_path):
    """A block row stored twice fails even a one-column projection,
    where every column still matches its own ``n_values`` sum."""
    out, schema = _encode(spark, tmp_path)
    (path,) = _committed_block_files(out)
    blocks = pq.read_table(path)
    cols = blocks.column("column").to_pylist()
    seqs = blocks.column("block_seq").to_pylist()
    (i,) = [j for j, cq in enumerate(zip(cols, seqs)) if cq == ("k", 1)]
    pid = blocks.column("part_id")[i].as_py()
    salt = blocks.column("salt")[i].as_py()
    pq.write_table(pa.concat_tables([blocks.slice(0, i + 1),
                                     blocks.slice(i)]), path)
    with pytest.raises(Exception) as ei:
        decode_blocks(spark, out, pa.schema([schema.field("k")])).count()
    msg = str(ei.value)
    assert "ValueError" in msg and f"block file {path!r}" in msg, msg
    assert (f"part {pid} salt {salt} column 'k' block_seq 1: "
            "duplicate block") in msg, msg


def test_block_file_without_n_values_raises_naming_file(spark, tmp_path):
    out, schema = _encode(spark, tmp_path)
    (path,) = _committed_block_files(out)
    pq.write_table(pq.read_table(path).drop_columns(["n_values"]), path)
    with pytest.raises(Exception) as ei:
        decode_blocks(spark, out, schema).count()
    msg = str(ei.value)
    assert "ValueError" in msg and f"block file {path!r}" in msg, msg
    assert "n_values" in msg, msg


def test_missing_middle_block_raises_naming_block(spark, tmp_path):
    """A block file that lost one middle ``block_seq`` of every column
    fails the decode, naming file, part, salt, column and the missing
    block: each column still matches its own ``n_values`` sum, so only
    the gap in ``block_seq`` shows the lost rows."""
    out, schema = _encode(spark, tmp_path)
    (path,) = _committed_block_files(out)
    blocks = pq.read_table(path)
    assert set(blocks.column("block_seq").to_pylist()) == {0, 1, 2}
    pid = blocks.column("part_id")[0].as_py()
    salt = blocks.column("salt")[0].as_py()
    pq.write_table(blocks.filter(pc.not_equal(blocks["block_seq"], 1)), path)
    with pytest.raises(Exception) as ei:
        decode_blocks(spark, out, schema).collect()
    msg = str(ei.value)
    assert "ValueError" in msg and f"block file {path!r}" in msg, msg
    assert (f"part {pid} salt {salt} column 'k' block_seq 1: "
            "missing block") in msg, msg
