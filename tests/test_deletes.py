"""Equality deletes (Iceberg merge-on-read), purge materialization, and
their interaction with time travel and vacuum."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from libgiddy_spark import engine
from libgiddy_spark.engine import (
    decode_blocks,
    delete_rows,
    encode_snapshot,
    purge_deletes,
    vacuum_blocks,
    verify_roundtrip,
)
from libgiddy_spark.manifest import Manifest, ReadView

SF = "/root/testdata/sf0.001"


def _encode_docs(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(
        3).write.parquet(src)
    out = str(tmp_path / "enc")
    encode_snapshot(spark, src, out, key_col="doc_id")
    return src, out, pq.read_schema(f"{SF}/documents.parquet")


def test_merge_on_read_delete(spark, tmp_path):
    src, out, schema = _encode_docs(spark, tmp_path)
    snap = [e["snapshot_id"] for e in Manifest(out).read()
            if e.get("kind") == "snapshot"][-1]
    gone = [5, 17, 123, 499]
    delete_rows(out, "doc_id", gone)
    dec = decode_blocks(spark, out, schema)
    assert dec.count() == 500 - len(gone)
    assert dec.filter(F.col("doc_id").isin(gone)).count() == 0
    # surviving rows still bit-identical
    srcdf = spark.read.parquet(src).filter(~F.col("doc_id").isin(gone))
    rep = verify_roundtrip(srcdf, dec, "doc_id")
    assert rep["ok"], rep
    # time travel BEFORE the delete sees all rows (tombstone-free read)
    assert decode_blocks(spark, out, schema, as_of=snap).count() == 500


def test_delete_on_unprojected_key_raises(spark, tmp_path):
    import pyarrow as pa

    src, out, schema = _encode_docs(spark, tmp_path)
    delete_rows(out, "doc_id", [1])
    proj = pa.schema([schema.field("text")])  # excludes doc_id
    with pytest.raises(ValueError, match="tombstones on column"):
        decode_blocks(spark, out, proj).count()


def test_large_delete_set_shuffles_not_broadcasts(spark, tmp_path,
                                                  monkeypatch):
    """Past SMALL_DELETE_MAX_KEYS a delete commits copy-on-write, so no
    read ever joins against it (a GDPR-scale list would otherwise
    shuffle, or OOM every executor as a broadcast): the decode plan
    has no Exchange and no Join, and the rows stay exact."""
    src, out, schema = _encode_docs(spark, tmp_path)
    gone = [3, 77, 200, 404]
    monkeypatch.setattr(engine, "SMALL_DELETE_MAX_KEYS", 2)
    delete_rows(out, "doc_id", gone)
    assert not ReadView.read(out).deletes  # materialized, none pending
    dec = decode_blocks(spark, out, schema)
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert dec.count() == 500 - len(gone)
    assert dec.filter(F.col("doc_id").isin(gone)).count() == 0
    srcdf = spark.read.parquet(src).filter(~F.col("doc_id").isin(gone))
    assert verify_roundtrip(srcdf, dec, "doc_id")["ok"]
    # below the threshold the decode tasks apply the tombstones
    # themselves: no join and no exchange at all
    monkeypatch.setattr(engine, "SMALL_DELETE_MAX_KEYS", 1000000)
    delete_rows(out, "doc_id", [5])
    plan_small = decode_blocks(spark, out, schema)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_small, plan_small
    assert "Join" not in plan_small, plan_small


def test_purge_materializes_and_vacuum_expires(spark, tmp_path):
    src, out, schema = _encode_docs(spark, tmp_path)
    pre_snap = [e["snapshot_id"] for e in Manifest(out).read()
                if e.get("kind") == "snapshot"][-1]
    gone = list(range(0, 500, 7))
    delete_rows(out, "doc_id", gone)
    res = purge_deletes(spark, out, key_col="doc_id")
    assert res["rewritten"] and res["purged_files"] == 1
    # post-purge read: no anti-join needed, same surviving rows,
    # projection excluding the key now works again
    dec = decode_blocks(spark, out, schema)
    assert dec.count() == 500 - len(gone)
    import pyarrow as pa

    proj = pa.schema([schema.field("text")])
    assert decode_blocks(spark, out, proj).count() == 500 - len(gone)
    srcdf = spark.read.parquet(src).filter(~F.col("doc_id").isin(gone))
    rep = verify_roundtrip(srcdf, dec, "doc_id")
    assert rep["ok"], rep
    # time travel: before the delete -> all rows from the retired dirs
    assert decode_blocks(spark, out, schema, as_of=pre_snap).count() == 500
    vac = vacuum_blocks(out)
    assert vac["removed"]
    # post-vacuum HEAD still fine; pre-purge time travel raises loudly
    assert decode_blocks(spark, out, schema).count() == 500 - len(gone)
    with pytest.raises(ValueError):
        decode_blocks(spark, out, schema, as_of=pre_snap).count()


def test_time_travel_to_vacuumed_delete_raises_clearly(spark, tmp_path):
    """Time travel to the delete snapshot (between delete and purge)
    after vacuum removed the cleared delete file must raise the same
    explicit vacuumed/expired ValueError as the missing-chunk-dir case,
    not a raw Spark path-not-found."""
    src, out, schema = _encode_docs(spark, tmp_path)
    d = delete_rows(out, "doc_id", [1, 2, 3])
    purge_deletes(spark, out, key_col="doc_id")
    vacuum_blocks(out)
    with pytest.raises(ValueError, match="vacuumed/expired"):
        decode_blocks(spark, out, schema, as_of=d["snapshot_id"]).count()


def test_vacuum_expires_orphaned_staged_purge(spark, tmp_path):
    """A purge that crashed after its staged encode (simulated: a
    staged encode_files with no promoting txn) leaves staged part
    entries + chunk dirs. vacuum_blocks sweeps the dirs and marks the
    snapshot expired in one staged_expire line; reads never change."""
    from libgiddy_spark.engine import encode_files
    from libgiddy_spark.table_io import list_parquet_files

    src, out, schema = _encode_docs(spark, tmp_path)
    # simulate the crashed purge's staged encode: different source dir
    # (like _purge_src) so parts are new registry entries
    src2 = str(tmp_path / "crashed_purge_src")
    spark.read.parquet(src).filter(F.col("doc_id") < 100).coalesce(
        1).write.parquet(src2)
    summary = encode_files(spark, src2, list_parquet_files(src2), out,
                           "doc_id", commit_status="staged")
    staged_dirs = {
        e["chunk_dir"] for e in Manifest(out).read()
        if e.get("kind") == "part" and e.get("status") == "staged"
        and e.get("chunk_dir")
    }
    assert staged_dirs
    assert decode_blocks(spark, out, schema).count() == 500  # invisible
    vac = vacuum_blocks(out)
    assert summary["snapshot_id"] in vac["expired_staged"]
    for d in staged_dirs:
        assert not os.path.isdir(os.path.join(out, "blocks", d))
    assert any(e.get("kind") == "staged_expire"
               for e in Manifest(out).read())
    assert decode_blocks(spark, out, schema).count() == 500
    # idempotent: a second vacuum does not re-mark
    assert vacuum_blocks(out)["expired_staged"] == []


def test_blocks_df_empty_when_nothing_committed(spark, tmp_path):
    """blocks_df must honour its LIVE-at-HEAD contract when the
    committed listing is empty (crashed first encode): empty frame,
    never a raw directory scan that could surface staged files."""
    from libgiddy_spark.engine import blocks_df

    out = str(tmp_path / "empty_tbl")
    os.makedirs(os.path.join(out, "blocks", "stray"))
    # a stray uncommitted block file must stay invisible
    spark.range(1).select(
        F.lit(1).alias("part_id")).write.parquet(
        os.path.join(out, "blocks", "stray", "junk"))
    bdf = blocks_df(spark, out)
    assert bdf.count() == 0
    assert "payload" in bdf.columns


def test_delete_then_append_sequence_scoped(spark, tmp_path):
    """Iceberg sequence scoping (round 5): a delete applies only to
    parts committed strictly before it, so a key re-ingested AFTER the
    delete survives — and a second delete after the re-ingest removes
    it again."""
    src, out, schema = _encode_docs(spark, tmp_path)
    delete_rows(out, "doc_id", [7])
    assert decode_blocks(spark, out, schema).count() == 499
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.filter(F.col("doc_id") == 7).coalesce(1).write.mode(
        "append").parquet(src)
    encode_snapshot(spark, src, out, key_col="doc_id")
    dec = decode_blocks(spark, out, schema)
    # the decode tasks scope the tombstone themselves: no join
    assert "Join" not in dec._jdf.queryExecution().executedPlan().toString()
    assert dec.filter(F.col("doc_id") == 7).count() == 1
    assert dec.count() == 500
    # other pre-delete keys stay deleted by the same tombstone
    delete_rows(out, "doc_id", [7])
    dec2 = decode_blocks(spark, out, schema)
    assert dec2.filter(F.col("doc_id") == 7).count() == 0
    assert dec2.count() == 499


def test_purge_crash_before_txn_is_invisible(spark, tmp_path, monkeypatch):
    """Atomicity: if purge crashes after the staged re-encode but BEFORE
    the commit txn, readers see exactly the pre-purge state (old rows,
    deletes still applied) — never doubled rows — and a re-run purge
    completes cleanly."""
    from libgiddy_spark import engine as E
    from libgiddy_spark.manifest import Manifest

    src, out, schema = _encode_docs(spark, tmp_path)
    gone = [1, 2, 3]
    delete_rows(out, "doc_id", gone)

    orig = Manifest.commit_txn

    def dying_txn(self, entries):
        raise RuntimeError("simulated crash before purge txn")

    monkeypatch.setattr(Manifest, "commit_txn", dying_txn)
    with pytest.raises(RuntimeError):
        purge_deletes(spark, out, key_col="doc_id")
    monkeypatch.setattr(Manifest, "commit_txn", orig)
    # pre-purge state intact: no duplicates, deletes still merge-on-read
    dec = decode_blocks(spark, out, schema)
    assert dec.count() == 497
    assert dec.filter(F.col("doc_id").isin(gone)).count() == 0
    # re-run completes and the table stays exact
    res = purge_deletes(spark, out, key_col="doc_id")
    assert res["rewritten"]
    dec2 = decode_blocks(spark, out, schema)
    assert dec2.count() == 497
    srcdf = spark.read.parquet(src).filter(~F.col("doc_id").isin(gone))
    rep = verify_roundtrip(srcdf, dec2, "doc_id")
    assert rep["ok"], rep


def _encode_keyed(spark, tmp_path, keys, key_type):
    """A small table with key column ``k`` of ``key_type`` (nulls
    allowed) and a value column, encoded with ``k`` as sort key."""
    import pyarrow as pa

    src = str(tmp_path / "ksrc")
    os.makedirs(src)
    tbl = pa.table({
        "k": pa.array(keys, key_type),
        "v": pa.array([f"row-{i}" for i in range(len(keys))]),
    })
    pq.write_table(tbl, os.path.join(src, "part-0.parquet"))
    out = str(tmp_path / "kenc")
    encode_snapshot(spark, src, out, key_col="k")
    return out, tbl.schema


def _rows(df):
    return sorted((tuple(r) for r in df.select("k", "v").collect()),
                  key=lambda r: r[1])


def _via_join(spark, out, schema):
    """Reference rows: a Spark SQL left anti-join of the rows decoded
    at the table's first snapshot (before any delete) against every
    delete file — the matching the decode tasks' mask must reproduce."""
    entries = Manifest(out).read()
    first = next(e["snapshot_id"] for e in entries
                 if e.get("kind") == "snapshot")
    rows = decode_blocks(spark, out, schema, as_of=first)
    for e in entries:
        if e.get("kind") == "delete":
            keys = spark.read.parquet(os.path.join(out, e["file"]))
            rows = rows.join(keys.select(F.col(e["key_col"]).alias("k")),
                             "k", "left_anti")
    return _rows(rows)


def test_mixed_threshold_deletes_exact_rows(spark, tmp_path, monkeypatch):
    """One delete above SMALL_DELETE_MAX_KEYS (committed copy-on-write)
    and one below it (pending, applied in the decode tasks) together
    remove exactly their keys, and the decode joins nothing."""
    src, out, schema = _encode_docs(spark, tmp_path)
    big, small = [3, 77, 200, 404], [5, 17]
    monkeypatch.setattr(engine, "SMALL_DELETE_MAX_KEYS", 3)
    delete_rows(out, "doc_id", big)
    delete_rows(out, "doc_id", small)
    assert [n for _f, _k, n, _s in ReadView.read(out).deletes] == [2]
    dec = decode_blocks(spark, out, schema)
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    gone = big + small
    assert dec.count() == 500 - len(gone)
    assert dec.filter(F.col("doc_id").isin(gone)).count() == 0
    srcdf = spark.read.parquet(src).filter(~F.col("doc_id").isin(gone))
    assert verify_roundtrip(srcdf, dec, "doc_id")["ok"]


def test_null_tombstone_keeps_null_key_rows(spark, tmp_path):
    """A tombstone list holding None deletes its other keys but no
    null-key row — null never equals anything, as in the anti-join."""
    import pyarrow as pa

    keys = [1, 2, None, 4, None, 6]
    out, schema = _encode_keyed(spark, tmp_path, keys, pa.int64())
    delete_rows(out, "k", [2, None])
    got = _rows(decode_blocks(spark, out, schema))
    assert got == sorted(
        [(k, f"row-{i}") for i, k in enumerate(keys) if k != 2],
        key=lambda r: r[1])
    assert got == _via_join(spark, out, schema)
    # an all-null tombstone list (a null-typed key column) deletes nothing
    delete_rows(out, "k", [None])
    assert _rows(decode_blocks(spark, out, schema)) == got
    # a tombstone list over twice the group's row count is matched
    # through the task's key index, which must skip null keys too
    delete_rows(out, "k", [0, 4, None] + list(range(100, 130)))
    got = _rows(decode_blocks(spark, out, schema))
    assert [k for k, _ in got] == [1, None, None, 6]
    assert got == _via_join(spark, out, schema)


def test_int64_tombstones_on_int32_key(spark, tmp_path):
    """int64 tombstone keys on an int32 key column match exactly the
    rows the anti-join matched: an out-of-range key matches nothing
    (it must not wrap onto a small key), an in-range one its row."""
    import pyarrow as pa

    keys = list(range(10))
    out, schema = _encode_keyed(spark, tmp_path, keys, pa.int32())
    delete_rows(out, "k", [2, (1 << 32) + 3, -(1 << 40), 7])
    got = _rows(decode_blocks(spark, out, schema))
    assert sorted(k for k, _ in got) == [0, 1, 3, 4, 5, 6, 8, 9]
    assert got == _via_join(spark, out, schema)


def test_decimal_and_date_tombstones(spark, tmp_path):
    """Decimal tombstones on an integer key column and date tombstones
    on a timestamp column match exactly the rows the anti-join
    matched: a key with no exact value of the column type (3.5 on an
    integer column) matches nothing, a date matches its midnight."""
    import datetime as dt
    from decimal import Decimal as D

    out, schema = _encode_keyed(spark, tmp_path, list(range(8)), pa.int64())
    delete_rows(out, "k", [D("2"), D("3.5"), D("5.0")])  # decimal128(2, 1)
    got = _rows(decode_blocks(spark, out, schema))
    assert [k for k, _ in got] == [0, 1, 3, 4, 6, 7]
    assert got == _via_join(spark, out, schema)

    day = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
    stamps = [day, day + dt.timedelta(hours=5), day + dt.timedelta(days=1)]
    ts_path = tmp_path / "ts"
    ts_path.mkdir()
    out, schema = _encode_keyed(spark, ts_path, stamps,
                                pa.timestamp("us", tz="UTC"))
    delete_rows(out, "k", [dt.date(2020, 1, 1), dt.date(2020, 1, 2)])
    got = _rows(decode_blocks(spark, out, schema))
    assert [k for k, _ in got] == [stamps[1].replace(tzinfo=None)]
    assert got == _via_join(spark, out, schema)


@pytest.mark.parametrize("typ, keys, probe", [
    (pa.int32(), [3, -7, 1 << 30], [3, None, 4, -7, 1 << 30]),
    (pa.uint64(), [0, 1 << 63, 9], [1 << 63, None, 1, 0]),
    (pa.float64(), [1.5, float("nan"), -2.0], [1.5, None, float("nan"), 2.0]),
    (pa.string(), ["a", "", "ünï"], ["", None, "b", "ünï", "a"]),
    (pa.binary(), [b"\x00", b"xy", b""], [b"xy", None, b"\x00\x00"]),
    (pa.timestamp("us", tz="UTC"), [0, 10**15, -5], [10**15, None, 1]),
])
def test_tombstone_set_lookup_paths_agree(typ, keys, probe):
    """Both ways a decode task matches a group against a tombstone list
    — Arrow's is_in for a group at least half the key count, the
    task-built pandas index for a smaller one — mark exactly the
    non-null rows whose key is in the list."""
    from libgiddy_spark.engine import _TombstoneSet

    if pa.types.is_timestamp(typ):
        vals = pa.array(keys, pa.int64()).cast(typ)
        col = pa.array(probe, pa.int64()).cast(typ)
    else:
        vals, col = pa.array(keys, typ), pa.array(probe, typ)
    # NaN equals NaN in a join key, as in Spark
    want = [p is not None and (p in keys or p != p) for p in probe]
    ts = _TombstoneSet(vals)
    long_col = pa.concat_arrays([col] * len(keys))
    assert ts.hits(long_col).tolist() == want * len(keys)  # is_in
    ts = _TombstoneSet(vals)  # one-row groups: the index, built once
    assert [ts.hits(col.slice(i, 1))[0] for i in range(len(col))] == want
    assert ts._index is not None


def test_incomparable_tombstone_type_raises(spark, tmp_path):
    """String tombstones on an integer key column cannot be compared:
    decode raises a ValueError naming the delete file and the column."""
    import pyarrow as pa

    out, schema = _encode_keyed(spark, tmp_path, list(range(10)), pa.int32())
    d = delete_rows(out, "k", ["2", "x"])
    with pytest.raises(ValueError) as ei:
        decode_blocks(spark, out, schema).count()
    msg = str(ei.value)
    assert os.path.basename(d["file"]) in msg and "'k'" in msg, msg


def test_dropped_block_row_raises(spark, tmp_path):
    """Fault injection: a block file missing one block row of a
    multi-block column fails the decode with an error naming the block
    file, part, salt and column — never fewer or misaligned rows."""
    import pyarrow as pa

    from libgiddy_spark.blocks import BLOCK_ROWS
    from libgiddy_spark.engine import _committed_block_files

    n = BLOCK_ROWS + 1000  # two blocks per column
    out, schema = _encode_keyed(spark, tmp_path, list(range(n)), pa.int64())
    assert decode_blocks(spark, out, schema).count() == n
    (path,) = _committed_block_files(out)
    blocks = pq.read_table(path)
    blk = zip(blocks.column("column").to_pylist(),
              blocks.column("block_seq").to_pylist())
    keep = [i for i, cq in enumerate(blk) if cq != ("v", 0)]
    assert len(keep) == blocks.num_rows - 1
    pid = blocks.column("part_id")[0].as_py()
    salt = blocks.column("salt")[0].as_py()
    pq.write_table(blocks.take(keep), path)
    with pytest.raises(Exception) as ei:
        decode_blocks(spark, out, schema).count()
    msg = str(ei.value)
    assert path in msg and f"part {pid} salt {salt}" in msg, msg
    assert "column 'v'" in msg, msg
