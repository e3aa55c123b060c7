"""Copy-on-write deletes and upserts: a tombstone list longer than
``engine.SMALL_DELETE_MAX_KEYS`` commits in one manifest txn with a
full rewrite of the table minus its keys, so a decode only ever masks
tombstones inside its tasks and its plan never joins."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from libgiddy_spark import engine
from libgiddy_spark.engine import (
    decode_blocks,
    delete_rows,
    encode_snapshot,
    purge_deletes,
    read_changes,
    upsert_rows,
    vacuum_blocks,
)
from libgiddy_spark.manifest import Manifest, ReadView

SF = "/root/testdata/sf0.001"
GONE = [3, 77, 200, 404]


def _encode_docs(spark, root: str):
    """The 500-row documents table keyed on doc_id: (source dir, table
    dir, schema, snapshot id)."""
    src = os.path.join(root, "src")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(
        3).write.parquet(src)
    out = os.path.join(root, "enc")
    snap = encode_snapshot(spark, src, out, key_col="doc_id")["snapshot_id"]
    return src, out, pq.read_schema(f"{SF}/documents.parquet"), snap


def _upsert_df(spark, src):
    """Every doc_id % 100 == 0 row with a new lang, plus three new
    doc_ids: 5 updated keys and 3 inserted ones."""
    docs = spark.read.parquet(src)
    upd = docs.filter(F.col("doc_id") % 100 == 0).withColumn(
        "lang", F.lit("xx"))
    new = docs.filter(F.col("doc_id") < 3).withColumn(
        "doc_id", F.col("doc_id") + 9000)
    return upd.unionByName(new)


def _op(spark, kind: str, src: str, out: str) -> str:
    if kind == "delete":
        return delete_rows(out, "doc_id", GONE)["snapshot_id"]
    return upsert_rows(spark, out, "doc_id",
                       _upsert_df(spark, src))["snapshot_id"]


def _expected(spark, kind: str, src: str, schema):
    """The table's rows after ``_op``, computed from the source."""
    docs = spark.read.parquet(src)
    if kind == "delete":
        return _sorted(docs.filter(~F.col("doc_id").isin(GONE)), schema)
    upd = _upsert_df(spark, src)
    return _sorted(docs.join(upd.select("doc_id"), "doc_id", "left_anti")
                   .unionByName(upd), schema)


def _sorted(df, schema) -> list[tuple]:
    return sorted((tuple(r) for r in df.select(*schema.names).collect()),
                  key=repr)


def _assert_no_join(df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


@pytest.mark.parametrize("kind", ["delete", "upsert"])
def test_copy_on_write_reads_like_merge_on_read(spark, tmp_path,
                                                monkeypatch, kind):
    """A forced copy-on-write delete or upsert gives the same HEAD rows
    and the same changelog window as the merge-on-read one, and time
    travel to before it still returns every row."""
    got = {}
    for limit in (1_000_000, 0):
        monkeypatch.setattr(engine, "SMALL_DELETE_MAX_KEYS", limit)
        src, out, schema, pre = _encode_docs(spark, str(tmp_path / str(limit)))
        _op(spark, kind, src, out)
        assert bool(ReadView.read(out).deletes) == (limit > 0)
        head = decode_blocks(spark, out, schema)
        _assert_no_join(head)
        changes = read_changes(spark, out, schema, pre)
        assert decode_blocks(spark, out, schema, as_of=pre).count() == 500
        got[limit] = (
            _sorted(head, schema),
            sorted(map(tuple, changes.collect()), key=repr))
    assert got[0] == got[1_000_000]
    assert got[0][0] == _expected(spark, kind, src, schema)
    n_deleted = len(GONE) if kind == "delete" else 5
    assert [r[-2] for r in got[0][1]].count("delete") == n_deleted


def test_decode_plan_never_joins(spark, tmp_path, monkeypatch):
    """No decode plan holds an Exchange or a Join, whatever the size of
    its tombstone lists: a pending list past the limit (written under
    a higher one, or read at a copy-on-write delete's own snapshot) is
    masked inside the decode tasks like any other."""
    src, out, schema, _pre = _encode_docs(spark, str(tmp_path))
    delete_rows(out, "doc_id", [5, 17])  # pending
    monkeypatch.setattr(engine, "SMALL_DELETE_MAX_KEYS", 0)
    dec = decode_blocks(spark, out, schema)
    _assert_no_join(dec)
    assert dec.count() == 498
    cow = delete_rows(out, "doc_id", GONE)["snapshot_id"]
    gone = [5, 17, *GONE]
    assert not ReadView.read(out).deletes
    for as_of in (None, cow):  # at cow both lists are still pending
        dec = decode_blocks(spark, out, schema, as_of=as_of)
        _assert_no_join(dec)
        assert dec.count() == 500 - len(gone)
        assert dec.filter(F.col("doc_id").isin(gone)).count() == 0
    assert len(ReadView.read(out, cow).deletes) == 2
    pruned = decode_blocks(spark, out, schema, key_range=(0, 100))
    _assert_no_join(pruned)
    assert pruned.filter(F.col("doc_id") <= 100).count() == 101 - 4


@pytest.mark.parametrize("kind", ["delete", "upsert"])
def test_copy_on_write_crash_before_txn(spark, tmp_path, monkeypatch,
                                        kind):
    """A copy-on-write delete or upsert that dies before its one txn
    leaves the table reading exactly its pre-op state; a re-run reaches
    the post-op state, and vacuum expires the crashed staged encode."""
    src, out, schema, _pre = _encode_docs(spark, str(tmp_path))
    monkeypatch.setattr(engine, "SMALL_DELETE_MAX_KEYS", 0)
    before = _sorted(decode_blocks(spark, out, schema), schema)

    def dying_txn(self, entries):
        raise RuntimeError("simulated crash before the copy-on-write txn")

    with monkeypatch.context() as mp:
        mp.setattr(Manifest, "commit_txn", dying_txn)
        with pytest.raises(RuntimeError, match="simulated crash"):
            _op(spark, kind, src, out)
    assert _sorted(decode_blocks(spark, out, schema), schema) == before
    assert not ReadView.read(out).deletes
    _op(spark, kind, src, out)
    after = _sorted(decode_blocks(spark, out, schema), schema)
    assert after == _expected(spark, kind, src, schema)
    assert not ReadView.read(out).deletes
    assert vacuum_blocks(out)["expired_staged"]
    assert _sorted(decode_blocks(spark, out, schema), schema) == after


def test_upsert_replaces_crashed_delete_file(spark, tmp_path, monkeypatch):
    """A delete that died after renaming its delete file into place but
    before its manifest entry leaves an unreferenced FILE where the
    next upsert puts its tombstone directory: the upsert replaces it
    and commits exact rows."""
    src, out, schema, _pre = _encode_docs(spark, str(tmp_path))

    def dying_append(self, *args, **kwargs):
        raise RuntimeError("simulated crash before the delete entry")

    with monkeypatch.context() as mp:
        mp.setattr(Manifest, "append_delete", dying_append)
        with pytest.raises(RuntimeError, match="simulated crash"):
            delete_rows(out, "doc_id", GONE)
    assert os.path.isfile(os.path.join(out, "deletes", "delete-00000.parquet"))
    upsert_rows(spark, out, "doc_id", _upsert_df(spark, src))
    assert (_sorted(decode_blocks(spark, out, schema), schema)
            == _expected(spark, "upsert", src, schema))


def test_copy_on_write_checks_before_writing(spark, tmp_path, monkeypatch):
    """A copy-on-write delete raises before it commits anything: without
    an active SparkSession (naming the limit), and on keys that cannot
    be compared with the key column (the error decode raises)."""
    src, out, schema, _pre = _encode_docs(spark, str(tmp_path))
    monkeypatch.setattr(engine, "SMALL_DELETE_MAX_KEYS", 0)
    before = Manifest(out).read()
    with pytest.raises(ValueError, match="cannot be compared") as ei:
        delete_rows(out, "doc_id", ["2", "x"])
    assert "'doc_id'" in str(ei.value)
    with monkeypatch.context() as mp:
        mp.setattr(SparkSession, "getActiveSession",
                   classmethod(lambda cls: None))
        with pytest.raises(ValueError, match="SMALL_DELETE_MAX_KEYS"):
            delete_rows(out, "doc_id", GONE)
    assert Manifest(out).read() == before
    assert decode_blocks(spark, out, schema).count() == 500


@pytest.mark.parametrize("kind", ["purge", "upsert"])
def test_full_rewrite_removes_its_staging_copy(spark, tmp_path, monkeypatch,
                                               kind):
    """A purge and a forced copy-on-write upsert remove ``_purge_src``,
    the plain-parquet copy of every live row their rewrite re-encodes,
    once their txn commits; the table reads the same rows without it."""
    src, out, schema, _pre = _encode_docs(spark, str(tmp_path))
    if kind == "purge":
        delete_rows(out, "doc_id", GONE)
        purge_deletes(spark, out, "doc_id")
        expected = _expected(spark, "delete", src, schema)
    else:
        monkeypatch.setattr(engine, "SMALL_DELETE_MAX_KEYS", 0)
        _op(spark, "upsert", src, out)
        expected = _expected(spark, "upsert", src, schema)
    assert not os.path.exists(os.path.join(out, "_purge_src"))
    assert _sorted(decode_blocks(spark, out, schema), schema) == expected
