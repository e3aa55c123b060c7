"""Row-level upsert (MERGE): atomic replace-or-insert in one snapshot
via staged parts + a sequence-scoped tombstone committed in a single
manifest txn."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from libgiddy_spark.engine import (
    decode_blocks,
    encode_snapshot,
    purge_deletes,
    read_changes,
    upsert_rows,
    vacuum_blocks,
)
from libgiddy_spark.manifest import Manifest

SF = "/root/testdata/sf0.001"
COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _encode(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.read.parquet(f"{SF}/documents.parquet").select(COLS) \
        .coalesce(2).write.parquet(src)
    out = str(tmp_path / "enc")
    encode_snapshot(spark, src, out, key_col="doc_id")
    full = pq.read_schema(f"{SF}/documents.parquet")
    schema = pa.schema([full.field(c) for c in COLS])
    return src, out, schema


def _upsert_df(spark, src):
    docs = spark.read.parquet(src)
    upd = (docs.filter(F.col("doc_id") % 100 == 0)
           .withColumn("lang", F.lit("xx"))
           .withColumn("n_chars", F.col("n_chars") + 1000))
    new = spark.range(3).select(
        (F.lit(9000) + F.col("id")).cast(
            docs.schema["doc_id"].dataType).alias("doc_id"),
        F.concat(F.lit("new doc "), F.col("id").cast("string"))
        .alias("text"),
        F.lit("zz").alias("lang"),
        F.lit("upsert").alias("source"),
        F.lit(9).cast(docs.schema["n_chars"].dataType).alias("n_chars"),
    )
    return upd.unionByName(new)


def test_upsert_replaces_and_inserts(spark, tmp_path):
    src, out, schema = _encode(spark, tmp_path)
    res = upsert_rows(spark, out, "doc_id", _upsert_df(spark, src))
    assert res["upserted_keys"] == 8  # 5 updated (0..400 % 100) + 3 new
    dec = decode_blocks(spark, out, schema)
    # the upserted rows share the tombstone's sequence number and the
    # decode tasks exempt them without any (part_id, seq) join
    assert "Join" not in dec._jdf.queryExecution().executedPlan().toString()
    assert dec.count() == 503
    upd = dec.filter(F.col("doc_id") % 100 == 0).filter(
        F.col("doc_id") < 500)
    assert upd.count() == 5
    assert upd.filter(F.col("lang") == "xx").count() == 5
    assert dec.filter(F.col("source") == "upsert").count() == 3
    # untouched rows identical to source
    other = dec.filter((F.col("doc_id") % 100 != 0)
                       & (F.col("doc_id") < 9000))
    assert other.filter(F.col("lang") == "xx").count() == 0
    assert other.count() == 495


def test_upsert_atomic_crash_before_txn(spark, tmp_path, monkeypatch):
    src, out, schema = _encode(spark, tmp_path)

    def dying_txn(self, entries):
        raise RuntimeError("simulated crash before upsert txn")

    orig = Manifest.commit_txn
    monkeypatch.setattr(Manifest, "commit_txn", dying_txn)
    with pytest.raises(RuntimeError):
        upsert_rows(spark, out, "doc_id", _upsert_df(spark, src))
    monkeypatch.setattr(Manifest, "commit_txn", orig)
    # pre-upsert state intact: no new rows, no tombstones applied
    dec = decode_blocks(spark, out, schema)
    assert dec.count() == 500
    assert dec.filter(F.col("lang") == "xx").count() == 0
    # retry completes
    upsert_rows(spark, out, "doc_id", _upsert_df(spark, src))
    assert decode_blocks(spark, out, schema).count() == 503


def test_upsert_time_travel_and_changelog(spark, tmp_path):
    src, out, schema = _encode(spark, tmp_path)
    pre = [e["snapshot_id"] for e in Manifest(out).read()
           if e.get("kind") == "snapshot"][-1]
    res = upsert_rows(spark, out, "doc_id", _upsert_df(spark, src))
    # time travel before the upsert: original rows
    old = decode_blocks(spark, out, schema, as_of=pre)
    assert old.count() == 500
    assert old.filter(F.col("lang") == "xx").count() == 0
    # changelog: delete-of-old + insert-of-new, the CDC update shape
    ch = read_changes(spark, out, schema, pre)
    dels = ch.filter(F.col("_change_type") == "delete")
    ins = ch.filter(F.col("_change_type") == "insert")
    assert dels.count() == 5  # only pre-existing keys emit deletes
    assert dels.filter(F.col("lang") == "xx").count() == 0  # old values
    assert ins.count() == 8
    assert ins.filter(F.col("lang") == "xx").count() == 5


def test_upsert_then_purge_and_vacuum_clears_dir_tombstone(
        spark, tmp_path):
    src, out, schema = _encode(spark, tmp_path)
    upsert_rows(spark, out, "doc_id", _upsert_df(spark, src))
    n = decode_blocks(spark, out, schema).count()
    purge_deletes(spark, out, key_col="doc_id")
    assert decode_blocks(spark, out, schema).count() == n
    vac = vacuum_blocks(out)
    # the dir-shaped upsert tombstone is expired like file tombstones
    assert any(r.startswith("deletes/") for r in vac["removed"])
    assert decode_blocks(spark, out, schema).count() == n


def test_vacuum_sweeps_crashed_staging_copies(tmp_path):
    """An upsert or a full rewrite that crashed before its txn leaves
    its staging copy of the source rows (``_upsert_src``,
    ``_purge_src``); vacuum removes both."""
    out = tmp_path / "t"
    (out / "blocks").mkdir(parents=True)
    for name in ("_upsert_src", "_purge_src"):
        (out / name).mkdir()
        pq.write_table(pa.table({"k": [1, 2]}), str(out / name / "p.parquet"))
    assert sorted(vacuum_blocks(str(out))["removed"]) == [
        "_purge_src", "_upsert_src"]
    assert not (out / "_upsert_src").exists()
    assert not (out / "_purge_src").exists()
