"""Table-schema registry: baseline recording, add/drop/rename
evolution, read_table resolution, time travel, delete interplay."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from libgiddy_spark.engine import delete_rows, encode_snapshot
from libgiddy_spark.schema_evo import (
    evolve_schema,
    read_table,
    table_schema,
)

SF = "/root/testdata/sf0.001"


def _snaps(out):
    from libgiddy_spark.manifest import Manifest

    seen = []
    for e in Manifest(out).read():
        if e.get("kind") == "snapshot" and e["snapshot_id"] not in seen:
            seen.append(e["snapshot_id"])
    return seen


@pytest.fixture()
def table(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 300).coalesce(1).write.parquet(src)
    out = str(tmp_path / "enc")
    encode_snapshot(spark, src, out, key_col="doc_id")
    return out, src


def test_baseline_recorded_and_read_table(spark, table):
    out, _src = table
    schema, phys, retired = table_schema(out)
    assert schema.names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert phys["text"] == ["text"] and retired == set()
    df = read_table(spark, out)
    assert df.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    assert df.count() == 300
    # values identical to the source
    src_df = spark.read.parquet(f"{SF}/documents.parquet") \
        .filter(F.col("doc_id") < 300)
    assert df.exceptAll(src_df).count() == 0
    assert src_df.exceptAll(df).count() == 0


def test_rename_maps_old_blocks(spark, table):
    out, _src = table
    evolve_schema(out, rename={"text": "body"})
    df = read_table(spark, out, columns=["doc_id", "body"])
    assert df.columns == ["doc_id", "body"]
    got = {r["doc_id"]: r["body"] for r in df.collect()}
    src = {r["doc_id"]: r["text"] for r in
           spark.read.parquet(f"{SF}/documents.parquet")
           .filter(F.col("doc_id") < 300).collect()}
    assert got == src
    # rename chain keeps mapping
    evolve_schema(out, rename={"body": "content"})
    schema, phys, _ = table_schema(out)
    assert phys["content"] == ["text", "body", "content"]
    assert read_table(spark, out, columns=["content"]).count() == 300


def test_time_travel_reads_old_schema(spark, table):
    out, src = table
    s1 = _snaps(out)[0]
    evolve_schema(out, rename={"text": "body"})
    # as_of the pre-rename snapshot: old names
    schema, _, _ = table_schema(out, as_of=s1)
    assert "text" in schema.names and "body" not in schema.names
    df = read_table(spark, out, as_of=s1)
    assert "text" in df.columns
    assert df.count() == 300


def test_add_column_null_filled_and_collision_guard(spark, table):
    out, _src = table
    evolve_schema(out, add={"score": pa.int64()})
    df = read_table(spark, out, columns=["doc_id", "score"])
    rows = df.collect()
    assert len(rows) == 300 and all(r["score"] is None for r in rows)
    with pytest.raises(ValueError, match="live or was used"):
        evolve_schema(out, add={"text": pa.string()})


def test_duplicate_targets_rejected(spark, table):
    out, _src = table
    with pytest.raises(ValueError, match="duplicate target"):
        evolve_schema(out, rename={"lang": "z", "source": "z"})
    with pytest.raises(ValueError, match="duplicate target"):
        evolve_schema(out, rename={"lang": "z"}, add={"z": pa.string()})


def test_drop_retires_name_forever(spark, table):
    out, _src = table
    evolve_schema(out, drop=["lang"])
    assert "lang" not in read_table(spark, out).columns
    with pytest.raises(ValueError, match="live or was used"):
        evolve_schema(out, add={"lang": pa.string()})
    with pytest.raises(ValueError, match="collides"):
        evolve_schema(out, rename={"source": "lang"})


def test_delete_applies_across_rename(spark, table):
    out, _src = table
    delete_rows(out, "doc_id", [1, 2])
    evolve_schema(out, rename={"doc_id": "document_id"})
    df = read_table(spark, out)
    ids = {r["document_id"] for r in df.collect()}
    assert 1 not in ids and 2 not in ids and len(ids) == 298


def test_grown_source_registers_new_columns(spark, table):
    out, src = table
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    extra = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 400)
    ).withColumn("extra_col", F.col("doc_id") * 2)
    stage = src + "_stage"
    extra.coalesce(1).write.parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "b.parquet"))
    encode_snapshot(spark, src, out, key_col="doc_id")
    schema, _, _ = table_schema(out)
    assert "extra_col" in schema.names
    df = read_table(spark, out)
    vals = {r["doc_id"]: r["extra_col"] for r in df.collect()}
    assert len(vals) == 400
    assert vals[350] == 700 and vals[10] is None


def test_decode_cli_table_schema(spark, table, monkeypatch, capsys):
    import json as _json
    import sys as _sys

    from libgiddy_spark.jobs import decode_job

    out, _src = table
    evolve_schema(out, rename={"text": "body"})
    monkeypatch.setattr(_sys, "argv", [
        "decode_job.py", "--encoded", out, "--table-schema",
        "--key-col", "doc_id", "--columns", "doc_id,body",
    ])
    decode_job.main()
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_decoded"] == 300


def test_read_table_pruning_passthrough(spark, table):
    out, _src = table
    evolve_schema(out, rename={"text": "body"})
    df = read_table(spark, out, key_range=(100, 120))
    ids = {r["doc_id"] for r in df.collect()}
    assert set(range(100, 121)) <= ids  # over-inclusive, never lossy
    assert read_table(spark, out).count() == 300


def test_no_evolution_nulls_for_compacted_then_purged_parts(spark, table):
    """A purge retires the compacted dir that holds the pre-evolution
    part: a projection of only the added column must not resurrect
    that part as null rows next to the purge's rewritten ones."""
    from libgiddy_spark.engine import compact_blocks, purge_deletes

    out, src = table
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    stage = src + "_stage"
    (docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
     .withColumn("extra_col", F.col("doc_id") * 2)
     .coalesce(1).write.parquet(stage))
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "b.parquet"))
    encode_snapshot(spark, src, out, key_col="doc_id")
    assert compact_blocks(spark, out)["bins"] == 1
    delete_rows(out, "doc_id", [1])
    purge_deletes(spark, out, "doc_id")
    df = read_table(spark, out, columns=["extra_col"])
    assert df.count() == 399
    assert df.filter(F.col("extra_col").isNotNull()).count() == 100


def _src_text(spark, lo=0, hi=300):
    return {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{SF}/documents.parquet")
            .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .collect()}


def _append_docs(spark, src, lo, hi):
    """Add the documents ``lo <= doc_id < hi`` to the source dir as one
    new file (its column is still called ``text``)."""
    stage = src + f"_stage{lo}"
    (spark.read.parquet(f"{SF}/documents.parquet")
     .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
     .coalesce(1).write.parquet(stage))
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, f"{lo}.parquet"))


@pytest.mark.parametrize("rewrite", ["purge_deletes", "rewrite_sorted"])
def test_full_rewrite_keeps_renamed_values(spark, table, rewrite):
    from libgiddy_spark import engine

    out, _src = table
    evolve_schema(out, rename={"text": "body"})
    delete_rows(out, "doc_id", [1, 2, 3])
    getattr(engine, rewrite)(spark, out, "doc_id")
    got = {r["doc_id"]: r["body"] for r in
           read_table(spark, out, columns=["doc_id", "body"]).collect()}
    want = _src_text(spark)
    for k in (1, 2, 3):
        del want[k]
    assert got == want


def test_changelog_carries_renamed_values(spark, table):
    from libgiddy_spark.engine import read_changes

    out, _src = table
    evolve_schema(out, rename={"text": "body"})
    delete_rows(out, "doc_id", [1, 2, 3])
    ch = read_changes(spark, out, table_schema(out)[0], None)
    want = _src_text(spark)
    ins = {r["doc_id"]: r["body"] for r in
           ch.filter(F.col("_change_type") == "insert").collect()}
    dels = {r["doc_id"]: r["body"] for r in
            ch.filter(F.col("_change_type") == "delete").collect()}
    assert ins == want
    assert dels == {k: want[k] for k in (1, 2, 3)}


def test_changelog_delete_after_key_rename(spark, table):
    from libgiddy_spark.engine import read_changes

    out, _src = table
    delete_rows(out, "doc_id", [1, 2])
    evolve_schema(out, rename={"doc_id": "document_id"})
    ch = read_changes(spark, out, table_schema(out)[0], None)
    dels = {r["document_id"]: r["text"] for r in
            ch.filter(F.col("_change_type") == "delete").collect()}
    want = _src_text(spark)
    assert dels == {1: want[1], 2: want[2]}


def test_time_travel_after_rename_then_drop(spark, table):
    """A body-era snapshot holds blocks named ``text`` (the append) and
    ``body`` (the purge). After ``body`` is renamed to ``content`` and
    dropped, the newest schema line records neither chain; a read at
    that snapshot still maps both."""
    from libgiddy_spark.engine import purge_deletes

    out, src = table
    evolve_schema(out, rename={"text": "body"})
    delete_rows(out, "doc_id", [1, 2])
    purge_deletes(spark, out, "doc_id")
    _append_docs(spark, src, 300, 400)
    snap = encode_snapshot(spark, src, out, key_col="doc_id")["snapshot_id"]
    evolve_schema(out, rename={"body": "content"})
    evolve_schema(out, drop=["content"])
    assert "content" not in read_table(spark, out).columns
    got = {r["doc_id"]: r["body"] for r in read_table(
        spark, out, columns=["doc_id", "body"], as_of=snap).collect()}
    want = _src_text(spark, 0, 400)
    del want[1], want[2]
    assert got == want
