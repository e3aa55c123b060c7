"""Incremental / CDC read (read_changes): appended and deleted row sets
per snapshot pair from the manifest's append-only history, with storage
maintenance (compaction, purge, vacuum) invisible to the changelog."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from libgiddy_spark.engine import (
    compact_blocks,
    decode_blocks,
    delete_rows,
    encode_snapshot,
    purge_deletes,
    read_changes,
    vacuum_blocks,
)
from libgiddy_spark.manifest import Manifest

SF = "/root/testdata/sf0.001"


def _snaps(out):
    seen = []
    for e in Manifest(out).read():
        if e.get("kind") == "snapshot" and e["snapshot_id"] not in seen:
            seen.append(e["snapshot_id"])
    return seen


def _setup(spark, tmp_path):
    """S1: encode doc_id<250; S2: append doc_id>=250; S3: delete
    doc_id%50==0. Returns (src_all_df, out, schema)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(src)
    out = str(tmp_path / "enc")
    schema = pq.read_schema(f"{SF}/documents.parquet")
    encode_snapshot(spark, src, out, key_col="doc_id")
    stage = str(tmp_path / "stageB")
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "b.parquet"))
    encode_snapshot(spark, src, out, key_col="doc_id")
    delete_rows(out, "doc_id", [i for i in range(500) if i % 50 == 0])
    return docs, out, schema


def _key(df):
    return sorted(
        (r["doc_id"], r["_change_type"], r["_commit_seq"])
        for r in df.select("doc_id", "_change_type", "_commit_seq").collect()
    )


def test_changes_per_snapshot_pair(spark, tmp_path):
    docs, out, schema = _setup(spark, tmp_path)
    s1, s2, s3 = _snaps(out)

    # (s1 -> s2]: only the appended rows, seq 1
    ch = read_changes(spark, out, schema, s1, s2)
    assert _key(ch) == [(i, "insert", 1) for i in range(250, 500)]

    # (s2 -> s3]: only the delete, full rows, seq 1
    ch = read_changes(spark, out, schema, s2, s3)
    assert _key(ch) == [(i, "delete", 1) for i in range(0, 500, 50)]
    # deleted rows carry full column payloads, bit-identical to source
    got = ch.select("doc_id", "text").collect()
    exp = {r["doc_id"]: r["text"] for r in docs.filter(
        F.col("doc_id") % 50 == 0).collect()}
    assert {r["doc_id"]: r["text"] for r in got} == exp

    # (s1 -> HEAD]: both, sequenced; insert-then-delete rows appear twice
    ch = read_changes(spark, out, schema, s1)
    exp_all = [(i, "insert", 1) for i in range(250, 500)] + \
              [(i, "delete", 2) for i in range(0, 500, 50)]
    assert _key(ch) == sorted(exp_all)

    # since=None: everything from creation (s1's inserts apply no
    # tombstones — the delete is later)
    ch = read_changes(spark, out, schema, None, s1)
    assert _key(ch) == [(i, "insert", 1) for i in range(250)]


def test_changes_invisible_to_compaction_and_purge(spark, tmp_path):
    docs, out, schema = _setup(spark, tmp_path)
    s1, s2, s3 = _snaps(out)
    before = _key(read_changes(spark, out, schema, s1))
    res = compact_blocks(out_dir=out, spark=spark, min_dirs=2)
    assert res["rewrites"], res  # compaction actually happened
    assert _key(read_changes(spark, out, schema, s1)) == before
    purge_deletes(spark, out, key_col="doc_id")
    s_after = _snaps(out)
    # the purge snapshot commits NO logical change
    ch = read_changes(spark, out, schema, s3, s_after[-1])
    assert ch.count() == 0
    # pre-purge windows still replay (retired dirs exist until vacuum)
    assert _key(read_changes(spark, out, schema, s1, s3)) == before
    vacuum_blocks(out)
    # vacuum expired the old window's files: loud error, not row loss
    with pytest.raises(ValueError, match="vacuumed/expired"):
        read_changes(spark, out, schema, s1, s3).count()


def test_changes_bad_window_raises(spark, tmp_path):
    _docs, out, schema = _setup(spark, tmp_path)
    s1, s2, _s3 = _snaps(out)
    with pytest.raises(ValueError, match="unknown since_snapshot"):
        read_changes(spark, out, schema, "nope")
    with pytest.raises(ValueError, match="lineage"):
        read_changes(spark, out, schema, s2, s1)  # to precedes since
    # empty window: empty frame with the contract schema
    ch = read_changes(spark, out, schema, s1, s1)
    assert ch.count() == 0
    assert ch.columns[-2:] == ["_change_type", "_commit_seq"]
