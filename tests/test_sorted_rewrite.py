"""Sort-order compaction (Iceberg rewrite_data_files sort strategy):
re-cluster the table by key so per-part zone maps become disjoint and
key-range decode prunes whole chunks again."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from libgiddy_spark.engine import (
    _committed_block_files,
    decode_blocks,
    delete_rows,
    encode_snapshot,
    rewrite_sorted,
    vacuum_blocks,
    verify_roundtrip,
)
from libgiddy_spark.manifest import Manifest, ReadView

SF = "/root/testdata/sf0.001"


def _interleaved_table(spark, tmp_path):
    """Even doc_ids then odd doc_ids, several files each — every part's
    key range spans the whole table, so zone maps all overlap."""
    src = str(tmp_path / "src")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.filter(F.col("doc_id") % 2 == 0).repartition(3).write.parquet(src)
    out = str(tmp_path / "enc")
    encode_snapshot(spark, src, out, key_col="doc_id", chunk_parts=1)
    docs.filter(F.col("doc_id") % 2 == 1).repartition(3).write.mode(
        "append").parquet(src)
    encode_snapshot(spark, src, out, key_col="doc_id", chunk_parts=1)
    return src, out


def test_sorted_rewrite_tightens_zone_maps(spark, tmp_path):
    src, out = _interleaved_table(spark, tmp_path)
    schema = pq.read_schema(f"{SF}/documents.parquet")
    rng = (0, 49)
    before = len(_committed_block_files(out, key_range=rng))
    # interleaved layout: a narrow range overlaps every part
    assert before == len(_committed_block_files(out))
    # small target + one part per chunk dir so the tiny test table
    # still splits into many independently-prunable chunks
    res = rewrite_sorted(spark, out, key_col="doc_id",
                         target_part_bytes=16 << 10, chunk_parts=1)
    assert res["sorted_by"] == "doc_id"
    after_all = len(_committed_block_files(out))
    after_rng = len(_committed_block_files(out, key_range=rng))
    # clustered layout: the narrow range prunes to a strict subset
    assert after_rng < after_all
    dec = decode_blocks(spark, out, schema)
    rep = verify_roundtrip(spark.read.parquet(src), dec, "doc_id")
    assert rep["ok"], rep
    # pruned decode is still exact
    pruned = decode_blocks(spark, out, schema, key_range=rng)
    assert pruned.filter(
        (F.col("doc_id") >= 0) & (F.col("doc_id") <= 49)).count() == 50


def test_sorted_rewrite_materializes_deletes(spark, tmp_path):
    src, out = _interleaved_table(spark, tmp_path)
    schema = pq.read_schema(f"{SF}/documents.parquet")
    delete_rows(out, "doc_id", [1, 2, 3])
    res = rewrite_sorted(spark, out, key_col="doc_id")
    assert res["materialized_deletes"] == 1  # one delete file
    assert ReadView.read(out).deletes == []
    dec = decode_blocks(spark, out, schema)
    assert dec.count() == 497
    assert dec.filter(F.col("doc_id").isin([1, 2, 3])).count() == 0


def test_sorted_rewrite_time_travel_then_vacuum(spark, tmp_path):
    src, out = _interleaved_table(spark, tmp_path)
    schema = pq.read_schema(f"{SF}/documents.parquet")
    snap_pre = [e["snapshot_id"] for e in Manifest(out).read()
                if e.get("kind") == "snapshot"][-1]
    rewrite_sorted(spark, out, key_col="doc_id")
    # pre-rewrite snapshot still readable until vacuum
    assert decode_blocks(spark, out, schema, as_of=snap_pre).count() == 500
    vacuum_blocks(out)
    assert decode_blocks(spark, out, schema).count() == 500
    with pytest.raises(ValueError, match="vacuum|removed"):
        decode_blocks(spark, out, schema, as_of=snap_pre).count()
    # staging dir swept by vacuum
    assert not os.path.isdir(os.path.join(out, "_purge_src"))
