"""Iceberg-style metadata tables: snapshots / history / refs / files."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from libgiddy_spark.engine import (
    abort_snapshot,
    create_ref,
    decode_blocks,
    encode_files,
    encode_snapshot,
    rollback,
)
from libgiddy_spark.meta import files_df, history_df, refs_df, snapshots_df
from libgiddy_spark.table_io import list_parquet_files

SF = "/root/testdata/sf0.001"


def _snaps(out):
    from libgiddy_spark.manifest import Manifest

    seen = []
    for e in Manifest(out).read():
        if e.get("kind") == "snapshot" and e["snapshot_id"] not in seen:
            seen.append(e["snapshot_id"])
    return seen


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("meta")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp / "src")
    docs.filter(F.col("doc_id") < 200).coalesce(1).write.parquet(src)
    out = str(tmp / "enc")
    encode_snapshot(spark, src, out, key_col="doc_id")
    stage = str(tmp / "stage_b")
    docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 500)) \
        .coalesce(1).write.parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "b.parquet"))
    encode_snapshot(spark, src, out, key_col="doc_id")
    return out, src, pq.read_schema(f"{SF}/documents.parquet")


def test_snapshots_states_and_rollback(spark, table):
    out, src, _schema = table
    s1, s2 = _snaps(out)[:2]
    snaps = {r["snapshot_id"]: r for r in snapshots_df(spark, out).collect()}
    assert snaps[s1]["state"] == "ancestor"
    assert snaps[s2]["state"] == "current"
    assert snaps[s2]["parent_id"] == s1
    assert snaps[s1]["parent_id"] is None
    assert snaps[s1]["num_parts"] >= 1

    rollback(out, s1)
    snaps = {r["snapshot_id"]: r for r in snapshots_df(spark, out).collect()}
    assert snaps[s1]["state"] == "current"
    assert snaps[s2]["state"] == "orphaned"
    rollback(out, s2)  # restore for the other tests (module fixture)


def test_staged_and_aborted_states(spark, table):
    out, src, _schema = table
    files = list_parquet_files(src)
    encode_files(spark, src, files, out, key_col="doc_id",
                 wap_staged=True)
    staged = next(r["snapshot_id"]
                  for r in snapshots_df(spark, out).collect()
                  if r["state"] == "staged")
    abort_snapshot(out, staged)
    states = {r["snapshot_id"]: r["state"]
              for r in snapshots_df(spark, out).collect()}
    assert states[staged] == "aborted"


def test_history_records_rollback_events(spark, table):
    out, _src, _schema = table
    s1, s2 = _snaps(out)[:2]
    hist = history_df(spark, out).collect()
    made = [r["snapshot_id"] for r in hist]
    # joins s1, s2, rollback->s1, rollback->s2 (from the state test)
    assert made[:4] == [s1, s2, s1, s2]
    assert all(r["is_current_ancestor"] for r in hist[:4])


def test_refs_df(spark, table):
    out, _src, _schema = table
    s1 = _snaps(out)[0]
    create_ref(out, "meta_tag", s1)
    refs = {r["name"]: r["snapshot_id"]
            for r in refs_df(spark, out).collect()}
    assert refs["meta_tag"] == s1


def test_maintain_cli_show(table, monkeypatch, capsys):
    import json as _json
    import sys as _sys

    from libgiddy_spark.jobs import maintain_job

    out, _src, _schema = table
    monkeypatch.setattr(_sys, "argv", [
        "maintain_job.py", "--encoded", out, "--show", "snapshots"])
    maintain_job.main()
    # clean JSONL: EVERY stdout line is a metadata row, no summary dict
    rows = [_json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines()]
    assert all("state" in r for r in rows)
    assert any(r["state"] == "current" for r in rows)
    monkeypatch.setattr(_sys, "argv", [
        "maintain_job.py", "--encoded", out, "--show", "files"])
    maintain_job.main()
    frows = [_json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert sum(r["row_count"] for r in frows) == 500


def test_files_follows_rewrite_lineage(spark, tmp_path_factory):
    """After purge (retire rewrite) and compaction (move rewrite),
    files_df must not double-count retired chunks, and its rows must
    live under the consolidated dir."""
    from pyspark.sql import functions as F

    from libgiddy_spark.engine import (
        compact_blocks,
        delete_rows,
        purge_deletes,
    )

    tmp = tmp_path_factory.mktemp("meta_rw")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp / "src")
    docs.filter(F.col("doc_id") < 200).coalesce(1).write.parquet(src)
    out = str(tmp / "enc")
    encode_snapshot(spark, src, out, key_col="doc_id")
    delete_rows(out, "doc_id", [5, 6])
    import pyarrow.parquet as pq

    schema = pq.read_schema(f"{SF}/documents.parquet")
    purge_deletes(spark, out, key_col="doc_id")
    total = sum(r["row_count"] for r in files_df(spark, out).collect())
    assert total == decode_blocks(spark, out, schema).count() == 198
    compact_blocks(spark, out, min_dirs=1, target_file_bytes=1 << 30)
    fdf = files_df(spark, out).collect()
    assert sum(r["row_count"] for r in fdf) == 198
    rewritten = {r["chunk_dir"] for r in fdf}
    assert len(rewritten) >= 1  # rows now live under consolidated dirs


def test_files_row_counts_match_decode(spark, table):
    out, _src, schema = table
    s1, _s2 = _snaps(out)[:2]
    fdf = files_df(spark, out)
    total = sum(r["row_count"] for r in fdf.collect())
    assert total == decode_blocks(spark, out, schema).count() == 500
    # as_of prunes to the first snapshot's parts
    f1 = files_df(spark, out, as_of=s1)
    assert sum(r["row_count"] for r in f1.collect()) == 200
    # zone bounds present for the int sort key
    assert all(r["key_lo"] is not None and r["key_hi"] >= r["key_lo"]
               for r in fdf.collect())
