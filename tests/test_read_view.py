"""Each read plans from ONE manifest read (manifest.ReadView): the block
files it lists and the deletes it applies come from the same manifest
state, however the manifest changes while the plan is built."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from libgiddy_spark import manifest as manifest_mod
from libgiddy_spark.engine import (
    create_ref,
    decode_blocks,
    delete_rows,
    encode_snapshot,
    purge_deletes,
    read_changes,
    upsert_rows,
    vacuum_blocks,
)
from libgiddy_spark.manifest import Manifest
from libgiddy_spark.meta import file_rows
from libgiddy_spark.schema_evo import read_table

SCHEMA = pa.schema([("k", pa.int64()), ("v", pa.string())])
GONE = [5, 500, 1500]


def _write_part(src: str, i: int) -> None:
    """Source file ``part-{i}``: keys i*1000 .. i*1000+999."""
    keys = list(range(i * 1000, (i + 1) * 1000))
    pq.write_table(pa.table({"k": keys, "v": [f"row-{k}" for k in keys]},
                            schema=SCHEMA),
                   os.path.join(src, f"part-{i}.parquet"))


def _two_snapshots(spark, tmp_path) -> tuple[str, str]:
    """Two appended snapshots of 1,000 rows each, then a delete of
    ``GONE``. Returns (out_dir, first snapshot id)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    out = str(tmp_path / "enc")
    first = None
    for i in range(2):
        _write_part(src, i)
        sid = encode_snapshot(spark, src, out, key_col="k")["snapshot_id"]
        first = first or sid
    delete_rows(out, "k", GONE)
    return out, first


class _Spy:
    """Counts ``Manifest.read_index`` + ``Manifest.read`` calls (every
    manifest read goes through one of them) and branch replays."""

    def __init__(self, monkeypatch):
        self.reads = self.replays = 0
        for owner, name, field in ((Manifest, "read_index", "reads"),
                                   (Manifest, "read", "reads"),
                                   (manifest_mod, "branch_replay",
                                    "replays")):
            monkeypatch.setattr(owner, name, self._wrap(
                getattr(owner, name), field))

    def _wrap(self, fn, field):
        def counted(*a, **kw):
            setattr(self, field, getattr(self, field) + 1)
            return fn(*a, **kw)
        return counted

    def __call__(self, fn) -> tuple[int, int]:
        self.reads = self.replays = 0
        fn()
        return self.reads, self.replays


def test_one_manifest_read_per_plan(spark, tmp_path, monkeypatch):
    out, first = _two_snapshots(spark, tmp_path)
    create_ref(out, "v1", first)
    spy = _Spy(monkeypatch)
    # HEAD decode through a delete: listing, deletes, their seqs
    assert spy(lambda: decode_blocks(spark, out, SCHEMA)) == (1, 1)
    assert spy(lambda: decode_blocks(spark, out, SCHEMA, as_of=first)) \
        == (1, 1)
    # fully pruned: the delete checks reuse the same read
    assert spy(lambda: decode_blocks(
        spark, out, SCHEMA, key_range=(10**6, 2 * 10**6))) == (1, 1)
    assert spy(lambda: file_rows(out, as_of="v1"))[0] == 1
    assert spy(lambda: read_table(spark, out)) == (1, 1)
    assert spy(lambda: vacuum_blocks(out, retain_last=3))[0] == 1


def test_one_manifest_read_per_commit(spark, tmp_path, monkeypatch):
    """An encode appending to a table and a delete each plan their
    commit from one manifest read and one branch replay; an upsert
    and a purge read at most twice (the HEAD view and the encode: the
    staged parts' promotion takes the lines the encode wrote). Snapshot headers do not list the source, so a
    header does not grow with the source's file count."""
    out, _first = _two_snapshots(spark, tmp_path)
    src = str(tmp_path / "src")
    _write_part(src, 2)
    spy = _Spy(monkeypatch)
    assert spy(lambda: encode_snapshot(spark, src, out, key_col="k")) \
        == (1, 1)
    assert spy(lambda: delete_rows(out, "k", [7])) == (1, 1)
    up = spark.createDataFrame([(8, "new"), (5000, "ins")],
                               "k long, v string")
    assert spy(lambda: upsert_rows(spark, out, "k", up))[0] <= 2
    assert spy(lambda: purge_deletes(spark, out, "k"))[0] <= 2
    with open(Manifest(out).path) as f:
        headers = [e for e in map(json.loads, f)
                   if e.get("kind") == "snapshot"
                   and e.get("source_path") == src]
    assert [e["num_parts"] for e in headers] == [1, 2, 3]
    assert not any("files" in e for e in headers)
    sizes = {len(json.dumps({k: v for k, v in e.items() if k != "ts"}))
             for e in headers}
    assert len(sizes) == 1, sizes


def test_index_without_part_rows_falls_back_to_full_read(
        spark, tmp_path, monkeypatch):
    """A decode plans from the chunk index alone: its chunk lines carry
    ``part_rows`` and no ``columns``. An index from before chunk lines
    carried ``part_rows`` makes the read fall back to the full
    manifest, so ``meta.file_rows`` still reports true row counts."""
    out, _first = _two_snapshots(spark, tmp_path)
    full_reads = []
    read = Manifest.read
    monkeypatch.setattr(Manifest, "read",
                        lambda self: full_reads.append(1) or read(self))
    index = Manifest(out).index_path
    with open(index) as f:
        lines = [json.loads(x) for x in f]
    chunks = [e for e in lines if e.get("kind") == "chunk"]
    assert chunks and all("part_rows" in e and "columns" not in e
                          for e in chunks)
    decode_blocks(spark, out, SCHEMA)
    assert not full_reads
    for e in chunks:
        del e["part_rows"]
    with open(index, "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in lines)
    assert sorted(r[3] for r in file_rows(out)) == [1000, 1000]
    assert len(full_reads) == 1


def test_one_manifest_read_per_changelog(spark, tmp_path, monkeypatch):
    """A changelog window of two inserts and a delete decodes every
    window snapshot and the delete's parent from one manifest read."""
    out, _first = _two_snapshots(spark, tmp_path)
    spy = _Spy(monkeypatch)
    changes = []
    assert spy(lambda: changes.append(
        read_changes(spark, out, SCHEMA, None))) == (1, 1)
    (ch,) = changes
    assert ch.filter(F.col("_change_type") == "insert").count() == 2000
    assert sorted(r[0] for r in ch.filter(F.col("_change_type") == "delete")
                  .select("k").collect()) == GONE


def test_read_does_not_mix_manifest_states(spark, tmp_path, monkeypatch):
    """A purge that commits while a decode is being planned: the decode
    must see the table before the purge or after it (1,997 rows either
    way) — never the old chunk dirs without their deletes."""
    out, _first = _two_snapshots(spark, tmp_path)
    purged = str(tmp_path / "purged")
    shutil.copytree(out, purged)
    purge_deletes(spark, purged, "k")
    old_dirs = set(os.listdir(os.path.join(out, "blocks")))

    def _commit_purge() -> None:
        for name in ("manifest.jsonl", "manifest.chunks.jsonl"):
            shutil.copy(os.path.join(purged, name), os.path.join(out, name))
        for d in os.listdir(os.path.join(purged, "blocks")):
            if d not in old_dirs:
                shutil.copytree(os.path.join(purged, "blocks", d),
                                os.path.join(out, "blocks", d))

    read_indexed = Manifest.read_indexed
    calls = []

    def read_then_purge(self):
        entries = read_indexed(self)
        if not calls:
            _commit_purge()
        calls.append(1)
        return entries

    monkeypatch.setattr(Manifest, "read_indexed", read_then_purge)
    dec = decode_blocks(spark, out, SCHEMA)
    monkeypatch.setattr(Manifest, "read_indexed", read_indexed)
    assert calls  # the purge did commit mid-plan
    assert dec.count() == 1997
    assert dec.filter(F.col("k").isin(GONE)).count() == 0
