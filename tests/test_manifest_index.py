"""Chunk-granular manifest summary index (VERDICT r3 #7): pruned decode
listing is O(chunks) driver work — part lines are never parsed when the
index covers the manifest — with a crash-safe fallback to the tail."""

from __future__ import annotations

import json
import os

import pytest

from libgiddy_spark import engine as E
from libgiddy_spark.manifest import Manifest


def _build(tmp_path, n_chunks=100, parts_per_chunk=100):
    out = str(tmp_path / "enc")
    m = Manifest(out)
    m.write_snapshot_header("s1", "src", n_chunks * parts_per_chunk)
    for c in range(n_chunks):
        cdir = f"chunk-{c:04d}"
        d = os.path.join(out, "blocks", cdir)
        os.makedirs(d)
        with open(os.path.join(d, "blk-0.parquet"), "wb") as f:
            f.write(b"PAR1")
        entries = []
        for i in range(parts_per_chunk):
            pid = c * parts_per_chunk + i
            entries.append(
                {
                    "part_id": pid,
                    "chunk_dir": cdir,
                    "key_lo": pid * 10,
                    "key_hi": pid * 10 + 9,
                    "columns": {"k": {"n_values": 5}},
                }
            )
        m.mark_done("s1", entries)
    return out, m


def test_index_prunes_without_parsing_part_lines(tmp_path, monkeypatch):
    out, m = _build(tmp_path)
    # a range inside chunk 7 only
    probe = (7 * 100 * 10 + 5, 7 * 100 * 10 + 25)

    def _no_full_read(self):
        raise AssertionError("index path must not read the full manifest")

    monkeypatch.setattr(Manifest, "read", _no_full_read)
    files = E._committed_block_files(out, key_range=probe)
    assert files == [os.path.join(out, "blocks", "chunk-0007", "blk-0.parquet")]


def test_index_and_full_read_agree(tmp_path):
    out, m = _build(tmp_path, n_chunks=10, parts_per_chunk=10)
    cases = [None, (0, 9), (555, 555), (10_000, 20_000), (95, 205)]
    with_index = [E._committed_block_files(out, key_range=kr) for kr in cases]
    os.remove(m.index_path)  # pre-upgrade manifest: full O(parts) read
    without = [E._committed_block_files(out, key_range=kr) for kr in cases]
    assert with_index == without
    assert with_index[3] == []  # disjoint range prunes everything


def test_crash_tail_fallback_loses_nothing(tmp_path):
    """Part lines appended AFTER the last index write (crash between the
    two appends) are recovered from the manifest tail."""
    out, m = _build(tmp_path, n_chunks=3, parts_per_chunk=4)
    # simulate a chunk whose index append was lost: append part lines
    # straight to the manifest, bypassing mark_done's index hook
    d = os.path.join(out, "blocks", "chunk-lost")
    os.makedirs(d)
    with open(os.path.join(d, "blk-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    m.append(
        [
            {
                "kind": "part",
                "status": "done",
                "snapshot_id": "s1",
                "part_id": 999,
                "chunk_dir": "chunk-lost",
                "key_lo": 99_990,
                "key_hi": 99_999,
            }
        ]
    )
    files = E._committed_block_files(out, key_range=(99_995, 99_996))
    assert files == [os.path.join(d, "blk-0.parquet")]


def test_time_travel_snapshot_order_from_index(tmp_path):
    out, m = _build(tmp_path, n_chunks=2, parts_per_chunk=2)
    # second snapshot with its own chunk
    m.write_snapshot_header("s2", "src", 1)
    d = os.path.join(out, "blocks", "chunk-s2")
    os.makedirs(d)
    with open(os.path.join(d, "blk-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    m.mark_done("s2", [{"part_id": 77, "chunk_dir": "chunk-s2",
                        "columns": {"k": {"n_values": 1}}}])
    all_files = E._committed_block_files(out)
    s1_files = E._committed_block_files(out, as_of="s1")
    assert os.path.join(d, "blk-0.parquet") in all_files
    assert os.path.join(d, "blk-0.parquet") not in s1_files
    assert len(s1_files) == 2
    with pytest.raises(ValueError):
        E._committed_block_files(out, as_of="nope")


def test_index_lines_are_chunk_granular(tmp_path):
    out, m = _build(tmp_path, n_chunks=5, parts_per_chunk=50)
    with open(m.index_path) as f:
        kinds = [json.loads(l)["kind"] for l in f if l.strip()]
    assert kinds.count("chunk") == 5  # one line per chunk, not per part
    assert kinds.count("snapshot") == 1


def test_crash_orphan_survives_later_index_appends(tmp_path):
    """The reviewer's round-4 finding: chunk-b's part lines land in the
    manifest but its index append is lost to a crash; a LATER commit
    (chunk-c) must not advance coverage past the orphan — the writer
    heals the index so chunk-b stays listed forever."""
    out, m = _build(tmp_path, n_chunks=1, parts_per_chunk=2)  # chunk-a
    # chunk-b: manifest append WITHOUT the index append (simulated crash)
    d = os.path.join(out, "blocks", "chunk-b")
    os.makedirs(d)
    with open(os.path.join(d, "blk-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    m.append(
        [
            {
                "kind": "part",
                "status": "done",
                "snapshot_id": "s1",
                "part_id": 500,
                "chunk_dir": "chunk-b",
                "key_lo": 50_000,
                "key_hi": 50_009,
                "columns": {"k": {"n_values": 4}},
            }
        ]
    )
    # chunk-c commits normally -> its index mend would cover chunk-b's
    # bytes; the healing pass must rescue chunk-b first
    d2 = os.path.join(out, "blocks", "chunk-c")
    os.makedirs(d2)
    with open(os.path.join(d2, "blk-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    m.mark_done("s1", [{"part_id": 600, "chunk_dir": "chunk-c",
                        "key_lo": 60_000, "key_hi": 60_009,
                        "columns": {"k": {"n_values": 4}}}])
    files = E._committed_block_files(out)
    assert os.path.join(d, "blk-0.parquet") in files
    assert os.path.join(d2, "blk-0.parquet") in files
    # and the index alone (no tail) now carries chunk-b: coverage check
    entries, covered = m.read_index()
    dirs = {e.get("chunk_dir") for e in entries if e.get("kind") == "chunk"}
    assert "chunk-b" in dirs
    assert covered == os.path.getsize(m.path)


def test_crash_orphan_rewrite_and_delete_heal(tmp_path):
    """Orphaned rewrite/delete entries (same crash window) are also
    rescued into the index by the next writer."""
    out, m = _build(tmp_path, n_chunks=2, parts_per_chunk=2)
    m.append([{"kind": "rewrite", "snapshot_id": "s1",
               "new_chunk": "chunk-z", "replaces": ["chunk-0000"]}])
    d = os.path.join(out, "blocks", "chunk-z")
    os.makedirs(d)
    with open(os.path.join(d, "blk-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    # next normal commit heals
    m.write_snapshot_header("s2", "src", 0)
    files = E._committed_block_files(out)
    assert not any("chunk-0000" in f for f in files)
    assert os.path.join(d, "blk-0.parquet") in files
    entries, covered = m.read_index()
    assert any(e.get("kind") == "rewrite" for e in entries)
    assert covered == os.path.getsize(m.path)
