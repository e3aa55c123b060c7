"""Named refs (Iceberg branch/tag analogue): resolution anywhere as_of
is accepted, and vacuum retention pinning."""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from libgiddy_spark.engine import (
    compact_blocks,
    create_ref,
    decode_blocks,
    delete_rows,
    drop_ref,
    encode_snapshot,
    list_refs,
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


def _two_snapshot_table(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(src)
    out = str(tmp_path / "enc")
    encode_snapshot(spark, src, out, key_col="doc_id")
    stage = str(tmp_path / "stageB")
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "b.parquet"))
    encode_snapshot(spark, src, out, key_col="doc_id")
    return out, pq.read_schema(f"{SF}/documents.parquet")


def test_ref_create_resolve_drop(spark, tmp_path):
    out, schema = _two_snapshot_table(spark, tmp_path)
    s1, s2 = _snaps(out)
    assert create_ref(out, "v1", s1) == {"name": "v1", "snapshot_id": s1}
    assert create_ref(out, "main")["snapshot_id"] == s2  # default HEAD
    assert list_refs(out) == {"v1": s1, "main": s2}
    # ref time travel == snapshot time travel
    assert decode_blocks(spark, out, schema, as_of="v1").count() == 250
    assert decode_blocks(spark, out, schema, as_of="main").count() == 500
    # changelog bounds accept refs
    ch = read_changes(spark, out, schema, "v1", "main")
    assert ch.count() == 250
    # re-point (branch advance) and drop
    create_ref(out, "v1", s2)
    assert list_refs(out)["v1"] == s2
    drop_ref(out, "v1")
    assert "v1" not in list_refs(out)
    with pytest.raises(ValueError, match="unknown snapshot"):
        decode_blocks(spark, out, schema, as_of="v1").count()
    with pytest.raises(ValueError, match="unknown snapshot"):
        create_ref(out, "x", "nope")
    with pytest.raises(ValueError, match="collides"):
        create_ref(out, s1, s1)
    with pytest.raises(ValueError, match="unknown ref"):
        drop_ref(out, "never")


def test_ref_pins_dirs_against_vacuum(spark, tmp_path):
    out, schema = _two_snapshot_table(spark, tmp_path)
    s1, _s2 = _snaps(out)
    create_ref(out, "audit", s1)
    res = compact_blocks(out_dir=out, spark=spark, min_dirs=2)
    assert res["rewrites"], res
    vac = vacuum_blocks(out)
    # the pre-compaction dirs the ref needs survive vacuum
    assert decode_blocks(spark, out, schema, as_of="audit").count() == 250
    # HEAD unaffected
    assert decode_blocks(spark, out, schema).count() == 500
    # expire: drop the ref, vacuum again, now the travel raises
    drop_ref(out, "audit")
    vac2 = vacuum_blocks(out)
    assert vac2["removed"], (vac, vac2)
    with pytest.raises(ValueError, match="vacuumed/expired"):
        decode_blocks(spark, out, schema, as_of=s1).count()


def test_ref_pins_delete_files_against_vacuum(spark, tmp_path):
    out, schema = _two_snapshot_table(spark, tmp_path)
    delete_rows(out, "doc_id", [1, 2, 3])
    s_del = _snaps(out)[-1]
    create_ref(out, "pre-purge", s_del)
    purge_deletes(spark, out, key_col="doc_id")
    vacuum_blocks(out)
    # the ref needs the delete file AND the retired dirs: both pinned
    dec = decode_blocks(spark, out, schema, as_of="pre-purge")
    assert dec.count() == 497
    assert dec.filter(F.col("doc_id").isin([1, 2, 3])).count() == 0
    drop_ref(out, "pre-purge")
    vac = vacuum_blocks(out)
    assert vac["removed"]
    with pytest.raises(ValueError, match="vacuumed/expired"):
        decode_blocks(spark, out, schema, as_of=s_del).count()


def test_maintain_cli_refs(spark, tmp_path, monkeypatch, capsys):
    from libgiddy_spark.jobs import maintain_job

    out, _schema = _two_snapshot_table(spark, tmp_path)
    s1, s2 = _snaps(out)

    def run(*argv):
        monkeypatch.setattr(sys, "argv", ["maintain_job.py", *argv])
        maintain_job.main()
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    rep = run("--encoded", out, "--create-ref", f"v1@{s1}")
    assert rep["create_ref"] == {"name": "v1", "snapshot_id": s1}
    rep = run("--encoded", out, "--create-ref", "tip", "--list-refs")
    assert rep["refs"] == {"v1": s1, "tip": s2}
    rep = run("--encoded", out, "--drop-ref", "v1", "--list-refs")
    assert rep["refs"] == {"tip": s2}
