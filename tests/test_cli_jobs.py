"""End-to-end CLI smoke tests for all five spark-submit entry points —
the round-3 ADVICE bugs (untyped probes, unreachable string ranges)
all lived in untested CLI arg-handling, so every job's main() runs here
against real data via monkeypatched argv."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

SF = "/root/testdata/sf0.001"


def _run(monkeypatch, module, argv: list[str]) -> None:
    monkeypatch.setattr(sys, "argv", ["job.py", *argv])
    module.main()


def _last_json(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_encode_then_decode_then_maintain_cli(spark, tmp_path, monkeypatch,
                                              capsys):
    from libgiddy_spark.jobs import decode_job, encode_job, maintain_job

    src = str(tmp_path / "src")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(
        4).write.parquet(src)
    out = str(tmp_path / "enc")
    _run(monkeypatch, encode_job,
         ["--source", src, "--out", out, "--key-col", "doc_id",
          "--chunk-parts", "1"])
    rep = _last_json(capsys)
    assert rep["encoded_parts"] == 4
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id",
          "--verify"])
    rep = _last_json(capsys)
    assert rep["ok"] and rep["rows_decoded"] == 500
    # int point lookup through the CLI (typed probe)
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id",
          "--key-point", "42", "--verify"])
    rep = _last_json(capsys)
    assert rep["ok"] and rep["rows_decoded"] == 1
    # compact + vacuum through the CLI
    _run(monkeypatch, maintain_job,
         ["--encoded", out, "--compact", "--target-file-mb", "64",
          "--vacuum"])
    rep = _last_json(capsys)
    assert rep["compact"]["bins"] >= 1 and rep["vacuum"]["removed"]
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id",
          "--verify"])
    assert _last_json(capsys)["ok"]


def test_stream_job_cli(spark, tmp_path, monkeypatch, capsys):
    from libgiddy_spark.jobs import stream_job

    src = str(tmp_path / "ssrc")
    os.makedirs(src)
    shutil.copy(f"{SF}/events.parquet", os.path.join(src, "events.parquet"))
    out = str(tmp_path / "senc")
    _run(monkeypatch, stream_job,
         ["--source", src, "--out", out, "--key-col", "event_id",
          "--checkpoint", str(tmp_path / "ckpt")])
    assert _last_json(capsys)["done_parts"] == 1


def test_pipeline_job_cli(spark, tmp_path, monkeypatch, capsys):
    from libgiddy_spark.jobs import pipeline_job

    out = str(tmp_path / "pout")
    _run(monkeypatch, pipeline_job,
         ["--op", "text_stats", "--source", f"{SF}/documents.parquet",
          "--out", out])
    assert os.path.isdir(out)
    out2 = str(tmp_path / "pout_funnel")
    _run(monkeypatch, pipeline_job,
         ["--op", "funnel", "--source", f"{SF}/events.parquet",
          "--out", out2])
    fn = spark.read.parquet(out2)
    assert fn.count() >= 1 and "stage_reached" in fn.columns
    out3 = str(tmp_path / "pout_ld")
    _run(monkeypatch, pipeline_job,
         ["--op", "line_dedup", "--source", f"{SF}/documents.parquet",
          "--out", out3])
    assert spark.read.parquet(out3).count() == 500
    out4 = str(tmp_path / "pout_ru")
    _run(monkeypatch, pipeline_job,
         ["--op", "rollup", "--source", f"{SF}/events.parquet",
          "--out", out4, "--measure-col", "user_id"])
    ru = spark.read.parquet(out4)
    assert "sum_user_id" in ru.columns and ru.count() >= 3


def test_delete_purge_cli(spark, tmp_path, monkeypatch, capsys):
    from libgiddy_spark.jobs import decode_job, encode_job, maintain_job

    src = str(tmp_path / "dsrc")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(
        2).write.parquet(src)
    out = str(tmp_path / "denc")
    _run(monkeypatch, encode_job,
         ["--source", src, "--out", out, "--key-col", "doc_id"])
    capsys.readouterr()
    _run(monkeypatch, maintain_job,
         ["--encoded", out, "--delete-keys", "3,9,27", "--key-col",
          "doc_id"])
    rep = _last_json(capsys)
    assert rep["delete"]["n"] == 3
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id"])
    assert _last_json(capsys)["rows_decoded"] == 497
    _run(monkeypatch, maintain_job,
         ["--encoded", out, "--purge", "--key-col", "doc_id",
          "--vacuum"])
    rep = _last_json(capsys)
    assert rep["purge"]["rewritten"] and rep["vacuum"]["removed"]
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id"])
    assert _last_json(capsys)["rows_decoded"] == 497


def test_decode_cli_column_projection(spark, tmp_path, monkeypatch, capsys):
    from libgiddy_spark.jobs import decode_job, encode_job

    src = str(tmp_path / "psrc")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(
        2).write.parquet(src)
    out = str(tmp_path / "penc")
    _run(monkeypatch, encode_job,
         ["--source", src, "--out", out, "--key-col", "doc_id"])
    capsys.readouterr()
    dst = str(tmp_path / "proj_out")
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id",
          "--columns", "lang", "--out", dst])
    got = spark.read.parquet(dst)
    assert set(got.columns) == {"lang", "part_id"}
    assert got.count() == 500
    # projection + verify keeps the key column for the comparison join
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id",
          "--columns", "lang", "--verify"])
    assert _last_json(capsys)["ok"]


def test_consume_and_sorted_rewrite_cli(spark, tmp_path, monkeypatch,
                                        capsys):
    from libgiddy_spark.jobs import decode_job, encode_job, maintain_job

    src = str(tmp_path / "csrc")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(
        2).write.parquet(src)
    out = str(tmp_path / "cenc")
    _run(monkeypatch, encode_job,
         ["--source", src, "--out", out, "--key-col", "doc_id"])
    capsys.readouterr()
    # exactly-once consume: first cycle drains, second is a no-op
    ckpt = str(tmp_path / "ckpt")
    dst = str(tmp_path / "consumed")
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id",
          "--consume-checkpoint", ckpt, "--out", dst])
    rep = _last_json(capsys)
    assert rep["consumed"] and rep["checkpoint"]["epoch"] == 1
    assert spark.read.parquet(os.path.join(dst, "epoch-0")).count() == 500
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id",
          "--consume-checkpoint", ckpt, "--out", dst])
    assert not _last_json(capsys)["consumed"]
    # sort-order compaction through the CLI, then an exact verify
    _run(monkeypatch, maintain_job,
         ["--encoded", out, "--rewrite-sorted", "--key-col", "doc_id"])
    rep = _last_json(capsys)
    assert rep["rewrite_sorted"]["sorted_by"] == "doc_id"
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id",
          "--verify"])
    assert _last_json(capsys)["ok"]


def test_upsert_cli(spark, tmp_path, monkeypatch, capsys):
    from libgiddy_spark.jobs import decode_job, encode_job, maintain_job

    src = str(tmp_path / "usrc")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.coalesce(1).write.parquet(src)
    out = str(tmp_path / "uenc")
    _run(monkeypatch, encode_job,
         ["--source", src, "--out", out, "--key-col", "doc_id"])
    capsys.readouterr()
    upd = str(tmp_path / "upd")
    docs.filter("doc_id < 10").selectExpr(
        "doc_id", "text", "'xx' AS lang", "source", "n_chars",
        *[c for c in docs.columns
          if c not in ("doc_id", "text", "lang", "source", "n_chars")],
    ).select(*docs.columns).coalesce(1).write.parquet(upd)
    _run(monkeypatch, maintain_job,
         ["--encoded", out, "--upsert-source", upd,
          "--key-col", "doc_id"])
    rep = _last_json(capsys)
    assert rep["upsert"]["upserted_keys"] == 10
    dst = str(tmp_path / "udec")
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id",
          "--out", dst])
    got = spark.read.parquet(dst)
    assert got.count() == 500
    assert got.filter("doc_id < 10 AND lang = 'xx'").count() == 10


def test_wap_cli(spark, tmp_path, monkeypatch, capsys):
    """encode_job --wap-staged -> decode --as-of audit -> maintain_job
    --publish, and the abort path with --abort-staged + --vacuum."""
    from libgiddy_spark.jobs import decode_job, encode_job, maintain_job

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "wsrc")
    docs.filter("doc_id < 250").coalesce(1).write.parquet(src)
    out = str(tmp_path / "wenc")
    _run(monkeypatch, encode_job,
         ["--source", src, "--out", out, "--key-col", "doc_id"])
    capsys.readouterr()
    stage = str(tmp_path / "wstage")
    docs.filter("doc_id >= 250").coalesce(1).write.parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "zz.parquet"))
    _run(monkeypatch, encode_job,
         ["--source", src, "--out", out, "--key-col", "doc_id",
          "--wap-staged"])
    staged = _last_json(capsys)["snapshot_id"]
    assert staged.endswith("-wap0")
    # HEAD decode excludes the staged snapshot; --as-of audits it
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id"])
    assert _last_json(capsys)["rows_decoded"] == 250
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id",
          "--as-of", staged])
    assert _last_json(capsys)["rows_decoded"] == 500
    _run(monkeypatch, maintain_job, ["--encoded", out, "--publish", staged])
    assert _last_json(capsys)["publish"]["published"] is True
    _run(monkeypatch, decode_job,
         ["--encoded", out, "--source", src, "--key-col", "doc_id"])
    assert _last_json(capsys)["rows_decoded"] == 500
    # abort path: publish of an already-published snapshot fails loudly
    with pytest.raises(ValueError, match="already published"):
        _run(monkeypatch, maintain_job,
             ["--encoded", out, "--abort-staged", staged])
