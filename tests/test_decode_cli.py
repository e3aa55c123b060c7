"""decode_job CLI probe typing (ADVICE r3): timestamp keys need typed
literals for the row predicate, string keys must route --key-range to
the string zone maps, and both must return exactly the probed rows."""

from __future__ import annotations

import json
import sys

import pytest
from pyspark.sql import functions as F

from libgiddy_spark.engine import encode_snapshot
from libgiddy_spark.jobs import decode_job

SF = "/root/testdata/sf0.001"


def _run_cli(monkeypatch, argv: list[str]) -> None:
    monkeypatch.setattr(sys, "argv", ["decode_job.py", *argv])
    decode_job.main()


def test_cli_timestamp_point_and_range(spark, tmp_path, monkeypatch, capsys):
    """--key-point / --key-range over a TIMESTAMP sort key build typed
    literals (timestamp == bigint is an AnalysisException in Spark)."""
    src = f"{SF}/events.parquet"
    out = str(tmp_path / "enc_ts")
    encode_snapshot(spark, src, out, key_col="ts", block_rows=256)
    ev = spark.read.parquet(src)
    probe = ev.agg(F.min("ts")).collect()[0][0]
    micros = int(probe.timestamp() * 1_000_000)
    n_exp = ev.filter(F.col("ts") == F.timestamp_micros(F.lit(micros))).count()
    assert n_exp >= 1
    _run_cli(monkeypatch, ["--encoded", out, "--source", src,
                           "--key-col", "ts", "--key-point", str(micros),
                           "--verify"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ok"] and rep["rows_decoded"] == n_exp
    lo, hi = micros, micros + 3_600_000_000  # one hour window
    n_rng = ev.filter(
        (F.col("ts") >= F.timestamp_micros(F.lit(lo)))
        & (F.col("ts") <= F.timestamp_micros(F.lit(hi)))
    ).count()
    _run_cli(monkeypatch, ["--encoded", out, "--source", src,
                           "--key-col", "ts",
                           "--key-range", f"{lo},{hi}", "--verify"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ok"] and rep["rows_decoded"] == n_rng


def test_cli_string_key_range(spark, tmp_path, monkeypatch, capsys):
    """--key-range over a STRING sort key routes to the string zone maps
    instead of crashing on int() (ADVICE r3 low)."""
    src = f"{SF}/documents.parquet"
    out = str(tmp_path / "enc_s")
    encode_snapshot(spark, src, out, key_col="text", block_rows=64)
    docs = spark.read.parquet(src)
    lo, hi = "a", "m"
    n_exp = docs.filter(F.col("text").between(lo, hi)).count()
    _run_cli(monkeypatch, ["--encoded", out, "--source", src,
                           "--key-col", "text",
                           "--key-range", f"{lo},{hi}", "--verify"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ok"] and rep["rows_decoded"] == n_exp


def test_cli_changes_since(spark, tmp_path, monkeypatch, capsys):
    """--changes-since emits the changelog (insert/delete counts + an
    optional parquet sink) through engine.read_changes."""
    import os

    import pyarrow.parquet as pq

    from libgiddy_spark.engine import delete_rows
    from libgiddy_spark.manifest import Manifest

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 300).coalesce(1).write.parquet(src)
    out = str(tmp_path / "enc_cdc")
    encode_snapshot(spark, src, out, key_col="doc_id")
    s1 = [e["snapshot_id"] for e in Manifest(out).read()
          if e.get("kind") == "snapshot"][-1]
    stage = str(tmp_path / "stageB")
    docs.filter(F.col("doc_id") >= 300).coalesce(1).write.parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "b.parquet"))
    encode_snapshot(spark, src, out, key_col="doc_id")
    delete_rows(out, "doc_id", [0, 100, 400])
    sink = str(tmp_path / "changes_pq")
    _run_cli(monkeypatch, ["--encoded", out, "--source", src,
                           "--key-col", "doc_id",
                           "--changes-since", s1, "--out", sink])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"inserts": 200, "deletes": 3}
    written = spark.read.parquet(sink)
    assert written.count() == 203
    assert set(written.columns) >= {"_change_type", "_commit_seq"}
    # since origin: everything, minus nothing (deletes still 3)
    _run_cli(monkeypatch, ["--encoded", out, "--source", src,
                           "--key-col", "doc_id",
                           "--changes-since", "origin"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"inserts": 500, "deletes": 3}
    # guard: probes don't compose with the changelog
    with pytest.raises(SystemExit):
        _run_cli(monkeypatch, ["--encoded", out, "--source", src,
                               "--key-col", "doc_id",
                               "--changes-since", s1,
                               "--key-point", "5"])


def test_cli_table_schema_reads_manifest_once(spark, tmp_path, monkeypatch,
                                              capsys):
    """--table-schema plans the schema and the listing from ONE manifest
    read, so a schema commit cannot land between them."""
    from libgiddy_spark.manifest import Manifest

    src = f"{SF}/documents.parquet"
    out = str(tmp_path / "enc_ts_schema")
    encode_snapshot(spark, src, out, key_col="doc_id")
    reads = []

    def counted(fn):
        def wrapper(self):
            reads.append(fn.__name__)
            return fn(self)
        return wrapper

    for name in ("read_indexed", "read"):
        monkeypatch.setattr(Manifest, name, counted(getattr(Manifest, name)))
    _run_cli(monkeypatch, ["--encoded", out, "--table-schema",
                           "--key-col", "doc_id"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_decoded"] == 500
    assert len(reads) == 1, reads
