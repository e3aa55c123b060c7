"""Non-parquet SOURCE ingestion: CSV / JSON-lines -> canonical parquet
staging -> the (parquet-native) encode engine.

The encode path is parquet-native by design — it slices ROW GROUPS
from footers and the manifest registers file identities, so
formats without row-group structure stage through one distributed
conversion pass first (exactly what an Iceberg `add_files`/CTAS does
for text sources). The staging write is the ONLY extra pass: Spark
reads the text source once (schema enforced, never inferred — inference
samples the data and can silently flip a column's type between runs),
writes canonical parquet, and :func:`ingest_snapshot` encodes that
staging directory as a normal snapshot — resume, skew salting, schema
registry, every downstream feature applies unchanged.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

__all__ = ["default_staging_dir", "ingest_snapshot", "stage_text_source"]

_FORMATS = ("csv", "jsonl")

_FPR_NAME = "_SOURCE_FINGERPRINT"


def _source_fingerprint(source_path: str) -> list[list]:
    """Deterministic (relpath, size, mtime_ns) listing of the text
    source — cheap metadata only, no data read."""
    out: list[list] = []
    if os.path.isfile(source_path):
        st = os.stat(source_path)
        return [[os.path.basename(source_path), st.st_size, st.st_mtime_ns]]
    for root, _dirs, fs in os.walk(source_path):
        for f in sorted(fs):
            p = os.path.join(root, f)
            st = os.stat(p)
            out.append([os.path.relpath(p, source_path),
                        st.st_size, st.st_mtime_ns])
    return sorted(out)


def default_staging_dir(out_dir: str, source_path: str) -> str:
    base = os.path.basename(os.path.normpath(source_path)) or "src"
    return os.path.join(out_dir, "_staging", base)


def _staging_state(staging_dir: str) -> str:
    """'absent' | 'complete' (Spark _SUCCESS marker) | 'partial'
    (exists without the marker — a crashed staging write; encoding it
    would silently commit partial rows)."""
    if not os.path.isdir(staging_dir):
        return "absent"
    if os.path.exists(os.path.join(staging_dir, "_SUCCESS")):
        return "complete"
    return "partial"


def stage_text_source(
    spark: SparkSession,
    source_path: str,
    fmt: str,
    schema_ddl: str,
    staging_dir: str,
    partitions: int | None = None,
    csv_header: bool = True,
) -> str:
    """Read a CSV / JSON-lines source under an EXPLICIT schema and write
    canonical parquet staging. Returns ``staging_dir``. ``partitions``
    caps the staged file count (defaults to the source's natural read
    splits — at 100 TB leave it unset so the conversion stays one
    narrow, shuffle-free map per input split)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    if fmt == "csv":
        df = spark.read.schema(schema_ddl).option(
            "header", "true" if csv_header else "false").csv(source_path)
    else:
        df = spark.read.schema(schema_ddl).json(source_path)
    if partitions is not None:
        df = df.coalesce(int(partitions))
    fpr = _source_fingerprint(source_path)  # BEFORE the read job runs
    df.write.mode("error").parquet(staging_dir)
    # record what was staged so a re-run can detect a changed source
    # (text sources have no snapshot identity of their own; parquet
    # encodes don't need this — the source IS the data)
    with open(os.path.join(staging_dir, _FPR_NAME), "w") as f:
        json.dump(fpr, f)
    return staging_dir


def ingest_snapshot(
    spark: SparkSession,
    source_path: str,
    fmt: str,
    schema_ddl: str,
    out_dir: str,
    key_col: str,
    staging_dir: str | None = None,
    partitions: int | None = None,
    csv_header: bool = True,
    **encode_kwargs,
) -> dict:
    """CSV/JSONL source -> staged parquet -> encoded snapshot. The
    staging dir (default ``<out_dir>/_staging/<basename>``) becomes the
    snapshot's source: re-running with the same staged content resumes
    like any encode."""
    from .engine import encode_snapshot

    if staging_dir is None:
        staging_dir = default_staging_dir(out_dir, source_path)
    state = _staging_state(staging_dir)
    if state == "partial":
        raise ValueError(
            f"staging dir {staging_dir!r} exists without a _SUCCESS "
            "marker (a crashed staging write) — remove it and re-run; "
            "encoding it would silently commit partial rows")
    if state == "complete":
        # refuse to silently encode STALE staging: if the text source
        # changed since it was staged (fingerprint mismatch), a re-run
        # would commit old rows with no warning (ADVICE r5). Pre-
        # fingerprint staging dirs (no marker file) keep the old
        # trusting behavior.
        fp = os.path.join(staging_dir, _FPR_NAME)
        if os.path.exists(fp):
            with open(fp) as f:
                staged = json.load(f)
            if staged != _source_fingerprint(source_path):
                raise ValueError(
                    f"staging dir {staging_dir!r} was staged from a "
                    "different version of the source (file list/size/"
                    "mtime changed) — remove the staging dir to re-"
                    "stage, or pass the intended staging_dir")
    if state == "absent":
        stage_text_source(spark, source_path, fmt, schema_ddl,
                          staging_dir, partitions, csv_header)
    summary = encode_snapshot(spark, staging_dir, out_dir,
                              key_col=key_col, **encode_kwargs)
    return {**summary, "staging_dir": staging_dir, "format": fmt}
