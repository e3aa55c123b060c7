#!/usr/bin/env python
"""Encode job CLI (SURVEY.md §7 M8) — ships via spark-submit:

    zip -r engine.zip libgiddy_spark
    spark-submit --py-files engine.zip libgiddy_spark/jobs/encode_job.py \
        --source /path/to/snapshot --out /path/to/encoded \
        --key-col url [--chunk-parts 64] \
        [--target-salt-bytes 134217728] [--columns url,text,lang]

Resumable: re-running with the same --out skips partitions whose
manifest lines are committed (BASELINE.json north rule).
"""

from __future__ import annotations

import argparse
import json


def build_spark(app: str, extra_conf: dict | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--key-col", required=True)
    ap.add_argument("--chunk-parts", type=int, default=64,
                    help="source files per resumable chunk")
    ap.add_argument("--min-slices", type=int, default=None,
                    help="minimum salt fan-out per chunk (default: cluster parallelism)")
    ap.add_argument("--target-salt-bytes", type=int, default=128 << 20)
    ap.add_argument("--block-rows", type=int, default=65536)
    ap.add_argument("--columns", default=None, help="comma-separated subset")
    ap.add_argument("--fat-columns", default="html,text")
    ap.add_argument("--format", default="parquet",
                    choices=("parquet", "csv", "jsonl"),
                    help="source format; csv/jsonl stage through ONE "
                         "distributed parquet conversion (requires "
                         "--schema-ddl) before the parquet-native "
                         "encode")
    ap.add_argument("--schema-ddl", default=None,
                    help="explicit source schema for --format csv/jsonl "
                         "(inference is non-deterministic; refused)")
    ap.add_argument("--wap-staged", action="store_true",
                    help="write-audit-publish: commit the snapshot "
                         "OFF-BRANCH (invisible to HEAD reads); audit "
                         "it via --as-of <printed snapshot_id>, then "
                         "maintain_job --publish or --abort-staged")
    args = ap.parse_args()
    if args.format != "parquet" and not args.schema_ddl:
        ap.error(f"--format {args.format} requires --schema-ddl")

    from libgiddy_spark.engine import encode_snapshot

    spark = build_spark("libgiddy-spark-encode")
    source = args.source
    if args.format != "parquet":
        from libgiddy_spark.ingest import (
            _staging_state,
            default_staging_dir,
            stage_text_source,
        )

        staging = default_staging_dir(args.out, source)
        state = _staging_state(staging)
        if state == "partial":
            ap.error(f"staging dir {staging} is a crashed partial "
                     "write (no _SUCCESS) — remove it and re-run")
        if state == "absent":
            stage_text_source(spark, source, args.format,
                              args.schema_ddl, staging)
        source = staging
    summary = encode_snapshot(
        spark,
        source,
        args.out,
        key_col=args.key_col,
        chunk_parts=args.chunk_parts,
        min_slices=args.min_slices,
        fat_columns=tuple(args.fat_columns.split(",")),
        target_salt_bytes=args.target_salt_bytes,
        block_rows=args.block_rows,
        columns=args.columns.split(",") if args.columns else None,
        wap_staged=args.wap_staged,
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
