"""spark-submit CLI: Structured-Streaming incremental encode.

Watches a snapshot directory and encodes newly-arrived data files in
micro-batches through the batch engine (exactly-once via the manifest
file registry; see libgiddy_spark/streaming.py)::

    spark-submit --py-files engine.zip libgiddy_spark/jobs/stream_job.py \
      --source /data/webtext_snapshot --out /data/encoded --key-col url \
      --checkpoint /data/encoded/_stream_ckpt [--continuous]

Default is availableNow (drain what's present, then stop — the batch
catch-up mode); --continuous keeps the query running for ongoing
ingestion.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--key-col", required=True)
    ap.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint dir (arrival-log state)")
    ap.add_argument("--max-files-per-trigger", type=int, default=16)
    ap.add_argument("--continuous", action="store_true",
                    help="keep running instead of drain-and-stop")
    ap.add_argument("--min-slices", type=int, default=None)
    args = ap.parse_args()

    from libgiddy_spark.jobs.encode_job import build_spark
    from libgiddy_spark.manifest import Manifest, done_parts
    from libgiddy_spark.streaming import encode_stream

    spark = build_spark("libgiddy-stream-encode")
    q = encode_stream(
        spark,
        args.source,
        args.out,
        key_col=args.key_col,
        checkpoint_dir=args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=not args.continuous,
        min_slices=args.min_slices,
    )
    q.awaitTermination()
    done = len(done_parts(Manifest(args.out).read()))
    json.dump({"done_parts": done, "out": args.out}, sys.stdout)
    print()


if __name__ == "__main__":
    main()
