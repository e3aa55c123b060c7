#!/usr/bin/env python
"""Decode / verify job CLI (SURVEY.md §3.2 entry point B):

    spark-submit --py-files engine.zip libgiddy_spark/jobs/decode_job.py \
        --encoded /path/to/encoded --source /path/to/snapshot \
        --key-col url [--out /path/to/decoded_parquet] [--verify]

With --verify, joins decoded rows back to the source on the key column
and asserts bit-identical columns (BASELINE.json:15 per-row invariant);
exits non-zero on any mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--encoded", required=True)
    ap.add_argument("--source", default=None,
                    help="source snapshot (schema + --verify oracle); "
                         "optional with --table-schema")
    ap.add_argument("--table-schema", action="store_true",
                    help="resolve the schema from the table's OWN "
                         "registry (schema_evo): current names after "
                         "renames, dropped columns gone, added columns "
                         "null-filled; --as-of reads under that "
                         "snapshot's schema")
    ap.add_argument("--key-col", required=True)
    ap.add_argument("--out", default=None, help="write decoded rows here")
    ap.add_argument("--verify", action="store_true")
    ap.add_argument("--key-range", default=None, metavar="LO,HI",
                    help="zone-map pruned decode: only blocks whose "
                         "sort-key range overlaps [LO,HI]; the bounds take "
                         "the key column's type (integer, timestamp as "
                         "µs, or string); exact range applied after "
                         "decode")
    ap.add_argument("--key-point", default=None, metavar="VALUE",
                    help="point-lookup pruned decode: zone maps + "
                         "per-block Bloom filters skip blocks that "
                         "provably lack VALUE (typed like --key-range); "
                         "the same as --key-range VALUE,VALUE; exact "
                         "equality applied after decode")
    ap.add_argument("--as-of", default=None, metavar="SNAPSHOT_ID",
                    help="time travel: decode only parts committed up "
                         "to this manifest snapshot id")
    ap.add_argument("--columns", default=None, metavar="C1,C2,...",
                    help="column projection: decode only these columns "
                         "(payload bytes of others are skipped at the "
                         "row-group level)")
    ap.add_argument("--changes-since", default=None, metavar="SNAPSHOT_ID",
                    help="incremental/CDC read: emit the changelog of "
                         "logical row changes committed after this "
                         "snapshot ('origin' = since table creation) "
                         "with _change_type + _commit_seq, instead of "
                         "a full decode")
    ap.add_argument("--changes-to", default=None, metavar="SNAPSHOT_ID",
                    help="changelog upper bound (default HEAD)")
    ap.add_argument("--consume-checkpoint", default=None, metavar="DIR",
                    help="exactly-once changelog consume: run ONE "
                         "poll->sink->commit cycle against this "
                         "consumer checkpoint dir, materializing the "
                         "unconsumed window to --out/epoch-N (staged "
                         "write + atomic rename; a crashed cycle "
                         "replays into the same epoch dir). Requires "
                         "--out")
    args = ap.parse_args()
    if args.changes_since is not None and (
            args.verify or args.key_range or args.key_point is not None
            or args.as_of):
        ap.error("--changes-since composes only with --columns/--out")
    if args.consume_checkpoint is not None and not args.out:
        ap.error("--consume-checkpoint requires --out")
    if args.table_schema and (args.changes_since is not None
                              or args.consume_checkpoint is not None):
        ap.error("--table-schema composes with the plain decode path "
                 "only (changelog windows carry their own schema)")
    if not args.table_schema and not args.source:
        ap.error("pass --source (schema + verify oracle) or "
                 "--table-schema (registry-resolved)")

    import pyarrow.parquet as pq

    from libgiddy_spark.engine import _decode_view, verify_roundtrip
    from libgiddy_spark.jobs.encode_job import build_spark
    from libgiddy_spark.manifest import ReadView
    from libgiddy_spark.table_io import list_parquet_files

    spark = build_spark("libgiddy-spark-decode")
    view = None  # with --table-schema, one read plans schema and rows
    if args.table_schema:
        from libgiddy_spark.schema_evo import table_schema

        view = ReadView.read(args.encoded, args.as_of)
        schema = table_schema(view)[0]
    else:
        first_rel = list_parquet_files(args.source)[0][0]
        schema_path = (
            args.source
            if os.path.isfile(args.source)
            else os.path.join(args.source, first_rel)
        )
        schema = pq.read_schema(schema_path)
    full_schema = schema
    if args.columns:
        proj = args.columns.split(",")
        missing = [c for c in proj if schema.get_field_index(c) < 0]
        if missing:
            ap.error(f"--columns not in the source schema: {missing}")
        if args.key_col not in proj and (
            args.key_range or args.key_point is not None or args.verify
        ):
            # probes/verify compare on the key column — keep it projected
            proj = [args.key_col, *proj]
        import pyarrow as pa_mod

        schema = pa_mod.schema([schema.field(c) for c in proj])
    import pyarrow as pa

    from pyspark.sql import functions as F

    if args.consume_checkpoint is not None:
        from libgiddy_spark.changelog import (
            ChangelogConsumer, parquet_epoch_sink)

        consumer = ChangelogConsumer(
            args.encoded, schema, args.consume_checkpoint)
        st = consumer.run_once(spark, parquet_epoch_sink(args.out))
        print(json.dumps(
            {"consumed": st is not None,
             "checkpoint": st if st else consumer._state()}))
        return

    if args.changes_since is not None:
        from libgiddy_spark.engine import read_changes

        since = None if args.changes_since == "origin" \
            else args.changes_since
        ch = read_changes(spark, args.encoded, schema, since,
                          args.changes_to)
        if args.out:
            ch.write.mode("overwrite").parquet(args.out)
        counts = {r["_change_type"]: r["n"] for r in ch.groupBy(
            "_change_type").agg(F.count("*").alias("n")).collect()}
        print(json.dumps({"inserts": counts.get("insert", 0),
                          "deletes": counts.get("delete", 0)}))
        return

    # probe types follow the KEY COLUMN's schema, not what the text
    # happens to parse as: '0123' against a string key must stay the
    # literal string (an int would implicit-cast-match '123'), and a
    # timestamp key needs a typed literal for the row-level predicate
    # (comparing timestamp == bigint is an AnalysisException).

    ktype = full_schema.field(args.key_col).type
    is_ts = pa.types.is_timestamp(ktype)
    is_int = pa.types.is_integer(ktype)

    def _typed(raw: str):
        """(pruning probe for decode_blocks, row-predicate literal)."""
        if is_ts:
            micros = int(raw)
            return micros, F.timestamp_micros(F.lit(micros))
        if is_int:
            return int(raw), F.lit(int(raw))
        return raw, F.lit(raw)

    # ONE pruning range: the point's (v, v) when --key-point is given
    # (it lies inside any --key-range it is combined with or matches
    # nothing), else the typed --key-range bounds
    krange = krange_lits = kpoint_lit = None
    if args.key_range:
        (lo_p, lo_lit), (hi_p, hi_lit) = map(
            _typed, args.key_range.split(","))
        krange, krange_lits = (lo_p, hi_p), (lo_lit, hi_lit)
    if args.key_point is not None:
        kpoint, kpoint_lit = _typed(args.key_point)
        krange = (kpoint, kpoint)
    dec = _decode_view(spark, view or ReadView.read(args.encoded, args.as_of),
                       schema, key_range=krange)

    def _exact(df):
        # pruning is block-granular: apply the exact predicate so --out
        # and --verify see precisely the requested rows
        if krange_lits is not None:
            df = df.filter((F.col(args.key_col) >= krange_lits[0])
                           & (F.col(args.key_col) <= krange_lits[1]))
        if kpoint_lit is not None:
            df = df.filter(F.col(args.key_col) == kpoint_lit)
        return df

    dec = _exact(dec)
    if args.out:
        dec.write.mode("overwrite").parquet(args.out)
    if args.verify:
        if not args.source:
            ap.error("--verify needs --source as the oracle")
        src = _exact(spark.read.parquet(args.source))
        if args.columns:
            src = src.select(*[f.name for f in schema])
        rep = verify_roundtrip(src, dec, args.key_col)
        print(json.dumps(rep))
        if not rep["ok"]:
            sys.exit(2)
    elif not args.out:
        print(json.dumps({"rows_decoded": dec.count()}))


if __name__ == "__main__":
    main()
