#!/usr/bin/env python
"""Table-maintenance job CLI (Iceberg maintenance analogue):

    spark-submit --py-files engine.zip libgiddy_spark/jobs/maintain_job.py \
        --encoded /path/to/encoded --compact [--target-file-mb 256] \
        [--vacuum]

``--compact`` bin-packs small chunk dirs (streaming micro-batches
produce one per trigger) into consolidated block files and commits a
manifest ``rewrite`` entry; old dirs stay on disk for time travel.
``--vacuum`` physically removes replaced dirs — after it, time travel
to snapshots needing them raises instead of silently losing rows.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--encoded", required=True)
    ap.add_argument("--compact", action="store_true")
    ap.add_argument("--target-file-mb", type=int, default=256)
    ap.add_argument("--vacuum", action="store_true")
    ap.add_argument("--retain-last", type=int, default=1,
                    help="expire_snapshots retention: keep the newest "
                         "N snapshots' files through --vacuum "
                         "(default 1 = HEAD only)")
    ap.add_argument("--older-than", type=float, default=None,
                    metavar="UNIX_TS",
                    help="only snapshots committed before this unix "
                         "timestamp expire on --vacuum (unions with "
                         "--retain-last, like Iceberg)")
    ap.add_argument("--delete-keys", default=None, metavar="K1,K2,...",
                    help="equality delete (merge-on-read): tombstone "
                         "these key values; requires --key-col (values "
                         "are typed from the key column's table schema)")
    ap.add_argument("--key-col", default=None)
    ap.add_argument("--purge", action="store_true",
                    help="materialize pending deletes: full rewrite "
                         "minus tombstones; requires --key-col")
    ap.add_argument("--upsert-source", default=None, metavar="DIR",
                    help="row-level upsert (MERGE): atomically replace "
                         "rows whose --key-col appears in this parquet "
                         "dir/file with its rows and insert the rest "
                         "(one snapshot: staged parts + sequence-"
                         "scoped tombstone in a single txn)")
    ap.add_argument("--rewrite-sorted", action="store_true",
                    help="sort-order compaction: re-cluster the whole "
                         "table by --key-col (disjoint per-part zone "
                         "maps; materializes pending deletes)")
    ap.add_argument("--create-ref", default=None, metavar="NAME[@SNAP]",
                    help="named ref (Iceberg branch/tag analogue): pin "
                         "NAME to SNAP (default HEAD); refs resolve "
                         "anywhere --as-of is accepted and protect "
                         "their snapshot's files from --vacuum")
    ap.add_argument("--drop-ref", default=None, metavar="NAME")
    ap.add_argument("--list-refs", action="store_true")
    ap.add_argument("--publish", default=None, metavar="SNAP_OR_REF",
                    help="write-audit-publish: fast-forward a staged "
                         "snapshot (encode_job --wap-staged) onto the "
                         "main branch after its audit passed")
    ap.add_argument("--abort-staged", default=None, metavar="SNAP_OR_REF",
                    help="declare a staged snapshot's audit failed: "
                         "it never joins the table and --vacuum "
                         "reclaims its files")
    ap.add_argument("--show", default=None,
                    choices=("snapshots", "history", "refs", "files"),
                    help="print an Iceberg-style metadata table as "
                         "JSON lines (driver-side manifest parse, no "
                         "Spark job)")
    ap.add_argument("--as-of", default=None, metavar="SNAP_OR_REF",
                    help="snapshot for --show files (default HEAD)")
    ap.add_argument("--remove-orphans", action="store_true",
                    help="delete on-disk files no manifest entry "
                         "references (crashed-job debris); referenced "
                         "files are untouched by construction")
    ap.add_argument("--orphan-grace-s", type=float, default=3600.0,
                    help="only sweep files idle this long (racing-"
                         "writer guard)")
    ap.add_argument("--rollback", default=None, metavar="SNAP_OR_REF",
                    help="make this snapshot CURRENT (Iceberg "
                         "rollback_to / set_current_snapshot); undone "
                         "snapshots stay time-travelable history")
    args = ap.parse_args()
    if not (args.compact or args.vacuum or args.delete_keys or args.purge
            or args.rewrite_sorted or args.upsert_source
            or args.create_ref or args.drop_ref or args.list_refs
            or args.publish or args.abort_staged or args.rollback
            or args.remove_orphans or args.show):
        ap.error("nothing to do: pass --compact/--vacuum/--delete-keys/"
                 "--purge/--rewrite-sorted/--upsert-source/--create-ref/"
                 "--drop-ref/--list-refs/--publish/--abort-staged/"
                 "--rollback/--remove-orphans/--show")

    out: dict = {}
    if args.show:
        from libgiddy_spark import meta

        rows, cols = {
            "snapshots": (lambda: meta.snapshot_rows(args.encoded),
                          meta.SNAPSHOTS_DDL),
            "history": (lambda: meta.history_rows(args.encoded),
                        meta.HISTORY_DDL),
            "refs": (lambda: meta.refs_rows(args.encoded),
                     meta.REFS_DDL),
            "files": (lambda: meta.file_rows(args.encoded, args.as_of),
                      meta.FILES_DDL),
        }[args.show]
        names = [c.strip().split(" ")[0] for c in cols.split(",")]
        for r in rows():
            print(json.dumps(dict(zip(names, r))))
        # no trailing summary dict: --show stdout stays a clean JSONL
        # metadata table for jq-style consumers
    if args.remove_orphans:
        from libgiddy_spark.engine import remove_orphan_files

        out["remove_orphans"] = remove_orphan_files(
            args.encoded, grace_s=args.orphan_grace_s)
    if args.rollback:
        from libgiddy_spark.engine import rollback

        out["rollback"] = rollback(args.encoded, args.rollback)
    if args.publish:
        from libgiddy_spark.engine import publish_snapshot

        out["publish"] = publish_snapshot(args.encoded, args.publish)
    if args.abort_staged:
        from libgiddy_spark.engine import abort_snapshot

        out["abort"] = abort_snapshot(args.encoded, args.abort_staged)
    if args.create_ref:
        from libgiddy_spark.engine import create_ref

        name, _, snap = args.create_ref.partition("@")
        out["create_ref"] = create_ref(args.encoded, name, snap or None)
    if args.drop_ref:
        from libgiddy_spark.engine import drop_ref

        drop_ref(args.encoded, args.drop_ref)
        out["drop_ref"] = args.drop_ref
    if args.list_refs:
        from libgiddy_spark.engine import list_refs

        out["refs"] = list_refs(args.encoded)
    if args.delete_keys:
        import pyarrow as pa

        from libgiddy_spark.engine import delete_rows
        from libgiddy_spark.schema_evo import table_schema

        if not args.key_col:
            ap.error("--delete-keys requires --key-col")
        # the tombstone VALUES are typed from the key column's schema,
        # never guessed from how the text parses ('0123' against a
        # string key must stay the literal string; an int would
        # over-delete '123' through join coercion)
        ktype = table_schema(args.encoded)[0].field(args.key_col).type
        raw = args.delete_keys.split(",")
        if pa.types.is_timestamp(ktype):
            # int64 micros on the CLI, written as typed timestamps so
            # the decode tasks compare timestamp to timestamp
            import datetime as _dt

            keys = [
                _dt.datetime.fromtimestamp(int(k) / 1e6, _dt.timezone.utc)
                .replace(tzinfo=None)
                for k in raw
            ]
        elif pa.types.is_integer(ktype):
            keys = [int(k) for k in raw]
        else:
            keys = raw
        out["delete"] = delete_rows(args.encoded, args.key_col, keys)
    if args.purge:
        from libgiddy_spark.engine import purge_deletes
        from libgiddy_spark.jobs.encode_job import build_spark

        if not args.key_col:
            ap.error("--purge requires --key-col")
        spark = build_spark("libgiddy-spark-maintain")
        out["purge"] = purge_deletes(spark, args.encoded, args.key_col)
    if args.upsert_source:
        from libgiddy_spark.engine import upsert_rows
        from libgiddy_spark.jobs.encode_job import build_spark

        if not args.key_col:
            ap.error("--upsert-source requires --key-col")
        spark = build_spark("libgiddy-spark-maintain")
        out["upsert"] = upsert_rows(
            spark, args.encoded, args.key_col,
            spark.read.parquet(args.upsert_source))
    if args.rewrite_sorted:
        from libgiddy_spark.engine import rewrite_sorted
        from libgiddy_spark.jobs.encode_job import build_spark

        if not args.key_col:
            ap.error("--rewrite-sorted requires --key-col")
        spark = build_spark("libgiddy-spark-maintain")
        out["rewrite_sorted"] = rewrite_sorted(spark, args.encoded,
                                               args.key_col)
    if args.compact:
        from libgiddy_spark.engine import compact_blocks
        from libgiddy_spark.jobs.encode_job import build_spark

        spark = build_spark("libgiddy-spark-maintain")
        out["compact"] = compact_blocks(
            spark, args.encoded,
            target_file_bytes=args.target_file_mb << 20,
        )
    if args.vacuum:
        from libgiddy_spark.engine import vacuum_blocks

        out["vacuum"] = vacuum_blocks(
            args.encoded, retain_last=args.retain_last,
            older_than=args.older_than)
    if out:
        print(json.dumps(out))


if __name__ == "__main__":
    main()
