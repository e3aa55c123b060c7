"""Iceberg-style METADATA TABLES over the engine's manifest: the
`SELECT * FROM tbl.snapshots / .history / .refs / .files` surface a
lakehouse user expects for debugging, auditing and operational
tooling.

snapshots/history read the FULL manifest (the slim index headers drop
timestamps and part counts) and take every answer from
:func:`manifest.branch_replay`: ``header`` and ``state`` give the
snapshots rows, ``history`` the history rows. files flattens the live
parts of a :class:`manifest.ReadView` over the O(chunks) summary index,
the same view decode lists its block files from. Metadata-scale driver
parsing either way, exactly like Iceberg's own metadata tables walk
manifest lists, never the data files — and every table returns an
ordinary DataFrame so it composes with any query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .manifest import Manifest, ReadView, branch_replay, list_refs, part_rows

__all__ = [
    "file_rows", "files_df", "history_df", "history_rows",
    "refs_df", "refs_rows", "snapshot_rows", "snapshots_df",
]


SNAPSHOTS_DDL = ("committed_at_us long, snapshot_id string, "
                 "parent_id string, state string, num_parts int")
HISTORY_DDL = ("made_current_at_us long, snapshot_id string, "
               "is_current_ancestor boolean")
REFS_DDL = "name string, snapshot_id string"
FILES_DDL = ("snapshot_id string, chunk_dir string, part_id int, "
             "row_count long, key_lo long, key_hi long, "
             "key_lo_s string, key_hi_s string")


def snapshot_rows(out_dir: str) -> list[tuple]:
    """Driver-side rows for :func:`snapshots_df` (no Spark needed —
    the CLI prints these directly)."""
    st = branch_replay(Manifest(out_dir).read())
    return [
        (int(e.get("ts", 0.0) * 1_000_000), sid,
         st.parent.get(sid, st.staged_parent.get(sid)), st.state(sid),
         int(e.get("num_parts", 0)))
        for sid, e in st.header.items()
    ]


def snapshots_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """One row per snapshot header (Iceberg ``tbl.snapshots``):
    ``committed_at_us``, ``snapshot_id``, ``parent_id`` (main-branch
    parent at join; null for the first commit / unjoined), ``state``
    (``current`` | ``ancestor`` | ``orphaned`` = in history but not
    visible at HEAD, e.g. rolled back | ``staged`` | ``aborted``) and
    ``num_parts``."""
    return spark.createDataFrame(snapshot_rows(out_dir), SNAPSHOTS_DDL)


def history_rows(out_dir: str) -> list[tuple]:
    st = branch_replay(Manifest(out_dir).read())
    return [(int(ts * 1_000_000), sid,
             st.state(sid) in ("current", "ancestor"))
            for ts, sid in st.history]


def history_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """One row per time a snapshot became CURRENT (Iceberg
    ``tbl.history``): main-branch joins in commit order plus every
    rollback event, with ``is_current_ancestor`` false for commits a
    later rollback undid (the lineage HEAD no longer descends from)."""
    return spark.createDataFrame(history_rows(out_dir), HISTORY_DDL)


def refs_rows(out_dir: str) -> list[tuple]:
    return sorted(list_refs(out_dir).items())


def refs_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """Live named refs (Iceberg ``tbl.refs``)."""
    return spark.createDataFrame(refs_rows(out_dir), REFS_DDL)


def file_rows(out_dir: str, as_of: str | None = None) -> list[tuple]:
    """Driver-side rows for :func:`files_df`: the manifest's live view
    at ``as_of`` flattened to one tuple per (chunk, part)."""
    view = ReadView.read(out_dir, as_of).parts
    return [
        (e.get("snapshot_id"), d, pid, part_rows(e, pid), e.get("key_lo"),
         e.get("key_hi"), e.get("key_lo_s"), e.get("key_hi_s"))
        for d, parts in view.items() for pid, e in parts.items()
    ]


def files_df(spark: SparkSession, out_dir: str,
             as_of: str | None = None) -> DataFrame:
    """One row per (chunk, part) visible at ``as_of`` (default HEAD) —
    Iceberg ``tbl.files``: owning snapshot, chunk dir, part id, row
    count and the manifest-level sort-key zone bounds data skipping
    prunes on. Built from the O(chunks) summary index, rewrite-lineage
    aware (compacted rows report their consolidated dir; purged dirs
    are retired, never double-counted)."""
    return spark.createDataFrame(file_rows(out_dir, as_of), FILES_DDL)
