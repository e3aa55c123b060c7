"""Exactly-once incremental changelog consumer over the manifest's
append-only history (the Iceberg "incremental processing" pattern: a
downstream job that repeatedly consumes a table's changes, each change
delivered exactly once end-to-end).

Delivery contract — the standard one for log consumers:

- ``poll`` returns the change window (last consumed snapshot, HEAD]
  via :func:`libgiddy_spark.engine.read_changes`, plus a commit token.
- The consumer materializes the window, THEN calls ``commit(token)``,
  which atomically advances the checkpoint (tmp + ``os.replace``).
- A crash anywhere before ``commit`` re-emits the SAME window on the
  next ``poll`` (at-least-once), under the SAME epoch number — so an
  idempotent sink keyed on the epoch turns replays into overwrites and
  the end-to-end result is exactly-once. :func:`parquet_epoch_sink`
  is that sink: one ``epoch-N`` directory per commit, staged write +
  atomic rename, replays overwrite their own epoch.

Snapshot headers are never removed from the manifest (vacuum removes
data files only), so a lagging consumer's ``since`` always resolves;
if retention already expired the window's files, ``read_changes``
raises the loud vacuumed/expired error instead of silently skipping.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from libgiddy_spark.engine import read_changes
from libgiddy_spark.manifest import ReadView

_OFFSET = "offset.json"


class ChangelogConsumer:
    """Checkpointed consumer of one encoded table's changelog.

    ``checkpoint_dir`` is this consumer's identity: two consumers with
    different checkpoint dirs each see every change once.
    """

    def __init__(self, out_dir: str, schema: pa.Schema,
                 checkpoint_dir: str):
        self.out_dir = out_dir
        self.schema = schema
        self.checkpoint_dir = checkpoint_dir
        os.makedirs(checkpoint_dir, exist_ok=True)

    # -- checkpoint state ------------------------------------------------
    def _state(self) -> dict:
        path = os.path.join(self.checkpoint_dir, _OFFSET)
        if not os.path.isfile(path):
            return {"consumed_snapshot": None, "epoch": 0}
        with open(path) as f:
            return json.load(f)

    # -- consume cycle ---------------------------------------------------
    def poll(self, spark: SparkSession
             ) -> tuple[DataFrame, dict] | None:
        """Next unconsumed change window as ``(df, token)``, or None
        when the checkpoint is already at HEAD. The df carries the
        table columns + ``_change_type`` + ``_commit_seq``; the token
        goes to :meth:`commit` after the window is materialized."""
        st = self._state()
        # HEAD = the current main-branch commit, never a raw header:
        # a WAP-staged header would fail read_changes validation, and
        # a snapshot published AFTER later commits (cherry-pick) joins
        # the branch at its publish position — raw header order would
        # park the consumer at an older commit and silently never
        # deliver the published rows
        head = ReadView.read(self.out_dir).branch.current
        if head is None:
            raise ValueError(
                f"no published snapshots in {self.out_dir}")
        if head == st["consumed_snapshot"]:
            return None
        df = read_changes(spark, self.out_dir, self.schema,
                          st["consumed_snapshot"], head)
        return df, {"to_snapshot": head, "epoch": st["epoch"]}

    def commit(self, token: dict) -> dict:
        """Atomically advance the checkpoint past ``token``'s window.
        Refuses a stale token (epoch moved since its poll) — the
        guard against two consumer processes sharing a checkpoint."""
        st = self._state()
        if token["epoch"] != st["epoch"]:
            raise ValueError(
                f"stale commit token: epoch {token['epoch']} != "
                f"checkpoint epoch {st['epoch']}")
        new = {"consumed_snapshot": token["to_snapshot"],
               "epoch": st["epoch"] + 1}
        path = os.path.join(self.checkpoint_dir, _OFFSET)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(new, f)
        os.replace(tmp, path)  # atomic: crash leaves old or new, never torn
        return new

    def run_once(self, spark: SparkSession, sink) -> dict | None:
        """One poll → sink(df, epoch) → commit cycle. Returns the new
        checkpoint state, or None when there was nothing to consume.
        Exactly-once end-to-end iff ``sink`` is idempotent per epoch
        (:func:`parquet_epoch_sink` is)."""
        polled = self.poll(spark)
        if polled is None:
            return None
        df, token = polled
        sink(df, token["epoch"])
        return self.commit(token)


def parquet_epoch_sink(dest: str):
    """Idempotent parquet sink: each epoch writes ``dest/epoch-N``
    via a staged dir + atomic rename, so a replayed epoch (crash
    between sink and commit) overwrites its own output instead of
    duplicating it. Read the consumed changelog back with
    ``spark.read.parquet(f"{dest}/epoch-*")``."""
    def sink(df: DataFrame, epoch: int) -> None:
        final = os.path.join(dest, f"epoch-{epoch}")
        tmp = os.path.join(dest, f"_tmp-epoch-{epoch}")
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    return sink
