"""Model-based check that the manifest's read-side consumers agree on
what a read at snapshot S sees, over random manifest histories:
snapshots, chunk commits, crash-orphaned part lines (manifest append
with no index line) healed by a later commit, compaction rewrites,
equality deletes, a purge's retire txn with its delete clear, WAP
stage/publish/abort and rollbacks.

At HEAD and at every snapshot id:

- the chunk dirs listed by ``_committed_block_files`` and by
  ``meta.file_rows`` are the same, and so are the part ids per dir;
- ``ReadView.deletes`` are the model's: a delete is visible iff its
  snapshot is accepted and no accepted clear names its file, and its
  seq is its snapshot's chain index;
- ``ReadView.part_seq`` maps each visible part to its committing
  snapshot's chain index, or to ``len(chain)`` for an unpublished
  staged snapshot under audit;
- every result, key-range pruning included, is the same after the
  chunk index (``manifest.chunks.jsonl``) is deleted.

A chunk's parts hold adjacent key ranges (as a range-clustered encode
writes them), so the index's chunk-level bounds prune exactly like the
manifest's part-level ones; across a key gap inside a chunk the index
over-includes by design.

Spark-free: histories are written through :class:`Manifest` directly,
with one placeholder block file per chunk dir."""

from __future__ import annotations

import os
import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st

from libgiddy_spark.engine import _committed_block_files
from libgiddy_spark.manifest import Manifest, ReadView, branch_replay
from libgiddy_spark.meta import file_rows

COLS = ("a", "b", "c")
KEY_PROBES = ((0, 5), (30, 45), (100, 160), (400, 10_000))


class History:
    """Writes one manifest history op by op and remembers what the
    checks need: header ids in write order, each part's committing
    snapshot, and the delete and clear entries."""

    def __init__(self, out: str):
        self.out = out
        self.m = Manifest(out)
        self.snaps: list[str] = []
        self.staged_open: list[str] = []
        self.aborted: set[str] = set()
        self.snap_of: dict[int, str] = {}
        self.deletes: list[tuple[str, str]] = []        # (file, snapshot)
        self.clears: list[tuple[str, list[str]]] = []   # (snapshot, files)
        self.next_pid = 0
        self.next_dir = 0
        self.next_key = 0

    def _dir(self, prefix: str) -> str:
        name = f"{prefix}-{self.next_dir:03d}"
        self.next_dir += 1
        d = os.path.join(self.out, "blocks", name)
        os.makedirs(d)
        with open(os.path.join(d, "blk-0.parquet"), "wb") as f:
            f.write(b"PAR1")
        return name

    def _parts(self, sid: str, cdir: str, rows: list[int], cols: frozenset,
               zoned: bool) -> list[dict]:
        out = []
        for n in rows:
            pid = self.next_pid
            self.next_pid += 1
            self.snap_of[pid] = sid
            e = {"part_id": pid, "chunk_dir": cdir, "columns": {}}
            if n:
                e["columns"] = {c: {"codec": "raw", "n_values": n}
                                for c in sorted(cols)}
            else:
                e["empty"] = True
            lo, hi = self.next_key, self.next_key + 9
            self.next_key = hi + 1
            e["key_lo"], e["key_hi"] = (lo, hi) if zoned else (None, None)
            out.append(e)
        self.next_key += 100  # a key gap between chunks, none inside
        return out

    def _head(self) -> tuple[str | None, list[str]]:
        vis = branch_replay(self.m.read()).visible()
        if not vis:
            return None, []
        dirs = {os.path.relpath(f, os.path.join(self.out, "blocks"))
                .split(os.sep)[0] for f in _committed_block_files(self.out)}
        return vis[-1], sorted(dirs)

    def _new_snap(self) -> str:
        sid = f"s{len(self.snaps):02d}"
        self.snaps.append(sid)
        self.m.write_snapshot_header(sid, "src", 0)
        return sid

    def apply(self, op: tuple) -> None:
        kind = op[0]
        if kind == "snap":
            sid = f"s{len(self.snaps):02d}"
            self.snaps.append(sid)
            self.m.write_snapshot_header(sid, "src", 0, staged=op[1])
            if op[1]:
                self.staged_open.append(sid)
        elif kind == "commit":
            _, rows, cols, zoned, crash = op
            if not self.snaps or self.snaps[-1] in self.aborted:
                return
            sid = self.snaps[-1]
            parts = self._parts(sid, self._dir("chunk"), rows, cols, zoned)
            if crash:
                # the manifest txn landed, its index line did not
                self.m.append([{"kind": "txn", "ts": 0.0, "entries": [
                    {**e, "kind": "part", "status": "done",
                     "snapshot_id": sid, "ts": 0.0} for e in parts]}])
            else:
                self.m.mark_done(sid, parts)
        elif kind == "compact":
            head, dirs = self._head()
            if head is None or not dirs:
                return
            self.m.append_rewrite(head, self._dir("compact"),
                                  dirs[: op[1]])
        elif kind == "purge":
            # retire every HEAD dir and clear every HEAD delete in one
            # txn, as a purge's staged rewrite commits them
            _, rows, cols = op
            head, dirs = self._head()
            if head is None or not dirs:
                return
            cleared = self.visible_deletes(None)
            sid = self._new_snap()
            parts = self._parts(sid, self._dir("chunk"), rows, cols, True)
            self.m.mark_done(sid, parts, status="staged")
            txn = [{"kind": "rewrite", "snapshot_id": sid,
                    "new_chunk": None, "replaces": dirs, "ts": 0.0}]
            if cleared:
                txn.append({"kind": "delete_clear", "snapshot_id": sid,
                            "files": sorted(cleared), "ts": 0.0})
                self.clears.append((sid, cleared))
            self.m.commit_txn([{**e, "status": "done"} for e in parts] + txn)
        elif kind == "delete":
            # its own snapshot, as delete_rows commits it
            rel = f"deletes/delete-{len(self.deletes):05d}.parquet"
            sid = self._new_snap()
            self.m.append_delete(sid, rel, "k", op[1])
            self.deletes.append((rel, sid))
        elif kind == "publish":
            _, i, abort = op
            if not self.staged_open:
                return
            sid = self.staged_open.pop(i % len(self.staged_open))
            self.m.append_publish(sid, abort=abort)
            if abort:
                self.aborted.add(sid)
        elif kind == "rollback":
            chain = branch_replay(self.m.read()).chain
            if chain:
                self.m.append_rollback(chain[op[1] % len(chain)])

    def accepted(self, as_of: str | None) -> set[str]:
        """Snapshots a read at ``as_of`` sees: HEAD's visible list, an
        unpublished staged snapshot's stage point plus itself, or the
        snapshot's own visible list."""
        bs = branch_replay(self.m.read())
        if as_of is None:
            return set(bs.visible())
        if as_of in bs.staged_parent:
            return set(bs.vis_at(bs.staged_parent[as_of])) | {as_of}
        return set(bs.vis_at(as_of))

    def visible_deletes(self, as_of: str | None) -> list[str]:
        acc = self.accepted(as_of)
        cleared = {f for sid, files in self.clears if sid in acc
                   for f in files}
        return [f for f, sid in self.deletes
                if sid in acc and f not in cleared]


def build_history(out: str, ops: list[tuple]) -> History:
    h = History(out)
    for op in ops:
        h.apply(op)
    return h


def _dir_of(out: str, f: str) -> str:
    return os.path.relpath(f, os.path.join(out, "blocks")).split(os.sep)[0]


def read_views(h: History) -> dict:
    """Every consumer's answer at HEAD and at each snapshot id."""
    out = h.out
    views = {}
    for as_of in [None] + h.snaps:
        try:
            files = _committed_block_files(out, as_of=as_of)
        except ValueError:
            try:
                file_rows(out, as_of)
            except ValueError:
                pass
            else:
                raise AssertionError(f"only the listing raised at {as_of}")
            views[as_of] = "raises"
            continue
        rows = file_rows(out, as_of)
        view = ReadView.read(out, as_of)
        by_pid = {
            pid: sorted({_dir_of(out, f) for f in _committed_block_files(
                out, part_ids=[pid], as_of=as_of)})
            for pid in range(h.next_pid)
        }
        views[as_of] = {
            "dirs": sorted({_dir_of(out, f) for f in files}),
            "by_pid": by_pid,
            "rows": sorted(r[:4] for r in rows),
            "key_range": [_committed_block_files(out, key_range=kr,
                                                 as_of=as_of)
                          for kr in KEY_PROBES],
            "deletes": [(os.path.relpath(f, out), seq)
                        for f, _k, _n, seq in view.deletes],
            "part_seq": view.part_seq,
        }
    return views


def check_model(h: History, views: dict) -> None:
    """Deletes and part seqs against the model."""
    chain = branch_replay(h.m.read()).chain
    seq_of = {s: i for i, s in enumerate(chain)}
    for as_of, v in views.items():
        if v == "raises":
            continue
        visible = set(h.visible_deletes(as_of))
        assert v["deletes"] == [(f, seq_of[sid]) for f, sid in h.deletes
                                if f in visible], as_of
        audit = as_of is not None and as_of not in seq_of
        assert v["part_seq"] == {
            pid: (len(chain) if audit and h.snap_of[pid] == as_of
                  else seq_of[h.snap_of[pid]])
            for pid in {r[2] for r in v["rows"]}
        }, as_of


def _ops_strategy():
    cols = st.frozensets(st.sampled_from(COLS), min_size=1)
    rows = st.lists(st.integers(0, 4), min_size=1, max_size=3)
    snap = st.tuples(st.just("snap"), st.booleans())
    commit = st.tuples(st.just("commit"), rows, cols, st.booleans(),
                       st.booleans())
    compact = st.tuples(st.just("compact"), st.integers(1, 3))
    purge = st.tuples(st.just("purge"), rows, cols)
    delete = st.tuples(st.just("delete"), st.integers(1, 5))
    publish = st.tuples(st.just("publish"), st.integers(0, 5),
                        st.booleans())
    rollback = st.tuples(st.just("rollback"), st.integers(0, 7))
    op = st.one_of(snap, commit, commit, commit, compact, purge, delete,
                   publish, rollback)
    return st.lists(op, max_size=18)


def check_history(ops: list[tuple]) -> None:
    with tempfile.TemporaryDirectory() as out:
        h = build_history(out, ops)
        views = read_views(h)
        check_model(h, views)
        for as_of, v in views.items():
            if v == "raises":
                continue
            # listing and files table: same dirs, same parts per dir
            assert v["dirs"] == sorted({r[1] for r in v["rows"]}), as_of
            for pid, dirs in v["by_pid"].items():
                assert dirs == sorted(
                    {r[1] for r in v["rows"] if r[2] == pid}), (as_of, pid)
            for kr, files in zip(KEY_PROBES, v["key_range"]):
                assert set(files) <= {
                    f for f in _committed_block_files(out, as_of=as_of)}, kr
        if os.path.exists(h.m.index_path):
            os.remove(h.m.index_path)
        full = read_views(h)
        check_model(h, full)
        for as_of, v in views.items():
            f = full[as_of]
            if v == "raises" or f == "raises":
                assert v == f, as_of
                continue
            # bounds differ by granularity (chunk aggregate vs part
            # line); visibility and row counts may not
            for key in ("dirs", "by_pid", "rows", "key_range", "deletes",
                        "part_seq"):
                assert v[key] == f[key], (as_of, key)


@settings(max_examples=150, deadline=None)
@given(_ops_strategy())
def test_manifest_consumers_agree(ops):
    check_history(ops)


def test_fixed_history_with_heal_compaction_purge_and_wap():
    """One hand-written history through every op kind, so a plain run
    covers each path without relying on the generator's draws."""
    ab = frozenset("ab")
    check_history([
        ("snap", False),
        ("commit", [3, 2], ab, True, False),
        ("commit", [1, 0], ab, False, True),   # orphaned ...
        ("snap", False),                       # ... healed here
        ("commit", [4], frozenset("c"), True, False),
        ("compact", 2),
        ("snap", True),
        ("commit", [2], frozenset("abc"), True, False),
        ("publish", 0, False),
        ("snap", True),
        ("commit", [1], ab, True, False),
        ("publish", 0, True),
        ("purge", [5, 5], frozenset("abc")),
        ("rollback", 1),
        ("commit", [2], frozenset("a"), True, True),
    ])


def test_fixed_history_with_deletes_clears_and_audit():
    """Deletes before and after a purge that clears them, a rollback
    across the purge, and an audit read of a staged snapshot: part and
    delete seqs at every snapshot."""
    ab = frozenset("ab")
    check_history([
        ("snap", False),
        ("commit", [3, 2], ab, True, False),
        ("delete", 3),
        ("snap", False),
        ("commit", [4], frozenset("c"), True, True),
        ("delete", 2),
        ("compact", 2),
        ("purge", [5, 5], frozenset("abc")),
        ("delete", 1),
        ("snap", True),
        ("commit", [2], ab, True, False),
        ("rollback", 2),
        ("commit", [1], ab, True, False),
    ])
