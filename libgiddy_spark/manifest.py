"""Checkpointed JSON-lines manifest: per-partition lineage, codec-choice
metrics, resumability (BASELINE.json:6,14), and the one reader of the
table's live state.

Commit protocol (SURVEY.md §7 M4): block files for a chunk of partitions
are written to a temp directory and atomically renamed into place, THEN
one ``txn`` manifest line carrying the chunk's part lines is appended
and fsync'd, then one summary line per chunk goes to the chunk index
(``manifest.chunks.jsonl``). A part line with ``status: done`` is the
commit point — on restart, partitions with committed lines are skipped
without re-encoding (left-anti semantics); a chunk that died mid-write
leaves only an uncommitted temp dir, which resume removes.

Read side: :meth:`Manifest.read_indexed` returns the index entries plus
the manifest tail the index does not cover; :func:`branch_replay` is
the one reader of snapshot/publish/rollback entries (chain, headers,
made-current history, each id's state). A read plan reads the
manifest ONCE, into a :class:`ReadView`: the resolved ``as_of``, the
chain and accepted set, the live ``{chunk_dir: {part_id: line}}``
view (chunk lines, tail part lines and rewrites replayed), the visible
equality deletes, each visible part's sequence number and the column
renames. Decode's listing, delete scoping and column names, vacuum's
pins, purge, the changelog's inserted parts and the files metadata
table all take one view, so no plan mixes two manifest states.

Write side: a commit plans from ONE manifest read too. An encode reads
the full manifest once and derives its WAP attempt id, rollback guard,
header existence, schema baseline (a :class:`ReadView` over the same
entries), :func:`file_registry` and :func:`done_parts` from it; an
operation that needs only table state (delete, upsert, compaction,
refs, WAP, rollback, changelog) plans from one :meth:`ReadView.read`.
A snapshot header holds its id, source path, part count and the
staged flag, never the source listing: the ``kind: "file"`` registry
lines record each file once.
"""

from __future__ import annotations

import json
import os
import time
from functools import cached_property


def _read_jsonl(path: str, offset: int = 0,
                upto: int | None = None) -> tuple[list[dict], int]:
    """Entries of the JSON lines in ``path``'s bytes [offset, upto),
    ``txn`` lines expanded in place, plus the largest ``mend`` seen on
    a line (0 if none). A missing file reads as ``([], 0)``. Torn
    lines are skipped: a crash mid-append leaves a partial last line
    whose chunk never renamed its temp dir, and a tail window may
    start mid-line."""
    entries: list[dict] = []
    mend = 0
    try:
        with open(path, "rb") as f:
            f.seek(offset)
            data = f.read() if upto is None else f.read(max(upto - offset, 0))
    except FileNotFoundError:
        return entries, mend
    # writers emit ASCII JSON, so only a torn line can fail to decode
    for line in data.decode("utf-8", "replace").split("\n"):
        if not line:
            continue
        try:
            e = json.loads(line)
        except json.JSONDecodeError:  # torn line
            continue
        # a txn line is an ATOMIC batch (chunk commit, purge promote +
        # retire): expand in place, order preserved
        if e.get("kind") == "txn":
            entries.extend(e.get("entries", ()))
        else:
            entries.append(e)
        mend = max(mend, e.get("mend", 0))
    return entries, mend


def _append_lines(path: str, lines: list[dict]) -> None:
    if not lines:
        return
    payload = "".join(
        json.dumps(e, separators=(",", ":"), sort_keys=True) + "\n"
        for e in lines
    )
    with open(path, "a") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())


class Manifest:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.path = os.path.join(out_dir, "manifest.jsonl")
        # chunk-granular summary index (Iceberg manifest-list analogue):
        # one line per committed CHUNK (part-id list + aggregated key
        # ranges) instead of one per part, so a pruned decode's driver
        # work is O(chunks), not O(parts). The index is a derived CACHE
        # over manifest.jsonl — each line records the manifest byte size
        # it covers ("mend"), and readers fall back to parsing only the
        # manifest TAIL past the last covered offset (or the whole file
        # when the index is absent), so a crash between the two appends
        # can never lose rows.
        self.index_path = os.path.join(out_dir, "manifest.chunks.jsonl")
        os.makedirs(out_dir, exist_ok=True)

    def read(self) -> list[dict]:
        return self.read_tail(0)

    def read_tail(self, offset: int, upto: int | None = None) -> list[dict]:
        """Manifest entries whose lines start at/after byte ``offset``
        (and before ``upto`` when given — both are line boundaries by
        construction: every append is flushed whole)."""
        return _read_jsonl(self.path, offset, upto)[0]

    def read_index(self) -> tuple[list[dict], int]:
        """(index entries, covered manifest bytes); ``([], 0)`` when the
        index file doesn't exist (pre-upgrade manifests). ``covered``
        is the LAST line's mend — readers must parse the manifest tail
        beyond it (chunks committed after a crash between the two
        appends, plus snapshot headers / registry lines, live there)."""
        return _read_jsonl(self.index_path)

    def read_indexed(self) -> list[dict]:
        """Index entries + the manifest tail past them: O(chunks) when
        the index covers the manifest, the full read when it is
        absent."""
        entries, covered = self.read_index()
        return entries + self.read_tail(covered)

    def register_files(self, new: list[tuple[str, int, str]]) -> None:
        """Append registry lines: (file_id, part_id, relpath)."""
        self.append(
            [
                {"kind": "file", "file_id": fid, "part_id": pid, "path": rel}
                for fid, pid, rel in new
            ]
        )

    def append(self, entries: list[dict]) -> None:
        _append_lines(self.path, entries)

    def append_indexed(self, line: dict, index_lines: list[dict]) -> None:
        """Append ``line`` to the manifest, then ``index_lines`` to the
        chunk index, each stamped with the manifest size after the
        append as its ``mend``. Index lines a crash lost between an
        earlier pair of appends are healed first, so this line's larger
        mend never covers them."""
        pre = self._msize()
        self.append([line])
        post = self._msize()
        self._heal_index(pre)
        self._index_write(index_lines, post)

    def _append_entry(self, kind: str, **fields) -> None:
        """One indexed entry line, copied verbatim into the index."""
        entry = {"kind": kind, **fields, "ts": time.time()}
        self.append_indexed(entry, [entry])

    def write_snapshot_header(
        self, snapshot_id: str, source_path: str, num_parts: int,
        staged: bool = False,
    ) -> None:
        """Append the header of a new snapshot: its id, ``source_path``,
        ``num_parts`` (the source's file count, which
        ``meta.snapshot_rows`` reports) and a timestamp. The source's
        files are not listed here: each one's ``kind: "file"`` registry
        line records it once. The caller writes a header once per
        snapshot id, deciding from the manifest read it plans from
        (a resumed encode keeps its original header).

        ``staged=True`` marks a WAP (write-audit-publish) snapshot:
        its data commits off the main branch — invisible to HEAD reads
        until :meth:`append_publish` fast-forwards it in (Iceberg
        staged-snapshot / cherry-pick pattern)."""
        hdr = {
            "kind": "snapshot",
            "snapshot_id": snapshot_id,
            "source_path": source_path,
            "num_parts": num_parts,
            "ts": time.time(),
        }
        # slim copy in the chunk index: time travel's snapshot ORDER
        # must be recoverable from the index alone, even for snapshots
        # that committed zero chunks. The staged flag MUST ride along or
        # index-path readers would see a staged snapshot as published.
        slim = {"kind": "snapshot", "snapshot_id": snapshot_id}
        if staged:
            hdr["staged"] = slim["staged"] = True
        self.append_indexed(hdr, [slim])

    def append_publish(self, snapshot_id: str, abort: bool = False) -> None:
        """PUBLISH a WAP-staged snapshot onto the main branch (or, with
        ``abort=True``, declare it dead so vacuum may sweep its files).
        The snapshot's main-branch position is THIS entry's position —
        Iceberg cherry-pick ordering — so time travel to snapshots
        committed between stage and publish never sees the staged rows.
        Indexed like refs so index-tail readers see branch state."""
        fields = {"abort": True} if abort else {}
        self._append_entry("publish", snapshot_id=snapshot_id, **fields)

    def append_rollback(self, to_snapshot: str) -> None:
        """Make ``to_snapshot`` the CURRENT snapshot (Iceberg
        rollback_to / set_current_snapshot): HEAD reads rewind to the
        state when it committed; later snapshots stay in history for
        time travel until retention expires them. Indexed like publish
        so index-tail readers see branch state."""
        self._append_entry("rollback", to=to_snapshot)

    def _msize(self) -> int:
        return os.path.getsize(self.path) if os.path.exists(self.path) else 0

    def _index_write(self, lines: list[dict], mend: int) -> None:
        _append_lines(self.index_path, [{**e, "mend": mend} for e in lines])

    def _last_index_mend(self) -> int:
        """mend of the index's last complete line. Tail read with a
        progressively widening window: a purge txn line can exceed any
        fixed window (it carries every chunk summary in one line), and
        a too-small window returning 0 would make the next heal re-read
        and re-index the whole manifest."""
        try:
            size = os.path.getsize(self.index_path)
        except OSError:
            return 0
        back = 1 << 16
        while True:
            back = min(back, size)
            best = _read_jsonl(self.index_path, size - back)[1]
            if best or back == size:
                return best
            back *= 16

    @staticmethod
    def _chunk_summary_lines(part_entries: list[dict]) -> list[dict]:
        """One chunk-summary line per chunk_dir: part-id list + key
        ranges aggregated over the chunk's parts (None if ANY part is
        unzoned — chunk pruning must over-include, exactly like the
        part-level poisoning rule one level down)."""
        by_chunk: dict[str, list[dict]] = {}
        for e in part_entries:
            if e.get("chunk_dir"):
                by_chunk.setdefault(e["chunk_dir"], []).append(e)
        lines = []
        for cdir, parts in sorted(by_chunk.items()):
            def _agg(lo_key: str, hi_key: str):
                los = [p.get(lo_key) for p in parts]
                his = [p.get(hi_key) for p in parts]
                if any(v is None for v in los) or any(v is None for v in his):
                    return None, None
                return min(los), max(his)

            klo, khi = _agg("key_lo", "key_hi")
            klo_s, khi_s = _agg("key_lo_s", "key_hi_s")
            part_rows: dict[str, int] = {}
            for p in parts:
                pc = p.get("columns") or {}
                n = next(
                    (int(c["n_values"]) for c in pc.values()
                     if "n_values" in c), 0,
                )
                part_rows[str(int(p["part_id"]))] = n
            lines.append(
                {
                    "kind": "chunk",
                    "chunk_dir": cdir,
                    "snapshot_id": parts[0].get("snapshot_id"),
                    "parts": sorted(int(p["part_id"]) for p in parts),
                    "key_lo": klo,
                    "key_hi": khi,
                    "key_lo_s": klo_s,
                    "key_hi_s": khi_s,
                    # per-part row counts: lets meta.file_rows run off
                    # the index instead of a full O(parts) manifest read
                    "part_rows": part_rows,
                }
            )
        return lines

    _INDEXED_KINDS = ("snapshot", "rewrite", "delete", "delete_clear",
                      "ref", "publish", "rollback", "schema")

    def _heal_index(self, upto: int) -> None:
        """Rescue manifest entries in [last index mend, upto) that never
        got their index line (crash between a manifest append and its
        index append). Without this, the NEXT index append's larger
        mend would cover the orphaned bytes and the index read path
        would silently lose them forever."""
        last = self._last_index_mend()
        if last >= upto:
            return
        span = self.read_tail(last, upto)
        rescued = self._chunk_summary_lines([
            e for e in span
            if e.get("kind") == "part" and e.get("status") == "done"
        ])
        for e in span:
            if e.get("kind") == "snapshot":
                # headers written before the field was dropped carry
                # the source listing: keep it out of the index
                rescued.append({k: v for k, v in e.items()
                                if k not in ("files", "ts")})
            elif e.get("kind") in self._INDEXED_KINDS:
                rescued.append(e)
        self._index_write(rescued, upto)

    def mark_done(
        self, snapshot_id: str, part_entries: list[dict],
        status: str = "done",
    ) -> None:
        """``status="staged"`` commits the part lines WITHOUT making
        them live: invisible to listing/resume (done_parts), no chunk
        index summary, and vacuum expires their dirs if the txn never
        comes — the first half of an atomic two-phase commit whose second half is
        :meth:`commit_staged`."""
        for e in part_entries:
            e.setdefault("kind", "part")
            e.setdefault("status", status)
            e["snapshot_id"] = snapshot_id
            e.setdefault("ts", time.time())
        # ONE txn line for the whole chunk: a multi-line append can tear
        # to a PREFIX of part lines (buffered write, crash pre-fsync),
        # and the resume sweep would then delete the chunk dir while the
        # prefix parts stay "done" with no data — silent row loss. A
        # single line tears wholly or not at all.
        self.append_indexed(
            {"kind": "txn", "entries": part_entries, "ts": time.time()},
            self._chunk_summary_lines(part_entries)
            if status == "done" else [],
        )

    def commit_txn(self, entries: list[dict]) -> None:
        """ATOMIC multi-entry commit: all entries land in ONE manifest
        line (kind=txn) — a torn write drops the whole batch, never a
        prefix — and one index line. Used by purge to promote staged
        parts + retire old dirs + clear deletes as a single visible
        state change."""
        parts = [e for e in entries
                 if e.get("kind") == "part" and e.get("status") == "done"]
        idx_entries = self._chunk_summary_lines(parts) + [
            e for e in entries if e.get("kind") in self._INDEXED_KINDS
        ]
        self.append_indexed(
            {"kind": "txn", "entries": entries, "ts": time.time()},
            [{"kind": "txn", "entries": idx_entries}],
        )

    def commit_staged(self, staged: list[dict],
                      extra: list[dict]) -> None:
        """Second half of a staged commit: promote the ``staged`` part
        lines (the ``staged`` list :func:`engine.encode_files` returns)
        to done and commit them with ``extra`` entries in one
        :meth:`commit_txn`."""
        self.commit_txn([{**e, "status": "done"} for e in staged] + extra)

    def append_rewrite(
        self, snapshot_id: str, new_chunk: str | None, replaces: list[str]
    ) -> None:
        """Record a COMPACTION rewrite: ``new_chunk`` physically replaces
        the block files of ``replaces`` (same rows, fewer files). The
        entry is appended to the manifest AND the chunk index; readers
        apply rewrites in order, so time travel to a snapshot before
        ``snapshot_id`` still lists the original dirs (until vacuum
        physically removes them — the Iceberg rewrite/expire split).
        ``new_chunk=None`` RETIRES the replaced dirs outright (used by
        purge, whose replacement chunks carry their own part entries)."""
        self._append_entry("rewrite", snapshot_id=snapshot_id,
                           new_chunk=new_chunk, replaces=sorted(replaces))

    def append_delete(
        self, snapshot_id: str, rel_file: str, key_col: str, n: int
    ) -> None:
        """Record an EQUALITY-DELETE file (Iceberg merge-on-read):
        ``rel_file`` (under out_dir) holds the deleted key values.
        Decode tasks mask its keys out of every decoded group (a list
        past ``engine.SMALL_DELETE_MAX_KEYS`` keys commits copy-on-write
        instead). Appended to manifest AND index so the O(chunks)
        listing path sees deletes too."""
        self._append_entry("delete", snapshot_id=snapshot_id,
                           file=rel_file, key_col=key_col, n=int(n))

    def append_ref(self, name: str, snapshot_id: str | None) -> None:
        """Record a NAMED REF (Iceberg branch/tag analogue) pointing at
        ``snapshot_id`` (None = drop the ref). Append-only: the LAST
        entry per name wins. Indexed so index-tail readers resolve refs
        without a full manifest read."""
        self._append_entry("ref", name=name, snapshot_id=snapshot_id)


class BranchState:
    """Replayed manifest branch state (see :func:`branch_replay`): the
    one reading of what the snapshot, publish and rollback lines mean.

    Visibility is stored as PARENT POINTERS: when a snapshot joins the
    branch, its parent is whatever snapshot was current then, so the
    visible set at any snapshot is its parent path — O(1) per commit
    regardless of how many rollbacks the manifest holds. ``header``
    maps each snapshot id to its first header line, in manifest order;
    ``history`` holds one ``(entry ts, snapshot id)`` pair for each
    time a snapshot became current (a commit join, a publish or a
    rollback); :meth:`state` classifies a snapshot id."""

    __slots__ = ("chain", "parent", "current", "staged_parent",
                 "aborted", "has_rollback", "header", "history", "_vis")

    def __init__(self) -> None:
        self.chain: list[str] = []        # full commit order (seq nums)
        self.parent: dict[str, str | None] = {}
        self.current: str | None = None   # last visible commit (HEAD)
        self.staged_parent: dict[str, str | None] = {}  # unpublished WAP
        self.aborted: set[str] = set()
        self.has_rollback = False
        self.header: dict[str, dict] = {}
        self.history: list[tuple[float, str]] = []
        self._vis: set[str] | None = None  # visible(), on first state()

    def vis_at(self, sid: str | None) -> list[str]:
        """Visible snapshot list right after ``sid`` joined (commit
        order): sid's parent path. ``None`` = empty table."""
        out: list[str] = []
        while sid is not None:
            out.append(sid)
            sid = self.parent[sid]
        out.reverse()
        return out

    def visible(self) -> list[str]:
        """Commits a HEAD read sees, in commit order."""
        return self.vis_at(self.current)

    def state(self, sid: str | None) -> str | None:
        """``"staged"`` (unpublished WAP), ``"aborted"``, ``"current"``
        (HEAD), ``"ancestor"`` (visible at HEAD), ``"orphaned"``
        (joined, but a rollback hid it), or None for an id with no
        header."""
        if sid in self.staged_parent:
            return "staged"
        if sid in self.aborted:
            return "aborted"
        if sid not in self.parent:
            return None
        if sid == self.current:
            return "current"
        if self._vis is None:
            self._vis = set(self.visible())
        return "ancestor" if sid in self._vis else "orphaned"


def branch_replay(entries: list[dict]) -> BranchState:
    """Replay snapshot/publish/rollback entries into branch state.

    ``chain`` is the FULL main-branch commit order — a part/delete's
    Iceberg sequence number stays its position here even after a
    rollback hides it. A ``rollback`` entry to snapshot S makes S the
    current snapshot (visible set = S's parent path — the state when S
    joined), so rolling back and rolling FORWARD to a previously
    rolled-back snapshot (Iceberg ``set_current_snapshot``) are the
    same operation; later commits chain onto S."""
    st = BranchState()

    def _join(sid: str, e: dict) -> None:
        st.chain.append(sid)
        st.parent[sid] = st.current
        st.current = sid
        st.history.append((e.get("ts", 0.0), sid))

    for e in entries:
        k = e.get("kind")
        if k == "snapshot":
            sid = e["snapshot_id"]
            if sid in st.header:
                continue
            st.header[sid] = e
            if e.get("staged"):
                st.staged_parent[sid] = st.current
            else:
                _join(sid, e)
        elif k == "publish":
            sid = e.get("snapshot_id")
            if sid not in st.staged_parent or sid in st.aborted:
                continue  # unknown / double entry: writer-validated
            if e.get("abort"):
                st.aborted.add(sid)
            else:
                _join(sid, e)
            st.staged_parent.pop(sid)
        elif k == "rollback":
            to = e.get("to")
            if to in st.parent:
                st.current = to
                st.has_rollback = True
                st.history.append((e.get("ts", 0.0), to))
            # else: writer-validated; a reader skips a bad entry
    return st


def refs_of(entries: list[dict]) -> dict[str, str]:
    """Named refs (Iceberg branch/tag analogue) in ``entries``: last
    entry per name wins; dropped refs (snapshot_id None) disappear."""
    refs: dict[str, str] = {}
    for e in entries:
        if e.get("kind") == "ref":
            if e.get("snapshot_id") is None:
                refs.pop(e["name"], None)
            else:
                refs[e["name"]] = e["snapshot_id"]
    return refs


def list_refs(out_dir: str) -> dict[str, str]:
    return refs_of(Manifest(out_dir).read_indexed())


def file_registry(entries: list[dict]) -> dict[str, int]:
    """File identity ("relpath:bytes") -> stable part_id, from the
    ``kind: "file"`` lines of a full manifest read.

    Files are registered in first-seen order with monotonically
    increasing part ids; a file that changes size is a NEW identity
    (re-encoded under a fresh part_id). The registry line is
    appended BEFORE a file's first encode — the durable naming
    commitment that keeps chunk dirs, _PARTS markers, and resume
    consistent across snapshot appends."""
    return {e["file_id"]: int(e["part_id"])
            for e in entries if e.get("kind") == "file"}


def done_parts(entries: list[dict],
               branch: BranchState | None = None) -> set[int]:
    """Committed part ids of a full manifest read (``branch`` is its
    replay, when the caller has one). part_id is a STABLE file identity
    (see :func:`file_registry`), so done-ness carries across snapshot
    ids of the same growing table — an appended snapshot re-encodes
    only its new files. Parts whose only commit lives in an ABORTED WAP
    snapshot are NOT done — their source files must be re-encodable
    after the failed audit, or the rows would be lost forever (skipped
    as done, yet invisible at HEAD)."""
    aborted = (branch_replay(entries) if branch is None else branch).aborted
    return {e["part_id"] for e in entries
            if e.get("status") == "done"
            and e.get("snapshot_id") not in aborted}


class ReadView:
    """One manifest state and everything a read at ``as_of`` needs
    from it: the resolved snapshot, the branch chain and accepted set,
    the live parts, the visible equality deletes, each visible part's
    sequence number and each block column's logical name. A plan that
    takes all of them from one view cannot list the block files of one
    state and apply the deletes of another (a purge committed mid-plan
    would otherwise bring deleted rows back).

    :meth:`read` is the one place a read plan touches the manifest;
    :meth:`at` views the same state at another snapshot. Everything
    derived is computed on first use.

    ``as_of`` is a snapshot id or a ref name (None = HEAD). A WAP-STAGED
    snapshot joins the chain at its ``publish`` entry (Iceberg
    cherry-pick ordering), so time travel to snapshots committed between
    stage and publish never sees the staged rows; ``as_of`` may also
    name an UNPUBLISHED staged snapshot — the AUDIT read: the main chain
    as of the stage point plus the staged snapshot itself."""

    def __init__(self, out_dir: str, entries: list[dict],
                 as_of: str | None = None,
                 branch: BranchState | None = None,
                 refs: dict[str, str] | None = None) -> None:
        self.out_dir = out_dir
        self.entries = entries
        self.branch = branch_replay(entries) if branch is None else branch
        self.refs = refs_of(entries) if refs is None else refs
        self.as_of = None if as_of is None else self.refs.get(as_of, as_of)

    @classmethod
    def read(cls, out_dir: str, as_of: str | None = None) -> ReadView:
        """The view over the chunk index plus the manifest tail it does
        not cover (O(chunks)), or over the full manifest when a chunk
        line predates the ``part_rows`` field :func:`part_rows` reads."""
        m = Manifest(out_dir)
        entries = m.read_indexed()
        if any(e.get("kind") == "chunk" and "part_rows" not in e
               for e in entries):
            entries = m.read()
        return cls(out_dir, entries, as_of)

    def at(self, as_of: str | None) -> ReadView:
        """The same manifest state, read at ``as_of``."""
        return ReadView(self.out_dir, self.entries, as_of, self.branch,
                        self.refs)

    @property
    def chain(self) -> list[str]:
        """Full main-branch commit order: a part/delete's Iceberg
        sequence number is its snapshot's index here."""
        return self.branch.chain

    @cached_property
    def accepted(self) -> set[str] | None:
        """Snapshot ids whose data entries this read sees, or None =
        everything in the manifest (only at HEAD with nothing staged,
        aborted or rolled back)."""
        st, as_of = self.branch, self.as_of
        if as_of is None:
            dirty = st.staged_parent or st.aborted or st.has_rollback
            return set(st.visible()) if dirty else None
        state = st.state(as_of)
        if state == "staged":  # audit read
            return set(st.vis_at(st.staged_parent[as_of])) | {as_of}
        if state == "aborted":
            raise ValueError(
                f"snapshot {as_of!r} was a WAP-staged snapshot that was "
                "aborted — its data never joined the table")
        if state is None:
            raise ValueError(f"unknown snapshot id for time travel: {as_of!r}")
        return set(st.vis_at(as_of))

    @cached_property
    def seq_of(self) -> dict[str, int]:
        return {s: i for i, s in enumerate(self.chain)}

    def _visible(self, e: dict) -> bool:
        return self.accepted is None or e.get("snapshot_id") in self.accepted

    @cached_property
    def parts(self) -> dict[str, dict[int, dict]]:
        """``{chunk_dir: {part_id: line}}`` this read sees. ``line`` is
        the chunk index line or manifest part line that committed the
        part: it carries the snapshot id and the zone bounds (``key_lo``
        … ``key_hi_s``) — a chunk line's are aggregated over its parts —
        and :func:`part_rows` reads the part's row count from it.

        Chunk lines and done part lines of accepted snapshots come
        first (the first line naming a (dir, part) wins — a healed and a
        regular summary line may both name it), then accepted rewrites
        in commit order: a compaction moves its replaced dirs' parts
        under ``new_chunk``; a purge retire (``new_chunk=None``) drops
        them, since the purge's own parts carry the rows. Dict order is
        first appearance."""
        view: dict[str, dict[int, dict]] = {}
        rewrites: list[dict] = []
        for e in self.entries:
            if not self._visible(e):
                continue
            kind, cdir = e.get("kind"), e.get("chunk_dir")
            if kind == "chunk" and cdir:
                parts = view.setdefault(cdir, {})
                for p in e.get("parts", ()):
                    parts.setdefault(int(p), e)
            elif (kind == "part" and e.get("status") == "done" and cdir
                    and e.get("part_id") is not None):
                view.setdefault(cdir, {}).setdefault(int(e["part_id"]), e)
            elif kind == "rewrite":
                rewrites.append(e)
        for rw in rewrites:
            moved: dict[int, dict] = {}
            for d in rw.get("replaces", ()):
                moved.update(view.pop(d, {}))
            if moved and rw.get("new_chunk"):
                view.setdefault(rw["new_chunk"], {}).update(moved)
        return view

    def inserted(self, snaps) -> dict[str, set[int]]:
        """Snapshot id -> the non-empty part ids its chunk lines and
        done part lines commit, for each id in ``snaps`` that commits
        any: one pass over the entries, whatever this view's
        ``as_of``."""
        out: dict[str, set[int]] = {}
        for e in self.entries:
            kind = e.get("kind")
            if e.get("snapshot_id") not in snaps or not (
                    kind == "chunk"
                    or kind == "part" and e.get("status") == "done"):
                continue
            for p in e["parts"] if kind == "chunk" else (e["part_id"],):
                if part_rows(e, int(p)) != 0:
                    out.setdefault(e["snapshot_id"], set()).add(int(p))
        return out

    @cached_property
    def deletes(self) -> list[tuple[str, str, int, int]]:
        """(abs delete file, key_col, n_keys, commit_seq) of the
        equality deletes this read applies: those of accepted snapshots
        that no accepted ``delete_clear`` names (a purge materialized
        them; time travel before the purge still applies them). n_keys
        comes from the manifest entry — no file scan. commit_seq is the
        Iceberg sequence number the delete is scoped by: it applies only
        to parts with a smaller one."""
        cleared: set[str] = set()
        for e in self.entries:
            if e.get("kind") == "delete_clear" and self._visible(e):
                cleared.update(e.get("files", ()))
        return [
            (os.path.join(self.out_dir, e["file"]), e["key_col"],
             int(e.get("n", 0)), self.seq_of.get(e.get("snapshot_id"), 0))
            for e in self.entries
            if e.get("kind") == "delete" and self._visible(e)
            and e["file"] not in cleared
        ]

    @cached_property
    def part_seq(self) -> dict[int, int]:
        """Visible part_id -> its committing snapshot's Iceberg sequence
        number. Compaction keeps a part's ORIGINAL seq (rewrites add no
        part entries), so delete applicability never changes across
        storage maintenance; purge re-encodes under fresh part ids at
        the purge snapshot's seq. A WAP-staged snapshot's parts take the
        PUBLISH position; during an AUDIT read they take the seq they
        would receive if published now — the end of the full chain,
        above every visible part and delete, so pre-stage tombstones
        never erase freshly staged rows. (Not len(accepted)-1: after a
        rollback, visible commits can hold chain positions far beyond
        the visible COUNT.)"""
        seq_of = self.seq_of
        if self.as_of in self.branch.staged_parent:
            seq_of = {**seq_of, self.as_of: len(self.chain)}
        return {
            pid: seq_of[e["snapshot_id"]]
            for parts in self.parts.values() for pid, e in parts.items()
            if e.get("snapshot_id") in seq_of
        }

    @cached_property
    def _stored_as(self) -> dict[str, set[str]]:
        """Logical column -> every physical name its blocks were written
        under, over EVERY schema line: a read can need another line's
        chain (a changelog window crossing a rename, a column renamed
        and later dropped). evolve_schema never reuses a name."""
        out: dict[str, set[str]] = {}
        for e in self.entries:
            if e.get("kind") == "schema":
                for logical, names in e.get("phys", {}).items():
                    out.setdefault(logical, set()).update(names)
        return out

    def column_map(self, names) -> dict[str, str]:
        """Physical block-column name -> logical name, for the logical
        ``names`` a read outputs (each also maps to itself)."""
        return {p: n for n in names
                for p in (*self._stored_as.get(n, ()), n)}

    def files(
        self,
        part_ids: list[int] | None = None,
        key_range: tuple | None = None,
    ) -> list[str]:
        """Block parquet files of the visible chunk dirs. A part-id
        filter drops whole chunk dirs before listing; a ``key_range``
        ``(lo, hi)`` drops parts whose MANIFEST-level zone map (the pair
        :func:`zone_columns` picks for the bounds) doesn't overlap — the
        Iceberg-manifest data-skipping layer above the per-block zone
        maps (parts without a recorded zone map are always kept). Off
        the chunk index, key pruning is chunk-granular (a key gap inside
        a kept chunk over-includes), but the per-block zone maps inside
        each file still prune those reads — over-inclusive only, never
        loss. Hidden paths (``_``/``.`` prefixes: Spark ``_temporary``
        task dirs, ``_PARTS`` markers) are excluded as defense-in-depth
        even inside committed dirs."""
        blocks_root = os.path.join(self.out_dir, "blocks")
        wanted = {int(p) for p in part_ids} if part_ids is not None else None

        lo_col, hi_col, lo, hi = (zone_columns(key_range) if key_range
                                  is not None else (None, None, None, None))

        def _kept(pid: int, e: dict) -> bool:
            if wanted is not None and pid not in wanted:
                return False
            # no key range (lo_col None), or no recorded zone map: kept
            return (e.get(lo_col) is None
                    or not (e[hi_col] < lo or e[lo_col] > hi))

        files: list[str] = []
        for d, parts in sorted(self.parts.items()):
            if not any(_kept(p, e) for p, e in parts.items()):
                continue
            full = os.path.join(blocks_root, d)
            if not os.path.isdir(full):
                if self.as_of is not None:
                    # time travel must fail loudly when its snapshot's
                    # files were vacuumed — silence would be row loss
                    raise ValueError(
                        f"time travel to {self.as_of!r} needs chunk dir "
                        f"{d!r}, which was removed (vacuumed/expired)"
                    )
                continue  # chunk pruned by a later resume sweep
            marker = os.path.join(full, "_FILES")
            if os.path.exists(marker):
                # chunk committed by the task-side writer: the marker IS
                # the committed file set (write-unique/commit-by-list),
                # so a zombie task attempt's leftover file can never be
                # read. A listed-but-missing file is corruption — fail
                # loudly, silence would be silent row loss.
                with open(marker) as fh:
                    names = [x.strip() for x in fh.read().splitlines()
                             if x.strip()]
                for f in names:
                    p = os.path.join(full, f)
                    if not os.path.isfile(p):
                        raise ValueError(
                            f"chunk dir {d!r} commit list names {f!r}, "
                            "which is missing on disk (partial vacuum or "
                            "external deletion?)")
                    files.append(p)
                continue
            for root, dirs, fs in os.walk(full):
                dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
                for f in fs:
                    if f.endswith(".parquet") and not f.startswith(("_", ".")):
                        files.append(os.path.join(root, f))
        return sorted(files)


def zone_columns(key_range: tuple) -> tuple[str, str, object, object]:
    """``(lo_col, hi_col, lo, hi)``: the zone-bound pair a key range
    ``(lo, hi)`` compares with, and its bounds cast for it. String
    bounds compare with ``key_lo_s/key_hi_s``; any other bounds are
    cast with ``int`` and compare with ``key_lo/key_hi`` (integer and
    timestamp keys, timestamps as µs). Bounds of two kinds raise a
    ``ValueError``."""
    lo, hi = key_range
    if isinstance(lo, str) != isinstance(hi, str):
        raise ValueError(f"key_range bounds {key_range!r} mix a string "
                         "with a non-string")
    if isinstance(lo, str):
        return "key_lo_s", "key_hi_s", lo, hi
    return "key_lo", "key_hi", int(lo), int(hi)


def part_rows(line: dict, part_id: int) -> int:
    """Row count of ``part_id`` from the :attr:`ReadView.parts` line
    that committed it (0 for a part line marked ``empty``), or -1 when
    the line does not record it."""
    if line.get("kind") == "chunk":
        return int((line.get("part_rows") or {}).get(str(part_id), -1))
    if line.get("empty"):
        return 0
    for c in (line.get("columns") or {}).values():
        if isinstance(c, dict) and c.get("n_values") is not None:
            return int(c["n_values"])
    return -1
