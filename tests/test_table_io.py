"""TableIO seam contract (SURVEY.md §1.2): the properties ANY snapshot
backend (sandbox parquet+JSON, an Iceberg REST catalog in production)
must satisfy for the engine's stable-part-id / resume / append logic to
hold. The REST backend here runs the REAL catalog client
(libgiddy_spark.catalog.RestCatalog) — snapshot resolution and scan
planning execute exactly as against a live server, the transport just
serves catalog state from memory (the old MockCatalog, which bypassed
the client entirely, is retired). The recorded-session tests below
replay checked-in request/response fixtures through the same client.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from libgiddy_spark.catalog import (
    CatalogError,
    IcebergSnapshotSource,
    RestCatalog,
)
from libgiddy_spark.manifest import Manifest, file_registry
from libgiddy_spark.table_io import list_parquet_files, snapshot_id_of

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures",
                        "rest_catalog")


class _CatalogServer:
    """In-memory Iceberg REST catalog serving the spec's JSON shapes.
    Only the transport boundary is simulated — RestCatalog parses and
    walks the responses with its production code."""

    def __init__(self):
        self._files: list[tuple[str, int]] = []
        self._snaps: list[dict] = []

    def commit_append(self, rel: str, size: int) -> None:
        self._files.append((rel, size))
        self._snaps.append({
            "snapshot-id": 1000 + len(self._snaps),
            "summary": {"operation": "append"},
            "files": sorted(self._files),
        })

    def transport(self, method: str, path: str, body):
        if (method, path) == ("GET", "/v1/config"):
            return 200, {"defaults": {"prefix": "p"}}
        if method == "GET" and path.endswith("/tables/t"):
            return 200, {"metadata": {
                "format-version": 2,
                "current-snapshot-id":
                    self._snaps[-1]["snapshot-id"] if self._snaps else -1,
                "snapshots": [
                    {k: s[k] for k in ("snapshot-id", "summary")}
                    for s in self._snaps
                ],
            }}
        if method == "POST" and path.endswith("/plan"):
            sid = body["snapshot-id"]
            snap = next(s for s in self._snaps
                        if s["snapshot-id"] == sid)
            return 200, {"status": "completed", "file-scan-tasks": [
                {"data-file": {"content": "data", "file-path": rel,
                               "file-size-in-bytes": size}}
                for rel, size in snap["files"]
            ]}
        return 404, {}


class RestCatalogBackend:
    """Contract-protocol adapter over the real REST client."""

    def __init__(self):
        self._server = _CatalogServer()
        cat = RestCatalog(self._server.transport)
        self._src = IcebergSnapshotSource(cat, "ns", "t")

    def append(self, rel: str, size: int) -> None:
        self._server.commit_append(rel, size)

    def list_files(self):
        return self._src.list_files()

    def snapshot_id(self) -> str:
        return self._src.snapshot_id()


class ParquetBackend:
    """The sandbox backend, adapted to the same protocol."""

    def __init__(self, root):
        self.root = str(root)
        self._n = 0

    def append(self, rel: str, size_rows: int) -> None:
        pq.write_table(
            pa.table({"x": list(range(size_rows + self._n))}),
            f"{self.root}/{rel}",
        )
        self._n += 1

    def list_files(self):
        return list_parquet_files(self.root)

    def snapshot_id(self) -> str:
        return snapshot_id_of(self.root)


@pytest.fixture(params=["rest", "parquet"])
def backend(request, tmp_path):
    if request.param == "rest":
        return RestCatalogBackend()
    return ParquetBackend(tmp_path)


def _grow(backend, rel: str) -> None:
    if isinstance(backend, RestCatalogBackend):
        backend.append(rel, 100 + len(rel))
    else:
        backend.append(rel, 50)


def test_snapshot_id_deterministic_and_append_sensitive(backend):
    _grow(backend, "a.parquet")
    _grow(backend, "b.parquet")
    s1 = backend.snapshot_id()
    assert s1 == backend.snapshot_id()  # deterministic
    _grow(backend, "c.parquet")
    assert backend.snapshot_id() != s1  # append -> new snapshot


def test_listing_is_sorted_and_identity_stable(backend):
    _grow(backend, "b.parquet")
    _grow(backend, "a.parquet")
    files = backend.list_files()
    assert files == sorted(files)
    ids_before = {f"{p}:{s}" for p, s in files}
    _grow(backend, "c.parquet")
    ids_after = {f"{p}:{s}" for p, s in backend.list_files()}
    assert ids_before <= ids_after  # old identities unchanged by append


def test_registry_part_ids_stable_across_snapshots(backend, tmp_path):
    """The engine invariant the seam exists for: a file keeps its
    part_id across snapshot appends (incremental re-encode of only the
    new files), and new files get fresh monotonic ids."""
    man = Manifest(str(tmp_path / "m"))
    _grow(backend, "a.parquet")
    _grow(backend, "b.parquet")

    def register(listing):
        reg = file_registry(man.read())
        nxt = max(reg.values(), default=-1) + 1
        new = []
        for rel, size in listing:
            fid = f"{rel}:{size}"
            if fid not in reg:
                reg[fid] = nxt
                new.append((fid, nxt, rel))
                nxt += 1
        if new:
            man.register_files(new)
        return {fid: pid for fid, pid in reg.items()}

    r1 = register(backend.list_files())
    _grow(backend, "c.parquet")
    r2 = register(backend.list_files())
    assert all(r2[fid] == pid for fid, pid in r1.items())  # stable
    assert len(r2) == len(r1) + 1
    assert max(r2.values()) == len(r2) - 1  # monotonic, dense


# --- recorded REST-catalog session (checked-in fixtures) -----------------


class RecordedTransport:
    """Replays tests/fixtures/rest_catalog/session.json: requests must
    match a recorded exchange (method+path, and body subset when the
    recording carries one); responses are returned verbatim with
    {DATA_DIR} substituted and data-file sizes fixed up to the real
    staged files."""

    def __init__(self, data_dir: str):
        with open(os.path.join(FIXTURES, "session.json")) as f:
            raw = f.read().replace("{DATA_DIR}", data_dir)
        self.exchanges = json.loads(raw)["exchanges"]
        self.calls: list[tuple[str, str]] = []

    def __call__(self, method: str, path: str, body):
        self.calls.append((method, path))
        for e in self.exchanges:
            if e["method"] != method or e["path"] != path:
                continue
            want = e.get("body")
            if want is not None and any(
                    body is None or body.get(k) != v
                    for k, v in want.items()):
                continue
            resp = json.loads(json.dumps(e["response"]))
            for t in resp.get("file-scan-tasks", ()):
                fp = t["data-file"]["file-path"]
                if os.path.exists(fp):
                    t["data-file"]["file-size-in-bytes"] = \
                        os.path.getsize(fp)
            return e["status"], resp
        raise AssertionError(
            f"unrecorded request: {method} {path} {body}")


@pytest.fixture()
def recorded_catalog(tmp_path, spark):
    data_dir = str(tmp_path / "warehouse")
    os.makedirs(os.path.join(data_dir, "data"))
    docs = spark.range(200).selectExpr(
        "id AS doc_id", "concat('text-', id) AS text")
    for name, lo, hi in (("part-a.parquet", 0, 120),
                         ("part-b.parquet", 120, 200)):
        tbl = docs.filter(
            (docs.doc_id >= lo) & (docs.doc_id < hi)).toArrow()
        pq.write_table(tbl, os.path.join(data_dir, "data", name))
    transport = RecordedTransport(data_dir)
    return RestCatalog(transport), transport, data_dir, docs


def test_recorded_session_snapshot_resolution(recorded_catalog):
    cat, transport, data_dir, _docs = recorded_catalog
    snap = cat.current_snapshot("web", "pages")
    assert snap["snapshot-id"] == 3002
    assert snap["parent-snapshot-id"] == 3001
    old = cat.current_snapshot("web", "pages", snapshot_id=3001)
    assert old["snapshot-id"] == 3001
    with pytest.raises(CatalogError, match="not in"):
        cat.current_snapshot("web", "pages", snapshot_id=999)
    # config-driven prefix reached the URL space
    assert ("GET", "/v1/config") in transport.calls
    assert any(p.startswith("/v1/demo/") for _m, p in transport.calls)


def test_recorded_session_plan_walk(recorded_catalog):
    """Async submitted->fetch plan flow + plan-tasks pagination +
    delete-content filtering, all through the production client."""
    cat, transport, data_dir, _docs = recorded_catalog
    files = cat.plan_files("web", "pages")
    assert [os.path.basename(p) for p, _s in files] == \
        ["part-a.parquet", "part-b.parquet"]
    assert all(s > 0 for _p, s in files)  # real sizes from staged files
    assert ("GET",
            "/v1/demo/namespaces/web/tables/pages/plan/plan-7f2e") \
        in transport.calls
    assert ("POST", "/v1/demo/namespaces/web/tables/pages/tasks") \
        in transport.calls
    # time travel plans the OLD snapshot's single file
    old = cat.plan_files("web", "pages", snapshot_id=3001)
    assert [os.path.basename(p) for p, _s in old] == ["part-a.parquet"]


def test_recorded_session_encode_end_to_end(recorded_catalog, tmp_path):
    """The engine consumes a catalog-resolved listing exactly like a
    directory listing: encode the Iceberg table's files, decode, and
    the rows are bit-identical to the source."""
    import pyarrow as pa

    from libgiddy_spark.engine import (
        decode_blocks,
        encode_files,
        verify_roundtrip,
    )

    cat, _transport, data_dir, docs = recorded_catalog
    spark = docs.sparkSession
    src = IcebergSnapshotSource(cat, "web", "pages")
    out = str(tmp_path / "enc")
    res = encode_files(spark, data_dir, src.list_files(), out, "doc_id")
    assert res["num_parts"] == 2
    schema = pa.schema([pa.field("doc_id", pa.int64()),
                        pa.field("text", pa.string())])
    dec = decode_blocks(spark, out, schema)
    assert verify_roundtrip(docs, dec, "doc_id")["ok"]
