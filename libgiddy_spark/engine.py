"""Encode / decode / verify job orchestration (SURVEY.md §3.2).

Encode lifecycle::

    register files -> resume filter (manifest)           [driver, metadata]
    -> per-chunk: footer byte stats -> salt fan-out      [driver, footers]
    -> (part_id, salt) tasks over row-group slices       [driver, footers]
    -> mapInArrow(plan codecs per part, read slice,      [executors, no shuffle]
                  Arrow sort, encode, write)
    -> task metadata -> _FILES list + atomic rename      [driver commit]
    -> manifest lines per partition                      [driver commit point]

Decode is shuffle-free too: each task streams a run of block files,
whole (part_id, salt) groups at a time, through the kernels (see
decode_blocks). Encode, decode and compaction jobs each run one wave
of at most ``defaultParallelism`` tasks (_one_wave: MapInArrow, Range).

Everything driver-side touches only metadata (file registry, byte
stats, manifest lines) — no row data is ever collected.
"""

from __future__ import annotations

import bisect
import os
import shutil
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .blocks import (
    BLOCKS_DDL,
    TASK_META_DDL,
    ddl_of,
    decode_group,
    make_direct_encoder,
    make_task_writer,
    merge_part_meta,
    output_type,
)
from .manifest import (
    Manifest,
    ReadView,
    done_parts,
    file_registry,
    list_refs,
    zone_columns,
)
from .skew import footer_byte_stats, salt_factors
from .table_io import abs_file_of, list_parquet_files, snapshot_id_of


# Encode task-slicing constants (see encode_files), sized by measured
# per-task overhead vs kernel throughput — NOT cluster-size dependent
# (a slice worth <30 ms of encode is pure overhead on any cluster, and
# row-range re-decode amplification costs the same bytes everywhere).
_SLICE_FLOOR = 4 << 20
_RG_AMP_CAP = 8


def _balanced_bounds(sizes: list[int], k: int) -> list[tuple[int, int]]:
    """Split indices 0..len(sizes) into <=k contiguous [lo, hi) runs of
    roughly equal total size (greedy by the running target). Used to
    map salt slices onto parquet row groups driver-side."""
    n = len(sizes)
    k = max(1, min(k, n))
    total = max(sum(sizes), 1)
    target = total / k
    bounds: list[tuple[int, int]] = []
    start, acc = 0, 0
    for i, sz in enumerate(sizes):
        acc += sz
        remaining = k - len(bounds) - 1
        # cut when the slice reached its share — or when the elements
        # left are exactly enough to give every remaining slice one
        # (otherwise a slightly-late first cut starves all later cuts)
        if remaining > 0 and (acc >= target or (n - i - 1) == remaining):
            bounds.append((start, i + 1))
            start, acc = i + 1, 0
    bounds.append((start, n))
    return bounds


def _one_wave(spark: SparkSession, rows: list[tuple], weights: list[int],
              schema: pa.Schema, fn, ddl: str) -> DataFrame:
    """``fn`` over ``rows`` in one wave of at most ``defaultParallelism``
    tasks, each streaming one contiguous run of roughly equal total
    weight (_balanced_bounds) as one ``schema``-typed record batch. Every
    further wave cost about 0.27 s of task launch (no-op ``mapInArrow``
    jobs, ``local[2]`` on a 4-core host), more than a small table's
    encode or decode. The runs ride in the task closure and each
    ``spark.range`` id picks one: the plan is ``MapInArrow`` over
    ``Range``, no Exchange, one Python worker per task."""
    bounds = _balanced_bounds(weights, spark.sparkContext.defaultParallelism)
    runs = [pa.RecordBatch.from_pylist(
        [dict(zip(schema.names, r)) for r in rows[lo:hi]], schema=schema)
        for lo, hi in bounds]

    def task(ids):
        for b in ids:
            for i in b.column(0).to_pylist():
                yield from fn(iter([runs[i]]))

    return spark.range(len(runs), numPartitions=len(runs)).mapInArrow(
        task, ddl)


def encode_snapshot(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    key_col: str,
    **kw,
) -> dict:
    """Resumable chunked encode of every data file under the snapshot;
    partition = source data file. See :func:`encode_files`."""
    return encode_files(
        spark, source_path, list_parquet_files(source_path), out_dir, key_col, **kw
    )


def encode_files(
    spark: SparkSession,
    source_path: str,
    files: list[tuple[str, int]],
    out_dir: str,
    key_col: str,
    chunk_parts: int = 64,
    fat_columns: tuple[str, ...] = ("html", "text"),
    forced_codecs: dict[str, str] | None = None,
    sort_key: str | None = None,
    target_salt_bytes: int = 128 << 20,
    block_rows: int = 65536,
    columns: list[str] | None = None,
    min_slices: int | None = None,
    commit_status: str = "done",
    wap_staged: bool = False,
) -> dict:
    """Resumable chunked encode of the given (relpath, bytes) data
    files; partition = source data file, with STABLE part ids from the
    manifest's file registry — already-committed files are skipped, so
    the same call is a resume, an incremental snapshot append, or a
    streaming micro-batch step, depending only on what's in ``files``.

    Returns a summary dict; under ``commit_status="staged"`` its
    ``staged`` list holds the part lines written, for
    :meth:`~.manifest.Manifest.commit_staged` to promote.
    ``min_slices`` guarantees a minimum salt fan-out per chunk so even
    a single giant file parallelizes across the cluster (skew.py sizes
    the fan-out).

    One out_dir = one (table, column subset): done-ness is per FILE,
    so resuming the same out_dir with a different ``columns`` selection
    would skip files encoded under the old selection — use a fresh
    out_dir per selection.

    No source row is shuffled. The unit of work is a (part, salt)
    slice: a contiguous run of parquet ROW GROUPS sliced driver-side
    from footers (the same zero-scan metadata that sizes the fan-out).
    One wave of at most ``defaultParallelism`` Spark tasks each takes a
    byte-balanced run of slices, plans the codecs of each part it meets
    (plan_one_file), reads every slice's row groups with pyarrow, sorts
    in Arrow, encodes, writes its own block file and returns only
    metadata. The task list travels in the kernel's closure — the decode
    pattern mirrored onto encode, so at 100 TB the table is never
    rewritten through shuffle storage. A file's split granularity is
    its row-group count; a file with fewer row groups than its fan-out
    falls back to row-range slices of the covering row groups (bounded
    read amplification, see _RG_AMP_CAP).
    """
    t_start = time.time()
    snapshot_id = snapshot_id_of(source_path)
    if not files:
        return {"snapshot_id": snapshot_id, "num_parts": 0,
                "skipped_done": 0, "encoded_parts": 0, "secs": 0.0,
                "staged": []}
    num_parts = len(files)
    import pyarrow.parquet as pq

    from .schema_evo import ensure_schema_baseline

    schema = pq.read_schema(abs_file_of(source_path, files[0][0]))
    data_cols = list(columns or schema.names)
    sort_key = sort_key or key_col
    # zone maps, blooms and block ordering all derive from the sort
    # key: fail loudly rather than encode unsorted, zone-less blocks —
    # before anything is written or swept
    if sort_key not in data_cols:
        raise ValueError(
            f"encode: sort key {sort_key!r} must be in the encoded "
            f"columns {data_cols!r} (zone maps, blooms and block "
            "ordering derive from it)"
        )
    # ONE manifest read plans the whole commit: attempt id, rollback
    # guard, header, schema baseline, file registry and done parts
    manifest = Manifest(out_dir)
    entries = manifest.read()
    view = ReadView(out_dir, entries)
    st = view.branch
    if wap_staged:
        # a staged ATTEMPT gets its own snapshot id (content id + -wapK):
        # the same source may be re-staged (or plainly re-encoded) after
        # an aborted audit, and those are distinct snapshots — reusing
        # the content id would attach the retry's parts to the aborted
        # header, hiding them at HEAD forever. An open (staged,
        # unpublished, unaborted) attempt is resumed, Iceberg-style.
        closed = st.header.keys() - st.staged_parent.keys()
        k = 0
        while f"{snapshot_id}-wap{k}" in closed:
            k += 1
        snapshot_id = f"{snapshot_id}-wap{k}"
    elif snapshot_id in st.parent and snapshot_id not in st.visible():
        # re-encoding a source whose content snapshot was ROLLED BACK
        # would resume its done parts under the hidden header — data
        # invisible at HEAD forever. Roll forward instead (one line,
        # no re-encode).
        raise ValueError(
            f"snapshot {snapshot_id!r} for this source exists "
            "but was undone by a rollback — use "
            f"rollback({out_dir!r}, {snapshot_id!r}) to roll "
            "forward to it instead of re-encoding")
    # record/extend the TABLE SCHEMA registry (schema_evo) BEFORE the
    # header, so this snapshot reads under the schema it was written
    # with; a grown source's new columns register as add-column
    # evolution. Skipped columns (projection encode) stay unregistered.
    ensure_schema_baseline(view, schema if columns is None else pa.schema(
        [schema.field(c) for c in schema.names if c in set(columns)]))
    if snapshot_id not in st.header:  # a resume keeps its header
        manifest.write_snapshot_header(
            snapshot_id, source_path, num_parts, staged=wap_staged)
    # part_id = STABLE file identity from the manifest's file registry
    # (first-seen order, monotonic). A snapshot that grew by N files
    # therefore re-encodes ONLY those files — incremental append for
    # free, exactly how Iceberg data files accrue across snapshots.
    registry = file_registry(entries)
    next_pid = max(registry.values(), default=-1) + 1
    newly_seen: list[tuple[str, int, str]] = []
    rel_of: dict[int, str] = {}
    for rel, size in files:
        fid = f"{rel}:{size}"
        if fid not in registry:
            registry[fid] = next_pid
            newly_seen.append((fid, next_pid, rel))
            next_pid += 1
        rel_of[registry[fid]] = rel
    if newly_seen:
        manifest.register_files(newly_seen)
    blocks_root = os.path.join(out_dir, "blocks")
    os.makedirs(blocks_root, exist_ok=True)
    done = done_parts(entries, st)
    pending = sorted(p for p in rel_of if p not in done)
    # resume sweep: drop uncommitted temp dirs AND any renamed chunk dir
    # (its _PARTS marker lists its parts) holding a part this call
    # encodes: a crashed earlier attempt. Other dirs may be staged by a
    # txn in flight (a copy-on-write upsert stages two encodes); vacuum
    # expires crashed staged dirs, remove_orphan_files the rest.
    redo = set(pending)
    for d in os.listdir(blocks_root):
        full = os.path.join(blocks_root, d)
        if d.startswith("_tmp_"):
            shutil.rmtree(full, ignore_errors=True)
            continue
        marker = os.path.join(full, "_PARTS")
        if os.path.isdir(full) and os.path.exists(marker):
            with open(marker) as f:
                parts_in_dir = [int(x) for x in f.read().split() if x]
            if redo.intersection(parts_in_dir):
                shutil.rmtree(full, ignore_errors=True)
    min_slices = min_slices or spark.sparkContext.defaultParallelism
    encoded_parts = 0
    staged: list[dict] = []

    for lo in range(0, len(pending), chunk_parts):
        chunk = pending[lo : lo + chunk_parts]
        # salt fan-out from parquet footers: zero scans, zero Spark jobs
        stats = footer_byte_stats(
            source_path, [(p, rel_of[p]) for p in chunk], list(fat_columns))
        total_b = max(sum(stats.values()), 1)
        # slice floor: a tiny table must not be confettied into
        # min_slices near-empty tasks — per-task overhead (worker
        # roundtrip, parquet open, output commit: ~10-150 ms) would
        # dwarf its encode (a 4 MB slice encodes in ~30 ms, so slices
        # below that are >50% overhead; measured on the sf0.1 events
        # table, 32 near-empty tasks cost ~0.5 s of pure task churn).
        # Explicitly smaller target_salt_bytes still wins (the min),
        # so tests that force fine slicing keep it.
        eff_target = min(
            target_salt_bytes, max(total_b // min_slices, _SLICE_FLOOR)
        )
        factors = salt_factors(stats, target_bytes=eff_target)
        fanout: dict[int, int] = {}  # actual per-part task count
        # a salt slice = a contiguous run of row groups, balanced by
        # footer byte sizes (driver-side metadata only); one task
        # reads+sorts+encodes its slice. Files with FEWER row groups
        # than their wanted fan-out (e.g. one giant row group) fall
        # back to ROW-RANGE slices: each task reads the row groups
        # covering its row span and slices locally — bounded read
        # amplification instead of a skew-bound single task.
        tasks: list[tuple[int, int, int, int, int, int, str]] = []
        weights: list[int] = []  # each task's footer bytes
        for p in chunk:
            path = abs_file_of(source_path, rel_of[p])
            md = pq.ParquetFile(path).metadata
            nrg = md.num_row_groups
            if nrg == 0:
                continue
            want = max(1, int(factors.get(int(p), 1)))
            if nrg < want <= 2 * nrg:
                # snap to whole row groups: a row-range slice must
                # DECODE every covering row group and keep only its
                # span, so fanning a 2-row-group file into 3 slices
                # reads ~1.5x the bytes for no extra parallelism worth
                # the amplification — at <=2x the rg count, one task
                # per row group is strictly cheaper
                want = nrg
            sizes = [md.row_group(i).total_byte_size for i in range(nrg)]
            if nrg >= want:
                for s, (alo, ahi) in enumerate(_balanced_bounds(sizes, want)):
                    tasks.append((int(p), s, alo, ahi, -1, -1, path))
                    weights.append(sum(sizes[alo:ahi]))
                continue
            # row-range fallback: every slice re-decodes its covering
            # row group, so fan-out here multiplies the READ work by
            # ~want/nrg. Cap the amplification — beyond it the
            # redundant decode outweighs the extra encode parallelism
            # (measured encode/read cost ratio is ~2-4x on the bench
            # tables). A truly monstrous single-row-group file still
            # gets _RG_AMP_CAP-way parallelism; writers should emit
            # many row groups (Iceberg defaults do). A size-growing
            # cap (16 slices on a 470 MB single-rg file) was measured:
            # it doubles DECODE throughput (more block files = more
            # decode tasks) but halves encode throughput (amp), net
            # worse end-to-end — rejected.
            want = min(want, max(_RG_AMP_CAP, 2 * nrg))
            offs = [0]
            for i in range(nrg):
                offs.append(offs[-1] + md.row_group(i).num_rows)
            total_rows = offs[-1]
            want = min(want, max(total_rows, 1))
            for s in range(want):
                rlo = s * total_rows // want
                rhi = (s + 1) * total_rows // want
                if rlo >= rhi:
                    continue
                glo = bisect.bisect_right(offs, rlo) - 1
                ghi = bisect.bisect_left(offs, rhi)
                if offs[ghi] < rhi:
                    ghi += 1
                tasks.append((int(p), s, glo, ghi,
                              rlo - offs[glo], rhi - offs[glo], path))
                weights.append(sum(sizes) * (rhi - rlo) // total_rows)
        for t in tasks:
            fanout[t[0]] = fanout.get(t[0], 0) + 1
        tmp = os.path.join(blocks_root, f"_tmp_{chunk[0]}_{chunk[-1]}")
        final = os.path.join(blocks_root, f"chunk-{chunk[0]:05d}-{chunk[-1]:05d}")
        if os.path.exists(final):  # crashed between rename and manifest append
            shutil.rmtree(final)
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        meta_rows: list[dict] = []
        if tasks:  # every file empty -> no tasks, only empty parts
            # each task plans the codecs of every part it encodes (see
            # make_direct_encoder): no driver-side or separate plan job
            direct_fn = make_direct_encoder(
                data_cols, sort_key=sort_key,
                forced_codecs=forced_codecs, block_rows=block_rows,
            )
            # one wave of tasks, each streaming a contiguous,
            # byte-balanced run of (part, salt) slices: per-task
            # overhead (worker start-up, Arrow init, output file commit)
            # is paid per task, not per slice, and a part is planned by
            # at most the tasks its run spans. Each TASK writes its own
            # block parquet file with pyarrow and returns only
            # per-(part, column) metadata rows: the encoded payloads
            # never cross the Arrow->JVM boundary and no JVM parquet
            # writer runs (guide §4.1 — pass only the bytes needed).
            meta_rows = [r.asDict() for r in _one_wave(
                spark, tasks, weights, pa.schema(
                    [(c, pa.int32()) for c in ("part_id", "salt", "rg_lo",
                                               "rg_hi")]
                    + [(c, pa.int64()) for c in ("row_lo", "row_hi")]
                    + [("path", pa.string())]),
                make_task_writer(direct_fn, tmp), TASK_META_DDL).collect()]
        # Commit protocol: attempt-unique file names, the driver keeps
        # exactly the returned file set (stray failed-attempt files are
        # removed here), records it in a _FILES marker that decode
        # trusts, then atomically renames the chunk dir — the same
        # write-unique/commit-by-list pattern as Spark's own output
        # protocol, with the manifest line as the commit point.
        committed = {r["file"] for r in meta_rows}
        for f in os.listdir(tmp):
            if f.endswith(".parquet") and f not in committed:
                os.remove(os.path.join(tmp, f))
        with open(os.path.join(tmp, "_FILES"), "w") as f:
            f.write("\n".join(sorted(committed)))
        with open(os.path.join(tmp, "_PARTS"), "w") as f:
            f.write(" ".join(str(int(p)) for p in chunk))
        os.rename(tmp, final)  # atomic commit of the chunk's data
        mdf = merge_part_meta(meta_rows)
        per_part: dict[int, dict] = {
            int(p): {
                "part_id": int(p),
                "chunk_dir": os.path.basename(final),
                "salts": int(fanout.get(int(p))
                             or factors.get(int(p), 1)),
                "input_bytes_est": int(stats.get(int(p), 0)),
                "columns": {},
            }
            for p in chunk
        }
        for (pid, col), r in sorted(mdf.items()):
            e = per_part[pid]
            if col == sort_key:
                # part-level zone map in the manifest: lets a key-range
                # decode prune whole PARTS/chunk dirs driver-side, before
                # any file listing or footer read (the Iceberg-manifest
                # data-skipping pattern). Every column's blocks carry the
                # sort key's bounds, so its aggregate is the part's. Set
                # only when every block of the part is zoned; one
                # unzoned block poisons the whole part (over-inclusion,
                # never silent loss), for the int and string pairs alike.
                for lo, hi, unzoned in (("key_lo", "key_hi", "n_unzoned"),
                                        ("key_lo_s", "key_hi_s",
                                         "n_unzoned_s")):
                    e[lo], e[hi] = ((None, None) if r[unzoned]
                                    else (r[lo], r[hi]))
            e["columns"][col] = {
                k: r[k] for k in ("codec", "n_values", "raw_bytes",
                                  "enc_bytes", "n_blocks", "codec_params")
            }
        entries = [e for e in per_part.values() if e["columns"]]
        # empty parts inherit commit_status too: a hard-coded "done"
        # would leak a staged purge's empty part live before its txn
        empty = [
            {**per_part[p], "status": commit_status, "empty": True}
            for p in per_part
            if not per_part[p]["columns"]
        ]
        manifest.mark_done(snapshot_id, entries + empty,
                           status=commit_status)
        if commit_status == "staged":
            staged += entries + empty
        encoded_parts += len(chunk)
    return {
        "snapshot_id": snapshot_id,
        "num_parts": num_parts,
        "skipped_done": len(done & set(rel_of)),
        "encoded_parts": encoded_parts,
        "secs": round(time.time() - t_start, 3),
        "staged": staged,
    }


def blocks_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """LIVE block rows at HEAD, manifest-driven: after a compaction the
    replaced dirs still exist on disk (for time travel, until vacuum),
    so a raw recursive directory read would double-count rows."""
    files = _committed_block_files(out_dir)
    if not files:
        # No committed chunks at HEAD (crashed first encode, or a fully
        # retired table awaiting vacuum). A directory fallback here
        # would surface staged/retired files, contradicting the LIVE
        # contract — the honest answer is the empty block frame.
        return spark.createDataFrame([], BLOCKS_DDL)
    return spark.read.option("mergeSchema", "true").parquet(*files)


def compact_blocks(
    spark: SparkSession,
    out_dir: str,
    target_file_bytes: int = 256 << 20,
    min_dirs: int = 2,
) -> dict:
    """Iceberg-style small-file COMPACTION (rewrite_data_files): bin-pack
    whole small chunk dirs into consolidated block files, commit a
    manifest ``rewrite`` entry, leave the old dirs on disk for time
    travel until :func:`vacuum_blocks`.

    Streaming ingestion naturally produces one chunk dir per micro-batch
    — thousands of KB-sized files at 100 TB — and decode task count /
    listing cost follow file count, so compaction is the operational
    twin of the streaming encode path. Row order inside every source
    file is preserved and files are concatenated whole, so the
    (part_id, salt) group-contiguity invariant the shuffle-free decoder
    relies on survives (two chunks never share a part id: parts are
    committed by exactly one chunk). One wave of Spark tasks, each
    streaming a byte-balanced run of output bins, copies the source
    files through a parquet writer — same uncompressed, dictionary-off
    layout as the encode sink."""
    blocks_root = os.path.join(out_dir, "blocks")
    m = Manifest(out_dir)
    view = ReadView.read(out_dir)
    # HEAD = the current main-branch snapshot: the rewrite entry must
    # commit under a snapshot id HEAD readers accept — never an
    # unpublished WAP-staged header, nor a rolled-back commit
    head_snapshot = view.branch.current
    if head_snapshot is None:
        return {"bins": 0, "files_before": 0, "files_after": 0}
    live = view.files()
    by_dir: dict[str, list[str]] = {}
    for f in live:
        rel = os.path.relpath(f, blocks_root)
        by_dir.setdefault(rel.split(os.sep)[0], []).append(f)
    sizes = {
        d: sum(os.path.getsize(f) for f in fs) for d, fs in by_dir.items()
    }
    small = sorted(d for d, sz in sizes.items() if sz < target_file_bytes)
    # greedy bin-pack consecutive small dirs up to the target size
    bins: list[list[str]] = []
    cur: list[str] = []
    acc = 0
    for d in small:
        if cur and acc + sizes[d] > target_file_bytes:
            bins.append(cur)
            cur, acc = [], 0
        cur.append(d)
        acc += sizes[d]
    if cur:
        bins.append(cur)
    bins = [b for b in bins if len(b) >= min_dirs]
    if not bins:
        return {"bins": 0, "files_before": len(live),
                "files_after": len(live)}
    seq = sum(1 for e in view.entries if e.get("kind") == "rewrite")
    plan_rows: list[tuple[str, list[str]]] = []
    bin_meta: list[tuple[str, str, list[str]]] = []  # (new_dir, tmp, dirs)
    for i, bin_dirs in enumerate(bins):
        new_dir = f"compact-{seq + i:05d}"
        tmp = os.path.join(blocks_root, f"_tmp_{new_dir}")
        shutil.rmtree(tmp, ignore_errors=True)
        src_files = [f for d in bin_dirs for f in sorted(by_dir[d])]
        plan_rows.append((os.path.join(tmp, "bin-0.parquet"), src_files))
        bin_meta.append((new_dir, tmp, bin_dirs))

    def copy_bin(batches):
        import pyarrow.parquet as pq

        for batch in batches:
            for row in batch.to_pylist():
                os.makedirs(os.path.dirname(row["dest"]), exist_ok=True)
                # union schema across files (pre/post zone-map
                # upgrades may differ); absent columns null-fill
                schemas = [pq.read_schema(s) for s in row["srcs"]]
                names: list[str] = []
                fields = {}
                for sch in schemas:
                    for fld in sch:
                        if fld.name not in fields:
                            fields[fld.name] = fld
                            names.append(fld.name)
                union = pa.schema([fields[n] for n in names])
                with pq.ParquetWriter(
                    row["dest"], union, compression="none",
                    use_dictionary=False,
                ) as w:
                    for s in row["srcs"]:
                        pf = pq.ParquetFile(s)
                        for rg in range(pf.metadata.num_row_groups):
                            t = pf.read_row_group(rg, use_threads=False)
                            cols = []
                            for n in names:
                                if n in t.column_names:
                                    cols.append(t.column(n))
                                else:
                                    cols.append(
                                        pa.nulls(t.num_rows,
                                                 fields[n].type)
                                    )
                            # one output row group per source row group
                            # keeps the streaming decoder's bounded
                            # peak-memory property on compacted files
                            w.write_table(
                                pa.table(cols, schema=union),
                                row_group_size=1 << 30,
                            )
                yield pa.RecordBatch.from_pydict(
                    {"dest": pa.array([row["dest"]]),
                     "n_src": pa.array([len(row["srcs"])],
                                       pa.int64())}
                )

    _one_wave(
        spark, plan_rows, [sum(sizes[d] for d in b) for b in bins],
        pa.schema([("dest", pa.string()), ("srcs", pa.list_(pa.string()))]),
        copy_bin, "dest string, n_src long",
    ).collect()
    results = []
    for new_dir, tmp, bin_dirs in bin_meta:
        final = os.path.join(blocks_root, new_dir)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)  # atomic physical commit
        m.append_rewrite(head_snapshot, new_dir, bin_dirs)  # logical commit
        results.append({"new_chunk": new_dir, "replaced": bin_dirs})
    return {
        "bins": len(bins),
        "files_before": len(live),
        "files_after": len(_committed_block_files(out_dir)),
        "rewrites": results,
    }


def vacuum_blocks(
    out_dir: str,
    retain_last: int = 1,
    older_than: float | None = None,
) -> dict:
    """Physically remove chunk dirs no longer LIVE at HEAD (replaced by
    compaction rewrites) — Iceberg's expire-snapshots/delete-orphans
    step. After vacuum, time travel to snapshots that needed the removed
    dirs raises a clear error instead of silently losing rows. Assumes
    the engine's single-writer model (no encode in flight).

    Retention (Iceberg ``expire_snapshots`` analogue): a snapshot is
    RETAINED — its files survive vacuum, time travel to it keeps
    working — if it is within the newest ``retain_last`` snapshot
    headers (default 1 = HEAD only, the historical behaviour), OR its
    commit timestamp is >= ``older_than`` (i.e. only snapshots strictly
    older than the cutoff expire), OR a named ref points at it. The two
    knobs compose as a union, matching Iceberg's
    ``retain_last``/``older_than``."""
    blocks_root = os.path.join(out_dir, "blocks")
    if not os.path.isdir(blocks_root):
        return {"removed": [], "expired_staged": []}
    removed = []
    m = Manifest(out_dir)
    entries = m.read()
    head = ReadView(out_dir, entries)
    live_dirs = {os.path.relpath(f, blocks_root).split(os.sep)[0]
                 for f in head.files()}
    # RETAINED snapshots pin their files exactly like named refs
    # (Iceberg branch retention): dirs and delete files a retained
    # snapshot still needs survive vacuum; age out of the retention
    # window (or drop the ref) to expire them on the next vacuum.
    bstate = head.branch
    chain = bstate.chain
    # retention window counts MAIN-BRANCH snapshots (publish order);
    # unpublished WAP-staged snapshots are pinned unconditionally —
    # they are awaiting audit, not aging out. Aborted ones are swept.
    # After a rollback the CURRENT snapshot may sit outside the
    # newest-N window — it is always retained (Iceberg never expires
    # the current snapshot).
    retained = set(chain[-max(1, int(retain_last)):])
    if bstate.current is not None:
        retained.add(bstate.current)
    if older_than is not None:
        retained |= {sid for sid in chain
                     if bstate.header[sid].get("ts", 0.0) >= older_than}
    retained |= set(head.refs.values())
    retained |= set(bstate.staged_parent)  # open WAP snapshots
    pinned_dirs: set[str] = set()
    pinned_deletes: set[str] = set()
    for sid in sorted(retained):
        try:
            pinned = head.at(sid)
            pinned_dirs |= set(pinned.parts)
            pinned_deletes |= {os.path.relpath(f, out_dir)
                               for f, _k, _n, _s in pinned.deletes}
        except ValueError:
            continue  # e.g. a ref left pointing at an aborted WAP snap
    replaced: set[str] = set()
    for e in entries:
        if e.get("kind") == "rewrite":
            replaced.update(e.get("replaces", ()))
    for d in sorted(replaced):
        if d in live_dirs or d in pinned_dirs:
            continue  # still live at HEAD, or pinned by a ref
        full = os.path.join(blocks_root, d)
        if os.path.isdir(full):
            shutil.rmtree(full)
            removed.append(d)
    # delete files already MATERIALIZED by a purge serve only time
    # travel — expire them with the dirs, same Iceberg-expire contract
    cleared: set[str] = set()
    for e in entries:
        if e.get("kind") == "delete_clear":
            cleared.update(e.get("files", ()))
    for rel in sorted(cleared - pinned_deletes):
        full = os.path.join(out_dir, rel)
        if os.path.isfile(full):
            os.remove(full)
            removed.append(rel)
        elif os.path.isdir(full):
            # upsert tombstones are written distributed (a parquet
            # DIRECTORY) — expire them the same way
            shutil.rmtree(full)
            removed.append(rel)
    # a full rewrite and an upsert remove their staging copy after
    # their txn; one that crashed first leaves it behind
    for name in ("_purge_src", "_upsert_src"):
        if os.path.isdir(os.path.join(out_dir, name)):
            shutil.rmtree(os.path.join(out_dir, name))
            removed.append(name)
    # Orphaned STAGED entries (a purge that crashed between its staged
    # encode and its txn, then was retried under a new snapshot id):
    # sweep any leftover staged chunk dirs and mark the snapshot ids
    # expired in ONE line, so the dead staged lines are declared — not
    # re-examined — by every later maintenance pass.
    promoted = {e.get("snapshot_id") for e in entries
                if e.get("kind") == "part" and e.get("status") == "done"}
    expired: set[str] = set()
    for e in entries:
        if e.get("kind") == "staged_expire":
            expired.update(e.get("snapshot_ids", ()))
    orphans: dict[str, set[str]] = {}
    for e in entries:
        if (e.get("kind") == "part" and e.get("status") == "staged"
                and e.get("snapshot_id") not in promoted
                and e.get("snapshot_id") not in expired):
            dirs = orphans.setdefault(e["snapshot_id"], set())
            if e.get("chunk_dir"):
                dirs.add(e["chunk_dir"])
    for _sid, dirs in sorted(orphans.items()):
        for d in sorted(dirs):
            full = os.path.join(blocks_root, d)
            if d not in live_dirs and os.path.isdir(full):
                shutil.rmtree(full)
                removed.append(d)
    # ABORTED WAP snapshots: their data never joined the main branch
    # and never will — sweep their chunk dirs (idempotent: a second
    # vacuum finds them already gone)
    if bstate.aborted:
        for e in entries:
            if (e.get("kind") in ("part", "chunk")
                    and e.get("snapshot_id") in bstate.aborted
                    and e.get("chunk_dir")):
                d = e["chunk_dir"]
                full = os.path.join(blocks_root, d)
                if (d not in live_dirs and d not in pinned_dirs
                        and os.path.isdir(full)):
                    shutil.rmtree(full)
                    removed.append(d)
    if removed or orphans:
        entry = {"kind": "vacuum", "removed": removed, "ts": time.time()}
        lines = [entry]
        if orphans:
            lines.append({"kind": "staged_expire",
                          "snapshot_ids": sorted(orphans),
                          "ts": time.time()})
        m.append(lines)
    return {"removed": removed, "expired_staged": sorted(orphans)}


def remove_orphan_files(out_dir: str, grace_s: float = 3600.0) -> dict:
    """Iceberg ``remove_orphan_files``: delete on-disk files NO manifest
    entry references — debris of crashed jobs (``_tmp_*`` encode/compact
    staging, chunk dirs renamed but never committed, ``_tmp-delete-*``
    tombstone staging, delete files whose manifest append was lost).

    Referenced-ness is the only criterion: every ``chunk_dir`` named by
    any part/chunk/rewrite entry (including ``replaces`` — vacuum owns
    replaced-dir expiry, not this op) and every delete ``file`` stay
    untouched, so HEAD reads, time travel and WAP audits are unaffected
    by construction. ``grace_s`` guards racing an in-flight writer:
    only files idle longer than the grace window are swept (pass 0 in
    tests / single-writer maintenance windows)."""
    m = Manifest(out_dir)
    entries = m.read()
    referenced: set[str] = set()
    for e in entries:
        for k in ("chunk_dir", "new_chunk"):
            if e.get(k):
                referenced.add(e[k])
        referenced.update(e.get("replaces", ()) or ())
        if e.get("kind") == "delete" and e.get("file"):
            referenced.add(os.path.basename(e["file"]))
    now = time.time()

    def _idle(path: str) -> bool:
        # judge idleness by the NEWEST mtime in the whole tree, not the
        # top dir's: a file written continuously inside an old dir keeps
        # the dir mtime stale, and sweeping it mid-write would race the
        # writer (ADVICE r5). Missing entries (concurrent delete) count
        # as active — skip, never sweep on uncertainty.
        try:
            newest = os.path.getmtime(path)
            for root, _dirs, fs in os.walk(path):
                for f in fs:
                    newest = max(newest,
                                 os.path.getmtime(os.path.join(root, f)))
            return now - newest >= grace_s
        except OSError:
            return False

    removed: list[str] = []
    blocks_root = os.path.join(out_dir, "blocks")
    if os.path.isdir(blocks_root):
        for d in sorted(os.listdir(blocks_root)):
            full = os.path.join(blocks_root, d)
            if not os.path.isdir(full) or d in referenced:
                continue
            if not _idle(full):
                continue
            shutil.rmtree(full, ignore_errors=True)
            removed.append(os.path.join("blocks", d))
    ddir = os.path.join(out_dir, "deletes")
    if os.path.isdir(ddir):
        for f in sorted(os.listdir(ddir)):
            full = os.path.join(ddir, f)
            if f in referenced or not _idle(full):
                continue
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                os.remove(full)
            removed.append(os.path.join("deletes", f))
    return {"removed": removed}


def _committed_block_files(
    out_dir: str,
    part_ids: list[int] | None = None,
    key_range: tuple | None = None,
    as_of: str | None = None,
) -> list[str]:
    """Block parquet files of the chunks committed at ``as_of`` (None =
    HEAD): :meth:`ReadView.files` over a fresh manifest read."""
    return ReadView.read(out_dir, as_of).files(part_ids, key_range)


def delete_rows(out_dir: str, key_col: str, keys: list) -> dict:
    """EQUALITY DELETE (Iceberg merge-on-read): write a delete file of
    key values and commit a manifest ``delete`` entry — no data file is
    touched. Every subsequent :func:`decode_blocks` drops the
    tombstoned keys at read time, inside its decode tasks; time travel
    to snapshots BEFORE the delete still sees the rows. Semantics are
    Iceberg SEQUENCE-SCOPED (round 5): the delete applies only to rows
    whose part committed strictly before it, so a key re-ingested
    afterwards (an upsert) survives; delete again after re-ingest for
    the GDPR-purge shape.

    A list of more than ``SMALL_DELETE_MAX_KEYS`` keys commits
    COPY-ON-WRITE instead (Iceberg ``write.delete.mode=copy-on-write``):
    the same file, snapshot and entry commit in one txn with a full
    rewrite of the table minus those keys (:func:`_staged_full_rewrite`
    on the active SparkSession — without one it raises a
    ``ValueError``), so the delete is paid for once, not by every read.

    Driver-side by design: delete batches are key lists (bounded
    metadata), not row data."""
    import hashlib

    import pyarrow.parquet as pq

    m = Manifest(out_dir)
    view = ReadView.read(out_dir)  # HEAD before the delete
    if not view.branch.header:
        raise ValueError(f"no snapshots in {out_dir}: nothing to delete from")
    cow = len(keys) > SMALL_DELETE_MAX_KEYS
    spark = SparkSession.getActiveSession() if cow else None
    if cow and spark is None:
        raise ValueError(
            f"a delete of more than SMALL_DELETE_MAX_KEYS "
            f"({SMALL_DELETE_MAX_KEYS}) keys commits copy-on-write, "
            "which needs an active SparkSession")
    rel = _next_delete_file(out_dir, view.entries)
    target = os.path.join(out_dir, rel)
    tmp = target + ".tmp"
    pq.write_table(pa.table({key_col: pa.array(keys)}), tmp)
    if cow:
        key = _cow_key(view, tmp, key_col)
    os.rename(tmp, target)
    # a delete is its OWN snapshot (Iceberg: every delete commit makes a
    # new snapshot): time travel to any earlier snapshot must not see it
    with open(target, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:12]
    snap_id = f"snap-{os.path.basename(rel).removesuffix('.parquet')}-{digest}"
    # the same keys retried after a crash before the delete entry
    # already have their header
    if snap_id not in view.branch.header:
        m.write_snapshot_header(snap_id, out_dir, 0)
    if cow:
        _staged_full_rewrite(spark, view, key, delete={
            "kind": "delete", "snapshot_id": snap_id, "file": rel,
            "key_col": key_col, "n": len(keys), "ts": time.time()})
    else:
        m.append_delete(snap_id, rel, key_col, len(keys))
    return {"file": rel, "key_col": key_col, "n": len(keys),
            "snapshot_id": snap_id}


# delete_rows and upsert_rows commit a tombstone list of at most this
# many keys as a pending delete, which every decode task masks out of
# its groups (a task's key index holds ~40 MB of int64 to ~120 MB of
# 13-byte string keys at 10^6), and a longer one copy-on-write. Read at
# call time, so a patched value reaches the writers and read_changes.
SMALL_DELETE_MAX_KEYS = 1_000_000


def _next_delete_file(out_dir: str, entries: list[dict]) -> str:
    """Path, relative to ``out_dir``, of the next delete file, numbered
    by the delete entries in ``entries``. Anything already there, file
    or directory, is debris of a writer that crashed before its
    manifest entry (the commit point), so it is removed: left in place
    it would wedge every later delete or upsert."""
    n = sum(1 for e in entries if e.get("kind") == "delete")
    rel = os.path.join("deletes", f"delete-{n:05d}.parquet")
    target = os.path.join(out_dir, rel)
    os.makedirs(os.path.dirname(target), exist_ok=True)
    if os.path.isdir(target):
        shutil.rmtree(target)
    elif os.path.lexists(target):
        os.remove(target)
    return rel


def _cow_key(view: ReadView, dfile: str, key_col: str) -> str:
    """Logical key column of a copy-on-write delete of ``dfile``'s
    ``key_col`` values, after the key-type check a decode would make
    (:func:`_tombstone_type`)."""
    from .schema_evo import table_schema

    schema = table_schema(view)[0]
    key = view.column_map(schema.names).get(key_col, key_col)
    _tombstone_type(dfile, key_col, schema.field(key))
    return key


def upsert_rows(
    spark: SparkSession, out_dir: str, key_col: str, df: DataFrame,
) -> dict:
    """Row-level UPSERT / MERGE (Iceberg ``MERGE INTO ... WHEN MATCHED
    THEN UPDATE WHEN NOT MATCHED THEN INSERT`` analogue): atomically
    replace the table's rows whose ``key_col`` appears in ``df`` with
    df's rows, and insert the rest. ONE new snapshot: the new parts
    and a SEQUENCE-SCOPED tombstone of df's keys (applying only to
    parts committed before this snapshot — the new rows themselves are
    exempt by seq) commit in a single manifest txn, so a reader sees
    the pre-upsert or the post-upsert table, never a mix; time travel
    before it sees the old rows; the changelog emits delete-of-old +
    insert-of-new, the standard CDC update shape.

    Scale: df's rows flow through the normal distributed encode; the
    tombstone key file is also written DISTRIBUTED (a parquet
    directory), so upsert batches are not driver-bounded. Past
    ``SMALL_DELETE_MAX_KEYS`` keys the tombstone commits copy-on-write,
    as for :func:`delete_rows`: the same txn also rewrites the old
    rows minus those keys. ``df`` must carry the full table schema
    (column subsets would null-fill on decode)."""
    m = Manifest(out_dir)
    view = ReadView.read(out_dir)  # HEAD before the upsert
    if not view.branch.header:
        raise ValueError(f"no snapshots in {out_dir}: encode first")
    if key_col not in df.columns:
        raise ValueError(f"upsert df lacks key column {key_col!r}")
    # stage the new rows (same pattern as purge: staged part lines are
    # invisible until the txn flips them)
    src = os.path.join(out_dir, "_upsert_src")
    shutil.rmtree(src, ignore_errors=True)
    (df.write.mode("overwrite")
     .option("parquet.block.size", 8 * 1024 * 1024)
     .parquet(src))
    # distributed tombstone of the upserted keys, staged + atomic rename
    rel = _next_delete_file(out_dir, view.entries)
    tmp = os.path.join(out_dir, "deletes", "_tmp-" + os.path.basename(rel))
    shutil.rmtree(tmp, ignore_errors=True)
    keys = spark.read.parquet(src).select(key_col).distinct()
    keys.write.mode("overwrite").parquet(tmp)
    n_keys = spark.read.parquet(tmp).count()
    cow = n_keys > SMALL_DELETE_MAX_KEYS
    if cow:
        key = _cow_key(view, tmp, key_col)
    summary = encode_files(
        spark, src, list_parquet_files(src), out_dir, key_col,
        commit_status="staged",
    )
    os.rename(tmp, os.path.join(out_dir, rel))
    entry = {"kind": "delete", "snapshot_id": summary["snapshot_id"],
             "file": rel, "key_col": key_col, "n": int(n_keys),
             "ts": time.time()}
    if cow:
        _staged_full_rewrite(spark, view, key, delete=entry,
                             promote=tuple(summary["staged"]))
    else:
        m.commit_staged(summary["staged"], [entry])
    shutil.rmtree(src, ignore_errors=True)
    return {"snapshot_id": summary["snapshot_id"],
            "upserted_keys": int(n_keys),
            "encoded_parts": summary["encoded_parts"]}


def _staged_full_rewrite(
    spark: SparkSession,
    view: ReadView,
    key_col: str,
    cluster: bool = False,
    target_part_bytes: int = 128 << 20,
    chunk_parts: int = 64,
    delete: dict | None = None,
    promote: tuple[dict, ...] = (),
) -> tuple[dict, list[str]]:
    """Shared full-table rewrite: decode the LIVE rows (tombstones
    applied by decode), optionally range-cluster them on ``key_col``
    (repartitionByRange → disjoint, sorted parts), re-encode them as a
    fresh snapshot, RETIRE every previous chunk dir, and clear any pending
    delete files — all in one manifest txn. The decoded rows, the
    retired dirs and the cleared deletes all come from ``view`` (HEAD).

    ``delete`` = a delete entry to commit COPY-ON-WRITE: a left anti-join
    on ``key_col`` drops its keys (unscoped: every part of ``view``
    predates it), and the txn commits and clears it. ``promote`` =
    further staged part lines (an upsert's rows) the txn promotes.

    STAGED encode: part lines commit with status=staged — invisible
    to listing/resume, dirs expired by vacuum if we crash here — then
    ONE txn line flips everything at once (promote to done + retire
    old dirs + clear deletes). No reader can ever see old and new rows
    together, and a crash at any point leaves a consistent table
    (before the txn: pre-rewrite state; after: rewritten state).
    Returns (encode summary, retired dirs)."""
    from .schema_evo import table_schema

    out_dir = view.out_dir
    blocks_root = os.path.join(out_dir, "blocks")
    live = view.files()
    old_dirs = sorted(
        {os.path.relpath(f, blocks_root).split(os.sep)[0] for f in live})
    # the rewrite replaces every column: it decodes the whole table schema
    dec = _decode_view(spark, view, table_schema(view)[0]).drop("part_id")
    cleared = [os.path.relpath(f, out_dir) for f, _k, _n, _s in view.deletes]
    txn = []
    if delete is not None:
        keys = spark.read.parquet(os.path.join(out_dir, delete["file"]))
        dec = dec.join(keys.select(F.col(delete["key_col"]).alias(key_col)),
                       key_col, "left_anti")
        cleared.append(delete["file"])
        txn.append(delete)
    if cluster:
        # parts = staging files, and each part's manifest zone map is
        # its file's key range — so global clustering must happen HERE:
        # range-partition on the key (disjoint ranges per file), sized
        # ~target_part_bytes of source bytes per part so part count
        # tracks table size on a cluster
        live_bytes = sum(os.path.getsize(f) for f in live)
        n_parts = max(1, -(-live_bytes // target_part_bytes))
        dec = dec.repartitionByRange(n_parts, key_col)
    src = os.path.join(out_dir, "_purge_src")
    shutil.rmtree(src, ignore_errors=True)
    (dec.write.mode("overwrite")
     .option("parquet.block.size", 8 * 1024 * 1024)
     .parquet(src))
    # the staged files already hold the final row placement (the
    # clustering repartitionByRange above, else the decode's or the
    # anti-join's partitions), so the re-encode only slices the
    # staged files' row groups per task and Arrow-sorts within them
    summary = encode_files(
        spark, src, list_parquet_files(src), out_dir, key_col,
        chunk_parts=chunk_parts,
        commit_status="staged",
    )
    txn.append({
        "kind": "rewrite",
        "snapshot_id": summary["snapshot_id"],
        "new_chunk": None,
        "replaces": sorted(old_dirs),
        "ts": time.time(),
    })
    if cleared:
        txn.append({
            "kind": "delete_clear",
            "snapshot_id": summary["snapshot_id"],
            "files": sorted(cleared),
            "ts": time.time(),
        })
    Manifest(out_dir).commit_staged([*promote, *summary["staged"]], txn)
    shutil.rmtree(src, ignore_errors=True)
    return summary, old_dirs


def purge_deletes(spark: SparkSession, out_dir: str, key_col: str) -> dict:
    """MATERIALIZE equality deletes (the GDPR-purge / Iceberg
    rewrite-with-delete-compaction step): decode the live table minus
    tombstones, re-encode it as a fresh snapshot, RETIRE every previous
    chunk dir via a rewrite entry, and mark the delete files cleared.
    Afterwards decode tasks mask nothing; time travel before the purge
    still sees the original rows + applies the original deletes (until
    :func:`vacuum_blocks` removes the retired dirs). The rewrite covers
    every column of the table's recorded schema
    (:func:`schema_evo.table_schema`)."""
    view = ReadView.read(out_dir)
    if not view.deletes:
        return {"purged_files": 0, "rewritten": False}
    summary, old_dirs = _staged_full_rewrite(spark, view, key_col)
    return {
        "purged_files": len(view.deletes),
        "rewritten": True,
        "snapshot_id": summary["snapshot_id"],
        "retired_dirs": old_dirs,
        "encoded_parts": summary["encoded_parts"],
    }


def rewrite_sorted(
    spark: SparkSession, out_dir: str, key_col: str,
    target_part_bytes: int = 128 << 20,
    chunk_parts: int = 64,
) -> dict:
    """SORT-ORDER compaction (Iceberg rewrite_data_files with a sort
    strategy): re-cluster the whole table by ``key_col``. Appends and
    streaming micro-batches interleave key ranges across chunks, so
    zone maps overlap and a key-range decode touches every chunk;
    after a sorted rewrite each part owns a tight disjoint key range —
    manifest-level pruning drops whole chunks again and runs/deltas
    re-tighten for RLE/delta/FoR. Implemented as a full staged rewrite
    (repartitionByRange on the key, then the encode tasks' per-slice
    Arrow sort); any pending equality deletes are materialized on the way
    (the rewrite decodes live rows, so keeping the tombstone files
    would double-apply history). Old dirs stay for time travel until
    :func:`vacuum_blocks`. Like :func:`purge_deletes`, it rewrites
    every column of the table's recorded schema."""
    view = ReadView.read(out_dir)
    summary, old_dirs = _staged_full_rewrite(
        spark, view, key_col, cluster=True,
        target_part_bytes=target_part_bytes, chunk_parts=chunk_parts)
    return {
        "sorted_by": key_col,
        "snapshot_id": summary["snapshot_id"],
        "retired_dirs": old_dirs,
        "encoded_parts": summary["encoded_parts"],
        "materialized_deletes": len(view.deletes),
    }


def create_ref(out_dir: str, name: str,
               snapshot_id: str | None = None) -> dict:
    """Create/update a named ref to ``snapshot_id`` (None = current
    HEAD snapshot). Refs resolve anywhere ``as_of`` is accepted
    (decode, changelog, CLI) and PIN their snapshot's files against
    vacuum — the Iceberg branch-retention behaviour."""
    st = ReadView.read(out_dir).branch
    if not st.header:
        raise ValueError(f"no snapshots in {out_dir}")
    if snapshot_id is None:
        # HEAD = the current main-branch snapshot: an unpublished WAP
        # header or a rolled-back commit must never become the
        # implicit ref target
        if st.current is None:
            raise ValueError(f"no published snapshots in {out_dir}")
        snapshot_id = st.current
    elif snapshot_id not in st.header:
        raise ValueError(f"unknown snapshot {snapshot_id!r}")
    if name in st.header:
        raise ValueError(
            f"ref name {name!r} collides with a snapshot id")
    Manifest(out_dir).append_ref(name, snapshot_id)
    return {"name": name, "snapshot_id": snapshot_id}


def drop_ref(out_dir: str, name: str) -> None:
    if name not in list_refs(out_dir):
        raise ValueError(f"unknown ref {name!r}")
    Manifest(out_dir).append_ref(name, None)


def _wap_state(out_dir: str, snapshot_or_ref: str) -> tuple[str, str]:
    """Resolve to a snapshot id and classify its WAP state:
    'unstaged' | 'staged' | 'published' | 'aborted'."""
    view = ReadView.read(out_dir)
    sid = view.refs.get(snapshot_or_ref, snapshot_or_ref)
    st = view.branch
    state = st.state(sid)
    if state in ("staged", "aborted"):
        return sid, state
    if state is None:
        raise ValueError(f"unknown snapshot {snapshot_or_ref!r}")
    return sid, "published" if st.header[sid].get("staged") else "unstaged"


def publish_snapshot(out_dir: str, snapshot_or_ref: str) -> dict:
    """PUBLISH a WAP-staged snapshot (Iceberg cherry-pick /
    fast-forward): after this, HEAD reads include its data, and its
    main-branch position — hence its parts' Iceberg sequence number —
    is the publish point, not the stage point. The write-audit-publish
    workflow: ``encode_files(..., wap_staged=True)`` → audit the result
    with ``as_of=<staged id>`` (decode, quality checks, row counts) →
    ``publish_snapshot`` on success or :func:`abort_snapshot` on
    failure. Audits run on the REAL encoded files — publish moves no
    bytes, it appends one manifest line."""
    sid, state = _wap_state(out_dir, snapshot_or_ref)
    if state == "unstaged":
        raise ValueError(f"snapshot {sid!r} was not staged (WAP)")
    if state == "published":
        raise ValueError(f"snapshot {sid!r} is already published")
    if state == "aborted":
        raise ValueError(f"snapshot {sid!r} was aborted; cannot publish")
    Manifest(out_dir).append_publish(sid)
    return {"snapshot_id": sid, "published": True}


def abort_snapshot(out_dir: str, snapshot_or_ref: str) -> dict:
    """ABORT a WAP-staged snapshot that failed its audit: it never
    joins the main branch, audit reads of it start raising, and
    :func:`vacuum_blocks` reclaims its files."""
    sid, state = _wap_state(out_dir, snapshot_or_ref)
    if state == "unstaged":
        raise ValueError(f"snapshot {sid!r} was not staged (WAP)")
    if state == "published":
        raise ValueError(f"snapshot {sid!r} is already published; "
                         "use delete/purge to remove its rows")
    if state == "aborted":
        return {"snapshot_id": sid, "aborted": True}  # idempotent
    Manifest(out_dir).append_publish(sid, abort=True)
    return {"snapshot_id": sid, "aborted": True}


def rollback(out_dir: str, snapshot_or_ref: str) -> dict:
    """Iceberg ``rollback_to`` / ``set_current_snapshot``: make the
    given snapshot (or ref target) the CURRENT snapshot. HEAD reads —
    decode, compaction, upsert parents, refs-at-HEAD — rewind to the
    exact state when it committed; the undone snapshots stay in the
    manifest for time travel (their files are never rewrite-replaced,
    so vacuum does not reclaim them) and the table history keeps every
    commit. Rolling FORWARD to a snapshot a previous rollback hid is
    the same operation. One manifest line, no data movement.

    :func:`read_changes` windows follow the target snapshot's LINEAGE,
    so commits made after the rollback stay readable; a consumer whose
    checkpoint was itself undone gets a loud off-lineage error (the
    changelog cannot express un-inserts) and must reset to a snapshot
    at or before the rollback target."""
    view = ReadView.read(out_dir)
    sid = view.refs.get(snapshot_or_ref, snapshot_or_ref)
    st = view.branch
    state = st.state(sid)
    if state == "staged":
        raise ValueError(
            f"snapshot {sid!r} is WAP-staged and unpublished — publish "
            "or abort it; rollback targets main-branch commits only")
    if state == "aborted":
        raise ValueError(f"snapshot {sid!r} was aborted; its data "
                         "never joined the table")
    if state is None:
        raise ValueError(f"unknown snapshot {snapshot_or_ref!r}")
    if state == "current":
        return {"current_snapshot": sid, "changed": False}
    before = st.visible()
    after = st.vis_at(sid)
    Manifest(out_dir).append_rollback(sid)
    return {
        "current_snapshot": sid,
        "changed": True,
        "hidden": [s for s in before if s not in set(after)],
        "restored": [s for s in after if s not in set(before)],
    }


def read_changes(
    spark: SparkSession,
    out_dir: str,
    schema: pa.Schema,
    since_snapshot: str | None,
    to_snapshot: str | None = None,
) -> DataFrame:
    """Iceberg-style incremental / CDC read: the LOGICAL row changes
    committed strictly after ``since_snapshot`` (None = since table
    creation) up to ``to_snapshot`` (None = HEAD), as the table columns
    plus ``_change_type`` ('insert' | 'delete') and ``_commit_seq``
    (1-based position of the committing snapshot within the window).

    Everything derives from the manifest's append-only history — no
    data diffing:

    - INSERTS: part entries committed by window snapshots, decoded
      shuffle-free with the part-id filter, ``as_of`` their own
      snapshot (so earlier global tombstones apply exactly as a reader
      at that snapshot saw them).
    - DELETES: equality-delete entries in the window, emitted as FULL
      rows — the live rows at the delete's parent snapshot matching
      the tombstoned keys (the Iceberg changelog-view shape). Key
      lists past SMALL_DELETE_MAX_KEYS join shuffled, not broadcast.
    - Storage maintenance is invisible by construction: compaction
      rewrites add no part entries, purge rewrites promote re-encoded
      parts under a retire-style rewrite snapshot (``new_chunk=None``)
      which is excluded here, vacuum only removes expired files (a
      changelog window whose files were vacuumed raises the same
      loud expired error as time travel).

    A row inserted and later deleted inside the window yields BOTH
    entries (a strict changelog, not a net diff) — consumers fold by
    (key, max _commit_seq) when they want net state. Window bounds
    also accept NAMED REFS (:func:`create_ref`)."""
    # every window snapshot and delete parent decodes from this ONE
    # manifest read, so a commit landing mid-plan cannot mix states
    view = ReadView.read(out_dir)
    entries = view.entries
    since_snapshot = view.refs.get(since_snapshot, since_snapshot)
    to_snapshot = view.refs.get(to_snapshot, to_snapshot)
    bstate = view.branch  # main branch only: a WAP-staged
    # snapshot enters the changelog at its PUBLISH position
    snaps = bstate.chain
    if not snaps:
        raise ValueError(f"no snapshots in {out_dir}")
    if to_snapshot is None:
        if bstate.current is None:
            raise ValueError(f"no visible snapshots in {out_dir}")
        to_snapshot = bstate.current
    if to_snapshot not in snaps:
        raise ValueError(f"unknown to_snapshot {to_snapshot!r}")
    # the window walks to_snapshot's LINEAGE (its parent path), not the
    # raw commit chain: snapshots a rollback undid are not ancestors of
    # `to`, so their inserts never replay, and commits made AFTER a
    # rollback (which sit past the undone ones in raw chain order but
    # chain directly onto the rollback target) stay readable. A `since`
    # off that lineage means the consumer's checkpoint was undone — the
    # changelog cannot express un-inserts, so fail loud and reset.
    lineage = bstate.vis_at(to_snapshot)
    if since_snapshot is None:
        window = lineage
    else:
        if since_snapshot not in snaps:
            raise ValueError(f"unknown since_snapshot {since_snapshot!r}")
        if since_snapshot not in lineage:
            raise ValueError(
                f"since_snapshot {since_snapshot!r} is not on the "
                f"lineage of {to_snapshot!r} (undone by a rollback, or "
                "later than it) — reset the consumer to a snapshot at "
                "or before the rollback target")
        i0 = lineage.index(since_snapshot)
        window = lineage[i0 + 1:]
    seq_of = {s: i + 1 for i, s in enumerate(window)}
    purge_snaps = {
        e.get("snapshot_id") for e in entries
        if e.get("kind") == "rewrite" and e.get("new_chunk") is None
    }
    tcols = [f.name for f in schema]
    ddl = ddl_of(schema) + ", `_change_type` string, `_commit_seq` int"
    parts_by_snap = view.inserted(seq_of.keys() - purge_snaps)
    pieces: list[DataFrame] = []
    for s in window:
        pids = parts_by_snap.get(s)
        if pids:
            ins = _decode_view(
                spark, view.at(s), schema, part_ids=sorted(pids))
            pieces.append(
                ins.select(*tcols)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_seq",
                            F.lit(seq_of[s]).cast("int")))
    for e in entries:
        if e.get("kind") != "delete" or e.get("snapshot_id") not in seq_of:
            continue
        dfile = os.path.join(out_dir, e["file"])
        if not os.path.exists(dfile):
            raise ValueError(
                f"changelog window needs delete file {e['file']!r}, "
                "which was removed (vacuumed/expired)")
        # LINEAGE parent, not raw chain order: a delete committed
        # after a rollback chains onto the rollback target — decoding
        # "rows live just before the delete" against the chain
        # predecessor would read undone (rolled-back) table state and
        # emit delete rows that were never inserted on this lineage
        parent = bstate.parent[e["snapshot_id"]]
        if parent is None:
            # delete as the very first main-branch commit (possible
            # when only WAP-staged data existed): nothing was live
            # before it, so it deletes nothing — as_of=None here would
            # wrongly decode HEAD
            continue
        # a delete from before a key RENAME names the key's old name
        key = view.column_map(tcols).get(e["key_col"], e["key_col"])
        keys = spark.read.parquet(dfile).select(
            F.col(e["key_col"]).alias(key)).distinct()
        if int(e.get("n", 0)) > SMALL_DELETE_MAX_KEYS:
            keys = keys.hint("shuffle_hash")
        else:
            keys = F.broadcast(keys)
        rows = _decode_view(spark, view.at(parent), schema)
        pieces.append(
            rows.join(keys, key, "left_semi")
            .select(*tcols)
            .withColumn("_change_type", F.lit("delete"))
            .withColumn("_commit_seq",
                        F.lit(seq_of[e["snapshot_id"]]).cast("int")))
    if not pieces:
        return spark.createDataFrame([], ddl)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _resolved_deletes(
    view: ReadView, schema: pa.Schema,
) -> list[tuple[str, str, str, int]]:
    """(abs delete file, file key column, output key column, commit
    seq) for every delete ``view`` applies, after the two loud checks:
    the file must still exist and the projection must include its
    key."""
    names = {f.name for f in schema}
    cmap = view.column_map(names)
    out = []
    for dfile, dkey, _n, dseq in view.deletes:
        # a delete written before a RENAME tombstones under the old
        # name: its file column stays dkey, the decoded frame carries
        # the logical name
        res_key = cmap.get(dkey, dkey)
        if not os.path.exists(dfile):
            # time travel between a delete and its purge after vacuum
            # removed the cleared delete file: fail with the same loud
            # error the missing-chunk-dir case raises, not a raw
            # path-not-found
            raise ValueError(
                f"time travel to {view.as_of!r} needs delete file "
                f"{os.path.basename(dfile)!r}, which was removed "
                "(vacuumed/expired)"
            )
        if res_key not in names:
            raise ValueError(
                f"equality-delete file {dfile!r} tombstones on column "
                f"{res_key!r}, which the projection excludes — include "
                "it so merge-on-read can apply (or purge deletes first)"
            )
        out.append((dfile, dkey, res_key, dseq))
    return out


def _key_kind(t: pa.DataType) -> str:
    if (pa.types.is_integer(t) or pa.types.is_floating(t)
            or pa.types.is_decimal(t)):
        return "number"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return "time"  # SQL compares a date as its midnight
    return str(t)


def _tombstone_type(dfile: str, dkey: str, field: pa.Field) -> pa.DataType:
    """The Arrow type decode emits for the key column ``field``, after
    checking from the delete file's footer that its keys can be
    compared with it (numbers with numbers, dates with timestamps...)."""
    import pyarrow.dataset as ds

    ttype = ds.dataset(dfile, format="parquet").schema.field(dkey).type
    if (not pa.types.is_null(ttype)
            and _key_kind(ttype) != _key_kind(field.type)):
        raise ValueError(
            f"equality-delete file {dfile!r} holds {ttype} keys, which "
            f"cannot be compared with column {field.name!r} of type "
            f"{field.type}")
    return output_type(field.type)


def _tombstone_values(dfile: str, dkey: str, to_type: pa.DataType) -> pa.Array:
    """The distinct non-null keys of one delete file as ``to_type``. A
    key with no exact value of that type (an int64 key outside an
    int32 column's range, a fractional key on an integer column, a
    decimal key with more scale than the column) can equal no row, so
    it is dropped — a Spark SQL anti-join (the copy-on-write
    rewrite's) compares in a wider type and matches nothing either.
    Exactness is a round trip: cast, cast back, keep the keys that
    come back equal."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keys = pc.unique(pq.read_table(dfile, columns=[dkey]).column(dkey))
    keys = keys.drop_null()
    if keys.type == to_type:
        return keys
    if pa.types.is_null(keys.type):
        return pa.array([], to_type)

    def cast(a: pa.Array, t: pa.DataType) -> pa.Array:
        if pa.types.is_integer(a.type) and pa.types.is_decimal(t):
            # back to decimal keys: Arrow sizes an int -> decimal cast
            # by the int TYPE's digits, not the values', so widen first
            a = a.cast(pa.decimal128(38, 0))
        return a.cast(t, safe=False)

    conv = cast(keys, to_type)
    return conv.filter(pc.equal(cast(conv, keys.type), keys))


def _hashable(a: pa.Array):
    """numpy values of ``a`` that pandas hashes exactly: numbers and
    timestamps as machine values, strings and bytes as Python objects.
    Null slots hold arbitrary values; callers mask them."""
    if pa.types.is_timestamp(a.type):
        a = a.cast(pa.int64())
    if pa.types.is_integer(a.type) or pa.types.is_floating(a.type):
        return a.fill_null(0).to_numpy()
    return a.to_numpy(zero_copy_only=False)


class _TombstoneSet:
    """The keys of one delete, matched against every group a decode
    task decodes. ``pc.is_in`` hashes its value set on every call, so
    for a group less than half the key count it would rehash a large
    tombstone list once per group — hundreds of times in a task over
    many small parts. Such groups probe a pandas index of the keys
    instead, built once per task at first use. Null keys never match,
    as in a SQL anti-join."""

    def __init__(self, vals: pa.Array):
        self.vals = vals
        self._index = None

    def hits(self, col: pa.Array):
        import pyarrow.compute as pc

        if len(self.vals) <= 2 * len(col):
            return pc.is_in(col, value_set=self.vals,
                            skip_nulls=True).to_numpy(zero_copy_only=False)
        if self._index is None:
            import pandas as pd

            # unique again: pandas may merge keys Arrow kept apart (0.0
            # and -0.0), and get_indexer needs a unique index
            self._index = pd.Index(pd.unique(_hashable(self.vals)))
        hit = self._index.get_indexer(_hashable(col)) >= 0
        if col.null_count:
            hit &= col.is_valid().to_numpy(zero_copy_only=False)
        return hit


def _drop_tombstoned(out: pa.Table, tombs: list,
                     part_seq: dict[int, int]) -> pa.Table:
    """Drop the rows of one decoded group that a delete applies to.
    ``tombs`` holds (key column, delete seq, :class:`_TombstoneSet`); a
    delete applies to a part committed strictly before it (Iceberg
    sequence scoping), and part_id is constant within a group."""
    pseq = part_seq.get(out.column("part_id")[0].as_py(), -1)
    hit = None
    for key, dseq, tset in tombs:
        if pseq < dseq:
            m = tset.hits(out.column(key).combine_chunks())
            hit = m if hit is None else hit | m
    return out if hit is None else out.filter(pa.array(~hit))


def decode_blocks(
    spark: SparkSession,
    out_dir: str,
    schema: pa.Schema,
    part_ids: list[int] | None = None,
    key_range: tuple | None = None,
    key_point=None,
    as_of: str | None = None,
) -> DataFrame:
    """Blocks -> original rows (+ part_id), SHUFFLE-FREE.

    Every encode task writes exactly one parquet file holding whole,
    contiguous (part_id, salt) groups (the task sorts and encodes its
    own row-group slices), so decode never needs the hash exchange of
    encoded payloads that a groupBy/applyInArrow formulation would
    add: each task streams a contiguous run of block FILES, group by
    group, through the numpy decoder, one wave of tasks in all. The
    file list rides in the task closure (_one_wave): ``MapInArrow``
    over ``Range``, no Exchange. File reads go through pyarrow, which
    handles local, HDFS and S3 URIs alike in production.

    Equality deletes are applied inside the same tasks: each task reads
    every pending delete file once and drops the matching rows from
    each decoded group, so a decode through tombstones of any size has
    no join and no exchange (the writers commit lists past
    ``SMALL_DELETE_MAX_KEYS`` copy-on-write, so few stay pending).

    Block files are listed from the MANIFEST's committed chunk-dir
    entries, not a filesystem walk: uncommitted ``_tmp_*`` dirs and
    in-flight task files are invisible by construction (the manifest
    line is the commit point), a part-id filter prunes whole chunk
    dirs before any listing happens, and at 100 TB the driver never
    enumerates the full blocks tree to decode one part.

    A task picks each block file's blocks from ONE read of its
    metadata columns, then reads the payload column of each parquet
    row group holding a kept block, once; other row groups read none.

    ``key_range=(lo, hi)`` (inclusive sort-key bounds) prunes via the
    ZONE MAPS: overlapping blocks only. String bounds compare with the
    ``key_lo_s/key_hi_s`` zone columns (a truncation-unsafe bound was
    stored as null = never pruned); any other bounds are cast with
    ``int`` and compare with ``key_lo/key_hi`` (integer keys, and
    timestamp keys as µs) — :func:`~.manifest.zone_columns`. Bounds of
    two kinds raise a ``ValueError``. Blocks WITHOUT zone maps (a key
    type without them, an all-null block) always decode — pruning only
    ever over-includes, never silently drops rows. The range prunes at
    TWO levels: manifest part zone maps (driver-side, before any
    listing) and per-block zone maps (inside each task). When the two
    bounds are equal, each in-range block's Bloom filter (bloom.py) is
    tested in the same metadata read too, so a block that provably
    lacks the value skips its payload read and decode entirely.
    ``key_point=v`` is the spelling of ``key_range=(v, v)``; passing
    both raises a ``ValueError``.
    ``as_of`` = snapshot id for time travel (see
    :func:`_committed_block_files`). All pruning is block-granular and
    over-inclusive only — callers apply the exact row predicate on the
    decoded frame. ``as_of`` also accepts a NAMED REF (branch/tag,
    :func:`create_ref`), resolved to its snapshot here.

    SCHEMA EVOLUTION: a column added after a part was encoded decodes
    as nulls for that part, in the decode task, which counts the part's
    rows from its blocks' ``n_values``. So a read of only columns added
    later returns exactly as many rows as the same read with the key
    column added, for every pruning argument; a fully pruned read
    returns no rows.

    The whole plan — listing, deletes and their sequence scoping —
    comes from ONE manifest read
    (:class:`~.manifest.ReadView`), so a commit landing mid-plan (a
    purge clearing the deletes of the dirs just listed) can never mix
    two manifest states into one read."""
    return _decode_view(spark, ReadView.read(out_dir, as_of), schema,
                        part_ids, key_range, key_point)


def _decode_view(
    spark: SparkSession,
    view: ReadView,
    schema: pa.Schema,
    part_ids: list[int] | None = None,
    key_range: tuple | None = None,
    key_point=None,
) -> DataFrame:
    """:func:`decode_blocks` of the manifest state ``view`` holds."""
    from . import bloom as bloom_mod

    if key_point is not None:
        if key_range is not None:
            raise ValueError("pass key_point=v or key_range=(lo, hi), "
                             "not both")
        key_range = (key_point, key_point)
    # zone-map and Bloom pruning drop blocks by block_seq, so only an
    # unpruned decode can require each column's blocks to be gapless
    pruned = key_range is not None
    lo_col, hi_col, lo, hi = (zone_columns(key_range) if pruned
                              else (None, None, None, None))
    # a point range also tests each in-range block's Bloom filter
    probe = ((bloom_mod.hash_value(lo), bloom_mod.domain_of(lo))
             if pruned and lo == hi else None)
    files = view.files(part_ids, key_range)
    ddl = ddl_of(schema) + ", part_id int"
    column_map = view.column_map(schema.names)
    wanted_cols = set(column_map)
    # EQUALITY DELETES (merge-on-read) are applied inside the decode
    # tasks, so the plan gains no join: the driver resolves each
    # delete's file, key and sequence number, and every task reads the
    # delete files once and masks each decoded group. Time travel to a
    # snapshot before a delete never sees it (ReadView.deletes filters
    # by as_of).
    tombs = [
        (dfile, dkey, res_key, dseq,
         _tombstone_type(dfile, dkey, schema.field(res_key)))
        for dfile, dkey, res_key, dseq in _resolved_deletes(view, schema)
    ]
    if not files:
        return spark.createDataFrame([], ddl)
    part_seq = view.part_seq if tombs else {}
    wanted = sorted(int(p) for p in part_ids) if part_ids is not None else None

    def decode_stream(batches):
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from . import bloom as bloom_mod

        wanted_arr = pa.array(sorted(wanted_cols), pa.string())
        tomb_sets = [
            (res_key, dseq,
             _TombstoneSet(_tombstone_values(dfile, dkey, ttype)))
            for dfile, dkey, res_key, dseq, ttype in tombs]

        def _emit(path: str, grp: pa.Table):
            try:
                out = decode_group(grp, schema, column_map, pruned)
            except ValueError as e:
                raise ValueError(f"block file {path!r}: {e}") from e
            if tomb_sets and out.num_rows:
                out = _drop_tombstoned(out, tomb_sets, part_seq)
            yield from out.to_batches()

        def _split(buf: pa.Table):
            pids = buf.column("part_id").to_numpy()
            salts = buf.column("salt").to_numpy()
            keys = (pids.astype(np.int64) * (1 << 20)
                    + salts.astype(np.int64))
            return np.concatenate(
                [[0], np.flatnonzero(keys[1:] != keys[:-1]) + 1,
                 [len(keys)]]
            )

        def decode_file(path: str):
            # ONE read of the per-BLOCK metadata columns picks the
            # blocks (parts, zone overlap, Bloom, then projection); then
            # each row group holding a kept block reads only its payload
            # column, once. Task memory stays one row group + one
            # (part, salt) group, whatever the file size. Files written
            # before the string-zone/bloom columns existed over-include:
            # a clause whose columns the file lacks keeps every block.
            pf = pq.ParquetFile(path)
            file_cols = set(pf.schema_arrow.names)
            cols = ["part_id", "salt", "block_seq", "column", "n_values"]
            lost = [c for c in cols + ["payload"] if c not in file_cols]
            if lost:
                raise ValueError(f"block file {path!r}: no column {lost}")
            zoned = pruned and lo_col in file_cols
            bloom = probe is not None and "key_bloom" in file_cols
            meta = pf.read(
                columns=cols + ([lo_col, hi_col] if zoned else [])
                + (["key_bloom"] if bloom else []), use_threads=False)
            pids = meta.column("part_id").to_numpy()
            passing = (np.isin(pids, wanted) if wanted is not None
                       else np.ones(len(pids), bool))
            if zoned:
                # overlap with [lo, hi]; a null bound (unzoned block) is
                # always kept: pruning may over-include, never lose rows
                passing &= np.asarray(pc.fill_null(pc.and_(
                    pc.greater_equal(meta.column(hi_col), lo),
                    pc.less_equal(meta.column(lo_col), hi)), True))
            if bloom:
                # a Bloom (on the sort-key column's row, maybe in another
                # row group) that proves the probe absent drops its whole
                # block, keyed by the FULL (part_id, salt, block_seq): a
                # file holds several parts' groups (tasks are packed)
                trips = list(zip(pids.tolist(),
                                 meta.column("salt").to_pylist(),
                                 meta.column("block_seq").to_pylist()))
                absent = {
                    trips[i] for i, kb in
                    enumerate(meta.column("key_bloom").to_pylist())
                    if kb is not None and passing[i]
                    and not bloom_mod.bloom_might_contain(kb, *probe)}
                passing &= np.array([t not in absent for t in trips], bool)
            if not passing.any():
                return
            keep = passing & np.asarray(
                pc.is_in(meta.column("column"), value_set=wanted_arr))
            # SCHEMA EVOLUTION: a (part_id, salt) group with passing
            # blocks but no projected column was encoded before every
            # projected column was added, yet still has rows. Its
            # passing metadata rows go to decode_group with a null
            # payload, which counts the rows from n_values and emits
            # nulls (Iceberg add-column read semantics)
            bounds = _split(meta)
            lone = passing & np.repeat(
                ~np.logical_or.reduceat(keep, bounds[:-1]), np.diff(bounds))
            take = keep | lone
            rows = meta.select(cols)
            ptype = pf.schema_arrow.field("payload").type

            pend = None  # trailing, possibly-incomplete group
            stop = 0
            for rg in range(pf.metadata.num_row_groups):
                start, stop = stop, stop + pf.metadata.row_group(rg).num_rows
                idx = np.flatnonzero(take[start:stop])
                if not len(idx):
                    continue
                # a row group holding only lone blocks reads no payload
                payload = (pf.read_row_group(
                    rg, columns=["payload"], use_threads=False)[0]
                    if keep[start:stop].any()
                    else pa.nulls(stop - start, ptype))
                t = rows.slice(start, stop - start).append_column(
                    "payload", payload)
                if len(idx) < t.num_rows:
                    t = t.take(idx)
                buf = t if pend is None else pa.concat_tables([pend, t])
                bounds = _split(buf)
                # decode every COMPLETE group; the trailing group may
                # continue into the next row group, so hold it back
                for s, e in zip(bounds[:-2], bounds[1:-1]):
                    yield from _emit(path, buf.slice(s, e - s))
                pend = buf.slice(bounds[-2]).combine_chunks()
            if pend is not None and pend.num_rows:
                yield from _emit(path, pend)

        for batch in batches:
            for path in batch.column(0).to_pylist():
                # a missing, truncated or unreadable block file names
                # itself (pyarrow's own message names no path)
                try:
                    yield from decode_file(path)
                except (OSError, pa.ArrowException) as e:
                    raise ValueError(f"block file {path!r}: {e}") from e

    # one TASK streams a run of block files (the loop above), one wave
    # of tasks in all: per-task overhead must not dominate when there
    # are many small block files
    return _one_wave(spark, [(p,) for p in files], [1] * len(files),
                     pa.schema([("path", pa.string())]), decode_stream, ddl)


def roundtrip_df(
    spark: SparkSession,
    source_path: str,
    key_col: str,
    columns: list[str] | None = None,
    forced_codecs: dict[str, str] | None = None,
    out_dir: str | None = None,
) -> DataFrame:
    """Encode source -> blocks -> decode; returns the decoded DataFrame.

    The driver-contract queries use this to prove end-to-end round-trip
    identity per scheme against a DuckDB oracle reading the raw source.
    """
    import atexit
    import tempfile

    import pyarrow.parquet as pq

    out = out_dir
    if out is None:
        # the returned DataFrame reads these blocks lazily, so the dir
        # must outlive this call — reclaim it at process exit instead
        # of leaking a full encoded copy of the table under /tmp
        out = tempfile.mkdtemp(prefix="lgs_rt_")
        atexit.register(shutil.rmtree, out, ignore_errors=True)
    if os.path.exists(os.path.join(out, "manifest.jsonl")):
        shutil.rmtree(out)
    schema = pq.read_schema(source_path)
    if columns:
        schema = pa.schema([schema.field(c) for c in columns])
    encode_snapshot(
        spark,
        source_path,
        out,
        key_col=key_col,
        forced_codecs=forced_codecs,
        columns=columns,
    )
    dec = decode_blocks(spark, out, schema)
    keep = columns or [f.name for f in schema]
    return dec.select(*keep)


def verify_roundtrip(
    source: DataFrame, decoded: DataFrame, key_col: str, columns: list[str] | None = None
) -> dict:
    """Join decoded rows to the source on the key and count per-column
    mismatches (null-safe equality; bytes compared exactly). All-zero
    result = bit-identical round-trip (BASELINE.json:15)."""
    cols = columns or [c for c in source.columns if c not in ("part_id",)]
    s = source.select([F.col(c).alias(f"s_{c}") for c in cols])
    d = decoded.select([F.col(c).alias(f"d_{c}") for c in cols])
    j = s.join(d, F.col(f"s_{key_col}") == F.col(f"d_{key_col}"), "full_outer")
    aggs = [
        F.sum(
            F.when(~F.col(f"s_{c}").eqNullSafe(F.col(f"d_{c}")), 1).otherwise(0)
        ).alias(c)
        for c in cols
    ]
    row = j.agg(*aggs).collect()[0]
    mismatches = {c: int(row[c] or 0) for c in cols}
    n_source = source.count()
    n_decoded = decoded.count()
    return {
        "rows_source": n_source,
        "rows_decoded": n_decoded,
        "mismatches": mismatches,
        "ok": n_source == n_decoded and all(v == 0 for v in mismatches.values()),
    }
