"""Encoded-blocks dataset: schema + the Arrow group encode/decode kernels.

One row per (partition, salt, column, block): SURVEY.md §1.2. The encode
kernel runs inside ``mapInArrow`` tasks (make_direct_encoder) — each
task reads its (part_id, salt) row-group slice as one ``pyarrow.Table``
with zero pandas conversion, the per-column codecs run as numpy
kernels, and the task writes its block rows itself
(make_task_writer). No per-row Python anywhere (BASELINE.json:15).

Scale note: the group is the encode unit by design — footer-driven
salt fan-out (skew.py) bounds it to one task's memory, exactly how
libgiddy sizes a device buffer per kernel launch.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import bloom as bloom_mod
from .codecs import SymbolTable, as_array, decode_array, encode_array
from .codecs import header as H
from .selector import select_codec, train_fsst

BLOCK_ROWS = 65536

BLOCKS_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("salt", pa.int32()),
        ("block_seq", pa.int32()),
        ("column", pa.string()),
        ("codec", pa.string()),
        ("codec_params", pa.string()),
        ("n_values", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("payload", pa.binary()),
        ("sha256", pa.string()),
        # zone map: sort-key min/max of the block's row range (groups are
        # sorted by the sort key, so block i's range = [first, last value
        # of its slice]); null when the sort key isn't integral/timestamp.
        # Written into parquet column stats -> a key-range decode prunes
        # whole row groups before any payload byte is read.
        ("key_lo", pa.int64()),
        ("key_hi", pa.int64()),
        # STRING zone map: same min/max idea for string sort keys (url!),
        # truncation-safe (a too-long bound becomes null = never pruned).
        # The Iceberg data-file lower/upper-bounds pattern.
        ("key_lo_s", pa.string()),
        ("key_hi_s", pa.string()),
        # per-block Bloom filter over the sort-key values (bloom.py),
        # stored ONLY on the sort-key column's block rows: point lookups
        # prune blocks the zone maps keep (equality probes, string keys)
        ("key_bloom", pa.binary()),
    ]
)

BLOCKS_DDL = (
    "part_id int, salt int, block_seq int, column string, codec string, "
    "codec_params string, n_values long, raw_bytes long, enc_bytes long, "
    "payload binary, sha256 string, key_lo long, key_hi long, "
    "key_lo_s string, key_hi_s string, key_bloom binary"
)

# string zone bounds longer than this are truncated (Iceberg's truncate
# transform): the LOWER bound keeps the plain prefix (prefix <= value,
# always valid), the UPPER bound keeps the prefix with its last code
# point incremented (> any string extending the prefix). If no code
# point can be incremented, the bound is null = never pruned.
MAX_ZONE_STR = 120


def _trunc_bound_lo(s: str) -> str:
    return s if len(s) <= MAX_ZONE_STR else s[:MAX_ZONE_STR]


def _trunc_bound_hi(s: str) -> str | None:
    if len(s) <= MAX_ZONE_STR:
        return s
    p = s[:MAX_ZONE_STR]
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i]) + 1
        if 0xD800 <= c <= 0xDFFF:
            c = 0xE000  # skip the surrogate gap (invalid in UTF-8)
        if c <= 0x10FFFF:
            return p[:i] + chr(c)
    return None  # every prefix char was U+10FFFF: give up, keep block


def _normalize(arr: pa.ChunkedArray | pa.Array) -> pa.Array:
    arr = as_array(arr)
    if pa.types.is_timestamp(arr.type) and (arr.type.unit != "us" or arr.type.tz):
        arr = arr.cast(pa.timestamp("us"))
    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.string())
    if pa.types.is_large_binary(arr.type):
        arr = arr.cast(pa.binary())
    return arr


def encode_group(
    table: pa.Table,
    part_id: int,
    salt: int,
    columns: list[str] | None = None,
    sort_key: str | None = None,
    forced_codecs: dict[str, str] | None = None,
    block_rows: int = BLOCK_ROWS,
    selector_cache: dict | None = None,
    zone_key: str | None = None,
) -> pa.Table:
    """Encode one (part_id, salt) group of source rows into block rows.

    ``selector_cache`` (keyed on column name; one part_id's) supplies
    the codec choice AND the trained FSST symbol table per column, and
    takes the choice made here for a column it lacks. The encode task
    seeds it with the part's plan (plan_one_file), so every salt slice
    of a part shares one table — a heavily-salted part would otherwise
    re-train the same column's table once per slice (VERDICT r2
    finding 3). FSST's escape path keeps any byte sequence encodable,
    so a table trained on a sample is correct for all slices."""
    if sort_key is not None and sort_key in table.column_names:
        table = table.sort_by(sort_key)
    cols = columns or [c for c in table.column_names if c not in ("part_id", "salt")]
    out: dict[str, list] = {name: [] for name in BLOCKS_SCHEMA.names}
    n = table.num_rows
    # per-block zone map from the (sorted) sort key: lo/hi = the slice's
    # first/last value; None when the key isn't an ordered integer type.
    # String keys get string bounds (key_lo_s/key_hi_s) instead; both
    # flavors also feed a per-block Bloom filter for point lookups.
    zone_vals = None
    zone_strs = None
    zone_valid = None  # per-row validity; None == all rows valid
    key_hashes = None
    key_domain = bloom_mod.DOMAIN_INT
    if zone_key is not None and zone_key in table.column_names and n:
        zk = _normalize(table.column(zone_key))
        if pa.types.is_timestamp(zk.type):
            zk = zk.cast(pa.int64())
        if pa.types.is_integer(zk.type):
            # nullable keys still get zone maps over the NON-NULL range:
            # range/point probes can never match a NULL row (SQL ternary
            # logic), so pruning on non-null bounds loses nothing, while
            # the old null_count==0 gate de-zoned a whole block for one
            # null row. uint64 above int64.max degrades to unzoned
            # (over-include is always safe) instead of failing encode.
            try:
                zi = zk.cast(pa.int64())
            except (pa.ArrowInvalid, OverflowError):
                zi = None
            if zi is not None:
                if zi.null_count:
                    zone_valid = ~np.asarray(zi.is_null())
                    zi = zi.fill_null(0)
                zone_vals = zi.to_numpy(zero_copy_only=False)
                key_hashes = bloom_mod.hash_int_array(zone_vals)
        elif pa.types.is_string(zk.type):
            zone_strs = zk  # keeps nulls: pc.min_max skips them
            if zk.null_count:
                zone_valid = ~np.asarray(zk.is_null())
                zk = zk.fill_null("")
            key_hashes = bloom_mod.hash_string_array(zk)
            key_domain = bloom_mod.DOMAIN_BYTES
    for col_name in cols:
        arr = _normalize(table.column(col_name))
        cached = selector_cache.get(col_name) if selector_cache is not None else None
        if cached is not None:
            codec, stats, fsst_table = cached
        else:
            forced = (forced_codecs or {}).get(col_name)
            artifacts: dict = {}
            if forced:
                codec, stats = forced, {"forced": True}
            else:
                codec, stats, artifacts = select_codec(arr, col_name)
            fsst_table: SymbolTable | None = artifacts.get("fsst_table")
            if codec == "fsst" and fsst_table is None:
                fsst_table = train_fsst(arr)
            if selector_cache is not None:
                # the manifest aggregates codec_params with first():
                # mark that any slice's recorded stats were sampled on
                # ONE salt slice, so n/min/max aren't read as whole-part
                stats = {**stats, "stats_scope": "first-salt-slice-sample"}
                selector_cache[col_name] = (codec, stats, fsst_table)
        params = json.dumps({"stats": stats}, separators=(",", ":"))
        for seq, start in enumerate(range(0, max(n, 1), block_rows)):
            chunk = arr.slice(start, block_rows)
            if len(chunk) == 0 and n > 0:
                break
            payload, meta = encode_array(chunk, codec, fsst_table=fsst_table)
            out["part_id"].append(part_id)
            out["salt"].append(salt)
            out["block_seq"].append(seq)
            out["column"].append(col_name)
            out["codec"].append(codec)
            out["codec_params"].append(params if seq == 0 else "{}")
            out["n_values"].append(meta["n_values"])
            out["raw_bytes"].append(meta["raw_bytes"])
            out["enc_bytes"].append(meta["enc_bytes"])
            out["payload"].append(payload)
            out["sha256"].append(hashlib.sha256(payload).hexdigest())
            end = min(start + block_rows, n)
            vslice = zone_valid[start:end] if zone_valid is not None else None
            if zone_vals is not None and len(chunk):
                # true min/max of the slice (not first/last): correct even
                # if a caller ever passes zone_key over unsorted data.
                # Nulls are masked out: bounds cover the non-null range
                # (an all-null slice stays unzoned -> always decoded).
                zslice = zone_vals[start:end]
                if vslice is not None:
                    zslice = zslice[vslice]
                if len(zslice):
                    out["key_lo"].append(int(zslice.min()))
                    out["key_hi"].append(int(zslice.max()))
                else:
                    out["key_lo"].append(None)
                    out["key_hi"].append(None)
            else:
                out["key_lo"].append(None)
                out["key_hi"].append(None)
            lo_s = hi_s = None
            if zone_strs is not None and len(chunk):
                mm = pc.min_max(zone_strs.slice(start, end - start))
                mn, mx = mm["min"].as_py(), mm["max"].as_py()
                if mx is not None:  # None == all-null slice: stay unzoned
                    lo_s = _trunc_bound_lo(mn)
                    hi_s = _trunc_bound_hi(mx)
                if hi_s is None:
                    lo_s = None  # keep bounds paired for the null-keep rule
            out["key_lo_s"].append(lo_s)
            out["key_hi_s"].append(hi_s)
            if key_hashes is not None and col_name == zone_key and len(chunk):
                hs = key_hashes[start:end]
                if vslice is not None:
                    hs = hs[vslice]  # bloom holds only real key values
                bloom = bloom_mod.build_bloom(hs, key_domain) if len(hs) else None
            else:
                bloom = None
            out["key_bloom"].append(bloom)
            if n == 0:
                break
    return pa.table(out, schema=BLOCKS_SCHEMA)


# head rows of a file that its codec plan samples (plan_one_file)
PLAN_SAMPLE_ROWS = 16384


def plan_one_file(
    path: str,
    columns: list[str],
    forced_codecs: dict[str, str] | None = None,
    sample_rows: int = PLAN_SAMPLE_ROWS,
) -> list[tuple[str, str, str, bytes | None]]:
    """Codec plan for one data file: (column, codec, params_json,
    serialized_fsst_table|None) per column, selected (and FSST
    trained) ONCE on a bounded sample, the first
    min(sample_rows, row-group-0 rows) rows of the file. It depends
    only on the file, so every salt slice of a part gets the same
    codecs and symbol tables whichever task encodes it. The encode
    task plans each part it meets (make_direct_encoder); this reads
    the head rows itself, for tasks whose slice does not hold them."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    if pf.metadata.num_row_groups == 0:
        return []
    # stream just the first sample_rows out of row group 0 instead of
    # materializing the whole (8-128 MB) group. A zero-row first group
    # yields no batches (None) -> no plan, same as an empty file.
    first = next(iter(pf.iter_batches(
        batch_size=sample_rows, row_groups=[0],
        columns=columns, use_threads=False,
    )), None)
    if first is None:
        return []
    return _plan_head(pa.Table.from_batches([first]).slice(0, sample_rows),
                      columns, forced_codecs)


def _plan_head(
    tbl: pa.Table,
    columns: list[str],
    forced_codecs: dict[str, str] | None,
) -> list[tuple[str, str, str, bytes | None]]:
    """plan_one_file's plan from a file's head rows already in hand."""
    out: list[tuple[str, str, str, bytes | None]] = []
    for col_name in columns:
        arr = _normalize(tbl.column(col_name))
        forced = (forced_codecs or {}).get(col_name)
        if forced:
            codec, stats, artifacts = forced, {"forced": True}, {}
        else:
            codec, stats, artifacts = select_codec(arr, col_name)
        ft = artifacts.get("fsst_table")
        if codec == "fsst" and ft is None:
            ft = train_fsst(arr)
        out.append((
            col_name, codec,
            json.dumps({**stats, "stats_scope": "part-head-sample"}),
            ft.serialize() if ft else None,
        ))
    return out


def make_direct_encoder(
    columns: list[str],
    sort_key: str | None = None,
    forced_codecs: dict[str, str] | None = None,
    block_rows: int = BLOCK_ROWS,
):
    """Shuffle-free encode kernel for ``mapInArrow`` over a TASK LIST
    (part_id, salt, rg_lo, rg_hi[, row_lo, row_hi], path): each task
    reads its contiguous parquet row-group slice with pyarrow (or the
    [row_lo, row_hi) row range of the covering row groups, when
    row_lo >= 0), sorts it in Arrow, and encodes the whole slice as one
    (part_id, salt) group — the decode side's one-task-per-file pattern
    mirrored onto encode, so no row ever crosses an exchange
    (engine.encode_files). A row range that the covering row groups
    do not reach raises ValueError naming the task.

    The task plans each part it encodes once (memoized for the task)
    and seeds every slice's selector cache with that plan, so no slice
    re-selects or re-trains. The plan samples the file's first
    min(PLAN_SAMPLE_ROWS, row-group-0 rows) rows. When the slice the
    task has just read starts at row 0 of row group 0, those rows come
    from that slice; otherwise :func:`plan_one_file` reopens the file
    to read them. Tasks that split a part's slices plan it each, in
    parallel, to the same result."""

    def encode_tasks(batches):
        import pyarrow.parquet as pq

        plans: dict[int, dict | None] = {}  # part_id -> selector cache
        for batch in batches:
            for row in batch.to_pylist():
                rgs = list(range(row["rg_lo"], row["rg_hi"]))
                if not rgs:
                    continue
                pf = pq.ParquetFile(row["path"])
                row_lo = row.get("row_lo", -1)
                if row_lo is not None and row_lo >= 0:
                    # row-range fallback slice (file had fewer row
                    # groups than its fan-out): stream batches and STOP
                    # at the task's upper bound instead of materializing
                    # the whole covering span — the parquet streaming
                    # reader decodes pages incrementally, so task i of k
                    # only decodes rows [0, hi_i), cutting the total
                    # redundant decode across a k-way fan-out from k x
                    # to (k+1)/2 x (leading rows before row_lo must
                    # still be decoded — page skipping can't jump into
                    # the middle of a column chunk)
                    row_hi = int(row["row_hi"])
                    kept: list[pa.RecordBatch] = []
                    start = seen = 0
                    for b in pf.iter_batches(
                        batch_size=65536, row_groups=rgs,
                        columns=columns, use_threads=False,
                    ):
                        b_lo, seen = seen, seen + b.num_rows
                        if seen <= row_lo:
                            continue
                        if not kept:
                            start = b_lo
                        kept.append(b)
                        if seen >= row_hi:
                            break
                    if not kept or seen < row_hi:
                        # task build keeps [row_lo, row_hi) inside the
                        # span; a hand-built or stale task must not
                        # encode fewer rows than it names
                        raise ValueError(
                            f"encode task {row['path']!r} part "
                            f"{row['part_id']} salt {row['salt']}: row "
                            f"range [{row_lo}, {row_hi}) exceeds the "
                            f"{seen} rows of row groups "
                            f"[{row['rg_lo']}, {row['rg_hi']})")
                    read = pa.Table.from_batches(kept)
                    tbl = read.slice(row_lo - start, row_hi - row_lo)
                    head = read if row_lo == 0 else None
                else:
                    tbl = head = pf.read_row_groups(
                        rgs, columns=columns, use_threads=False
                    )
                pid = int(row["part_id"])
                if pid not in plans:
                    # a slice read from row 0 of row group 0 holds the
                    # rows plan_one_file would read: plan from them
                    need = min(PLAN_SAMPLE_ROWS,
                               pf.metadata.row_group(0).num_rows)
                    if rgs[0] == 0 and head is not None and (
                            0 < need <= head.num_rows):
                        plan = _plan_head(head.slice(0, need), columns,
                                          forced_codecs)
                    else:
                        plan = plan_one_file(row["path"], columns,
                                             forced_codecs=forced_codecs)
                    plans[pid] = {
                        col: (codec, json.loads(params),
                              SymbolTable.deserialize(ft)
                              if ft is not None else None)
                        for col, codec, params, ft in plan
                    } or None
                out = encode_group(
                    tbl,
                    pid,
                    int(row["salt"]),
                    columns=columns,
                    sort_key=sort_key,  # Arrow sort inside the task
                    forced_codecs=forced_codecs,
                    block_rows=block_rows,
                    selector_cache=plans[pid],
                    zone_key=sort_key,
                )
                yield from out.to_batches()

    return encode_tasks


# one row per (written file, part, column): the encode task's own
# aggregate of its blocks' metadata (merge_part_meta), returned through
# the encode job so the driver never re-reads a written footer
TASK_META_DDL = (
    "file string, part_id int, column string, codec string, "
    "codec_params string, n_values long, raw_bytes long, enc_bytes long, "
    "n_blocks long, key_lo long, key_hi long, key_lo_s string, "
    "key_hi_s string, n_unzoned long, n_unzoned_s long"
)

_TASK_META_SCHEMA = pa.schema(
    [
        ("file", pa.string()),
        ("part_id", pa.int32()),
        ("column", pa.string()),
        ("codec", pa.string()),
        ("codec_params", pa.string()),
        ("n_values", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("n_blocks", pa.int64()),
        ("key_lo", pa.int64()),
        ("key_hi", pa.int64()),
        ("key_lo_s", pa.string()),
        ("key_hi_s", pa.string()),
        ("n_unzoned", pa.int64()),
        ("n_unzoned_s", pa.int64()),
    ]
)


# the block-row fields a block's metadata row carries (never the payload)
_META_FIELDS = [
    "part_id", "column", "codec", "codec_params", "n_values", "raw_bytes",
    "enc_bytes", "key_lo", "key_hi", "key_lo_s", "key_hi_s",
]


def _block_meta_rows(batch: pa.RecordBatch) -> list[dict]:
    """Block rows (BLOCKS_SCHEMA) as one-block metadata rows in the
    _TASK_META_SCHEMA shape: a block is unzoned when its bound is null."""
    t = pa.Table.from_batches([batch]).select(_META_FIELDS)
    for name, col in (("n_blocks", pa.array(np.ones(t.num_rows, np.int64))),
                      ("n_unzoned", pc.is_null(t["key_lo"])),
                      ("n_unzoned_s", pc.is_null(t["key_lo_s"]))):
        t = t.append_column(name, col.cast(pa.int64()))
    return t.to_pylist()


def merge_part_meta(rows, agg: dict | None = None) -> dict:
    """Fold metadata rows (_TASK_META_SCHEMA fields, by name) into one
    aggregate per (part_id, column), keyed by that pair, in place into
    ``agg`` when given. The task writer folds its blocks' rows with it
    and the driver folds the tasks' returned rows, so both levels share
    one rule set: counts and sizes sum, zone bounds take min/max over
    the zoned rows, and the real codec_params is the first non-empty
    one (only each slice's block_seq-0 row carries it)."""
    agg = {} if agg is None else agg
    for r in rows:
        key = (int(r["part_id"]), r["column"])
        a = agg.get(key)
        if a is None:
            agg[key] = a = {
                "part_id": key[0], "column": key[1], "codec": r["codec"],
                "codec_params": "{}", "n_values": 0, "raw_bytes": 0,
                "enc_bytes": 0, "n_blocks": 0, "key_lo": None,
                "key_hi": None, "key_lo_s": None, "key_hi_s": None,
                "n_unzoned": 0, "n_unzoned_s": 0,
            }
        if a["codec_params"] == "{}" and r["codec_params"] not in ("", "{}"):
            a["codec_params"] = r["codec_params"]
        for k in ("n_values", "raw_bytes", "enc_bytes", "n_blocks",
                  "n_unzoned", "n_unzoned_s"):
            a[k] += r[k]
        for lo, hi in (("key_lo", "key_hi"), ("key_lo_s", "key_hi_s")):
            if r[lo] is not None:
                a[lo] = r[lo] if a[lo] is None else min(a[lo], r[lo])
                a[hi] = r[hi] if a[hi] is None else max(a[hi], r[hi])
    return agg


def make_task_writer(encode_fn, out_dir: str,
                     row_group_bytes: int = 32 << 20):
    """Wrap a block-producing mapInArrow kernel so each TASK writes its
    own block parquet file with pyarrow and yields only per-(part,
    column) METADATA rows (TASK_META_DDL) back to the JVM.

    Why: routing the encoded payloads through the JVM writer serializes
    every payload byte across the Arrow boundary and pays the JVM
    parquet writer on top — measured ~0.3 s of a 0.9 s webtext encode
    job (guide §4.1: control how many bytes cross; here ~100 MB of
    payload drops to ~KB of metadata). The decode side already reads
    block files with pyarrow inside tasks; this mirrors it onto write.

    Commit safety: file names are attempt-unique (uuid); the DRIVER
    commits exactly the returned file set (engine writes a _FILES
    marker and removes stray files before renaming the chunk dir), so
    a failed/retried attempt's leftovers are never read back. Row
    groups are flushed every ~row_group_bytes of payload so the
    streaming decoder's peak stays one row group, inside the warm
    allocator arena."""

    def write_tasks(batches):
        import os as _os
        import uuid

        import pyarrow.parquet as _pq

        name = f"task-{uuid.uuid4().hex}.parquet"
        path = _os.path.join(out_dir, name)
        writer = None
        pend: list[pa.RecordBatch] = []
        pend_bytes = 0
        # running per-(part, column) aggregate across this task's blocks
        agg: dict[tuple[int, str], dict] = {}

        def flush_rg():
            nonlocal pend, pend_bytes, writer
            if not pend:
                return
            if writer is None:
                # payloads are already codec-compressed, so parquet
                # compression only costs CPU; dictionary pages over
                # MB-sized unique blobs cost ~13x the write time
                writer = _pq.ParquetWriter(
                    path, BLOCKS_SCHEMA, compression="none",
                    use_dictionary=False,
                )
            writer.write_table(pa.Table.from_batches(pend))
            pend, pend_bytes = [], 0

        for batch in encode_fn(batches):
            merge_part_meta(_block_meta_rows(batch), agg)
            pend.append(batch)
            pend_bytes += batch.nbytes
            if pend_bytes >= row_group_bytes:
                flush_rg()
        flush_rg()
        if writer is None:
            return  # empty task: no file, no metadata
        writer.close()
        yield pa.RecordBatch.from_pylist(
            [{**a, "file": name} for _k, a in sorted(agg.items())],
            schema=_TASK_META_SCHEMA)

    return write_tasks


def output_type(t: pa.DataType) -> pa.DataType:
    """The Arrow type decode emits for a schema field of type ``t``:
    Spark's Arrow exchange wants tz-aware micros for timestamps (engine
    convention is session timeZone=UTC, so values pass through)."""
    return pa.timestamp("us", tz="UTC") if pa.types.is_timestamp(t) else t


def decode_group(table: pa.Table, schema: pa.Schema,
                 column_map: dict[str, str] | None = None) -> pa.Table:
    """Decode one (part_id, salt) group of block rows back to source rows.

    Blocks are ordered by (column, block_seq); per-column decoded chunks
    concatenate into full columns whose row alignment is guaranteed by
    identical chunking at encode time. ``column_map`` translates a
    block's PHYSICAL column name to its current logical name (schema
    RENAME evolution: renames never rewrite data, so blocks written
    before one keep the old name).

    Every decoded column must have as many rows as its blocks'
    ``n_values`` sum to, and all columns the same count: a missing,
    extra or truncated block raises a ``ValueError`` naming the part,
    salt and column instead of yielding misaligned or fewer rows. A
    block the codecs cannot decode (a corrupt or truncated payload)
    raises a ``ValueError`` naming the part, salt, column and
    ``block_seq``.
    """
    table = table.sort_by([("column", "ascending"), ("block_seq", "ascending")])
    cols_present = table.column("column").to_pylist()
    payloads = table.column("payload").to_pylist()
    n_values = (table.column("n_values").to_pylist()
                if "n_values" in table.column_names else None)
    wanted = {f.name for f in schema}
    by_col: dict[str, list[pa.Array]] = {}
    stored: dict[str, int] = {}
    for i, (name, payload) in enumerate(zip(cols_present, payloads)):
        if column_map is not None:
            name = column_map.get(name, name)
        if name not in wanted:  # projection: don't decode dropped columns
            continue
        try:
            arr = decode_array(payload)
        except Exception as e:
            raise ValueError(
                f"part {table.column('part_id')[i].as_py()} salt "
                f"{table.column('salt')[i].as_py()} column {name!r} "
                f"block_seq {table.column('block_seq')[i].as_py()}: "
                f"cannot decode block: {e}") from e
        by_col.setdefault(name, []).append(arr)
        if n_values is not None:
            stored[name] = stored.get(name, 0) + n_values[i]
    decoded: dict[str, pa.Array] = {}
    for field in schema:
        if field.name not in by_col:
            continue
        chunks = by_col[field.name]
        arr = chunks[0] if len(chunks) == 1 else pa.concat_arrays(chunks)
        decoded[field.name] = arr.cast(output_type(field.type))
    pid = table.column("part_id")[0].as_py() if table.num_rows else -1
    n = max([len(a) for a in decoded.values()] + list(stored.values()),
            default=0)
    for name, arr in decoded.items():
        if len(arr) != n or stored.get(name, n) != n:
            salt = table.column("salt")[0].as_py()
            raise ValueError(
                f"part {pid} salt {salt} column {name!r}: decoded "
                f"{len(arr)} rows, its blocks' n_values sum to "
                f"{stored.get(name, len(arr))}, the group has {n} — "
                "a block is missing, extra or corrupt")
    if not decoded and table.num_rows and n_values is not None:
        # SCHEMA EVOLUTION, all-post-evolution projection: none of the
        # requested columns exist in this part's blocks, but the part
        # still has rows — derive the row count from any stored
        # column's n_values metadata so the null rows are emitted
        # (silently skipping the part would be row loss).
        first_col = cols_present[0]
        n = sum(nv for name, nv in zip(cols_present, n_values)
                if name == first_col)
    arrays, names = [], []
    for field in schema:
        if field.name in decoded:
            arrays.append(decoded[field.name])
        elif n or decoded:
            # SCHEMA EVOLUTION: a column added to the table after this
            # part was encoded doesn't exist in its blocks — decode it
            # as nulls (Iceberg add-column read semantics).
            arrays.append(pa.nulls(n, type=output_type(field.type)))
        else:
            continue
        names.append(field.name)
    arrays.append(pa.array(np.full(n, pid, dtype=np.int32)))
    names.append("part_id")
    return pa.table(arrays, names=names)
