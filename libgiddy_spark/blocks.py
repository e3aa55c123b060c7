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

_SPARK_TYPES = {
    pa.int8(): "byte",
    pa.int16(): "short",
    pa.int32(): "int",
    pa.int64(): "long",
    pa.float32(): "float",
    pa.float64(): "double",
    pa.string(): "string",
    pa.large_string(): "string",
    pa.binary(): "binary",
    pa.large_binary(): "binary",
}


def ddl_of(schema: pa.Schema) -> str:
    """Spark DDL string of an Arrow schema (timestamps of any unit or
    zone map to ``timestamp``); any other type raises a ``TypeError``."""
    def spark_type(t: pa.DataType) -> str:
        if pa.types.is_timestamp(t):
            return "timestamp"
        if t not in _SPARK_TYPES:
            raise TypeError(f"unsupported type {t}")
        return _SPARK_TYPES[t]

    return ", ".join(f"`{f.name}` {spark_type(f.type)}" for f in schema)


BLOCKS_DDL = ddl_of(BLOCKS_SCHEMA)

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


def _block_zones(table: pa.Table, zone_key: str | None,
                 block_rows: int) -> list[tuple]:
    """Per block of ``table``: ``(key_lo, key_hi, key_lo_s, key_hi_s,
    key_bloom)`` of the zone key, computed once for every column's
    block rows. Integer and timestamp keys are cast to int64 (a uint64
    value past int64 max leaves the key unzoned: over-include is always
    safe); string keys keep their values; any other type is unzoned.
    The bounds are ``pc.min_max`` of the block's slice, so a nullable
    key zones over its NON-NULL range (a range or point probe never
    matches a NULL row) and an all-null block stays unzoned. String
    bounds are truncated (MAX_ZONE_STR); the Bloom holds the block's
    non-null key values."""
    n = table.num_rows
    unzoned = [(None,) * 5] * max(-(-n // block_rows), 1)
    if zone_key not in table.column_names or not n:
        return unzoned
    zk = _normalize(table.column(zone_key))
    is_str = pa.types.is_string(zk.type)
    if pa.types.is_integer(zk.type) or pa.types.is_timestamp(zk.type):
        try:
            zk = zk.cast(pa.int64())
        except (pa.ArrowInvalid, OverflowError):
            return unzoned
    elif not is_str:
        return unzoned
    zones = []
    for start in range(0, n, block_rows):
        z = zk.slice(start, block_rows)
        mm = pc.min_max(z)
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
        live = z.drop_null()
        if mx is None:  # an all-null block stays unzoned
            zones.append((None,) * 5)
        elif is_str:
            hi_s = _trunc_bound_hi(mx)
            # keep bounds paired for the null-keep rule
            lo_s = _trunc_bound_lo(mn) if hi_s is not None else None
            zones.append((None, None, lo_s, hi_s, bloom_mod.build_bloom(
                bloom_mod.hash_string_array(live), bloom_mod.DOMAIN_BYTES)))
        else:
            zones.append((mn, mx, None, None, bloom_mod.build_bloom(
                bloom_mod.hash_int_array(live.to_numpy()),
                bloom_mod.DOMAIN_INT)))
    return zones


def encode_group(
    table: pa.Table,
    part_id: int,
    salt: int,
    columns: list[str] | None = None,
    sort_key: str | None = None,
    block_rows: int = BLOCK_ROWS,
    selector_cache: dict | None = None,
    zone_key: str | None = None,
) -> pa.Table:
    """Encode one (part_id, salt) group of source rows into block rows.

    ``selector_cache`` is the group's codec plan, ``{column: (codec,
    stats, SymbolTable | None)}``: every column's codec AND trained
    FSST symbol table come from it. The encode task passes the part's
    plan (plan_one_file), so every salt slice of a part shares one
    table — a heavily-salted part would otherwise re-train the same
    column's table once per slice (VERDICT r2 finding 3). FSST's escape
    path keeps any byte sequence encodable, so a table trained on a
    sample is correct for all slices. Without a plan the group plans
    from its own head rows (_plan_head)."""
    cols = columns or [c for c in table.column_names if c not in ("part_id", "salt")]
    plan = (selector_cache if selector_cache is not None
            else _plan_head(table.slice(0, PLAN_SAMPLE_ROWS), cols))
    if sort_key is not None and sort_key in table.column_names:
        table = table.sort_by(sort_key)
    out: dict[str, list] = {name: [] for name in BLOCKS_SCHEMA.names}
    n = table.num_rows
    zones = _block_zones(table, zone_key, block_rows)
    for col_name in cols:
        arr = _normalize(table.column(col_name))
        codec, stats, fsst_table = plan[col_name]
        params = json.dumps({"stats": stats}, separators=(",", ":"))
        # an empty group still writes one (empty) block per column
        for seq, start in enumerate(range(0, max(n, 1), block_rows)):
            payload, meta = encode_array(arr.slice(start, block_rows), codec,
                                         fsst_table=fsst_table)
            key_lo, key_hi, key_lo_s, key_hi_s, bloom = zones[seq]
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
            out["key_lo"].append(key_lo)
            out["key_hi"].append(key_hi)
            out["key_lo_s"].append(key_lo_s)
            out["key_hi_s"].append(key_hi_s)
            # the Bloom rides only on the zone key's own block rows
            out["key_bloom"].append(bloom if col_name == zone_key else None)
    return pa.table(out, schema=BLOCKS_SCHEMA)


# head rows of a file that its codec plan samples (plan_one_file)
PLAN_SAMPLE_ROWS = 16384


def _head_group(pf) -> int | None:
    """Index of the file's first non-empty row group, whose first
    PLAN_SAMPLE_ROWS rows the codec plan samples; None if it has none."""
    md = pf.metadata
    return next((g for g in range(md.num_row_groups)
                 if md.row_group(g).num_rows), None)


def _file_head(pf, columns: list[str]) -> pa.Table | None:
    """The file's plan sample (see _head_group), read on its own:
    streams just those rows instead of materializing the whole (8-128
    MB) row group; None when every row group is empty."""
    g = _head_group(pf)
    if g is None:
        return None
    first = next(iter(pf.iter_batches(
        batch_size=PLAN_SAMPLE_ROWS, row_groups=[g],
        columns=columns, use_threads=False,
    )))
    return pa.Table.from_batches([first]).slice(0, PLAN_SAMPLE_ROWS)


def plan_one_file(
    path: str,
    columns: list[str],
    forced_codecs: dict[str, str] | None = None,
) -> list[tuple[str, str, str, bytes | None]]:
    """Codec plan for one data file: (column, codec, params_json,
    serialized_fsst_table|None) per column, selected (and FSST
    trained) ONCE on a bounded sample, the first min(PLAN_SAMPLE_ROWS,
    row-group rows) rows of its first non-empty row group. It depends
    only on the file, so every salt slice of a part gets the same
    codecs and symbol tables whichever task encodes it. A file without
    rows has no plan (``[]``). The encode task plans each part it meets
    (make_direct_encoder) from the same sample."""
    import pyarrow.parquet as pq

    head = _file_head(pq.ParquetFile(path), columns)
    if head is None:
        return []
    return [(c, codec, json.dumps(stats), ft.serialize() if ft else None)
            for c, (codec, stats, ft)
            in _plan_head(head, columns, forced_codecs).items()]


def _plan_head(
    tbl: pa.Table,
    columns: list[str],
    forced_codecs: dict[str, str] | None = None,
) -> dict[str, tuple[str, dict, SymbolTable | None]]:
    """The codec plan ``{column: (codec, stats, SymbolTable | None)}``
    of a file's (or group's) head rows already in hand."""
    out: dict[str, tuple[str, dict, SymbolTable | None]] = {}
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
        out[col_name] = (codec, {**stats, "stats_scope": "part-head-sample"},
                         ft)
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
    and encodes every slice of it with that plan, so no slice
    re-selects or re-trains. The plan samples plan_one_file's rows,
    the first min(PLAN_SAMPLE_ROWS, row-group rows) rows of the file's
    first non-empty row group. When the slice the task has just read
    starts at the file's first row, those rows come from that slice;
    otherwise the task reads them from the file again (_file_head).
    Tasks that split a part's slices plan it each, in parallel, to the
    same result; a part without rows plans from its empty slice."""

    def encode_tasks(batches):
        import pyarrow.parquet as pq

        plans: dict[int, dict] = {}  # part_id -> codec plan
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
                    # a slice read from the file's first row holds the
                    # rows plan_one_file samples: plan from them (row
                    # groups before the head group are empty)
                    g = _head_group(pf)
                    if g is None:  # no rows: plan the empty slice
                        sample = tbl
                    else:
                        need = min(PLAN_SAMPLE_ROWS,
                                   pf.metadata.row_group(g).num_rows)
                        sample = (head.slice(0, need) if rgs[0] <= g
                                  and head is not None
                                  and need <= head.num_rows
                                  else _file_head(pf, columns))
                    plans[pid] = _plan_head(sample, columns, forced_codecs)
                out = encode_group(
                    tbl,
                    pid,
                    int(row["salt"]),
                    columns=columns,
                    sort_key=sort_key,  # Arrow sort inside the task
                    block_rows=block_rows,
                    selector_cache=plans[pid],
                    zone_key=sort_key,
                )
                yield from out.to_batches()

    return encode_tasks


# one row per (written file, part, column): the encode task's own
# aggregate of its blocks' metadata (merge_part_meta), returned through
# the encode job so the driver never re-reads a written footer
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
TASK_META_DDL = ddl_of(_TASK_META_SCHEMA)


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


# payload bytes per block-file row group (make_task_writer)
TASK_ROW_GROUP_BYTES = 32 << 20


def make_task_writer(encode_fn, out_dir: str):
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
    groups are flushed every ~TASK_ROW_GROUP_BYTES of payload so the
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
            if pend_bytes >= TASK_ROW_GROUP_BYTES:
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
                 column_map: dict[str, str] | None = None,
                 pruned: bool = False) -> pa.Table:
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
    block that appears twice, or that the codecs cannot decode (a
    corrupt or truncated payload), raises a ``ValueError`` naming the
    part, salt, column and ``block_seq``. Unless ``pruned`` (zone-map
    or Bloom pruning dropped blocks on purpose), each projected
    column's ``block_seq`` must run 0..k-1: a gap raises a
    ``ValueError`` naming the missing block. A lost last block needs
    per-group counts and is not caught here.
    """
    table = table.sort_by([("column", "ascending"), ("block_seq", "ascending")])
    cols_present = table.column("column").to_pylist()
    seqs = table.column("block_seq").to_pylist()
    payloads = table.column("payload").to_pylist()
    n_values = table.column("n_values").to_pylist()
    wanted = {f.name for f in schema}
    by_col: dict[str, list[pa.Array]] = {}
    stored: dict[str, int] = {}

    def block(i: int, name: str, seq: int | None = None) -> str:
        return (f"part {table.column('part_id')[i].as_py()} salt "
                f"{table.column('salt')[i].as_py()} column {name!r} "
                f"block_seq {seqs[i] if seq is None else seq}")

    for i, (name, payload) in enumerate(zip(cols_present, payloads)):
        if i and (name, seqs[i]) == (cols_present[i - 1], seqs[i - 1]):
            raise ValueError(f"{block(i, name)}: duplicate block")
        if column_map is not None:
            name = column_map.get(name, name)
        if name not in wanted:  # projection: don't decode dropped columns
            continue
        want = (seqs[i - 1] + 1
                if i and cols_present[i - 1] == cols_present[i] else 0)
        if not pruned and seqs[i] != want:
            raise ValueError(f"{block(i, name, want)}: missing block")
        try:
            arr = decode_array(payload)
        except Exception as e:
            raise ValueError(
                f"{block(i, name)}: cannot decode block: {e}") from e
        by_col.setdefault(name, []).append(arr)
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
        if len(arr) != n or stored[name] != n:
            salt = table.column("salt")[0].as_py()
            raise ValueError(
                f"part {pid} salt {salt} column {name!r}: decoded "
                f"{len(arr)} rows, its blocks' n_values sum to "
                f"{stored[name]}, the group has {n} — "
                "a block is missing, extra or corrupt")
    if not decoded and table.num_rows:
        # SCHEMA EVOLUTION, a lone group from engine._decode_view's
        # decode task: none of the projected columns exist in this
        # part's blocks (it passes their metadata rows, payloads null),
        # but the part still has rows — count them from one stored
        # column's n_values so the null rows are emitted.
        first_col = cols_present[0]
        n = sum(nv for name, nv in zip(cols_present, n_values)
                if name == first_col)
    # SCHEMA EVOLUTION: a column added to the table after this part was
    # encoded doesn't exist in its blocks — decode it as nulls (Iceberg
    # add-column read semantics).
    arrays = [decoded[f.name] if f.name in decoded
              else pa.nulls(n, type=output_type(f.type)) for f in schema]
    arrays.append(pa.array(np.full(n, pid, dtype=np.int32)))
    return pa.table(arrays, names=schema.names + ["part_id"])
