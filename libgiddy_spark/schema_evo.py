"""Table-schema registry + FULL schema evolution (add / drop / rename)
and the user-facing :func:`read_table` entry point.

Iceberg evolves schemas as metadata-only commits keyed by field-ids;
this engine's analogue is an indexed ``kind=schema`` manifest line
holding the CURRENT logical schema (arrow IPC), each logical column's
PHYSICAL name history (renames never rewrite data — old blocks keep
their old column name), and the set of retired names. Every read
resolves renames — decode, and so purge, sorted rewrite and the
changelog too — by mapping each block's physical name to its logical
one from the manifest's schema lines (``ReadView.column_map``); no
caller passes a mapping. Resolution is manifest-positional: a read
``as_of`` snapshot X uses the last schema line written before X
joined the branch (the encode path writes its baseline line
immediately before the snapshot header, so a snapshot always sees the
schema it was written under); HEAD uses the newest line — rollback
does NOT revert schema, matching Iceberg.

Without field-ids, one Iceberg behaviour is deliberately refused
rather than approximated: re-adding a column name that old blocks (or
a rename history) already use would resurrect the OLD bytes under the
new column, so :func:`evolve_schema` raises on any name collision with
live, historical, or retired names.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .manifest import Manifest, ReadView

__all__ = ["evolve_schema", "read_table", "table_schema"]


def _ipc_hex(schema: pa.Schema) -> str:
    return schema.serialize().to_pybytes().hex()


def _from_ipc_hex(h: str) -> pa.Schema:
    return pa.ipc.read_schema(pa.BufferReader(bytes.fromhex(h)))


def _line(schema: pa.Schema, phys: dict[str, list[str]],
          retired: list[str]) -> dict:
    return {
        "kind": "schema",
        "ipc": _ipc_hex(schema),
        "phys": phys,
        "retired": sorted(retired),
        "ts": time.time(),
    }


def _append_schema_line(out_dir: str, entry: dict) -> None:
    Manifest(out_dir).append_indexed(entry, [entry])


def _resolve_line(view: ReadView) -> dict | None:
    """The schema line governing a read of ``view`` at its ``as_of``
    (None = HEAD): the last one written before the snapshot joined the
    branch (its header, or its publish entry for WAP snapshots; an
    unpublished staged snapshot audits under its stage header's
    schema)."""
    as_of = view.as_of
    last: dict | None = None
    for e in view.entries:
        k = e.get("kind")
        if k == "schema":
            last = e
        elif (as_of is not None and k == "snapshot"
                and e.get("snapshot_id") == as_of):
            # the header position — a WAP snapshot reads under its
            # STAGE-time schema (the one it was written with), not the
            # schema at publish time
            return last
    return last  # HEAD, or unknown snapshot (engine read paths raise)


def table_schema(
    out_dir: str | ReadView, as_of: str | None = None
) -> tuple[pa.Schema, dict[str, list[str]], set[str]]:
    """(logical schema, physical-name history per logical column,
    retired names) at ``as_of`` (default HEAD). ``out_dir`` may be a
    :class:`ReadView` already read, which brings its own ``as_of``."""
    view = (out_dir if isinstance(out_dir, ReadView)
            else ReadView.read(out_dir, as_of))
    line = _resolve_line(view)
    if line is None:
        raise ValueError(
            f"no schema recorded in {view.out_dir!r} (encode something "
            "first, or evolve_schema on an empty table is meaningless)")
    schema = _from_ipc_hex(line["ipc"])
    phys = {k: list(v) for k, v in line.get("phys", {}).items()}
    for f in schema.names:
        phys.setdefault(f, [f])
    return schema, phys, set(line.get("retired", ()))


def ensure_schema_baseline(view: ReadView, src_schema: pa.Schema) -> None:
    """Record/extend the table schema from an encode's source schema,
    against the HEAD ``view`` the encode plans from: first encode
    writes the baseline; a grown source appends its NEW columns
    (Iceberg add-column via ingestion). Source columns that match a
    rename's historical name are the same logical column under its old
    name (incremental re-encodes of pre-rename files) — not new.
    Called BEFORE the snapshot header so the snapshot reads under the
    schema it was written with."""
    out_dir = view.out_dir
    try:
        cur, phys, retired = table_schema(view)
    except ValueError:
        _append_schema_line(out_dir, _line(
            src_schema, {f: [f] for f in src_schema.names}, []))
        return
    known = set(retired)
    for names in phys.values():
        known.update(names)
    known.update(cur.names)
    new_fields = [f for f in src_schema if f.name not in known]
    if not new_fields:
        return
    out = cur
    for f in new_fields:
        out = out.append(f)
        phys[f.name] = [f.name]
    _append_schema_line(out_dir, _line(out, phys, sorted(retired)))


def evolve_schema(
    out_dir: str,
    add: dict[str, pa.DataType] | None = None,
    drop: list[str] | None = None,
    rename: dict[str, str] | None = None,
) -> dict:
    """Metadata-only schema commit: ``add`` logical columns (decode as
    nulls for every existing row — Iceberg add-column semantics),
    ``drop`` columns (data stays on disk for time travel; the name is
    RETIRED and can never be re-added), ``rename`` columns (no data
    rewrite — old blocks keep the old physical name; reads map it).
    One manifest line; applies to reads at snapshots committed after
    it, time travel keeps each snapshot's own schema."""
    cur, phys, retired = table_schema(out_dir)
    add = dict(add or {})
    drop = list(drop or ())
    rename = dict(rename or {})
    live = set(cur.names)
    historical = set(retired)
    for names in phys.values():
        historical.update(names)

    for old in drop:
        if old not in live:
            raise ValueError(f"cannot drop unknown column {old!r}")
        if old in rename or old in add:
            raise ValueError(f"column {old!r} both dropped and re-used")
    targets = list(rename.values()) + list(add)
    if len(set(targets)) != len(targets):
        raise ValueError(
            f"duplicate target names in one evolution: {sorted(targets)}")
    for old, new in rename.items():
        if old not in live:
            raise ValueError(f"cannot rename unknown column {old!r}")
        if new in live or new in historical or new in add:
            raise ValueError(
                f"rename target {new!r} collides with a live, "
                "historical, or retired column name")
    for name, typ in add.items():
        if name in live or name in historical:
            raise ValueError(
                f"cannot add {name!r}: the name is live or was used "
                "before (old blocks would resurrect under it)")
        if not isinstance(typ, pa.DataType):
            raise TypeError(f"add[{name!r}] must be a pyarrow DataType")

    fields: list[pa.Field] = []
    new_phys: dict[str, list[str]] = {}
    new_retired = set(retired)
    for f in cur:
        if f.name in drop:
            new_retired.update(phys.get(f.name, [f.name]))
            continue
        if f.name in rename:
            new = rename[f.name]
            fields.append(pa.field(new, f.type))
            new_phys[new] = phys.get(f.name, [f.name]) + [new]
        else:
            fields.append(f)
            new_phys[f.name] = phys.get(f.name, [f.name])
    for name, typ in add.items():
        fields.append(pa.field(name, typ))
        new_phys[name] = [name]
    out = pa.schema(fields)
    _append_schema_line(
        out_dir, _line(out, new_phys, sorted(new_retired)))
    return {"columns": out.names, "retired": sorted(new_retired)}


def read_table(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    as_of: str | None = None,
    key_range: tuple | None = None,
    key_point=None,
    part_ids: list[int] | None = None,
) -> DataFrame:
    """THE user-facing read: decode the table under its RECORDED schema
    (current names after renames, dropped columns gone, added columns
    null-filled) — callers never hand-carry a pyarrow schema. All of
    decode's pruning (zone maps, blooms, part filter, time travel)
    passes through; time travel reads under the schema that snapshot
    was written with."""
    from .engine import _decode_view

    # one manifest read plans the whole read: schema, renames, listing
    view = ReadView.read(out_dir, as_of)
    schema = table_schema(view)[0]
    if columns is not None:
        missing = [c for c in columns if c not in set(schema.names)]
        if missing:
            raise ValueError(f"unknown columns {missing}; table has "
                             f"{list(schema.names)}")
        schema = pa.schema([schema.field(c) for c in columns])
    out = _decode_view(spark, view, schema, part_ids, key_range,
                       key_point)
    return out.drop("part_id")
