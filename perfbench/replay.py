"""Single-core replay of a workload's inputs and committed blocks
through the library's public functions (traced runs only).

Spark runs the library's layers inside tasks the benchmark cannot see
into without tracing inside the library, so the traced run calls the
same public functions on the driver, one core, on the workload's own
files, and times each call. Replays are bounded: at most
``REPLAY_FILES`` source files and ``REPLAY_ROWS`` rows per file.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPLAY_FILES = 2
REPLAY_ROWS = 262_144
REPEATS = 5  # cheap metadata calls: median of this many


def _median_time(fn, reps: int = REPEATS) -> tuple[float, object]:
    ts, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts), out


def replay(run, tracer) -> dict:
    st = run.state
    tables = [(st["src"], st["key"])]
    if "li_src" in st:
        tables.append((st["li_src"], "l_orderkey"))
    with tracer.span("replay"):
        out = _metadata(st, tracer)
        out.update(_blocks(tables, tracer, run.path("replay")))
        if "probes" in st:
            out.update(_lookups(st, tracer))
    return out


def _metadata(st: dict, tracer) -> dict:
    from libgiddy_spark.manifest import Manifest
    from libgiddy_spark.meta import file_rows
    from libgiddy_spark.skew import footer_byte_stats
    from libgiddy_spark.table_io import list_parquet_files

    src, out_dir = st["src"], st["out"]
    with tracer.span("table_io.list_parquet_files"):
        list_s, files = _median_time(lambda: list_parquet_files(src))
    parts = [(i, rel) for i, (rel, _size) in enumerate(files)]
    with tracer.span("skew.footer_byte_stats"):
        footer_s, _ = _median_time(
            lambda: footer_byte_stats(src, parts, ["html", "text"]))
    with tracer.span("manifest.Manifest.read"):
        read_s, entries = _median_time(lambda: Manifest(out_dir).read())
    with tracer.span("meta.file_rows"):
        rows_s, _ = _median_time(lambda: file_rows(out_dir))
    return {
        "table_io.list_ms": list_s * 1e3,
        "skew.footer_stats_ms": footer_s * 1e3,
        "manifest.read_ms": read_s * 1e3,
        "manifest.lines": len(entries),
        "manifest.kb": os.path.getsize(
            os.path.join(out_dir, "manifest.jsonl")) / 1024,
        "meta.file_rows_ms": rows_s * 1e3,
    }


def _blocks(tables: list[tuple[str, str]], tracer, scratch: str) -> dict:
    """Plan, select, encode, write, read back and decode a sample of
    each (source dir, sort key) through blocks/selector/codecs, timing
    kernels per codec."""
    from libgiddy_spark.blocks import (
        decode_group, encode_group, plan_one_file)
    from libgiddy_spark.codecs import decode_array, encode_array
    from libgiddy_spark.codecs.fsst import SymbolTable
    from libgiddy_spark.selector import select_codec
    from libgiddy_spark.table_io import abs_file_of, list_parquet_files

    os.makedirs(scratch, exist_ok=True)
    acc = {"plan_s": 0.0, "select_s": 0.0, "read_s": 0.0, "group_s": 0.0,
           "write_s": 0.0, "bread_s": 0.0, "dgroup_s": 0.0, "sample_raw": 0}
    per_codec: dict[str, dict] = {}
    sample = [(abs_file_of(src, rel), key) for src, key in tables
              for rel, _size in list_parquet_files(src)[:REPLAY_FILES]]
    for pid, (path, key) in enumerate(sample):
        schema = pq.read_schema(path)
        cols = schema.names
        with tracer.span("blocks.plan_one_file"):
            t0 = time.perf_counter()
            plan = plan_one_file(path, cols)
            acc["plan_s"] += time.perf_counter() - t0
        with tracer.span("blocks.read"):
            t0 = time.perf_counter()
            tbl = pq.read_table(path).slice(0, REPLAY_ROWS)
            acc["read_s"] += time.perf_counter() - t0
        head = tbl.slice(0, 16384)
        with tracer.span("selector.select_codec"):
            t0 = time.perf_counter()
            for c in cols:
                select_codec(head.column(c).combine_chunks(), c)
            acc["select_s"] += time.perf_counter() - t0
        cache = {c: (codec, {}, SymbolTable.deserialize(ft) if ft else None)
                 for c, codec, _params, ft in plan}
        with tracer.span("blocks.encode_group") as sp:
            t0 = time.perf_counter()
            blocks = encode_group(tbl, pid, 0, sort_key=key, zone_key=key,
                                  selector_cache=dict(cache))
            acc["group_s"] += time.perf_counter() - t0
        bpath = os.path.join(scratch, f"blocks-{pid}.parquet")
        with tracer.span("blocks.write"):
            t0 = time.perf_counter()
            pq.write_table(blocks, bpath, compression="none",
                           use_dictionary=False)
            acc["write_s"] += time.perf_counter() - t0
        with tracer.span("blocks.block_read"):
            t0 = time.perf_counter()
            blocks = pq.read_table(bpath)
            acc["bread_s"] += time.perf_counter() - t0
        # kernels, per block, on this workload's own blocks
        for col, codec, payload, raw in zip(
                blocks.column("column").to_pylist(),
                blocks.column("codec").to_pylist(),
                blocks.column("payload").to_pylist(),
                blocks.column("raw_bytes").to_pylist()):
            pc_ = per_codec.setdefault(
                codec, {"enc_s": 0.0, "dec_s": 0.0, "raw": 0})
            with tracer.span(f"codecs.decode_array.{codec}"):
                t0 = time.perf_counter()
                arr = decode_array(payload)
                pc_["dec_s"] += time.perf_counter() - t0
            ft = cache[col][2]
            with tracer.span(f"codecs.encode_array.{codec}"):
                t0 = time.perf_counter()
                encode_array(arr, codec, fsst_table=ft)
                pc_["enc_s"] += time.perf_counter() - t0
            pc_["raw"] += raw
            acc["sample_raw"] += raw
        if sp is not None:
            sp["rows"] = tbl.num_rows
        with tracer.span("blocks.decode_group"):
            t0 = time.perf_counter()
            decode_group(blocks, schema)
            acc["dgroup_s"] += time.perf_counter() - t0
    enc_k = sum(c["enc_s"] for c in per_codec.values())
    dec_k = sum(c["dec_s"] for c in per_codec.values())
    out = {
        "blocks.plan_s": acc["plan_s"],
        "selector.select_ms": acc["select_s"] * 1e3,
        "blocks.read_s": acc["read_s"],
        "blocks.encode_group_self_s": acc["group_s"] - enc_k,
        "blocks.decode_group_self_s": acc["dgroup_s"] - dec_k,
        "blocks.write_s": acc["write_s"],
        "blocks.block_read_s": acc["bread_s"],
        "replay.raw_mb": acc["sample_raw"] / 1e6,
        "replay.enc_kernel_s": enc_k,
        "replay.dec_kernel_s": dec_k,
    }
    for codec, c in per_codec.items():
        mb = c["raw"] / 1e6
        out[f"codecs.{codec}.enc_mbps"] = mb / max(c["enc_s"], 1e-9)
        out[f"codecs.{codec}.dec_mbps"] = mb / max(c["dec_s"], 1e-9)
    return out


def _windows(st: dict):
    """(lo, hi, block key_lo, block key_hi, block keys) per window of a
    key_lookup run; nothing for other workloads."""
    from libgiddy_spark.codecs import decode_array

    if not st.get("windows"):
        return
    li = pa.concat_tables([pq.read_table(
        f, columns=["payload", "key_lo", "key_hi"],
        filters=[("column", "=", "l_orderkey")])
        for f in st["li_blocks"]["files_list"]])
    k_lo = np.array(li.column("key_lo").to_pylist(), dtype=np.float64)
    k_hi = np.array(li.column("key_hi").to_pylist(), dtype=np.float64)
    keys = [decode_array(p).to_numpy()
            for p in li.column("payload").to_pylist()]
    for lo, hi in st["windows"]:
        yield lo, hi, k_lo, k_hi, keys


def _lookups(st: dict, tracer) -> dict:
    """Zone maps and Bloom filters replayed for the run's probe keys
    (and key_lookup's windows) over the committed key-column blocks."""
    from libgiddy_spark.bloom import (
        bloom_might_contain, build_bloom, domain_of, hash_string_array,
        hash_value)
    from libgiddy_spark.codecs import decode_array

    wt = pa.concat_tables([pq.read_table(
        f, columns=["payload", "key_lo_s", "key_hi_s", "key_bloom"],
        filters=[("column", "=", st["key"])])
        for f in st["blocks"]["files_list"]])
    wt_keys = [decode_array(p) for p in wt.column("payload").to_pylist()]
    lo_s = wt.column("key_lo_s").to_pylist()
    hi_s = wt.column("key_hi_s").to_pylist()
    blooms = wt.column("key_bloom").to_pylist()
    with tracer.span("bloom.build_bloom"):
        t0 = time.perf_counter()
        for arr in wt_keys:
            build_bloom(hash_string_array(arr))
        build_s = time.perf_counter() - t0
    cand = passed = hits = checks = 0
    probe_s = 0.0
    useful, decoded = 0, 0
    key_sets: dict[int, set] = {}
    for k, _n in st["probes"]:
        h, d = hash_value(k), domain_of(k)
        for i in range(len(blooms)):
            if lo_s[i] is not None and not (lo_s[i] <= k <= hi_s[i]):
                continue
            cand += 1
            with tracer.span("bloom.bloom_might_contain"):
                t0 = time.perf_counter()
                ok = bloom_might_contain(blooms[i], h, d)
                probe_s += time.perf_counter() - t0
            checks += 1
            if ok:
                passed += 1
                decoded += 1
                if i not in key_sets:
                    key_sets[i] = set(wt_keys[i].to_pylist())
                has = k in key_sets[i]
                hits += has
                useful += has
    # zone maps: share of key blocks whose bounds hold the probe, and of
    # lineitem key blocks whose l_orderkey bounds overlap the window
    kept, total = cand, len(blooms) * len(st["probes"])
    for lo, hi, k_lo, k_hi, li_keys in _windows(st):
        m = ~((k_hi < lo) | (k_lo > hi))
        kept += int(m.sum())
        total += len(m)
        for i in np.flatnonzero(m):
            decoded += 1
            useful += bool(((li_keys[i] >= lo) & (li_keys[i] <= hi)).any())
    n_probes = max(len(st["probes"]), 1)
    return {
        "bloom.build_s": build_s,
        "bloom.probe_us": probe_s / max(checks, 1) * 1e6,
        "bloom.candidate_groups": cand / n_probes,
        "bloom.pruned_frac": 1 - passed / max(cand, 1),
        "bloom.fp_frac": (passed - hits) / max(passed, 1),
        "zone.kept_frac": kept / max(total, 1),
        "lookup.useful_frac": useful / max(decoded, 1),
    }
