"""The three workloads. Each has a set-up phase (repeated, median taken)
and a closed-loop timed phase with one client; every operation runs
under its own Spark job group and is checked against the oracle.

Each workload times two operation kinds, ``op1`` and ``op2``:

==================  ==============  =========================
workload            op1             op2
==================  ==============  =========================
webtext_roundtrip   encode          decode (full JVM hash)
key_lookup          point probe     l_orderkey window
append_commits      commit          HEAD decode (tombstones)
==================  ==============  =========================
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from inputs import LINEITEM_KEY, WEBTEXT_KEY

# Sizes. "full" is what the benchmark measures; "tiny" only exercises
# every call once (the smoke test).
SCALES = {
    "full": {"webtext_rows": 12_000, "webtext_files": 4,
             "lookup_webtext_rows": 24_000, "lookup_webtext_files": 12,
             "lineitem_rows": 600_000, "append_files": 4,
             "append_rows": 2_500, "setup_reps": 3, "window_keys": 2_000},
    "tiny": {"webtext_rows": 2_000, "webtext_files": 4,
             "lookup_webtext_rows": 2_000, "lookup_webtext_files": 4,
             "lineitem_rows": 20_000, "append_files": 4,
             "append_rows": 300, "setup_reps": 2, "window_keys": 200},
}
DELETE_EVERY = 2      # append_commits: delete_rows after every 2nd commit
DELETE_KEYS = 25      # keys tombstoned per delete
HEAD_DECODES = 3      # append_commits: HEAD decodes that end a round
ABSENT_EVERY = 10     # key_lookup: one point probe in 10 is on an absent key
REF_ROWS = 50_000    # rows of the reference job


class Run:
    """State of one benchmark run: session, tracer, seeded RNG, the
    run-scoped directory and the record of every operation."""

    def __init__(self, spark, tracer, root: str, seed: int, scale: str):
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.seed = seed
        self.size = SCALES[scale]
        self.rng = np.random.default_rng(seed)
        self.ops: list[dict] = []
        self.setup_secs: list[float] = []
        self.once_secs: dict[str, float] = {}
        self.ratios: list[float] = []
        self.ref_secs: list[float] = []
        self.state: dict = {}  # what the traced replay needs
        # iterations of the timed window cycle through these: untraced
        # (False) or traced (True); a traced run measures both so it
        # can report its own overhead
        self.phases = [False, True] if tracer.enabled else [False]

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def reference(self) -> None:
        """Run and time the reference job: a fixed Spark job that calls
        no library code but crosses the same layers as the operations
        (a job per call, Python workers, Arrow batches, numpy and Arrow
        kernels, a JVM hash aggregate). Host speed on a shared machine
        moves by a third within minutes; it moves this job as much as
        the operations, so the ``*_rel`` metrics divide it out."""
        def batches(it):
            for b in it:
                ids = b.column(0)
                h = ((ids.to_numpy().astype(np.uint64)
                      * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(40))
                text = pc.binary_join_element_wise(
                    pc.cast(pa.array(h), pa.string()),
                    pc.cast(ids, pa.string()), "/")
                yield pa.record_batch(
                    [pa.array(np.sort(h).astype(np.int64)),
                     text.take(pc.sort_indices(text))], names=["v", "s"])

        sc = self.spark.sparkContext
        sc.setJobGroup(f"ref-{len(self.ref_secs):04d}", "reference")
        t0 = time.time()
        try:
            (self.spark.range(0, REF_ROWS,
                              numPartitions=sc.defaultParallelism)
             .mapInArrow(batches, "v long, s string")
             .agg(F.count(F.lit(1)),
                  F.sum(F.xxhash64("s").cast("decimal(38,0)")))
             .collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.ref_secs.append(time.time() - t0)

    @contextmanager
    def op(self, kind: str, reference: bool = True):
        """One timed operation, after a run of the reference job (if
        ``reference``). An exception or a wrong result marks it failed;
        the run continues."""
        if reference:
            self.reference()
        oid = f"op-{len(self.ops):04d}-{kind}"
        sc = self.spark.sparkContext
        sc.setJobGroup(oid, kind)
        self.tracer.op_id = oid
        rec = {"id": oid, "kind": kind, "start": time.time(), "end": None,
               "ok": False, "wrong": False, "traced": self.tracer.enabled}
        self.ops.append(rec)
        try:
            with self.tracer.span(kind):
                yield rec
            rec["ok"] = not rec["wrong"]
        except Exception:  # boundary: record, count as failed, go on
            rec["error"] = traceback.format_exc()
            print(f"[perfbench] {oid} raised:\n{rec['error']}",
                  file=sys.stderr)
        finally:
            rec["end"] = time.time()
            print(f"[perfbench] {oid} {1e3 * (rec['end'] - rec['start']):.0f}"
                  f" ms {'ok' if rec['ok'] else 'FAILED'}", file=sys.stderr)
            if rec["wrong"]:
                print(f"[perfbench] {oid} returned wrong rows",
                      file=sys.stderr)
            self.tracer.op_id = None
            sc.setLocalProperty("spark.jobGroup.id", None)

    def setup(self, prep):
        """Run ``prep(i)`` (input generation) setup_reps times, each in
        a fresh directory; keep the last result and record each
        duration."""
        result = None
        for i in range(self.size["setup_reps"]):
            if result is not None:
                for d in result.get("dirs", ()):
                    shutil.rmtree(d, ignore_errors=True)
            t0 = time.time()
            with self.tracer.span("setup"):
                result = prep(i)
            self.setup_secs.append(time.time() - t0)
        return result

    def warm_up(self, fn) -> None:
        """The once-per-run warm-up: ``fn`` (a first operation of each
        timed kind) and two reference jobs; none of them is a sample."""
        def both():
            fn()
            self.reference()
            self.reference()

        self.once("warmup", both)
        self.ref_secs.clear()

    def window(self, seconds: float):
        """Yield iteration numbers until the timed window closes (at
        least one). A traced run alternates untraced and traced
        iterations, so both see the same stage of the session."""
        end = time.time() + seconds
        i, last = 0, 0.0
        # no iteration starts that would end more than half of one
        # past the window
        while i < len(self.phases) or time.time() + last / 2 < end:
            self.tracer.enabled = self.phases[i % len(self.phases)]
            t0 = time.time()
            yield i
            last = time.time() - t0
            i += 1
        self.tracer.enabled = self.phases[-1]

    def replay_probes(self, src: str, key: str, n: int = 20) -> None:
        """Probe keys for the traced replay of zone bounds and Bloom
        filters (no Spark job): seeded keys of the table, one in ten
        made absent."""
        keys = pq.read_table(src, columns=[key]).column(0)
        self.state["probes"] = [
            (keys[int(j)].as_py()
             + ("-absent" if i % ABSENT_EVERY == ABSENT_EVERY // 2 else ""),
             None)
            for i, j in enumerate(self.rng.integers(0, len(keys), n))]

    def once(self, name: str, fn):
        """A set-up step done once per run (oracle digests, warm-up
        operations); its time counts towards set-up."""
        t0 = time.time()
        with self.tracer.span(name):
            out = fn()
        self.once_secs[name] = time.time() - t0
        return out


def block_stats(out_dir: str) -> dict:
    """Layout and payload sizes of the committed blocks at HEAD, read
    from the block files' metadata columns (payloads untouched)."""
    from libgiddy_spark.meta import file_rows

    dirs = sorted({r[1] for r in file_rows(out_dir)})
    files = sorted(f for d in dirs for f in glob.glob(
        os.path.join(out_dir, "blocks", d, "*.parquet")))
    cols = ["part_id", "salt", "column", "codec", "raw_bytes", "enc_bytes"]
    t = pa.concat_tables([pq.read_table(f, columns=cols) for f in files])
    groups = {(p, s) for p, s in zip(t.column("part_id").to_pylist(),
                                     t.column("salt").to_pylist())}
    return {
        "files": len(files),
        "groups": len(groups),
        "row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups
                          for f in files),
        "disk_mb": sum(os.path.getsize(f) for f in files) / 1e6,
        "raw_bytes": int(pc.sum(t.column("raw_bytes")).as_py()),
        "enc_bytes": int(pc.sum(t.column("enc_bytes")).as_py()),
        "codecs": {r["codec"]: r for r in t.group_by("codec").aggregate(
            [("raw_bytes", "sum"), ("enc_bytes", "sum"),
             ("codec", "count")]).to_pylist()},
        "files_list": files,
    }


# -- round trips -----------------------------------------------------------

def webtext_roundtrip(run: Run, seconds: float) -> None:
    spark, z, span = run.spark, run.size, run.tracer.span
    key = WEBTEXT_KEY
    from libgiddy_spark.engine import decode_blocks, encode_snapshot

    def prep(i):
        src = run.path(f"src{i}")
        inputs.write_webtext(spark, src, z["webtext_rows"], run.seed,
                             z["webtext_files"])
        return {"src": src, "dirs": [src]}

    src = run.setup(prep)["src"]
    schema = inputs.source_schema(src)
    cols = schema.names
    expect = run.once("oracle", lambda: inputs.hash_digest(
        spark.read.parquet(src), cols))
    run.state.update(src=src, key=key, raw_bytes=inputs.raw_bytes(src))

    def full_size_warm_up():
        # the first round trips of a session run slower than the rest
        # (workers start, kernels load; encodes settle after the second),
        # so they are set-up, not samples
        for i in range(2):
            out = run.path(f"warm_full{i}")
            encode_snapshot(spark, src, out, key_col=key)
            inputs.hash_digest(decode_blocks(spark, out, schema), cols)
            shutil.rmtree(out, ignore_errors=True)

    run.warm_up(full_size_warm_up)
    for i in run.window(seconds):
        out = run.path(f"enc{i}")
        with run.op("encode"), span("engine.encode_snapshot"):
            encode_snapshot(spark, src, out, key_col=key)
        with run.op("decode", reference=False) as rec:
            with span("engine.decode_blocks"):
                dec = decode_blocks(spark, out, schema)
            with span("spark.hash_scan"):
                got = inputs.hash_digest(dec.select(*cols), cols)
            if got != expect:
                rec["wrong"] = True
        if os.path.exists(os.path.join(out, "manifest.jsonl")):
            bs = block_stats(out)
            run.ratios.append(bs["enc_bytes"] / bs["raw_bytes"])
            if "out" in run.state:
                shutil.rmtree(out, ignore_errors=True)
            else:
                run.state.update(out=out, blocks=bs)
    run.replay_probes(src, key)


# -- key lookups -----------------------------------------------------------

def key_lookup(run: Run, seconds: float) -> None:
    spark, z, span = run.spark, run.size, run.tracer.span
    from libgiddy_spark.engine import decode_blocks, encode_snapshot

    def prep(i):
        wt_src, li_src = run.path(f"wt_src{i}"), run.path(f"li_src{i}")
        inputs.write_webtext(spark, wt_src, z["lookup_webtext_rows"],
                             run.seed, z["lookup_webtext_files"])
        inputs.write_lineitem(li_src, z["lineitem_rows"], run.seed)
        return {"wt": wt_src, "li": li_src, "dirs": [wt_src, li_src]}

    s = run.setup(prep)
    wt_src, li_src = s["wt"], s["li"]
    wt_out, li_out = run.path("wt_out"), run.path("li_out")
    run.once("encode_tables", lambda: (
        encode_snapshot(spark, wt_src, wt_out, key_col=WEBTEXT_KEY),
        encode_snapshot(spark, li_src, li_out, key_col=LINEITEM_KEY)))
    wt_schema = inputs.source_schema(wt_src)
    li_schema = inputs.source_schema(li_src)
    wt, li = run.once("oracle", lambda: (
        pq.read_table(wt_src), inputs.comparable(pq.read_table(li_src))))
    li_keys = li.column(LINEITEM_KEY).to_numpy()
    urls = wt.column(WEBTEXT_KEY)
    wt_bs, li_bs = block_stats(wt_out), block_stats(li_out)
    run.ratios.append((wt_bs["enc_bytes"] + li_bs["enc_bytes"])
                      / (wt_bs["raw_bytes"] + li_bs["raw_bytes"]))
    run.state.update(src=wt_src, out=wt_out, key=WEBTEXT_KEY,
                     blocks=wt_bs, li_src=li_src, li_out=li_out,
                     li_blocks=li_bs, probes=[], windows=[],
                     raw_bytes=inputs.raw_bytes(wt_src)
                     + inputs.raw_bytes(li_src))
    n_orders = int(li_keys.max()) + 1
    width = z["window_keys"]

    def point(k: str):
        exp = inputs.comparable(wt.filter(pc.equal(urls, k)))
        with run.op("point") as rec:
            with span("engine.decode_blocks"):
                dec = decode_blocks(spark, wt_out, wt_schema, key_point=k)
            with span("spark.collect"):
                got = (dec.filter(F.col(WEBTEXT_KEY) == k)
                       .select(*wt_schema.names).toArrow())
            if not inputs.comparable(got).equals(exp):
                rec["wrong"] = True
        run.state["probes"].append((k, len(exp)))

    def window(lo: int):
        hi = lo + width - 1
        exp = li.filter(pa.array((li_keys >= lo) & (li_keys <= hi)))
        with run.op("window") as rec:
            with span("engine.decode_blocks"):
                dec = decode_blocks(spark, li_out, li_schema,
                                    key_range=(lo, hi))
            with span("spark.collect"):
                got = (dec.filter(F.col(LINEITEM_KEY).between(lo, hi))
                       .select(*li_schema.names).toArrow())
            if not inputs.comparable(got).equals(exp):
                rec["wrong"] = True
        run.state["windows"].append((lo, hi))

    # Every run probes the same mix: point i is absent iff i % 10 == 5,
    # and window starts follow a golden-ratio sequence from a seeded
    # offset, so they cover the key space evenly even in a short run
    # (random draws made the mix, and with it the medians, differ
    # between seeds).
    counter = {"point": 0, "window": 0}
    offset = run.rng.random()

    def next_key() -> str:
        i = counter["point"]
        counter["point"] += 1
        k = urls[int(run.rng.integers(0, len(urls)))].as_py()
        return k + "-absent" if i % ABSENT_EVERY == ABSENT_EVERY // 2 else k

    def next_lo() -> int:
        i = counter["window"]
        counter["window"] += 1
        frac = (offset + i * 0.6180339887498949) % 1.0
        return int(frac * max(n_orders - width, 1))

    def warm_probes():
        # the first probe of each kind in a session loads the decode
        # path into the workers; it is set-up, not a sample
        k = urls[0].as_py()
        (decode_blocks(spark, wt_out, wt_schema, key_point=k)
         .filter(F.col(WEBTEXT_KEY) == k).toArrow())
        (decode_blocks(spark, li_out, li_schema, key_range=(0, width))
         .filter(F.col(LINEITEM_KEY).between(0, width)).toArrow())

    run.warm_up(warm_probes)
    for _ in run.window(seconds):
        point(next_key())
        window(next_lo())


# -- append commits --------------------------------------------------------

def append_commits(run: Run, seconds: float) -> None:
    """Each round commits ``append_files`` webtext files one snapshot
    at a time into a fresh table, tombstones keys after every 2nd
    commit, and ends by decoding HEAD through the tombstones
    ``HEAD_DECODES`` times. Rounds repeat until the window closes, so
    every round measures the same manifest growth."""
    spark, z, span = run.spark, run.size, run.tracer.span
    from libgiddy_spark.engine import (
        decode_blocks, delete_rows, encode_snapshot)

    def prep(i):
        staging = run.path(f"staging{i}")
        inputs.write_webtext(spark, staging, z["append_files"]
                             * z["append_rows"], run.seed, z["append_files"])
        return {"staging": staging, "dirs": [staging]}

    staging = run.setup(prep)["staging"]
    files = sorted(glob.glob(os.path.join(staging, "*.parquet")))
    schema = inputs.source_schema(staging)
    cols = schema.names
    hashes = run.once("oracle", lambda: inputs.row_hashes(
        spark.read.parquet(staging), WEBTEXT_KEY, cols))
    hash_keys = hashes.column("_key")
    file_keys = [pq.read_table(f, columns=[WEBTEXT_KEY]).column(0)
                 for f in files]

    def expected(live: pa.Array) -> dict:
        sel = hashes.filter(pc.is_in(hash_keys, value_set=live))
        out = {"_rows": sel.num_rows}
        for c in cols:
            v = sel.column(c).to_numpy().astype(np.int64)
            out[c] = int((v >> 32).sum()) * (1 << 32) + int(
                (v & 0xFFFFFFFF).sum())
        return out

    def head_decode(out: str, live: list, deleted: set, ref: bool) -> None:
        pool = pa.concat_arrays([a.combine_chunks() for a in live])
        exp = expected(pc.filter(pool, pc.invert(pc.is_in(
            pool, value_set=pa.array(sorted(deleted), pa.string())))))
        with run.op("head_decode", reference=ref) as rec:
            with span("engine.decode_blocks"):
                dec = decode_blocks(spark, out, schema)
            with span("spark.hash_scan"):
                got = inputs.hash_digest(dec.select(*cols), cols)
            if got != exp:
                rec["wrong"] = True

    def one_round(r: int) -> None:
        src, out = run.path(f"app_src{r}"), run.path(f"app_out{r}")
        os.makedirs(src)
        live: list[pa.Array] = []
        deleted: set[str] = set()
        for i, f in enumerate(files):
            shutil.copyfile(f, os.path.join(src, os.path.basename(f)))
            live.append(file_keys[i])
            with (run.op("commit", reference=i == 0),
                  span("engine.encode_snapshot")):
                encode_snapshot(spark, src, out, key_col=WEBTEXT_KEY)
            if (i + 1) % DELETE_EVERY == 0:
                pool = pa.concat_arrays([a.combine_chunks() for a in live])
                keys = [k for k in pool.take(pa.array(run.rng.choice(
                    len(pool), DELETE_KEYS, replace=False))).to_pylist()
                    if k not in deleted]
                deleted.update(keys)
                with (run.op("delete", reference=False),
                      span("engine.delete_rows")):
                    delete_rows(out, WEBTEXT_KEY, keys)
        for j in range(HEAD_DECODES):
            head_decode(out, live, deleted, ref=j == 0)
        bs = block_stats(out)
        run.ratios.append(bs["enc_bytes"] / bs["raw_bytes"])
        if "out" not in run.state:
            run.state.update(src=src, out=out, key=WEBTEXT_KEY, blocks=bs,
                             raw_bytes=inputs.raw_bytes(src),
                             op_files=len(files))
            run.replay_probes(src, WEBTEXT_KEY)
            return
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)

    def warm_commit():
        # a session's first commit, delete and decode run several times
        # slower than later ones; they are set-up, not samples
        src, out = run.path("warm_src"), run.path("warm_out")
        os.makedirs(src)
        shutil.copyfile(files[0],
                        os.path.join(src, os.path.basename(files[0])))
        encode_snapshot(spark, src, out, key_col=WEBTEXT_KEY)
        delete_rows(out, WEBTEXT_KEY, [file_keys[0][0].as_py()])
        inputs.hash_digest(decode_blocks(spark, out, schema), cols)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)

    run.warm_up(warm_commit)
    for r in run.window(seconds):
        one_round(r)


WORKLOADS = {
    "webtext_roundtrip": (webtext_roundtrip, "encode", "decode"),
    "key_lookup": (key_lookup, "point", "window"),
    "append_commits": (append_commits, "commit", "head_decode"),
}


def latency_summary(ops: list[dict], kind: str,
                    traced: bool = False) -> dict | None:
    """Median and tail (ms) of the ok ops of one kind. The tail is the
    highest percentile with at least ten samples beyond it; with fewer
    than 11 samples there is none."""
    mine = [o for o in ops
            if o["kind"] == kind and o["ok"] and o["traced"] == traced]
    xs = sorted((o["end"] - o["start"]) * 1e3 for o in mine)
    if not xs:
        return None
    out = {"p50_ms": statistics.median(xs), "n": len(xs)}

    if len(xs) >= 11:
        pct = int(100 * (len(xs) - 10) / len(xs))
        idx = min(len(xs) - 1, int(np.ceil(pct / 100 * len(xs))) - 1)
        out.update(tail_ms=xs[idx], tail_pct=pct)
    return out
