"""Schema evolution on decode (Iceberg add-column read semantics) and
event-time windowed streaming aggregation (§2.2 streaming)."""

from __future__ import annotations

import os

import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from libgiddy_spark.engine import (
    compact_blocks,
    decode_blocks,
    encode_files,
    encode_snapshot,
)
from libgiddy_spark.manifest import Manifest
from libgiddy_spark.table_io import list_parquet_files

SF = "/root/testdata/sf0.001"


def test_schema_evolution_null_fills_old_parts(spark, tmp_path):
    """A column added AFTER a part was encoded decodes as nulls for that
    part and as real values for post-evolution parts."""
    src_dir = str(tmp_path / "src")
    out = str(tmp_path / "enc")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = docs.filter(F.col("doc_id") < 200)
    b = docs.filter(F.col("doc_id") >= 200)
    a.coalesce(1).write.parquet(src_dir)
    # snapshot A: narrow selection (pre-evolution schema)
    encode_files(spark, src_dir, list_parquet_files(src_dir), out,
                 key_col="doc_id", columns=["doc_id", "text"])
    b.coalesce(1).write.mode("append").parquet(src_dir)
    # snapshot B: only the new file is pending; encode it WIDER
    encode_files(spark, src_dir, list_parquet_files(src_dir), out,
                 key_col="doc_id", columns=["doc_id", "text", "lang"])
    full = pq.read_schema(f"{SF}/documents.parquet")
    schema = pa.schema([full.field(c) for c in ("doc_id", "text", "lang")])
    dec = decode_blocks(spark, out, schema)
    assert dec.count() == docs.count()
    old = dec.filter(F.col("doc_id") < 200)
    new = dec.filter(F.col("doc_id") >= 200)
    assert old.filter(F.col("lang").isNotNull()).count() == 0
    assert new.filter(F.col("lang").isNull()).count() == 0
    # post-evolution rows carry the true values; pre-evolution text intact
    got = {r["doc_id"]: r["lang"] for r in new.collect()}
    exp = {r["doc_id"]: r["lang"] for r in b.select("doc_id", "lang").collect()}
    assert got == exp
    t_old = {r["doc_id"]: r["text"] for r in old.collect()}
    t_exp = {r["doc_id"]: r["text"] for r in a.select("doc_id", "text").collect()}
    assert t_old == t_exp


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    """documents as four 100-row parts encoded as ``doc_id, text`` in
    25-row blocks, then one part encoded with ``lang`` added, plus a
    compacted copy. Returns the two table dirs, both snapshot ids and
    the part ids by first doc_id."""
    root = tmp_path_factory.mktemp("evolved")
    src, out = str(root / "src"), str(root / "enc")
    os.makedirs(src)
    docs = pq.read_table(f"{SF}/documents.parquet")
    ids = docs.column("doc_id")

    def write(lo: int) -> None:
        pq.write_table(
            docs.filter(pc.and_(pc.greater_equal(ids, lo),
                                pc.less(ids, lo + 100))),
            os.path.join(src, f"docs-{lo:03d}.parquet"))

    for lo in range(0, 400, 100):
        write(lo)
    snaps = [encode_files(spark, src, list_parquet_files(src), out,
                          key_col="doc_id", columns=["doc_id", "text"],
                          block_rows=25)["snapshot_id"]]
    write(400)
    snaps.append(encode_files(
        spark, src, list_parquet_files(src), out, key_col="doc_id",
        columns=["doc_id", "text", "lang"])["snapshot_id"])
    pid_of = {e["key_lo"]: e["part_id"] for e in Manifest(out).read()
              if e.get("kind") == "part"}
    compacted = str(root / "compacted")
    shutil.copytree(out, compacted)
    assert compact_blocks(spark, compacted)["bins"]
    return {"table": out, "compacted": compacted, "snaps": snaps,
            "pid_of": pid_of}


# case -> (table dir key, decode_blocks kwargs from the fixture)
EVOLVED_READS = {
    "head": ("table", lambda ev: {}),
    "part_ids": ("table", lambda ev: {
        "part_ids": [ev["pid_of"][100], ev["pid_of"][400]]}),
    "key_range": ("table", lambda ev: {"key_range": (160, 240)}),
    "key_range_out": ("table", lambda ev: {
        "key_range": (10**6, 2 * 10**6)}),
    "key_point": ("table", lambda ev: {"key_point": 15}),
    "as_of_before_compact": ("compacted", lambda ev: {
        "as_of": ev["snaps"][0]}),
    "as_of_after_compact": ("compacted", lambda ev: {
        "as_of": ev["snaps"][1]}),
}


@pytest.mark.parametrize("case", sorted(EVOLVED_READS))
def test_added_column_read_counts_like_keyed_read(spark, evolved, case):
    """A read of only a column added after most parts were encoded
    returns exactly as many rows as the same read with the key column
    added, under every pruning argument, and its decode tasks emit the
    null rows themselves: no Union of per-part Range frames, no
    Exchange; the only Range is the decode's task-list leaf (a fully
    pruned read plans an empty frame, without one)."""
    which, kwargs = EVOLVED_READS[case]
    table, kwargs = evolved[which], kwargs(evolved)
    full = pq.read_schema(f"{SF}/documents.parquet")
    lang = decode_blocks(spark, table, pa.schema([full.field("lang")]),
                         **kwargs)
    keyed = decode_blocks(
        spark, table, pa.schema([full.field("doc_id"), full.field("lang")]),
        **kwargs)
    assert lang.count() == keyed.count()
    plan = lang._jdf.queryExecution().executedPlan().toString()
    for node in ("Union", "Exchange"):
        assert node not in plan, plan
    assert plan.count("Range") <= 1, plan


def test_streaming_windowed_stats_match_batch(spark, tmp_path):
    """Stream drain with watermark + 6h tumbling windows equals the
    batch aggregation over the same files."""
    import shutil

    from libgiddy_spark.streaming import windowed_event_stats

    d = str(tmp_path / "stream_src")
    os.makedirs(d)
    shutil.copy(f"{SF}/events.parquet", os.path.join(d, "events.parquet"))
    got = windowed_event_stats(spark, d, window="6 hours",
                               watermark="12 hours")
    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    exp = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("user_id").cast("long").alias("sum_user_id"),
            F.min("event_id").cast("long").alias("min_event_id"),
            F.max("event_id").cast("long").alias("max_event_id"),
        )
        .select(F.col("w.start").alias("w_start"), "n_events",
                "sum_user_id", "min_event_id", "max_event_id")
    )
    k = lambda rows: sorted((r["w_start"], r["n_events"], r["sum_user_id"],
                             r["min_event_id"], r["max_event_id"])
                            for r in rows)
    assert k(got.collect()) == k(exp.collect())
    assert got.count() > 1  # actually windowed, not one global bucket


def test_all_post_evolution_projection_emits_null_rows(spark, tmp_path):
    """Projecting ONLY post-evolution columns must still emit one null
    row per pre-evolution source row (Iceberg add-column semantics) —
    the scan-side column filter matches nothing for old parts, so the
    rows come from the manifest's n_values (ADVICE r3 row-loss fix)."""
    src_dir = str(tmp_path / "src2")
    out = str(tmp_path / "enc2")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = docs.filter(F.col("doc_id") < 200)
    b = docs.filter(F.col("doc_id") >= 200)
    a.coalesce(1).write.parquet(src_dir)
    encode_files(spark, src_dir, list_parquet_files(src_dir), out,
                 key_col="doc_id", columns=["doc_id", "text"])
    b.coalesce(1).write.mode("append").parquet(src_dir)
    encode_files(spark, src_dir, list_parquet_files(src_dir), out,
                 key_col="doc_id", columns=["doc_id", "text", "lang"])
    full = pq.read_schema(f"{SF}/documents.parquet")
    schema = pa.schema([full.field("lang")])  # lang ONLY: absent in part A
    dec = decode_blocks(spark, out, schema)
    assert dec.count() == docs.count()  # no silent row loss
    assert dec.filter(F.col("lang").isNull()).count() == a.count()
    got = sorted(r["lang"] for r in dec.filter(F.col("lang").isNotNull()).collect())
    exp = sorted(r["lang"] for r in b.select("lang").collect())
    assert got == exp


def test_streaming_sessions_multibatch_matches_batch_subset(spark, tmp_path):
    """Stateful sessionization across MULTIPLE micro-batches (files
    staged in event-time order with distinct mtimes, one per trigger):
    emitted sessions equal batch sessionize restricted to final-
    watermark-closed sessions; session_seq numbering matches."""
    import time

    from libgiddy_spark.pipeline.sessions import sessionize
    from libgiddy_spark.streaming import streaming_sessions

    gap_us = 6 * 3600 * 1_000_000
    d = str(tmp_path / "sess_src")
    os.makedirs(d)
    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # three time-ordered files; mtimes staged so the file source
    # processes them in event-time order (watermark only advances)
    parts = ev.orderBy("ts").collect()
    cut = len(parts) // 3
    for i, chunk in enumerate([parts[:cut], parts[cut:2*cut], parts[2*cut:]]):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(
            str(tmp_path / f"stage{i}")
        )
        src = next(p for p in os.listdir(str(tmp_path / f"stage{i}"))
                   if p.endswith(".parquet"))
        dst = os.path.join(d, f"f{i}.parquet")
        os.rename(os.path.join(str(tmp_path / f"stage{i}"), src), dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    got = streaming_sessions(spark, d, gap_us=gap_us,
                             watermark="12 hours",
                             max_files_per_trigger=1)
    batch = sessionize(ev, gap_us=gap_us)
    mx = ev.agg(F.max("ts")).collect()[0][0]
    wm_us = (int(mx.timestamp() * 1_000_000) // 1000 - 12 * 3600 * 1000) * 1000
    exp = batch.filter(F.unix_micros(F.col("t_end")) + gap_us < wm_us)
    cols = ["user_id", "session_seq", "n_events", "t_start", "t_end",
            "duration_us"]
    k = lambda df: sorted(tuple(r) for r in df.select(*cols).collect())
    assert k(got) == k(exp)
    assert 0 < got.count() < batch.count()  # some sessions held open


def test_streaming_sessions_append_file_sink(spark, tmp_path):
    """PRODUCTION sink variant: multi-batch drain to a parquet file
    sink (no driver collect) yields exactly the memory-sink/batch
    watermark-closed session set."""
    import time  # noqa: F401  (parity with sibling test imports)

    from libgiddy_spark.pipeline.sessions import sessionize
    from libgiddy_spark.streaming import streaming_sessions_append

    gap_us = 6 * 3600 * 1_000_000
    d = str(tmp_path / "sessa_src")
    os.makedirs(d)
    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    parts = ev.orderBy("ts").collect()
    cut = len(parts) // 3
    for i, chunk in enumerate([parts[:cut], parts[cut:2*cut], parts[2*cut:]]):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(
            str(tmp_path / f"astage{i}")
        )
        src = next(p for p in os.listdir(str(tmp_path / f"astage{i}"))
                   if p.endswith(".parquet"))
        dst = os.path.join(d, f"f{i}.parquet")
        os.rename(os.path.join(str(tmp_path / f"astage{i}"), src), dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    got = streaming_sessions_append(
        spark, d, str(tmp_path / "sessa_out"), gap_us=gap_us,
        watermark="12 hours", max_files_per_trigger=1)
    batch = sessionize(ev, gap_us=gap_us)
    mx = ev.agg(F.max("ts")).collect()[0][0]
    wm_us = (int(mx.timestamp() * 1_000_000) // 1000 - 12 * 3600 * 1000) * 1000
    exp = batch.filter(F.unix_micros(F.col("t_end")) + gap_us < wm_us)
    cols = ["user_id", "session_seq", "n_events", "t_start", "t_end",
            "duration_us"]
    k = lambda df: sorted(tuple(r) for r in df.select(*cols).collect())
    assert k(got) == k(exp)
    assert 0 < got.count() < batch.count()


def test_streaming_sessions_state_bounded(spark, tmp_path):
    """A single key's 10^4-event CONTINUOUS session (a crawling bot)
    streamed in staged micro-batches keeps per-key state O(events above
    watermark), not O(events in the open session) — VERDICT r4 #2. The
    accumulator sums the retained raw-tail length per invocation; the
    old full-buffer state would sum ~sum_i(i*1000) ≈ 55k here."""
    import time

    from libgiddy_spark.streaming import streaming_sessions

    gap_us = 6 * 3600 * 1_000_000
    d = str(tmp_path / "bot_src")
    os.makedirs(d)
    base = 1_700_000_000 * 1_000_000
    n_files, per = 10, 1000

    def _stage(i, rows):
        df = spark.createDataFrame(rows, "user_id long, ts long") \
            .withColumn("ts", F.timestamp_micros("ts")).coalesce(1)
        df.write.parquet(str(tmp_path / f"bstage{i}"))
        src = next(p for p in os.listdir(str(tmp_path / f"bstage{i}"))
                   if p.endswith(".parquet"))
        dst = os.path.join(d, f"f{i:02d}.parquet")
        os.rename(os.path.join(str(tmp_path / f"bstage{i}"), src), dst)
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)

    # one continuous session: 1 s spacing, files abut seamlessly
    for i in range(n_files):
        t0 = base + i * per * 1_000_000
        _stage(i, [(7, t0 + j * 1_000_000) for j in range(per)])
    # closer: a lone event 13 h past the end pushes the watermark far
    # enough to close (end + 6 h gap < wm) and emit the bot session
    _stage(n_files, [(7, base + n_files * per * 1_000_000
                      + 13 * 3600 * 1_000_000)])

    from pyspark.accumulators import AccumulatorParam

    class _MaxParam(AccumulatorParam):
        def zero(self, v):
            return 0

        def addInPlace(self, a, b):
            return max(a, b)

    acc = spark.sparkContext.accumulator(0, _MaxParam())
    got = streaming_sessions(spark, d, gap_us=gap_us,
                             watermark="10 seconds",
                             max_files_per_trigger=1,
                             state_probe_acc=acc)
    rows = got.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["user_id"], r["session_seq"], r["n_events"]) == (7, 1, per * n_files)
    assert r["duration_us"] == (per * n_files - 1) * 1_000_000
    # bounded state: the watermark lags one trigger, so per-invocation
    # raw retention is O(one batch above watermark) — it must NEVER
    # approach the cumulative open-session size (10k by the last batch
    # under the old full-buffer state)
    assert 0 < acc.value <= per + 16, acc.value


def test_windowed_append_mode_emits_closed_windows(spark, tmp_path):
    """Append-mode file-sink windowed aggregation emits EXACTLY the
    watermark-closed windows of the batch aggregation (the 100TB-shaped
    variant: one write per window, state evicted, no memory sink)."""
    import shutil

    from libgiddy_spark.streaming import windowed_event_stats_append

    d = str(tmp_path / "wsrc")
    os.makedirs(d)
    shutil.copy(f"{SF}/events.parquet", os.path.join(d, "events.parquet"))
    got = windowed_event_stats_append(
        spark, d, str(tmp_path / "wout"), window="6 hours",
        watermark="12 hours")
    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    mx = ev.agg(F.max("ts")).collect()[0][0]
    wm_ms = int(mx.timestamp() * 1_000_000) // 1000 - 12 * 3600 * 1000
    exp = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count("*").alias("n_events"),
             F.sum("user_id").cast("long").alias("sum_user_id"),
             F.min("event_id").cast("long").alias("min_event_id"),
             F.max("event_id").cast("long").alias("max_event_id"))
        .filter(F.unix_millis(F.col("w.end")) <= wm_ms)  # closed only
        .select(F.col("w.start").alias("w_start"), "n_events",
                "sum_user_id", "min_event_id", "max_event_id")
    )
    k = lambda df: sorted(tuple(r) for r in df.collect())
    assert k(got) == k(exp)
    assert 0 < got.count() < ev.groupBy(F.window("ts", "6 hours")).count().count()
