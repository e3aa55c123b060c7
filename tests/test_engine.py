"""End-to-end Spark tests: encode -> blocks -> decode -> bit-identity,
manifest resume, skew salting (SURVEY.md §5.2.4)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from libgiddy_spark.engine import (
    blocks_df,
    decode_blocks,
    encode_snapshot,
    verify_roundtrip,
)
from libgiddy_spark.manifest import Manifest

SF = "/root/testdata/sf0.001"


def _multi_file_copy(spark, src: str, dest: str, n_files: int) -> str:
    """Partition = source file now, so resume tests need multi-file input."""
    if not os.path.exists(dest):
        spark.read.parquet(src).repartition(n_files).write.parquet(dest)
    return dest


def test_documents_roundtrip(spark, tmp_path):
    src = _multi_file_copy(spark, f"{SF}/documents.parquet", str(tmp_path / "src4"), 4)
    out = str(tmp_path / "docs")
    s = encode_snapshot(spark, src, out, key_col="doc_id", chunk_parts=2)
    assert s["encoded_parts"] == 4
    dec = decode_blocks(spark, out, pq.read_schema(f"{SF}/documents.parquet"))
    rep = verify_roundtrip(spark.read.parquet(src), dec, "doc_id")
    assert rep["ok"], rep


def test_events_roundtrip_with_timestamps(spark, tmp_path):
    src = f"{SF}/events.parquet"
    out = str(tmp_path / "ev")
    encode_snapshot(spark, src, out, key_col="event_id")
    dec = decode_blocks(spark, out, pq.read_schema(src))
    rep = verify_roundtrip(spark.read.parquet(src), dec, "event_id")
    assert rep["ok"], rep


def test_resume_skips_done_parts(spark, tmp_path):
    src = _multi_file_copy(spark, f"{SF}/documents.parquet", str(tmp_path / "src6"), 6)
    out = str(tmp_path / "resume")
    encode_snapshot(spark, src, out, key_col="doc_id", chunk_parts=3)
    s2 = encode_snapshot(spark, src, out, key_col="doc_id", chunk_parts=3)
    assert s2["encoded_parts"] == 0 and s2["skipped_done"] == 6


def test_resume_after_crash_between_chunks(spark, tmp_path, monkeypatch):
    """Kill after the first chunk's manifest commit; rerun must re-encode
    only the remaining parts and the result must still verify."""
    src = _multi_file_copy(spark, f"{SF}/documents.parquet", str(tmp_path / "src6c"), 6)
    out = str(tmp_path / "crash")
    calls = {"n": 0}
    orig = Manifest.mark_done

    def dying_mark_done(self, snapshot_id, entries, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash before 2nd chunk commit")
        return orig(self, snapshot_id, entries, **kw)

    monkeypatch.setattr(Manifest, "mark_done", dying_mark_done)
    with pytest.raises(RuntimeError):
        encode_snapshot(spark, src, out, key_col="doc_id", chunk_parts=2)
    monkeypatch.setattr(Manifest, "mark_done", orig)

    chunk0 = os.path.join(out, "blocks", "chunk-00000-00001")
    mtime0 = os.path.getmtime(chunk0)
    s = encode_snapshot(spark, src, out, key_col="doc_id", chunk_parts=2)
    assert s["skipped_done"] == 2  # first chunk's parts committed
    assert s["encoded_parts"] == 4  # the rest re-encoded (incl. orphan chunk)
    assert os.path.getmtime(chunk0) == mtime0  # chunk 0 untouched
    dec = decode_blocks(spark, out, pq.read_schema(f"{SF}/documents.parquet"))
    rep = verify_roundtrip(spark.read.parquet(src), dec, "doc_id")
    assert rep["ok"], rep
    # no duplicate rows from orphan block dirs
    assert dec.count() == spark.read.parquet(src).count()


def test_skew_salting_splits_heavy_partition(spark, tmp_path):
    """A planted 100x partition must fan out into >1 salted encode task
    (BASELINE.json:6 'salted and range-repartitioned')."""
    import numpy as np
    import pyarrow as pa

    n = 4000
    rng = np.random.default_rng(0)
    url = [f"https://h{i % 97}.com/{i}" for i in range(n)]
    # heavy rows: every 4th row gets a 100x text
    text = ["x" * (40000 if i % 4 == 0 else 400) for i in range(n)]
    tbl = pa.table({"url": url, "text": text})
    src = str(tmp_path / "skewed.parquet")
    pq.write_table(tbl, src)
    out = str(tmp_path / "skewout")
    # target below the engine's 256 KiB confetti floor: an explicit
    # target_salt_bytes always wins, which is how a test (or an operator
    # that knows better) forces fine-grained fan-out on small data
    encode_snapshot(
        spark, src, out, key_col="url", chunk_parts=2,
        fat_columns=("text",), target_salt_bytes=16 << 10,
    )
    bdf = blocks_df(spark, out)
    salts = (
        bdf.groupBy("part_id").agg(F.countDistinct("salt").alias("k")).collect()
    )
    assert max(r["k"] for r in salts) > 1, salts
    dec = decode_blocks(spark, out, tbl.schema)
    rep = verify_roundtrip(spark.read.parquet(src), dec, "url")
    assert rep["ok"], rep


def test_webtext_roundtrip(spark, tmp_path):
    """North-rule input shape (url, warc_ts, html, text, lang): generate,
    encode with auto selection, decode, verify byte-identical text per
    url (BASELINE.json:15 invariant)."""
    from libgiddy_spark.webtext import write_webtext

    src = str(tmp_path / "webtext")
    write_webtext(spark, src, 3000)
    out = str(tmp_path / "wtout")
    encode_snapshot(spark, src, out, key_col="url")
    dec = decode_blocks(spark, out, pq.read_schema_of_first(src) if hasattr(pq, "read_schema_of_first") else _first_schema(src))
    srcdf = spark.read.parquet(src)
    rep = verify_roundtrip(srcdf, dec, "url")
    assert rep["ok"], rep
    # codec choices recorded in manifest
    entries = Manifest(out).read()
    cols = [e["columns"] for e in entries if e.get("kind") == "part"]
    assert cols and all("codec" in c[k] for c in cols for k in c)


def _first_schema(path):
    import glob

    f = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    return pq.read_schema(f)


def test_decode_plan_is_shuffle_free(spark, tmp_path):
    """Decode must not exchange ANYTHING: the file-path list is cut
    driver-side into runs that ride in the task closure, one per
    ``spark.range`` id, so the physical plan's only leaf is that Range
    and it has ZERO Exchange nodes — blocks flow file->task->decoder
    directly."""
    import pyarrow.parquet as pq

    from libgiddy_spark.engine import decode_blocks, encode_snapshot

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "enc")
    encode_snapshot(spark, src, out, key_col="doc_id")
    dec = decode_blocks(spark, out, pq.read_schema(src))
    executed = dec._jdf.queryExecution().executedPlan()
    leaves = executed.collectLeaves()
    assert [leaves.apply(i).nodeName()
            for i in range(leaves.size())] == ["Range"]
    plan = executed.toString()
    for node in ("Exchange", "FileScan", "ExistingRDD"):
        assert node not in plan, plan
    assert dec.count() == 500


def test_incremental_snapshot_append(spark, tmp_path):
    """A snapshot that GREW by new data files re-encodes ONLY those
    files: part ids are stable file identities in the manifest
    registry, so done-ness survives the snapshot-id change."""
    src = str(tmp_path / "grow")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.filter(F.col("doc_id") < 60).repartition(3).write.parquet(src)
    out = str(tmp_path / "growout")
    s1 = encode_snapshot(spark, src, out, key_col="doc_id")
    assert s1["encoded_parts"] == 3
    docs.filter(F.col("doc_id") >= 60).repartition(2).write.mode(
        "append"
    ).parquet(src)
    s2 = encode_snapshot(spark, src, out, key_col="doc_id")
    assert s2["snapshot_id"] != s1["snapshot_id"]
    assert s2["skipped_done"] == 3
    assert s2["encoded_parts"] == 2
    dec = decode_blocks(spark, out, pq.read_schema(f"{SF}/documents.parquet"))
    rep = verify_roundtrip(spark.read.parquet(src), dec, "doc_id")
    assert rep["ok"], rep


def test_rejected_sort_key_commits_nothing(spark, tmp_path):
    """An encode refused for its sort key writes no manifest line (no
    schema line, header or file registration) and sweeps nothing:
    the table and its snapshot list are as before the call."""
    import pyarrow as pa

    from libgiddy_spark.meta import snapshot_rows

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)

    def write(i: int) -> None:
        pq.write_table(pa.table({"k": list(range(i * 10, i * 10 + 10))}),
                       os.path.join(src, f"f{i}.parquet"))

    write(0)
    encode_snapshot(spark, src, out, key_col="k")
    write(1)  # a new file: the refused call would register it
    debris = os.path.join(out, "blocks", "_tmp_debris")
    os.makedirs(debris)
    manifest = Manifest(out).path
    size, rows = os.path.getsize(manifest), snapshot_rows(out)
    with pytest.raises(ValueError, match="sort key 'nope'"):
        encode_snapshot(spark, src, out, key_col="k", sort_key="nope")
    assert os.path.getsize(manifest) == size
    assert snapshot_rows(out) == rows
    assert os.path.isdir(debris)


def test_streaming_encode_micro_batches(spark, tmp_path):
    """Structured-Streaming encode: files drain in micro-batches through
    the batch engine; a second availableNow pass after new files arrive
    encodes only the arrivals (manifest = exactly-once)."""
    from libgiddy_spark.manifest import done_parts
    from libgiddy_spark.streaming import encode_stream

    src = str(tmp_path / "stream_src")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.filter(F.col("doc_id") < 60).repartition(4).write.parquet(src)
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = encode_stream(spark, src, out, key_col="doc_id",
                      checkpoint_dir=ckpt, max_files_per_trigger=2)
    q.awaitTermination(120)
    assert len(done_parts(Manifest(out).read())) == 4
    # late arrivals -> second drain picks up only the new files
    docs.filter(F.col("doc_id") >= 60).repartition(2).write.mode(
        "append"
    ).parquet(src)
    q2 = encode_stream(spark, src, out, key_col="doc_id",
                       checkpoint_dir=ckpt, max_files_per_trigger=2)
    q2.awaitTermination(120)
    assert len(done_parts(Manifest(out).read())) == 6
    dec = decode_blocks(spark, out, pq.read_schema(f"{SF}/documents.parquet"))
    rep = verify_roundtrip(spark.read.parquet(src), dec, "doc_id")
    assert rep["ok"], rep


def test_decode_projection_pushdown(spark, tmp_path):
    """Decoding a pruned schema from blocks that hold MORE columns must
    only materialize the requested ones (and stay value-exact)."""
    import pyarrow as pa

    src = f"{SF}/documents.parquet"
    out = str(tmp_path / "proj")
    encode_snapshot(spark, src, out, key_col="doc_id")
    full = pq.read_schema(src)
    pruned = pa.schema([full.field("doc_id"), full.field("lang")])
    dec = decode_blocks(spark, out, pruned)
    assert set(dec.columns) == {"doc_id", "lang", "part_id"}
    rep = verify_roundtrip(
        spark.read.parquet(src).select("doc_id", "lang"),
        dec, "doc_id", columns=["doc_id", "lang"],
    )
    assert rep["ok"], rep


def _scan_byte_stats(df, fat_columns: list[str]) -> dict[int, int]:
    """part_id -> the salt-sizing estimate computed with a scan: octet
    length of every fat-column value plus 16 B per thin column per
    row."""
    size_expr = None
    for c in df.columns:
        if c == "part_id":
            continue
        term = (
            F.coalesce(F.octet_length(F.col(c).cast("binary")), F.lit(0))
            if c in fat_columns
            else F.lit(16)
        )
        size_expr = term if size_expr is None else size_expr + term
    rows = df.groupBy("part_id").agg(F.sum(size_expr).alias("bytes")).collect()
    return {r["part_id"]: int(r["bytes"]) for r in rows}


def test_footer_stats_track_scan_stats(spark, tmp_path):
    """The footer-based salt-sizing estimate must track the Catalyst
    scan estimate (same formula; footers add page/level overhead to the
    fat-column bytes, so allow a modest tolerance)."""
    from functools import reduce

    from libgiddy_spark.skew import footer_byte_stats
    from libgiddy_spark.table_io import abs_file_of, list_parquet_files
    from libgiddy_spark.webtext import write_webtext

    src = str(tmp_path / "wt")
    write_webtext(spark, src, 2000)
    files = list_parquet_files(src)
    part_files = [(i, rel) for i, (rel, _s) in enumerate(files)]
    foot = footer_byte_stats(src, part_files, ["html", "text"])
    tagged = reduce(lambda a, b: a.unionByName(b), [
        spark.read.parquet(abs_file_of(src, rel))
        .withColumn("part_id", F.lit(pid)) for pid, rel in part_files])
    scan = _scan_byte_stats(tagged, ["html", "text"])
    assert set(foot) == set(scan)
    for pid in foot:
        assert 0.85 <= foot[pid] / scan[pid] <= 1.3, (pid, foot[pid], scan[pid])


def test_decode_ignores_uncommitted_tmp_dirs(spark, tmp_path):
    """Decode lists block files from the MANIFEST's committed chunks: a
    crashed encode's leftover _tmp_ dir (or an in-flight streaming
    chunk) must be invisible — no uncommitted/duplicate rows."""
    import shutil

    src = f"{SF}/events.parquet"
    out = str(tmp_path / "evt")
    encode_snapshot(spark, src, out, key_col="event_id")
    blocks_root = os.path.join(out, "blocks")
    committed = [d for d in os.listdir(blocks_root) if d.startswith("chunk-")]
    # simulate a crash: a _tmp_ dir holding a full copy of a committed chunk
    shutil.copytree(os.path.join(blocks_root, committed[0]),
                    os.path.join(blocks_root, "_tmp_99_99"))
    dec = decode_blocks(spark, out, pq.read_schema(src))
    rep = verify_roundtrip(spark.read.parquet(src), dec, "event_id")
    assert rep["ok"], rep  # duplicate rows would fail rows_decoded


def test_decode_part_filter_lists_only_needed_chunks(spark, tmp_path):
    """A part-id filter prunes whole chunk dirs before any file listing
    (manifest-driven decode, no full blocks-tree walk)."""
    from libgiddy_spark.engine import _committed_block_files

    src = _multi_file_copy(spark, f"{SF}/documents.parquet", str(tmp_path / "src4f"), 4)
    out = str(tmp_path / "docs4f")
    encode_snapshot(spark, src, out, key_col="doc_id", chunk_parts=1)
    man = Manifest(out)
    chunk_of = {e["part_id"]: e["chunk_dir"] for e in man.read()
                if e.get("kind") == "part"}
    assert len(set(chunk_of.values())) == 4  # one chunk dir per part
    files = _committed_block_files(out, part_ids=[2])
    assert files and all(chunk_of[2] in f for f in files)
    # and decoding just that part returns only its rows
    dec = decode_blocks(spark, out, pq.read_schema(f"{SF}/documents.parquet"),
                        part_ids=[2])
    assert dec.select("part_id").distinct().collect()[0][0] == 2


def test_encode_source_file_with_special_chars(spark, tmp_path):
    """Filenames with spaces / sub-delims / non-ASCII encode and decode
    bit-identically: the encode tasks open the source file by its
    driver-side path with pyarrow, never through a Spark/Hadoop URI
    rendering."""
    import shutil

    src_dir = tmp_path / "specials"
    src_dir.mkdir()
    shutil.copy(f"{SF}/documents.parquet",
                src_dir / "a b,d=e (fünf).parquet")
    out = str(tmp_path / "sp_out")
    s = encode_snapshot(spark, str(src_dir), out, key_col="doc_id")
    assert s["encoded_parts"] == 1
    dec = decode_blocks(spark, out, pq.read_schema(f"{SF}/documents.parquet"))
    rep = verify_roundtrip(
        spark.read.parquet(str(src_dir)), dec, "doc_id")
    assert rep["ok"], rep


def test_zone_map_pruned_decode(spark, tmp_path):
    """key_range decode returns only blocks overlapping the range (fewer
    rows than the table BEFORE the exact filter), and the exact filter
    over it equals the source filter."""
    src = f"{SF}/events.parquet"
    out = str(tmp_path / "zm")
    encode_snapshot(spark, src, out, key_col="event_id", block_rows=64)
    schema = pq.read_schema(src)
    lo, hi = 200, 330  # sf0.001 events: event_id 0..999
    dec = decode_blocks(spark, out, schema, key_range=(lo, hi))
    n_pruned = dec.count()
    total = spark.read.parquet(src).count()
    assert n_pruned < total  # pruning actually skipped blocks
    got = (dec.filter((F.col("event_id") >= lo) & (F.col("event_id") <= hi))
           .select("event_id"))
    exp = (spark.read.parquet(src)
           .filter((F.col("event_id") >= lo) & (F.col("event_id") <= hi))
           .select("event_id"))
    assert sorted(r[0] for r in got.collect()) == sorted(
        r[0] for r in exp.collect())
    assert got.count() == hi - lo + 1


def test_zone_map_null_maps_never_prune(spark, tmp_path):
    """Blocks WITHOUT zone maps (string sort key -> all-null key_lo)
    must always decode under key_range: pruning only over-includes,
    never silently drops rows."""
    src_df = spark.createDataFrame(
        [(f"u{i:04d}", i) for i in range(500)], "url string, v long")
    src = str(tmp_path / "ssrc")
    src_df.coalesce(1).write.parquet(src)
    out = str(tmp_path / "szm")
    encode_snapshot(spark, src, out, key_col="url")
    schema = pq.read_schema(
        os.path.join(src, [f for f in os.listdir(src)
                           if f.endswith(".parquet")][0]))
    dec = decode_blocks(spark, out, schema, key_range=(0, 10))
    assert dec.count() == 500  # unpruned, NOT silently empty


def test_zone_map_null_key_rows_survive_pruning(spark, tmp_path):
    """An integral sort key containing NULLs makes its group unzoned;
    key_range decode must still return that group's rows (review
    finding: the old null-never-matches filter silently dropped them)."""
    rows = [(i if i != 7 else None, f"t{i}") for i in range(300)]
    src_df = spark.createDataFrame(rows, "k long, t string")
    src = str(tmp_path / "nullsrc")
    src_df.coalesce(1).write.parquet(src)
    out = str(tmp_path / "nullzm")
    encode_snapshot(spark, src, out, key_col="k")
    schema = pq.read_schema(
        os.path.join(src, [f for f in os.listdir(src)
                           if f.endswith(".parquet")][0]))
    dec = decode_blocks(spark, out, schema, key_range=(0, 50))
    # the whole (single, unzoned) group decodes — no silent loss
    assert dec.count() == 300
    got = dec.filter((F.col("k") >= 0) & (F.col("k") <= 50)).count()
    assert got == 50  # 0..50 minus the null at 7


def test_manifest_zone_map_prunes_whole_parts(spark, tmp_path):
    """Key-range decode prunes at the MANIFEST level first: parts whose
    recorded key range doesn't overlap contribute no files at all —
    their chunk dirs are never listed."""
    from libgiddy_spark.engine import _committed_block_files

    src = str(tmp_path / "ranged")
    (spark.read.parquet(f"{SF}/documents.parquet")
     .repartitionByRange(4, "doc_id").write.parquet(src))
    out = str(tmp_path / "rngout")
    encode_snapshot(spark, src, out, key_col="doc_id", chunk_parts=1)
    all_files = _committed_block_files(out)
    # doc_id 0..499 split into 4 range files; a range inside one part
    ranged = _committed_block_files(out, key_range=(10, 30))
    assert ranged and len(ranged) < len(all_files)
    dec = decode_blocks(spark, out, pq.read_schema(f"{SF}/documents.parquet"),
                        key_range=(10, 30))
    got = dec.filter((F.col("doc_id") >= 10) & (F.col("doc_id") <= 30))
    assert got.count() == 21


def test_null_key_group_keeps_part_zone_map(spark, tmp_path):
    """Since round 4 a null-bearing key group zones its NON-NULL range
    (nulls can never match a range/point probe), so the PART keeps a
    manifest zone map and disjoint ranges prune it entirely — while
    full decodes still return every row including the null-key one."""
    import numpy as np
    import pyarrow as pa

    from libgiddy_spark.engine import _committed_block_files

    n = 2000
    keys = [None if i == 7 else i for i in range(n)]
    text = ["x" * 2000 for _ in range(n)]  # fat -> several salt groups
    src = str(tmp_path / "mix.parquet")
    pq.write_table(pa.table({"k": pa.array(keys, pa.int64()),
                             "t": pa.array(text)}), src)
    out = str(tmp_path / "mixout")
    encode_snapshot(spark, src, out, key_col="k", fat_columns=("t",),
                    target_salt_bytes=4 << 10)
    # several groups; the null lands in one of them
    salts = {e["salts"] for e in Manifest(out).read() if e.get("kind") == "part"}
    assert max(salts) > 1
    # manifest DOES carry a part zone map over the non-null range
    parts = [e for e in Manifest(out).read() if e.get("kind") == "part"]
    assert all(e.get("key_lo") == 0 and e.get("key_hi") == n - 1
               for e in parts), parts
    # a range far outside the data prunes the whole part driver-side
    assert _committed_block_files(out, key_range=(10**6, 2 * 10**6)) == []
    # in-range decode: exact rows survive (null at 7 can't match)
    schema = pa.schema([("k", pa.int64()), ("t", pa.string())])
    dec = decode_blocks(spark, out, schema, key_range=(0, 100))
    got = dec.filter((F.col("k") >= 0) & (F.col("k") <= 100)).count()
    assert got == 100  # 0..100 minus the null at 7
    # full decode still returns all rows, the null-key row included
    full = decode_blocks(spark, out, schema)
    assert full.count() == n
    assert full.filter(F.col("k").isNull()).count() == 1
