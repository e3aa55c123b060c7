"""Shuffle-free encode path (engine.encode_files): bit-identical
round trips, zone maps and blooms, skew fan-out via row-group and
row-range slicing, malformed tasks and keywords, plan shape, resume."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from libgiddy_spark.engine import (
    _balanced_bounds,
    _committed_block_files,
    _one_wave,
    blocks_df,
    decode_blocks,
    encode_snapshot,
    verify_roundtrip,
)

SF = "/root/testdata/sf0.001"


def test_balanced_bounds():
    assert _balanced_bounds([1, 1, 1, 1], 2) == [(0, 2), (2, 4)]
    assert _balanced_bounds([10, 1, 1, 1], 2) == [(0, 1), (1, 4)]
    assert _balanced_bounds([5], 4) == [(0, 1)]
    assert _balanced_bounds([1, 1], 5) == [(0, 1), (1, 2)]
    b = _balanced_bounds([3, 1, 4, 1, 5, 9, 2, 6], 3)
    assert [lo for lo, _ in b] == [0] + [hi for _, hi in b[:-1]]
    assert b[-1][1] == 8 and len(b) == 3


@pytest.mark.parametrize("table,key", [("documents", "doc_id"),
                                       ("events", "event_id")])
def test_direct_roundtrip_bit_identical(spark, tmp_path, table, key):
    src = f"{SF}/{table}.parquet"
    out = str(tmp_path / f"d_{table}")
    encode_snapshot(spark, src, out, key_col=key)
    dec = decode_blocks(spark, out, pq.read_schema(src))
    rep = verify_roundtrip(spark.read.parquet(src), dec, key)
    assert rep["ok"], rep


def test_direct_blocks_semantics(spark, tmp_path):
    """The encoded table carries zone maps and blooms and decodes
    bit-identically."""
    src = f"{SF}/documents.parquet"
    out = str(tmp_path / "docs")
    encode_snapshot(spark, src, out, key_col="doc_id")
    b = blocks_df(spark, out)
    assert b.filter(F.col("key_lo").isNotNull()).count() > 0
    assert b.filter(F.col("key_bloom").isNotNull()).count() > 0
    dec = decode_blocks(spark, out, pq.read_schema(src))
    assert verify_roundtrip(spark.read.parquet(src), dec, "doc_id")["ok"]


@pytest.mark.parametrize("kw", [{"num_parts": 8}, {"exchange": "range"}])
def test_unknown_encode_keyword_raises(spark, tmp_path, kw):
    """A misspelled or retired keyword fails loudly instead of being
    swallowed (and the encode silently running some other way)."""
    with pytest.raises(TypeError):
        encode_snapshot(spark, f"{SF}/documents.parquet",
                        str(tmp_path / "kw"), key_col="doc_id", **kw)


def test_direct_skew_fans_out_row_groups(spark, tmp_path):
    """A file bigger than the salt target splits into multiple
    (part, salt) tasks along row-group boundaries."""
    src_dir = str(tmp_path / "rg_src")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # many small row groups so the slicer has boundaries to use
    (docs.coalesce(1).write.option("parquet.block.size", 16 * 1024)
     .parquet(src_dir))
    out = str(tmp_path / "rg_out")
    encode_snapshot(spark, src_dir, out, key_col="doc_id",
                    target_salt_bytes=16 * 1024)
    b = blocks_df(spark, out)
    n_salts = b.select("salt").distinct().count()
    assert n_salts > 1  # actually fanned out
    dec = decode_blocks(spark, out, pq.read_schema(f"{SF}/documents.parquet"))
    assert verify_roundtrip(spark.read.parquet(src_dir), dec, "doc_id")["ok"]


def test_direct_row_slice_fallback_single_row_group(spark, tmp_path):
    """A file with ONE giant row group still fans out: tasks take
    row-range slices of the covering row group (bounded read
    amplification instead of one skew-bound task)."""
    src = f"{SF}/documents.parquet"  # single file, single row group
    md = pq.ParquetFile(src).metadata
    assert md.num_row_groups == 1  # precondition for the fallback path
    out = str(tmp_path / "rows")
    encode_snapshot(spark, src, out, key_col="doc_id",
                    target_salt_bytes=16 * 1024)
    b = blocks_df(spark, out)
    assert b.select("salt").distinct().count() > 1
    dec = decode_blocks(spark, out, pq.read_schema(src))
    rep = verify_roundtrip(spark.read.parquet(src), dec, "doc_id")
    assert rep["ok"], rep


def test_row_range_stream_slice_exact(tmp_path):
    """The row-range fallback's streaming read (early stop at the
    task's upper bound) must yield exactly rows [row_lo, row_hi) of
    the covering span, for ranges NOT aligned to reader batch or
    row-group boundaries — the offset math slices the first kept
    batch, not the file head."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from libgiddy_spark.blocks import make_direct_encoder

    n = 1000
    src = str(tmp_path / "t.parquet")
    tbl = pa.table({"k": pa.array(range(n), pa.int64())})
    pq.write_table(tbl, src, row_group_size=300)  # 4 row groups
    pf = pq.ParquetFile(src)
    enc = make_direct_encoder(["k"], sort_key="k")
    # spans chosen to start/end mid-row-group (rg bounds: 300/600/900)
    for rg_lo, rg_hi, rlo, rhi in [(0, 4, 123, 877), (1, 3, 50, 599),
                                   (0, 1, 0, 300), (3, 4, 1, 99)]:
        base = sum(pf.metadata.row_group(g).num_rows for g in range(rg_lo))
        task = pa.RecordBatch.from_pydict({
            "part_id": [0], "salt": [0], "rg_lo": [rg_lo],
            "rg_hi": [rg_hi], "row_lo": [rlo], "row_hi": [rhi],
            "path": [src]})
        out = pa.Table.from_batches(list(enc(iter([task]))))
        k_rows = out.filter(pc.equal(out.column("column"), "k"))
        nv = pc.sum(k_rows.column("n_values")).as_py()
        assert nv == rhi - rlo, (rg_lo, rg_hi, rlo, rhi, nv)
        # zone map pins the exact rows, not just the count
        klo = pc.min(out.column("key_lo")).as_py()
        khi = pc.max(out.column("key_hi")).as_py()
        assert (klo, khi) == (base + rlo, base + rhi - 1)


def test_row_range_past_span_raises(tmp_path):
    """A row-range task whose rows lie past its covering row groups
    raises an error naming the file, part, salt and row range instead
    of encoding nothing (or an opaque Arrow error)."""
    import pyarrow as pa

    from libgiddy_spark.blocks import make_direct_encoder

    src = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": pa.array(range(1000), pa.int64())}),
                   src, row_group_size=300)
    enc = make_direct_encoder(["k"], sort_key="k")
    for rg_lo, rg_hi, rlo, rhi in [(3, 4, 100, 150), (0, 1, 250, 400)]:
        task = pa.RecordBatch.from_pydict({
            "part_id": [7], "salt": [2], "rg_lo": [rg_lo],
            "rg_hi": [rg_hi], "row_lo": [rlo], "row_hi": [rhi],
            "path": [src]})
        with pytest.raises(ValueError) as ei:
            list(enc(iter([task])))
        msg = str(ei.value)
        assert src in msg and "part 7" in msg and "salt 2" in msg, msg
        assert f"[{rlo}, {rhi})" in msg, msg


def test_direct_plan_moves_no_source_rows(spark):
    """The direct encode plan's only exchange is the round-robin of the
    tiny task list — no scan of the source table feeds an exchange
    (mirrors the decode-side shuffle-free plan guard)."""
    from libgiddy_spark.blocks import BLOCKS_DDL, make_direct_encoder

    src = f"{SF}/documents.parquet"
    tasks = [(0, 0, 0, 1, src)]
    tdf = spark.createDataFrame(
        tasks, "part_id int, salt int, rg_lo int, rg_hi int, path string"
    ).repartition(len(tasks))
    enc = tdf.mapInArrow(
        make_direct_encoder(["doc_id", "text"], sort_key="doc_id"),
        schema=BLOCKS_DDL,
    )
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan
    # the input side is a local task list, not a parquet scan
    assert "FileScan" not in plan and "parquet" not in plan.lower(), plan


def test_direct_resume_skips_done_parts(spark, tmp_path):
    src_dir = str(tmp_path / "multi")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.repartition(4).write.parquet(src_dir)
    out = str(tmp_path / "resume")
    s1 = encode_snapshot(spark, src_dir, out, key_col="doc_id")
    assert s1["encoded_parts"] == 4
    s2 = encode_snapshot(spark, src_dir, out, key_col="doc_id")
    assert s2["encoded_parts"] == 0 and s2["skipped_done"] == 4
    dec = decode_blocks(spark, out, pq.read_schema(f"{SF}/documents.parquet"))
    assert dec.count() == docs.count()


def test_direct_commit_by_list(spark, tmp_path):
    """r6 task-side writes: the chunk dir's _FILES marker IS the
    committed file set — a stray parquet file planted in the dir (a
    zombie task attempt's leftover) is invisible to decode, and a
    listed-but-missing file fails loudly instead of silently losing
    rows."""
    src = f"{SF}/documents.parquet"
    out = str(tmp_path / "cbl")
    encode_snapshot(spark, src, out, key_col="doc_id")
    schema = pq.read_schema(src)
    n = decode_blocks(spark, out, schema).count()
    blocks = os.path.join(out, "blocks")
    chunk = next(d for d in os.listdir(blocks) if d.startswith("chunk-"))
    cdir = os.path.join(blocks, chunk)
    listed = sorted(
        x.strip()
        for x in open(os.path.join(cdir, "_FILES")).read().splitlines()
        if x.strip()
    )
    on_disk = sorted(f for f in os.listdir(cdir) if f.endswith(".parquet"))
    assert listed == on_disk  # driver committed exactly the task set
    # 1) stray file (duplicate payload!) is ignored by decode
    import shutil as _sh

    _sh.copy(os.path.join(cdir, listed[0]),
             os.path.join(cdir, "task-deadbeef-zombie.parquet"))
    assert decode_blocks(spark, out, schema).count() == n
    # 2) a listed file missing on disk = corruption -> loud error
    os.remove(os.path.join(cdir, listed[0]))
    with pytest.raises(ValueError, match="missing on disk"):
        decode_blocks(spark, out, schema).count()


def _text_file(path, n, rows_per_group, seed=0):
    """A parquet file of n rows (int key + word-salad text) in row
    groups of rows_per_group."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    vocab = [f"w{i:03d}{'xyz' * (i % 4)}" for i in range(300)]
    text = [" ".join(vocab[j] for j in rng.integers(0, 300, 12))
            for _ in range(n)]
    pq.write_table(pa.table({"k": pa.array(range(n), pa.int64()),
                             "text": pa.array(text)}),
                   path, row_group_size=rows_per_group)


def _in_group(spark, group, fn):
    """Run fn() under a Spark job group; return its result and, per job
    of the group, the total task count of its stages."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    tasks = [sum(st.getStageInfo(s).numTasks
                 for s in st.getJobInfo(j).stageIds)
             for j in st.getJobIdsForGroup(group)]
    return res, tasks


def _assert_blocks_match_plan(blocks, plan):
    """Every block_seq-0 row of ``blocks`` carries the codec,
    codec_params and FSST table of ``plan``; returns its salts."""
    import json

    from libgiddy_spark.codecs import header as H

    salts = set()
    for salt, col, codec, cp, payload in zip(
            *(blocks.column(c).to_pylist() for c in
              ("salt", "column", "codec", "codec_params", "payload"))):
        salts.add(salt)
        p_codec, p_params, p_ft = plan[col]
        assert codec == p_codec, (salt, col)
        assert json.loads(cp) == {"stats": json.loads(p_params)}, (salt, col)
        if codec == "fsst":
            assert bytes(H.unpack_block(payload)[4][1]) == p_ft, (salt, col)
    return salts


@pytest.mark.parametrize("n,rows_per_group", [
    (24000, 2000),    # row-group slices; row group 0 < the plan sample
    (48000, 20000),   # row-group slices; row group 0 > the plan sample
    (24000, 24000),   # one row group: row-range slices
], ids=["small_row_groups", "big_row_groups", "one_row_group"])
def test_part_slices_share_file_plan_across_tasks(spark, tmp_path, n,
                                                  rows_per_group,
                                                  monkeypatch):
    """A part fanned out into several salt slices that land in
    different Spark tasks: every slice still encodes with the codecs
    and FSST symbol table of plan_one_file(path), whether its task
    planned from the head rows of its own slice (a slice starting at
    row 0 of row group 0) or read them from the file again."""
    import pyarrow as pa

    from libgiddy_spark import blocks as B

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    src = os.path.join(src_dir, "part-0.parquet")
    _text_file(src, n, rows_per_group)
    out = str(tmp_path / "enc")
    encode_snapshot(spark, src_dir, out, key_col="k",
                    target_salt_bytes=96 * 1024)
    plan = {c: (codec, params, ft)
            for c, codec, params, ft in B.plan_one_file(src, ["k", "text"])}
    assert plan["text"][0] == "fsst"
    files = _committed_block_files(out)
    assert len(files) >= 2  # one block file per task: several tasks
    salts = set()
    for f in files:
        salts |= _assert_blocks_match_plan(
            pq.read_table(f, filters=[("block_seq", "=", 0)]), plan)
    assert len(salts) >= 3
    # in one process: a slice from row 0 of row group 0 plans from the
    # rows it read; any other slice reads the file head again
    calls = []
    real = B._file_head
    monkeypatch.setattr(B, "_file_head",
                        lambda *a, **k: calls.append(a) or real(*a, **k))
    single = pq.ParquetFile(src).metadata.num_row_groups == 1
    for rg_lo, row_lo, n_calls in ((0, 0, 0), (1, n // 2, 1)):
        if single:
            rg_lo, rg_hi, row_hi = 0, 1, row_lo + n // 8
        else:
            rg_hi, row_lo, row_hi = rg_lo + 1, -1, -1
        task = pa.RecordBatch.from_pydict({
            "part_id": [0], "salt": [0], "rg_lo": [rg_lo], "rg_hi": [rg_hi],
            "row_lo": [row_lo], "row_hi": [row_hi], "path": [src]})
        enc = B.make_direct_encoder(["k", "text"], sort_key="k")
        blocks = pa.Table.from_batches(list(enc(iter([task]))))
        _assert_blocks_match_plan(
            blocks.filter(pa.compute.equal(blocks["block_seq"], 0)), plan)
        assert len(calls) == n_calls, (rg_lo, row_lo)
        calls.clear()


def test_encode_is_one_job_and_decode_one_wave(spark, tmp_path):
    """encode_snapshot of a multi-file table runs exactly one Spark job
    of at most defaultParallelism tasks (codecs are planned inside the
    encode tasks), and a decode of more block files than that still
    runs one wave of at most defaultParallelism tasks."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(6):
        _text_file(os.path.join(src, f"part-{i}.parquet"), 500, 500, i)
    dp = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "one")
    _, tasks = _in_group(spark, "lgs-encode-one-job", lambda: encode_snapshot(
        spark, src, out, key_col="k"))
    assert len(tasks) == 1 and tasks[0] <= dp, tasks
    # the encode task list: one partition per task, no Exchange
    tdf = _one_wave(spark, [(i,) for i in range(3 * dp)], [1] * (3 * dp),
                    pa.schema([("i", pa.int32())]), lambda b: b, "i int")
    assert tdf.rdd.getNumPartitions() == dp
    assert "Exchange" not in tdf._jdf.queryExecution().executedPlan().toString()
    # one chunk per file: more block files than task slots
    many = str(tmp_path / "many")
    encode_snapshot(spark, src, many, key_col="k", chunk_parts=1)
    assert len(_committed_block_files(many)) > dp
    schema = pq.read_schema(os.path.join(src, "part-0.parquet"))
    dec = decode_blocks(spark, many, schema)
    assert dec._jdf.queryExecution().executedPlan().toString().count(
        "Exchange") == 0
    rows, tasks = _in_group(spark, "lgs-decode-one-wave", dec.collect)
    assert len(rows) == 3000
    assert len(tasks) == 1 and tasks[0] <= dp, tasks


def test_empty_first_row_group_plans_part_once(spark, tmp_path):
    """A file whose first row group is empty is planned from its first
    non-empty row group: every salt slice encodes with that one plan
    (plan_one_file's codecs, params and FSST table)."""
    from libgiddy_spark import blocks as B

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    src = os.path.join(src_dir, "part-0.parquet")
    _text_file(src, 6000, 3000)
    t = pq.read_table(src)
    with pq.ParquetWriter(src + ".tmp", t.schema) as w:
        for lo, n in ((0, 0), (0, 3000), (3000, 3000)):
            w.write_table(t.slice(lo, n))
    os.replace(src + ".tmp", src)
    md = pq.ParquetFile(src).metadata
    assert [md.row_group(g).num_rows for g in range(3)] == [0, 3000, 3000]
    plan = {c: (codec, params, ft)
            for c, codec, params, ft in B.plan_one_file(src, ["k", "text"])}
    assert plan["text"][0] == "fsst"
    out = str(tmp_path / "enc")
    encode_snapshot(spark, src_dir, out, key_col="k",
                    target_salt_bytes=32 * 1024)
    salts = set()
    for f in _committed_block_files(out):
        salts |= _assert_blocks_match_plan(
            pq.read_table(f, filters=[("block_seq", "=", 0)]), plan)
    assert len(salts) >= 2
