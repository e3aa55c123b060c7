"""engine._one_wave, the task list of every encode, decode and
compaction job: each row reaches the kernel once, in order and typed
by the given schema, in one wave of at most ``defaultParallelism``
tasks, and each such job plans as one ``MapInArrow`` over one
``Range``: no ``ExistingRDD`` (a pickled Python task list, which ran a
second Python worker per task) and no Exchange."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from libgiddy_spark import engine
from libgiddy_spark.engine import (
    _balanced_bounds,
    _one_wave,
    compact_blocks,
    decode_blocks,
    encode_snapshot,
)

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("n", [1, 3, 37])
def test_every_row_once_in_order_in_one_wave(spark, n):
    def tag_task(batches):
        from pyspark import TaskContext

        task = TaskContext.get().partitionId()
        for b in batches:
            yield b.append_column("task", pa.array([task] * b.num_rows,
                                                    pa.int32()))

    dp = spark.sparkContext.defaultParallelism
    weights = [1 + (i * 7) % 5 for i in range(n)]
    out = _one_wave(spark, [(i,) for i in range(n)], weights,
                    pa.schema([("i", pa.int64())]), tag_task,
                    "i long, task int").collect()
    assert [r["i"] for r in out] == list(range(n))
    tasks = [r["task"] for r in out]
    # contiguous runs, one per task, exactly the balanced cut
    assert tasks == sorted(tasks)
    runs = [sum(1 for t in tasks if t == k) for k in sorted(set(tasks))]
    assert runs == [hi - lo for lo, hi in _balanced_bounds(weights, dp)]
    assert len(runs) <= dp


def test_values_keep_their_schema_types(spark):
    """int32 and int64 (with the encode tasks' ``row_lo = -1``),
    strings and compaction's ``list<string>`` reach the kernel with
    exactly the declared Arrow types and values."""
    schema = pa.schema([("rg_lo", pa.int32()), ("row_lo", pa.int64()),
                        ("path", pa.string()),
                        ("srcs", pa.list_(pa.string()))])
    rows = [(i, -1 if i % 2 else 10**12 + i, f"/p/{i}.parquet",
             [f"/s/{i}-{j}" for j in range(i % 3)]) for i in range(9)]

    def types(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"schema": [b.schema.to_string()] * b.num_rows})

    ddl = "rg_lo int, row_lo long, path string, srcs array<string>"
    seen = _one_wave(spark, rows, [1] * 9, schema, types, "schema string")
    assert {r["schema"] for r in seen.collect()} == {schema.to_string()}
    back = _one_wave(spark, rows, [1] * 9, schema, lambda b: b, ddl)
    assert [tuple(r) for r in back.collect()] == rows


def _assert_map_over_range(df):
    executed = df._jdf.queryExecution().executedPlan()
    leaves = executed.collectLeaves()
    plan = executed.toString()
    assert executed.nodeName() == "MapInArrow", plan
    assert [leaves.apply(i).nodeName()
            for i in range(leaves.size())] == ["Range"], plan
    assert plan.count("MapInArrow") == 1, plan
    for node in ("ExistingRDD", "Exchange"):
        assert node not in plan, plan


def test_encode_decode_compaction_plan_map_in_arrow_over_range(
        spark, tmp_path, monkeypatch):
    frames = []
    real = engine._one_wave

    def spy(*args):
        frames.append(real(*args))
        return frames[-1]

    monkeypatch.setattr(engine, "_one_wave", spy)
    src = str(tmp_path / "src")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(
        3).write.parquet(src)
    out = str(tmp_path / "enc")
    encode_snapshot(spark, src, out, key_col="doc_id", chunk_parts=1)
    assert len(frames) == 3  # one encode job per one-file chunk
    assert compact_blocks(spark, out, target_file_bytes=64 << 20)["bins"]
    assert len(frames) == 4
    files = [f for f in os.listdir(src) if f.endswith(".parquet")]
    dec = decode_blocks(spark, out, pq.read_schema(os.path.join(src, files[0])))
    assert frames[-1] is dec and dec.count() == 500
    for df in frames:
        _assert_map_over_range(df)
