"""Tiny-scale smoke run of every workload, traced, so each library name
the benchmark calls (listed in perfbench/README.md) runs once; plus the
output contract and the refusal to run without the library.

    python3 -m pytest perfbench/tests -q      # from the repository root
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")
WORKLOADS = ["webtext_roundtrip", "key_lookup", "append_commits"]


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, p.stderr[-3000:]
    assert out["attempted"] >= 1
    return out


def test_benchmark_json_lists_what_the_runs_print():
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import layers

    assert [m["name"] for m in _bench()["per_layer"]] == layers.REPORTED
    assert {w["name"] for w in _bench()["workloads"]} <= set(WORKLOADS)


def test_untraced_run_prints_every_end_to_end_metric():
    out = _result(_run("webtext_roundtrip", 0))
    names = [m["name"] for m in _bench()["end_to_end"]]
    assert sorted(out["metrics"]) == sorted(names)
    for m in _bench()["end_to_end"]:
        v = out["metrics"][m["name"]]
        assert v["unit"] == m["unit"] and v["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_exercises_every_layer(workload):
    out = _result(_run(workload, 1))
    for m in _bench()["per_layer"]:
        v = out["metrics"][m["name"]]
        assert v["unit"] == m["unit"] and isinstance(v["value"], (int, float))
    stem = os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed7")
    with open(stem + "-spans.json") as f:
        spans = json.load(f)["spans"]
    names = {s["name"] for s in spans}
    assert {"engine.decode_blocks", "blocks.encode_group",
            "blocks.decode_group", "manifest.Manifest.read"} <= names
    assert any(s["parent"] is not None for s in spans)
    with open(stem + "-layers.json") as f:
        layer_names = set(json.load(f)["per_layer"])
    assert {"bloom.pruned_frac", "zone.kept_frac"} <= layer_names
    assert ("codecs.kernel_share_enc" in layer_names) == (
        workload != "key_lookup")


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("webtext_roundtrip", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())
