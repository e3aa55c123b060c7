#!/usr/bin/env python
"""Per-codec kernel micro-benchmarks (single core, warm arena).

Writes BENCH/KERNELS.md: encode GB/s, decode GB/s, compression ratio per
scheme on representative inputs (SURVEY.md §6 target metric 1 at the
kernel level; the end-to-end numbers live in BENCH/BASELINE.md), and
the FSST trainer's cost: ms per ``fsst.train`` on the selector's 64 KiB
webtext trials (3 full-sample generations, and the default 5-generation
schedule) and ms per ``blocks.plan_one_file`` on a 3,000-row webtext
file.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

if __name__ == "__main__" and os.environ.get("MALLOC_MMAP_THRESHOLD_") != "1073741824":
    os.environ["MALLOC_MMAP_THRESHOLD_"] = "1073741824"
    os.environ["MALLOC_TRIM_THRESHOLD_"] = "-1"
    os.environ["ARROW_DEFAULT_MEMORY_POOL"] = "system"
    os.execve(sys.executable, [sys.executable] + sys.argv, os.environ)

import numpy as np
import pyarrow as pa

REPO = os.path.dirname(os.path.abspath(__file__))
REPS = 5


def bench_one(arr: pa.Array, codec: str):
    from libgiddy_spark.codecs import decode_array, encode_array

    payload, meta = encode_array(arr, codec)  # warm
    decode_array(payload)
    te, td = [], []
    for _ in range(REPS):
        t0 = time.time()
        payload, meta = encode_array(arr, codec)
        te.append(time.time() - t0)
        t0 = time.time()
        decode_array(payload)
        td.append(time.time() - t0)
    raw = meta["raw_bytes"]
    return {
        "enc_gbps": raw / min(te) / 1e9,
        "dec_gbps": raw / min(td) / 1e9,
        "ratio": meta["enc_bytes"] / max(raw, 1),
        "raw_mb": raw / 1e6,
    }


def bench_training(wt: pa.Table) -> list[str]:
    """Markdown rows: best-of-REPS ms per FSST training and per plan."""
    import pyarrow.parquet as pq

    from libgiddy_spark.blocks import plan_one_file
    from libgiddy_spark.codecs import strcol_of
    from libgiddy_spark.codecs.fsst import train
    from libgiddy_spark.selector import FSST_TRIAL_BYTES

    def best_ms(fn) -> float:
        fn()  # warm
        ts = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return min(ts) * 1e3

    rows = []
    for c in ("url", "text", "html"):
        trial = strcol_of(wt.column(c).combine_chunks()).data[:FSST_TRIAL_BYTES]
        ms = best_ms(lambda: train(trial, generations=3))
        rows.append(f"| fsst.train, 64 KiB webtext {c} trial, 3 generations "
                    f"| {ms:.1f} |")
        ms = best_ms(lambda: train(trial))
        rows.append(f"| fsst.train, 64 KiB webtext {c} trial, 5-generation "
                    f"schedule (default) | {ms:.1f} |")
    with tempfile.TemporaryDirectory(prefix="lgs_bench_") as tmp:
        path = os.path.join(tmp, "webtext.parquet")
        pq.write_table(wt.slice(0, 3000), path)
        cols = wt.column_names
        ms = best_ms(lambda: plan_one_file(path, cols))
    rows.append(f"| plan_one_file, 3,000-row webtext file | {ms:.1f} |")
    return rows


def main() -> None:
    from libgiddy_spark.webtext import generate_batch

    rng = np.random.default_rng(42)
    n = 2_000_000
    ts = pa.array(
        (1_704_067_200_000_000 + np.cumsum(rng.integers(0, 800_000, n))).astype(
            "datetime64[us]"
        )
    )
    small_ints = pa.array(rng.integers(0, 1000, n))
    outliers = np.where(rng.random(n) < 0.01, 2**55, rng.integers(0, 64, n)).astype(np.int64)
    langs = pa.array(np.array(["en", "zh", "es", "de", "fr"])[rng.integers(0, 5, n)])
    runs = pa.array(np.repeat(rng.integers(0, 50, n // 500), 500))
    wt = pa.Table.from_batches([generate_batch(np.arange(100_000))])
    cases = [
        ("warc_ts monotone", ts, "delta"),
        ("small ints", small_ints, "for"),
        ("small ints", small_ints, "bitpack"),
        ("outliers 1% (patched FoR)", pa.array(outliers), "for"),
        ("lang categorical", langs, "dict"),
        ("long runs", runs, "rle"),
        ("webtext url", wt.column("url").combine_chunks(), "fsst"),
        ("webtext text", wt.column("text").combine_chunks(), "fsst"),
        ("webtext html (binary)", wt.column("html").combine_chunks(), "fsst"),
        ("webtext text", wt.column("text").combine_chunks(), "raw"),
    ]
    lines = [
        "# BENCH — per-codec kernel micro-benchmarks (single core, warm)",
        "",
        f"numpy {np.__version__}, pyarrow {pa.__version__}; best of {REPS} reps; "
        f"host with {len(os.sched_getaffinity(0))} vCPUs.",
        "",
        "| input | codec | raw MB | enc GB/s | dec GB/s | ratio |",
        "|---|---|---|---|---|---|",
    ]
    for name, arr, codec in cases:
        r = bench_one(arr, codec)
        lines.append(
            f"| {name} | {codec} | {r['raw_mb']:.1f} | {r['enc_gbps']:.3f} "
            f"| {r['dec_gbps']:.3f} | {r['ratio']:.4f} |"
        )
        print(lines[-1], flush=True)
    lines += ["", "## FSST training", "", "| step | ms |", "|---|---|"]
    for row in bench_training(wt):
        lines.append(row)
        print(row, flush=True)
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "KERNELS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
