#!/usr/bin/env python3
"""Benchmark entry point for libgiddy_spark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S \\
        --trace 0|1

Run from the repository root. It imports ``libgiddy_spark`` from the
current directory only, builds every input from ``--seed`` in a
run-scoped directory under ``.perfbench/`` and removes it at the end.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (the traced run also writes spans and every layer
metric to ``.perfbench/out/``). ``--workload all`` runs each workload
in its own process, untraced then traced, and prints a table.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CWD = os.getcwd()
WORKLOAD_NAMES = ["webtext_roundtrip", "key_lookup", "append_commits"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="'tiny' is for the smoke test only")
    return ap.parse_args(argv)


def import_library():
    """Import libgiddy_spark from the current directory, never from
    anywhere else; exit non-zero without a result if it is missing."""
    sys.path.insert(0, CWD)
    try:
        import libgiddy_spark
    except ImportError as e:
        sys.exit(f"perfbench: libgiddy_spark not importable from {CWD}: {e}")
    where = os.path.dirname(os.path.abspath(libgiddy_spark.__file__))
    if os.path.dirname(where) != CWD:
        sys.exit(f"perfbench: libgiddy_spark came from {where}, not {CWD}")
    return libgiddy_spark


def host_info(seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    def first(path, prefix):
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(prefix):
                        return line.split(":", 1)[1].strip()
        except OSError:
            return None
        return None

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=CWD, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    mem = first("/proc/meminfo", "MemTotal")
    return {
        "nproc": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "spark_slots": session_cores(),
        "cpu_model": first("/proc/cpuinfo", "model name")
        or platform.processor(),
        "ram_gb": round(int(mem.split()[0]) / 2**20, 1) if mem else None,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": commit,
        "seed": seed,
    }


def session_cores() -> int:
    """Task slots: half the CPUs this process may use. The JVM's own
    threads, its Python workers and the driver share the CPUs with the
    tasks; with a slot per CPU a round trip ran 35-45 % slower on a
    4-CPU host, and no steadier."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def make_spark(run_dir: str, cores: int, event_dir: str | None):
    """A session sized for this host: local[cores], a driver heap of a
    quarter of RAM capped at 4 GB, scratch space inside the run dir.
    The JVM compiles with C1 only: with C2 as well, op latency kept
    falling for the first 8-10 round trips of a session, so a run's
    medians depended on how many operations fit in it; with C1 only it
    is flat after the warm-up."""
    from pyspark.sql import SparkSession

    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap_mb = max(1024, min(4096, ram_mb // 4))
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("libgiddy-spark-perfbench")
         .config("spark.driver.memory", f"{heap_mb}m")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={run_dir} -XX:TieredStopAtLevel=1")
         .config("spark.local.dir", run_dir)
         .config("spark.sql.warehouse.dir", os.path.join(run_dir, "wh"))
         .config("spark.sql.shuffle.partitions", str(cores * 4))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", "file://" + event_dir))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM (which exits at EOF on its stdin),
    then wait until every process this run started has ended."""
    from pyspark import SparkContext

    import spans

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 60
    while spans.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def run_one(args) -> int:
    import_library()
    sys.path.insert(0, HERE)
    import spans
    import workloads as wl

    run_dir = os.path.join(CWD, ".perfbench", "tmp",
                           f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # worker processes, the native-kernel build cache and any temp file
    # land inside the run dir and go away with it
    os.environ["TMPDIR"] = run_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [CWD] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    cores = session_cores()
    host = host_info(args.seed)
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    tracer = spans.Tracer(bool(args.trace))
    fn, kind1, kind2 = wl.WORKLOADS[args.workload]
    spark, mem, replay = None, None, None
    try:
        if event_dir:
            os.makedirs(event_dir)
        t0 = time.time()
        spark = make_spark(run_dir, cores, event_dir)
        session_s = time.time() - t0
        run = wl.Run(spark, tracer, run_dir, args.seed, args.scale)
        mem = spans.MemSampler() if args.trace else None
        with mem or contextlib.nullcontext():
            fn(run, args.seconds)
        if args.trace:
            import replay as rp

            replay = rp.replay(run, tracer)
        stop_spark(spark)  # also flushes the event log
        spark = None
        report = summarize(run, args, host, session_s, kind1, kind2, cores,
                           event_dir, tracer, mem, replay)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for k, v in report["named"].items():
        print(f"{args.workload:20s} {k:28s} {_fmt(v)}")
    for k, v in report["per_layer"].items():
        print(f"{args.workload:20s} {k:40s} {_fmt(v)}")
    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o["ok"])
    if args.trace:
        import layers

        metrics = {k: report["per_layer"][k] for k in layers.REPORTED}
    else:
        metrics = report["end_to_end"]
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _fmt(v) -> str:
    if isinstance(v, dict) and "value" in v:
        return f"{v['value']:.6g} {v['unit']}" + (
            f"  ({v['note']})" if v.get("note") else "")
    return json.dumps(v)


def summarize(run, args, host, session_s, kind1, kind2, cores, event_dir,
              tracer, mem, replay) -> dict:
    import workloads as wl

    s1 = wl.latency_summary(run.ops, kind1)
    s2 = wl.latency_summary(run.ops, kind2)
    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o["ok"])
    setup_s = (session_s + statistics.median(run.setup_secs)
               + sum(run.once_secs.values()))
    ratio = run.ratios[0] if run.ratios else None
    # the op medians in units of the reference job's (see README)
    ref_ms = statistics.median(run.ref_secs) * 1e3
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op1_rel": {"value": s1["p50_ms"] / ref_ms if s1 else None,
                    "unit": "x"},
        "op2_rel": {"value": s2["p50_ms"] / ref_ms if s2 else None,
                    "unit": "x"},
        "ratio": {"value": ratio, "unit": "ratio"},
    }
    named = named_metrics(args.workload, run, s1, s2, e2e, attempted,
                          failed)
    named["ref_ms"] = {"value": ref_ms, "unit": "ms",
                       "note": f"median of {len(run.ref_secs)}"}
    named["setup_parts"] = {"session_s": session_s,
                            "prep_s": run.setup_secs,
                            "once_s": run.once_secs}
    named["host"] = host
    per_layer: dict = {}
    if args.trace:
        import layers

        per_layer = layers.per_layer(run, tracer, event_dir, cores, mem,
                                     replay, kind1, kind2)
        out_dir = os.path.join(CWD, ".perfbench", "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        with open(stem + "-spans.json", "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": tracer.spans, "ops": run.ops}, f)
        with open(stem + "-layers.json", "w") as f:
            json.dump({"workload": args.workload, "host": host,
                       "end_to_end": named, "per_layer": per_layer}, f,
                      indent=1, default=str)
    return {"end_to_end": e2e, "named": named, "per_layer": per_layer}


def named_metrics(workload, run, s1, s2, e2e, attempted, failed) -> dict:
    """The end-to-end metrics under their per-workload names."""
    names = {
        "webtext_roundtrip": ("encode", "decode"),
        "key_lookup": ("point", "range"),
        "append_commits": ("commit", "decode"),
    }[workload]
    out = {"setup_s": e2e["setup_s"]}
    for name, s, rel in zip(names, (s1, s2), ("op1_rel", "op2_rel")):
        if s is None:
            continue
        out[f"{name}_rel"] = e2e[rel]
        if name in ("encode", "decode"):
            out[f"{name}_s"] = {"value": s["p50_ms"] / 1e3, "unit": "s",
                                "note": f"median of {s['n']}"}
        else:
            out[f"{name}_p50_ms"] = {"value": s["p50_ms"], "unit": "ms",
                                     "note": f"n={s['n']}"}
        if "tail_ms" in s:
            out[f"{name}_tail_ms"] = {
                "value": s["tail_ms"], "unit": "ms",
                "note": f"p{s['tail_pct']} of {s['n']}"}
    if workload != "key_lookup":
        out["ratio"] = {"value": e2e["ratio"]["value"], "unit": "ratio"}
        if len(set(run.ratios)) > 1:
            out["ratio"]["note"] = "differs between encodes of one input"
    out["fail_frac"] = {"value": failed / max(attempted, 1), "unit": "frac",
                        "note": f"{failed} of {attempted} ops"}
    return out


def run_all(args) -> int:
    """Every workload in its own process, untraced then traced."""
    rows = []
    for w in WORKLOAD_NAMES:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace),
                   "--scale", args.scale]
            p = subprocess.run(cmd, capture_output=True, text=True,
                               timeout=900)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stderr[-4000:])
                print(f"{w}: failed with exit code {p.returncode}")
                return 1
            if trace == 0:
                rows.extend(lines[:-1])
            print(f"{w} trace={trace}: {lines[-1]}")
    print("\n".join(rows))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
