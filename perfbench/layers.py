"""Per-layer metrics of a traced run, each named after the module it
measures. A layer the workload does not exercise is left out."""

from __future__ import annotations

import statistics

import spans
import workloads

UNITS = {
    "jobs": "count", "tasks": "count", "shuffle_write_mb": "MB",
    "task_busy_s": "s", "slot_util": "frac", "task_skew": "ratio",
    "gc_s": "s", "driver_gap_s": "s",
}
# The per-layer metrics every workload produces; the last line of a
# traced run carries exactly these (BENCHMARK.json lists them), the
# layers file carries everything.
REPORTED = [
    *[f"spark.{op}.{m}" for op in ("op1", "op2") for m in (
        "jobs", "tasks", "shuffle_write_mb", "task_busy_s", "slot_util",
        "task_skew", "gc_s", "driver_gap_s")],
    "engine.decode_plan_ms", "manifest.read_ms", "manifest.lines",
    "manifest.kb", "table_io.list_ms", "skew.footer_stats_ms",
    "selector.select_ms", "blocks.plan_s", "blocks.read_s",
    "blocks.encode_group_self_s", "blocks.decode_group_self_s",
    "blocks.write_s", "blocks.files", "blocks.groups", "blocks.row_groups",
    "blocks.disk_mb", "mem.worker_peak_rss_mb", "mem.jvm_peak_rss_mb",
    "trace.overhead_frac",
    "latency.op1_p50_ms", "latency.op2_p50_ms", "ref.p50_ms",
]


def _unit(name: str) -> str:
    if name.startswith("self_s."):
        return "s"
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_ms", "ms"), ("_us", "us"), ("_s", "s"),
                         ("_mbps", "MB/s"), ("_mb", "MB"), ("_frac", "frac")):
        if last.endswith(suffix):
            return unit
    if last == "kb":
        return "KiB"
    if last in UNITS:
        return UNITS[last]
    return "count" if last in ("lines", "files", "groups", "row_groups",
                               "blocks", "candidate_groups") else "ratio"


def per_layer(run, tracer, event_dir, cores, mem, replay, kind1,
              kind2) -> dict:
    vals: dict[str, float] = {}
    traced = [o for o in run.ops if o["traced"]]
    by_op = spans.spark_op_metrics(event_dir, traced, cores)
    for label, kind in (("op1", kind1), ("op2", kind2)):
        ms = [by_op[o["id"]] for o in traced if o["kind"] == kind]
        for m in UNITS:
            xs = [x[m] for x in ms if x[m] is not None]
            if xs:
                vals[f"spark.{label}.{m}"] = statistics.median(xs)
    # engine: time until the public call returns, from the spans
    for span_name, metric in (
            ("engine.decode_blocks", "engine.decode_plan_ms"),
            ("engine.delete_rows", "engine.delete_ms")):
        xs = [(s["end"] - s["start"]) * 1e3 for s in tracer.spans
              if s["name"] == span_name and s["op"] is not None]
        if xs:
            vals[metric] = statistics.median(xs)
    vals.update(replay)
    bs = run.state["blocks"]
    for k in ("files", "groups", "row_groups", "disk_mb"):
        vals[f"blocks.{k}"] = bs[k]
    for table in (bs, run.state.get("li_blocks")):
        for codec, c in (table or {}).get("codecs", {}).items():
            for name, v in (("raw_mb", c["raw_bytes_sum"] / 1e6),
                            ("enc_mb", c["enc_bytes_sum"] / 1e6),
                            ("blocks", c["codec_count"])):
                key = f"codecs.{codec}.{name}"
                vals[key] = vals.get(key, 0) + v
    # kernel seconds per op (the replay sample scaled by raw bytes) over
    # the op's task time; a commit encodes one of op_files files (the
    # HEAD decode of append_commits reads all of them and is left out)
    per_op_raw = run.state["raw_bytes"] / run.state.get("op_files", 1)
    scale = per_op_raw / 1e6 / max(replay["replay.raw_mb"], 1e-9)
    for share, kinds, k_s in (
            ("codecs.kernel_share_enc", ("encode", "commit"),
             "replay.enc_kernel_s"),
            ("codecs.kernel_share_dec", ("decode",), "replay.dec_kernel_s")):
        busy = [by_op[o["id"]]["task_busy_s"] for o in traced
                if o["kind"] in kinds]
        if busy and statistics.median(busy) > 0:
            vals[share] = replay[k_s] * scale / statistics.median(busy)
    vals["mem.worker_peak_rss_mb"] = mem.worker_peak_mb
    vals["mem.jvm_peak_rss_mb"] = mem.jvm_peak_mb
    plain = workloads.latency_summary(run.ops, kind1, traced=False)
    with_trace = workloads.latency_summary(run.ops, kind1, traced=True)
    if plain and with_trace:
        vals["trace.overhead_frac"] = (with_trace["p50_ms"]
                                       / plain["p50_ms"] - 1)
    # op latencies in ms (untraced half) and the reference job's, of
    # which the end-to-end *_rel metrics are the quotients
    for label, kind in (("op1", kind1), ("op2", kind2)):
        s = workloads.latency_summary(run.ops, kind, traced=False)
        if s:
            vals[f"latency.{label}_p50_ms"] = s["p50_ms"]
    vals["ref.p50_ms"] = statistics.median(run.ref_secs) * 1e3
    for name, secs in sorted(tracer.self_times().items()):
        vals[f"self_s.{name}"] = secs
    return {k: {"value": v, "unit": _unit(k)} for k, v in vals.items()}
