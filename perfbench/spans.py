"""Spans, Spark event-log digestion and /proc memory sampling.

Everything here observes the library from outside: spans wrap the
benchmark's own calls into ``libgiddy_spark``, Spark's per-operation
numbers come from the event log of the benchmark's own session (jobs
are matched to operations by job group), and memory comes from /proc.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent and op id.

    Disabled tracers record nothing; ``span`` then costs one attribute
    check, so untraced runs time the same code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.time()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.time() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time() - self.t0
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus the part of its
        interval that its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_len(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out


def _union_len(intervals: list[tuple[float, float]], lo: float,
               hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spark_op_metrics(event_dir: str, ops: list[dict],
                     cores: int) -> dict[str, dict]:
    """Per-op Spark numbers from the session's event log.

    ``ops`` carry ``id`` (the job group the op ran under), ``start``
    and ``end`` (epoch seconds). Returns op id -> metrics."""
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    paths = sorted(os.path.join(d, f) for d, _s, fs in os.walk(event_dir)
                   for f in fs if f.startswith("events_"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id")
                    job_span[jid] = [ev["Submission Time"] / 1e3, None]
                    for st in ev.get("Stage Infos", ()):
                        stage_job.setdefault(st["Stage ID"], jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_span:
                        job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "secs": (info.get("Finish Time", 0)
                                 - info.get("Launch Time", 0)) / 1e3,
                        "gc": tm.get("JVM GC Time", 0) / 1e3,
                        "shuffle": sw.get("Shuffle Bytes Written", 0),
                    })
    by_group: dict[str, list[int]] = {}
    for jid, g in job_group.items():
        if g is not None:
            by_group.setdefault(g, []).append(jid)
    out: dict[str, dict] = {}
    for op in ops:
        jids = set(by_group.get(op["id"], ()))
        op_tasks = [t for sid, ts in tasks.items()
                    if stage_job.get(sid) in jids for t in ts]
        wall = max(op["end"] - op["start"], 1e-9)
        busy = sum(t["secs"] for t in op_tasks)
        durs = sorted(t["secs"] for t in op_tasks)
        in_jobs = _union_len(
            [(s, e if e is not None else op["end"])
             for j, (s, e) in job_span.items() if j in jids],
            op["start"], op["end"])
        out[op["id"]] = {
            "jobs": len(jids),
            "tasks": len(op_tasks),
            "shuffle_write_mb": sum(t["shuffle"] for t in op_tasks) / 1e6,
            "task_busy_s": busy,
            "slot_util": busy / (wall * cores),
            "task_skew": (durs[-1] / max(statistics.median(durs), 1e-3)
                          if durs else None),
            "gc_s": sum(t["gc"] for t in op_tasks),
            "driver_gap_s": wall - in_jobs,
        }
    return out


def _children(pid_of_parent: dict[int, int], root: int) -> set[int]:
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        for c, pp in pid_of_parent.items():
            if pp == p and c not in out:
                out.add(c)
                todo.append(c)
    return out


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        out[int(d)] = (ppid, comm)
    return out


def descendants(pid: int) -> set[int]:
    """Live processes started, directly or not, by ``pid``."""
    parent = {p: pp for p, (pp, _c) in _proc_table().items()}
    return _children(parent, pid)


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class MemSampler:
    """Samples the RSS of this process's JVM and of the JVM's Python
    workers (summed) every ``interval`` seconds; keeps the peaks."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.jvm_peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        table = _proc_table()
        parent = {p: pp for p, (pp, _c) in table.items()}
        mine = _children(parent, os.getpid())
        jvms = [p for p in mine if table[p][1] == "java"]
        workers: set[int] = set()
        for j in jvms:
            workers |= {p for p in _children(parent, j)
                        if table.get(p, (0, ""))[1].startswith("python")}
        self.jvm_peak_mb = max(self.jvm_peak_mb,
                               sum(_rss_mb(p) for p in jvms))
        self.worker_peak_mb = max(self.worker_peak_mb,
                                  sum(_rss_mb(p) for p in workers))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
