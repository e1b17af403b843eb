"""Spans recorded around the benchmark's calls into each library layer,
and the reporter that turns them plus Spark's event log into per-layer
metrics.

A span has a name, start, end, parent and run id. Spans are kept in
memory and written out once, when the run ends. While a span is open,
the Spark jobs it submits carry its id as their job group, so the event
log attributes every task to the innermost span that caused it. With
tracing off, ``span`` records nothing and labels no job.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time


class Tracer:
    def __init__(self, run_id: str, sc=None, enabled: bool = True):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._label(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def _label(self, sid):
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- reporting -----------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its child spans cover (children
        run on the same thread, so they never overlap each other)."""
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == span["id"] and c["end"] is not None)
        return (span["end"] - span["start"]) - kids

    def median_self(self, name: str) -> float:
        xs = [self.self_time(s) for s in self.named(name)]
        return statistics.median(xs) if xs else 0.0

    def subtree(self, root: dict) -> set[int]:
        ids, frontier = {root["id"]}, [root["id"]]
        while frontier:
            p = frontier.pop()
            for s in self.spans:
                if s["parent"] == p:
                    ids.add(s["id"])
                    frontier.append(s["id"])
        return ids


def read_event_log(log_dir: str) -> tuple[dict, list[dict]]:
    """(jobs, tasks) from the one application log in ``log_dir``.
    jobs: {job_id: {"group": span job group or None, "stages": [...]}};
    tasks: one dict per finished task, times in seconds since epoch."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    # a rolling (v2) log is a directory of numbered event files
    files = [path] if os.path.isfile(path) else sorted(
        (os.path.join(path, n) for n in os.listdir(path) if n.startswith("events_")),
        key=lambda p: int(os.path.basename(p).split("_")[1]))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {"group": props.get("spark.jobGroup.id"), "stages": ev["Stage IDs"]}
            for st in ev["Stage IDs"]:
                stage_job.setdefault(st, jid)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            launch, finish = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
            run_s = m.get("Executor Run Time", 0) / 1e3
            overhead = (m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": ev["Stage ID"],
                "job": stage_job.get(ev["Stage ID"]),
                "launch": launch,
                "finish": finish,
                "run_s": run_s,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "sched_delay_s": max(0.0, (finish - launch) - run_s - overhead
                                     - info.get("Getting Result Time", 0) / 1e3),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill_disk": m.get("Disk Bytes Spilled", 0),
            })
    return jobs, tasks


def _lines(paths):
    for p in paths:
        with open(p) as f:
            yield from f


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


def spark_metrics(tracer: Tracer, op_name: str, jobs: dict, tasks: list[dict]) -> dict:
    """Per-operation Spark figures over the traced ops named ``op_name``:
    each op's jobs are those whose group is a span in its subtree."""
    ops = tracer.named(op_name)
    out = {k: 0.0 for k in (
        "spark.jobs", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
        "spark.gc_s", "spark.scheduler_delay_s", "spark.shuffle_write_bytes",
        "spark.shuffle_read_bytes", "spark.spill_disk_bytes", "spark.task_skew",
        "spark.driver_gap_s")}
    if not ops:
        return out
    stage_tasks: dict[int, list[dict]] = {}
    for op in ops:
        groups = {f"span-{i}" for i in tracer.subtree(op)}
        op_jobs = {j for j, info in jobs.items() if info["group"] in groups}
        op_tasks = [t for t in tasks if t["job"] in op_jobs]
        out["spark.jobs"] += len(op_jobs)
        out["spark.tasks"] += len(op_tasks)
        for key, field in (("spark.task_run_s", "run_s"), ("spark.task_cpu_s", "cpu_s"),
                           ("spark.gc_s", "gc_s"), ("spark.scheduler_delay_s", "sched_delay_s"),
                           ("spark.shuffle_write_bytes", "shuffle_write"),
                           ("spark.shuffle_read_bytes", "shuffle_read"),
                           ("spark.spill_disk_bytes", "spill_disk")):
            out[key] += sum(t[field] for t in op_tasks)
        busy = _covered([(t["launch"], t["finish"]) for t in op_tasks], op["start"], op["end"])
        out["spark.driver_gap_s"] += (op["end"] - op["start"]) - busy
        for t in op_tasks:
            stage_tasks.setdefault(t["stage"], []).append(t)
    out = {k: v / len(ops) for k, v in out.items()}
    if stage_tasks:
        longest = max(stage_tasks.values(),
                      key=lambda ts: max(t["finish"] for t in ts) - min(t["launch"] for t in ts))
        runs = [t["run_s"] for t in longest]
        med = statistics.median(runs)
        out["spark.task_skew"] = max(runs) / med if med > 0 else 1.0
    return out
