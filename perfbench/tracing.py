"""Measurement side of the benchmark: latency summaries, layer spans,
Spark job-group accounting and the Spark event-log parser.

Every span is recorded from the benchmark's own code, around a call into
one of the engine's public modules; the engine itself is not changed.
Nothing here imports Spark: the Spark handles are passed in.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile that still has at least ``beyond`` of
    ``n`` samples above it, or None when fewer than ``beyond + 1`` samples
    exist. Samples above percentile p: n - ceil(p/100 * n)."""
    best = None
    for p in range(1, 100):
        if n - math.ceil(p * n / 100) >= beyond:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    ordered = sorted(values)
    k = max(1, math.ceil(p * len(ordered) / 100))
    return ordered[k - 1]


def latency_summary(latencies: list[float]) -> dict:
    """Median and tail latency. The tail is the highest percentile with at
    least ten samples beyond it; below 20 samples that percentile is not
    above the median, so the tail is the maximum (``tail_pct`` 100)."""
    n = len(latencies)
    p = tail_percentile(n)
    if p is None or p <= 50:
        p = 100
    return {
        "n": n,
        "p50_s": statistics.median(latencies),
        "tail_pct": p,
        "tail_s": percentile(latencies, p),
    }


def read_vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    """Spans of layer calls, kept in memory and written out at the end.

    A span is (name, start, end, parent, op). With ``enabled=False`` the
    ``span`` context manager records nothing, and job groups are not set,
    so the untraced run measures the engine alone."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str, group: str | None = None, phase: str | None = None):
        """Time one layer call. ``group`` names the Spark job group the
        call's jobs are attributed to (``<workload>:<op>:<layer>``);
        ``phase`` marks the op's top-level ``build`` or ``exec`` span."""
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "op": op, "parent": self._stack[-1] if self._stack else None,
               "group": group, "phase": phase, "start": time.perf_counter(),
               "cpu0": time.process_time()}
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        prev_group = None
        if group is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_s"] = time.process_time() - rec.pop("cpu0")
            self._stack.pop()
            if group is not None:
                rec.update(job_counts(self.sc, group))
                if prev_group is not None:
                    self.sc.setJobGroup(prev_group, prev_group)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans: list[dict], ops=None) -> dict[str, float]:
    """Per span name: summed duration minus the time its children cover,
    over the spans of ``ops`` (all ops when None)."""
    child: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if ops is None or s["op"] in ops:
            out[s["name"]] += (s["end"] - s["start"]) - child[i]
    return dict(out)


def job_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group (StatusTracker)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None and si.numTasks > 0:
                stages += 1
                tasks += si.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_TASK_KEYS = {
    "task_run_s": ("Executor Run Time", 1e-3),
    "task_cpu_s": ("Executor CPU Time", 1e-9),
    "jvm_gc_s": ("JVM GC Time", 1e-3),
    "spill_mb": ("Disk Bytes Spilled", 1 / 2**20),
}


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Task metrics per job group from Spark event-log JSON lines.

    Jobs carry their group in ``spark.jobGroup.id``; a stage belongs to
    the job that submitted it; a task's metrics go to its stage's group.
    Returns {group: {task_run_s, task_cpu_s, jvm_gc_s, shuffle_read_mb,
    shuffle_write_mb, spill_mb, tasks, failed_tasks}}."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            acc = out[group]
            acc["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                acc["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            for key, (src, scale) in _TASK_KEYS.items():
                acc[key] += m.get(src, 0) * scale
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
    return {g: dict(v) for g, v in out.items()}
