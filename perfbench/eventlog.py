"""Fold a Spark event log (uncompressed JSON lines) into per-span
layer records.

A span is one query execution: ``(key, t0_ms, t1_ms)`` in wall-clock
epoch milliseconds. Queries run one at a time, so every job and stage
submitted inside a span belongs to it, whichever thread submitted it
(streaming micro-batches run on stream threads, outside any job
group). Tasks and executor-metric peaks follow their stage.
"""

from __future__ import annotations

import datetime
import json
import os
from collections import defaultdict

# stage-level task metrics: accumulable name -> (record field, scale)
_TASK_ACCUM = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.input.recordsRead": ("input_records", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.write.writeTime": ("shuffle_write_s", 1e-9),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.fetchWaitTime": ("fetch_wait_s", 1e-3),
    "internal.metrics.diskBytesSpilled": ("spill_disk_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_memory_bytes", 1),
}

# SQL metrics of the Python-worker plan nodes (Spark's PythonSQLMetrics)
_PYTHON_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "number of output rows": "python_rows_received",
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
}
_MARKER = "data sent to Python workers"
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_failures",
    "stage_retries",
    "job_busy_s",
    *dict.fromkeys(field for field, _ in _TASK_ACCUM.values()),
    *_PYTHON_METRICS.values(),
    "micro_batches",
    "heap_peak_mb",
)


def read_events(path: str) -> list[dict]:
    """Events from one log file or every file in a log directory. A
    torn last line (a log still being written) is skipped."""
    files = [path]
    if os.path.isdir(path):
        files = [os.path.join(path, f) for f in sorted(os.listdir(path))]
    events = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    continue
    return events


def _iso_ms(ts: str) -> int:
    dt = datetime.datetime.fromisoformat(ts.replace("Z", "+00:00"))
    return int(dt.timestamp() * 1000)


def _python_accumulators(events: list[dict]) -> dict[int, tuple[str, float]]:
    """Accumulator id -> (record field, unit scale) for the metrics of
    every Python-worker node in every SQL plan (initial and adaptive)."""
    out: dict[int, tuple[str, float]] = {}
    stack = [e["sparkPlanInfo"] for e in events if "sparkPlanInfo" in e]
    while stack:
        node = stack.pop()
        stack.extend(node.get("children", []))
        metrics = node.get("metrics", [])
        if not any(m["name"] == _MARKER for m in metrics):
            continue
        for m in metrics:
            if m["name"] in _PYTHON_METRICS:
                scale = _UNIT.get(m.get("metricType"), 1)
                out[m["accumulatorId"]] = (_PYTHON_METRICS[m["name"]], scale)
    return out


def _union_s(intervals: list[tuple[int, int]], lo: int, hi: int) -> float:
    """Length in seconds of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total / 1000.0


def fold(events: list[dict], spans: list[tuple[str, int, int]]) -> dict[str, dict]:
    """One record per span key with every field in ``FIELDS``."""
    recs = {k: dict.fromkeys(FIELDS, 0) for k, _, _ in spans}
    ordered = sorted(spans, key=lambda s: s[1])

    def owner(t_ms: int | None) -> str | None:
        if t_ms is None:
            return None
        for key, t0, t1 in ordered:
            if t0 <= t_ms <= t1:
                return key
        return None

    py_acc = _python_accumulators(events)
    jobs: dict[int, list] = {}
    stage_owner: dict[tuple[int, int], str] = {}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            key = owner(e.get("Submission Time"))
            if key is not None:
                recs[key]["jobs"] += 1
                jobs[e["Job ID"]] = [key, e["Submission Time"], None]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][2] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = owner(info.get("Submission Time"))
            if key is not None:
                stage_owner[(info["Stage ID"], info["Stage Attempt ID"])] = key
                recs[key]["stages"] += 1
                if info["Stage Attempt ID"] > 0:
                    recs[key]["stage_retries"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = stage_owner.get((info["Stage ID"], info["Stage Attempt ID"]))
            if key is None:
                continue
            rec = recs[key]
            for acc in info.get("Accumulables", []):
                val = acc.get("Value")
                if val is None:
                    continue
                hit = _TASK_ACCUM.get(acc.get("Name")) or py_acc.get(acc.get("ID"))
                if hit is not None:
                    field, scale = hit
                    rec[field] += float(val) * scale
        elif kind == "SparkListenerTaskEnd":
            key = stage_owner.get((e["Stage ID"], e["Stage Attempt ID"]))
            if key is not None:
                recs[key]["tasks"] += 1
                if e.get("Task End Reason", {}).get("Reason") != "Success":
                    recs[key]["task_failures"] += 1
        elif kind == "SparkListenerStageExecutorMetrics":
            key = stage_owner.get((e["Stage ID"], e["Stage Attempt ID"]))
            heap = e.get("Executor Metrics", {}).get("JVMHeapMemory")
            if key is not None and heap is not None:
                recs[key]["heap_peak_mb"] = max(recs[key]["heap_peak_mb"], heap / 2**20)
        elif kind.endswith("QueryProgressEvent"):
            key = owner(_iso_ms(e["progress"]["timestamp"]))
            if key is not None:
                recs[key]["micro_batches"] += 1
    by_key: dict[str, list] = defaultdict(list)
    for key, t0, t1 in jobs.values():
        by_key[key].append((t0, t1 if t1 is not None else t0))
    for key, t0, t1 in spans:
        recs[key]["job_busy_s"] = _union_s(by_key[key], t0, t1)
    return recs
