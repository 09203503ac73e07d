"""Span bookkeeping and Spark event-log folding for the traced run.

A span is ``(name, start, end)`` in epoch seconds, taken in the
benchmark process around public calls.  Spark jobs and tasks are
attributed to the span whose interval holds their submission / launch
time: the jobs are single-threaded drivers, so spans never overlap and
the attribution is exact without relying on job-group propagation
(observation jobs carry their own groups).  Job groups are still set
per span so an event log read by other tools names its jobs.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator
from pathlib import Path

MB = 1024 * 1024

FIELDS = (
    "jobs", "busy_s", "cpu_s", "gc_s", "py_s", "py_sent_mb", "py_returned_mb",
    "shuffle_write_mb", "spill_mb",
)


def stage_spans(markers: list[tuple[float, str]], t_start: float, t_end: float) -> list[tuple[str, float, float]]:
    """Consecutive spans from stage-start markers ``(t, name)``: the
    first stage starts at ``t_start`` (work before its first marker —
    plan building, source reads — belongs to it), each later stage at
    its marker, and every stage ends where the next begins or at
    ``t_end``.  The spans therefore tile ``[t_start, t_end]``."""
    out = []
    ms = sorted(markers)
    for i, (t, name) in enumerate(ms):
        start = t_start if i == 0 else t
        end = ms[i + 1][0] if i + 1 < len(ms) else t_end
        out.append((name, start, end))
    return out


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of ``[a, b]`` intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_events(log_dir: Path) -> Iterator[dict]:
    """Every event of every (uncompressed) log file under ``log_dir``."""
    for path in sorted(p for p in Path(log_dir).rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _acc(task_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in task_info.get("Accumulables", []):
        name = a.get("Name")
        try:
            out[name] = out.get(name, 0.0) + float(a.get("Update", 0))
        except (TypeError, ValueError):
            continue
    return out


def fold(events: Iterable[dict], spans: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
    """Per-span totals of the Spark work launched inside each span.

    ``busy_s`` is the union of the span's job intervals (clipped to the
    span); everything else sums task metrics: executor CPU and GC
    time, Python worker time and Arrow bytes to and from the workers,
    shuffle bytes written, and spill."""
    out = {name: dict.fromkeys(FIELDS, 0.0) for name, _, _ in spans}
    job_start: dict[int, float] = {}
    job_intervals: dict[str, list[tuple[float, float]]] = {n: [] for n, _, _ in spans}

    def owner(t: float) -> tuple[str, float, float] | None:
        for span in spans:
            if span[1] <= t < span[2]:
                return span
        return None

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            job_start[e["Job ID"]] = t
            span = owner(t)
            if span:
                out[span[0]]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            t0 = job_start.get(e["Job ID"])
            span = owner(t0) if t0 is not None else None
            if span:
                t1 = min(e["Completion Time"] / 1000.0, span[2])
                job_intervals[span[0]].append((t0, max(t0, t1)))
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info", {})
            span = owner(info.get("Launch Time", 0) / 1000.0)
            m = e.get("Task Metrics")
            if not span or not m:
                continue
            s = out[span[0]]
            acc = _acc(info)
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            s["py_s"] += acc.get("time to run Python workers", 0.0) / 1e3
            s["py_sent_mb"] += acc.get("data sent to Python workers", 0.0) / MB
            s["py_returned_mb"] += acc.get("data returned from Python workers", 0.0) / MB
            s["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            s["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    for name, ivs in job_intervals.items():
        out[name]["busy_s"] = union_length(ivs)
    return out


def total(folded: dict[str, dict[str, float]], names: Iterable[str]) -> dict[str, float]:
    """Field-wise sum over the spans ``names``."""
    acc = dict.fromkeys(FIELDS, 0.0)
    for n in names:
        for k, v in folded.get(n, {}).items():
            acc[k] += v
    return acc
