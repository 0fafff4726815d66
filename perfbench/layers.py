"""Spans and per-layer counts.

Spark's side comes from its event log: one uncompressed JSON line per
listener event. Jobs, stages and tasks are attributed to a sample by the
job group the benchmark (or ``BatchPipeline``) set around the sample's
whole call, which is in every ``JobStart``'s properties. Python-worker
traffic is read from the SQL metrics of the plan nodes that feed Python
workers (the nodes that carry a "data sent to Python workers" metric).
"""

from __future__ import annotations

import json
import math
import os
from collections import defaultdict
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
ROWS_OUT = "number of output rows"

# Per-group counters summed over tasks; names are the per-layer metrics.
TASK_FIELDS = (
    "spark.sched_delay_s",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "scan.input_bytes",
    "shuffle.read_bytes",
    "shuffle.write_bytes",
    "spill.bytes",
    "python.bytes_sent",
    "python.rows_received",
)


@dataclass
class GroupStats:
    jobs: list[tuple[int, float, float]] = field(default_factory=list)  # id, start, end
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))


@dataclass
class Span:
    name: str
    sample: str  # spans of one key sample or one batch share this id
    start: float
    end: float
    parent: str | None = None
    self_s: float = 0.0


def _python_row_ids(plan: dict, out: set[int]) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_SENT in metrics and ROWS_OUT in metrics:
        out.add(metrics[ROWS_OUT])
    for child in plan.get("children", []):
        _python_row_ids(child, out)


def _task_counters(ev: dict, py_rows: set[int]) -> dict[str, float]:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    duration = info["Finish Time"] - info["Launch Time"]
    got_result = info.get("Getting Result Time") or 0
    getting = info["Finish Time"] - got_result if got_result else 0
    delay_ms = max(
        0,
        duration
        - run_ms
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - getting,
    )
    shuffle_r = m.get("Shuffle Read Metrics") or {}
    out = {
        "spark.sched_delay_s": delay_ms / 1000.0,
        "exec.run_s": run_ms / 1000.0,
        "exec.cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "exec.gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "scan.input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "shuffle.read_bytes": shuffle_r.get("Remote Bytes Read", 0)
        + shuffle_r.get("Local Bytes Read", 0),
        "shuffle.write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        ),
        "spill.bytes": m.get("Disk Bytes Spilled", 0),
        "python.bytes_sent": 0.0,
        "python.rows_received": 0.0,
    }
    for acc in info.get("Accumulables", []):
        try:
            update = float(acc.get("Update", 0))
        except (TypeError, ValueError):
            continue
        if acc.get("Name") == PY_SENT:
            out["python.bytes_sent"] += update
        elif acc.get("ID") in py_rows:
            out["python.rows_received"] += update
    return out


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Per-job-group Spark accounting from one application's event log."""
    events = []
    with open(path) as fh:
        for line in fh:
            events.append(json.loads(line))
    py_rows: set[int] = set()
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    for ev in events:
        kind = ev["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _python_row_ids(ev["sparkPlanInfo"], py_rows)
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = group
            job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].jobs.append(
                    (jid, job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_group:
                groups[stage_group[sid]].stages.add(sid)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            st = groups[group]
            st.tasks += 1
            for k, v in _task_counters(ev, py_rows).items():
                st.counters[k] += v
    return groups


def read_event_logs(log_dir: str) -> dict[str, GroupStats]:
    out: dict[str, GroupStats] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in sorted(os.listdir(log_dir)):
        if not name.endswith(".inprogress"):
            out.update(read_event_log(os.path.join(log_dir, name)))
    return out


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals`` covers."""
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


def set_self_times(spans: list[Span]) -> None:
    """A span's self time is its duration minus what its children cover."""
    children: dict[tuple[str, str], list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[(s.sample, s.parent)].append((s.start, s.end))
    for s in spans:
        kids = children.get((s.sample, s.name), [])
        s.self_s = (s.end - s.start) - covered_s(kids, s.start, s.end)


def job_spans(sample: str, stats: GroupStats, parents: list[Span]) -> list[Span]:
    """One child span per Spark job, under the parent span its submission
    time falls in (the last parent if it falls in none)."""
    out = []
    for jid, start, end in stats.jobs:
        parent = next(
            (p.name for p in parents if p.start <= start <= p.end), parents[-1].name
        )
        out.append(Span(f"spark.job.{jid}", sample, start, end, parent))
    return out


def group_totals(stats: list[GroupStats]) -> dict[str, float]:
    """Sum of job/stage/task counts and task counters over ``stats``."""
    out = {
        "spark.jobs": float(sum(len(s.jobs) for s in stats)),
        "spark.stages": float(sum(len(s.stages) for s in stats)),
        "spark.tasks": float(sum(s.tasks for s in stats)),
    }
    for k in TASK_FIELDS:
        out[k] = float(sum(s.counters.get(k, 0.0) for s in stats))
    return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    ordered = sorted(values)
    return ordered[max(math.ceil(q / 100.0 * len(ordered)) - 1, 0)]
