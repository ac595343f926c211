"""Spans around the program's public layer functions, and the reduction of
Spark's event log per span.

Spans are recorded from the benchmark's side only: :class:`Tracer` swaps
selected module and class attributes of the program for wrappers while a
traced iteration runs and restores them afterwards. Each span carries a
name, start, end, parent and the trace id of the iteration it belongs to.
While a span is the innermost open one, every Spark job started on the
driver thread is tagged with its id through a job local property, so the
event log can be reduced per span. Spans stay in memory until the run
writes its side file.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    trace: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    # the same instants on the epoch clock Spark stamps its events with
    epoch_start: float = 0.0
    epoch_end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every span a no-op
    so the untraced and traced iterations run the same benchmark code."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace = ""
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def trace(self, trace_id: str):
        self._trace = trace_id
        try:
            yield
        finally:
            self._trace = ""

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), self._trace, name,
                 parent.id if parent else None, time.monotonic(),
                 epoch_start=time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(s.id))
        try:
            yield s
        finally:
            s.end = time.monotonic()
            s.epoch_end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1].id) if self._stack else None)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until :meth:`unwrap`.
        ``on_result(result)`` sees each result inside the span and returns
        what the caller gets."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
                return on_result(out) if on_result is not None else out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def spans_of(self, trace_id: str) -> list[Span]:
        return [s for s in self.spans if s.trace == trace_id]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.id] = s.duration - covered
    return out


def reconcile(spans: list[Span], root: Span, tolerance_s: float = 1e-3) -> dict:
    """The span table of ``root``: the self time of every span under it
    by name, and the root's own self time (the unattributed time). Their
    sum equals the root's wall time by construction while spans nest;
    :func:`check_attribution` holds the table against measurements made
    outside the spans."""
    st = self_times(spans)
    below = [s for s in spans if s.id != root.id and _under(s, root, spans)]
    by_layer: dict[str, float] = defaultdict(float)
    for s in below:
        by_layer[s.name] += st[s.id]
    unattributed = st[root.id]
    total = sum(by_layer.values()) + unattributed
    table = {
        "wall_s": root.duration,
        "self_s": dict(sorted(by_layer.items())),
        "unattributed_s": unattributed,
        "sum_s": total,
    }
    if abs(total - root.duration) > tolerance_s or unattributed < -tolerance_s:
        raise ValueError(f"span table does not reconcile: {table}")
    return table


def check_attribution(reduced: dict, spans: list[Span], root: Span,
                      outer_wall_s: float, tolerance_s: float = 0.05) -> dict:
    """Hold the spans of one traced job against two measurements taken
    outside them, and raise ``ValueError`` when they disagree:

    * every Spark job the event log shows submitted while ``root`` was
      open must carry the tag of a span of this job, and every tagged job
      must fall in that window, so the per-span job and engine figures
      cover all the engine work of the job and nothing else;
    * ``root`` must cover the job's wall time as the caller timed it, to
      within ``tolerance_s``, so no driver-side work escapes the table.
    """
    ids = {s.id for s in spans}
    lo, hi = int(root.epoch_start * 1e3), int(root.epoch_end * 1e3) + 1
    in_window = {j for j, info in reduced["jobs"].items()
                 if lo <= info["submitted"] <= hi}
    tagged = {j for j, info in reduced["jobs"].items() if info["span"] in ids}
    out = {"jobs_in_window": len(in_window), "jobs_tagged": len(tagged),
           "root_wall_s": root.duration, "outer_wall_s": outer_wall_s}
    errs = []
    if in_window != tagged:
        errs.append(f"jobs untagged or tagged outside the job: "
                    f"{sorted(in_window ^ tagged)}")
    if not 0 <= outer_wall_s - root.duration <= tolerance_s:
        errs.append("root span does not cover the job's wall time")
    if errs:
        raise ValueError(f"span attribution fails ({'; '.join(errs)}): {out}")
    return out


def _under(s: Span, root: Span, spans: list[Span]) -> bool:
    by_id = {x.id: x for x in spans}
    p = s.parent
    while p is not None:
        if p == root.id:
            return True
        p = by_id[p].parent
    return False


# --- event log ---------------------------------------------------------------

_MB = 1 << 20


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def reduce_event_log(events: list[dict]) -> dict:
    """Per-span and per-job engine cost from Spark's JSON event log.

    Returns ``{"jobs": {job_id: {...}}, "stages": {...}}`` keyed so callers
    can total any subset of jobs with :func:`engine_totals`."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple[int, int], dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            span = (e.get("Properties") or {}).get(SPAN_PROPERTY)
            jobs[jid] = {"span": int(span) if span not in (None, "") else None,
                         "submitted": e.get("Submission Time", 0),
                         "stages": e.get("Stage IDs", [])}
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            st = stages.setdefault(key, _new_stage())
            st["completed"] = "Completion Time" in info and "Failure Reason" not in info
            st["cached"] = any(
                r.get("Storage Level", {}).get("Use Memory")
                or r.get("Storage Level", {}).get("Use Disk")
                for r in info.get("RDD Info", [])
            )
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e["Stage Attempt ID"])
            st = stages.setdefault(key, _new_stage())
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            st["tasks"] += 1
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["durations"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            for acc in info.get("Accumulables", []):
                if "Python workers" in str(acc.get("Name", "")):
                    st["python"] += _num(acc.get("Update"))
    for (sid, _), st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "spill": 0,
            "shuffle_write": 0, "shuffle_read": 0, "python": 0,
            "durations": [], "completed": False, "cached": False, "job": None}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def engine_totals(reduced: dict, span_ids: set[int], wall_s: float,
                  cores: int) -> dict:
    """Engine cost of the jobs tagged with any span in ``span_ids``."""
    jobs = {j for j, info in reduced["jobs"].items() if info["span"] in span_ids}
    stages = [st for st in reduced["stages"].values() if st["job"] in jobs]
    run_s = sum(st["run_ms"] for st in stages) / 1e3
    skew = 1.0
    for st in stages:
        if len(st["durations"]) >= 2:
            med = max(statistics.median(st["durations"]), 1)
            skew = max(skew, max(st["durations"]) / med)
    return {
        "jobs": len(jobs),
        "stages": sum(1 for st in stages if st["completed"]),
        "tasks": sum(st["tasks"] for st in stages),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
        "gc_s": sum(st["gc_ms"] for st in stages) / 1e3,
        "shuffle_write_mb": sum(st["shuffle_write"] for st in stages) / _MB,
        "shuffle_read_mb": sum(st["shuffle_read"] for st in stages) / _MB,
        "spill_mb": sum(st["spill"] for st in stages) / _MB,
        "python_mb": sum(st["python"] for st in stages) / _MB,
        "task_skew": skew,
        "core_idle_frac": (1.0 - run_s / (wall_s * cores)) if wall_s > 0 else 0.0,
        "cached_rdd_scans": sum(1 for st in stages if st["completed"] and st["cached"]),
    }


def jobs_by_span(reduced: dict) -> dict[int, int]:
    out: dict[int, int] = defaultdict(int)
    for info in reduced["jobs"].values():
        if info["span"] is not None:
            out[info["span"]] += 1
    return out
