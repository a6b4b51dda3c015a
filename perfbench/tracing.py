"""Spans around calls into the engine, and the Spark event-log parser
that turns each span's job group into per-layer counters.

Nothing here reaches inside the engine: a span sets a Spark job group
on the calling thread, times the call, and asks `statusTracker` which
jobs ran under that group. After the session stops, the uncompressed
event log (enabled at launch by run.py) is parsed and every task,
stage and SQL plan metric is attributed to the job group it ran under.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = (
    "jobs", "tasks", "cpu_ms", "gc_ms", "wait_ms", "rows_scanned",
    "python_ms", "arrow_bytes", "shuffle_bytes", "spill_bytes",
)


class Tracer:
    """In-memory span recorder."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []  # this thread's open spans, innermost last
        return self._local.stack

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(key, None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, request: int | None = None):
        """Record `name` around the block; jobs started inside it run
        under the span's own job group."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "group": f"perfbench-{sid}",
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
            "extra_groups": [], "start": time.perf_counter(),
        }
        stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            tracker = self.sc.statusTracker()
            rec["tracker_jobs"] = sorted(
                j for g in [rec["group"], *rec["extra_groups"]]
                for j in tracker.getJobIdsForGroup(g))
            stack.pop()
            self._set_group(parent)
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _scan_row_ids(plan: dict, out: set) -> None:
    """Accumulator ids of `number of output rows` on file-scan nodes."""
    if plan["nodeName"].startswith("Scan "):
        out.update(m["accumulatorId"] for m in plan["metrics"]
                   if m["name"] == "number of output rows")
    for c in plan["children"]:
        _scan_row_ids(c, out)


class EventLog:
    """Per-job-group totals from one application's event log."""

    def __init__(self, lines):
        self.group_jobs: dict[str, set] = defaultdict(set)
        self.stage_group: dict[int, str] = {}
        self.stage_submit: dict[int, float] = {}
        self.stage_first_launch: dict[int, float] = {}
        self.stage_tasks: dict[int, list] = defaultdict(list)
        self.exec_group: dict[int, str] = {}
        self.exec_scan_ids: dict[int, set] = defaultdict(set)
        self.accum_updates: dict[int, float] = defaultdict(float)
        for line in lines:
            line = line.strip()
            if line:
                self._add(json.loads(line))

    @classmethod
    def from_file(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(f)

    def _add(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g:
                self.group_jobs[g].add(e["Job ID"])
                if "spark.sql.execution.id" in props:
                    self.exec_group.setdefault(int(props["spark.sql.execution.id"]), g)
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                self.stage_group[sid] = g
            sub = e["Stage Info"].get("Submission Time")
            if sub is not None:
                self.stage_submit.setdefault(sid, sub)
        elif kind == "SparkListenerTaskStart":
            sid, t = e["Stage ID"], e["Task Info"]["Launch Time"]
            self.stage_first_launch[sid] = min(t, self.stage_first_launch.get(sid, t))
        elif kind == "SparkListenerTaskEnd":
            self._task_end(e)
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = e["executionId"]
            if e.get("jobGroupId"):
                self.exec_group.setdefault(ex, e["jobGroupId"])
            _scan_row_ids(e["sparkPlanInfo"], self.exec_scan_ids[ex])

    def _task_end(self, e: dict) -> None:
        m = e.get("Task Metrics") or {}
        by_name: dict[str, float] = defaultdict(float)
        for a in e["Task Info"].get("Accumulables", []):
            u = _num(a.get("Update"))
            self.accum_updates[a["ID"]] += u
            by_name[a["Name"]] += u
        shuffle = m.get("Shuffle Write Metrics", {})
        self.stage_tasks[e["Stage ID"]].append({
            "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
            "gc_ms": m.get("JVM GC Time", 0),
            "shuffle_bytes": shuffle.get("Shuffle Bytes Written", 0),
            "spill_bytes": m.get("Disk Bytes Spilled", 0),
            "python_ms": by_name["time to run Python workers"],
            "arrow_bytes": by_name["data sent to Python workers"]
            + by_name["data returned from Python workers"],
        })

    def profile(self, groups) -> dict:
        """Totals over every job, stage and task run under `groups`."""
        groups = set(groups)
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = float(sum(len(self.group_jobs.get(g, ())) for g in groups))
        for sid, g in self.stage_group.items():
            if g not in groups:
                continue
            tasks = self.stage_tasks.get(sid, [])
            out["tasks"] += len(tasks)
            for t in tasks:
                for k, v in t.items():
                    out[k] += v
            if sid in self.stage_first_launch and sid in self.stage_submit:
                out["wait_ms"] += max(0.0, self.stage_first_launch[sid] - self.stage_submit[sid])
        for ex, g in self.exec_group.items():
            if g in groups:
                out["rows_scanned"] += sum(self.accum_updates.get(i, 0.0)
                                           for i in self.exec_scan_ids.get(ex, ()))
        return out


def span_profiles(spans: list[dict], log: EventLog) -> dict[int, dict]:
    """Each span's counters including its descendants' (a layer call's
    total), plus `ms`, the span's wall time in milliseconds."""
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def groups(s: dict) -> list[str]:
        out = [s["group"], *s["extra_groups"]]
        for c in children[s["id"]]:
            out += groups(c)
        return out

    prof = {}
    for s in spans:
        p = log.profile(groups(s))
        p["ms"] = (s["end"] - s["start"]) * 1000.0
        prof[s["id"]] = p
    return prof
