"""In-memory spans around calls into the engine's public functions, and
a parser for Spark's event log.

Spans are recorded only while a :class:`Tracer` is installed; the
untraced runs never wrap anything.  A span's self time is its duration
minus the part of it its child spans cover.
"""

from __future__ import annotations

import functools
import json
import os
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str, around=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper (restored by
        :meth:`uninstall`).  ``around(*args, **kw)``, if given, is a
        context manager entered inside the span.  A missing attribute is
        skipped, so the benchmark keeps running when a later version
        renames it."""
        fn = getattr(owner, attr, None)
        if fn is None:
            return
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                if around is None:
                    return fn(*a, **kw)
                with around(*a, **kw):
                    return fn(*a, **kw)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def totals(self, since: int = 0) -> dict[str, dict[str, float]]:
        """{name: {"n", "wall_s", "self_s"}} over spans[since:]."""
        spans = self.spans[since:]
        child_s: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                        + s["end"] - s["start"])
        out: dict[str, dict[str, float]] = {}
        for s in spans:
            d = out.setdefault(s["name"], {"n": 0, "wall_s": 0.0, "self_s": 0.0})
            wall = s["end"] - s["start"]
            d["n"] += 1
            d["wall_s"] += wall
            d["self_s"] += wall - child_s.get(s["id"], 0.0)
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        self.rec = {"id": len(t.spans), "name": self.name,
                    "parent": t._stack[-1] if t._stack else None,
                    "start": time.perf_counter(), "end": None}
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.t._stack.pop()
        return False


# --------------------------------------------------------------------------
# Spark event log

def read_event_log(log_dir: str) -> dict:
    """Parse every event log file under ``log_dir`` (Spark writes one
    directory of ``events_*`` files per application) into jobs and tasks.

    Returns ``{"jobs": {job_id: {"group", "submit_ms", "stages"}},
    "tasks": [{"stage", "run_ms", "cpu_ns", "gc_ms", "shw_bytes",
    "shr_bytes"}], "stages": {stage_id: job_id},
    "scans": [(start_ms, bytes)]}``.

    ``scans`` holds, per SQL execution, the "size of files read" of its
    file scans.  Task input bytes miss the reads a Python UDF's feeder
    thread makes, so file-scan sizes are what counts input re-reads."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    exec_ms: dict[int, float] = {}
    scan_accum: dict[int, int] = {}      # accumulator id -> execution id
    scan_bytes: dict[int, float] = {}    # accumulator id -> value

    def plan_metrics(node, exec_id):
        for m in node.get("metrics", []):
            if m.get("name") == "size of files read":
                scan_accum[m["accumulatorId"]] = exec_id
        for child in node.get("children", []):
            plan_metrics(child, exec_id)

    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(log_dir)
                   for f in files if f.startswith(("events_", "local-")))
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_ms[ev["executionId"]] = ev.get("time", 0)
                    plan_metrics(ev.get("sparkPlanInfo", {}), ev["executionId"])
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan_metrics(ev.get("sparkPlanInfo", {}), ev["executionId"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, value in ev.get("accumUpdates", []):
                        if acc in scan_accum:
                            scan_bytes[acc] = max(scan_bytes.get(acc, 0), value)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                                 "submit_ms": ev.get("Submission Time", 0),
                                 "stages": ev.get("Stage IDs", [])}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shw_bytes": sw.get("Shuffle Bytes Written", 0),
                        "shr_bytes": (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0)),
                    })
    per_exec: dict[int, float] = {}
    for acc, value in scan_bytes.items():
        e = scan_accum[acc]
        per_exec[e] = per_exec.get(e, 0.0) + value
    scans = [(exec_ms.get(e, 0), b) for e, b in per_exec.items()]
    return {"jobs": jobs, "tasks": tasks, "stages": stage_job, "scans": scans}


def scan_bytes(log: dict, start_ms: float, end_ms: float) -> float:
    """File bytes scanned by SQL executions started in [start_ms, end_ms]."""
    return sum(b for t, b in log["scans"] if start_ms <= t <= end_ms)


def engine_totals(log: dict, job_ids: set[int]) -> dict[str, float]:
    """Task metrics summed over the given jobs; ``task_skew`` is max over
    median task run time in the stage with the most task time."""
    stage_ids = {s for s, j in log["stages"].items() if j in job_ids}
    tasks = [t for t in log["tasks"] if t["stage"] in stage_ids]
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    skew = 1.0
    if by_stage:
        longest = max(by_stage.values(), key=sum)
        srt = sorted(longest)
        med = srt[len(srt) // 2]
        skew = max(srt) / max(med, 1)
    return {
        "jobs": float(len(job_ids)),
        "stages": float(len({t["stage"] for t in tasks})),
        "tasks": float(len(tasks)),
        "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle_write_bytes": float(sum(t["shw_bytes"] for t in tasks)),
        "shuffle_read_bytes": float(sum(t["shr_bytes"] for t in tasks)),
        "task_skew": skew,
    }
