"""Tracing for the traced run: spans recorded around the calls into each
layer, job/stage/SQL numbers read back from Spark's REST API, and
streaming progress from a query listener.

Nothing here runs in an untraced run: the runner builds a ``Tracer`` only
with ``--trace 1``, and only then enables the UI port the REST API is
served on.
"""

from __future__ import annotations

import calendar
import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return [
        s.seconds - union_seconds([iv for iv in kids.get(i, []) if iv[1] > iv[0]])
        for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span list; written out with the run's result."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent, op=self.op, attrs=attrs)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()


# --------------------------------------------------------------------------
# Spark REST API (UI enabled only in the traced run)
# --------------------------------------------------------------------------
def _rest_time(s: str | None) -> float | None:
    """'2026-10-17T07:50:00.123GMT' -> epoch seconds."""
    if not s:
        return None
    base, ms = s.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000.0


_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h|min)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def sql_metric_seconds(value: str) -> float:
    """Total of a timing SQL metric as the REST API prints it, e.g.
    'total (min, med, max (stageId: taskId))\\n1.2 s (0 ms, ...)'."""
    line = value.split("\n")[-1] if "\n" in value else value
    m = _DURATION.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


class RestClient:
    def __init__(self, base_url: str, app_id: str):
        self.base = f"{base_url.rstrip('/')}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def settled_jobs(self, timeout_s: float = 30.0) -> list[dict]:
        """All jobs, once none is running and the list stops growing (the
        status store is fed asynchronously by the listener bus)."""
        deadline = time.time() + timeout_s
        prev = -1
        while True:
            jobs = self.get("/jobs")
            running = any(j["status"] == "RUNNING" for j in jobs)
            if (not running and len(jobs) == prev) or time.time() > deadline:
                return jobs
            prev = len(jobs)
            time.sleep(0.5)


# SQL metrics (per plan node, summed over its tasks) read into exec.*.
SCAN_TIME = "scan time"
PYTHON_TIME = "time to run Python workers"


def collect_rest(rest: RestClient) -> dict:
    """Jobs, stages and SQL executions, reduced to what attribution needs."""
    jobs = []
    for j in rest.settled_jobs():
        jobs.append({
            "id": j["jobId"],
            "start": _rest_time(j.get("submissionTime")),
            "end": _rest_time(j.get("completionTime")),
            "stages": j.get("stageIds", []),
            "completed_stages": j.get("numCompletedStages", 0),
            "tasks": j.get("numCompletedTasks", 0),
            "failed_tasks": j.get("numFailedTasks", 0) + j.get("numKilledTasks", 0),
        })
    stages = {}
    for s in rest.get("/stages"):
        if s.get("status") == "SKIPPED":
            continue
        st = stages.setdefault(s["stageId"], {
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write": 0,
            "spill": 0, "attempts": 0})
        st["run_s"] += s.get("executorRunTime", 0) / 1e3
        st["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        st["gc_s"] += s.get("jvmGcTime", 0) / 1e3
        st["shuffle_write"] += s.get("shuffleWriteBytes", 0)
        st["spill"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        st["attempts"] += 1
    sqls = []
    for e in rest.get("/sql?details=true&planDescription=false&offset=0&length=1000000"):
        scan = py = 0.0
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                if m.get("name") == SCAN_TIME:
                    scan += sql_metric_seconds(m.get("value", ""))
                elif m.get("name") == PYTHON_TIME:
                    py += sql_metric_seconds(m.get("value", ""))
        sqls.append({"jobs": e.get("successJobIds", []) + e.get("failedJobIds", [])
                     + e.get("runningJobIds", []), "scan_s": scan, "python_s": py})
    return {"jobs": jobs, "stages": stages, "sql": sqls}


def attribute(rest: dict, ops: list[dict]) -> None:
    """Adds each op's job, stage and task counts, executor totals and
    driver gap to its dict, in place. One client thread runs one op at a
    time, so a job belongs to the op whose wall interval holds its
    submission, whichever thread (client or stream) submitted it."""
    job_sql: dict[int, dict] = {}
    for e in rest["sql"]:
        for jid in e["jobs"]:
            job_sql[jid] = e
    for op in ops:
        lo, hi = op["start"] - 0.002, op["end"] + 0.002
        mine = [j for j in rest["jobs"] if j["start"] is not None and lo <= j["start"] <= hi]
        stage_ids = {s for j in mine for s in j["stages"] if s in rest["stages"]}
        st = [rest["stages"][s] for s in stage_ids]
        seen_sql = {id(job_sql[j["id"]]): job_sql[j["id"]] for j in mine if j["id"] in job_sql}
        op.update({
            "jobs": len(mine),
            "stages": sum(j["completed_stages"] for j in mine),
            "tasks": sum(j["tasks"] for j in mine),
            "task_retries": sum(j["failed_tasks"] for j in mine)
            + sum(s["attempts"] - 1 for s in st),
            "executor_run_s": sum(s["run_s"] for s in st),
            "executor_cpu_s": sum(s["cpu_s"] for s in st),
            "gc_s": sum(s["gc_s"] for s in st),
            "shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
            "spill_bytes": sum(s["spill"] for s in st),
            "scan_s": sum(e["scan_s"] for e in seen_sql.values()),
            "python_s": sum(e["python_s"] for e in seen_sql.values()),
            "job_s": union_seconds([(max(j["start"], op["start"]),
                                     min(j["end"] or op["end"], op["end"]))
                                    for j in mine]),
        })
        op["gap_s"] = max(0.0, op["end"] - op["start"] - op["job_s"])


class ProgressLog:
    """Every streaming progress event of the session, standing queries
    and the per-cycle curate drains alike, from a query listener."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def between(self, lo: float, hi: float) -> list[dict]:
        return [p for p in self.events if lo <= _progress_time(p) <= hi]


def _progress_time(p: dict) -> float:
    """A progress event's trigger start, in epoch seconds."""
    ts = p["timestamp"].rstrip("Z")
    base, _, frac = ts.partition(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + float("0." + (frac or "0"))
