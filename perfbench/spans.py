"""Spans, job-group attribution and Spark status-store readings.

A span wraps one call into a layer of the program (`io`, `load`,
`events`, `pivot`, `curation`, `dedup`) or the final Spark action
(`sink`). Every iteration runs under a job group so a watchdog can
cancel it; with tracing on, each span opens its own job group, so the
jobs a span started are found by group after the iteration, and their
stages are read from Spark's status store (the same numbers the UI and
`tools/job_profile.py` show). Spans stay in memory and are written as
JSON lines when the run ends.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager

LAYERS = ("io", "load", "events", "pivot", "curation", "dedup", "sink")
LAYER_FIELDS = (
    "call_s", "self_s", "jobs", "tasks", "stage_run_s", "stage_cpu_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s",
)
MB = 1e6


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, cur_s, cur_e = 0.0, None, None
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


class Tracer:
    """Iteration job groups, always; spans, only when `enabled`."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._group: str | None = None
        self._iteration: str | None = None
        self._next_id = 0

    def _set_group(self, group: str | None) -> None:
        with self._lock:
            self._group = group
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group, interruptOnCancel=True)

    def cancel_current(self) -> str | None:
        """Cancel the jobs of the group now running (watchdog thread)."""
        with self._lock:
            group = self._group
        if group is not None:
            self.sc.cancelJobGroup(group)
        return group

    @contextmanager
    def iteration(self, iteration_id: str):
        self._iteration = iteration_id
        self._set_group(f"pb:{iteration_id}")
        t0 = time.time()
        try:
            with self.span("iteration", root=True):
                yield
        finally:
            self._set_group(None)
            self._iteration = None
            self.last_iteration_window = (t0, time.time())

    @contextmanager
    def span(self, name: str, root: bool = False):
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        outer = self._group
        group = f"pb:{self._iteration}:{sid}"
        self._set_group(group)
        self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._set_group(outer)
            self.spans.append({
                "id": sid, "name": name,
                "layer": None if root else name.split(".")[0],
                "parent": parent, "iteration": self._iteration,
                "start": start, "end": end, "group": group,
            })

    def iteration_spans(self, iteration_id: str) -> list[dict]:
        return [s for s in self.spans if s["iteration"] == iteration_id]

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- status store -----------------------------------------------------------------

_SIZE = re.compile(r"\n([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_UDF_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


class StatusStore:
    """Job, stage and SQL-metric readings through the JVM status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_executions = -1

    def jobs(self, group: str) -> list[dict]:
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            ids = jd.stageIds()
            out.append({
                "job": jid,
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                "stages": [ids.apply(i) for i in range(ids.size())],
                "status": jd.status().toString(),
            })
        return out

    def stage(self, stage_id: int) -> dict:
        s = self.store.lastStageAttempt(stage_id)
        if s.status().toString() == "SKIPPED":
            return {}
        return {
            "tasks": s.numTasks(),
            "stage_run_s": s.executorRunTime() / 1e3,
            "stage_cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_read_mb": s.shuffleReadBytes() / MB,
            "shuffle_write_mb": s.shuffleWriteBytes() / MB,
            "spill_mb": (s.diskBytesSpilled() + s.memoryBytesSpilled()) / MB,
            "gc_s": s.jvmGcTime() / 1e3,
        }

    def udf_bytes(self) -> dict:
        """Arrow UDF boundary bytes of SQL executions since the last call."""
        out = {"bytes_to_python": 0.0, "bytes_from_python": 0.0}
        execs = self.sql.executionsList()
        newest = self._seen_executions
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._seen_executions:
                continue
            newest = max(newest, eid)
            values = self.sql.executionMetrics(eid)
            seen = set()
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _UDF_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    hit = _SIZE.search(v.get())
                    if hit:
                        out[key] += float(hit.group(1)) * _UNITS[hit.group(2)]
        self._seen_executions = newest
        return out


def add_job_cost(row: dict, status: StatusStore, job: dict, seen_stages: set) -> None:
    """Add one job and the stages it ran to `row`. A stage counts once,
    for the first job (lowest id) that lists it: later jobs that list the
    same stage reused its shuffle output and skipped it."""
    row["jobs"] += 1
    for sid in job["stages"]:
        if sid not in seen_stages:
            seen_stages.add(sid)
            for k, v in status.stage(sid).items():
                row[k] += v


def layer_rows(tracer: Tracer, status: StatusStore, iteration_id: str, wall: tuple) -> dict:
    """Per-layer sums for one traced iteration, plus its job/gap totals.
    A job belongs to the span whose group was open when it was
    submitted."""
    spans = tracer.iteration_spans(iteration_id)
    rows = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    seen_stages: set[int] = set()
    job_spans = []
    all_jobs = []
    for s in spans:
        all_jobs += [(s, j) for j in status.jobs(s["group"])]
    all_jobs.sort(key=lambda sj: sj[1]["job"])
    for s, j in all_jobs:
        if j["start"] is not None and j["end"] is not None:
            job_spans.append((j["start"], j["end"]))
        if s["layer"] is not None:
            add_job_cost(rows[s["layer"]], status, j, seen_stages)
    for s in spans:
        if s["layer"] is None:
            continue
        dur = s["end"] - s["start"]
        covered = union_length(
            (max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])
        )
        rows[s["layer"]]["call_s"] += dur
        rows[s["layer"]]["self_s"] += dur - covered
    wall_s = wall[1] - wall[0]
    clipped = [(max(a, wall[0]), min(b, wall[1])) for a, b in job_spans]
    job_union = union_length((a, b) for a, b in clipped if b > a)
    root = next(s for s in spans if s["layer"] is None)
    top = [s for s in spans if s["parent"] == root["id"]]
    return {
        "layers": rows,
        "jobs": len(all_jobs),
        "wall_s": wall_s,
        "job_union_s": job_union,
        "driver_gap_s": wall_s - job_union,
        "top_self_s": sum(s["end"] - s["start"] for s in top),
        "glue_s": wall_s - union_length((s["start"], s["end"]) for s in top),
    }
