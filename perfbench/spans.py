"""Spans recorded around calls into the program, and the Spark event log
they are joined with.

A :class:`Tracer` keeps spans in memory: ``workload → operation →
pipeline stage / builder / sink → Spark job``.  Every span that runs
Spark code sets a Spark job group named after the span, so each job in
the event log can be given the span that launched it as its parent.
:func:`read_event_log` reads the jobs, stages, tasks and SQL executions
of one application; :func:`attach_jobs` adds them to the trace as child
spans and returns per-span Spark metrics.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# Spark SQL metrics of the Python-worker operators (Spark 4.1 names)
PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
EXEC_FIELDS = ("exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s",
               "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes")


class Tracer:
    """Spans of one run, in memory until :meth:`export`."""

    def __init__(self, trace_id: str, spark=None):
        self.trace_id = trace_id
        self.spark = spark  # job groups are set only when a session is given
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"trace": self.trace_id, "id": len(self.spans) + 1, "parent": parent,
             "name": name, "kind": kind, "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"span-{s['id']}", s["name"])

    def export(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def event_log_file(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def read_event_log(path: str) -> dict:
    """Jobs (with group, times, stage ids), per-stage metric sums and SQL
    execution start times of one Spark application."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    sql_start: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "sql": int(props["spark.sql.execution.id"]) if "spark.sql.execution.id" in props else None,
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(e.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], _empty_stage())
                m = e.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                st["exec.tasks"] += 1
                st["exec.task_s"] += m.get("Executor Run Time", 0) / 1e3
                st["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                st["exec.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                st["exec.shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                st["exec.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key is not None:
                        v = float(acc.get("Update") or 0)
                        st[key] += v / 1e3 if key.endswith("_s") else v  # timings in ms
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stages.setdefault(info["Stage ID"], _empty_stage())["exec.stages"] += 1
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql_start[int(e["executionId"])] = e["time"] / 1000.0
    return {"jobs": jobs, "stages": stages, "sql_start": sql_start}


def _empty_stage() -> dict:
    return dict.fromkeys((*EXEC_FIELDS, *PY_METRICS.values()), 0.0)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
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


def attach_jobs(tracer: Tracer, log: dict) -> dict[int, dict]:
    """Add one ``job`` span per Spark job under the span whose group
    launched it; return, per span id, the metrics of the jobs launched
    directly under it: ``jobs``, job intervals, first SQL execution start
    and the stage/task sums."""
    by_id = {s["id"]: s for s in tracer.spans}
    per_span: dict[int, dict] = {}
    ran: set[int] = set()  # a stage reused by a later job is skipped there
    for job_id, job in sorted(log["jobs"].items()):
        group = job["group"] or ""
        if not group.startswith("span-") or int(group[5:]) not in by_id:
            continue
        parent = int(group[5:])
        end = job["end"] if job["end"] is not None else job["start"]
        tracer.spans.append({
            "trace": tracer.trace_id, "id": len(tracer.spans) + 1, "parent": parent,
            "name": f"job {job_id}", "kind": "job", "start": job["start"], "end": end,
            "stages": job["stages"], "sql_execution": job["sql"],
        })
        acc = per_span.setdefault(parent, {"jobs": 0, "intervals": [], "sql_start": None,
                                           **_empty_stage()})
        acc["jobs"] += 1
        acc["intervals"].append((job["start"], end))
        t_sql = log["sql_start"].get(job["sql"]) if job["sql"] is not None else None
        if t_sql is not None and (acc["sql_start"] is None or t_sql < acc["sql_start"]):
            acc["sql_start"] = t_sql
        for sid in set(job["stages"]) - ran:
            ran.add(sid)
            for k, v in log["stages"].get(sid, {}).items():
                acc[k] += v
    return per_span


def subtree(tracer: Tracer, root_id: int) -> list[int]:
    """Ids of a span and all its descendants."""
    children: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(children.get(i, []))
    return out


def rollup(tracer: Tracer, per_span: dict[int, dict], root_id: int) -> dict:
    """Spark metrics of every job under a span, its descendants included;
    ``exec.wall_s`` is the time at least one of those jobs was running."""
    out = {"exec.jobs": 0.0, "intervals": [], **_empty_stage()}
    for i in subtree(tracer, root_id):
        acc = per_span.get(i)
        if acc is None:
            continue
        out["exec.jobs"] += acc["jobs"]
        out["intervals"] += acc["intervals"]
        for k in _empty_stage():
            out[k] += acc[k]
    out["exec.wall_s"] = union_s(out.pop("intervals"))
    return out
