"""Spans for the traced run, and the Spark layer read from its event log.

The benchmark opens a span around every call into the program from its
own files (workload -> pass -> op) and tags the Spark jobs an op launches
with the op span's id as the job description.  After the session stops,
:func:`read_event_log` turns the local event log into job and stage spans
under those op spans, with per-stage task totals and the Python SQL
metrics Spark 4.1 attaches to its Python exec nodes.  All spans share
the run id; they are kept in memory and written once at the end.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
import uuid

# Python SQL metrics (PythonSQLMetrics in Spark 4.1) by display name; the
# times are millisecond timing metrics
PYTHON_METRICS = {
    "time to start Python workers": ("boot_s", 1e-3),
    "time to initialize Python workers": ("init_s", 1e-3),
    "time to run Python workers": ("total_s", 1e-3),
    "data sent to Python workers": ("sent_bytes", 1),
    "data returned from Python workers": ("received_bytes", 1),
    "number of output rows": ("rows_out", 1),
}
PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")


class Tracer:
    """In-memory spans; a no-op when disabled, so untraced runs pay nothing."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, kind: str, name: str):
        if not self.enabled:
            yield None
            return
        sid = f"{self.run_id}:{len(self.spans)}"
        rec = {
            "run_id": self.run_id,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "kind": kind,
            "name": name,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if kind == "op" else None
        if sc is not None:
            sc.setJobDescription(sid)
        try:
            yield rec
        finally:
            if sc is not None:
                sc.setJobDescription(None)
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _events(log_dir: str):
    """Events of a plain or a rolling (``eventlog_v2_*``) event log."""
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _plan_python_nodes(info: dict, accs: dict) -> int:
    """Count the plan's Python exec nodes; map their metric ids to names."""
    own = any(m in info.get("nodeName", "") for m in PYTHON_NODE_MARKERS)
    if own:
        for m in info.get("metrics", []):
            if m.get("name") in PYTHON_METRICS:
                accs[m["accumulatorId"]] = m["name"]
    return int(own) + sum(_plan_python_nodes(c, accs) for c in info.get("children", []))


def read_event_log(log_dir: str, tracer: Tracer) -> dict:
    """Job and stage spans under the op spans, plus per-op totals.

    Returns ``{op_span_id: totals}`` where totals hold jobs, stages,
    tasks, python_nodes, executor/cpu/gc seconds, shuffle bytes, the
    Python SQL metrics and the stage intervals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, dict] = {}
    exec_nodes: dict[str, int] = {}
    python_accs: dict[int, str] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            jobs[ev["Job ID"]] = {"op": desc, "start": ev["Submission Time"] / 1e3}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = {
                "start": info.get("Submission Time", 0) / 1e3,
                "end": info.get("Completion Time", 0) / 1e3,
                "tasks": info.get("Number of Tasks", 0),
                "acc": {a.get("ID"): a.get("Value") for a in info.get("Accumulables", [])},
            }
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            t = tasks.setdefault(ev["Stage ID"], dict.fromkeys(
                ("run_s", "cpu_s", "gc_s", "shuffle_write", "shuffle_read"), 0.0))
            t["run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            t["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            desc = ev.get("description") or ""
            exec_nodes[desc] = exec_nodes.get(desc, 0) + _plan_python_nodes(
                ev.get("sparkPlanInfo") or {}, python_accs
            )

    ops: dict[str, dict] = {}

    def totals(op: str) -> dict:
        if op not in ops:
            ops[op] = op_totals_template()
            ops[op]["python_nodes"] = exec_nodes.get(op, 0)
        return ops[op]

    for job_id, job in jobs.items():
        if not job["op"] or "end" not in job:
            continue
        tot = totals(job["op"])
        tot["jobs"] += 1
        jspan = f"{job['op']}/job{job_id}"
        tracer.spans.append({
            "run_id": tracer.run_id, "id": jspan, "parent": job["op"], "kind": "job",
            "name": f"job {job_id}", "start": job["start"], "end": job["end"],
        })
        for sid, jid in stage_job.items():
            if jid != job_id or sid not in stages:
                continue  # skipped stages never complete
            st = stages[sid]
            tot["stages"] += 1
            tot["tasks"] += st["tasks"]
            tot["intervals"].append((st["start"], st["end"]))
            tracer.spans.append({
                "run_id": tracer.run_id, "id": f"{jspan}/stage{sid}", "parent": jspan,
                "kind": "stage", "name": f"stage {sid}", "start": st["start"], "end": st["end"],
            })
            t = tasks.get(sid, {})
            tot["executor_run_s"] += t.get("run_s", 0.0)
            tot["executor_cpu_s"] += t.get("cpu_s", 0.0)
            tot["gc_s"] += t.get("gc_s", 0.0)
            tot["shuffle_write_bytes"] += t.get("shuffle_write", 0.0)
            tot["shuffle_read_bytes"] += t.get("shuffle_read", 0.0)
            for acc_id, value in st["acc"].items():
                if acc_id in python_accs and value is not None:
                    name, scale = PYTHON_METRICS[python_accs[acc_id]]
                    tot[name] += float(value) * scale
    return ops


def op_totals_template() -> dict:
    """Per-op totals of an op that launched no Spark job."""
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "intervals": [], "python_nodes": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0.0, "shuffle_read_bytes": 0.0,
        **{name: 0.0 for name, _ in PYTHON_METRICS.values()},
    }


def uncovered(start: float, end: float, intervals: list[tuple]) -> float:
    """Seconds of [start, end] that no interval covers."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return (end - start) - covered
