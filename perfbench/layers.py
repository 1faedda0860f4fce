"""Span recorder and Spark event-log parser for the traced benchmark run.

Spans are recorded by the benchmark around each public call it makes
(never inside the package). Every span tags the Spark jobs it starts
through the job group, so the event log, which is Spark's own record,
attributes each job, task and accumulator update to exactly one span.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

# Accumulator names in TaskEnd events (SQL metrics of the Python
# evaluation nodes, plus the task-level shuffle write counter).
PY_RUN = "time to run Python workers"           # ms
PY_SENT = "data sent to Python workers"          # bytes
SHUFFLE_WRITTEN = "internal.metrics.shuffle.write.bytesWritten"
PY_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython")


class Spans:
    """In-memory span tree: (id, name, parent, start, end, run).

    Times are epoch milliseconds, the clock Spark's event log uses. With
    `sc` set, entering a span makes it the job group of the driver
    thread, so jobs are attributed to the innermost open span.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.run = 0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": len(self.spans), "name": name, "parent": parent,
             "run": self.run, "start": time.time() * 1000.0, "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s["end"] = time.time() * 1000.0
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, s):
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{s['id']}", s["name"])

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree_ids(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            i = todo.pop()
            out.add(i)
            todo.extend(s["id"] for s in self.spans if s["parent"] == i)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def find_event_log(log_dir: str) -> str:
    """The single uncompressed, non-rolling event-log file in `log_dir`."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    return files[0]


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _top_python_rows_acc(plan: dict) -> int | None:
    """Accumulator id of 'number of output rows' on the Python evaluation
    node nearest the plan root (breadth first). That node emits one row
    per input row, so its output count is the UDF's input count."""
    level = [plan]
    while level:
        for node in level:
            if node["nodeName"] in PY_EVAL_NODES:
                for m in node["metrics"]:
                    if m["name"] == "number of output rows":
                        return m["accumulatorId"]
        level = [c for node in level for c in node["children"]]
    return None


class EventLog:
    """Jobs, tasks and SQL plans of one application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        plans: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    ex = props.get("spark.sql.execution.id")
                    self.jobs[jid] = {
                        "id": jid, "group": props.get("spark.jobGroup.id"),
                        "start": e["Submission Time"], "end": None,
                        "sql": int(ex) if ex is not None else None,
                        "tasks": [], "acc": {}}
                    for st in e["Stage IDs"]:
                        stage_job[st] = jid
                elif ev == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif ev == "SparkListenerTaskEnd":
                    job = self.jobs.get(stage_job.get(e["Stage ID"]))
                    if job is None:
                        continue
                    info = e["Task Info"]
                    job["tasks"].append(info["Finish Time"] - info["Launch Time"])
                    acc = job["acc"]
                    for a in info.get("Accumulables", []):
                        for key in (a.get("Name"), a.get("ID")):
                            if key is not None:
                                acc[key] = acc.get(key, 0.0) + _num(a.get("Update"))
                elif ev.endswith("SQLExecutionStart") or \
                        ev.endswith("SQLAdaptiveExecutionUpdate"):
                    plans[e["executionId"]] = e["sparkPlanInfo"]   # last wins
        self.refine_acc = {ex: _top_python_rows_acc(p) for ex, p in plans.items()}

    def jobs_of(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] in groups]


def _uncovered_ms(start: float, end: float, intervals) -> float:
    """Length of [start, end] not covered by any of `intervals`."""
    covered, cur = 0.0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= cur:
            continue
        covered += b - max(a, cur)
        cur = b
    return max(0.0, (end - start) - covered)


def stage_metrics(spans: Spans, log: EventLog, sid: int) -> dict:
    """Layer metrics of one stage span and its children.

    call_s / exec_s are the durations of its `call` and `exec` children;
    driver_s is its wall time that no job interval covers.
    """
    s = spans.spans[sid]
    groups = {f"span-{i}" for i in spans.subtree_ids(sid)}
    jobs = log.jobs_of(groups)
    out = {"wall_s": (s["end"] - s["start"]) / 1000.0}
    for c in spans.children(sid):
        if c["name"] in ("call", "exec"):
            out[f"{c['name']}_s"] = (c["end"] - c["start"]) / 1000.0
    out.setdefault("call_s", out["wall_s"])     # a span with no call child
    out["jobs"] = float(len(jobs))
    out["tasks"] = float(sum(len(j["tasks"]) for j in jobs))
    out["driver_s"] = _uncovered_ms(
        s["start"], s["end"],
        [(j["start"], j["end"] or s["end"]) for j in jobs]) / 1000.0
    out["python_s"] = sum(j["acc"].get(PY_RUN, 0.0) for j in jobs) / 1000.0
    out["py_in_mb"] = sum(j["acc"].get(PY_SENT, 0.0) for j in jobs) / 1e6
    out["shuffle_mb"] = sum(j["acc"].get(SHUFFLE_WRITTEN, 0.0)
                            for j in jobs) / 1e6
    longest = max(jobs, key=lambda j: (j["end"] or 0) - j["start"],
                  default=None)
    if longest and longest["tasks"]:
        med = statistics.median(longest["tasks"])
        out["task_skew"] = max(longest["tasks"]) / max(med, 1.0)
    else:
        out["task_skew"] = 0.0
    # rows into the Python evaluation node nearest the root of each SQL
    # execution this stage ran (the refine UDF of a join)
    out["py_eval_rows"] = sum(j["acc"].get(log.refine_acc.get(j["sql"]), 0.0)
                              for j in jobs)
    return out


def layer_metrics(spans: Spans, log: EventLog, stage_names, runs) -> dict:
    """Per stage name: the median over its occurrences in `runs` of every
    metric in :func:`stage_metrics`."""
    per: dict[str, list[dict]] = {}
    for s in spans.spans:
        if s["name"] in stage_names and s["run"] in runs:
            per.setdefault(s["name"], []).append(
                stage_metrics(spans, log, s["id"]))
    out = {}
    for name, occ in per.items():
        keys = set().union(*occ)
        out[name] = {k: statistics.median(o.get(k, 0.0) for o in occ)
                     for k in keys}
        out[name]["n"] = len(occ)
    return out
