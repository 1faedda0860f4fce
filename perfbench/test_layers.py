"""Tests of the span recorder and the event-log parser.

    python3 -m pytest perfbench/test_layers.py -q

The first test parses a hand-written event log whose numbers are known;
the second records a tiny Spark run and checks which span each job and
task lands in.
"""

from __future__ import annotations

import json
import time

import pytest

from layers import PY_RUN, PY_SENT, SHUFFLE_WRITTEN, EventLog, Spans, \
    find_event_log, stage_metrics


def _span(spans, name, parent, start, end):
    s = {"id": len(spans.spans), "name": name, "parent": parent, "run": 0,
         "start": start, "end": end}
    spans.spans.append(s)
    return s["id"]


def _job(jid, group, start, end, stage, sql=None):
    props = {"spark.jobGroup.id": group}
    if sql is not None:
        props["spark.sql.execution.id"] = str(sql)
    return [{"Event": "SparkListenerJobStart", "Job ID": jid,
             "Submission Time": start, "Stage IDs": [stage],
             "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid,
             "Completion Time": end}]


def _task(stage, launch, finish, acc=()):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Accumulables": [{"ID": i, "Name": n, "Update": u}
                                           for i, n, u in acc]}}


def test_synthetic_log_attribution_and_driver_time(tmp_path):
    spans = Spans()
    stage = _span(spans, "sjoin.pip_join", None, 1000.0, 5000.0)
    _span(spans, "call", stage, 1000.0, 2000.0)
    exe = _span(spans, "exec", stage, 2000.0, 5000.0)
    other = _span(spans, "knn.nearest_feature", None, 5000.0, 6000.0)

    plan = {"nodeName": "HashAggregate", "metrics": [], "children": [
        {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
            {"name": "number of output rows", "accumulatorId": 77}]}]}
    events = [{"Event": "org.apache.spark.sql.execution.ui."
                        "SparkListenerSQLExecutionStart",
               "executionId": 5, "sparkPlanInfo": plan}]
    events += _job(0, "span-1", 1200, 1800, stage=10)          # in `call`
    events += [_task(10, 1200, 1700), _task(10, 1200, 1750)]
    events += _job(1, f"span-{exe}", 2500, 4000, stage=11, sql=5)
    events += [_task(11, 2500, 2600, [(1, PY_RUN, 300), (2, PY_SENT, 2e6),
                                      (77, "number of output rows", 30)]),
               _task(11, 2500, 2600, [(1, PY_RUN, 200)]),
               _task(11, 2500, 2900, [(3, SHUFFLE_WRITTEN, 5e5)])]
    events += _job(2, f"span-{exe}", 3500, 4500, stage=12)      # overlaps job 1
    events += [_task(12, 3500, 4400)]
    events += _job(3, f"span-{other}", 5100, 5900, stage=13)
    events += [_task(13, 5100, 5800, [(1, PY_RUN, 999)])]
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))

    m = stage_metrics(spans, EventLog(str(path)), stage)
    assert m["wall_s"] == 4.0
    assert (m["call_s"], m["exec_s"]) == (1.0, 3.0)
    # the stage owns the jobs of its whole subtree and nothing else
    assert (m["jobs"], m["tasks"]) == (3.0, 6.0)
    assert m["python_s"] == 0.5
    assert m["py_in_mb"] == 2.0
    assert m["shuffle_mb"] == 0.5
    # covered: [1.2, 1.8] and the union of [2.5, 4.0] and [3.5, 4.5]
    assert m["driver_s"] == pytest.approx(4.0 - 0.6 - 2.0)
    # longest job is job 1: tasks of 100, 100 and 400 ms
    assert m["task_skew"] == 4.0
    assert m["py_eval_rows"] == 30.0

    o = stage_metrics(spans, EventLog(str(path)), other)
    assert (o["jobs"], o["tasks"], o["python_s"]) == (1.0, 1.0, 0.999)
    assert o["call_s"] == o["wall_s"] == 1.0


def test_recorded_run_attribution(tmp_path):
    pyspark = pytest.importorskip("pyspark")
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (pyspark.sql.SparkSession.builder.master("local[2]")
             .appName("perfbench-layers-test")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", log_dir.as_uri())
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    spans = Spans(sc)
    try:
        with spans.span("a") as a:
            assert sc.parallelize(range(8), 4).count() == 8
        with spans.span("b") as b:
            time.sleep(0.3)                         # no job covers this
            with spans.span("c") as c:
                assert sc.parallelize(range(4), 2).sum() == 6
        assert sc.parallelize([1], 1).count() == 1  # outside every span
    finally:
        spark.stop()

    log = EventLog(find_event_log(str(log_dir)))
    assert len(log.jobs) == 3
    ma = stage_metrics(spans, log, a["id"])
    mb = stage_metrics(spans, log, b["id"])
    mc = stage_metrics(spans, log, c["id"])
    assert (ma["jobs"], ma["tasks"]) == (1.0, 4.0)
    assert (mb["jobs"], mb["tasks"]) == (1.0, 2.0)
    assert (mc["jobs"], mc["tasks"]) == (1.0, 2.0)
    assert mb["driver_s"] >= 0.3
    assert mc["driver_s"] < mc["wall_s"]
    assert sum(1 for j in log.jobs.values() if j["group"] is None) == 1
