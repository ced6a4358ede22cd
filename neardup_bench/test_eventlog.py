"""Event-log reader on a synthetic Spark log (no Spark needed).

    python3 -m pytest neardup_bench/test_eventlog.py
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import EventLog, log_files  # noqa: E402

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def job_start(job, group, sql, submit, stages, name=None):
    props = {"spark.jobGroup.id": group}
    if sql is not None:
        props["spark.sql.execution.id"] = str(sql)
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": submit, "Properties": props,
            "Stage Infos": [{"Stage ID": s,
                             "Stage Name": name or f"stage {s}"}
                            for s in stages]}


def stage(sid, group, sql, name="save at NativeMethodAccessorImpl.java:0"):
    props = {"spark.jobGroup.id": group}
    if sql is not None:
        props["spark.sql.execution.id"] = str(sql)
    return {"Event": "SparkListenerStageSubmitted", "Properties": props,
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0,
                           "Stage Name": name}}


def task(sid, ok=True, run_ms=1000, cpu_ns=5e8, gc_ms=10, write=100,
         read=40, fetch_ms=3, spill=7, py_sent=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Accumulables": [
            {"ID": 1, "Name": "data sent to Python workers",
             "Update": str(py_sent)},
            {"ID": 2, "Name": "number of output rows", "Update": "99"},
        ]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": read,
                                     "Fetch Wait Time": fetch_ms},
        },
    }


def job_end(job, end):
    return {"Event": "SparkListenerJobEnd", "Job ID": job,
            "Completion Time": end}


EVENTS = [
    {"Event": SQL_START, "executionId": 1, "description": "call",
     "details": "Dataset.count(Dataset.scala:1)\nmore",
     "physicalPlanDescription": "HashAggregate(functions=[count(1)])"},
    {"Event": SQL_START, "executionId": 2, "description": "call",
     "details": "Dataset.head(Dataset.scala:1)",
     "physicalPlanDescription":
         "HashAggregate(functions=[approx_count_distinct(_fp#3L)])"},
    job_start(0, "pipeline", 1, 1_000, [0]),
    stage(0, "pipeline", 1),
    task(0), task(0, py_sent=500),
    job_end(0, 3_000),
    # overlaps job 0 by 500 ms: the union of the two is 3 s
    job_start(1, "pipeline", 2, 2_500, [1],
              name="first at /src/pipeline.py:566"),
    stage(1, "pipeline", 2, name="first at /src/pipeline.py:566"),
    task(1, ok=False, run_ms=200, cpu_ns=1e8),
    job_end(1, 4_000),
    # another group, and a job with no SQL execution
    job_start(2, "verify", None, 5_000, [2],
              name="collect at /src/pairs.py:9"),
    stage(2, "verify", None, name="collect at /src/pairs.py:9"),
    task(2, run_ms=300, cpu_ns=2e8, write=0, read=0),
    job_end(2, 5_500),
    # outside every group
    job_start(3, None, None, 6_000, [3]),
    stage(3, None, None),
    task(3),
    job_end(3, 6_100),
]


def test_stats_by_group():
    st = EventLog(EVENTS).stats("pipeline")
    assert (st.jobs, st.stages, st.tasks, st.failed_tasks) == (2, 2, 3, 1)
    assert st.run_s == pytest.approx(2.2)
    assert st.cpu_s == pytest.approx(1.1)
    assert st.gc_s == pytest.approx(0.03)
    assert st.shuffle_write_bytes == 300
    assert st.shuffle_read_bytes == 120
    assert st.fetch_wait_s == pytest.approx(0.009)
    assert st.spill_bytes == 21
    assert st.python_bytes == 500
    assert st.job_union_s() == 3.0


def test_several_groups_sum():
    log = EventLog(EVENTS)
    both = log.stats(["pipeline", "verify"])
    assert (both.jobs, both.tasks) == (3, 4)
    assert both.job_union_s() == 3.5
    assert log.stats("nothing").jobs == 0


def test_call_site_split_inside_a_group():
    log = EventLog(EVENTS)
    gate = log.stats("pipeline", where="approx_count_distinct")
    assert (gate.jobs, gate.stages, gate.tasks) == (1, 1, 1)
    assert gate.job_union_s() == 1.5
    # the Python call site in a stage name also matches
    assert log.stats("pipeline", where=r"pipeline\.py:566").tasks == 1
    assert log.stats("verify", where=r"pairs\.py").jobs == 1
    assert log.stats("pipeline", where="no such call").jobs == 0


def test_rolling_layout_in_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    half = len(EVENTS) // 2
    # events_10 sorts before events_2 as text; the reader orders numerically
    for n, chunk in ((2, EVENTS[:half]), (10, EVENTS[half:])):
        with open(app / f"events_{n}_local-1", "w") as f:
            for e in chunk:
                f.write(json.dumps(e) + "\n")
    (app / "appstatus_local-1").write_text("")
    files = log_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == [
        "events_2_local-1", "events_10_local-1"]
    assert EventLog.from_dir(str(tmp_path)).stats("pipeline").tasks == 3


def test_single_file_log(tmp_path):
    (tmp_path / "local-1").write_text(
        "\n".join(json.dumps(e) for e in EVENTS) + "\n")
    assert EventLog.from_dir(str(tmp_path)).stats("verify").run_s == \
        pytest.approx(0.3)
