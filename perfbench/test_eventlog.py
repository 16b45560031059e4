"""Event-log reader on a tiny hand-written Spark 4 rolling log.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import SPAN_KEY, EventLog, Span, attribute, read_events  # noqa: E402


def _job(job_id, stages, span, execution):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": {SPAN_KEY: span, "spark.sql.execution.id": execution}}


def _stage(stage_id, scopes, submit, complete):
    rdds = [{"Scope": json.dumps({"id": str(i), "name": s})} for i, s in enumerate(scopes)]
    return [
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": stage_id, "Submission Time": submit, "RDD Info": rdds}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": stage_id, "Completion Time": complete}},
    ]


def _task(stage_id, cpu_ms, shuffle_write=0, shuffle_read=0, input_bytes=0, accums=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
        "Task Info": {"Accumulables": [
            {"ID": a, "Update": str(v), "Metadata": "sql"} for a, v in accums
        ]},
        "Task Metrics": {
            "Executor CPU Time": cpu_ms * 1_000_000,
            "JVM GC Time": 1, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Input Metrics": {"Bytes Read": input_bytes},
        },
    }


@pytest.fixture
def log_dir(tmp_path):
    """Probe job (scan only), then a write job: scan + shuffle stage and a
    write stage, split over two rolling files; one untagged job."""
    plan = {"nodeName": "Execute InsertIntoHadoopFsRelationCommand",
            "metrics": [{"name": "number of written files", "accumulatorId": 7},
                        {"name": "task commit time", "accumulatorId": 8}],
            "children": [{"nodeName": "SortMergeJoin",
                          "metrics": [{"name": "number of output rows", "accumulatorId": 9}],
                          "children": []}]}
    first = [
        _job(0, [0], "p/run", None), *_stage(0, ["Scan csv "], 1000, 1500),
        _task(0, 200, input_bytes=100),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 1, "sparkPlanInfo": plan},
        _job(1, [1, 2], "p/run", "1"),
        *_stage(1, ["Scan csv ", "WholeStageCodegen (1)", "Exchange"], 2000, 3000),
        _task(1, 300, shuffle_write=2 * 1024 * 1024, input_bytes=400),
        _task(1, 300, shuffle_write=2 * 1024 * 1024, input_bytes=400, accums=[(9, 5)]),
    ]
    second = [
        *_stage(2, ["AQEShuffleRead", "WriteFiles"], 3000, 3500),
        _task(2, 100, shuffle_read=4 * 1024 * 1024, accums=[(8, 3)]),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 1, "accumUpdates": [[7, 2]]},
        _job(2, [3], None, None), *_stage(3, ["Scan parquet "], 4000, 9000), _task(3, 900),
    ]
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for n, events in ((2, second), (1, first)):  # written out of order on purpose
        (app / f"events_{n}_local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    return str(tmp_path)


def test_rolling_files_replay_in_order(log_dir):
    events = read_events(log_dir)
    assert [e["Job ID"] for e in events if e["Event"] == "SparkListenerJobStart"] == [0, 1, 2]


def test_stages_attributed_by_physical_operator(log_dir):
    log = EventLog(read_events(log_dir))
    out = attribute(log, {"p/run": Span("operators.kpis")}, cores=4)
    layers = out["layers"]
    assert set(layers) == {"sources", "operators.kpis", "sinks"}  # job 2 is untagged
    assert layers["sources"]["jobs"] == 1 and layers["sources"]["tasks"] == 1
    assert layers["sources"]["wall_s"] == pytest.approx(0.5)
    assert layers["operators.kpis"]["cpu_s"] == pytest.approx(0.6)
    assert layers["operators.kpis"]["shuffle_mb"] == pytest.approx(4.0)
    assert layers["operators.kpis"]["cpu_util"] == pytest.approx(0.6 / (1.0 * 4))
    assert layers["sinks"]["jobs"] == 1  # the write job ends in the write stage
    assert out["input_bytes"] == {"p/run": 900}
    assert out["executions"] == {"p/run": {"1"}}
    assert out["span_jobs"] == {"p/run": 2}


def test_sql_metrics_sum_task_and_driver_updates(log_dir):
    log = EventLog(read_events(log_dir))
    assert log.sql_metric({"1"}, ("Execute InsertInto",), "number of written files") == [2]
    assert log.sql_metric({"1"}, ("Execute InsertInto",), "task commit time") == [3]
    assert log.sql_metric({"1"}, ("SortMergeJoin",), "number of output rows") == [5]
    assert log.sql_metric({"2"}, ("SortMergeJoin",), "number of output rows") == []


def test_missing_log_is_an_error(tmp_path):
    with pytest.raises(FileNotFoundError):
        read_events(str(tmp_path))
