"""Tests of the benchmark's own logic (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from perfbench import eventlog, stats, tables
from perfbench.classify import MEASURED, select, stride
from perfbench.outputs import frames_close

_SQL = "org.apache.spark.sql.execution.ui."
APP = "local-1700000000000"


def _task(stage: int, run_ms: int, launch: int, finish: int, **extra) -> dict:
    acc = [
        {"ID": 7, "Name": "data sent to Python workers", "Update": "100"},
        {"ID": 8, "Name": "data returned from Python workers", "Update": "40"},
    ]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Getting Result Time": 0,
            "Failed": extra.get("failed", False),
            "Killed": False,
            "Accumulables": acc,
        },
        "Task Metrics": {
            "Executor Deserialize Time": 10,
            "Executor Run Time": run_ms,
            "Executor CPU Time": 2 * 10**8,
            "JVM GC Time": 5,
            "Result Serialization Time": 0,
            "Memory Bytes Spilled": 3,
            "Disk Bytes Spilled": 2,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 9},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Input Metrics": {"Bytes Read": 1000},
            "Output Metrics": {"Bytes Written": 500},
        },
    }


def _events() -> list[dict]:
    plan = {
        "nodeName": "Execute InsertIntoHadoopFsRelationCommand",
        "metrics": [{"name": "number of written files", "accumulatorId": 42}],
        "children": [],
    }
    return [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.0"},
        {
            "Event": _SQL + "SparkListenerSQLExecutionStart",
            "executionId": 3,
            "rootExecutionId": 3,
            "time": 1_000,
            "jobGroupId": "p0:1:action",
            "sparkPlanInfo": plan,
        },
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 5,
            "Submission Time": 1_400,
            "Stage IDs": [8, 9],
            "Properties": {
                "spark.jobGroup.id": "p0:1:action",
                "spark.sql.execution.id": "3",
            },
        },
        _task(9, 300, 1_500, 1_900),
        _task(9, 100, 1_500, 1_650, failed=True),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 9}},
        {
            "Event": _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
            "executionId": 3,
            "sparkPlanInfo": {"nodeName": "AdaptiveSparkPlan", "children": []},
        },
        {
            "Event": "SparkListenerJobEnd",
            "Job ID": 5,
            "Completion Time": 2_000,
            "Job Result": {"Result": "JobSucceeded"},
        },
        {
            "Event": _SQL + "SparkListenerDriverAccumUpdates",
            "executionId": 3,
            "accumUpdates": [[42, 2], [43, 99]],
        },
        {
            "Event": _SQL + "SparkListenerSQLExecutionEnd",
            "executionId": 3,
            "time": 2_250,
        },
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 6,
            "Submission Time": 3_000,
            "Stage IDs": [10],
            "Properties": {"spark.jobGroup.id": "p0:1:build"},
        },
        {
            "Event": "SparkListenerJobEnd",
            "Job ID": 6,
            "Completion Time": 3_100,
            "Job Result": {"Result": "JobFailed"},
        },
    ]


def _write_rolling(tmp_path, events: list[dict], cut: int) -> str:
    """Spark 4 layout: eventlog_v2_<app>/events_<n>_<app>, rolled at
    ``cut``; part numbers sort numerically (2 before 10)."""
    d = tmp_path / f"eventlog_v2_{APP}"
    d.mkdir()
    (d / f"appstatus_{APP}").write_text("")
    for n, chunk in ((2, events[:cut]), (10, events[cut:])):
        with open(d / f"events_{n}_{APP}", "w") as f:
            for ev in chunk:
                f.write(json.dumps(ev) + "\n")
    return str(tmp_path)


def test_rolling_files_are_read_in_numeric_order(tmp_path):
    root = _write_rolling(tmp_path, _events(), cut=5)
    names = [os.path.basename(p) for p in eventlog.event_files(root)]
    assert names == [f"events_2_{APP}", f"events_10_{APP}"]
    kinds = [e["Event"] for e in eventlog.read_events(root)]
    assert kinds == [e["Event"] for e in _events()]


def test_parse_splits_work_by_job_group(tmp_path):
    groups = eventlog.parse(_write_rolling(tmp_path, _events(), cut=5))
    act = groups["p0:1:action"]
    assert (act.jobs, act.stages, act.tasks, act.failed_tasks) == (1, 1, 2, 1)
    assert act.cpu_s == pytest.approx(0.4)
    assert act.gc_s == pytest.approx(0.01)
    assert act.run_s == pytest.approx(0.4)
    # span − (run + deserialize): (400 − 310) + (150 − 110) ms
    assert act.sched_delay_s == pytest.approx(0.13)
    assert act.input_bytes == 2000
    assert act.output_bytes == 1000
    assert act.shuffle_read_bytes == 20
    assert act.shuffle_write_bytes == 22
    assert (act.spill_mem_bytes, act.spill_disk_bytes) == (6, 4)
    assert (act.udf_bytes_to_python, act.udf_bytes_from_python) == (200, 80)
    assert act.output_files == 2  # accumulator 43 is not a sink metric
    assert act.aqe_updates == 1
    assert act.first_job_delay_s == pytest.approx(0.4)
    assert act.tail_s == pytest.approx(0.25)
    build = groups["p0:1:build"]
    assert (build.jobs, build.tasks) == (1, 0)


def test_missing_or_ambiguous_log_is_an_error(tmp_path):
    with pytest.raises(ValueError):
        eventlog.event_files(str(tmp_path))
    root = _write_rolling(tmp_path, _events(), cut=5)
    (tmp_path / "eventlog_v2_local-1700000000001").mkdir()
    with pytest.raises(ValueError):
        eventlog.event_files(root)


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0.0) == 1.0
    assert stats.percentile(xs, 1.0) == 4.0
    assert stats.median(xs) == 2.5
    assert stats.percentile([5.0], 0.9) == 5.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


@pytest.mark.parametrize(
    "n,q,ok",
    [(100, 0.9, True), (99, 0.9, False), (20, 0.5, True), (19, 0.5, False),
     (1000, 0.99, True), (999, 0.99, False), (0, 0.5, False)],
)
def test_tail_needs_ten_samples_beyond(n, q, ok):
    assert stats.tail_supported(n, q) is ok
    s = stats.summary([float(i) for i in range(n)], q)
    assert s["n"] == n
    assert (s["value"] is not None) is ok


def test_stride_spreads_evenly():
    names = [f"q{i:02d}" for i in range(10)]
    assert stride(names, 5) == ["q00", "q02", "q04", "q06", "q08"]
    assert stride(names, 20) == names


def test_select_splits_by_build_jobs_only():
    jobs = {f"f{i:02d}": 0 for i in range(30)}
    jobs.update({"b_many": 9, "b_tie_a": 4, "b_tie_b": 4, "b_one": 1})
    out = select(jobs, failed=["f03"])
    assert out["suite_build_all"] == ["b_many", "b_one", "b_tie_a", "b_tie_b"]
    assert "f03" in out["suite_floor_all"]  # a failing query stays listed
    assert out["failed_at_classification"] == ["f03"]
    build = [n for n in out["suite"] if n.startswith("b_")]
    assert build == ["b_many", "b_tie_a", "b_tie_b"][: MEASURED["suite_build"]]
    floor = [n for n in out["suite"] if n.startswith("f")]
    assert floor == stride(out["suite_floor_all"], MEASURED["suite_floor"])


def test_frames_close_tolerates_summation_order_only():
    a = pd.DataFrame({"k": [2, 1], "x": [0.1 + 0.2, 1.0], "n": [1, 2]})
    b = pd.DataFrame({"k": [1, 2], "x": [1.0, 0.3], "n": [2, 1]})
    assert frames_close(a, b, "k") is None
    c = b.assign(x=[1.0, 0.31])
    assert frames_close(a, c, "k") is not None
    assert frames_close(a, b.drop(columns="n"), "k") is not None


def test_time_columns_are_zoneless_micros(tmp_path):
    import pyarrow.parquet as pq

    tables.write_tables(str(tmp_path), 0.0002, seed=1)
    for table, col in (
        ("events", "ts"),
        ("orders", "o_orderdate"),
        ("lineitem", "l_shipdate"),
    ):
        schema = pq.ParquetFile(tmp_path / f"{table}.parquet").schema
        t = json.loads(schema.column(schema.names.index(col)).logical_type.to_json())
        assert (t["Type"], t["timeUnit"], t["isAdjustedToUTC"]) == (
            "Timestamp",
            "microseconds",
            False,
        )
