"""Per-layer split of a Spark run, read from its event log.

The benchmark tags every op's jobs with ``setJobGroup("<op>:<phase>")``
(phase ``build`` while the program builds the plan, ``action`` while the
result is written), turns the event log on through
``get_spark(extra_conf=...)`` and, after the session stops, folds the log
into one :class:`GroupStats` per job group. Nothing inside the program is
instrumented.

Spark 4 writes the log as a rolling directory ``eventlog_v2_<app>/`` of
``events_<n>_<app>`` JSON-lines files; that is the only layout read.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_TO_PY = "data sent to Python workers"
_FROM_PY = "data returned from Python workers"
_WRITTEN_FILES = "number of written files"


def event_files(path: str) -> list[str]:
    """The log files of the one application logged under ``path`` (the
    ``spark.eventLog.dir``), in write order."""
    rolling = [n for n in os.listdir(path) if n.startswith("eventlog_v2_")]
    if len(rolling) != 1:
        raise ValueError(f"{path} holds {len(rolling)} rolling event logs, not 1")
    path = os.path.join(path, rolling[0])
    parts = []
    for name in os.listdir(path):
        m = re.fullmatch(r"events_(\d+)_.+", name)
        if m:
            parts.append((int(m.group(1)), os.path.join(path, name)))
    if not parts:
        raise ValueError(f"no events_* files under {path}")
    return [p for _, p in sorted(parts)]


def read_events(path: str):
    for fname in event_files(path):
        with open(fname) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


@dataclass
class GroupStats:
    """Everything one job group ran, summed over its jobs and tasks."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    output_files: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_disk_bytes: int = 0
    spill_mem_bytes: int = 0
    udf_bytes_to_python: int = 0
    udf_bytes_from_python: int = 0
    aqe_updates: int = 0
    #: SQL execution start → its first job's submission, summed.
    first_job_delay_s: float = 0.0
    #: last job end → SQL execution end (the output commit), summed.
    tail_s: float = 0.0
    _first_job_ms: dict = field(default_factory=dict, repr=False)
    _last_job_end_ms: dict = field(default_factory=dict, repr=False)


def _task_counts(stats: GroupStats, ev: dict) -> None:
    info = ev["Task Info"]
    stats.tasks += 1
    if info.get("Failed") or info.get("Killed"):
        stats.failed_tasks += 1
    m = ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    stats.run_s += run_ms / 1e3
    stats.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    stats.gc_s += m.get("JVM GC Time", 0) / 1e3
    busy_ms = (
        run_ms
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    span_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    stats.sched_delay_s += max(0, span_ms - busy_ms) / 1e3
    stats.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    stats.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    stats.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    sw = m.get("Shuffle Write Metrics") or {}
    stats.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    stats.spill_disk_bytes += m.get("Disk Bytes Spilled", 0)
    stats.spill_mem_bytes += m.get("Memory Bytes Spilled", 0)
    for acc in info.get("Accumulables", ()):
        name = acc.get("Name")
        if name == _TO_PY:
            stats.udf_bytes_to_python += int(acc.get("Update", 0))
        elif name == _FROM_PY:
            stats.udf_bytes_from_python += int(acc.get("Update", 0))


def _plan_metric_names(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", ()):
        _plan_metric_names(child, out)


def parse(path: str) -> dict[str, GroupStats]:
    """Fold an application's event log into per-job-group totals.

    Work outside any job group is keyed ``""``."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_exec: dict[int, str] = {}
    exec_group: dict[str, str] = {}
    exec_start_ms: dict[str, int] = {}
    metric_names: dict[int, str] = {}
    for ev in read_events(path):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_group[jid] = g
            groups[g].jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, g)
            eid = props.get("spark.sql.execution.root.id") or props.get(
                "spark.sql.execution.id"
            )
            if eid is not None:
                job_exec[jid] = eid
                first = groups[g]._first_job_ms
                first.setdefault(eid, ev.get("Submission Time", 0))
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            g = job_group.get(jid, "")
            eid = job_exec.get(jid)
            if eid is not None:
                last = groups[g]._last_job_end_ms
                last[eid] = max(last.get(eid, 0), ev.get("Completion Time", 0))
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            groups[stage_group.get(sid, "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            _task_counts(groups[stage_group.get(ev["Stage ID"], "")], ev)
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            eid = str(ev["executionId"])
            _plan_metric_names(ev.get("sparkPlanInfo") or {}, metric_names)
            if str(ev.get("rootExecutionId", eid)) != eid:
                continue  # nested execution: its root carries the timing
            g = ev.get("jobGroupId") or ""
            exec_group[eid] = g
            exec_start_ms[eid] = ev["time"]
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            _plan_metric_names(ev.get("sparkPlanInfo") or {}, metric_names)
            g = exec_group.get(str(ev["executionId"]))
            if g is not None:
                groups[g].aqe_updates += 1
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            g = exec_group.get(str(ev["executionId"]))
            if g is None:
                continue
            for acc_id, value in ev.get("accumUpdates", ()):
                if metric_names.get(acc_id) == _WRITTEN_FILES:
                    groups[g].output_files += int(value)
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            eid = str(ev["executionId"])
            g = exec_group.get(eid)
            if g is None:
                continue
            st = groups[g]
            first = st._first_job_ms.get(eid)
            if first is not None:
                st.first_job_delay_s += max(0, first - exec_start_ms[eid]) / 1e3
                last = st._last_job_end_ms.get(eid, first)
                st.tail_s += max(0, ev["time"] - last) / 1e3
    return dict(groups)
