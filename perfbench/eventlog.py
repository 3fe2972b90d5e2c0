"""Per-job-group totals from a Spark event log.

The benchmark tags every public call with ``SparkContext.setJobGroup``;
``summarize`` folds the log's job, stage, task and SQL-plan events into
one :class:`GroupStats` per job group.  The log must be written
uncompressed (``spark.eventLog.compress=false``); a rolling log
directory (``eventlog_v2_*``) is read file by file in order.

Python UDF metrics are SQL metrics of the plan's Python node
(``ArrowEvalPython`` and friends).  They appear in the log only under
their display names, so the accumulator ids are taken from the plan
info of ``SparkListenerSQLExecutionStart`` / ``...AdaptiveExecutionUpdate``
and the task updates are summed per id.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field
from typing import Dict, Iterable, Iterator, List

# display name in the plan -> metric name in Spark's PythonSQLMetrics
PYTHON_METRICS = {
    "time to start Python workers": "pythonBootTime",
    "time to initialize Python workers": "pythonInitTime",
    "time to run Python workers": "pythonTotalTime",
    "data sent to Python workers": "pythonDataSent",
    "data returned from Python workers": "pythonDataReceived",
    "number of output rows": "pythonNumRowsReceived",
}
_PY_NODE_MARKER = "data sent to Python workers"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = ("org.apache.spark.sql.execution.ui."
            "SparkListenerSQLAdaptiveExecutionUpdate")


@dataclass
class StageStats:
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    run_times_ms: List[int] = field(default_factory=list)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    task_skew: float = 0.0   # slowest / median task, largest shuffle stage
    python: Dict[str, int] = field(
        default_factory=lambda: {k: 0 for k in PYTHON_METRICS.values()})


def _event_files(path: str) -> List[str]:
    if os.path.isfile(path):
        return [path]
    # rolling layout: events_<index>_<appId>; order by index
    files = [n for n in os.listdir(path) if n.startswith("events_")]
    files.sort(key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))
    return [os.path.join(path, n) for n in files]


def read_events(path: str) -> Iterator[dict]:
    for fn in _event_files(path):
        with open(fn, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def find_log(log_dir: str) -> str:
    """The single application log written into ``log_dir``."""
    entries = [n for n in os.listdir(log_dir)
               if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(entries) != 1:
        raise ValueError(f"expected one event log in {log_dir}, "
                         f"found {sorted(os.listdir(log_dir))}")
    return os.path.join(log_dir, entries[0])


def _python_accumulators(plan: dict, out: Dict[int, str]) -> None:
    names = {m["name"] for m in plan.get("metrics", ())}
    if _PY_NODE_MARKER in names:
        for m in plan["metrics"]:
            key = PYTHON_METRICS.get(m["name"])
            if key is not None:
                out[int(m["accumulatorId"])] = key
    for child in plan.get("children", ()):
        _python_accumulators(child, out)


def summarize(events: Iterable[dict]) -> Dict[str, GroupStats]:
    """Totals per job group; jobs without a group are keyed ``""``."""
    stage_group: Dict[int, str] = {}
    py_acc: Dict[int, str] = {}
    groups: Dict[str, GroupStats] = {}
    stages: Dict[int, StageStats] = {}

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            gs = groups.setdefault(g, GroupStats())
            gs.jobs += 1
            for sid in ev.get("Stage IDs", ()):
                # a stage listed by a later job was skipped there; its
                # tasks ran under the job that listed it first
                stage_group.setdefault(sid, g)
        elif kind in (_SQL_START, _SQL_AQE):
            _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = stage_group.get(sid, "")
            gs = groups.setdefault(g, GroupStats())
            st = stages.setdefault(sid, StageStats())
            gs.tasks += 1
            info = ev.get("Task Info") or {}
            ok = (ev.get("Task End Reason") or {}).get("Reason") == "Success"
            if not ok or info.get("Failed"):
                gs.failed_tasks += 1
            tm = ev.get("Task Metrics") or {}
            gs.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            run_ms = tm.get("Executor Run Time", 0)
            gs.executor_run_s += run_ms / 1e3
            st.run_times_ms.append(run_ms)
            sr = tm.get("Shuffle Read Metrics") or {}
            read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            written = (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            gs.shuffle_read_bytes += read
            gs.shuffle_write_bytes += written
            st.shuffle_read_bytes += read
            st.shuffle_write_bytes += written
            gs.spill_bytes += (tm.get("Memory Bytes Spilled", 0)
                               + tm.get("Disk Bytes Spilled", 0))
            gs.input_records += (tm.get("Input Metrics") or {}).get(
                "Records Read", 0)
            for acc in info.get("Accumulables", ()):
                key = py_acc.get(acc.get("ID"))
                if key is not None:
                    gs.python[key] += int(acc.get("Update") or 0)

    owner = {sid: stage_group.get(sid, "") for sid in stages}
    for sid in stages:
        groups[owner[sid]].stages += 1
    for g, gs in groups.items():
        shuffle = [st for sid, st in stages.items()
                   if owner[sid] == g
                   and st.shuffle_read_bytes + st.shuffle_write_bytes > 0]
        if shuffle:
            big = max(shuffle, key=lambda s: (s.shuffle_read_bytes
                                              + s.shuffle_write_bytes))
            med = statistics.median(big.run_times_ms)
            gs.task_skew = max(big.run_times_ms) / max(med, 1)
    return groups
