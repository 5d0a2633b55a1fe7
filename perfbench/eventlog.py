"""Per-span layer counters read from a Spark event log.

The benchmark tags every op span with a job group (``<pass>/<op>/<part>``)
and runs the traced session with ``spark.eventLog.enabled=true``. This
module folds the log back into one counter set per job group:

- ``SparkListenerJobStart``/``JobEnd``: jobs and the time they were busy;
- ``SparkListenerTaskEnd`` task metrics: executor run, CPU and GC time,
  shuffle bytes, fetch wait, spill, scan input, scheduler delay;
- ``SparkListenerStageCompleted``: stages, and the Python worker SQL
  metrics ("time to start Python workers", ...) summed per stage;
- ``SparkListenerSQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate``
  plan trees and ``SparkListenerDriverAccumUpdates``: broadcast bytes
  and rows, which the driver reports for each broadcast exchange.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable, Iterator
from pathlib import Path

#: counters kept per job group, all summed over the group's jobs
COUNTERS = (
    "jobs",
    "busy_s",
    "stages",
    "tasks",
    "sched_delay_s",
    "executor_run_s",
    "executor_cpu_s",
    "executor_gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "shuffle_fetch_wait_s",
    "spill_disk_bytes",
    "scan_input_bytes",
    "broadcast_bytes",
    "broadcast_rows",
    "pyudf_boot_s",
    "pyudf_init_s",
    "pyudf_run_s",
    "pyudf_bytes_sent",
)

#: Python worker SQL metric name -> counter
_PYTHON_METRICS = {
    "time to start Python workers": "pyudf_boot_s",
    "time to initialize Python workers": "pyudf_init_s",
    "time to run Python workers": "pyudf_run_s",
    "data sent to Python workers": "pyudf_bytes_sent",
}
#: broadcast exchange SQL metric name -> counter
_BROADCAST_METRICS = {"data size": "broadcast_bytes", "number of output rows": "broadcast_rows"}
_SQL = "org.apache.spark.sql.execution.ui."


def read_events(log_dir: str | Path) -> Iterator[dict]:
    """Events of every log file under `log_dir`, rolled files in order.

    Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>`` rolling files
    by default and a single ``<app>`` file when rolling is off."""

    def order(p: Path) -> tuple:
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if p.name.startswith("events_") else 0, p.name)

    files = [
        p
        for p in Path(log_dir).rglob("*")
        if p.is_file() and not p.name.startswith((".", "appstatus"))
    ]
    for path in sorted(files, key=order):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start, end] ms intervals."""
    total = 0
    end_so_far = None
    for start, end in sorted(intervals):
        if end_so_far is None or start > end_so_far:
            total += end - start
            end_so_far = end
        elif end > end_so_far:
            total += end - end_so_far
            end_so_far = end
    return total / 1000.0


def _plan_metrics(node: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def _seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1000.0


def group_counters(events: Iterable[dict]) -> dict[str, dict[str, float]]:
    """Job group id -> counters (see COUNTERS). Jobs without a group
    are filed under the empty string."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    intervals: dict[str, list[tuple[int, int]]] = defaultdict(list)
    acc_meta: dict[int, tuple[str, str, str]] = {}
    exec_group: dict[int, str] = {}
    # (execution id, accumulator id) -> last reported value
    driver_accums: dict[tuple[int, int], float] = {}
    # a stage reports an accumulator's running total, which a re-run plan
    # node carries into its next stage: count only the increase
    stage_acc_seen: dict[int, float] = {}

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = group
            job_start[ev["Job ID"]] = ev["Submission Time"]
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
            out[group]["jobs"] += 1
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                exec_group.setdefault(int(exec_id), group)
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_start:
                intervals[job_group[job]].append((job_start[job], ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            counters = out[stage_group.get(info["Stage ID"], "")]
            counters["stages"] += 1
            for acc in info.get("Accumulables", ()):
                name = _PYTHON_METRICS.get(acc.get("Name", ""))
                if name is None:
                    continue
                total = float(acc.get("Value") or 0)
                value = total - stage_acc_seen.get(acc["ID"], 0.0)
                stage_acc_seen[acc["ID"]] = total
                if name == "pyudf_bytes_sent":
                    counters[name] += value
                else:
                    metric_type = acc_meta.get(acc["ID"], ("", "", "timing"))[2]
                    counters[name] += _seconds(value, metric_type)
        elif kind == "SparkListenerTaskEnd":
            counters = out[stage_group.get(ev["Stage ID"], "")]
            counters["tasks"] += 1
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            if not m:
                continue
            run_ms = m.get("Executor Run Time", 0)
            deser_ms = m.get("Executor Deserialize Time", 0)
            ser_ms = m.get("Result Serialization Time", 0)
            getting = info.get("Getting Result Time", 0)
            fetch_result_ms = info["Finish Time"] - getting if getting else 0
            duration_ms = info["Finish Time"] - info["Launch Time"]
            counters["sched_delay_s"] += (
                max(0, duration_ms - run_ms - deser_ms - ser_ms - fetch_result_ms) / 1000.0
            )
            counters["executor_run_s"] += run_ms / 1000.0
            counters["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            counters["executor_gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            counters["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
            counters["scan_input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            counters["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            counters["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            counters["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev["sparkPlanInfo"], acc_meta)
            if ev.get("jobGroupId") is not None:
                exec_group[ev["executionId"]] = ev["jobGroupId"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                driver_accums[(ev["executionId"], acc_id)] = float(value)

    for (exec_id, acc_id), value in driver_accums.items():
        node, metric, _type = acc_meta.get(acc_id, ("", "", ""))
        name = _BROADCAST_METRICS.get(metric)
        if node == "BroadcastExchange" and name is not None:
            out[exec_group.get(exec_id, "")][name] += value
    for group, spans in intervals.items():
        out[group]["busy_s"] = _union_s(spans)
    return dict(out)
