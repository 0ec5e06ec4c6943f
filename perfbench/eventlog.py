"""Layer metrics per query from a Spark event log.

The log must be written uncompressed (``spark.eventLog.compress=false``):
Spark 4 compresses with zstd by default and no Python zstd decoder is
installed. Each line is one JSON listener event.

Jobs are attributed to a query through their ``spark.jobGroup.id``
property, which the benchmark sets before each query phase. Streaming
micro-batch jobs run under the stream's ``runId`` as their job group, so
the caller passes a ``resolve`` function that maps both kinds of group
id to a label. Stages and tasks follow their job; driver-side SQL metrics
(broadcast build time) follow their SQL execution id.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter, defaultdict
from collections.abc import Callable, Iterable, Iterator

# SQL metric name -> counter key. Spark reports these timings in ms.
_TASK_SQL_METRICS = {
    "scan time": "scan_ms",
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
_DRIVER_SQL_METRICS = {"time to build": "broadcast_build_ms"}

_EV_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_EV_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_EV_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def log_files(path: str) -> list[str]:
    """Files of one application's log: a single file, or the parts of a
    rolling ``eventlog_v2_*`` directory in order."""
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
    return [os.path.join(path, f) for f in parts]


def read_events(path: str) -> Iterator[dict]:
    for name in log_files(path):
        with open(name) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", ()):
        _plan_metric_names(child, out)


class Summary:
    """Additive counters and job spans per label."""

    def __init__(self) -> None:
        self.counters: dict[str, Counter] = defaultdict(Counter)
        self.job_spans: dict[str, list[tuple[int, int]]] = defaultdict(list)


def summarize(events: Iterable[dict], resolve: Callable[[str | None], str | None]) -> Summary:
    """Fold listener events into per-label counters.

    Counters: ``jobs stages stages_skipped tasks task_run_ms task_cpu_ns
    gc_ms shuffle_write_bytes shuffle_read_bytes fetch_wait_ms spill_bytes
    bytes_read rows_read bytes_written scan_ms python_ms python_bytes_sent
    python_bytes_returned broadcast_build_ms``. Events whose group
    ``resolve`` maps to ``None`` are dropped.
    """
    out = Summary()
    job_label: dict[int, str] = {}
    job_start: dict[int, int] = {}
    job_stages: dict[int, list[int]] = {}
    stage_label: dict[int, str] = {}
    exec_label: dict[int, str] = {}
    submitted: set[int] = set()
    accum_names: dict[int, str] = {}
    driver_updates: list[tuple[int, int, int]] = []

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            label = resolve(props.get("spark.jobGroup.id"))
            if label is None:
                continue
            jid = ev["Job ID"]
            job_label[jid] = label
            job_start[jid] = ev["Submission Time"]
            job_stages[jid] = ev["Stage IDs"]
            for sid in ev["Stage IDs"]:
                stage_label.setdefault(sid, label)
            if "spark.sql.execution.id" in props:
                exec_label.setdefault(int(props["spark.sql.execution.id"]), label)
            out.counters[label]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_label:
                out.job_spans[job_label[jid]].append((job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            submitted.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_label:
                out.counters[stage_label[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(ev["Stage ID"])
            if label is None:
                continue
            _fold_task(out.counters[label], ev)
        elif kind in (_EV_SQL_START, _EV_SQL_AQE):
            _plan_metric_names(ev.get("sparkPlanInfo") or {}, accum_names)
        elif kind == _EV_DRIVER_ACCUM:
            for acc_id, value in ev["accumUpdates"]:
                driver_updates.append((ev["executionId"], acc_id, value))

    for jid, stages in job_stages.items():
        skipped = sum(1 for sid in stages if sid not in submitted)
        out.counters[job_label[jid]]["stages_skipped"] += skipped
    for exec_id, acc_id, value in driver_updates:
        label = exec_label.get(exec_id)
        metric = _DRIVER_SQL_METRICS.get(accum_names.get(acc_id, ""))
        if label is not None and metric is not None:
            out.counters[label][metric] += value
    return out


def _fold_task(c: Counter, ev: dict) -> None:
    c["tasks"] += 1
    tm = ev.get("Task Metrics")
    if tm:
        c["task_run_ms"] += tm["Executor Run Time"]
        c["task_cpu_ns"] += tm["Executor CPU Time"]
        c["gc_ms"] += tm["JVM GC Time"]
        c["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
        sr = tm["Shuffle Read Metrics"]
        c["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        c["fetch_wait_ms"] += sr["Fetch Wait Time"]
        c["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        c["bytes_read"] += tm["Input Metrics"]["Bytes Read"]
        c["rows_read"] += tm["Input Metrics"]["Records Read"]
        c["bytes_written"] += tm["Output Metrics"]["Bytes Written"]
    for acc in ev["Task Info"].get("Accumulables", ()):
        metric = _TASK_SQL_METRICS.get(acc.get("Name", ""))
        if metric is not None and "Update" in acc:
            c[metric] += int(acc["Update"])


def union_ms(spans: Iterable[tuple[int, int]]) -> int:
    """Total length covered by possibly overlapping ``(start, end)`` spans."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
