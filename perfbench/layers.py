"""Per-layer metrics of the warm passes of a traced run.

Inputs are the spans the benchmark recorded around its calls into the
engine, the event-log summary and the streaming progress. Every metric
is a per-pass mean over the warm passes. Query labels are
``"<pass>|<query>"``; job groups add ``"|build"`` or ``"|exec"``.
"""

from __future__ import annotations

import statistics
from collections import Counter, defaultdict

from perfbench.eventlog import Summary, union_ms
from perfbench.spans import Span


def tail(samples: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it,
    as ``(percentile, value)`` by nearest rank; None when even the median
    lacks ten samples above it (fewer than 20 samples)."""
    n = len(samples)
    for pct in range(99, 49, -1):
        rank = -(-pct * n // 100)  # ceil(pct * n / 100), 1-based
        if n - rank >= 10:
            return pct, sorted(samples)[rank - 1]
    return None


def _pass_of(label: str | None) -> int | None:
    return None if label is None else int(label.split("|", 1)[0])


def _outer_spans(spans: list[Span], name: str) -> list[Span]:
    """Spans called ``name`` that no other span of that name encloses."""
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = s.parent
        while p is not None and spans[p].name != name:
            p = spans[p].parent
        if p is None:
            out.append(s)
    return out


def _inside(spans: list[Span], s: Span, name: str) -> bool:
    p = s.parent
    while p is not None:
        if spans[p].name == name:
            return True
        p = spans[p].parent
    return False


def stream_stats(progress: list[tuple[str, dict]], warm: set[int]) -> dict[str, float]:
    """Rows per second of trigger time and micro-batch durations, over the
    micro-batches of the warm passes."""
    batches = [p for label, p in progress if _pass_of(label) in warm]
    trigger_ms = sum(p["durations"].get("triggerExecution", 0) for p in batches)
    durations = [p["batch_ms"] for p in batches]
    tail_pt = tail(durations)
    return {
        "batches": len(batches),
        "rows_per_s": 1000.0 * sum(p["input_rows"] for p in batches) / trigger_ms if trigger_ms else 0.0,
        "batch_p50_ms": statistics.median(durations) if durations else 0.0,
        "batch_max_ms": max(durations, default=0.0),
        "batch_tail": tail_pt,
    }


def query_records(spans: list[Span], summary: Summary) -> list[dict]:
    """Wall time of each query run, split into job time and driver gap.

    ``job_union_s + driver_gap_s == wall_s``: the gap is the part of the
    query's wall time in which none of its Spark jobs was running.
    """
    walls: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.name in ("queries.build", "queries.exec"):
            walls[s.query] += s.end - s.start
    out = []
    for label, wall in walls.items():
        jobs = summary.job_spans.get(label + "|build", []) + summary.job_spans.get(label + "|exec", [])
        job_s = union_ms(jobs) / 1000.0
        out.append({
            "query": label,
            "wall_s": wall,
            "jobs": len(jobs),
            "job_union_s": job_s,
            "driver_gap_s": wall - job_s,
        })
    return out


def layer_metrics(
    spans: list[Span],
    summary: Summary,
    progress: list[tuple[str, dict]],
    warm_walls: dict[int, float],
    cores: int,
    get_spark_s: float,
) -> dict[str, float]:
    warm = set(warm_walls)
    n = len(warm)
    wspans = [s for s in spans if _pass_of(s.query) in warm]

    def span_s(name: str) -> float:
        return sum(s.end - s.start for s in _outer_spans(spans, name) if _pass_of(s.query) in warm) / n

    def span_calls(name: str) -> float:
        return sum(1 for s in wspans if s.name == name) / n

    phase: dict[str, Counter] = {"build": Counter(), "exec": Counter()}
    total: Counter = Counter()
    for label, c in summary.counters.items():
        if _pass_of(label) in warm:
            phase[label.rsplit("|", 1)[1]].update(c)
            total.update(c)

    last_state: dict[str, dict] = {}
    stream_sums: Counter = Counter()
    for label, p in progress:
        if _pass_of(label) in warm:
            last_state[label] = p
            d = p["durations"]
            stream_sums.update({
                "add_batch_ms": d.get("addBatch", 0),
                "planning_ms": d.get("queryPlanning", 0),
                "wal_commit_ms": d.get("walCommit", 0),
                "state_commit_ms": p["state_commit_ms"],
            })
    stream = stream_stats(progress, warm)
    gaps = [r["driver_gap_s"] for r in query_records(spans, summary) if _pass_of(r["query"]) in warm]
    run_s = total["task_run_ms"] / 1000.0
    cpu_s = total["task_cpu_ns"] / 1e9

    return {
        "session.get_spark_s": get_spark_s,
        "queries.build_s": span_s("queries.build"),
        "queries.build_jobs": phase["build"]["jobs"] / n,
        "queries.exec_s": span_s("queries.exec"),
        "queries.exec_jobs": phase["exec"]["jobs"] / n,
        "plans.audit.calls": span_calls("plans.audit.checkpoint"),
        "plans.audit.s": span_s("plans.audit.auditor"),
        "plans.audit.checkpoint_s": span_s("plans.audit.checkpoint"),
        "plans.dag.lower_s": span_s("plans.dag.lower"),
        "plans.dag.persists": sum(
            1 for s in wspans if s.name == "spark.persist" and _inside(spans, s, "plans.dag.lower")
        ) / n,
        "sources.load_table_calls": span_calls("sources.load_table"),
        "sources.load_table_s": span_s("sources.load_table"),
        "sources.scan_s": total["scan_ms"] / 1000.0 / n,
        "sources.bytes_read": total["bytes_read"] / n,
        "sources.rows_read": total["rows_read"] / n,
        "sources.write_s": span_s("sources.write"),
        "sources.bytes_written": total["bytes_written"] / n,
        "streaming.run_s": span_s("streaming.run"),
        "streaming.batches": stream["batches"] / n,
        "streaming.add_batch_ms": stream_sums["add_batch_ms"] / n,
        "streaming.planning_ms": stream_sums["planning_ms"] / n,
        "streaming.wal_commit_ms": stream_sums["wal_commit_ms"] / n,
        "streaming.state_rows": sum(p["state_rows"] for p in last_state.values()) / n,
        "streaming.state_bytes": sum(p["state_bytes"] for p in last_state.values()) / n,
        "streaming.state_commit_ms": stream_sums["state_commit_ms"] / n,
        "streaming.state_instances": sum(p["state_instances"] for p in last_state.values()) / n,
        "streaming.rows_per_s": stream["rows_per_s"],
        "streaming.batch_p50_ms": stream["batch_p50_ms"],
        "streaming.batch_max_ms": stream["batch_max_ms"],
        "spark.jobs": total["jobs"] / n,
        "spark.stages": total["stages"] / n,
        "spark.stages_skipped": total["stages_skipped"] / n,
        "spark.tasks": total["tasks"] / n,
        "spark.driver_gap_s": sum(gaps) / n,
        "spark.task_run_s": run_s / n,
        "spark.task_cpu_s": cpu_s / n,
        "spark.task_wait_frac": 1.0 - cpu_s / run_s if run_s else 0.0,
        "spark.slot_busy_frac": run_s / (sum(warm_walls.values()) * cores),
        "spark.gc_s": total["gc_ms"] / 1000.0 / n,
        "spark.shuffle_write_bytes": total["shuffle_write_bytes"] / n,
        "spark.shuffle_read_bytes": total["shuffle_read_bytes"] / n,
        "spark.shuffle_fetch_wait_s": total["fetch_wait_ms"] / 1000.0 / n,
        "spark.spill_bytes": total["spill_bytes"] / n,
        "spark.broadcast_build_s": total["broadcast_build_ms"] / 1000.0 / n,
        "spark.python_s": total["python_ms"] / 1000.0 / n,
        "spark.python_bytes_sent": total["python_bytes_sent"] / n,
        "spark.python_bytes_returned": total["python_bytes_returned"] / n,
        "trace.pass_s": statistics.median(warm_walls.values()),
    }
