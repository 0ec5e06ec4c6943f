"""Self-tests of the benchmark: ``python -m pytest perfbench -q``.

The last tests run the benchmark itself at sf0.001, about 40 s per
workload on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.eventlog import read_events, summarize, union_ms
from perfbench.layers import tail
from perfbench.procstat import cpu_seconds, peak_rss_mb, process_age_s, tree_pids
from perfbench.workloads import END_TO_END, PER_LAYER, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# A log captured from q3_shipping_priority, pandas_udf_density_score and
# stream_dedup_within_watermark at sf0.001, each under its own job group,
# trimmed to the fields the parser reads.
SMALL_LOG = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")
STREAM_RUN_ID = "91f0c2c0-c542-465d-a0e7-13a0581bf591"


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_event_log_parser_on_captured_log():
    def resolve(group):
        return "stream_dedup_within_watermark" if group == STREAM_RUN_ID else group

    s = summarize(read_events(SMALL_LOG), resolve)
    q3 = s.counters["q3_shipping_priority"]
    udf = s.counters["pandas_udf_density_score"]
    stream = s.counters["stream_dedup_within_watermark"]
    # Every job, stage and task of the log lands on exactly one query.
    assert (q3["jobs"], udf["jobs"], stream["jobs"]) == (7, 2, 11)
    assert q3["tasks"] + udf["tasks"] + stream["tasks"] == 49
    assert q3["stages"] + udf["stages"] + stream["stages"] == 24
    assert (q3["stages_skipped"], stream["stages_skipped"]) == (1, 2)
    # The five micro-batch jobs, which ran under the stream's runId, join
    # the six the query ran under its own group.
    assert len(s.job_spans["stream_dedup_within_watermark"]) == 11
    # Layer attribution: broadcast build only in the join, Python worker
    # time only in the UDF.
    assert q3["broadcast_build_ms"] == 98 and udf["broadcast_build_ms"] == 0
    assert (udf["python_bytes_sent"], udf["python_bytes_returned"], udf["python_ms"]) == (159504, 4144, 1684)
    assert q3["python_ms"] == stream["python_ms"] == 0
    assert q3["shuffle_write_bytes"] == q3["shuffle_read_bytes"] == 4305
    assert (q3["rows_read"], q3["scan_ms"]) == (7650, 546)
    assert q3["task_cpu_ns"] == 840599301 and q3["task_run_ms"] == 1417


def test_unknown_job_groups_are_dropped():
    s = summarize(read_events(SMALL_LOG), lambda g: g if g == "q3_shipping_priority" else None)
    assert set(s.counters) == {"q3_shipping_priority"}


def test_union_of_overlapping_spans():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert union_ms([(30, 40), (0, 10), (10, 12)]) == 22


def test_tail_needs_ten_samples_above_it():
    assert tail(list(range(19))) is None
    assert tail(list(range(1, 21))) == (50, 10)
    assert tail(list(range(1, 101))) == (90, 90)


def test_procstat_sees_child_cpu_and_memory():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in tree_pids(os.getpid())
        assert cpu_seconds(os.getpid()) > 0
        assert peak_rss_mb(os.getpid()) > 1
        assert process_age_s() > 0
    finally:
        child.kill()
        child.wait(timeout=10)


def test_benchmark_json_names_match_the_runner():
    bench = _benchmark_json()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert next(m for m in bench["end_to_end"] if m["name"] == "setup_s")["bound"] == max(
        m["bound"] for m in bench["end_to_end"]
    )


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    ("tpch_sql", 0), ("corpus_pipeline", 1), ("stream_replay", 1),
])
def test_workload_runs_clean_at_sf0001(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0
    assert out["attempted"] == 2 * len(WORKLOADS[workload])
    bench = _benchmark_json()
    names = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    assert list(out["metrics"]) == names
    assert all(v["value"] >= 0 for v in out["metrics"].values())
    if workload == "stream_replay":
        assert out["metrics"]["streaming.batches"]["value"] > 0
    if workload == "corpus_pipeline":
        assert out["metrics"]["plans.audit.calls"]["value"] > 0
