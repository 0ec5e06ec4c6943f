#!/usr/bin/env python3
"""Benchmark of the engine on three named workloads of registry queries.

    python3 perfbench/run.py --workload tpch_sql --seed 1 --seconds 1 --trace 0

Load shape: a closed loop with one client. This process runs one query
at a time against ``local[<cores>]`` and starts no query threads. Each
query is built with ``REGISTRY[name].fn(spark, sf_dir)`` and then fully
materialised through the ``noop`` sink, which runs every row and column
without collecting them (``count()`` would let Catalyst prune columns).

A run, in order:

1. set-up: imports and ``get_spark``;
2. the cold pass: every query once, in the fresh session;
3. the output check: each query's cold-pass DataFrame against its DuckDB
   oracle through ``tests.oracle_check.compare`` (untimed);
4. warm passes until ``--seconds`` have passed, at least one.

The seed sets only the query order of each pass. Inputs are the sf0.01
fixture tables under ``perfbench/data``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on
Spark's event log, the span wrappers and prints the per-layer metrics of
the warm passes. Both print a report line with sample counts, the
failure fraction and streaming latency, then the result line last.
Scratch files (temp dirs, event logs, span dumps) go to ``.perfbench/``
at the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procstat  # noqa: E402
from perfbench.workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

DATA = os.path.join(ROOT, "perfbench", "data")
SCRATCH = os.path.join(ROOT, ".perfbench")
# Stop starting passes past this point so a run ends well inside 180 s.
DEADLINE_S = 120.0


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.01", choices=("0.01", "0.001"),
                    help="fixture scale factor (0.001 is for the self-tests)")
    return ap.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for its process tree."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    jvm_tree = [p for p in procstat.tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in jvm_tree):
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    sf_dir = os.path.join(DATA, f"sf{args.sf}")
    if not os.path.isdir(sf_dir):
        print(f"perfbench: fixture directory {sf_dir} is missing", file=sys.stderr)
        return 2
    tmp = os.path.join(SCRATCH, "tmp")
    events_dir = os.path.join(SCRATCH, "eventlog")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(events_dir, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
    )
    try:
        from beam_pyspark_runner_spark.queries import REGISTRY
        from beam_pyspark_runner_spark.session import drain_listener_bus, get_spark
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        return 2

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + events_dir,
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    setup_s = procstat.process_age_s()

    from perfbench.spans import ProgressListener, Tracer
    from tests.oracle_check import compare, duckdb_conn

    names = WORKLOADS[args.workload]
    listener = ProgressListener()
    spark.streams.addListener(listener)
    tracer = Tracer()
    if args.trace:
        tracer.install()
    sc = spark.sparkContext
    order_rng = random.Random(args.seed)
    me = os.getpid()
    runs: list[dict] = []
    errors: list[str] = []

    def run_pass(idx: int) -> tuple[dict, dict]:
        built = {}
        cpu0, start = procstat.cpu_seconds(me), time.perf_counter()
        for name in order_rng.sample(names, len(names)):
            label = f"{idx}|{name}"
            tracer.query = listener.current = label
            rec = {"pass": idx, "query": name}
            try:
                sc.setJobGroup(label + "|build", name)
                t = time.perf_counter()
                with tracer.span("queries.build"):
                    df = REGISTRY[name].fn(spark, sf_dir)
                rec["build_s"] = time.perf_counter() - t
                sc.setJobGroup(label + "|exec", name)
                t = time.perf_counter()
                with tracer.span("queries.exec"):
                    df.write.format("noop").mode("overwrite").save()
                rec["exec_s"] = time.perf_counter() - t
                built[name] = df
            except Exception as exc:  # noqa: BLE001 - a failing query is counted, the run goes on
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                errors.append(f"pass {idx} {name}: {rec['error']}")
            runs.append(rec)
        tracer.query = listener.current = None
        sc.setLocalProperty("spark.jobGroup.id", None)
        return {"index": idx, "wall_s": time.perf_counter() - start,
                "cpu_s": procstat.cpu_seconds(me) - cpu0}, built

    cold, built = run_pass(0)

    check_start = time.perf_counter()
    con = duckdb_conn(sf_dir)
    checks = []
    for name in names:
        q = REGISTRY[name]
        if name not in built:
            continue
        try:
            r = compare(spark, con, name, lambda *_: built[name], q.oracle, sf_dir)
        except Exception as exc:  # noqa: BLE001
            r = {"name": name, "status": "ERROR", "error": str(exc)[:300]}
        # An empty result certifies nothing unless the query is tagged as
        # legitimately empty at small scale (the oracle_check rule).
        if r["status"] in ("MATCH", "rows_only") and r.get("spark_rows") == 0 \
                and "empty_ok_at_small_sf" not in q.tags:
            r["status"] = "EMPTY_UNTAGGED"
        checks.append(r)
    con.close()
    bad_checks = [r for r in checks if r["status"] not in ("MATCH", "rows_only")]
    built.clear()

    warm = []
    warm_start = time.perf_counter()
    check_s = warm_start - check_start
    while not warm or (time.perf_counter() - warm_start < args.seconds
                       and procstat.process_age_s() < DEADLINE_S):
        warm.append(run_pass(len(warm) + 1)[0])

    warm_s = time.perf_counter() - warm_start
    drain_listener_bus(spark)
    peak_rss = procstat.peak_rss_mb(me)
    tracer.restore()
    app_id = sc.applicationId
    stop_start = time.perf_counter()
    _stop_spark(spark)
    stop_s = time.perf_counter() - stop_start

    from perfbench.layers import stream_stats, tail

    attempted = len(runs)
    failed = sum(1 for r in runs if "error" in r) + len(bad_checks)
    walls = [p["wall_s"] for p in warm]
    warm_idx = {p["index"] for p in warm}
    query_ms = [1000 * (r["build_s"] + r["exec_s"]) for r in runs
                if r["pass"] in warm_idx and "error" not in r]
    q_tail = tail(query_ms)
    end_to_end = {
        "setup_s": setup_s,
        "cold_pass_s": cold["wall_s"],
        "pass_s": statistics.median(walls),
        "cpu_s": statistics.median(p["cpu_s"] for p in warm),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": float(args.sf),
        "cores": cores,
        "trace": args.trace,
        **end_to_end,
        "peak_rss_mb": peak_rss,
        "warm_passes": len(warm),
        "warm_pass_s": walls,
        "pass_tail": tail(walls),
        "failed_frac": failed / attempted,
        "query_p50_ms": statistics.median(query_ms) if query_ms else None,
        "query_tail": q_tail,
        "query_samples": len(query_ms),
        "stream": stream_stats(listener.progress, warm_idx),
        "oracle": {r["name"]: r["status"] for r in checks},
        "phase_s": {"setup": setup_s, "cold": cold["wall_s"], "check": check_s,
                    "warm": warm_s, "stop": stop_s},
        "errors": errors,
    }

    if args.trace:
        from perfbench.eventlog import read_events, summarize
        from perfbench.layers import layer_metrics, query_records

        log_path = next(os.path.join(events_dir, f) for f in os.listdir(events_dir) if app_id in f)

        def resolve(group: str | None) -> str | None:
            if group is None:
                return None
            if "|" in group:
                return group
            label = listener.run_label.get(group)
            return None if label is None else label + "|build"

        summary = summarize(read_events(log_path), resolve)
        if os.path.isdir(log_path):
            shutil.rmtree(log_path)
        else:
            os.remove(log_path)
        metrics = layer_metrics(
            tracer.spans, summary, listener.progress,
            {p["index"]: p["wall_s"] for p in warm}, cores, get_spark_s,
        )
        last = _load_untraced(args.workload)
        report["trace_overhead_s"] = None if last is None else metrics["trace.pass_s"] - last
        dump = os.path.join(SCRATCH, "trace", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(dump), exist_ok=True)
        with open(dump, "w") as fh:
            json.dump({
                "report": report,
                "per_layer": metrics,
                "queries": query_records(tracer.spans, summary),
                "spans": [vars(s) for s in tracer.spans],
            }, fh)
        units = dict(PER_LAYER)
    else:
        metrics = end_to_end
        units = dict(END_TO_END)
        _save_untraced(args.workload, end_to_end["pass_s"])

    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


def _untraced_path(workload: str) -> str:
    return os.path.join(SCRATCH, "untraced", f"{workload}.json")


def _save_untraced(workload: str, pass_s: float) -> None:
    os.makedirs(os.path.dirname(_untraced_path(workload)), exist_ok=True)
    with open(_untraced_path(workload), "w") as fh:
        json.dump({"pass_s": pass_s}, fh)


def _load_untraced(workload: str) -> float | None:
    """``pass_s`` of the last untraced run of the workload in this checkout."""
    try:
        with open(_untraced_path(workload)) as fh:
            return json.load(fh)["pass_s"]
    except (OSError, ValueError, KeyError):
        return None


if __name__ == "__main__":
    sys.exit(main())
