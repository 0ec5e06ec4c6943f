"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` (single JVM); production target is a
1000-executor cluster over ~100 TB. The configs below are the ones that
matter for both: AQE on (runtime coalesce + skew-join splitting), UTC
session timezone (oracle comparability), Arrow for all Python interop,
and shuffle partitions sized to the environment rather than the 200
default.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _local_driver_mem_default() -> str:
    """Default local-mode driver heap: 8g, CLAMPED to ~half of the
    host's MemTotal (round-13 ADVICE: an unconditional -Xmx8g under 32
    task slots gets OOM-killed on sub-8-GiB hosts/CI containers instead
    of degrading). On the 128 GiB bench host this still resolves to 8g,
    so bench comparability is unchanged; override via
    ``SPARK_GRAFT_LOCAL_DRIVER_MEM`` either way."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(
                next(ln for ln in fh if ln.startswith("MemTotal")).split()[1]
            )
        half_gib = kb // (2 * 1024 * 1024)
    except (OSError, StopIteration, ValueError):
        half_gib = 8  # no /proc (non-Linux): keep the measured default
    return f"{min(8, max(1, half_gib))}g"


def get_spark(
    app_name: str = "beam_pyspark_runner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    Respects ``SPARK_GRAFT_CPUS`` for local parallelism. On a real
    cluster, pass ``master=None`` with externally-provided deploy config;
    everything here is safe cluster-side too (AQE, Arrow, UTC).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    local_mode = master is None
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Python workers deserialize UDF closures that reference this
    # package, so the repo root must be importable in THEIR interpreter,
    # not just the driver's. When the driver happens to run from the
    # repo root, cwd-on-sys.path hides the issue; from any other cwd the
    # workers die with ModuleNotFoundError. Exporting PYTHONPATH before
    # the JVM forks the first worker makes sessions cwd-independent (a
    # real cluster ships the package via --py-files / pip instead).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + py_path if py_path else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching. At 100 TB this is what turns a
        # static 32-partition plan into a right-sized one.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor. With parallelismFirst (default true) the
        # coalesce target is max(shuffleBytes/defaultParallelism,
        # minPartitionSize), so the 1 MiB default floor is what decides
        # partition counts for SMALL shuffles — and it over-coalesces
        # them: a ~3 MiB compact shuffle feeding a compute-heavy stage
        # (pair explode, per-doc array sorts) ran on 3-7 of 32 slots.
        # Measured round 13 (interleaved A/B, min-of-5): pagerank 2.25 →
        # 1.62 s, ppjoin 1.63 → 1.34, kmeans 0.74 → 0.57, q18 0.76 →
        # 0.57; no query regressed. The knob is inert for large
        # shuffles (bytes/parallelism dominates the max at cluster
        # scale), so production plans are unchanged; override via env
        # if a deployment prefers the stock floor.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Let the planner pick shuffled-hash join when its size gates
        # hold (opt guide §3.1/§9): same shuffle, no per-partition sort
        # of either side. The build side is bounded by the planner's
        # canBuildLocalHashMap gate (stats under threshold×partitions)
        # and AQE's skew splitting keeps partitions sane, so the OOM
        # risk the sort-merge default guards against is already fenced.
        # Join strategy never changes results — plan-only.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every Python<->JVM crossing (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python UDTFs too: ArrowEvalPythonUDTF replaces row-pickled
        # BatchEvalPythonUDTF — the last row-at-a-time Python crossing.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # Parquet scans: pushdown + pruning are on by default; keep
        # vectorized reader explicit since operators rely on it.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # The events fixture stores TIMESTAMP(NANOS), which Spark's
        # microsecond timestamp type refuses; read nanos as long once,
        # session-wide (sources/readers.py converts to TimestampType).
        # Set here, not per-read: flipping session conf inside a reader
        # would silently change every later parquet read's TIMESTAMP(NANOS)
        # interpretation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if local_mode:
        # In local[N] the ONE JVM is driver + all N task slots, but
        # spark.driver.memory defaults to 1g — 32 concurrent tasks
        # (broadcast builds, window buffers, per-doc arrays) churn a
        # 1 GiB G1 heap hard. Measured (JMX GC beans, round 13): the
        # heaviest bench queries paid ~100-125 ms GC per run at 1g vs
        # 25-70 ms at 8g. Applied ONLY when this factory constructs a
        # local master (a cluster deploy sizes executors externally and
        # an already-running JVM ignores it); override via env for
        # smaller hosts.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DRIVER_MEM", _local_driver_mem_default()
            ),
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def drain_listener_bus(spark: SparkSession) -> None:
    """Block until the async listener bus has processed all posted events.

    Queries that create session-shared temp views and drop them on the
    way out race the ``ExecutionListenerBus``: listeners (e.g. the
    observation manager) may re-analyze a finished query's plan AFTER
    the views it referenced are dropped, logging a spurious
    ``TABLE_OR_VIEW_NOT_FOUND`` ERROR. Draining the bus between the
    last action and the drop removes the race. Driver-side wait only —
    no job, no data movement; the private-but-stable ``waitUntilEmpty``
    is guarded so a future Spark rename degrades to a no-op instead of
    breaking queries."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        pass


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set session ``conf`` for the body, then restore every key to its
    previous value — a key that was unset goes back through
    ``conf.unset``. The sets run inside the ``try``, so a failure part
    way through still restores what was already changed. Session conf
    is global: anything else running on the session meanwhile sees the
    scoped values too."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
