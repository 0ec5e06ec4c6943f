"""Streaming execution helpers.

``run_stream_to_df`` executes a streaming DataFrame to completion with
``Trigger.AvailableNow`` (process-everything-then-stop) into a named
memory sink and returns the result as a batch DataFrame. This makes
every streaming query oracle-checkable: the same event-time logic must
produce the same result whether the input arrives as one batch or as a
replayed stream — which is exactly Structured Streaming's contract.

On a real cluster the memory sink would be a Delta/Kafka/parquet sink;
nothing else changes — the transformation graph is identical.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from beam_pyspark_runner_spark.session import scoped_conf

_sink_counter = itertools.count()


def read_parquet_stream(
    spark: SparkSession, path: str, schema: T.StructType, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a parquet path (schema must be explicit —
    streaming sources don't infer). ``maxFilesPerTrigger`` forces multi-
    batch execution so stateful operators actually exercise state."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def run_stream_to_df(
    streaming_df: DataFrame, output_mode: str = "complete", timeout_sec: int = 300
) -> DataFrame:
    """Run a streaming DataFrame to exhaustion (AvailableNow) and return
    the final memory-sink table as a batch DataFrame.

    State-store sizing: a stateful stream instantiates one state-store
    per shuffle partition, and that count is FROZEN into the checkpoint
    at stream start — so it must be sized to key cardinality and
    throughput, not inherited from the batch default. JVM-stateful
    streams default to min(4, session width): below that the per-batch
    store maintenance stops dominating on the local replay harness, and
    2 is no better than 4. Python-stateful streams
    (applyInPandasWithState) default WIDER, max(4, defaultParallelism //
    2): their per-partition cost is the per-key Python protocol (Arrow
    slice→pandas, GroupState construct, state round-trip), which
    parallelizes one Python worker per partition until store
    maintenance overtakes at about half the task slots. Production
    streams set ``spark.graft.stream.partitions`` explicitly (hundreds,
    for millions of keys). Partition count never affects results — only
    where state lives."""
    spark = streaming_df.sparkSession
    key = "spark.sql.shuffle.partitions"
    target = spark.conf.get("spark.graft.stream.partitions", "")
    if not target:
        try:
            analyzed = streaming_df._jdf.queryExecution().analyzed().toString()
            py_stateful = "FlatMapGroupsInPandasWithState" in analyzed
        except Exception:  # noqa: BLE001 — plan introspection is best-effort
            py_stateful = False
        if py_stateful:
            target = str(max(4, spark.sparkContext.defaultParallelism // 2))
        else:
            target = str(min(4, int(spark.conf.get(key))))
    name = f"stream_result_{next(_sink_counter)}"
    # the stream captures the conf at start(); restore right after so
    # concurrent/subsequent batch plans keep the session default
    with scoped_conf(spark, {key: target}):
        query = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    try:
        if not query.awaitTermination(timeout_sec):
            raise TimeoutError(f"streaming query {name} did not finish in {timeout_sec}s")
    finally:
        if query.isActive:
            query.stop()
    return streaming_df.sparkSession.table(name)
