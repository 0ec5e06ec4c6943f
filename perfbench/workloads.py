"""Workloads and metric definitions shared by the runner and its tests."""

from __future__ import annotations

# Registry query names per workload. The seed sets only their order in
# each pass. BENCHMARK.json lists corpus_pipeline and stream_replay: with
# tpch_sql as well, the 70 runs it implies do not fit the benchmark's
# time budget when the host runs slow (README.md). tpch_sql runs by hand.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # Scan, shuffle, broadcast and AQE work plus the fixed driver cost per
    # query; no Python, no state, no loops: the control for those layers.
    "tpch_sql": (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "q9_product_profit",
        "q10_returned_items",
        "q18_large_orders",
        "join_inner",
        "top_k_per_group",
        "global_rank_bucketed",
    ),
    # The Beam surface (Arrow ParDo, fan-out persist, side inputs,
    # Flatten), the Python boundary (pandas UDF, applyInPandas, per-row
    # fns), a text sink, and fixpoint loops pinned by checkpoint_audited.
    "corpus_pipeline": (
        "pipeline_wordcount",
        "pipeline_partition_branches",
        "pardo_exception_dead_letter",
        "text_sink_roundtrip",
        "sideinput_dict_enrich",
        "pandas_udf_density_score",
        "grouped_pandas_minmax",
        "minhash_lsh_candidates",
        "bfs_shortest_hops",
        "dedup_components",
    ),
    # Replayed micro-batch streams: state store, micro-batch scheduling,
    # the Python-stateful protocol and a foreachBatch sink; AQE is off.
    "stream_replay": (
        "stream_tumbling_agg",
        "stream_session_timeout_state",
        "stream_dedup_within_watermark",
        "stream_foreach_batch_sink",
    ),
}

# (name, unit) of the metrics printed with --trace 0. Peak RSS is in the
# report line only: the JVM heap's growth makes it vary by a third from
# run to run.
END_TO_END: tuple[tuple[str, str], ...] = (
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("pass_s", "s"),
    ("cpu_s", "core-s"),
)

# (name, unit) of the metrics printed with --trace 1: per warm pass,
# except session.get_spark_s, which is paid once per run.
PER_LAYER: tuple[tuple[str, str], ...] = (
    ("session.get_spark_s", "s"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("queries.exec_s", "s"),
    ("queries.exec_jobs", "count"),
    ("plans.audit.calls", "count"),
    ("plans.audit.s", "s"),
    ("plans.audit.checkpoint_s", "s"),
    ("plans.dag.lower_s", "s"),
    ("plans.dag.persists", "count"),
    ("sources.load_table_calls", "count"),
    ("sources.load_table_s", "s"),
    ("sources.scan_s", "s"),
    ("sources.bytes_read", "bytes"),
    ("sources.rows_read", "count"),
    ("sources.write_s", "s"),
    ("sources.bytes_written", "bytes"),
    ("streaming.run_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("streaming.state_bytes", "bytes"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.state_instances", "count"),
    ("streaming.rows_per_s", "rows/s"),
    ("streaming.batch_p50_ms", "ms"),
    ("streaming.batch_max_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.stages_skipped", "count"),
    ("spark.tasks", "count"),
    ("spark.driver_gap_s", "s"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "core-s"),
    ("spark.task_wait_frac", "ratio"),
    ("spark.slot_busy_frac", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("spark.broadcast_build_s", "s"),
    ("spark.python_s", "s"),
    ("spark.python_bytes_sent", "bytes"),
    ("spark.python_bytes_returned", "bytes"),
    ("trace.pass_s", "s"),
)
