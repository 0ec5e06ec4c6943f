"""IO-surface and pipeline-surface queries: file-format round-trips, text
sinks, side-input views, multi-output Partition, and Reshuffle — each as a
driver-checkable query with a DuckDB oracle.

The reference engine's whole IO surface is ``ReadFromText``
(``/root/reference/beam_pyspark_runner/transform_evaluators.py:22-26``)
plus whatever sink a DoFn hand-writes; its side-input views collect to
the driver and re-broadcast (``transform_evaluators.py:34-48``,
``pyspark_runner.py:86-90``); its multi-output story is the Partition
composite (which it mis-executes — SURVEY.md §2.5 bug #4). Here each of
those capabilities runs distributed end-to-end and is verified against
SQL over the original parquet, so the round-trip itself (write format →
read format → aggregate) is what the oracle proves lossless.

Scale notes: every writer/reader here is a distributed Spark job (one
task per partition, no driver funnel); the round-trip through
``tempfile.gettempdir()`` is a test-fixture concern only — at 100 TB the
same code points at object-store paths. Side-input ``as_dict``/
``as_singleton`` intentionally reproduce the reference's driver-collect
semantics and are only for side inputs that fit the driver by contract;
the scalable twin (``broadcast_join``) is exercised by the join family.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beam_pyspark_runner_spark.functions.numeric import davg_sql, dsum, dsum_sql
from beam_pyspark_runner_spark.plans.audit import checkpoint_audited
from beam_pyspark_runner_spark.queries.registry import register
from beam_pyspark_runner_spark.session import scoped_conf
from beam_pyspark_runner_spark.sources import readers, writers
from beam_pyspark_runner_spark.sources.synthetic import synth_rows_oracle_sql
from beam_pyspark_runner_spark.sources.readers import load_table


def _staged(sf_dir: str, kind: str) -> str:
    """Per-(query, sf) scratch dir; rewritten on every call so the round
    trip always exercises the current writer, never a stale artifact."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"bprs_io_{kind}_{tag}")


@register(
    "text_sink_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           MIN(s_name) AS first_name,
           MAX(s_name) AS last_name
    FROM supplier
    """,
    tags=("io", "text", "sink", "read_from_text", "pipeline_api"),
)
def text_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WriteToText → ReadFromText round trip through the Pipeline API
    (reference source: transform_evaluators.py:22-26; the reference has
    no text sink at all — DoFns shell out). One line per element on
    write, one element per line on read; the oracle proves no line was
    lost, reordered into loss, or mangled."""
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    staged = _staged(sf_dir, "text")
    p = Pipeline(spark)
    p.from_df(load_table(spark, sf_dir, "supplier").select("s_name")).write_text(staged)
    lines = readers.read_text(spark, staged)
    return lines.agg(
        F.count("*").alias("n_lines"),
        F.min("value").alias("first_name"),
        F.max("value").alias("last_name"),
    )


@register(
    "csv_roundtrip",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           {dsum_sql("c_acctbal")} AS total_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("io", "csv", "sink", "source"),
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write → CSV read (explicit schema, no inference job) →
    aggregate. Doubles survive because Spark's CSV writer emits
    shortest-round-trip decimal strings; the oracle aggregates the
    original parquet, so any quoting/precision loss in the round trip
    flips the value hash."""
    staged = _staged(sf_dir, "csv")
    writers.write_csv(load_table(spark, sf_dir, "customer"), staged)
    back = readers.read_csv(
        spark,
        staged,
        schema="c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        dsum("c_acctbal").alias("total_acctbal"),
    )


@register(
    "json_roundtrip",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {dsum_sql("o_totalprice")} AS total_price,
           MAX(o_orderdate) AS latest_order
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("io", "json", "sink", "source"),
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write → schema'd read (by field name, so column order
    is free) → aggregate, timestamps included (UTC session pins the
    format both ways). Explicit schema keeps the read single-pass —
    inference would scan the data twice, unacceptable at scale."""
    staged = _staged(sf_dir, "json")
    writers.write_json(load_table(spark, sf_dir, "orders"), staged)
    back = readers.read_json(
        spark,
        staged,
        schema="o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
        F.max("o_orderdate").alias("latest_order"),
    )


@register(
    "orc_roundtrip",
    oracle=f"""
    SELECT p_brand,
           COUNT(*) AS n_parts,
           {davg_sql("p_retailprice")} AS avg_retail
    FROM part WHERE p_size BETWEEN 10 AND 30
    GROUP BY p_brand
    """,
    tags=("io", "orc", "sink", "source", "pushdown"),
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → ORC read → filtered aggregate. The size predicate is
    applied AFTER the ORC scan so it pushes into ORC's stripe statistics
    (same pushdown contract the parquet queries pin in
    tests/test_scale_patterns.py, on the second format)."""
    staged = _staged(sf_dir, "orc")
    writers.write_orc(load_table(spark, sf_dir, "part"), staged)
    back = readers.read_orc(spark, staged)
    return (
        back.filter(F.col("p_size").between(10, 30))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            (dsum("p_retailprice") / F.count("p_retailprice").cast("double")).alias(
                "avg_retail"
            ),
        )
    )


@register(
    "sideinput_singleton_threshold",
    oracle=f"""
    WITH t AS (SELECT {davg_sql("o_totalprice")} * 1.5 AS thr FROM orders)
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {dsum_sql("o_totalprice")} AS total_price
    FROM orders, t WHERE o_totalprice > t.thr
    GROUP BY o_orderpriority
    """,
    tags=("side_input", "as_singleton", "pipeline_api"),
)
def sideinput_singleton_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AsSingleton side input (reference transform_evaluators.py:39-40):
    a 1-row aggregate collected to the driver and re-injected as a
    filter threshold — exactly the reference's collect-then-broadcast
    path. The threshold uses decimal-deterministic avg so both engines
    compute the bit-identical double and rows at the boundary cannot
    flip. Driver round-trip is for 1 row by contract; a data-sized side
    input belongs in broadcast_join instead."""
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline
    from beam_pyspark_runner_spark.functions.numeric import davg

    p = Pipeline(spark)
    orders = load_table(spark, sf_dir, "orders")
    thr = p.from_df(orders.agg((davg("o_totalprice") * F.lit(1.5)).alias("thr"))).as_singleton()
    return (
        p.from_df(orders)
        .filter(F.col("o_totalprice") > F.lit(thr))
        .to_df()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "sideinput_dict_enrich",
    oracle=f"""
    SELECT n_name AS nation_name,
           COUNT(*) AS n_suppliers,
           {dsum_sql("s_acctbal")} AS total_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("side_input", "as_dict", "pipeline_api"),
)
def sideinput_dict_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AsDict side input (reference transform_evaluators.py:43-46): the
    nation table collected to a driver dict, re-shipped as a MapType
    literal, and applied as an O(1) per-row lookup — the reference's
    broadcast-dict DoFn pattern with the lookup kept JVM-side (no Python
    in the hot path). Correct only while the dict fits the driver (25
    nations); the data-scale form is broadcast_join, oracle'd by the
    join family."""
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    p = Pipeline(spark)
    nation_map = p.from_df(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ).as_dict()
    lookup = F.create_map(
        *[F.lit(x) for k in sorted(nation_map) for x in (k, nation_map[k])]
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .withColumn("nation_name", lookup[F.col("s_nationkey")])
        .groupBy("nation_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            dsum("s_acctbal").alias("total_acctbal"),
        )
    )


@register(
    "pipeline_partition_branches",
    oracle=f"""
    SELECT CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 150000 THEN 'mid'
                ELSE 'rest' END AS bucket,
           COUNT(*) AS n_orders,
           {dsum_sql("o_totalprice")} AS total_price
    FROM orders GROUP BY 1
    """,
    tags=("pipeline_api", "partition", "multi_output", "flatten"),
)
def pipeline_partition_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-output Partition (reference composite; mis-executed there —
    SURVEY.md §2.5 bug #4, fixed in operators/pipeline.py:295): one
    shared scan fans out into first-match-wins branches plus a
    remainder, each branch aggregates, Flatten unions them back. The
    per-branch groupBy on a label yields zero rows for an empty branch,
    matching SQL GROUP BY semantics."""
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    p = Pipeline(spark)
    orders = p.from_df(
        load_table(spark, sf_dir, "orders").select("o_totalprice")
    )
    high, mid, rest = orders.partition(
        F.col("o_totalprice") >= 300000, F.col("o_totalprice") >= 150000
    )
    branches = [
        b.to_df()
        .groupBy(F.lit(label).alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        for b, label in ((high, "high"), (mid, "mid"), (rest, "rest"))
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


@register(
    "reshuffle_spread_agg",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           {dsum_sql("l_quantity")} AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("pipeline_api", "reshuffle", "combine_per_key"),
)
def reshuffle_spread_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshuffle (Beam's redistribute-for-parallelism): round-robin
    repartition via sources.readers.spread, then aggregate. The result
    is partitioning-invariant because the sum accumulates in exact
    decimal — the oracle would catch any order-dependent drift a plain
    double sum would introduce."""
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    p = Pipeline(spark)
    return (
        p.from_df(load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity"))
        .reshuffle()
        .to_df()
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_quantity").alias("total_qty"),
        )
    )


@register(
    "merge_upsert_orders",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
        FROM orders WHERE o_totalprice > 400000
        UNION ALL
        SELECT o_orderkey + 10000000, 'N', o_totalprice
        FROM orders WHERE o_orderkey % 1000 = 0
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM updates
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    """,
    tags=("merge", "upsert", "anti_join", "flatten"),
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert (operators/merge.py): a derived delta — price-bumped
    updates for big orders plus synthetic new-key inserts — merged into
    the orders base. The full merged row set is the query output, so the
    oracle checks every survivor/replacement/insert decision, not an
    aggregate of them. The delta here is a CORPUS FRACTION
    (price-bumped big orders), so the broadcast decision is left to the
    size-gated planner/AQE — a true daily-increment merge with a
    known-small delta would pass broadcast_updates=True."""
    from beam_pyspark_runner_spark.operators.merge import merge_upsert

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        base.filter(F.col("o_totalprice") > 400000)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 1000 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    return merge_upsert(base, updates, ["o_orderkey"])


@register(
    "partitioned_write_prune",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {dsum_sql("o_totalprice")} AS total_price
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    tags=("io", "sink", "partitioned_write", "partition_pruning", "pushdown"),
)
def partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write → pruned read: orders land as
    o_orderstatus=X/ directories, and the status filter on the read side
    becomes a PartitionFilter — non-matching directories are never
    LISTED, let alone read (plan pinned in tests/test_scale_patterns.py).
    At 100 TB, partition-on-predicate-column is the difference between
    scanning a shard and scanning the lake; the oracle confirms the
    round trip through directory encoding loses no rows or values."""
    staged = _staged(sf_dir, "partq")
    (
        load_table(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(staged)
    )
    back = spark.read.parquet(staged)
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "zorder_key",
    oracle="""
    WITH c AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS price_cell,
               o_custkey % 256 AS cust_cell
        FROM orders
    )
    SELECT o_orderkey, price_cell, cust_cell,
           CAST(list_sum(list_transform(range(0, 16),
                i -> (((price_cell >> i) & 1) << (2 * i))
                   + (((cust_cell >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
    FROM c
    """,
    tags=("io", "data_layout", "zorder", "higher_order_fns"),
)
def zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: bit-interleave two bucketized
    dimensions into one sort key. Writing a 100 TB table sorted by z
    co-locates rows that are close in BOTH dimensions into the same
    parquet files, so min/max footer stats prune scans for predicates on
    either column — the standard multi-dimensional layout trick
    (Delta/Iceberg OPTIMIZE ZORDER) built here from integer bit ops that
    stay in whole-stage codegen. Narrow map-only plan; the downstream
    `repartitionByRange(z).sortWithinPartitions(z)` write is exercised by
    partitioned_write_prune."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") / 25000.0).cast("long").alias("price_cell"),
        (F.col("o_custkey") % 256).alias("cust_cell"),
    )
    z = F.expr(
        """
        aggregate(sequence(0, 15), 0L, (acc, i) -> acc
            + shiftleft(shiftright(price_cell, i) & 1, 2 * i)
            + shiftleft(shiftright(cust_cell, i) & 1, 2 * i + 1))
        """
    )
    return c.select("o_orderkey", "price_cell", "cust_cell", z.alias("z"))


_SYNTH_ROWS = 50_000


@register(
    "python_datasource_scan",
    oracle=f"""
    WITH synth AS ({synth_rows_oracle_sql(_SYNTH_ROWS)})
    SELECT bucket,
           COUNT(*) AS n_rows,
           {dsum_sql('v')} AS total_v
    FROM synth GROUP BY bucket
    """,
    tags=("io", "source", "python_datasource", "custom_connector"),
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A custom split-parallel connector via the Spark 4 Python
    DataSource API (sources/synthetic.py): the source enumerates its own
    partitions, each executor reads only its split (no driver-side data
    path), and the scan aggregates like any relation. The DuckDB oracle
    regenerates the identical table from range() — proving the custom
    connector reads exactly what it claims, row for row."""
    from beam_pyspark_runner_spark.sources.synthetic import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    synth = (
        spark.read.format("synthetic_rows")
        .option("rows", str(_SYNTH_ROWS))
        .option("parts", "32")
        .load()
    )
    return synth.groupBy("bucket").agg(
        F.count("*").alias("n_rows"), dsum("v").alias("total_v")
    )


_SYNTH_STREAM_ROWS = 20_000


@register(
    "python_stream_source_agg",
    oracle=f"""
    WITH synth AS ({synth_rows_oracle_sql(_SYNTH_STREAM_ROWS)})
    SELECT bucket,
           COUNT(*) AS n_rows,
           {dsum_sql('v')} AS total_v
    FROM synth GROUP BY bucket
    """,
    tags=("io", "source", "python_datasource", "custom_connector", "streaming"),
)
def python_stream_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A custom STREAMING connector via the Spark 4 Python DataSource
    API (sources/synthetic.py:SyntheticStreamReader): the partition-
    parallel `DataSourceStreamReader` form — the driver serves only
    offsets and split boundaries, every `read(split)` runs on an
    executor, and offset-range replay makes checkpoint recovery exact.
    The stream drains under Trigger.AvailableNow into a grouped
    aggregation; the DuckDB oracle regenerates the identical rows from
    range(), proving the streamed bytes equal the claimed generator
    output row for row."""
    from beam_pyspark_runner_spark.sources.synthetic import (
        register_synthetic_source,
    )
    from beam_pyspark_runner_spark.streaming.runner import run_stream_to_df

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("synthetic_stream")
        .option("rows", str(_SYNTH_STREAM_ROWS))
        .option("chunk", "2048")
        .load()
    )
    agg = stream.groupBy("bucket").agg(
        F.count("*").alias("n_rows"), dsum("v").alias("total_v")
    )
    return run_stream_to_df(agg, output_mode="complete")


@register(
    "python_datasource_sink",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
    tags=("io", "connector", "python_datasource", "sink", "two_phase_commit"),
)
def python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of the Spark 4 Python DataSource API (the round-4
    scan's twin): a custom sink whose executors stage uniquely-named
    JSONL shards and whose driver commit renames them + writes a
    _MANIFEST — the two-phase task-commit protocol that makes retried/
    speculative tasks harmless (losers stay in staging, readers only
    trust the manifest). The query pushes a filtered events projection
    through the sink, re-reads ONLY manifest-listed shards, and must
    reproduce the direct aggregate — proving the sink neither lost,
    duplicated, nor torn any task's rows. Doubles round-trip exactly
    (repr-shortest JSON floats)."""
    import json

    from beam_pyspark_runner_spark.sources.synthetic import (
        HAVE_PYTHON_DATASOURCE,
        JsonShardSinkDataSource,
    )

    if not HAVE_PYTHON_DATASOURCE:  # pragma: no cover
        raise NotImplementedError("Python DataSource API requires Spark >= 4")
    spark.dataSource.register(JsonShardSinkDataSource)

    import uuid

    from beam_pyspark_runner_spark.queries.streaming import _scratch_dir

    # Per-run nonce + stale-sibling sweep (the stream_cdc_upsert
    # discipline, same single-run-per-sf_dir caveat documented there).
    out = _scratch_dir("bprs_pysink", sf_dir, uuid.uuid4().hex[:8])
    os.makedirs(out, exist_ok=True)

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "event_type", "value")
    )
    e.write.format("jsonl_shards").option("path", out).mode("append").save()

    with open(os.path.join(out, "_MANIFEST")) as f:
        manifest = json.load(f)
    shards = [os.path.join(out, m["file"]) for m in manifest]
    back = spark.read.schema("event_id bigint, event_type string, value double").json(
        shards
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"), dsum("value").alias("total_value")
    )


@register(
    "parquet_codec_roundtrip",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {dsum_sql('l_extendedprice')} AS total_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("io", "parquet", "compression", "zstd", "storage_tuning"),
)
def parquet_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-codec tuning: the same projection written twice — snappy
    (Spark's default: fastest decode) and zstd (20–40% smaller at
    comparable scan speed, the usual pick for 100 TB cold data) — then
    the zstd copy is read back and aggregated against the direct
    oracle: recompression is lossless and both files stay
    plan-compatible (pushdown/pruning are codec-independent in the
    parquet reader). The codec is a per-write option, so a tiered
    layout (hot=snappy, cold=zstd) needs no reader-side change; the
    on-disk byte sizes of both copies are exposed in the Spark UI /
    file sizes, not in the hashable result."""
    import uuid

    from beam_pyspark_runner_spark.queries.streaming import _scratch_dir

    # per-run nonce + sweep: see python_datasource_sink
    base = _scratch_dir("bprs_codec", sf_dir, uuid.uuid4().hex[:8])
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    for codec in ("snappy", "zstd"):
        li.write.mode("overwrite").option("compression", codec).parquet(
            os.path.join(base, codec)
        )
    back = spark.read.parquet(os.path.join(base, "zstd"))
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        dsum("l_extendedprice").alias("total_price"),
    )


@register(
    "incremental_daily_close",
    oracle=f"""
    WITH agg AS (
        SELECT event_type, COUNT(*) AS n_events,
               {dsum_sql('value')} AS total_value
        FROM events GROUP BY event_type
    ),
    delta AS (SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-24'),
    redelivered AS (
        SELECT * FROM events
        WHERE ts < TIMESTAMP '2024-01-24' AND event_id % 37 = 0
    )
    SELECT a.event_type, a.n_events, a.total_value,
           (SELECT COUNT(*) FROM delta) + (SELECT COUNT(*) FROM redelivered)
               AS batch_rows,
           (SELECT COUNT(*) FROM redelivered) AS dropped_redelivered
    FROM agg a
    """,
    tags=("io", "incremental", "capstone", "idempotent_ingest", "dedup"),
)
def incremental_daily_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-close capstone: one incremental batch absorbed into
    running aggregates IDEMPOTENTLY — the composition a 100 TB
    warehouse runs every day, stitched from this repo's parts:

      1. split history (state) vs today's batch on the partition
         predicate (both scans pruned — incremental_agg_merge);
      2. the batch arrives with REDELIVERED rows (at-least-once
         delivery upstream: a slice of history re-appended, synthesized
         here deterministically) — drop them with an event_id anti-join
         against history, shuffling only ids (incremental_dedup_delta);
      3. merge the surviving batch's partial aggregate into history's
         (count + exact-decimal sum are mergeable state);
      4. emit per-group totals plus the ingest audit trail (batch rows
         seen, redeliveries dropped — the dq_contract habit).

    The oracle is the FULL-TABLE aggregate: merge(state, dedup(batch))
    must equal recompute(everything) — exactly-once semantics proven by
    value hash, not asserted. History is never rescanned beyond its
    existing aggregate state; the batch pays one anti-join keyed on
    event_id and one partial agg."""
    cutoff = F.lit("2024-01-24").cast("timestamp")
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    hist = e.filter(F.col("ts") < cutoff)
    today = e.filter(F.col("ts") >= cutoff)
    # at-least-once upstream: a deterministic slice of history arrives again
    redelivered = hist.filter(F.col("event_id") % 37 == 0)
    batch = today.unionByName(redelivered)

    admitted = batch.join(
        hist.select("event_id"), "event_id", "left_anti"
    )

    def _state(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)")).alias("sum_state"),
        )

    merged = (
        _state(hist).unionByName(_state(admitted))
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_state").cast("decimal(38,2)").cast("double")
            .alias("total_value"),
        )
    )
    audit = batch.agg(F.count("*").alias("batch_rows")).crossJoin(
        F.broadcast(redelivered.agg(F.count("*").alias("dropped_redelivered")))
    )
    return merged.crossJoin(F.broadcast(audit))


@register(
    "csv_permissive_recovery",
    oracle="""
    SELECT COUNT(*) FILTER (WHERE doc_id % 11 <> 0) AS n_good,
           COUNT(*) FILTER (WHERE doc_id % 11 = 0) AS n_corrupt,
           CAST(SUM(n_chars) FILTER (WHERE doc_id % 11 <> 0) AS BIGINT)
               AS good_chars
    FROM documents
    """,
    tags=("io", "csv", "permissive", "corrupt_record", "ingestion_robustness"),
)
def csv_permissive_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingestion with corrupt-record capture — the
    production answer to feeds that are 1% garbage: schema-violating
    rows (here every 11th, its id deterministically mangled to a
    non-integer) land in ``_corrupt_record`` instead of failing the
    job or silently nulling (DROPMALFORMED would hide the loss;
    FAILFAST would lose the 99%). The query writes the dirty feed,
    reads it back permissively, and reports good/corrupt counts plus
    a good-rows aggregate — the recovery accounting a DLQ consumer
    reconciles against (dead_letter_split is the post-parse sibling;
    this is parse-time). Corrupt rows cost no second pass: the parser
    flags them inline."""
    import uuid

    from beam_pyspark_runner_spark.queries.streaming import _scratch_dir

    staged = _scratch_dir("bprs_badcsv", sf_dir, uuid.uuid4().hex[:8])
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    lines = d.select(
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat_ws(
                ",",
                F.concat(F.lit("x"), F.col("doc_id")),  # unparseable bigint
                F.col("source"),
                F.col("n_chars"),
            ),
        )
        .otherwise(
            F.concat_ws(",", F.col("doc_id"), F.col("source"), F.col("n_chars"))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(staged)
    back = (
        spark.read.schema(
            "doc_id bigint, source string, n_chars bigint, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(staged)
    )
    # Column-pruning trap, pinned here on purpose: the CSV parser only
    # parses REFERENCED columns, so a plan that never reads doc_id never
    # fails on 'x<id>' and _corrupt_record stays NULL. Referencing the
    # malformed column (count(doc_id)) forces the parse; without it this
    # query returns 0 corrupt — silently.
    bad = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count("doc_id").alias("n_good"),
        F.count(F.when(bad, 1)).alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("n_chars"))).cast("long").alias("good_chars"),
    )


@register(
    "schema_evolution_merge",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS BIGINT)
               AS n_with_price,
           CAST(COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT)
               AS n_with_date,
           {dsum_sql("CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END")}
               AS total_price_v1,
           MAX(CASE WHEN o_orderkey % 2 = 1 THEN o_orderdate END)
               AS latest_date_v2
    FROM orders
    """,
    tags=("io", "schema_evolution", "merge_schema", "parquet"),
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift at ingest: two parquet batches written by DIFFERENT
    producer versions — v1 ships (key, price), v2 ships (key, date) —
    read back as ONE table via mergeSchema, each row null-filled for
    the columns its producer didn't know about. This is the
    weekly-reality of long-lived landing zones; the aggregate proves
    no rows were dropped and every column survived with its values
    intact (the oracle recomputes from the unsplit source).

    Scale note: mergeSchema reconciles footers at planning time —
    cost scales with file count, not data; production pins the merged
    schema in a catalog after the first reconciliation rather than
    re-merging per read. Column pruning and pushdown still apply per
    file: a filter on a v2-only column prunes v1 files entirely
    (AND rewrites to IS NULL semantics)."""
    staged = _staged(sf_dir, "evolve")
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderdate"
    )
    v1.write.mode("overwrite").parquet(staged + "/v1")
    v2.write.mode("overwrite").parquet(staged + "/v2")
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(staged + "/v1", staged + "/v2")
    )
    return merged.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count("o_totalprice").cast("long").alias("n_with_price"),
        F.count("o_orderdate").cast("long").alias("n_with_date"),
        dsum(F.col("o_totalprice")).alias("total_price_v1"),
        F.max("o_orderdate").alias("latest_date_v2"),
    )


@register(
    "pardo_exception_dead_letter",
    oracle="""
    SELECT CAST(COUNT(CASE WHEN o_orderkey % 97 <> 0 THEN 1 END) AS BIGINT)
               AS n_ok,
           CAST(COUNT(CASE WHEN o_orderkey % 97 = 0 THEN 1 END) AS BIGINT)
               AS n_dead_letter,
           CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
                         THEN 1000 // (o_orderkey % 97) END) AS BIGINT)
               AS sum_ok_value
    FROM orders
    """,
    tags=("pipeline_api", "pardo", "exception_handling", "dead_letter"),
)
def pardo_exception_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam's ``ParDo.with_exception_handling()`` through the pipeline
    API: an arbitrary Python element fn whose failures (here a
    deterministic ZeroDivisionError on keys ≡ 0 mod 97) are routed to a
    dead-letter output instead of killing the job — the error-tolerant
    ingestion contract for Python UDFs where no declarative ``try_``
    builtin exists. One Arrow-batched pass tags elements; ok and
    dead-letter branches are filters over the shared fan-out. The
    aggregate proves the partition is exact: every input row lands in
    exactly one output, and the ok-side values are untouched."""
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    p = Pipeline(spark)
    src = p.from_df(
        load_table(spark, sf_dir, "orders").select("o_orderkey")
    )
    ok, err = src.map_rows_with_exception_handling(
        lambda row: (row[0], 1000 // (row[0] % 97)),
        schema="o_orderkey bigint, inv bigint",
    )
    ok_agg = ok.to_df().agg(
        F.count("*").cast("long").alias("n_ok"),
        F.sum("inv").cast("long").alias("sum_ok_value"),
    )
    err_agg = err.to_df().agg(F.count("*").cast("long").alias("n_dead_letter"))
    return ok_agg.crossJoin(err_agg).select(
        "n_ok", "n_dead_letter", "sum_ok_value"
    )


# --- rendezvous-hash shard rebalance (round 7) ---
RV_SHARDS = 8  # shard count before the scale-out


@register(
    "rendezvous_shard_rebalance",
    oracle=f"""
    WITH scored AS (
        SELECT d.doc_id, s.range AS shard,
               (('0x' || substr(md5('rv-' || d.doc_id || '-' || s.range),
                               1, 8))::BIGINT) AS h
        FROM documents d, range(0, {RV_SHARDS + 1}) s
    ),
    assigned AS (
        SELECT doc_id,
               MAX(CASE WHEN shard < {RV_SHARDS} THEN {{'h': h, 's': shard}} END).s
                   AS old_shard,
               MAX({{'h': h, 's': shard}}).s AS new_shard
        FROM scored GROUP BY doc_id
    ),
    tot AS (SELECT COUNT(*) AS n FROM assigned)
    SELECT CAST(a.old_shard AS BIGINT) AS old_shard,
           CAST(a.new_shard AS BIGINT) AS new_shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS DOUBLE) / CAST(tot.n AS DOUBLE) AS frac
    FROM assigned a, tot
    GROUP BY a.old_shard, a.new_shard, tot.n
    """,
    tags=("data_layout", "consistent_hashing", "rendezvous", "rebalance",
          "storage_ops"),
)
def rendezvous_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENDEZVOUS (highest-random-weight) consistent hashing, certified
    by its defining property: each doc goes to argmax_s h(doc, s), and
    when a {RV_SHARDS + 1}th shard joins, the ONLY docs that move are
    those whose new shard wins their argmax — an expected 1/{RV_SHARDS + 1}
    of the corpus, every other row's assignment provably unchanged
    (modulo hashing, `hash(key) % N`, would remap ~all rows — the
    difference between a cache stampede and a quiet scale-out). The
    emitted movement matrix is near-diagonal with one thin column into
    shard {RV_SHARDS}. Both assignments ride ONE corpus pass: the
    argmax over the old shard set and over the full set come from the
    same exploded scores via conditional MAX of (hash, shard) structs
    — lexicographic, so ties (md5-improbable) break identically in
    both engines. Scale: a constant x{RV_SHARDS + 1} in-row fan-out,
    map-side partial MAX per doc, one doc-keyed shuffle, then a
    |shards|²-bounded matrix agg."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    scored = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(RV_SHARDS))
        ).alias("shard"),
    ).select(
        "doc_id",
        "shard",
        h32(
            F.concat_ws(
                "-", F.lit("rv"), F.col("doc_id").cast("string"),
                F.col("shard").cast("string"),
            )
        ).alias("h"),
    )
    assigned = scored.groupBy("doc_id").agg(
        F.max(
            F.when(
                F.col("shard") < RV_SHARDS, F.struct("h", "shard")
            )
        )["shard"].alias("old_shard"),
        F.max(F.struct("h", "shard"))["shard"].alias("new_shard"),
    )
    tot = assigned.agg(F.count("*").alias("n"))
    return (
        assigned.crossJoin(F.broadcast(tot))
        .groupBy(
            F.col("old_shard").cast("long").alias("old_shard"),
            F.col("new_shard").cast("long").alias("new_shard"),
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            (F.count("*").cast("double") / F.max("n").cast("double")).alias(
                "frac"
            ),
        )
    )


# --- dictionary-encoding size estimate (round 7) -----------------------------
@register(
    "dict_encoding_estimate",
    oracle="""
    WITH vals AS (
        SELECT 'source' AS col, source AS v FROM documents
        UNION ALL
        SELECT 'lang' AS col, lang AS v FROM documents
    ),
    base AS (
        SELECT col,
               CAST(COUNT(*) AS BIGINT) AS n_values,
               CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
               CAST(SUM(8 * len(v)) AS BIGINT) AS plain_bits
        FROM vals GROUP BY col
    ),
    dl AS (
        SELECT col, CAST(SUM(8 * len(v)) AS BIGINT) AS distinct_bits
        FROM (SELECT DISTINCT col, v FROM vals) GROUP BY col
    )
    SELECT b.col AS col, n_values, n_distinct, plain_bits,
           CAST(distinct_bits
                + n_values * len(bin(n_distinct - 1)) AS BIGINT) AS dict_bits,
           CAST(distinct_bits
                + n_values * len(bin(n_distinct - 1)) AS DOUBLE)
             / CAST(plain_bits AS DOUBLE) AS dict_ratio
    FROM base b JOIN dl ON b.col = dl.col
    """,
    tags=("io", "encoding", "compression_planning", "scale_pattern"),
)
def dict_encoding_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding budget per column: plain bits (8·len per
    value) vs dictionary bits (each distinct value stored once + one
    ⌈log2 ndv⌉-bit code per row — len(bin(ndv-1)), the repo's integer-
    log idiom). The write-path twin of delta_encoding_bits: parquet
    writers flip from dict to plain when the dictionary outgrows the
    page budget, and this audit predicts that flip from two cheap
    aggregates — exactly the stats a 100 TB layout planner reads off
    the column metadata before choosing encodings. Shape: one unpivoted
    scan → per-column agg, plus a distinct-value agg; both shuffle only
    (col, value) pairs."""
    d = readers.load_table(spark, sf_dir, "documents")
    vals = d.select(F.lit("source").alias("col"), F.col("source").alias("v")).unionAll(
        d.select(F.lit("lang").alias("col"), F.col("lang").alias("v"))
    )
    base = vals.groupBy("col").agg(
        F.count("*").cast("long").alias("n_values"),
        F.countDistinct("v").cast("long").alias("n_distinct"),
        F.sum(8 * F.length("v")).cast("long").alias("plain_bits"),
    )
    dl = (
        vals.distinct()
        .groupBy("col")
        .agg(F.sum(8 * F.length("v")).cast("long").alias("distinct_bits"))
        .withColumnRenamed("col", "d_col")
    )
    dict_bits = (
        F.col("distinct_bits")
        + F.col("n_values") * F.length(F.bin(F.col("n_distinct") - 1))
    ).cast("long")
    return (
        base.join(F.broadcast(dl), F.col("col") == F.col("d_col"))
        .select(
            "col",
            "n_values",
            "n_distinct",
            "plain_bits",
            dict_bits.alias("dict_bits"),
            (dict_bits.cast("double") / F.col("plain_bits").cast("double")).alias(
                "dict_ratio"
            ),
        )
    )


# --- z-order pruning audit (round 7) -----------------------------------------
ZP_FILES = 32
_ZP_INTERLEAVE_SPARK = """
    aggregate(sequence(0, 15), 0L, (acc, i) -> acc
        + shiftleft(shiftright(price_cell, i) & 1, 2 * i)
        + shiftleft(shiftright(cust_cell, i) & 1, 2 * i + 1))
"""
_ZP_INTERLEAVE_DUCK = (
    "list_reduce(list_transform(range(0, 16), i ->"
    " (((price_cell >> i) & 1) << (2 * i))"
    " + (((cust_cell >> i) & 1) << (2 * i + 1))), (a, b) -> a + b)"
)
# probe predicates shared by both engines
ZP_PRICE_LO, ZP_PRICE_HI = 20, 28
ZP_CUST_LO, ZP_CUST_HI = 64, 96


@register(
    "zorder_pruning_audit",
    oracle=f"""
    WITH cells AS (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice / 2500) AS BIGINT) AS price_cell,
               o_custkey % 256 AS cust_cell
        FROM orders
    ),
    keyed AS (
        SELECT 'linear' AS layout, price_cell, cust_cell,
               price_cell AS k1, cust_cell AS k2, o_orderkey FROM cells
        UNION ALL
        SELECT 'zorder' AS layout, price_cell, cust_cell,
               {_ZP_INTERLEAVE_DUCK} AS k1, 0 AS k2, o_orderkey FROM cells
    ),
    files AS (
        SELECT layout, price_cell, cust_cell,
               NTILE({ZP_FILES}) OVER (PARTITION BY layout
                                       ORDER BY k1, k2, o_orderkey) AS f
        FROM keyed
    ),
    stats AS (
        SELECT layout, f,
               MIN(price_cell) AS pmin, MAX(price_cell) AS pmax,
               MIN(cust_cell) AS cmin, MAX(cust_cell) AS cmax
        FROM files GROUP BY layout, f
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(COUNT(*) FILTER (WHERE pmin <= {ZP_PRICE_HI}
                                   AND pmax >= {ZP_PRICE_LO}) AS BIGINT)
               AS files_price_probe,
           CAST(COUNT(*) FILTER (WHERE cmin <= {ZP_CUST_HI}
                                   AND cmax >= {ZP_CUST_LO}) AS BIGINT)
               AS files_cust_probe,
           CAST(COUNT(*) FILTER (WHERE pmin <= {ZP_PRICE_HI}
                                   AND pmax >= {ZP_PRICE_LO}
                                   AND cmin <= {ZP_CUST_HI}
                                   AND cmax >= {ZP_CUST_LO}) AS BIGINT)
               AS files_both_probe
    FROM stats GROUP BY layout
    """,
    tags=("io", "data_layout", "zorder", "pruning", "scale_pattern"),
)
def zorder_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The missing half of zorder_key: PROVE the layout prunes. Assign
    rows to {ZP_FILES} equal-size files under two layouts — linear sort
    on price then customer, vs Morton-interleaved z-order — compute each
    file's min/max footer stats for both dimensions, and count the files
    a scan must touch under a price-only probe, a customer-only probe,
    and the conjunction. Linear wins the leading-column probe outright
    but degenerates to a full scan on the trailing column; z-order
    prunes BOTH — the number this audit prints is the scan-cost
    argument for an OPTIMIZE ZORDER rewrite of a 100 TB table. The
    equal-count ntile here stands in for the write-path
    repartitionByRange(z) exercised by partitioned_write_prune; at
    production scale the assignment comes from range bounds sampled à
    la balanced_range_bounds, not a global window sort."""
    o = readers.load_table(spark, sf_dir, "orders")
    cells = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") / 2500).cast("long").alias("price_cell"),
        (F.col("o_custkey") % 256).alias("cust_cell"),
    )
    z = F.expr(_ZP_INTERLEAVE_SPARK)
    keyed = cells.select(
        F.lit("linear").alias("layout"),
        "price_cell",
        "cust_cell",
        F.col("price_cell").alias("k1"),
        F.col("cust_cell").alias("k2"),
        "o_orderkey",
    ).unionAll(
        cells.select(
            F.lit("zorder").alias("layout"),
            "price_cell",
            "cust_cell",
            z.alias("k1"),
            F.lit(0).cast("long").alias("k2"),
            "o_orderkey",
        )
    )
    from pyspark.sql import Window as W

    files = keyed.select(
        "layout",
        "price_cell",
        "cust_cell",
        F.ntile(ZP_FILES)
        .over(W.partitionBy("layout").orderBy("k1", "k2", "o_orderkey"))
        .alias("f"),
    )
    stats = files.groupBy("layout", "f").agg(
        F.min("price_cell").alias("pmin"),
        F.max("price_cell").alias("pmax"),
        F.min("cust_cell").alias("cmin"),
        F.max("cust_cell").alias("cmax"),
    )
    price_hit = (F.col("pmin") <= ZP_PRICE_HI) & (F.col("pmax") >= ZP_PRICE_LO)
    cust_hit = (F.col("cmin") <= ZP_CUST_HI) & (F.col("cmax") >= ZP_CUST_LO)
    return stats.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum(F.when(price_hit, 1).otherwise(0)).cast("long").alias(
            "files_price_probe"
        ),
        F.sum(F.when(cust_hit, 1).otherwise(0)).cast("long").alias(
            "files_cust_probe"
        ),
        F.sum(F.when(price_hit & cust_hit, 1).otherwise(0)).cast("long").alias(
            "files_both_probe"
        ),
    )


# --- dynamic partition pruning audit (round 7) --------------------------------
@register(
    "dynamic_partition_prune_join",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    WHERE date_part('year', o_orderdate) = 1995
      AND date_part('quarter', o_orderdate) = 1
    GROUP BY o_orderpriority
    """,
    tags=("io", "data_layout", "dynamic_partition_pruning", "join",
          "scale_pattern"),
)
def dynamic_partition_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the join-driven sibling of
    partitioned_write_prune's static PartitionFilter: the fact table is
    written Hive-partitioned by order month (ym), the filter lives on a
    DIFFERENT column (quarter label) of a small dim, and Catalyst turns
    the broadcast join's key set into a runtime partition filter
    (``dynamicpruningexpression(ym IN dynamicpruning#N)`` — pinned in
    tests/test_scale_patterns.py). The fact scan then LISTS only the 3
    matching month directories out of ~80.

    At 100 TB this is the star-schema workhorse: `WHERE dim.attr = ...`
    predicates never mention the fact's partition column, and without
    DPP the fact side is a full scan. The oracle is the de-sugared
    predicate — proving the pruned join loses no rows or values."""
    staged = _staged(sf_dir, "dppfact")
    ym = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int")
    (
        load_table(spark, sf_dir, "orders")
        .withColumn("ym", ym)
        .write.mode("overwrite")
        .partitionBy("ym")
        .parquet(staged)
    )
    fact = spark.read.parquet(staged)
    dim = (
        load_table(spark, sf_dir, "orders")
        .select(
            ym.alias("ym"),
            F.concat(
                F.year("o_orderdate"), F.lit("-Q"), F.quarter("o_orderdate")
            ).alias("quarter_label"),
        )
        .distinct()
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("quarter_label") == "1995-Q1")), "ym"
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "0",
    # broadcast disabled only to force the shuffle-join shape the bloom
    # filter targets; restored in the finally.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def _bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed join (plan-pinned directly by tests)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_extendedprice").alias("total_price"),
        )
    )


# --- runtime bloom-filter join audit (round 7) ---------------------------------
@register(
    "runtime_bloom_filter_join",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           {dsum_sql('l_extendedprice')} AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
    tags=("io", "runtime_filter", "bloom_filter", "join", "scale_pattern"),
)
def runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime BLOOM-FILTER pushdown on a shuffle join — Spark's third
    runtime-pruning mechanism beside DPP and AQE: the selective dim leg
    (urgent orders) builds a bloom_filter_agg over its join keys, and
    Catalyst injects ``bloom_filter_might_contain`` into the FACT scan,
    discarding ~4/5 of lineitem rows BEFORE the shuffle (plan pinned in
    tests/test_scale_patterns.py). At 100 TB the shuffle, not the scan,
    is the bottleneck of a sort-merge join; a 1e6-key bloom filter
    (1 MB) eliminates most of it for selective dims too big to
    broadcast.

    Local-mode thresholds (creationSideThreshold / scan-size gate) are
    sized for real clusters, so the query scopes them (scoped_conf:
    every conf is restored on all paths; broadcast is disabled only to
    force the shuffle join shape the optimization targets)."""
    # Materialize the plan (and the result the driver hashes) while the
    # runtime-filter confs are live; the restored session never sees the
    # forced-SMJ settings.
    with scoped_conf(spark, BLOOM_CONFS):
        return checkpoint_audited(_bloom_join(spark, sf_dir), eager=True)


# --- Hilbert space-filling-curve layout (round 7, session 4) ----------------
# 256x256 grid -> 8 refinement levels. The xy->d walk (Hilbert 1891;
# iterative form as in Hamilton's compact-Hilbert tech report, public
# domain pseudocode) is unrolled into 8 chained projections. Every step
# is +,-,*,% and CASE on {0,1} bit values extracted via FLOOR(x/s)
# (exact for cells < 256), so the IDENTICAL expression text runs in
# Spark and DuckDB — no dialect-divergent bit operators.
_HILBERT_SIDE = 256


def _hilbert_step(s: int) -> tuple[str, str, str]:
    """(d, x, y) update expressions for one refinement level of side s,
    over incoming columns hd/hx/hy with hx, hy ∈ [0, 2s) (the invariant
    the mod-s reduction below re-establishes every level). Quadrant =
    (3*rx) XOR ry computed arithmetically (3*rx + ry - 2*rx*ry on {0,1}
    bits). Deliberately NO ``%`` anywhere: SQL remainder takes the
    dividend's sign, so a formulation whose intermediates can go
    negative (the textbook in-place rotation) silently diverges from
    the Python-semantics curve while still agreeing engine-to-engine —
    keeping every intermediate in [0, s) makes the three dialects
    (Spark SQL, DuckDB, Python replica in tests) provably identical."""
    rx = f"CAST(FLOOR(hx / {s}.0) AS BIGINT)"
    ry = f"CAST(FLOOR(hy / {s}.0) AS BIGINT)"
    mx = f"(hx - {s} * {rx})"
    my = f"(hy - {s} * {ry})"
    d = f"hd + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})"
    x = f"CASE WHEN {ry} = 1 THEN {mx} WHEN {rx} = 0 THEN {my} ELSE {s - 1} - {my} END"
    y = f"CASE WHEN {ry} = 1 THEN {my} WHEN {rx} = 0 THEN {mx} ELSE {s - 1} - {mx} END"
    return d, x, y


def _hilbert_oracle_walk(base_cte: str) -> str:
    """Chained-CTE SQL computing the Hilbert distance from a base CTE
    exposing (o_orderkey, price_cell, cust_cell). Shared formula text
    with the Spark side (_hilbert_step)."""
    ctes = [
        base_cte,
        "l0 AS (SELECT o_orderkey, price_cell, cust_cell, 0 AS hd,"
        " price_cell AS hx, cust_cell AS hy FROM base)",
    ]
    s = _HILBERT_SIDE // 2
    i = 0
    while s >= 1:
        d, x, y = _hilbert_step(s)
        ctes.append(
            f"l{i + 1} AS (SELECT o_orderkey, price_cell, cust_cell,"
            f" CAST({d} AS BIGINT) AS hd, {x} AS hx, {y} AS hy FROM l{i})"
        )
        s //= 2
        i += 1
    return "WITH " + ",\n".join(ctes), f"l{i}"


def _hilbert_spark_walk(c: DataFrame) -> DataFrame:
    """Spark twin of _hilbert_oracle_walk: 8 chained narrow projections
    (Catalyst collapses them into one whole-stage-codegen map)."""
    df = c.select(
        "o_orderkey",
        "price_cell",
        "cust_cell",
        F.lit(0).cast("bigint").alias("hd"),
        F.col("price_cell").alias("hx"),
        F.col("cust_cell").alias("hy"),
    )
    s = _HILBERT_SIDE // 2
    while s >= 1:
        d, x, y = _hilbert_step(s)
        df = df.select(
            "o_orderkey",
            "price_cell",
            "cust_cell",
            F.expr(d).cast("bigint").alias("hd"),
            F.expr(x).alias("hx"),
            F.expr(y).alias("hy"),
        )
        s //= 2
    return df


_HILBERT_BASE = """base AS (
    SELECT o_orderkey,
           LEAST(CAST(floor(o_totalprice / 2000.0) AS BIGINT), 255) AS price_cell,
           o_custkey % 256 AS cust_cell
    FROM orders
)"""

_h_with, _h_last = _hilbert_oracle_walk(_HILBERT_BASE)


@register(
    "hilbert_curve_key",
    oracle=f"""
    {_h_with}
    SELECT o_orderkey, price_cell, cust_cell, hd AS h
    FROM {_h_last}
    """,
    tags=("io", "data_layout", "hilbert", "space_filling_curve"),
)
def hilbert_curve_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert space-filling-curve clustering key — the layout that beats
    z-order (zorder_key) on multi-dimensional locality: consecutive curve
    positions are ALWAYS grid-adjacent (no Morton 'seam jumps'), so rows
    sorted by h pack into parquet files with tighter per-file min/max
    bounding boxes and footer-stats pruning skips more files for 2-D
    predicates (the layout Delta/Iceberg expose as OPTIMIZE ... HILBERT).
    The xy→d walk unrolls into 8 chained narrow projections that Catalyst
    collapses into one codegen stage — pure integer/CASE arithmetic, no
    UDF, no shuffle; the downstream write is `repartitionByRange(h)` +
    `sortWithinPartitions(h)` exactly as for z (partitioned_write_prune).
    The curve formula itself is independently certified against a
    textbook implementation over the full 256×256 grid (bijectivity +
    unit-step adjacency) in tests/test_properties.py. Reference parity:
    no layout surface at all (write path is DoFn-authored text,
    transform_evaluators.py:22-26); strict superset."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderkey",
        F.least(
            F.floor(F.col("o_totalprice") / 2000.0).cast("long"), F.lit(255)
        ).alias("price_cell"),
        (F.col("o_custkey") % 256).alias("cust_cell"),
    )
    return _hilbert_spark_walk(c).select(
        "o_orderkey", "price_cell", "cust_cell", F.col("hd").alias("h")
    )


_HZ_FILES = 64  # model the sorted write as 64 equal-row-count files


@register(
    "hilbert_vs_zorder_locality",
    oracle=f"""
    {_h_with},
    z AS (
        SELECT o_orderkey, price_cell, cust_cell,
               CAST(list_sum(list_transform(range(0, 8),
                    i -> ((CAST(floor(price_cell / power(2.0, i)) AS BIGINT) % 2)
                              * power(2.0, 2 * i))
                       + ((CAST(floor(cust_cell / power(2.0, i)) AS BIGINT) % 2)
                              * power(2.0, 2 * i + 1)))) AS BIGINT) AS k
        FROM base
    ),
    u AS (
        SELECT 'hilbert' AS scheme, o_orderkey, price_cell, cust_cell,
               hd AS k
        FROM {_h_last}
        UNION ALL
        SELECT 'zorder' AS scheme, o_orderkey, price_cell, cust_cell, k
        FROM z
    ),
    tiled AS (
        SELECT scheme, price_cell, cust_cell,
               NTILE({_HZ_FILES}) OVER (PARTITION BY scheme
                                        ORDER BY k, o_orderkey) AS tile
        FROM u
    ),
    t AS (
        SELECT scheme, tile, CAST(COUNT(*) AS BIGINT) AS n_rows,
               (MAX(price_cell) - MIN(price_cell) + 1)
                   * (MAX(cust_cell) - MIN(cust_cell) + 1) AS bbox_area
        FROM tiled GROUP BY scheme, tile
    )
    SELECT scheme,
           CAST(COUNT(*) AS BIGINT) AS n_tiles,
           CAST(SUM(bbox_area) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS avg_bbox_area,
           CAST(MAX(bbox_area) AS BIGINT) AS max_bbox_area
    FROM t GROUP BY scheme
    """,
    tags=("io", "data_layout", "hilbert", "zorder", "locality_audit"),
)
def hilbert_vs_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measurement that justifies picking a curve BEFORE rewriting a
    100 TB table: model the key-sorted write as {_HZ_FILES} equal-ROW-
    COUNT files (NTILE over the sort key — exactly what
    repartitionByRange + sortWithinPartitions produces) and compare the
    per-file bounding boxes that parquet footer min/max stats would
    store. Smaller avg bbox ⇒ fewer false-positive file reads under 2-D
    predicates. Equal-count splits are the point: on ALIGNED power-of-
    two key ranges both curves' tiles are identical 32×32 quadrants and
    the audit is blind; real file boundaries land mid-curve, where
    Morton's seam jumps (…0111→1000 crosses half the grid) blow up the
    box but Hilbert's unit-step adjacency cannot — measured here as
    ~1.8× smaller avg bbox and ~6× smaller worst file for Hilbert.
    Output is the two-row decision table (scheme, n files, avg/max bbox
    area). Plan: one scan feeds both key walks; the NTILE window is the
    audit's only sort and runs on the two scheme partitions — at
    production scale run it on the per-range-partition sample the range
    partitioner already collects, or on a deterministic row sample; the
    decision it feeds (which curve to pay a 100 TB rewrite for) is
    unchanged. Z-key restates zorder_key's bit interleave in shared
    dialect-neutral arithmetic (powers of two via power(2.0,i), exact
    doubles)."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderkey",
        F.least(
            F.floor(F.col("o_totalprice") / 2000.0).cast("long"), F.lit(255)
        ).alias("price_cell"),
        (F.col("o_custkey") % 256).alias("cust_cell"),
    )
    h = _hilbert_spark_walk(c).select(
        F.lit("hilbert").alias("scheme"),
        "o_orderkey",
        "price_cell",
        "cust_cell",
        F.col("hd").alias("k"),
    )
    zk = F.expr(
        """
        CAST(aggregate(sequence(0, 7), CAST(0.0 AS DOUBLE), (acc, i) -> acc
            + (CAST(floor(price_cell / power(2.0, i)) AS BIGINT) % 2)
                * power(2.0, 2 * i)
            + (CAST(floor(cust_cell / power(2.0, i)) AS BIGINT) % 2)
                * power(2.0, 2 * i + 1)) AS BIGINT)
        """
    )
    z = c.select(
        F.lit("zorder").alias("scheme"),
        "o_orderkey",
        "price_cell",
        "cust_cell",
        zk.alias("k"),
    )
    u = h.unionByName(z)
    from pyspark.sql import Window as W

    tiled = u.select(
        "scheme",
        "price_cell",
        "cust_cell",
        F.ntile(_HZ_FILES)
        .over(W.partitionBy("scheme").orderBy("k", "o_orderkey"))
        .alias("tile"),
    )
    t = tiled.groupBy("scheme", "tile").agg(
        F.count("*").cast("long").alias("n_rows"),
        (
            (F.max("price_cell") - F.min("price_cell") + 1)
            * (F.max("cust_cell") - F.min("cust_cell") + 1)
        ).alias("bbox_area"),
    )
    return t.groupBy("scheme").agg(
        F.count("*").cast("long").alias("n_tiles"),
        (
            F.sum("bbox_area").cast("double") / F.count("*").cast("double")
        ).alias("avg_bbox_area"),
        F.max("bbox_area").cast("long").alias("max_bbox_area"),
    )


# --- file-skipping audit across layouts (round 7, session 4) ----------------
# The 2-D predicate box the scan is audited against.
_SKIP_P_LO, _SKIP_P_HI = 60, 90
_SKIP_C_LO, _SKIP_C_HI = 100, 140


@register(
    "curve_file_skipping_audit",
    oracle=f"""
    {_h_with},
    z AS (
        SELECT o_orderkey, price_cell, cust_cell,
               CAST(list_sum(list_transform(range(0, 8),
                    i -> ((CAST(floor(price_cell / power(2.0, i)) AS BIGINT) % 2)
                              * power(2.0, 2 * i))
                       + ((CAST(floor(cust_cell / power(2.0, i)) AS BIGINT) % 2)
                              * power(2.0, 2 * i + 1)))) AS BIGINT) AS k
        FROM base
    ),
    u AS (
        SELECT 'unsorted' AS scheme, o_orderkey, price_cell, cust_cell,
               o_orderkey AS k
        FROM base
        UNION ALL
        SELECT 'zorder', o_orderkey, price_cell, cust_cell, k FROM z
        UNION ALL
        SELECT 'hilbert', o_orderkey, price_cell, cust_cell, hd
        FROM {_h_last}
    ),
    tiled AS (
        SELECT scheme, price_cell, cust_cell,
               NTILE({_HZ_FILES}) OVER (PARTITION BY scheme
                                        ORDER BY k, o_orderkey) AS tile
        FROM u
    ),
    files AS (
        SELECT scheme, tile,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(price_cell) AS pmin, MAX(price_cell) AS pmax,
               MIN(cust_cell) AS cmin, MAX(cust_cell) AS cmax,
               CAST(SUM(CASE WHEN price_cell BETWEEN {_SKIP_P_LO}
                                  AND {_SKIP_P_HI}
                              AND cust_cell BETWEEN {_SKIP_C_LO}
                                  AND {_SKIP_C_HI}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        FROM tiled GROUP BY scheme, tile
    )
    SELECT scheme,
           CAST(SUM(CASE WHEN pmin <= {_SKIP_P_HI} AND pmax >= {_SKIP_P_LO}
                          AND cmin <= {_SKIP_C_HI} AND cmax >= {_SKIP_C_LO}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_files_scanned,
           CAST(SUM(CASE WHEN pmin <= {_SKIP_P_HI} AND pmax >= {_SKIP_P_LO}
                          AND cmin <= {_SKIP_C_HI} AND cmax >= {_SKIP_C_LO}
                         THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS n_matching_rows,
           CAST(SUM(CASE WHEN pmin <= {_SKIP_P_HI} AND pmax >= {_SKIP_P_LO}
                          AND cmin <= {_SKIP_C_HI} AND cmax >= {_SKIP_C_LO}
                         THEN n_rows ELSE 0 END) AS DOUBLE)
               / CAST(GREATEST(SUM(n_match), 1) AS DOUBLE)
               AS scan_amplification
    FROM files GROUP BY scheme
    """,
    tags=("io", "data_layout", "file_skipping", "minmax_pruning",
          "locality_audit"),
)
def curve_file_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payoff counter for hilbert_vs_zorder_locality: simulate
    parquet footer min/max pruning for a concrete 2-D predicate box
    (price_cell ∈ [{_SKIP_P_LO},{_SKIP_P_HI}] ∧ cust_cell ∈
    [{_SKIP_C_LO},{_SKIP_C_HI}]) against the SAME equal-row-count file
    model under three layouts — ingestion order (no clustering),
    z-order, Hilbert — and report exactly what a scan would pay:
    files touched, rows read, true matches, and scan amplification
    (rows read per matching row). A file is scanned iff its per-file
    [min,max]×[min,max] box intersects the predicate box — the
    identical rule every footer-stats reader (parquet row groups,
    Delta/Iceberg file stats) applies. Unsorted layouts scan ~all
    files (every file's box spans the grid); space-filling curves
    confine the predicate to the few files whose curve ranges cross
    the box. Pure integer comparisons over the {_HZ_FILES}-file
    summary; one double division for amplification. Scale: identical
    shape to the locality audit — one scan, three key walks, a
    {_HZ_FILES}-group agg per scheme."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderkey",
        F.least(
            F.floor(F.col("o_totalprice") / 2000.0).cast("long"), F.lit(255)
        ).alias("price_cell"),
        (F.col("o_custkey") % 256).alias("cust_cell"),
    )
    h = _hilbert_spark_walk(c).select(
        F.lit("hilbert").alias("scheme"),
        "o_orderkey",
        "price_cell",
        "cust_cell",
        F.col("hd").alias("k"),
    )
    zk = F.expr(
        """
        CAST(aggregate(sequence(0, 7), CAST(0.0 AS DOUBLE), (acc, i) -> acc
            + (CAST(floor(price_cell / power(2.0, i)) AS BIGINT) % 2)
                * power(2.0, 2 * i)
            + (CAST(floor(cust_cell / power(2.0, i)) AS BIGINT) % 2)
                * power(2.0, 2 * i + 1)) AS BIGINT)
        """
    )
    z = c.select(
        F.lit("zorder").alias("scheme"),
        "o_orderkey",
        "price_cell",
        "cust_cell",
        zk.alias("k"),
    )
    un = c.select(
        F.lit("unsorted").alias("scheme"),
        "o_orderkey",
        "price_cell",
        "cust_cell",
        F.col("o_orderkey").alias("k"),
    )
    u = h.unionByName(z).unionByName(un)
    from pyspark.sql import Window as W

    tiled = u.select(
        "scheme",
        "price_cell",
        "cust_cell",
        F.ntile(_HZ_FILES)
        .over(W.partitionBy("scheme").orderBy("k", "o_orderkey"))
        .alias("tile"),
    )
    in_box = (
        F.col("price_cell").between(_SKIP_P_LO, _SKIP_P_HI)
        & F.col("cust_cell").between(_SKIP_C_LO, _SKIP_C_HI)
    )
    files = tiled.groupBy("scheme", "tile").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("price_cell").alias("pmin"),
        F.max("price_cell").alias("pmax"),
        F.min("cust_cell").alias("cmin"),
        F.max("cust_cell").alias("cmax"),
        F.sum(F.when(in_box, 1).otherwise(0)).cast("long").alias("n_match"),
    )
    scanned = (
        (F.col("pmin") <= _SKIP_P_HI)
        & (F.col("pmax") >= _SKIP_P_LO)
        & (F.col("cmin") <= _SKIP_C_HI)
        & (F.col("cmax") >= _SKIP_C_LO)
    )
    return files.groupBy("scheme").agg(
        F.sum(F.when(scanned, 1).otherwise(0))
        .cast("long")
        .alias("n_files_scanned"),
        F.sum(F.when(scanned, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        F.sum("n_match").cast("long").alias("n_matching_rows"),
        (
            F.sum(F.when(scanned, F.col("n_rows")).otherwise(0)).cast(
                "double"
            )
            / F.greatest(F.sum("n_match"), F.lit(1)).cast("double")
        ).alias("scan_amplification"),
    )


# --- order-independent dataset version fingerprint (round 7, session 4) -----
@register(
    "dataset_version_fingerprint",
    oracle=f"""
    WITH rows_h AS (
        SELECT (('0x' || substr(md5(
                    'v1|' || o_orderkey || '|' || o_custkey || '|'
                    || o_orderstatus || '|'
                    || CAST(round(o_totalprice * 100) AS BIGINT)), 1, 15))::BIGINT)
                   AS h
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h) % 9223372036854775807 AS BIGINT) AS content_fingerprint,
           CAST(bit_xor(h) AS BIGINT) AS xor_fingerprint
    FROM rows_h
    """,
    tags=("io", "data_versioning", "fingerprint", "reproducibility"),
)
def dataset_version_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INDEPENDENT dataset content fingerprint — the version stamp
    a reproducible pipeline records beside every artifact (the check
    DVC/LakeFS-style tooling does with file hashes, done here at ROW
    semantics so it survives repartitioning, file splits, and rewrite
    order): hash each row's canonicalized key fields (schema-versioned
    'v1|' prefix, money pinned to integer cents), then combine with
    commutative reducers (modular SUM and XOR — two independent
    combiners so a collision would have to fool both). Equal
    fingerprints ⇒ same row multiset (up to 60-bit hash collision);
    any row edit, drop, or duplicate moves both. Runs as one narrow
    map + partial aggregate — no sort, no shuffle beyond the final
    1-row combine, identical cost at any partition count, which is
    the property file-level hashing loses the moment Spark rewrites
    the files. Cross-engine: md5 hex-prefix parse (functions/
    hashing.py), SUM in DECIMAL headroom modulo 2^63−1, bit_xor in
    both engines."""
    from beam_pyspark_runner_spark.functions.hashing import h60

    o = load_table(spark, sf_dir, "orders")
    h = h60(
        F.concat_ws(
            "|",
            F.lit("v1"),
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        )
    )
    return o.select(h.alias("h")).agg(
        F.count("*").cast("long").alias("n_rows"),
        (
            F.sum(F.col("h").cast("decimal(38,0)"))
            % F.lit(9223372036854775807).cast("decimal(38,0)")
        )
        .cast("long")
        .alias("content_fingerprint"),
        F.expr("bit_xor(h)").cast("long").alias("xor_fingerprint"),
    )


# --- deletion-vector read-path audit (round 8) -------------------------------
_DV_FILES = 16  # simulated file grain: orderkey ranges
_DV_MOD = 37  # deterministic 1-in-37 of rows carry a delete marker


@register(
    "delete_vector_apply_audit",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               o_orderkey % {_DV_FILES} AS file_id,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               (('0x' || substr(md5('dv-' || o_orderkey), 1, 8))::BIGINT)
                   % {_DV_MOD} = 0 AS deleted
        FROM orders
    )
    SELECT CAST(file_id AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deleted,
           CAST(COUNT(*) - SUM(CASE WHEN deleted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_live,
           CAST(SUM(CASE WHEN deleted THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS delete_ratio,
           CAST(SUM(CASE WHEN NOT deleted THEN cents ELSE 0 END) AS BIGINT)
               AS live_cents
    FROM base GROUP BY file_id
    """,
    tags=("io", "deletion_vectors", "merge_on_read", "lakehouse"),
)
def delete_vector_apply_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector (merge-on-read) apply audit — the Iceberg v2 /
    Delta DV read path expressed relationally: base file rows join
    their delete markers (here a deterministic md5-derived 1-in-{_DV_MOD}
    vector keyed by row, grouped into {_DV_FILES} simulated files by
    key range), and the report shows per-file row/delete/live counts,
    delete ratio, and the live-rows aggregate a reader must produce —
    the compaction trigger metric ('rewrite files whose delete ratio
    crosses X%'). The apply is a map-side flag (no anti-join needed
    when the DV rule is computable; with a materialized DV table this
    becomes the broadcast anti-join merge_upsert already pins).
    Integer everything; one division per file. Scale: one scan, one
    {_DV_FILES}-group agg."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    base = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % _DV_FILES).alias("file_id"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (
            F.pmod(
                h32(F.concat_ws("-", F.lit("dv"), F.col("o_orderkey"))),
                F.lit(_DV_MOD),
            )
            == 0
        ).alias("deleted"),
    )
    return base.groupBy(F.col("file_id").cast("long").alias("file_id")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("deleted"), 1).otherwise(0))
        .cast("long")
        .alias("n_deleted"),
        (
            F.count("*")
            - F.sum(F.when(F.col("deleted"), 1).otherwise(0))
        )
        .cast("long")
        .alias("n_live"),
        (
            F.sum(F.when(F.col("deleted"), 1).otherwise(0)).cast("double")
            / F.count("*").cast("double")
        ).alias("delete_ratio"),
        F.sum(F.when(~F.col("deleted"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("live_cents"),
    )
