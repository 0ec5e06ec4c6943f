"""Core relational queries: scan/filter/project, aggregation, set ops, sorting.

Reference parity notes (SURVEY.md §2): the reference's entire analytics
surface is GroupByKey + CombinePerKey over RDD tuples
(``transform_evaluators.py:84-100``) plus composites (Count/Mean/Top/
Distinct/CombineGlobally). Each query here is the DataFrame-native
equivalent, designed so Catalyst gets pushdown + partial aggregation,
and every float aggregate is order-stable (see functions/numeric.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from beam_pyspark_runner_spark.functions.numeric import davg, davg_sql, dsum, dsum_sql
from beam_pyspark_runner_spark.functions.ordered import bucketed_order_scan
from beam_pyspark_runner_spark.plans.audit import checkpoint_audited
from beam_pyspark_runner_spark.queries.registry import register
from beam_pyspark_runner_spark.session import drain_listener_bus, scoped_conf
from beam_pyspark_runner_spark.sources.readers import load_table


# --- TPC-H Q1 shape: the flagship groupBy-aggregate -------------------------
@register(
    "q1_pricing_summary",
    # The disc_price/charge products are computed in exact decimal — a
    # double product's cast to DECIMAL(38,10) rounds differently in the
    # two engines (full-mantissa expansion), drifting the sums.
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql('CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))')} AS sum_disc_price,
           {dsum_sql('CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))')} AS sum_charge,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           {davg_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("aggregate", "combine_per_key"),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial+final HashAggregate; the filter pushes to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    # tight decimal precisions: every product stays exact (< precision 38)
    # in BOTH engines — wider types push Spark into precision-loss rounding
    # and DuckDB into double fallback, which then disagree
    one = F.lit(1).cast("decimal(3,2)")
    price_d = F.col("l_extendedprice").cast("decimal(10,2)")
    disc_price = price_d * (one - F.col("l_discount").cast("decimal(3,2)"))
    charge = disc_price * (one + F.col("l_tax").cast("decimal(3,2)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --- scan/filter/project (pushdown showcase) --------------------------------
@register(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_partkey,
           CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) AS net_price
    FROM lineitem
    WHERE l_quantity > 45 AND l_discount >= 0.05
    """,
    tags=("scan", "filter", "pardo_map"),
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both predicates reach the parquet scan as PushedFilters; 3-column ReadSchema."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") > 45) & (F.col("l_discount") >= 0.05))
        .select(
            "l_orderkey",
            "l_partkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        )
    )


# --- Distinct (reference: Distinct composite → dropDuplicates) ---------------
@register(
    "distinct_values",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    tags=("distinct",),
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# --- Flatten (reference: eval_Flatten → UNION ALL) ---------------------------
@register(
    "union_all",
    oracle="""
    SELECT o_orderkey, o_totalprice, 'high' AS bucket FROM orders WHERE o_totalprice > 400000
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'low' AS bucket FROM orders WHERE o_totalprice < 1000
    """,
    tags=("flatten", "union"),
)
def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey", "o_totalprice", F.lit("high").alias("bucket")
    )
    lo = o.filter(F.col("o_totalprice") < 1000).select(
        "o_orderkey", "o_totalprice", F.lit("low").alias("bucket")
    )
    return hi.unionByName(lo)


# --- GroupByKey (reference: eval_GroupByKey → collect_list) -------------------
@register(
    "group_by_key_collect",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers
    FROM lineitem GROUP BY l_orderkey
    """,
    tags=("group_by_key",),
)
def group_by_key_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupByKey semantics: (key, Iterable[v]). Group value order is
    nondeterministic in both engines (reference transform_evaluators.py:87),
    so the query sorts the array to be comparison-stable, then serializes
    it to a CSV string: the external compare harness canonicalizes rows
    with pandas and cannot hash list-valued cells."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.sort_array(F.collect_list("l_linenumber")).cast("array<string>"), ","
        ).alias("line_numbers")
    )


# --- CombineGlobally (reference: KeyWithVoid + CombinePerKey + unkey) ---------
@register(
    "agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {dsum_sql('l_quantity')} AS total_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
           COUNT(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem
    """,
    tags=("combine_globally", "aggregate"),
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        dsum("l_quantity").alias("total_qty"),
        davg("l_extendedprice").alias("avg_price"),
        F.min("l_extendedprice").cast("double").alias("min_price"),
        F.max("l_extendedprice").cast("double").alias("max_price"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


# --- combiners.Count.PerElement / Mean ----------------------------------------
@register(
    "count_mean_per_key",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {davg_sql('o_totalprice')} AS avg_total
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("combine_per_key", "count", "mean"),
)
def count_mean_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        davg("o_totalprice").alias("avg_total"),
    )


# --- combiners.Top (global top-k) ---------------------------------------------
@register(
    "top_k_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
    tags=("top_k", "sort", "limit"),
)
def top_k_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition heap,
    no full sort, no full shuffle. o_orderkey tiebreak keeps ties deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


# --- HAVING -------------------------------------------------------------------
@register(
    "having_filter",
    oracle=f"""
    SELECT l_suppkey, COUNT(*) AS n_items, {dsum_sql('l_quantity')} AS total_qty
    FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 650
    """,
    tags=("aggregate", "having"),
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_items"), dsum("l_quantity").alias("total_qty"))
        .filter(F.col("n_items") > 650)
    )


# --- conditional aggregation ----------------------------------------------------
@register(
    "conditional_agg",
    oracle=f"""
    SELECT l_returnflag,
           {dsum_sql("CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0.0 END")} AS discounted_rev,
           {dsum_sql("CASE WHEN l_discount <= 0.05 THEN l_extendedprice ELSE 0.0 END")} AS full_rev,
           COUNT(CASE WHEN l_quantity >= 25 THEN 1 END) AS n_bulk
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("aggregate", "case_when"),
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).otherwise(0.0)
    full = F.when(F.col("l_discount") <= 0.05, F.col("l_extendedprice")).otherwise(0.0)
    return li.groupBy("l_returnflag").agg(
        dsum(disc).alias("discounted_rev"),
        dsum(full).alias("full_rev"),
        F.count(F.when(F.col("l_quantity") >= 25, F.lit(1))).alias("n_bulk"),
    )


# --- rollup / cube / grouping sets ---------------------------------------------
@register(
    "rollup_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("rollup",),
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@register(
    "cube_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {dsum_sql('l_extendedprice')} AS sum_price
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("cube",),
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_extendedprice").alias("sum_price")
    )


# --- intersect / except ---------------------------------------------------------
@register(
    "intersect_keys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("set_op", "intersect"),
)
def intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    op = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return f.intersect(op)


@register(
    "except_keys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("set_op", "except"),
)
def except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    op = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    # subtract = EXCEPT (set semantics): keys present in f and absent from op
    return f.subtract(op)


# --- scalar function library -----------------------------------------------------
@register(
    "scalar_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_upper,
           SUBSTRING(p_name, 1, 8) AS name_prefix,
           LENGTH(p_name) AS name_len,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           CAST(REGEXP_EXTRACT(p_brand, 'Brand#(\\d+)', 1) AS BIGINT) AS brand_num,
           CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_rounded,
           ABS(p_size - 25) AS size_dev,
           CASE WHEN p_size >= 25 THEN 'large' ELSE 'small' END AS size_class
    FROM part
    """,
    tags=("scalar_fns", "pardo_map"),
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference users write arbitrary Python in DoFns for this
    (transform_evaluators.py:28-79); here it's all JVM codegen, zero Python."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("long").alias("brand_num"),
        # round in exact decimal (both engines round-half-away there); a raw
        # double round can disagree at float .x5 boundaries
        F.round(F.col("p_retailprice").cast("decimal(18,2)"), 1)
        .cast("double")
        .alias("price_rounded"),
        F.abs(F.col("p_size") - 25).cast("int").alias("size_dev"),
        F.when(F.col("p_size") >= 25, "large").otherwise("small").alias("size_class"),
    )


# --- date/time functions ----------------------------------------------------------
@register(
    "date_functions",
    oracle=f"""
    SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
           CAST(MONTH(o_orderdate) AS BIGINT) AS order_month,
           COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY 1, 2
    """,
    tags=("date_fns", "aggregate"),
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


# --- exact percentiles --------------------------------------------------------------
@register(
    "percentiles",
    oracle="""
    SELECT l_returnflag,
           CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS median_qty,
           CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("percentile", "aggregate"),
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (Spark's `percentile`, not percentile_approx) so the
    oracle matches bit-for-bit; both engines use linear interpolation."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_extendedprice", 0.9).alias("p90_price"),
    )


# --- approximate aggregates (no exact oracle by construction: rows-only check) -----
@register(
    "approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS hll_within_3rsd,
           TRUE AS median_within_band
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("approx", "aggregate"),
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approx aggregates with a *deterministic-bound* oracle.

    Spark's HLL++ / t-digest sketches differ bit-for-bit from DuckDB's
    estimators by design, so raw estimates can't value-hash. Instead the
    query emits (a) the exact distinct count — fully value-checked — and
    (b) booleans asserting each Spark estimate sits inside its published
    error envelope: 3×rsd for approx_count_distinct (P(outside) < 1e-3),
    and the exact 45th–55th-percentile band for percentile_approx (rank
    error ≤ n/accuracy ≈ 1.5 rows per group at sf0.01). The oracle pins
    both booleans TRUE: a drifting estimator flips one and fails the
    hash. At 100 TB only the sketch side survives (exact distinct is the
    verification harness, not the production path)."""
    li = load_table(spark, sf_dir, "lineitem")
    rsd = 0.05
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", rsd).alias("_hll"),
            F.percentile_approx("l_extendedprice", 0.5).alias("_amed"),
            F.expr("percentile(l_extendedprice, 0.45)").alias("_p45"),
            F.expr("percentile(l_extendedprice, 0.55)").alias("_p55"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_hll") - F.col("exact_parts"))
                <= 3 * rsd * F.col("exact_parts")
            ).alias("hll_within_3rsd"),
            F.col("_amed").between(F.col("_p45"), F.col("_p55")).alias(
                "median_within_band"
            ),
        )
    )


# --- TPC-H Q6 shape: pure scan-filter-aggregate (bench: pushdown + codegen) --
@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {dsum_sql("CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(l_discount AS DECIMAL(3,2))")} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    tags=("tpch", "scan", "filter", "aggregate"),
    bench=True,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: all four predicates reach the parquet scan as
    PushedFilters; single partial+final agg, no shuffle of data rows.
    At 100 TB this is the pure scan-throughput benchmark — with a
    shipdate-partitioned layout the date range also prunes partitions."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(10,2)") * F.col(
        "l_discount"
    ).cast("decimal(3,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(revenue).alias("revenue"), F.count("*").alias("n_rows"))
    )


# --- GROUPING SETS (reference has no grouping sets; SURVEY §2.4) -------------
@register(
    "grouping_sets_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    tags=("grouping_sets", "aggregate"),
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via SQL over a temp view — one Expand + one aggregate
    (Catalyst plans a single shuffle for all three groupings)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# --- ToSet composite (reference: combiners.ToSet → collect_set) --------------
@register(
    "collect_set_per_key",
    oracle="""
    SELECT l_returnflag,
           array_to_string(list_sort(list_distinct(list(l_linestatus))), ',')
               AS statuses,
           array_to_string(
               list_sort(list_distinct(list(l_returnflag || '/' || l_linestatus))), ','
           ) AS combos
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("combiner", "to_set", "group_by_key"),
)
def collect_set_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam combiners.ToSet / ToList equivalent: collect_set per key, sorted
    for deterministic comparison (group order is nondeterministic) and
    serialized to CSV strings — the external harness can't hash list cells."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias("statuses"),
        F.array_join(
            F.array_sort(F.collect_set(F.concat_ws("/", "l_returnflag", "l_linestatus"))),
            ",",
        ).alias("combos"),
    )


# --- Sample composite (reference: combiners.Sample → deterministic hash order) ----
@register(
    "deterministic_sample",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
    LIMIT 64
    """,
    tags=("sample", "combiner"),
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """combiners.Sample equivalent: fixed-size pseudo-random sample by
    ordering on a content hash — deterministic across engines and cluster
    sizes (unlike rand(seed), whose stream depends on partitioning).
    Plan: TakeOrderedAndProject — per-partition top-64 heap, no full sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.md5(F.col("o_orderkey").cast("string")), "o_orderkey")
        .limit(64)
    )


# --- salted aggregation (skew hardening, SURVEY §7 M8) -----------------------
@register(
    "salted_agg",
    oracle=f"""
    SELECT l_returnflag, {dsum_sql('l_extendedprice')} AS total_price,
           COUNT(*) AS total_price_count
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("aggregate", "skew", "salting"),
)
def salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase sum over a 3-distinct-value key: salt spreads
    each hot key over 16 reducers, the second phase merges 16 tiny rows
    per key. Exact-decimal accumulation makes the result bit-identical to
    the direct aggregation — which is exactly what the oracle checks."""
    from beam_pyspark_runner_spark.functions.skew import salted_decimal_sum

    li = load_table(spark, sf_dir, "lineitem")
    return salted_decimal_sum(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        "total_price",
        n_salts=16,
        salt_on="l_orderkey",
    )


# --- UNPIVOT / stack (wide → long reshape) -----------------------------------
@register(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
           CAST(l_quantity AS DOUBLE) AS value
    FROM lineitem WHERE l_orderkey < 500
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey < 500
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey < 500
    """,
    tags=("unpivot", "reshape"),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via stack (the inverse of pivot): one input scan
    produces 3 rows per line item inside the generate node — no
    self-union, no re-scan (the UNION ALL oracle is the naive 3-scan
    formulation this plan avoids)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', CAST(l_quantity AS DOUBLE),"
        " 'extendedprice', l_extendedprice,"
        " 'discount', l_discount) AS (measure, value)",
    )


# --- aggregation of aggregation (two-level rollup) ----------------------------
@register(
    "avg_order_quantity",
    oracle=f"""
    WITH per_order AS (
        SELECT l_orderkey, {dsum_sql('l_quantity')} AS order_qty
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT COUNT(*) AS n_orders,
           {davg_sql('order_qty')} AS avg_order_qty,
           CAST(MAX(order_qty) AS DOUBLE) AS max_order_qty
    FROM per_order
    """,
    tags=("aggregate", "nested_agg"),
)
def avg_order_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-of-aggregate: per-order quantity sums, then corpus-level
    stats over those sums. Two aggregations = two shuffles, the second
    over already-shrunk per-order rows; both levels accumulate in exact
    decimal so the nesting stays order-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(dsum("l_quantity").alias("order_qty"))
    return per_order.agg(
        F.count("*").alias("n_orders"),
        davg("order_qty").alias("avg_order_qty"),
        F.max("order_qty").cast("double").alias("max_order_qty"),
    )


# --- per-key deterministic sample (reservoir-sample shape) --------------------
@register(
    "sample_per_key",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY md5(l_orderkey || '-' || l_linenumber), l_orderkey, l_linenumber
               ) AS rn
        FROM lineitem
    ) WHERE rn <= 8
    """,
    tags=("sample", "combiner", "window", "top_k_per_key"),
)
def sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key fixed-size sample (reservoir-sampling semantics, made
    deterministic): order each key's rows by a content hash and keep the
    first 8. Runs as WindowGroupLimit (bounded per-partition heaps) — the
    distributed equivalent of a per-key reservoir without the sequential
    scan a true reservoir needs."""
    li = load_table(spark, sf_dir, "lineitem")
    hkey = F.md5(F.concat_ws("-", "l_orderkey", "l_linenumber"))
    w = W.partitionBy("l_returnflag").orderBy(hkey, "l_orderkey", "l_linenumber")
    return (
        li.select("l_returnflag", "l_orderkey", "l_linenumber")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .drop("rn")
    )


# --- array / higher-order function surface -----------------------------------
@register(
    "array_functions",
    oracle="""
    WITH t AS (
        SELECT l_orderkey, l_linenumber,
               [CAST(l_quantity AS DOUBLE), l_extendedprice, l_discount] AS arr
        FROM lineitem WHERE l_orderkey < 200
    )
    SELECT l_orderkey, l_linenumber,
           CAST(len(arr) AS INT) AS n,
           list_max(arr) AS mx,
           array_to_string(list_transform(list_sort(arr),
               x -> CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)), ',') AS sorted_arr,
           array_to_string(list_transform(list_filter(arr, x -> x >= 1.0),
               x -> CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)), ',') AS big_vals,
           array_to_string(list_transform(list_transform(arr, x -> x * 2.0),
               x -> CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)), ',') AS doubled,
           list_reduce(arr, (acc, x) -> acc + x) AS fold_sum
    FROM t
    """,
    tags=("array_fns", "higher_order", "scalar_fns"),
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function surface: size, max, sort, filter,
    transform, and a left fold — all JVM-side (interpreted HOFs, but no
    Python). The fold accumulates in index order, which DuckDB's
    list_reduce reproduces exactly (same discipline as
    functions/vectors.py). Array-valued outputs are serialized to CSV
    strings (elements via DECIMAL(18,6), identical formatting in both
    engines) because the external harness can't hash list cells; the
    double→decimal rounding is exact here (inputs have ≤2 decimals)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)

    def _ser(c):  # array<double> -> "x.xxxxxx,y.yyyyyy" (matches DuckDB)
        return F.array_join(
            F.transform(c, lambda x: x.cast("decimal(18,6)").cast("string")), ","
        )

    arr = F.array(
        F.col("l_quantity").cast("double"),
        F.col("l_extendedprice"),
        F.col("l_discount"),
    )
    t = li.select("l_orderkey", "l_linenumber", arr.alias("arr"))
    return t.select(
        "l_orderkey",
        "l_linenumber",
        F.size("arr").alias("n"),
        F.array_max("arr").alias("mx"),
        _ser(F.array_sort("arr")).alias("sorted_arr"),
        _ser(F.filter("arr", lambda x: x >= 1.0)).alias("big_vals"),
        _ser(F.transform("arr", lambda x: x * 2.0)).alias("doubled"),
        F.aggregate(
            F.expr("slice(arr, 2, size(arr) - 1)"),
            F.element_at("arr", 1),
            lambda acc, x: acc + x,
        ).alias("fold_sum"),
    )


# --- NULL semantics: outer-join nulls, null-safe equality, null-aware aggs ---
@register(
    "null_semantics",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, COUNT(*) AS n_lines
        FROM lineitem WHERE l_quantity > 49 GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_orderkey, o.o_orderstatus, b.n_lines
        FROM orders o LEFT JOIN big b ON b.l_orderkey = o.o_orderkey
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(n_lines) AS n_with_big_lines,
           CAST(SUM(CASE WHEN n_lines IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(SUM(COALESCE(n_lines, 0)) AS BIGINT) AS total_big_lines,
           CAST(SUM(CASE WHEN n_lines IS NOT DISTINCT FROM 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_exactly_one
    FROM j GROUP BY o_orderstatus
    """,
    tags=("null_semantics", "join", "left_outer", "aggregate"),
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling parity: unmatched left-join rows produce NULLs,
    COUNT(col) skips them while COUNT(*) doesn't, SUM ignores them under
    COALESCE, and null-safe equality (<=> / IS NOT DISTINCT FROM) treats
    NULL as a comparable value. These are the semantics corners where
    engines diverge silently — pinned here against the oracle."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.filter(F.col("l_quantity") > 49)
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_lines"))
    )
    j = o.join(big, o.o_orderkey == big.l_orderkey, "left").select(
        "o_orderkey", "o_orderstatus", "n_lines"
    )
    return j.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.count("n_lines").alias("n_with_big_lines"),
        F.sum(F.when(F.col("n_lines").isNull(), 1).otherwise(0)).alias("n_null"),
        F.sum(F.coalesce("n_lines", F.lit(0))).alias("total_big_lines"),
        F.sum(
            F.when(F.col("n_lines").eqNullSafe(F.lit(1)), 1).otherwise(0)
        ).alias("n_exactly_one"),
    )


# --- multiset set-ops (ALL variants keep duplicates) --------------------------
@register(
    "intersect_all_keys",
    oracle="""
    SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
    """,
    tags=("set_ops", "intersect", "multiset"),
)
def intersect_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL: bag intersection (min multiplicity per value) —
    unlike INTERSECT's set semantics. Plans as a single aggregate-based
    join, no full dedup."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("k"))
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("k"))
    return r.intersectAll(a)


@register(
    "except_all_keys",
    oracle="""
    SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
    """,
    tags=("set_ops", "except", "multiset"),
)
def except_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: bag difference (multiplicities subtract, floor 0)."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("k"))
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("k"))
    return r.exceptAll(a)


@register(
    "pandas_udaf_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                         * CAST(l_quantity AS BIGINT)) AS BIGINT) AS DOUBLE)
           / CAST(CAST(100 * SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS DOUBLE)
               AS weighted_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("pandas_udaf", "grouped_agg", "arrow", "aggregate"),
)
def pandas_udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface: a grouped-agg pandas UDF (Series → scalar,
    Arrow-batched) computing the quantity-weighted average price per
    return flag — the reference's CombineFn niche
    (transform_evaluators.py:89-100) where the aggregation logic is
    genuinely Python. Accumulation is exact int64 cents (prices are
    2-decimal, quantities integral), so the result is independent of row
    order within the group and bit-matches the oracle's integer sums.

    Scale note: grouped-agg pandas UDFs get NO map-side partial
    aggregation — the whole group's columns shuffle to one task. That is
    the real price of a Python UDAF; use it when logic demands Python,
    with low-cardinality group keys (3 flags here), and watch int64
    headroom (~9e18; cents×quantity sums at 100 TB need a pre-scaled
    unit or decimal accumulator)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        cents = (price * 100).round().astype("int64")
        q = qty.astype("int64")
        num = int((cents * q).sum())
        den = 100 * int(q.sum())
        return float(num) / float(den)

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        weighted_avg("l_extendedprice", "l_quantity").alias("weighted_avg_price")
    )


@register(
    "sql_api_revenue",
    oracle=f"""
    SELECT n_name AS nation,
           EXTRACT(YEAR FROM o_orderdate) AS order_year,
           COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
    """,
    tags=("sql_api", "join", "aggregate"),
)
def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL entry point: temp views + one spark.sql() text query,
    no DataFrame builder calls — proving a reference user can bring plain
    ANSI SQL and get the identical Catalyst plan (same pushdown,
    broadcast, partial-agg treatment; SQL text and the DataFrame API
    lower to the same logical plan). The decimal-sum discipline is
    expressed inline in SQL, matching functions/numeric.py:dsum."""
    from beam_pyspark_runner_spark.sources.readers import register_views

    register_views(spark, sf_dir, ("orders", "customer", "nation"))
    return spark.sql(
        """
        SELECT n_name AS nation,
               CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,2))
                    AS DOUBLE) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, YEAR(o_orderdate)
        """
    )


@register(
    "map_functions",
    # Map cells aren't hashable by the external canonicalizer (same
    # constraint as arrays) — serialize to a key-sorted JSON string.
    oracle="""
    WITH kv AS (
        SELECT o_orderpriority AS prio,
               o_orderstatus AS status,
               COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    )
    SELECT prio,
           '{' || string_agg(
               '"' || status || '":' || CAST(n AS VARCHAR), ','
               ORDER BY status
           ) || '}' AS status_counts
    FROM kv GROUP BY prio
    """,
    tags=("map_fns", "scalar_fns", "array_fns", "aggregate"),
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-priority status→count maps built with
    map_from_entries over collected structs, then serialized to
    key-sorted JSON (to_json emits map keys in entry order, so the
    struct array is sorted first). Map construction/serialization stays
    whole-stage-codegen'd; the map's cardinality is bounded by the
    status domain, so the row stays tiny at any data scale."""
    o = load_table(spark, sf_dir, "orders")
    kv = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count("*").alias("n"))
    return (
        kv.groupBy("prio")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("status", "n")))
            ).alias("m")
        )
        .select("prio", F.to_json("m").alias("status_counts"))
    )


@register(
    "union_schema_evolution",
    oracle="""
    SELECT o_orderkey AS id, o_totalprice AS amount,
           o_orderpriority AS priority, NULL AS segment
    FROM orders WHERE o_totalprice > 350000
    UNION ALL
    SELECT c_custkey, c_acctbal, NULL, c_mktsegment
    FROM customer WHERE c_acctbal < 0
    """,
    tags=("flatten", "union", "schema_evolution"),
)
def union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten across EVOLVED schemas: the two sides share id/amount but
    each carries a column the other lacks; unionByName with
    allowMissingColumns null-fills the gaps by NAME (positional UNION
    would silently misalign). This is the schema-drift reality of long-
    lived pipelines — v1 and v2 records flowing through one plan."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 350000)
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_totalprice").alias("amount"),
            F.col("o_orderpriority").alias("priority"),
        )
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_acctbal").alias("amount"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return o.unionByName(c, allowMissingColumns=True)


@register(
    "try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE l_extendedprice / l_discount END AS price_per_discount,
           CASE WHEN l_quantity = 0 THEN NULL
                ELSE CAST(CAST(trunc(l_extendedprice) AS BIGINT) % CAST(trunc(l_quantity) AS BIGINT)
                     AS BIGINT) END AS price_mod_qty
    FROM lineitem WHERE l_quantity > 49
    """,
    tags=("scalar_fns", "try_functions", "null_semantics"),
)
def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic: try_divide/try_mod return NULL where strict
    ANSI evaluation would throw (division by zero) — the difference
    between a 100 TB job dying hours in on one bad row and a NULL the
    next filter handles. The oracle spells the same semantics with
    explicit zero guards."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide("l_extendedprice", "l_discount").alias("price_per_discount"),
        F.try_mod(
            F.col("l_extendedprice").cast("long"), F.col("l_quantity").cast("long")
        ).alias("price_mod_qty"),
    )


# --- Scalable global ranking (zipWithIndex, DataFrame-native) ---------------
@register(
    "global_rank_bucketed",
    bench=True,
    oracle="""
    SELECT o_orderkey,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(o_orderkey AS VARCHAR)))
               AS global_rank
    FROM orders
    """,
    tags=("bounded_window", "sort", "global_rank", "zip_with_index", "training_order"),
)
def global_rank_bucketed(
    spark: SparkSession, sf_dir: str, prefix_len: int | None = None
) -> DataFrame:
    """Exact global rank over a total order WITHOUT a single-partition
    window — the DataFrame-native zipWithIndex. Deterministic training-data
    shuffling needs every example assigned its position in a global
    pseudo-random order (here: md5 of the key); the naive
    ``row_number() OVER (ORDER BY k)`` collapses 100 TB onto one task.

    Instead: (1) bucket rows by the first ``prefix_len`` hex chars of the
    sort key — a data-INDEPENDENT, uniform, 16^prefix_len-way split, so
    no sampling pass and no skew; (2) rank within each bucket in
    parallel; (3) compute bucket offsets from the tiny count table with a
    window that is trivially single-partition; (4) broadcast-join offsets
    back. Total cost: one shuffle on bucket + one tiny agg — rank =
    offset + local_rank equals the oracle's global ROW_NUMBER exactly
    because buckets are a prefix of the sort key itself.

    ``prefix_len`` (or conf ``spark.graft.globalRank.prefixLen``) scales
    the fan-out to the data: 2 → 256 buckets (fine to ~1 TB), 4 → 65 536
    (each bucket ~1.5 GB at 100 TB). The offset table stays ≤16^prefix_len
    rows, comfortably broadcastable at both widths.
    """
    if prefix_len is None:
        prefix_len = int(spark.conf.get("spark.graft.globalRank.prefixLen", "2"))
    if not 1 <= prefix_len <= 8:
        raise ValueError(f"prefix_len must be in [1, 8], got {prefix_len}")
    o = load_table(spark, sf_dir, "orders")
    k = F.md5(F.col("o_orderkey").cast("string"))
    keyed = o.select(
        "o_orderkey", k.alias("k"), F.substring(k, 1, prefix_len).alias("bucket")
    )
    local = keyed.withColumn(
        "local_rank", F.row_number().over(W.partitionBy("bucket").orderBy("k"))
    )
    # Bucket counts via a SEPARATE map-side-aggregated pass (guide
    # §2.3), deliberately NOT derived from ``local``: the round-13
    # attempt (counts = local.groupBy(bucket).agg(max(local_rank)))
    # aimed to reuse the bucket exchange, but column pruning strips
    # o_orderkey from the count branch, so the two exchanges are never
    # canonically identical, ReusedExchange cannot fire (verified on
    # the executed plan: 0 ReusedExchange), and the "reuse" shape
    # actually paid the full-width shuffle + sort + window TWICE. This
    # shape's second pass reads ONE pruned column (o_orderkey), does a
    # partial count per partition, and shuffles 16^prefix_len partial
    # rows — at 100 TB that is a key-column scan + a few KB of shuffle,
    # strictly cheaper than re-shuffling and re-sorting the table.
    counts = keyed.groupBy("bucket").agg(F.count("*").alias("cnt"))
    offsets = counts.select(
        "bucket",
        F.coalesce(
            F.sum("cnt").over(
                W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("offset"),
    )
    return local.join(F.broadcast(offsets), "bucket").select(
        "o_orderkey", (F.col("offset") + F.col("local_rank")).alias("global_rank")
    )


@register(
    "price_quantity_corr",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               {dsum_sql('l_quantity')} AS sx,
               {dsum_sql('l_extendedprice')} AS sy,
               {dsum_sql('l_quantity * l_extendedprice')} AS sxy,
               {dsum_sql('l_quantity * l_quantity')} AS sxx,
               {dsum_sql('l_extendedprice * l_extendedprice')} AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)) AS pearson_r,
           (CAST(n AS DOUBLE) * sxy - sx * sy) / CAST(n AS DOUBLE)
             / CAST(n - 1 AS DOUBLE) AS sample_cov
    FROM s
    """,
    tags=("statistics", "correlation", "covariance", "aggregate"),
)
def price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation + sample covariance with
    *deterministic* results.

    Spark's `corr`/`covar_samp` (and DuckDB's) accumulate co-moments in
    partition order — same data, different last bits, no value-hash.
    Both engines instead compute the five decimal-exact power sums
    (functions/numeric.py discipline) and derive r and cov with
    identical IEEE double steps — bit-stable on 32 cores or 1000
    executors. One group-keyed partial agg; constant state per group.
    """
    li = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(q).alias("sx"),
        dsum(p).alias("sy"),
        dsum(q * p).alias("sxy"),
        dsum(q * q).alias("sxx"),
        dsum(p * p).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (nd * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "l_returnflag", "n",
        (num / den).alias("pearson_r"),
        (num / nd / (F.col("n") - 1).cast("double")).alias("sample_cov"),
    )


@register(
    "skyline_pareto",
    oracle="""
    WITH spent AS (
        SELECT c.c_nationkey, c.c_custkey, c.c_acctbal,
               CAST(SUM(o.o_totalprice) AS DECIMAL(38,2)) AS total_spent
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
    ),
    lvl AS (
        SELECT c_nationkey, c_acctbal, MAX(total_spent) AS lvl_max
        FROM spent GROUP BY 1, 2
    ),
    run AS (
        SELECT c_nationkey, c_acctbal,
               MAX(lvl_max) OVER (
                   PARTITION BY c_nationkey ORDER BY c_acctbal DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max
        FROM lvl
    )
    SELECT n.n_name AS nation, s.c_custkey AS custkey,
           CAST(s.c_acctbal AS DOUBLE) AS acctbal,
           CAST(s.total_spent AS DOUBLE) AS total_spent
    FROM spent s
    JOIN run r ON r.c_nationkey = s.c_nationkey AND r.c_acctbal = s.c_acctbal
    JOIN nation n ON n.n_nationkey = s.c_nationkey
    WHERE r.prev_max IS NULL OR r.prev_max <= s.total_spent
    """,
    tags=("relational", "skyline", "pareto", "window", "dominance"),
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Pareto frontier (skyline) of customers on the two
    maximize-objectives (account balance, lifetime spend): a customer is
    kept unless some other customer in the nation STRICTLY beats it on
    both. The classic skyline operator (Börzsönyi et al., ICDE'01) — no
    Beam/Spark builtin exists; the reference has no analogue.

    Scale shape — the naive skyline is an O(n²) NOT EXISTS self-join;
    this is the sort-free two-pass version: (1) collapse customers to
    distinct balance LEVELS per nation (partial-agg groupBy), (2) one
    window over the level table — orders of magnitude smaller than the
    customer table — computes the running best spend among strictly
    higher balances, (3) broadcast-join levels back and filter. The
    per-nation window sorts levels, not customers, so a nation with 10M
    customers but 100k distinct balances sorts 100k rows; the dominance
    test itself never leaves the map side. The level table's join back
    carries NO broadcast hint: its cap is nation x balance-domain
    (25 x 1.1M = 27.5M rows) — bounded, but past broadcast-safe — so
    the size-gated planner broadcasts while small and hash-joins on
    the (nation, balance) key beyond (the audit's AGG_CARD_CAP line)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spent = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_nationkey", "c_custkey", "c_acctbal")
        .agg(F.sum("o_totalprice").cast("decimal(38,2)").alias("total_spent"))
    )
    lvl = spent.groupBy("c_nationkey", "c_acctbal").agg(
        F.max("total_spent").alias("lvl_max")
    )
    w = (
        W.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    run = lvl.select(
        "c_nationkey", "c_acctbal", F.max("lvl_max").over(w).alias("prev_max")
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        spent.join(run, ["c_nationkey", "c_acctbal"])
        .filter(F.col("prev_max").isNull() | (F.col("prev_max") <= F.col("total_spent")))
        .join(F.broadcast(nation), spent.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.col("total_spent").cast("double").alias("total_spent"),
        )
    )


@register(
    "group_median_mad",
    oracle="""
    WITH m AS (
        SELECT event_type, median(value) AS med FROM events GROUP BY 1
    )
    SELECT e.event_type,
           ANY_VALUE(m.med) AS median_value,
           median(abs(e.value - m.med)) AS mad
    FROM events e JOIN m USING (event_type)
    GROUP BY e.event_type
    """,
    tags=("relational", "robust_stats", "median", "mad", "percentile"),
)
def group_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT median and median-absolute-deviation — the robust
    location/scale pair that survives the heavy-tailed value columns a
    quality pipeline meets (outlier events would wreck mean/stddev; cf.
    value_outliers for the 3-sigma contrast). Both engines interpolate
    the even-count median identically (lower + (upper-lower)*frac on
    doubles), so the result value-hashes with no rounding fudge.

    Two passes by necessity (MAD is a median OF residuals around the
    median): pass 1 is a groupBy percentile; the per-group medians —
    one row per group — broadcast back into the fact table, so pass 2
    costs one more shuffle on the same key and nothing else. At 100 TB
    exact per-group percentile needs the full sorted group (Spark's
    percentile agg buffers per group); for billion-row groups swap in
    percentile_approx or the quantile_bin_sketch — this query is the
    exact-answer member of that family."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("median_value"),
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"),
        )
    )


@register(
    "ntile_quartile_stats",
    oracle="""
    WITH q AS (
        SELECT c_nationkey, c_acctbal,
               NTILE(4) OVER (
                   PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
               ) AS quartile
        FROM customer
    )
    SELECT c_nationkey AS nationkey, quartile,
           COUNT(*) AS n_customers,
           CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
           CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE) AS sum_bal
    FROM q GROUP BY 1, 2
    """,
    tags=("relational", "window", "ntile", "equal_frequency_binning"),
)
def ntile_quartile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning: NTILE(4) splits each nation's customers
    into balance quartiles, then per-bin boundaries and exact-decimal
    sums — the discretization step feature pipelines use before
    bucketized joins or monotonic-feature models. Tie order is pinned by
    c_custkey (NTILE is order-sensitive; an unpinned tie would never
    value-hash). The window partitions by nation, so the sort is
    per-nation — the global-NTILE variant would funnel the table through
    one task, which is exactly what global_rank_bucketed's two-phase
    trick exists to avoid; partition-scoped NTILE needs no such rescue."""
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    q = cust.select(
        "c_nationkey", "c_acctbal", F.ntile(4).over(w).cast("long").alias("quartile")
    )
    return q.groupBy(
        F.col("c_nationkey").alias("nationkey"), "quartile"
    ).agg(
        F.count("*").alias("n_customers"),
        F.min("c_acctbal").cast("double").alias("min_bal"),
        F.max("c_acctbal").cast("double").alias("max_bal"),
        dsum(F.col("c_acctbal")).alias("sum_bal"),
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 2) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 10
    """,
    tags=("relational", "sql_api", "pipe_syntax", "spark4"),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (SPARK-49555): the linear `FROM … |>`
    form that reads in dataflow order — the SQL-surface twin of the
    Beam-style fluent pipeline API (operators/pipeline.py), showing both
    front-ends lower to the same Catalyst plan. The |> WHERE after the
    AGGREGATE is a HAVING in classic syntax; pushdown/partial-agg
    behavior is identical because pipe syntax is pure parse-level
    sugar."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe")
    return spark.sql(
        """
        FROM orders_pipe
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                          AS DECIMAL(38,2)) AS DOUBLE) AS total_price
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        |> SELECT o_orderpriority, n_orders, total_price
        """
    )


@register(
    "quantile_normalize",
    oracle="""
    WITH r AS (
        SELECT event_id, event_type, value,
               PERCENT_RANK() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS qnorm
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(qnorm * value AS DECIMAL(38,10))), 2) AS DOUBLE)
               AS weighted_sum,
           CAST(MAX(CASE WHEN qnorm >= 0.99 THEN value END) AS DOUBLE)
               AS p99_plus_max
    FROM r GROUP BY event_type
    """,
    tags=("relational", "window", "quantile_normalization", "feature_prep"),
)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of a heavy-tailed feature: each
    value maps to its within-group PERCENT_RANK — the distribution-free
    transform feature pipelines apply before models that assume
    uniform marginals. percent_rank = (rank-1)/(n-1) is a ratio of
    integers, so the normalized feature is engine-deterministic (tie
    order pinned by event_id); the aggregate projection (decimal-exact
    weighted sum + a tail max) keeps the output hashable while proving
    the per-row transform.

    Scale: one hash partition by event_type + in-partition sort — the
    same shape as any ranked window; for groups too large for one
    task's sort, the two-phase global_rank_bucketed decomposition
    applies unchanged."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    r = e.select(
        "event_type", "value",
        F.percent_rank().over(w).alias("qnorm"),
    )
    return r.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("qnorm") * F.col("value")).cast("decimal(38,10)"))
        .cast("decimal(38,2)").cast("double").alias("weighted_sum"),
        F.max(F.when(F.col("qnorm") >= 0.99, F.col("value")))
        .cast("double").alias("p99_plus_max"),
    )


@register(
    "dq_contract_check",
    oracle="""
    WITH o AS (
        SELECT COUNT(*) FILTER (WHERE o_totalprice <= 0) AS nonpositive_price,
               COUNT(*) - COUNT(DISTINCT o_orderkey) AS duplicate_orderkeys
        FROM orders
    ),
    orph AS (
        SELECT COUNT(*) AS orphan_custkeys
        FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    ),
    l AS (
        SELECT COUNT(*) FILTER (WHERE l_discount > 0.08) AS discount_over_max,
               COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
                   AS quantity_out_of_range,
               COUNT(*) FILTER (WHERE l_shipdate > TIMESTAMP '2000-06-30')
                   AS shipped_after_cutoff
        FROM lineitem
    )
    SELECT rule, n_violations, n_violations = 0 AS passed FROM (
        SELECT 'orders.nonpositive_price' AS rule,
               nonpositive_price AS n_violations FROM o
        UNION ALL SELECT 'orders.duplicate_orderkeys', duplicate_orderkeys FROM o
        UNION ALL SELECT 'orders.orphan_custkeys', orphan_custkeys FROM orph
        UNION ALL SELECT 'lineitem.discount_over_max', discount_over_max FROM l
        UNION ALL SELECT 'lineitem.quantity_out_of_range', quantity_out_of_range FROM l
        UNION ALL SELECT 'lineitem.shipped_after_cutoff', shipped_after_cutoff FROM l
    )
    """,
    tags=("relational", "data_quality", "contract", "referential_integrity"),
)
def dq_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality contract evaluation — the validation gate a 100 TB
    ingest runs before promoting a partition: null/range rules,
    key-uniqueness, and referential integrity, each reported as
    (rule, violation count, passed). The fixture genuinely violates the
    discount/shipdate rules and satisfies the rest, so both outcomes are
    exercised.

    Scale shape: ALL rules for a table fold into ONE conditional
    aggregate over ONE scan (no per-rule passes — six rules cost two
    table scans plus the orphan check), then a stack()/unpivot to rule
    rows. The referential check left-anti-joins against the customer
    key column only — broadcast when the dimension fits (as here), the
    standard shuffle otherwise; never a NOT IN subquery rewrite that
    degrades to a nested loop."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    o_agg = o.agg(
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("nonpositive_price"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("duplicate_orderkeys"),
    )
    orphans = (
        o.select("o_custkey")
        .join(cust, o.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count("*").alias("orphan_custkeys"))
    )
    l_agg = li.agg(
        F.count(F.when(F.col("l_discount") > 0.08, 1)).alias("discount_over_max"),
        F.count(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
        ).alias("quantity_out_of_range"),
        F.count(
            F.when(F.col("l_shipdate") > F.lit("2000-06-30").cast("timestamp"), 1)
        ).alias("shipped_after_cutoff"),
    )
    wide = o_agg.crossJoin(F.broadcast(orphans)).crossJoin(F.broadcast(l_agg))
    rules = wide.select(
        F.expr(
            "stack(6, "
            "'orders.nonpositive_price', nonpositive_price, "
            "'orders.duplicate_orderkeys', duplicate_orderkeys, "
            "'orders.orphan_custkeys', orphan_custkeys, "
            "'lineitem.discount_over_max', discount_over_max, "
            "'lineitem.quantity_out_of_range', quantity_out_of_range, "
            "'lineitem.shipped_after_cutoff', shipped_after_cutoff) "
            "AS (rule, n_violations)"
        )
    )
    return rules.select(
        "rule", "n_violations", (F.col("n_violations") == 0).alias("passed")
    )


@register(
    "incremental_agg_merge",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("relational", "incremental", "mergeable_state", "materialized_view"),
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the running per-group state
    (count + exact-decimal sum) built from history is MERGED with the
    state of one new partition — no rescan of history. The oracle is
    the full-table aggregate, so the MATCH is the proof that
    merge(state(old), state(new)) == recompute(old ∪ new), which is
    exactly the property that lets a 100 TB materialized aggregate
    absorb a daily partition by reading only that partition.

    Both legs push their ts predicate into the parquet scan; the merge
    itself is a union of two group-cardinality state tables and one
    tiny final combine — the same mergeable-state discipline as the
    sketches family (constant-size state per group, associative
    merge)."""
    cutoff = F.lit("2024-01-24").cast("timestamp")
    e = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")

    def _state(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)")).alias("sum_state"),
        )

    base_state = _state(e.filter(F.col("ts") < cutoff))     # "yesterday's" MV
    delta_state = _state(e.filter(F.col("ts") >= cutoff))   # today's partition
    return (
        base_state.unionByName(delta_state)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_state").cast("decimal(38,2)").cast("double")
            .alias("total_value"),
        )
    )


@register(
    "listagg_ordered",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
               AS statuses,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("relational", "listagg", "ordered_string_agg", "spark4"),
)
def listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ANSI ``LISTAGG (… ) WITHIN GROUP (ORDER BY …)`` — the
    standard ordered string aggregation (reports, label lists) that
    previously needed the array_sort∘collect_list idiom
    (group_by_key_collect). WITHIN GROUP makes the concatenation order
    part of the aggregate's contract, so the result is deterministic by
    construction — no post-sort, no partition-order leak; DISTINCT
    bounds the state by value cardinality, not row count."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_la")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               COUNT(*) AS n_orders
        FROM orders_la
        GROUP BY o_orderpriority
        """
    )


@register(
    "rfm_segmentation",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               date_diff('day', MAX(o_orderdate), TIMESTAMP '2001-09-01')
                   AS recency_days,
               COUNT(*) AS frequency,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 2)
                   AS DOUBLE) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey, recency_days, frequency, monetary,
               NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
               NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
               NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
        FROM rfm
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(monetary AS DECIMAL(38,10))), 2) AS DOUBLE)
               AS segment_value
    FROM scored
    GROUP BY 1, 2, 3
    """,
    tags=("bounded_window", "relational", "rfm", "segmentation", "ntile", "marketing"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency/frequency/monetary quintile
    scores, the standard marketing cut: per-customer aggregate (one
    shuffle), three global NTILE(5) scores (best = 1), then segment
    rollup with exact-decimal value. Ties pinned by custkey so every
    score is deterministic.

    Scale path (round-8): each NTILE decomposes into the bucketed
    two-phase global rank (`bucketed_order_scan` — ranks in parallel
    within order-preserving bands: calendar day for recency, the
    order-count value for frequency, $10k bands for monetary; every
    band count is value-range-bounded) plus the exact NTILE arithmetic
    from (rank, n): with q = n div 5, rem = n mod 5, the first rem
    tiles hold q+1 rows — bit-identical to the window NTILE at any
    entity count, with no single-task sort anywhere."""
    o = load_table(spark, sf_dir, "orders")
    asof = F.lit("2001-09-01").cast("timestamp")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(asof, F.max("o_orderdate")).alias("recency_days"),
        F.count("*").alias("frequency"),
        dsum("o_totalprice").alias("monetary"),
    )
    ranked = bucketed_order_scan(
        rfm,
        F.col("recency_days").cast("long"),
        [F.col("recency_days"), F.col("o_custkey")],
        rank_name="r_rank",
    )
    ranked = bucketed_order_scan(
        ranked,
        F.col("frequency"),
        [F.col("frequency").desc(), F.col("o_custkey")],
        rank_name="f_rank",
        descending_bucket=True,
    )
    ranked = bucketed_order_scan(
        ranked,
        F.floor(F.col("monetary") / F.lit(10_000.0)).cast("long"),
        [F.col("monetary").desc(), F.col("o_custkey")],
        rank_name="m_rank",
        descending_bucket=True,
    )
    n_total = rfm.agg(F.count("*").alias("n_total"))

    def ntile5(r: F.Column) -> F.Column:
        n = F.col("n_total")
        q = F.floor(n / F.lit(5)).cast("long")
        rem = (n % 5).cast("long")
        cut = rem * (q + 1)
        head = F.floor((r - 1) / (q + 1)).cast("long") + 1
        tail = rem + F.floor(
            (r - cut - 1) / F.greatest(q, F.lit(1))
        ).cast("long") + 1
        return F.when(r <= cut, head).otherwise(tail).cast("long")

    scored = ranked.crossJoin(F.broadcast(n_total)).select(
        "o_custkey", "monetary",
        ntile5(F.col("r_rank")).alias("r_score"),
        ntile5(F.col("f_rank")).alias("f_score"),
        ntile5(F.col("m_rank")).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        dsum(F.col("monetary")).alias("segment_value"),
    )


@register(
    "benford_first_digit",
    oracle="""
    SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
               AS first_digit,
           COUNT(*) AS n_orders,
           CAST(COUNT(*) AS DOUBLE)
               / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS observed_freq
    FROM orders
    WHERE o_totalprice >= 1
    GROUP BY 1
    """,
    tags=("relational", "benford", "audit", "fraud_detection"),
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order totals — the audit
    screen for fabricated numbers (fraudulent amounts skew uniform
    where organic ones follow log(1+1/d)). The digit comes from the
    integer part's string head — pure integer/string ops, identical in
    both engines, where the textbook floor(x/10^floor(log10 x)) would
    ride libm. Observed frequencies are count ratios via a
    grand-total window over the 9-row aggregate (constant size);
    comparing against the Benford curve happens client-side where the
    logs can't break the value hash."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    counts = o.groupBy(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        ).alias("first_digit")
    ).agg(F.count("*").alias("n_orders"))
    total = F.sum("n_orders").over(W.partitionBy())
    return counts.select(
        "first_digit",
        "n_orders",
        (F.col("n_orders").cast("double") / total.cast("double")).alias(
            "observed_freq"
        ),
    )


@register(
    "revenue_concentration_8020",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 2)
                   AS DOUBLE) AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT revenue,
               ROW_NUMBER() OVER (ORDER BY revenue DESC, o_custkey) AS rnk,
               CAST(SUM(CAST(revenue AS DECIMAL(38,10))) OVER (
                   ORDER BY revenue DESC, o_custkey
                   ROWS UNBOUNDED PRECEDING
               ) AS DOUBLE) AS cum_revenue,
               CAST(SUM(CAST(revenue AS DECIMAL(38,10))) OVER () AS DOUBLE)
                   AS total_revenue,
               COUNT(*) OVER () AS n_customers
        FROM cust
    )
    SELECT CAST(MIN(rnk) AS BIGINT) AS customers_to_80pct,
           CAST(ANY_VALUE(n_customers) AS BIGINT) AS n_customers,
           CAST(MIN(rnk) AS DOUBLE) / CAST(ANY_VALUE(n_customers) AS DOUBLE)
               AS customer_share
    FROM ranked
    WHERE cum_revenue >= 0.8 * total_revenue
    """,
    tags=("bounded_window", "relational", "concentration", "pareto_8020", "cumulative"),
)
def revenue_concentration_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 question): how many top
    customers carry 80% of revenue. Customer revenues aggregate first
    (one shuffle); the cumulative scan runs over that entity-level
    table with decimal-exact running sums via the bucketed two-phase
    decomposition (`bucketed_order_scan`): rank and running revenue
    computed in parallel within descending $10k revenue bands
    (value-range-bounded band count), band offsets from the tiny band
    table — no single-task ordering of the entity table. Grand totals
    ride one broadcast scalar row."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,10)"
    cust = o.groupBy("o_custkey").agg(dsum("o_totalprice").alias("revenue"))
    totals = cust.agg(
        F.sum(F.col("revenue").cast(dec)).cast("double").alias("total_revenue"),
        F.count("*").alias("n_customers"),
    )
    scanned = bucketed_order_scan(
        cust,
        F.floor(F.col("revenue") / F.lit(10_000.0)).cast("long"),
        [F.col("revenue").desc(), F.col("o_custkey")],
        rank_name="rnk",
        running={"cum_rev_dec": F.col("revenue").cast(dec)},
        descending_bucket=True,
    )
    ranked = scanned.crossJoin(F.broadcast(totals)).select(
        "rnk",
        F.col("cum_rev_dec").cast("double").alias("cum_revenue"),
        "total_revenue",
        "n_customers",
    )
    hit = ranked.filter(F.col("cum_revenue") >= 0.8 * F.col("total_revenue"))
    return hit.agg(
        F.min("rnk").cast("long").alias("customers_to_80pct"),
        F.first("n_customers").cast("long").alias("n_customers"),
        (
            F.min("rnk").cast("double") / F.first("n_customers").cast("double")
        ).alias("customer_share"),
    )


@register(
    "duplicate_payment_detection",
    oracle="""
    WITH w AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
               LAG(o_orderdate) OVER (
                   PARTITION BY o_custkey, FLOOR(o_totalprice / 10000)
                   ORDER BY o_orderdate, o_orderkey
               ) AS prev_date
        FROM orders
    )
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS amount,
           CAST(date_diff('day', prev_date, o_orderdate) AS BIGINT)
               AS days_since_prev
    FROM w
    WHERE prev_date IS NOT NULL
      AND o_orderdate - prev_date <= INTERVAL '180 days'
    """,
    tags=("relational", "fraud_audit", "duplicate_payment", "window"),
)
def duplicate_payment_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screen — the accounts-payable audit: flag
    orders where the SAME customer was charged a SIMILAR amount (same
    10k band — the fixture's prices are near-unique, so exact-amount
    matching would be vacuous; production tunes the band to its price
    granularity) within 180 days of the previous one. One window pass
    partitioned by (customer, band) — the composite partition key IS
    the blocking strategy: candidates only form inside a band, so no
    pairwise comparison or time-range self-join exists in the plan.
    Tie order pinned by orderkey."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy(
        "o_custkey", F.floor(F.col("o_totalprice") / 10000)
    ).orderBy("o_orderdate", "o_orderkey")
    flagged = o.select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("amount"),
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev_date"),
    )
    return (
        flagged.filter(
            F.col("prev_date").isNotNull()
            & (F.datediff("o_orderdate", "prev_date") <= 180)
        )
        .select(
            "o_orderkey", "o_custkey", "amount",
            F.datediff("o_orderdate", "prev_date").cast("long").alias(
                "days_since_prev"
            ),
        )
    )


@register(
    "table_diff_reconcile",
    oracle="""
    WITH v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0
                    THEN CAST(o_totalprice + 1 AS DECIMAL(12,2))
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 101 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 103 = 0
    ),
    j AS (
        SELECT a.o_orderkey AS k1, b.o_orderkey AS k2,
               a.o_totalprice AS p1, b.o_totalprice AS p2,
               a.o_orderstatus AS s1, b.o_orderstatus AS s2
        FROM orders a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
    )
    SELECT CASE WHEN k2 IS NULL THEN 'removed'
                WHEN k1 IS NULL THEN 'added'
                WHEN p1 <> p2 OR s1 <> s2 THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE k1 IS NOT NULL AND k2 IS NOT NULL
                            AND p1 <> p2) AS price_changes
    FROM j GROUP BY 1
    """,
    tags=("relational", "table_diff", "reconciliation", "full_outer"),
)
def table_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based table diff (the data-reconciliation tool): two
    versions of a table full-outer-joined on the key, every row
    classified added / removed / changed / unchanged, with per-column
    change counts — what a migration sign-off or a CDC-pipeline
    validation actually reads. Version 2 is synthesized
    deterministically (drop every 101st key, bump every 97th price,
    append every 103rd under a fresh key) so all four classes
    exercise. One co-partitioned full outer join
    + one aggregate; at 100 TB both sides hash-partition on the key
    and the compare is map-side — and if the versions are bucketed
    copies, the join needs no shuffle at all (bucketed_join_colocated
    shows that layout)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v2 = o.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 97 == 0,
            (F.col("o_totalprice") + 1).cast("decimal(12,2)"),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    ).unionByName(
        o.filter(F.col("o_orderkey") % 103 == 0).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            "o_totalprice",
            "o_orderstatus",
        )
    )
    a = o.select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_totalprice").alias("p1"),
        F.col("o_orderstatus").alias("s1"),
    )
    b = v2.select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_totalprice").alias("p2"),
        F.col("o_orderstatus").alias("s2"),
    )
    j = a.join(b, a.k1 == b.k2, "full_outer")
    change = (
        F.when(F.col("k2").isNull(), "removed")
        .when(F.col("k1").isNull(), "added")
        .when(
            (F.col("p1") != F.col("p2")) | (F.col("s1") != F.col("s2")), "changed"
        )
        .otherwise("unchanged")
    )
    return j.groupBy(change.alias("change_type")).agg(
        F.count("*").alias("n_rows"),
        F.count(
            F.when(
                F.col("k1").isNotNull()
                & F.col("k2").isNotNull()
                & (F.col("p1") != F.col("p2")),
                1,
            )
        ).alias("price_changes"),
    )


@register(
    "column_profile",
    oracle="""
    SELECT 'o_totalprice' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_totalprice) AS n_nulls,
           COUNT(DISTINCT o_totalprice) AS n_distinct,
           CAST(MIN(o_totalprice) AS VARCHAR) AS min_value,
           CAST(MAX(o_totalprice) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
    tags=("relational", "profiling", "column_stats", "discovery"),
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler — the first thing a data catalog runs on a new
    table: per-column row/null/distinct counts and min/max, in long
    format. ALL columns profile in ONE scan and one aggregate (each
    metric is a conditional agg column; the long format comes from a
    post-agg stack over the 1-row wide result), not one pass per
    column — the difference between a profiler that works at 100 TB
    and one that reads the table N times. Values stringify for the
    uniform schema; DuckDB prints decimals with their scale, so the
    cast matches Spark's decimal rendering."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.agg(
        F.count("*").alias("n"),
        F.count("o_totalprice").alias("c_p"),
        F.countDistinct("o_totalprice").alias("d_p"),
        F.min("o_totalprice").cast("string").alias("min_p"),
        F.max("o_totalprice").cast("string").alias("max_p"),
        F.count("o_orderstatus").alias("c_s"),
        F.countDistinct("o_orderstatus").alias("d_s"),
        F.min("o_orderstatus").alias("min_s"),
        F.max("o_orderstatus").alias("max_s"),
        F.count("o_orderpriority").alias("c_o"),
        F.countDistinct("o_orderpriority").alias("d_o"),
        F.min("o_orderpriority").alias("min_o"),
        F.max("o_orderpriority").alias("max_o"),
    )
    return wide.select(
        F.expr(
            "stack(3, "
            "'o_totalprice', n, n - c_p, d_p, min_p, max_p, "
            "'o_orderstatus', n, n - c_s, d_s, min_s, max_s, "
            "'o_orderpriority', n, n - c_o, d_o, min_o, max_o) "
            "AS (column_name, n_rows, n_nulls, n_distinct, min_value, max_value)"
        )
    )


@register(
    "latency_percentiles",
    oracle="""
    WITH lat AS (
        SELECT o.o_orderpriority,
               date_diff('day', o.o_orderdate, l.l_shipdate) AS ship_days
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(quantile_cont(ship_days, 0.5) AS DOUBLE) AS p50_days,
           CAST(quantile_cont(ship_days, 0.9) AS DOUBLE) AS p90_days,
           CAST(quantile_cont(ship_days, 0.99) AS DOUBLE) AS p99_days
    FROM lat GROUP BY o_orderpriority
    """,
    tags=("relational", "latency", "sla", "percentile"),
)
def latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfilment-latency SLO report: order→ship days, exact
    p50/p90/p99 per priority class — the latency-distribution view
    every operations dashboard leads with (means hide the tail; the
    p99 IS the SLO). Latencies are integer day counts, so the exact
    percentile interpolation is identical in both engines with no
    rounding fudge. One fact-fact join on the order key + one
    percentile aggregate; at extreme group sizes the same slot takes
    percentile_approx or quantile_bin_sketch (the documented
    exact-vs-sketch family trade)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "o_orderpriority",
            F.datediff("l_shipdate", "o_orderdate").alias("ship_days"),
        )
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.percentile("ship_days", F.lit(0.5)).alias("p50_days"),
        F.percentile("ship_days", F.lit(0.9)).alias("p90_days"),
        F.percentile("ship_days", F.lit(0.99)).alias("p99_days"),
    )


@register(
    "date_dimension_rollup",
    oracle="""
    WITH spine AS (
        SELECT CAST(unnest(generate_series(DATE '1995-01-01',
                                           DATE '2001-12-31',
                                           INTERVAL '1 day')) AS TIMESTAMP) AS d
    ),
    dim AS (
        SELECT d,
               ((date_diff('day', TIMESTAMP '1970-01-01', d) + 4) % 7) AS dow,
               ((date_diff('day', TIMESTAMP '1970-01-01', d) + 4) % 7) IN (0, 6)
                   AS is_weekend
        FROM spine
    )
    SELECT EXTRACT(year FROM o.o_orderdate) AS yr,
           dim.is_weekend,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,10))), 2) AS DOUBLE)
               AS revenue
    FROM orders o JOIN dim ON dim.d = o.o_orderdate
    GROUP BY 1, 2
    """,
    tags=("relational", "date_dimension", "calendar_join", "broadcast"),
)
def date_dimension_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse date-dimension pattern: a generated calendar spine
    (sequence(), ~2.5k rows) carrying derived attributes, broadcast
    into the fact table — how real schemas answer is-weekend /
    fiscal-period questions without re-deriving calendar math in every
    query. Day-of-week is PURE ARITHMETIC ((epoch_days + 4) % 7,
    Sunday = 0) instead of the engines' dayofweek builtins, which
    disagree on numbering (Spark 1=Sunday, DuckDB 0=Sunday) — the
    cross-engine determinism habit applied to calendars. The dimension
    broadcasts (kilobytes for decades of days); revenue sums are
    decimal-exact."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-12-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("d0")
    ).select(F.col("d0").cast("timestamp").alias("d"))
    epoch_days = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    dim = spine.select(
        "d",
        ((epoch_days + 4) % 7).alias("dow"),
        ((epoch_days + 4) % 7).isin(0, 6).alias("is_weekend"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    return (
        o.join(F.broadcast(dim), dim.d == o.o_orderdate)
        .groupBy(
            F.year("o_orderdate").cast("long").alias("yr"), "is_weekend"
        )
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )


@register(
    "gdpr_delete_cascade",
    oracle="""
    WITH tombstones AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 71 = 0
    ),
    dead_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM tombstones)
    )
    SELECT t.table_name, t.rows_deleted, t.rows_surviving FROM (
        SELECT 'customer' AS table_name,
               (SELECT COUNT(*) FROM tombstones) AS rows_deleted,
               (SELECT COUNT(*) FROM customer) -
                   (SELECT COUNT(*) FROM tombstones) AS rows_surviving
        UNION ALL
        SELECT 'orders',
               (SELECT COUNT(*) FROM dead_orders),
               (SELECT COUNT(*) FROM orders) -
                   (SELECT COUNT(*) FROM dead_orders)
        UNION ALL
        SELECT 'lineitem',
               (SELECT COUNT(*) FROM lineitem
                WHERE l_orderkey IN (SELECT o_orderkey FROM dead_orders)),
               (SELECT COUNT(*) FROM lineitem) -
                   (SELECT COUNT(*) FROM lineitem
                    WHERE l_orderkey IN (SELECT o_orderkey FROM dead_orders))
    ) t
    """,
    tags=("relational", "gdpr", "delete_cascade", "compliance", "anti_join"),
)
def gdpr_delete_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact analysis: a tombstone set of customers
    cascades through the foreign-key chain (customer → orders →
    lineitem), reporting rows deleted vs surviving per table — the
    dry-run a compliance pipeline executes before the actual
    partition-rewrite deletes. Each hop is a SEMI join against the
    previous hop's keys (ids only — customer keys broadcast, order
    keys flow into one lineitem semi join); the actual delete is the
    same plan with anti joins writing the survivors. Nothing scans
    twice: per table, one conditional count over one semi-join-flagged
    scan."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    dead = F.col("c_custkey") % 71 == 0
    tomb = cust.filter(dead)
    c_row = cust.agg(
        F.lit("customer").alias("table_name"),
        F.count(F.when(dead, 1)).alias("rows_deleted"),
        F.count(F.when(~dead, 1)).alias("rows_surviving"),
    )
    # flag-join instead of semi+count pairs: one scan per table, one
    # conditional aggregate — no driver-side counting anywhere
    o_flag = orders.join(
        tomb, orders.o_custkey == tomb.c_custkey, "left"
    ).select("o_orderkey", F.col("c_custkey").isNotNull().alias("is_dead"))
    o_row = o_flag.agg(
        F.lit("orders").alias("table_name"),
        F.count(F.when(F.col("is_dead"), 1)).alias("rows_deleted"),
        F.count(F.when(~F.col("is_dead"), 1)).alias("rows_surviving"),
    )
    dead_orders = o_flag.filter("is_dead").select("o_orderkey")
    l_flag = li.join(
        dead_orders, li.l_orderkey == dead_orders.o_orderkey, "left"
    ).select(dead_orders.o_orderkey.isNotNull().alias("is_dead"))
    l_row = l_flag.agg(
        F.lit("lineitem").alias("table_name"),
        F.count(F.when(F.col("is_dead"), 1)).alias("rows_deleted"),
        F.count(F.when(~F.col("is_dead"), 1)).alias("rows_surviving"),
    )
    return c_row.unionByName(o_row).unionByName(l_row)


@register(
    "keyset_pagination",
    oracle="""
    WITH anchor AS (
        SELECT o_totalprice AS ap, o_orderkey AS ak
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 1 OFFSET 49
    )
    SELECT o.o_orderkey, CAST(o.o_totalprice AS DOUBLE) AS total_price
    FROM orders o, anchor
    WHERE (o.o_totalprice < anchor.ap)
       OR (o.o_totalprice = anchor.ap AND o.o_orderkey > anchor.ak)
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 25
    """,
    tags=("relational", "pagination", "keyset", "topk"),
)
def keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination — page 3 of the price-ranked order list
    fetched by WHERE (price, key) < last-seen instead of
    OFFSET 50: the pattern that keeps 'page N' cost INDEPENDENT of N.
    OFFSET must sort-and-discard everything above the page (page
    10,000 of a 100 TB listing = a near-full sort every request);
    the keyset predicate pushes into the scan and the engine keeps
    only 25 rows via TakeOrderedAndProject. The anchor tuple here is
    derived in-query for oracle determinism (a real API passes the
    client's cursor); the composite (price, key) keyset makes the
    order total so pages never skip or repeat under ties."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    anchor = F.broadcast(
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(50)
        .orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").desc())
        .limit(1)
        .select(
            F.col("o_totalprice").alias("ap"), F.col("o_orderkey").alias("ak")
        )
    )
    return (
        o.crossJoin(anchor)
        .filter(
            (F.col("o_totalprice") < F.col("ap"))
            | (
                (F.col("o_totalprice") == F.col("ap"))
                & (F.col("o_orderkey") > F.col("ak"))
            )
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
        )
    )


@register(
    "diversified_topk",
    oracle="""
    WITH spend AS (
        SELECT c.c_custkey, c.c_nationkey,
               CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,10))), 2)
                   AS DOUBLE) AS revenue
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    diversified AS (
        SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY c_nationkey
                      ORDER BY revenue DESC, c_custkey
                  ) AS nation_rank
        FROM spend
    )
    SELECT c_custkey AS custkey, c_nationkey AS nationkey, revenue,
           CAST(nation_rank AS BIGINT) AS nation_rank
    FROM diversified
    WHERE nation_rank <= 2
    ORDER BY revenue DESC, c_custkey
    LIMIT 10
    """,
    tags=("relational", "diversified_topk", "ranking", "window"),
)
def diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k: the 10 highest-revenue customers subject to AT
    MOST 2 PER NATION — the result-diversification constraint every
    leaderboard/search surface applies so one hot group doesn't fill
    the page. Two-stage: a per-group ROW_NUMBER caps group
    representation (map-side WindowGroupLimit prunes to 2 per nation
    before the exchange), then a global TakeOrderedAndProject picks 10
    from the ≤2·|nations| survivors — the global sort never sees more
    than the cap times the group count, which is what makes
    diversified ranking feasible when the raw ranking would be
    dominated by one segment."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("revenue").desc(), F.col("c_custkey")
    )
    return (
        spend.withColumn("nation_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("nation_rank") <= 2)
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_nationkey").alias("nationkey"),
            "revenue",
            "nation_rank",
        )
    )


@register(
    "qq_deciles_compare",
    oracle="""
    WITH a AS (
        SELECT unnest(quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]))
                   AS qa,
               generate_subscripts(quantile_cont(value,
                   [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), 1) AS decile
        FROM events WHERE event_type = 'click'
    ),
    b AS (
        SELECT unnest(quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]))
                   AS qb,
               generate_subscripts(quantile_cont(value,
                   [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), 1) AS decile
        FROM events WHERE event_type = 'purchase'
    )
    SELECT a.decile, a.qa AS click_decile, b.qb AS purchase_decile,
           b.qb - a.qa AS qq_gap
    FROM a JOIN b USING (decile)
    """,
    tags=("relational", "qq_plot", "distribution_compare", "percentile"),
)
def qq_deciles_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QQ comparison data: matched deciles of two value distributions
    (click vs purchase) with their gaps — the quantile-quantile view
    that shows WHERE two distributions diverge, not just whether
    (drift monitors give a scalar; this gives the shape). Exact
    multi-quantile aggregates (one array-percentile per side, both
    interpolating identically on doubles) exploded to decile rows and
    aligned by position — two scans, two constant-size results, one
    9-row join."""
    e = load_table(spark, sf_dir, "events")
    qs = F.lit([i / 10.0 for i in range(1, 10)])

    def side(t: str, out: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == t)
            .agg(F.percentile("value", qs).alias("q"))
            .select(F.posexplode("q").alias("pos0", out))
            .select((F.col("pos0") + 1).alias("decile"), out)
        )

    a = side("click", "click_decile")
    b = side("purchase", "purchase_decile")
    return (
        a.join(b, "decile")
        .select(
            F.col("decile").cast("long").alias("decile"),
            "click_decile",
            "purchase_decile",
            (F.col("purchase_decile") - F.col("click_decile")).alias("qq_gap"),
        )
    )


@register(
    "cohort_ltv_curve",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               MIN(EXTRACT(year FROM o_orderdate)) AS cohort_year
        FROM orders GROUP BY o_custkey
    ),
    rev AS (
        SELECT f.cohort_year,
               EXTRACT(year FROM o.o_orderdate) - f.cohort_year AS age_years,
               CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,10))), 2)
                   AS DOUBLE) AS revenue
        FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
        GROUP BY 1, 2
    )
    SELECT cohort_year, age_years, revenue,
           CAST(ROUND(SUM(CAST(revenue AS DECIMAL(38,10))) OVER (
               PARTITION BY cohort_year ORDER BY age_years
               ROWS UNBOUNDED PRECEDING
           ), 2) AS DOUBLE) AS cumulative_ltv
    FROM rev
    """,
    tags=("relational", "cohort", "ltv", "finance", "cumulative"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: customers grouped by first-purchase year,
    revenue accumulated by cohort age — the lifetime-value view that
    tells finance whether newer cohorts monetize faster
    (cohort_retention is the activity twin; this is the money twin).
    First-purchase assignment is one per-customer aggregate joined
    back into the fact (at 100 TB: the join is keyed on customer —
    the same shuffle the revenue rollup needs anyway); the cumulative
    curve is a window over the (cohort × age) aggregate, constant
    size. Sums exact-decimal end to end, including the running
    total."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year")
    )
    rev = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort_year",
            (F.year("o_orderdate") - F.col("cohort_year")).alias("age_years"),
        )
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = (
        W.partitionBy("cohort_year")
        .orderBy("age_years")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return rev.select(
        F.col("cohort_year").cast("long").alias("cohort_year"),
        F.col("age_years").cast("long").alias("age_years"),
        "revenue",
        F.sum(F.col("revenue").cast("decimal(38,10)"))
        .over(w)
        .cast("decimal(38,2)")
        .cast("double")
        .alias("cumulative_ltv"),
    )


@register(
    "revenue_waterfall",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,10))), 2)
               AS DOUBLE) AS gross,
           CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(10,2))
               * CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(38,10))), 2)
               AS DOUBLE) AS discount_given,
           CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(10,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
               * CAST(l_tax AS DECIMAL(3,2)) AS DECIMAL(38,10))), 2)
               AS DOUBLE) AS tax_collected,
           CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(10,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
               AS DECIMAL(38,10))), 2) AS DOUBLE) AS net_revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("relational", "waterfall", "finance", "decomposition"),
)
def revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue waterfall: gross → −discount → +tax → net, decomposed per
    return flag — the bridge chart every finance review opens with,
    and an exactness stress test: all four components are separate
    exact-decimal sums over the same tight-precision products as Q1
    (gross − discount = net holds to the cent BY CONSTRUCTION, not
    approximately — a float pipeline can't promise that). One scan,
    one aggregate, four conditional measures."""
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    price = F.col("l_extendedprice").cast("decimal(10,2)")
    disc = F.col("l_discount").cast("decimal(3,2)")
    tax = F.col("l_tax").cast("decimal(3,2)")
    return li.groupBy("l_returnflag").agg(
        dsum(F.col("l_extendedprice")).alias("gross"),
        dsum(price * disc).alias("discount_given"),
        dsum(price * (one - disc) * tax).alias("tax_collected"),
        dsum(price * (one - disc)).alias("net_revenue"),
    )


@register(
    "partition_skew_report",
    oracle="""
    WITH per_key AS (
        SELECT time_bucket(INTERVAL '1 day', ts) AS d, COUNT(*) AS n
        FROM events GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_partitions,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(MAX(n) AS BIGINT) AS max_partition_rows,
           CAST(MAX(n) AS DOUBLE) * COUNT(*) / SUM(n) AS skew_factor,
           CAST(CEIL(CAST(SUM(n) AS DOUBLE) / 50000.0) AS BIGINT)
               AS recommended_files_at_50k
    FROM per_key
    """,
    tags=("relational", "layout_advisor", "partition_skew", "ops"),
)
def partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout advisor: row counts per prospective partition
    key (day), the skew factor max/mean that predicts straggler tasks
    BEFORE a layout is committed, and a target-row-count file
    recommendation — the numbers behind every partitionBy/bucketBy
    decision in this repo's scale notes, computed as a first-class
    query instead of folklore. One partial-aggregated pass; the report
    runs on the |keys|-row result. skew_factor = max·k/Σ is exact
    rational; a factor ≫ 1 says salt or sub-bucket the hot key (cf.
    salted_skew_join)."""
    e = load_table(spark, sf_dir, "events")
    per_key = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count("*").alias("n")
    )
    return per_key.agg(
        F.count("*").alias("n_partitions"),
        F.sum("n").cast("long").alias("total_rows"),
        F.max("n").cast("long").alias("max_partition_rows"),
        (
            F.max("n").cast("double")
            * F.count("*")
            / F.sum("n")
        ).alias("skew_factor"),
        F.ceil(F.sum("n").cast("double") / 50000.0).cast("long").alias(
            "recommended_files_at_50k"
        ),
    )


@register(
    "functional_dependency_check",
    oracle="""
    SELECT fd.fd_name, fd.n_lhs, fd.violating_lhs,
           fd.violating_lhs = 0 AS holds
    FROM (
        SELECT 'custkey->nationkey' AS fd_name,
               COUNT(*) AS n_lhs,
               COUNT(*) FILTER (WHERE n_rhs > 1) AS violating_lhs
        FROM (SELECT c_custkey, COUNT(DISTINCT c_nationkey) AS n_rhs
              FROM customer GROUP BY c_custkey)
        UNION ALL
        SELECT 'mktsegment->nationkey',
               COUNT(*),
               COUNT(*) FILTER (WHERE n_rhs > 1)
        FROM (SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_rhs
              FROM customer GROUP BY c_mktsegment)
        UNION ALL
        SELECT 'orderkey->custkey',
               COUNT(*),
               COUNT(*) FILTER (WHERE n_rhs > 1)
        FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS n_rhs
              FROM orders GROUP BY o_orderkey)
    ) fd
    """,
    tags=("relational", "functional_dependency", "profiling", "schema_discovery"),
)
def functional_dependency_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency verification — does LHS determine RHS? —
    for three candidate FDs: two that hold (key dependencies) and one
    that provably doesn't (segment can't determine nation), reported
    as violating-LHS counts. FD discovery is the schema-inference
    primitive behind normalization advice and join-key validation;
    each candidate costs ONE two-level aggregate (distinct-RHS per
    LHS, then a violation count over LHS groups — state is per-group
    distinct counts, never row pairs). The deliberately-false FD keeps
    the checker honest: an all-green report tool is untested."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    def check(df: DataFrame, lhs: str, rhs: str, name: str) -> DataFrame:
        per_lhs = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("n_rhs"))
        return per_lhs.agg(
            F.lit(name).alias("fd_name"),
            F.count("*").alias("n_lhs"),
            F.count(F.when(F.col("n_rhs") > 1, 1)).alias("violating_lhs"),
        )

    out = (
        check(cust, "c_custkey", "c_nationkey", "custkey->nationkey")
        .unionByName(
            check(cust, "c_mktsegment", "c_nationkey", "mktsegment->nationkey")
        )
        .unionByName(check(orders, "o_orderkey", "o_custkey", "orderkey->custkey"))
    )
    return out.select(
        "fd_name", "n_lhs", "violating_lhs",
        (F.col("violating_lhs") == 0).alias("holds"),
    )


@register(
    "sql_udf_scalar",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(
               CAST(l_extendedprice AS DECIMAL(10,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
               AS DECIMAL(38,10))), 2) AS DOUBLE) AS net_total
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("relational", "sql_udf", "spark4", "function_catalog"),
)
def sql_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scalar UDFs (CREATE FUNCTION … RETURN expr,
    SPARK-51086): business logic named ONCE in the function catalog and
    reused across queries — and because the body is a SQL expression,
    Catalyst INLINES it into whole-stage codegen: zero overhead, full
    pushdown, unlike every Python UDF. The net-price rule here is the
    exact-decimal Q1 product; the UDF is created temporarily and the
    aggregate plan is bit-identical to writing the expression
    inline (the function boundary exists only in the catalog)."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION bprs_net_price(
            p DECIMAL(12,2), d DOUBLE
        ) RETURNS DECIMAL(38,10)
        RETURN CAST(CAST(p AS DECIMAL(10,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(d AS DECIMAL(3,2)))
                AS DECIMAL(38,10))
        """
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_udf")
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(CAST(SUM(bprs_net_price(l_extendedprice, l_discount))
                    AS DECIMAL(38,2)) AS DOUBLE) AS net_total
        FROM lineitem_udf
        GROUP BY l_returnflag
        """
    )


@register(
    "approx_percentile_bounds",
    oracle="""
    SELECT event_type,
           CAST(quantile_cont(value, 0.5) AS DOUBLE) AS exact_p50,
           CAST(quantile_cont(value, 0.95) AS DOUBLE) AS exact_p95,
           TRUE AS p50_in_guarantee,
           TRUE AS p95_in_guarantee
    FROM events GROUP BY event_type
    """,
    tags=("relational", "approx", "percentile", "bounded_error"),
)
def approx_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile under a deterministic-bound oracle (the
    approx_distinct adjudication style, applied to quantiles): exact
    p50/p95 are value-checked, and the approximate answers are pinned
    as booleans inside their PUBLISHED guarantee — with accuracy A the
    sketch's rank error is ≤ n/A, so the approx p-quantile must land
    between the exact (p−n/(A·n))- and (p+n/(A·n))-quantiles
    (±2 percentile points at A=50). This is the contract that lets the
    sketch replace the exact sort at 100 TB: the small-scale query
    certifies the bound, the large scale trusts it. Exact quantiles
    interpolate identically cross-engine; the booleans hash."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    acc = 50  # rank error <= n/50 -> ±2 percentile points
    agg = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("exact_p50"),
        F.percentile("value", F.lit(0.95)).alias("exact_p95"),
        F.percentile("value", F.lit(0.48)).alias("lo50"),
        F.percentile("value", F.lit(0.52)).alias("hi50"),
        F.percentile("value", F.lit(0.93)).alias("lo95"),
        F.percentile("value", F.lit(0.97)).alias("hi95"),
        F.percentile_approx("value", F.lit(0.5), F.lit(acc)).alias("a50"),
        F.percentile_approx("value", F.lit(0.95), F.lit(acc)).alias("a95"),
    )
    return agg.select(
        "event_type",
        "exact_p50",
        "exact_p95",
        ((F.col("a50") >= F.col("lo50")) & (F.col("a50") <= F.col("hi50"))).alias(
            "p50_in_guarantee"
        ),
        ((F.col("a95") >= F.col("lo95")) & (F.col("a95") <= F.col("hi95"))).alias(
            "p95_in_guarantee"
        ),
    )


@register(
    "metric_driver_decomposition",
    oracle="""
    WITH p AS (
        SELECT CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN 'current'
                    ELSE 'reference' END AS period,
               COUNT(DISTINCT user_id) AS users,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchases,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10)))
                    FILTER (WHERE event_type = 'purchase'), 2) AS DOUBLE)
                   AS revenue
        FROM events GROUP BY 1
    )
    SELECT period, users, purchases, revenue,
           CAST(purchases AS DOUBLE) / users AS purchases_per_user,
           revenue / purchases AS avg_purchase_value
    FROM p
    """,
    tags=("relational", "metric_tree", "driver_decomposition", "analytics_eng"),
)
def metric_driver_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star metric decomposition: revenue = users ×
    purchases/user × value/purchase, reported per period — the driver
    tree every growth review walks to answer WHICH factor moved the
    topline (the factor ratios multiply back to the revenue ratio
    exactly, because each factor is a ratio of the hashed components —
    the identity survives the double divisions). One conditional
    aggregate computes both periods' three components in one scan;
    the decomposition itself is arithmetic on a 2-row table."""
    cutoff = F.lit("2024-01-15").cast("timestamp")
    e = load_table(spark, sf_dir, "events")
    p = e.groupBy(
        F.when(F.col("ts") >= cutoff, "current")
        .otherwise("reference")
        .alias("period")
    ).agg(
        F.countDistinct("user_id").alias("users"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).cast(
                "decimal(38,10)"
            )
        ).cast("decimal(38,2)").cast("double").alias("revenue"),
    )
    return p.select(
        "period", "users", "purchases", "revenue",
        (F.col("purchases").cast("double") / F.col("users")).alias(
            "purchases_per_user"
        ),
        (F.col("revenue") / F.col("purchases")).alias("avg_purchase_value"),
    )


@register(
    "abc_classification",
    oracle="""
    WITH part_rev AS (
        SELECT l_partkey,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,10))), 2)
                   AS DOUBLE) AS revenue
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT l_partkey, revenue,
               CAST(SUM(CAST(revenue AS DECIMAL(38,10))) OVER (
                   ORDER BY revenue DESC, l_partkey
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_rev,
               CAST(SUM(CAST(revenue AS DECIMAL(38,10))) OVER () AS DOUBLE)
                   AS total_rev
        FROM part_rev
    )
    SELECT CASE WHEN cum_rev <= 0.8 * total_rev THEN 'A'
                WHEN cum_rev <= 0.95 * total_rev THEN 'B'
                ELSE 'C' END AS abc_class,
           COUNT(*) AS n_parts,
           CAST(ROUND(SUM(CAST(revenue AS DECIMAL(38,10))), 2) AS DOUBLE)
               AS class_revenue
    FROM ranked GROUP BY 1
    """,
    tags=("bounded_window", "relational", "abc_analysis", "inventory", "pareto"),
)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, classified
    A (first 80% of cumulative revenue), B (to 95%), C (tail) — the
    stock-policy segmentation behind cycle-count frequency and safety
    stock (revenue_concentration_8020 asks where the knee is; this
    assigns every item a class). Part revenues aggregate first; the
    decimal-exact cumulative scan runs the bucketed two-phase
    decomposition (`bucketed_order_scan`): running revenue in parallel
    within descending $10k revenue bands (value-range-bounded band
    count, independent of item count), band offsets from the tiny band
    table — no single-task ordering of the item table."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,10)"
    part_rev = li.groupBy("l_partkey").agg(
        dsum("l_extendedprice").alias("revenue")
    )
    total = part_rev.agg(
        F.sum(F.col("revenue").cast(dec)).cast("double").alias("total_rev")
    )
    ranked = bucketed_order_scan(
        part_rev,
        F.floor(F.col("revenue") / F.lit(10_000.0)).cast("long"),
        [F.col("revenue").desc(), F.col("l_partkey")],
        rank_name=None,
        running={"cum_rev_dec": F.col("revenue").cast(dec)},
        descending_bucket=True,
    ).crossJoin(F.broadcast(total)).select(
        "revenue",
        F.col("cum_rev_dec").cast("double").alias("cum_rev"),
        "total_rev",
    )
    cls = (
        F.when(F.col("cum_rev") <= 0.8 * F.col("total_rev"), "A")
        .when(F.col("cum_rev") <= 0.95 * F.col("total_rev"), "B")
        .otherwise("C")
    )
    return ranked.groupBy(cls.alias("abc_class")).agg(
        F.count("*").alias("n_parts"),
        F.sum(F.col("revenue").cast(dec))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("class_revenue"),
    )


@register(
    "loo_target_encoding",
    oracle="""
    WITH g AS (
        SELECT o_orderpriority,
               COUNT(*) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS s
        FROM orders GROUP BY o_orderpriority
    ),
    enc AS (
        SELECT o.o_orderpriority,
               CAST(ROUND(g.s - CAST(o.o_totalprice AS DECIMAL(38,10)), 2)
                   AS DOUBLE) / (g.n - 1) AS loo_encoding
        FROM orders o JOIN g USING (o_orderpriority)
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(loo_encoding AS DECIMAL(38,10))), 2) AS DOUBLE)
               / COUNT(*) AS mean_encoding,
           CAST(MIN(loo_encoding) AS DOUBLE) AS min_encoding,
           CAST(MAX(loo_encoding) AS DOUBLE) AS max_encoding
    FROM enc GROUP BY o_orderpriority
    """,
    tags=("relational", "target_encoding", "leave_one_out", "feature_eng"),
)
def loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each row's category is encoded by
    the target mean of OTHER rows in the category, (Σ−yᵢ)/(n−1) —
    the leakage fix for the classic target-encoding trap (a naive
    group mean leaks each row's own label into its feature; LOO
    removes it algebraically, no second pass, no fold machinery).
    Group sums come from one aggregate; the per-row encoding is
    arithmetic after one broadcast-or-hash join back on the category —
    the fact table scans once either way. Encodings here roll up to
    per-category bounds so the report stays hashable; the per-row
    frame is the training input. Exact decimal throughout — the LOO
    subtraction is where float cancellation would bite."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    dec = "decimal(38,10)"
    g = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(dec)).alias("s"),
    )
    enc = o.join(F.broadcast(g), "o_orderpriority").select(
        "o_orderpriority",
        (
            (F.col("s") - F.col("o_totalprice").cast(dec))
            .cast("decimal(38,2)").cast("double")
            / (F.col("n") - 1)
        ).alias("loo_encoding"),
    )
    return enc.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        (
            F.sum(F.col("loo_encoding").cast(dec))
            .cast("decimal(38,2)").cast("double")
            / F.count("*")
        ).alias("mean_encoding"),
        F.min("loo_encoding").cast("double").alias("min_encoding"),
        F.max("loo_encoding").cast("double").alias("max_encoding"),
    )


@register(
    "merkle_bucket_diff",
    oracle="""
    WITH rowsig AS (
        SELECT o_orderkey % 64 AS bucket,
               o_orderkey % 1003 = 11 AS missing_in_b,
               ('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(o_custkey AS VARCHAR) || '|' ||
                   o_orderstatus || '|' ||
                   CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        AS VARCHAR)), 1, 15))::BIGINT AS sig_a,
               ('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(o_custkey AS VARCHAR) || '|' ||
                   o_orderstatus || '|' ||
                   CAST(CAST(ROUND(
                       (o_totalprice
                        + CASE WHEN o_orderkey % 997 = 7
                               THEN 1.0 ELSE 0.0 END) * 100)
                        AS BIGINT) AS VARCHAR)), 1, 15))::BIGINT AS sig_b
        FROM orders
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_a,
           CAST(COUNT(*) FILTER (WHERE NOT missing_in_b) AS BIGINT) AS n_b,
           CAST(bit_xor(sig_a) AS BIGINT) AS digest_a,
           CAST(COALESCE(bit_xor(sig_b) FILTER (WHERE NOT missing_in_b),
                         0) AS BIGINT) AS digest_b
    FROM rowsig
    GROUP BY bucket
    HAVING COUNT(*) <> COUNT(*) FILTER (WHERE NOT missing_in_b)
        OR bit_xor(sig_a)
           <> COALESCE(bit_xor(sig_b) FILTER (WHERE NOT missing_in_b), 0)
    """,
    tags=("sync", "merkle", "anti_entropy", "digest"),
)
def merkle_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table sync, stage 1: find WHICH KEY BUCKETS differ
    between two table versions by comparing constant-size bucket digests
    — the Merkle-tree exchange Dynamo/Cassandra replicas use — without
    ever joining rows. `table_diff_reconcile` answers "which rows
    changed" with a full outer join over everything; this answers "where
    do I even need to look" from two independent single scans whose
    comparable state is 64 × (count, digest). At 100 TB the follow-up
    row-level diff then reads only the flagged buckets (partition
    pruning on the bucket key), not the table.

    The drifted replica B is synthesized in-query from the same scan
    (price +1.00 on keys ≡7 mod 997; rows ≡11 mod 1003 deleted), so
    both engines see identical versions. Row signature = 60-bit md5 of
    a canonical key|custkey|status|cents string (cents via
    integer-rounded price·100 — no float formatting in the hash);
    bucket digest = XOR of row signatures, which is order- and
    partition-independent and merges associatively (a mergeable
    partial aggregate — the same property every sketch in
    queries/sketches.py leans on). XOR cancels PAIRED duplicate rows —
    acceptable here because the signature embeds the unique key.
    Output: only the buckets a sync would fetch."""
    o = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")

    def sig(price_cents: F.Column) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        key.cast("string"),
                        F.col("o_custkey").cast("string"),
                        F.col("o_orderstatus"),
                        price_cents.cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")

    cents_a = F.round(F.col("o_totalprice") * 100).cast("bigint")
    drift = F.when(key % 997 == 7, F.lit(1.0)).otherwise(F.lit(0.0))
    cents_b = F.round((F.col("o_totalprice") + drift) * 100).cast("bigint")
    rowsig = o.select(
        (key % 64).alias("bucket"),
        (key % 1003 == 11).alias("missing_in_b"),
        sig(cents_a).alias("sig_a"),
        sig(cents_b).alias("sig_b"),
    )
    agg = rowsig.groupBy("bucket").agg(
        F.count("*").alias("n_a"),
        F.count(F.when(~F.col("missing_in_b"), 1)).alias("n_b"),
        F.expr("bit_xor(sig_a)").cast("long").alias("digest_a"),
        F.coalesce(
            F.expr("bit_xor(CASE WHEN NOT missing_in_b THEN sig_b END)"),
            F.lit(0),
        )
        .cast("long")
        .alias("digest_b"),
    )
    return agg.filter(
        (F.col("n_a") != F.col("n_b"))
        | (F.col("digest_a") != F.col("digest_b"))
    )


@register(
    "ols_trend_per_group",
    oracle="""
    WITH m AS (
        SELECT c_nationkey AS nationkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                   AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4)))
                    AS DECIMAL(20,4)) AS y
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY 1, 2
    ),
    w AS (
        SELECT nationkey, x, y,
               COUNT(*) OVER (PARTITION BY nationkey) AS n,
               SUM(x) OVER (PARTITION BY nationkey) AS sx
        FROM m
    ),
    s AS (
        SELECT nationkey,
               MAX(n) AS n, MAX(sx) AS sx, MAX(x) AS xmax,
               SUM(CAST(n * x - sx AS DECIMAL(10,0)) * y) AS num,
               CAST(SUM((n * x - sx) * x) AS BIGINT) AS den,
               SUM(y) AS sy
        FROM w GROUP BY 1
    )
    SELECT nationkey,
           CAST(n AS BIGINT) AS n_months,
           CAST(ROUND(num, 2) AS DOUBLE) / CAST(den AS DOUBLE) AS slope,
           (CAST(ROUND(sy, 2) AS DOUBLE)
            - (CAST(ROUND(num, 2) AS DOUBLE) / CAST(den AS DOUBLE))
              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
           (CAST(ROUND(num, 2) AS DOUBLE) / CAST(den AS DOUBLE))
               * CAST(xmax + 1 AS DOUBLE)
           + (CAST(ROUND(sy, 2) AS DOUBLE)
              - (CAST(ROUND(num, 2) AS DOUBLE) / CAST(den AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS next_forecast
    FROM s
    """,
    tags=("statistics", "regression", "trend", "forecast"),
)
def ols_trend_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: closed-form ordinary-least-squares fit
    of monthly revenue against the month serial, plus the next-month
    forecast — the grouped-regression shape every demand-planning
    pipeline runs (one model per key, millions of keys, no ML library).

    Determinism is the whole design: the slope numerator is written as
    Σ cᵢ·yᵢ with INTEGER centering coefficients cᵢ = n·xᵢ − Σx
    (algebraically n·Σxy − Σx·Σy, but with |c| bounded by n·(month
    span) so every product stays in exact DECIMAL range), the
    denominator Σ cᵢ·xᵢ is pure int64, and the only floating point is
    the final well-defined divides/multiply-adds — identical IEEE ops
    in both engines. regr_slope/regr_intercept builtins are one-liners
    but accumulate doubles in partition order; this formulation is
    bit-reproducible on any cluster size.

    Scale: one fact-dim join (customer broadcast), one (key, month)
    partial agg — after which rows-per-key = months, so the per-key
    window + final agg are state-sized. Fits for a million keys cost
    one extra shuffle over the month-cell table."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(20,4)"))
            .cast("decimal(20,4)")
            .alias("y")
        )
    )
    w = W.partitionBy("nationkey")
    t = m.select(
        "nationkey",
        "x",
        "y",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
    )
    ci = F.col("n") * F.col("x") - F.col("sx")
    s = t.groupBy("nationkey").agg(
        F.max("n").alias("n"),
        F.max("sx").alias("sx"),
        F.max("x").alias("xmax"),
        F.sum(ci.cast("decimal(10,0)") * F.col("y")).alias("num"),
        F.sum(ci * F.col("x")).alias("den"),
        F.sum("y").alias("sy"),
    )
    slope = F.col("num").cast("decimal(38,2)").cast("double") / F.col(
        "den"
    ).cast("double")
    intercept = (
        F.col("sy").cast("decimal(38,2)").cast("double")
        - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "nationkey",
        F.col("n").cast("long").alias("n_months"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        (slope * (F.col("xmax") + 1).cast("double") + intercept).alias(
            "next_forecast"
        ),
    )


@register(
    "rolling_origin_backtest",
    oracle="""
    WITH m AS (
        SELECT c_nationkey AS nationkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                   AS x,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS yc
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY 1, 2
    ),
    rb AS (
        SELECT nationkey,
               x - MIN(x) OVER (PARTITION BY nationkey) AS x0,
               x, yc
        FROM m
    ),
    w AS (
        SELECT nationkey, x, x0, yc,
               COUNT(*) OVER pw AS n,
               SUM(x0) OVER pw AS sx,
               SUM(x0 * x0) OVER pw AS sxx,
               SUM(yc) OVER pw AS sy,
               SUM(x0 * yc) OVER pw AS sxy
        FROM rb
        WINDOW pw AS (PARTITION BY nationkey ORDER BY x0
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    fit AS (
        SELECT nationkey, x, x0, yc, n,
               CAST(n * sxy - sx * sy AS DOUBLE) AS num,
               CAST(n * sxx - sx * sx AS DOUBLE) AS den,
               CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
        FROM w WHERE n >= 2
    )
    SELECT nationkey, x AS month_serial, CAST(n AS BIGINT) AS n_train,
           ((num / den) * CAST(x0 AS DOUBLE)
            + (syd - (num / den) * sxd) / CAST(n AS DOUBLE)) / 100.0
               AS predicted,
           CAST(yc AS DOUBLE) / 100.0 AS actual,
           abs(CAST(yc AS DOUBLE) / 100.0
               - ((num / den) * CAST(x0 AS DOUBLE)
                  + (syd - (num / den) * sxd) / CAST(n AS DOUBLE)) / 100.0)
               AS abs_err
    FROM fit
    """,
    tags=("statistics", "regression", "backtest", "expanding_window"),
)
def rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (expanding-window) forecast backtest: for every
    nation-month, fit OLS on all PRIOR months only and score the
    one-step-ahead prediction against the actual — the honest forecast
    evaluation (each point predicted by a model that never saw it),
    where `ols_trend_per_group` fits once on everything. The expanding
    regression is INCREMENTAL by construction: the five sufficient
    statistics (n, Σx, Σx², Σy, Σxy) are running window sums with the
    frame ending at 1 PRECEDING, so all origins cost one window pass —
    not one fit per origin.

    Determinism: revenue in integer cents, month serial re-based per
    nation (x0 ≤ span keeps every product within exact-int64/double
    range at this scale; re-base cents to larger units when n·Σxy
    approaches 2⁵³), so all sufficient statistics are exact integers
    and slope/intercept/prediction derive via identical IEEE steps.

    Scale: one broadcast dim join + one (key, month) partial agg; the
    window runs on the months-sized cell table. First month per nation
    (n_train < 2) is excluded — no model to test."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("yc")
        )
    )
    rb = m.select(
        "nationkey",
        (F.col("x") - F.min("x").over(W.partitionBy("nationkey"))).alias("x0"),
        "x",
        "yc",
    )
    pw = (
        W.partitionBy("nationkey")
        .orderBy("x0")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w = rb.select(
        "nationkey",
        "x",
        "x0",
        "yc",
        F.count("*").over(pw).alias("n"),
        F.sum("x0").over(pw).alias("sx"),
        F.sum(F.col("x0") * F.col("x0")).over(pw).alias("sxx"),
        F.sum("yc").over(pw).alias("sy"),
        F.sum(F.col("x0") * F.col("yc")).over(pw).alias("sxy"),
    ).filter(F.col("n") >= 2)
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    pred = (slope * F.col("x0").cast("double") + intercept) / 100.0
    actual = F.col("yc").cast("double") / 100.0
    return w.select(
        "nationkey",
        F.col("x").alias("month_serial"),
        F.col("n").cast("long").alias("n_train"),
        pred.alias("predicted"),
        actual.alias("actual"),
        F.abs(actual - pred).alias("abs_err"),
    )


@register(
    "percent_of_parent",
    oracle=f"""
    WITH n AS (
        SELECT r_name AS region, n_name AS nation,
               {dsum_sql('o_totalprice')} AS rev
        FROM orders
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ON n_nationkey = c_nationkey
        JOIN region ON r_regionkey = n_regionkey
        GROUP BY r_name, n_name
    )
    SELECT region, nation, rev,
           rev / CAST(ROUND(SUM(CAST(rev AS DECIMAL(38,10)))
                            OVER (PARTITION BY region), 2) AS DOUBLE)
               AS pct_of_region,
           CAST(ROUND(SUM(CAST(rev AS DECIMAL(38,10)))
                      OVER (PARTITION BY region), 2) AS DOUBLE)
           / CAST(ROUND(SUM(CAST(rev AS DECIMAL(38,10))) OVER (), 2)
                  AS DOUBLE) AS region_pct_of_total
    FROM n
    """,
    tags=("relational", "percent_of_parent", "hierarchy", "ratio_to_report"),
)
def percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two hierarchy levels — each nation's share
    of its region and each region's share of the total — the
    ratio_to_report / MDX "percent of parent" staple of every BI tool,
    expressed as window sums OVER the pre-aggregated leaf table. The
    corpus-sized work is one aggregate; both share windows run on the
    25-row nation table (a windows-over-aggregates pattern, never
    windows over facts). Leaf revenues are decimal-exact, so the two
    divides are deterministic; shares per parent sum to 1 by
    construction."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    leaf = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(na), c.c_nationkey == na.n_nationkey)
        .join(F.broadcast(r), na.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(dsum(F.col("o_totalprice")).alias("rev"))
    )
    w_region = W.partitionBy("region")
    w_all = W.partitionBy()
    # Window sums accumulate in exact decimal: a double SUM OVER would
    # add region members in engine-/partition-dependent order.
    rsum = (
        F.sum(F.col("rev").cast("decimal(38,10)"))
        .over(w_region)
        .cast("decimal(38,2)")
        .cast("double")
    )
    tsum = (
        F.sum(F.col("rev").cast("decimal(38,10)"))
        .over(w_all)
        .cast("decimal(38,2)")
        .cast("double")
    )
    return leaf.select(
        "region",
        "nation",
        "rev",
        (F.col("rev") / rsum).alias("pct_of_region"),
        (rsum / tsum).alias("region_pct_of_total"),
    )


@register(
    "mode_per_group",
    oracle="""
    WITH c AS (
        SELECT c_nationkey AS nationkey, c_mktsegment,
               COUNT(*) AS n
        FROM customer GROUP BY 1, 2
    ),
    r AS (
        SELECT nationkey, c_mktsegment, n,
               ROW_NUMBER() OVER (
                   PARTITION BY nationkey
                   ORDER BY n DESC, length(c_mktsegment) ASC,
                            c_mktsegment DESC
               ) AS rn,
               SUM(n) OVER (PARTITION BY nationkey) AS total
        FROM c
    )
    SELECT nationkey,
           c_mktsegment AS modal_segment,
           CAST(n AS BIGINT) AS modal_count,
           CAST(total AS BIGINT) AS n_total
    FROM r WHERE rn = 1
    """,
    tags=("relational", "mode", "aggregate", "deterministic_ties"),
)
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE (most frequent value) per group with a TOTAL tie order —
    the builtin `mode()` in both engines picks an arbitrary winner on
    ties, which value-hash comparison (and any reproducible pipeline)
    cannot tolerate. Formulation: count per (group, value), then
    max_by over the composite (count, tie-break) — two partial-agg
    shuffles, state one row per (group, value), no window. The
    tie-break (shorter string first, then lexicographically last) is
    arbitrary but TOTAL — the property that matters. (The oracle uses
    the ROW_NUMBER emulation: DuckDB's arg_max lacks composite keys —
    the same gap `golden_record_survivorship` documents.)"""
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy(
        F.col("c_nationkey").alias("nationkey"), "c_mktsegment"
    ).agg(F.count("*").alias("n"))
    key = F.struct(
        F.col("n"),
        (-F.length("c_mktsegment")).alias("neg_len"),
        F.col("c_mktsegment"),
    )
    return counts.groupBy("nationkey").agg(
        F.max_by("c_mktsegment", key).alias("modal_segment"),
        F.max("n").cast("long").alias("modal_count"),
        F.sum("n").cast("long").alias("n_total"),
    )


@register(
    "weighted_median",
    oracle="""
    WITH v AS (
        SELECT l_returnflag, l_extendedprice AS price,
               SUM(l_quantity) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    c AS (
        SELECT l_returnflag, price, w,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price) AS cw,
               SUM(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM v
    )
    SELECT l_returnflag,
           MIN(price) FILTER (WHERE 2 * cw >= tw) AS weighted_median,
           CAST(MAX(tw) AS DOUBLE) AS total_weight,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_prices
    FROM c GROUP BY l_returnflag
    """,
    tags=("relational", "weighted_median", "quantile", "aggregate"),
)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    quantile neither engine ships as a builtin: the price at which
    half the UNITS (not half the rows) are cheaper. Mann–Whitney's
    scalability trick reused: weights collapse onto the DISTINCT-VALUE
    table first (one group-keyed partial agg), so the cumulative
    window sorts |distinct prices| rows per group, never raw rows; the
    median is the first value whose doubled running weight reaches the
    group total. Quantities are integral doubles → every sum is exact
    in any order; lower-median convention (2·cw ≥ tw) stated
    explicitly so both engines agree at exact-half boundaries."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("price")).agg(
        F.sum("l_quantity").alias("w")
    )
    wc = W.partitionBy("l_returnflag").orderBy("price")
    c = v.select(
        "l_returnflag",
        "price",
        "w",
        F.sum("w").over(wc.rowsBetween(W.unboundedPreceding, 0)).alias("cw"),
        F.sum("w").over(W.partitionBy("l_returnflag")).alias("tw"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("price"))).alias(
            "weighted_median"
        ),
        F.max("tw").cast("double").alias("total_weight"),
        F.count("*").cast("long").alias("n_distinct_prices"),
    )


@register(
    "gini_coefficient",
    oracle="""
    WITH c AS (
        SELECT o_custkey,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    r AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
        FROM c
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS tot,
               CAST(SUM(i * cents) AS BIGINT) AS ranked_sum
        FROM r
    )
    SELECT n, CAST(tot AS DOUBLE) / 100.0 AS total_revenue,
           (2.0 * CAST(ranked_sum AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)))
           - (CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)) AS gini
    FROM s
    """,
    tags=("bounded_window", "relational", "gini", "concentration", "inequality"),
)
def gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the single-number
    inequality metric behind `revenue_concentration_8020`'s curve,
    from the rank identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    ascending-sorted values: no pairwise |xᵢ−xⱼ| double loop. Revenue
    in integer cents so every sum (including the rank-weighted one) is
    exact int64; the global rank over the CUSTOMER AGGREGATE runs the
    bucketed two-phase decomposition (`bucketed_order_scan`): ranks
    computed in parallel within $100k revenue bands (value-range-
    bounded bucket count, independent of entity count), band offsets
    from the tiny band table — no single-task sort of the entity
    table. Ranks are total-ordered by (value, custkey), which leaves G
    unchanged among tied values but keeps both engines identical."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    r = bucketed_order_scan(
        c,
        F.floor(F.col("cents") / F.lit(10_000_000)).cast("long"),
        [F.col("cents"), F.col("o_custkey")],
        rank_name="i",
    ).select("cents", "i")
    s = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tot"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("ranked_sum"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "n",
        (F.col("tot").cast("double") / 100.0).alias("total_revenue"),
        (
            2.0 * F.col("ranked_sum").cast("double") / (nd * F.col("tot").cast("double"))
            - (F.col("n") + 1).cast("double") / nd
        ).alias("gini"),
    )


K_ANONYMITY = 5  # privacy threshold for the k-anonymity audit


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, FLOOR(c_acctbal / 1000) AS bal_band,
               COUNT(*) AS grp
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(grp) AS BIGINT) AS k_achieved,
           CAST(COUNT(*) FILTER (WHERE grp < {K_ANONYMITY}) AS BIGINT)
               AS n_risky_groups,
           CAST(COALESCE(SUM(grp) FILTER (WHERE grp < {K_ANONYMITY}), 0)
                AS BIGINT) AS n_rows_at_risk,
           CAST(COALESCE(SUM(grp) FILTER (WHERE grp < {K_ANONYMITY}), 0)
                AS DOUBLE) / CAST(SUM(grp) AS DOUBLE) AS at_risk_fraction
    FROM g
    """,
    tags=("privacy", "k_anonymity", "audit", "quasi_identifier",
          "training_data_qa"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ANONYMITY audit over the quasi-identifier triple (nation,
    market segment, $1000 balance band): the k actually achieved (the
    smallest QI group), how many groups fall below k={K_ANONYMITY},
    and what fraction of rows they cover — the re-identification
    exposure report a dataset needs BEFORE release or training-set
    inclusion (Sweeney 2002: 87% of the US population is unique under
    ZIP+birthdate+sex; quasi-identifiers leak even when direct PII is
    scrubbed, which is why this runs alongside pii_redact, not instead
    of it). The at-risk fraction is what generalization/suppression
    passes then minimize. Shape: one partial-agg groupBy on the QI
    tuple, then a constant-state summary — two shuffles of
    group-cardinality rows at any data size, and the QI groupBy is
    the same key the suppression rewrite itself needs, so the audit's
    shuffle is reusable work."""
    g = load_table(spark, sf_dir, "customer").groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
    ).agg(F.count("*").alias("grp"))
    risky = F.when(F.col("grp") < K_ANONYMITY, F.col("grp"))
    return g.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.min("grp").cast("long").alias("k_achieved"),
        F.count(risky).cast("long").alias("n_risky_groups"),
        F.coalesce(F.sum(risky), F.lit(0)).cast("long").alias("n_rows_at_risk"),
        (
            F.coalesce(F.sum(risky), F.lit(0)).cast("double")
            / F.sum("grp").cast("double")
        ).alias("at_risk_fraction"),
    )


@register(
    "sql_scripting_threshold_walk",
    oracle="""
    WITH bands AS (
        SELECT CAST(FLOOR(o_totalprice / 100) AS BIGINT) AS band,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM bands),
    c AS (
        SELECT band,
               CAST(SUM(cents) OVER (ORDER BY band DESC) AS BIGINT) AS cum
        FROM bands
    )
    SELECT band * 100 AS threshold, cum AS above_cents, tot.t AS total_cents,
           CAST(cum AS DOUBLE) / CAST(tot.t AS DOUBLE) AS above_fraction
    FROM c, tot WHERE cum * 5 >= tot.t ORDER BY band DESC LIMIT 1
    """,
    tags=("sql_scripting", "procedural", "spark4", "control_flow"),
)
def sql_scripting_threshold_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN/DECLARE/FOR/IF/LEAVE — the
    ISO/IEC 9075-4 procedural surface, new in Spark 4.0): find the
    lowest $100 price threshold whose orders carry ≥ 20% of total
    revenue by WALKING revenue bands top-down in a labeled FOR loop
    with an early LEAVE. The scale discipline procedural SQL demands
    is in the script's structure: the CORPUS is touched exactly once
    (one banded aggregate into a temp view), and the loop iterates
    over the band table — bounded by price range / 100, independent
    of row count — so the procedural tail costs scalar work per band.
    The oracle is the set-based twin (descending cumulative window +
    first-hit filter), proving the script and the relational form
    compute the same answer; revenue is integer cents throughout, so
    the 20% test (cum·5 ≥ total) is exact in both engines.

    Every interpreted scripting statement costs a driver-side
    parse/analyze/execute cycle, so the walk is two-phase — coarse over
    $10,000 superbands to locate the crossing block, then fine over the
    $100 bands inside that one block — and accumulates into `thr` only
    at the hit, while the FOR/IF/LEAVE search stays load-bearing. The
    band table is aggregated once outside the script and pinned, so
    orders is scanned once instead of once per view reference. The
    crossing band is inside the coarse-hit block by construction (cum
    before it < 20%, cum through it >= 20%, and every band above the
    block exceeds every band inside it), so the fine walk finds the
    identical first-hit band and identical cumulative cents as a flat
    walk."""
    script = """
    BEGIN
      DECLARE above BIGINT = 0;
      DECLARE thr BIGINT = 0;
      DECLARE tot BIGINT;
      DECLARE cut BIGINT;
      SET tot = (SELECT SUM(cents) FROM bprs_script_bands);
      coarse: FOR c AS SELECT CAST(FLOOR(band / 100) AS BIGINT) AS sb,
                              CAST(SUM(cents) AS BIGINT) AS chunk
                       FROM bprs_script_bands
                       GROUP BY 1 ORDER BY sb DESC DO
        IF (above + c.chunk) * 5 >= tot THEN
          SET cut = c.sb;
          LEAVE coarse;
        END IF;
        SET above = above + c.chunk;
      END FOR coarse;
      fine: FOR r AS SELECT band, cents FROM bprs_script_bands
                     WHERE CAST(FLOOR(band / 100) AS BIGINT) = cut
                     ORDER BY band DESC DO
        SET above = above + r.cents;
        IF above * 5 >= tot THEN
          SET thr = r.band * 100;
          LEAVE fine;
        END IF;
      END FOR fine;
      SELECT thr AS threshold, above AS above_cents, tot AS total_cents,
             CAST(above AS DOUBLE) / CAST(tot AS DOUBLE) AS above_fraction;
    END
    """
    # Scripting conf and the two temp views are SHARED-session state:
    # everything from the first change on runs inside the restore. The
    # script runs eagerly inside spark.sql(), and the pin keeps its
    # 1-row result collectable after the views are dropped.
    with scoped_conf(spark, {"spark.sql.scripting.enabled": "true"}):
        try:
            load_table(spark, sf_dir, "orders").createOrReplaceTempView(
                "bprs_script_orders"
            )
            bands = spark.sql(
                """
                SELECT CAST(FLOOR(o_totalprice / 100) AS BIGINT) AS band,
                       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
                FROM bprs_script_orders GROUP BY 1
                """
            )
            checkpoint_audited(bands).createOrReplaceTempView("bprs_script_bands")
            out = checkpoint_audited(spark.sql(script))
        finally:
            # Dependent view first: dropping a temp view re-analyzes the
            # remaining views' definitions on the async listener bus, and
            # bprs_script_bands references bprs_script_orders. The bus
            # drain makes the teardown deterministic against in-flight
            # events.
            drain_listener_bus(spark)
            for view in ("bprs_script_bands", "bprs_script_orders"):
                spark.catalog.dropTempView(view)
    return out


_TPQ_BUCKET = 10.0  # histogram bucket width for the two-phase quantile
_TPQ_QS = ((50, 2), (95, 20))  # (percent, divisor): rank = ceil(pct*N/100)


@register(
    "two_phase_global_quantiles",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n FROM lineitem),
    targets AS (
        SELECT 50 AS pct, CAST(CEIL(0.50 * n.n) AS BIGINT) AS rank FROM n
        UNION ALL
        SELECT 95, CAST(CEIL(0.95 * n.n) AS BIGINT) FROM n
    ),
    ranked AS (
        SELECT l_extendedprice,
               ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn
        FROM lineitem
    )
    SELECT t.pct, t.rank, r.l_extendedprice AS value
    FROM targets t JOIN ranked r ON r.rn = t.rank
    """,
    tags=("bounded_window", "statistics", "quantile", "two_phase", "no_global_sort",
          "exact"),
)
def two_phase_global_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global quantiles (p50/p95 as the r-th smallest value,
    r = ⌈q·N⌉ — type-1, the unambiguous discrete definition) WITHOUT a
    global sort: phase 1 is one histogram aggregate (bucket width
    {_TPQ_BUCKET}); the cumulative walk over the bucket table (tiny —
    value-range/width rows) locates each target rank's bucket and its
    in-bucket offset; phase 2 sorts ONLY inside the target buckets and
    row_numbers to the offset. This is how exact order statistics are
    actually computed at 100 TB — a global ORDER BY funnels everything
    through one task, approx_percentile gives up exactness, and the
    two-phase plan costs two scans + a sort bounded by one bucket's
    rows (recurse on the bucket if even that is too wide). The target
    buckets arrive at phase 2 as a BROADCAST join on the bucket id —
    no collect, no driver loop. The oracle is the brute-force ORDER BY
    ... OFFSET definition, so a MATCH certifies both the rank
    arithmetic and the bucket/offset bookkeeping."""
    from pyspark.sql import Window as W

    pr = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice",
        F.floor(F.col("l_extendedprice") / _TPQ_BUCKET).alias("b"),
    )
    hist = pr.groupBy("b").agg(F.count("*").alias("c"))
    wb = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.select(
        "b", "c", F.sum("c").over(wb).alias("cum"),
        F.sum("c").over(W.orderBy(F.lit(1)).rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing)).alias("n"),
    )
    targets = None
    for pct, _ in _TPQ_QS:
        r = F.ceil(F.lit(pct / 100.0) * F.col("n")).cast("long")
        t = (
            cum.filter((F.col("cum") >= r) & (F.col("cum") - F.col("c") < r))
            .select(
                F.lit(pct).cast("int").alias("pct"),
                r.alias("rank"),
                F.col("b").alias("tb"),
                (r - (F.col("cum") - F.col("c"))).alias("offset"),
            )
        )
        targets = t if targets is None else targets.unionAll(t)
    win = W.partitionBy("pct").orderBy("l_extendedprice")
    return (
        pr.join(F.broadcast(targets), pr["b"] == targets["tb"])
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == F.col("offset"))
        .select("pct", "rank", F.col("l_extendedprice").alias("value"))
    )


# --- Theil-Sen robust trend (round 7) ----------------------------------------
TS_START = "1996-01-01"  # bound the month span so pairs stay group-local


@register(
    "theil_sen_slope",
    oracle=f"""
    WITH m AS (
        SELECT n.n_name AS n_name,
               (date_part('year', o.o_orderdate) - 1996) * 12
                 + date_part('month', o.o_orderdate) AS m,
               SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= DATE '{TS_START}'
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.n_name AS n_name,
               (CAST(b.cents - a.cents AS DOUBLE) / (b.m - a.m)) / 100.0
                   AS slope,
               a.m AS m1, b.m AS m2
        FROM m a JOIN m b ON a.n_name = b.n_name AND a.m < b.m
    ),
    ranked AS (
        SELECT n_name, slope,
               ROW_NUMBER() OVER (PARTITION BY n_name
                                  ORDER BY slope, m1, m2) AS rn,
               COUNT(*) OVER (PARTITION BY n_name) AS cnt
        FROM pairs
    )
    SELECT n_name, CAST(cnt AS BIGINT) AS n_pairs, slope AS ts_slope
    FROM ranked WHERE rn = (cnt + 1) // 2
    """,
    tags=("robust_statistics", "trend", "theil_sen", "pairwise"),
)
def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator of the monthly-revenue trend per nation: the
    median over all month pairs (i<j) of pairwise slopes — the classic
    29%-breakdown robust alternative to OLS (ols_trend_per_group is the
    fragile twin this guards against: one corrupted month moves OLS
    arbitrarily, Theil-Sen not at all). Median = lower median by ranked
    row_number, so the result is exactly one of the computed slopes —
    hash-stable across engines with no interpolation arithmetic.

    Scale: the corpus is touched once (groupBy nation x month); the
    pairwise stage runs on the AGGREGATED frame — months-per-group is
    calendar-bounded (<=36 here), so pairs/group <= 630 regardless of
    row count, and the self-join is an equi-join on the group key. The
    100 TB cost is the first groupBy; everything after is constant-size
    per group. Reference: no counterpart (its agg surface is
    CombinePerKey sums, transform_evaluators.py:84-100)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(TS_START).cast("date")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1996)) * 12
                + F.month("o_orderdate")
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    a = m.alias("a")
    b = m.alias("b")
    pairs = a.join(
        b,
        (F.col("a.n_name") == F.col("b.n_name")) & (F.col("a.m") < F.col("b.m")),
    ).select(
        F.col("a.n_name").alias("n_name"),
        (
            (
                (F.col("b.cents") - F.col("a.cents")).cast("double")
                / (F.col("b.m") - F.col("a.m"))
            )
            / F.lit(100.0)
        ).alias("slope"),
        F.col("a.m").alias("m1"),
        F.col("b.m").alias("m2"),
    )
    win = W.partitionBy("n_name").orderBy("slope", "m1", "m2")
    ranked = pairs.select(
        "n_name",
        "slope",
        F.row_number().over(win).alias("rn"),
        F.count("*").over(W.partitionBy("n_name")).alias("cnt"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(cnt + 1) div 2")
    ).select(
        "n_name", F.col("cnt").cast("long").alias("n_pairs"),
        F.col("slope").alias("ts_slope"),
    )


# --- balanced range-partition planning (round 7) -----------------------------
RB_BUCKETS = 8
RB_SAMPLE_MOD = 20  # keep 1-in-20 rows in the bounds sample


@register(
    "balanced_range_bounds",
    oracle=f"""
    WITH s AS (
        SELECT l_extendedprice, l_orderkey, l_linenumber
        FROM lineitem
        WHERE (('0x' || substr(md5('rb-' || l_orderkey || '-' || l_linenumber),
                1, 8))::BIGINT) % {RB_SAMPLE_MOD} = 0
    ),
    tiles AS (
        SELECT l_extendedprice,
               NTILE({RB_BUCKETS}) OVER (
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS tile
        FROM s
    ),
    cuts AS (
        SELECT list_sort(list(cut)) AS cuts FROM (
            SELECT MAX(l_extendedprice) AS cut FROM tiles
            WHERE tile < {RB_BUCKETS} GROUP BY tile)
    ),
    assigned AS (
        SELECT CAST(len(list_filter(cuts.cuts, b -> l.l_extendedprice > b))
                    AS BIGINT) AS bucket
        FROM lineitem l, cuts
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS DOUBLE)
               / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
    FROM assigned GROUP BY bucket
    """,
    tags=("bounded_window", "partitioning", "range_bounds", "sampling", "scale_pattern"),
)
def balanced_range_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repartitionByRange planning made visible: derive {RB_BUCKETS}
    range-bucket cut points from a deterministic 1-in-{RB_SAMPLE_MOD}
    md5 sample (exactly what RangePartitioner's reservoir sketch does,
    but reproducible across engines and cluster sizes), then certify
    the plan by counting the FULL table into those buckets and
    reporting each bucket's share vs the ideal 1/{RB_BUCKETS}. This is
    the audit you run before a 100 TB global sort / range-bucketed
    write: a skewed share column means resample before committing the
    shuffle. Cost shape: the sample is scan-filtered map-side (no
    shuffle until the tiny sample sorts), cut points are a 7-row
    broadcast, and the full-table pass is one scan + one
    {RB_BUCKETS}-row groupBy — the bucket assignment fold runs in
    codegen over the broadcast array. Reference: no counterpart (its
    runner hash-partitions only, pyspark_runner.py)."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    li = load_table(spark, sf_dir, "lineitem")
    s = li.filter(
        h32(
            F.concat_ws("-", F.lit("rb"), F.col("l_orderkey"),
                        F.col("l_linenumber"))
        )
        % RB_SAMPLE_MOD
        == 0
    ).select("l_extendedprice", "l_orderkey", "l_linenumber")
    tiles = s.select(
        "l_extendedprice",
        F.ntile(RB_BUCKETS)
        .over(W.orderBy("l_extendedprice", "l_orderkey", "l_linenumber"))
        .alias("tile"),
    )
    cuts = (
        tiles.filter(F.col("tile") < RB_BUCKETS)
        .groupBy("tile")
        .agg(F.max("l_extendedprice").alias("cut"))
        .agg(F.array_sort(F.collect_list("cut")).alias("cuts"))
    )
    assigned = li.crossJoin(F.broadcast(cuts)).select(
        F.aggregate(
            "cuts",
            F.lit(0),
            lambda acc, b: acc
            + F.when(F.col("l_extendedprice") > b, 1).otherwise(0),
        )
        .cast("long")
        .alias("bucket")
    )
    counted = assigned.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_rows")
    )
    return counted.select(
        "bucket",
        "n_rows",
        (
            F.col("n_rows").cast("double")
            / F.sum("n_rows").over(W.partitionBy()).cast("double")
        ).alias("share"),
    )


# --- delta-encoding size estimate (round 7) ----------------------------------
@register(
    "delta_encoding_bits",
    oracle="""
    WITH d AS (
        SELECT source, doc_id,
               doc_id - LAG(doc_id) OVER (
                   PARTITION BY source ORDER BY doc_id) AS delta
        FROM documents
    ),
    g AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_ids,
               CAST(MAX(len(bin(doc_id))) AS BIGINT) AS raw_bits_per_id,
               CAST(SUM(len(bin(delta))) AS BIGINT) AS delta_bits
        FROM d GROUP BY source
    ),
    gr AS (SELECT MAX(raw_bits_per_id) AS graw FROM g)
    SELECT source, n_ids, raw_bits_per_id,
           CAST(delta_bits + graw AS BIGINT) AS encoded_bits,
           CAST(delta_bits + graw AS DOUBLE)
             / (CAST(n_ids AS DOUBLE) * graw) AS compression_ratio
    FROM g, gr
    """,
    tags=("io", "encoding", "compression_planning", "scale_pattern"),
)
def delta_encoding_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoding budget for a sorted id column, per source: bits to
    store each gap at its minimal width (len(bin(gap)) = floor(log2)+1 —
    the repo's integer-log idiom) vs fixed-width absolutes, the
    first id of each run stored raw. This is the layout-planning audit
    behind parquet DELTA_BINARY_PACKED / postings-list varint choices:
    a compression_ratio near 1 says the ids are scattered and delta
    coding won't pay; near 0 says dense runs, encode away. One window
    pass partitioned by source (the same sort the encoder itself
    needs), then a per-source agg — no extra shuffle at any scale."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        (
            F.col("doc_id")
            - F.lag("doc_id").over(W.partitionBy("source").orderBy("doc_id"))
        ).alias("delta"),
    )
    g = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_ids"),
        F.max(F.length(F.bin("doc_id"))).cast("long").alias("raw_bits_per_id"),
        F.sum(
            F.when(F.col("delta").isNull(), F.lit(None)).otherwise(
                F.length(F.bin("delta"))
            )
        ).alias("delta_bits"),
    )
    # the NULL first-delta row is charged at the raw fixed width
    global_raw = g.agg(F.max("raw_bits_per_id").alias("graw"))
    return g.crossJoin(F.broadcast(global_raw)).select(
        "source",
        "n_ids",
        "raw_bits_per_id",
        (F.col("delta_bits") + F.col("graw")).cast("long").alias("encoded_bits"),
        (
            (F.col("delta_bits") + F.col("graw")).cast("double")
            / (F.col("n_ids").cast("double") * F.col("graw"))
        ).alias("compression_ratio"),
    )


# --- l-diversity audit (round 7, companion to k_anonymity_audit) -------------
@register(
    "l_diversity_audit",
    oracle="""
    WITH g AS (
        SELECT c_nationkey, FLOOR(c_acctbal / 1000) AS bal_band,
               COUNT(DISTINCT c_mktsegment) AS l,
               COUNT(*) AS n
        FROM customer GROUP BY 1, 2
    )
    SELECT CAST(l AS BIGINT) AS l,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n) AS BIGINT) AS n_rows
    FROM g GROUP BY l
    """,
    tags=("privacy", "l_diversity", "audit", "quasi_identifier",
          "training_data_qa"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY audit (Machanavajjhala et al. 2007): k-anonymity's
    blind spot is a QI group whose sensitive values are all IDENTICAL —
    large enough to pass k, yet disclosing the attribute outright. Per
    QI group (nation, $1000 balance band) count the DISTINCT sensitive
    values (market segment) and report the corpus as a histogram of l:
    the l=1 row is the homogeneity-attack exposure k_anonymity_audit
    cannot see. Shape: one groupBy on the QI tuple with a
    distinct-count (partial-agg friendly: Spark expands it to a
    two-level agg), then an l-keyed rollup of group-cardinality rows —
    corpus touched once at any scale."""
    g = load_table(spark, sf_dir, "customer").groupBy(
        "c_nationkey", F.floor(F.col("c_acctbal") / 1000).alias("bal_band")
    ).agg(
        F.countDistinct("c_mktsegment").alias("l"),
        F.count("*").alias("n"),
    )
    return g.groupBy(F.col("l").cast("long").alias("l")).agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("n").cast("long").alias("n_rows"),
    )


# --- join cardinality estimation audit (round 7) -----------------------------
JCE_MCVS = 20  # most-common-value list size, à la ANALYZE statistics


@register(
    "join_cardinality_estimate",
    oracle=f"""
    WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events
        GROUP BY user_id
    ),
    r AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rn FROM c
    ),
    s AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS ndv,
               CAST(SUM(c * c) AS BIGINT) AS actual_pairs,
               CAST(SUM(CASE WHEN rn <= {JCE_MCVS} THEN c ELSE 0 END)
                    AS BIGINT) AS mcv_rows,
               CAST(SUM(CASE WHEN rn <= {JCE_MCVS} THEN c * c ELSE 0 END)
                    AS BIGINT) AS mcv_pairs
        FROM r
    )
    SELECT n_rows, ndv, actual_pairs,
           CAST(n_rows AS DOUBLE) * n_rows / ndv AS est_uniform,
           mcv_pairs + CAST(n_rows - mcv_rows AS DOUBLE)
               * (n_rows - mcv_rows) / (ndv - {JCE_MCVS}) AS est_mcv,
           (CAST(n_rows AS DOUBLE) * n_rows / ndv)
               / actual_pairs AS err_uniform,
           (mcv_pairs + CAST(n_rows - mcv_rows AS DOUBLE)
               * (n_rows - mcv_rows) / (ndv - {JCE_MCVS}))
               / actual_pairs AS err_mcv
    FROM s
    """,
    tags=("optimizer", "statistics", "cardinality", "scale_pattern"),
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation the way an optimizer's ANALYZE does
    it, audited against ground truth: for the events-on-user_id
    self-join (the sessionization shape), compare the textbook uniform
    estimate N²/ndv with the MCV-aware estimate (top-{JCE_MCVS} key
    frequencies exact, uniform tail) against the exact Σc². The err_*
    ratios are the misplanning factor — a skewed key set sends
    err_uniform far above 1, which is precisely when a 100 TB join
    needs the salted/AQE path (salted_skew_join) instead of a plain
    shuffle. Cost: one groupBy to the per-key frame, a full-frame sum
    for the exact totals, and a TakeOrdered top-{JCE_MCVS} heap for
    the MCV cut (orderBy+limit — per-partition heaps merged on the
    driver, never a global rank window over key cardinality);
    production heavy-hitter stats at streaming scale come from
    cms_heavy_hitters instead."""
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = c.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("ndv"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("actual_pairs"),
    )
    mcv = (
        c.orderBy(F.col("c").desc(), "user_id")
        .limit(JCE_MCVS)
        .agg(
            F.sum("c").cast("long").alias("mcv_rows"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("mcv_pairs"),
        )
    )
    s = tot.crossJoin(F.broadcast(mcv))
    est_uniform = (
        F.col("n_rows").cast("double") * F.col("n_rows") / F.col("ndv")
    )
    est_mcv = F.col("mcv_pairs") + (
        (F.col("n_rows") - F.col("mcv_rows")).cast("double")
        * (F.col("n_rows") - F.col("mcv_rows"))
        / (F.col("ndv") - JCE_MCVS)
    )
    return s.select(
        "n_rows",
        "ndv",
        "actual_pairs",
        est_uniform.alias("est_uniform"),
        est_mcv.alias("est_mcv"),
        (est_uniform / F.col("actual_pairs")).alias("err_uniform"),
        (est_mcv / F.col("actual_pairs")).alias("err_mcv"),
    )


# --- Kendall tau rank-correlation trend (round 7) ----------------------------
@register(
    "kendall_tau_trend",
    oracle=f"""
    WITH m AS (
        SELECT n.n_name AS n_name,
               (date_part('year', o.o_orderdate) - 1996) * 12
                 + date_part('month', o.o_orderdate) AS m,
               SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= DATE '{TS_START}'
        GROUP BY 1, 2
    ),
    p AS (
        SELECT a.n_name AS n_name,
               CAST(COUNT(*) FILTER (WHERE b.cents > a.cents) AS BIGINT)
                   AS concordant,
               CAST(COUNT(*) FILTER (WHERE b.cents < a.cents) AS BIGINT)
                   AS discordant,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM m a JOIN m b ON a.n_name = b.n_name AND a.m < b.m
        GROUP BY 1
    )
    SELECT n_name, concordant, discordant,
           CAST(concordant - discordant AS DOUBLE) / n_pairs AS kendall_tau
    FROM p
    """,
    tags=("robust_statistics", "trend", "rank_correlation", "pairwise"),
)
def kendall_tau_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a between time and monthly revenue per nation: the
    fraction of month pairs moving with (concordant) minus against
    (discordant) the clock — the nonparametric monotone-trend test that
    complements theil_sen_slope's magnitude with a direction
    confidence (Mann-Kendall test statistic, standard in drift
    monitoring). Same scale contract as theil_sen_slope: corpus
    touched once for the month aggregate; the pairwise stage is an
    equi-join on the group key over the calendar-bounded aggregate,
    integer counts only until the final division."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(TS_START).cast("date")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1996)) * 12
                + F.month("o_orderdate")
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    a = m.alias("a")
    b = m.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.n_name") == F.col("b.n_name"))
            & (F.col("a.m") < F.col("b.m")),
        )
        .groupBy(F.col("a.n_name").alias("n_name"))
        .agg(
            F.sum(
                F.when(F.col("b.cents") > F.col("a.cents"), 1).otherwise(0)
            )
            .cast("long")
            .alias("concordant"),
            F.sum(
                F.when(F.col("b.cents") < F.col("a.cents"), 1).otherwise(0)
            )
            .cast("long")
            .alias("discordant"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    return p.select(
        "n_name",
        "concordant",
        "discordant",
        (
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.col("n_pairs")
        ).alias("kendall_tau"),
    )


# --- Holt double-exponential forecast (round 7) ------------------------------
# alpha = 1/2 and beta = 1/4 are EXACT binary fractions: every smoothing
# step is a correctly-rounded IEEE multiply/add identical across engines,
# so the recursion value-hashes with no decimal pinning needed.
HOLT_ALPHA = 0.5
HOLT_BETA = 0.25


@register(
    "holt_linear_forecast",
    oracle=f"""
    WITH RECURSIVE mm AS (
        SELECT n.n_name AS n_name,
               (date_part('year', o.o_orderdate) - 1996) * 12
                 + date_part('month', o.o_orderdate) AS m,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS DOUBLE) AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= DATE '{TS_START}'
        GROUP BY 1, 2
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY m) AS rn,
               COUNT(*) OVER (PARTITION BY n_name) AS t_max
        FROM mm
    ),
    step AS (
        SELECT a.n_name, 1 AS t, a.t_max,
               a.y AS l, b.y - a.y AS b
        FROM r a JOIN r b ON a.n_name = b.n_name AND b.rn = 2
        WHERE a.rn = 1
        UNION ALL
        SELECT s.n_name, s.t + 1, s.t_max,
               r.y * {HOLT_ALPHA} + (s.l + s.b) * {1 - HOLT_ALPHA},
               (r.y * {HOLT_ALPHA} + (s.l + s.b) * {1 - HOLT_ALPHA} - s.l)
                   * {HOLT_BETA} + s.b * {1 - HOLT_BETA}
        FROM step s JOIN r ON r.n_name = s.n_name AND r.rn = s.t + 1
        WHERE s.t < s.t_max
    )
    SELECT n_name, CAST(t_max AS BIGINT) AS n_months,
           l AS level, b AS trend, l + b AS forecast_next
    FROM step WHERE t = t_max
    """,
    tags=("forecast", "exponential_smoothing", "time_series"),
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per nation (level+trend, the
    no-seasonality Holt-Winters): l_t = αy_t + (1-α)(l+b),
    b_t = β(l_t - l) + (1-β)b, one-step-ahead forecast l+b. α=1/2 and
    β=1/4 are exact binary fractions so the whole recursion is
    bit-reproducible — the oracle replays it as a recursive CTE while
    Spark runs it as ONE higher-order fold (aggregate over the sorted
    month array) inside codegen: the corpus collapses to ≤36 rows per
    group in the first groupBy, the fold is group-local with zero
    extra shuffles, and nothing iterates driver-side. The
    classical-decomposition counterpart is seasonality_index; this is
    the adaptive-trend forecaster a capacity planner runs per key at
    100 TB (group count scales out, series length stays bounded)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(TS_START).cast("date")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    mm = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1996)) * 12
                + F.month("o_orderdate")
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("double")
            .alias("y")
        )
    )
    series = mm.groupBy("n_name").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "y"))), lambda p: p["y"]
        ).alias("ys")
    )
    a, bcoef = HOLT_ALPHA, HOLT_BETA
    init = F.struct(
        F.element_at("ys", 1).alias("l"),
        (F.element_at("ys", 2) - F.element_at("ys", 1)).alias("b"),
    )
    fold = F.aggregate(
        F.slice("ys", 2, F.size("ys") - 1),
        init,
        lambda acc, y: F.struct(
            (y * F.lit(a) + (acc["l"] + acc["b"]) * F.lit(1 - a)).alias("l"),
            (
                (
                    y * F.lit(a)
                    + (acc["l"] + acc["b"]) * F.lit(1 - a)
                    - acc["l"]
                )
                * F.lit(bcoef)
                + acc["b"] * F.lit(1 - bcoef)
            ).alias("b"),
        ),
    )
    return series.select(
        "n_name",
        F.size("ys").cast("long").alias("n_months"),
        fold.getField("l").alias("level"),
        fold.getField("b").alias("trend"),
        (fold.getField("l") + fold.getField("b")).alias("forecast_next"),
    )


# --- AQE skew-split simulation (round 7) -------------------------------------
SKEW_PARTS = 32  # modeled shuffle partition count
SKEW_FACTOR = 5  # spark.sql.adaptive.skewJoin.skewedPartitionFactor default


@register(
    "shuffle_skew_advisor",
    oracle=f"""
    WITH p AS (
        SELECT (('0x' || substr(md5('sk-' || user_id), 1, 8))::BIGINT)
                   % {SKEW_PARTS} AS part,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 1
    ),
    med AS (
        SELECT n_rows AS median_rows FROM (
            SELECT n_rows, ROW_NUMBER() OVER (ORDER BY n_rows, part) AS rn,
                   COUNT(*) OVER () AS cnt
            FROM p
        ) WHERE rn = (cnt + 1) // 2
    )
    SELECT part, n_rows, median_rows,
           n_rows > {SKEW_FACTOR} * median_rows AS is_skewed,
           CAST(CASE WHEN n_rows > {SKEW_FACTOR} * median_rows
                     THEN (n_rows + median_rows - 1) // median_rows
                     ELSE 1 END AS BIGINT) AS split_factor
    FROM p, med
    """,
    tags=("bounded_window", "skew", "aqe", "partitioning", "scale_pattern"),
)
def shuffle_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE's skew-join detection replayed as an auditable query: model
    the {SKEW_PARTS}-way hash shuffle of events on user_id, find the
    median partition size, flag partitions over {SKEW_FACTOR}x median
    (the spark.sql.adaptive.skewJoin.skewedPartitionFactor default) and
    emit the split factor AQE would apply (⌈size/median⌉). Running this
    against last night's key distribution tells you BEFORE the 100 TB
    join whether to pre-salt (salted_skew_join) or trust AQE's runtime
    split — and the per-partition table is the evidence for tuning the
    factor. Cost: one groupBy to {SKEW_PARTS} rows, then constant-size
    work; the md5 stand-in for Spark's internal murmur keeps the oracle
    cross-engine."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    p = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            (h32(F.concat_ws("-", F.lit("sk"), F.col("user_id"))) % SKEW_PARTS)
            .alias("part")
        )
        .agg(F.count("*").cast("long").alias("n_rows"))
    )
    ranked = p.select(
        "n_rows",
        F.row_number().over(W.orderBy("n_rows", "part")).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("cnt"),
    )
    med = ranked.filter(F.col("rn") == F.expr("(cnt + 1) div 2")).select(
        F.col("n_rows").alias("median_rows")
    )
    skewed = F.col("n_rows") > SKEW_FACTOR * F.col("median_rows")
    return p.crossJoin(F.broadcast(med)).select(
        "part",
        "n_rows",
        "median_rows",
        skewed.alias("is_skewed"),
        F.when(
            skewed,
            F.expr(f"(n_rows + median_rows - 1) div median_rows"),
        )
        .otherwise(1)
        .cast("long")
        .alias("split_factor"),
    )


# --- rolling 12-month OLS slope (round 7) ------------------------------------
ROLL_WIN = 12


@register(
    "rolling_ols_slope",
    oracle=f"""
    WITH m AS (
        SELECT n.n_name AS n_name,
               (date_part('year', o.o_orderdate) - 1996) * 12
                 + date_part('month', o.o_orderdate) AS m,
               SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= DATE '{TS_START}'
        GROUP BY 1, 2
    ),
    w AS (
        SELECT n_name, m,
               CAST(COUNT(*) OVER win AS BIGINT) AS n,
               CAST(SUM(m) OVER win AS BIGINT) AS sx,
               CAST(SUM(cents) OVER win AS BIGINT) AS sy,
               CAST(SUM(m * cents) OVER win AS BIGINT) AS sxy,
               CAST(SUM(m * m) OVER win AS BIGINT) AS sxx
        FROM m
        WINDOW win AS (PARTITION BY n_name ORDER BY m
                       ROWS BETWEEN {ROLL_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT n_name, CAST(m AS BIGINT) AS m,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_month
    FROM w WHERE n = {ROLL_WIN}
    """,
    tags=("statistics", "trend", "rolling_window", "time_series"),
)
def rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {ROLL_WIN}-month OLS revenue slope per nation — the
    windowed companion to ols_trend_per_group (whole-series) and
    theil_sen_slope (robust): every month gets the local trend over the
    trailing year. All five sufficient statistics (n, Σx, Σy, Σxy, Σx²)
    are EXACT INTEGER window sums over the month frame — one double
    division at the end, so the rolling slopes value-hash across
    engines with no decimal pinning. Cost: the corpus collapses to
    nation×month in one groupBy; the five window sums share one
    (nation, month-ordered) frame over ≤67 rows per group — window
    arithmetic never touches corpus rows, the 100 TB-correct shape for
    per-key rolling regression."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(TS_START).cast("date")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1996)) * 12
                + F.month("o_orderdate")
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    win = (
        W.partitionBy("n_name")
        .orderBy("m")
        .rowsBetween(-(ROLL_WIN - 1), W.currentRow)
    )
    w = m.select(
        "n_name",
        "m",
        F.count("*").over(win).cast("long").alias("n"),
        F.sum("m").over(win).cast("long").alias("sx"),
        F.sum("cents").over(win).cast("long").alias("sy"),
        F.sum(F.col("m") * F.col("cents")).over(win).cast("long").alias("sxy"),
        F.sum(F.col("m") * F.col("m")).over(win).cast("long").alias("sxx"),
    )
    return w.filter(F.col("n") == ROLL_WIN).select(
        "n_name",
        F.col("m").cast("long").alias("m"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ).alias("slope_cents_per_month"),
    )


# --- regression stump training (round 7) -------------------------------------
@register(
    "regression_stump_train",
    oracle=f"""
    WITH m AS (
        SELECT (date_part('year', o_orderdate) - 1996) * 12
                 + date_part('month', o_orderdate) AS m,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS sy,
               CAST(SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             * CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
        FROM orders WHERE o_orderdate >= DATE '{TS_START}'
        GROUP BY 1
    ),
    pre AS (
        SELECT m,
               CAST(SUM(n) OVER w AS BIGINT) AS cn,
               CAST(SUM(sy) OVER w AS BIGINT) AS csy,
               CAST(SUM(syy) OVER w AS DECIMAL(38,0)) AS csyy,
               CAST(SUM(n) OVER () AS BIGINT) AS tn,
               CAST(SUM(sy) OVER () AS BIGINT) AS tsy,
               CAST(SUM(syy) OVER () AS DECIMAL(38,0)) AS tsyy
        FROM m
        WINDOW w AS (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
    ),
    splits AS (
        SELECT m AS threshold_month,
               (CAST(csyy AS DOUBLE) - CAST(csy AS DOUBLE) * csy / cn)
             + (CAST(tsyy - csyy AS DOUBLE)
                - CAST(tsy - csy AS DOUBLE) * (tsy - csy) / (tn - cn))
                   AS sse_split,
               CAST(tsyy AS DOUBLE)
                   - CAST(tsy AS DOUBLE) * tsy / tn AS sse_root,
               cn AS n_left, tn - cn AS n_right
        FROM pre WHERE cn < tn
    ),
    best AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY sse_split, threshold_month)
                      AS rk
        FROM splits
    )
    SELECT CAST(threshold_month AS BIGINT) AS threshold_month,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           sse_root, sse_split, sse_root - sse_split AS gain
    FROM best WHERE rk = 1
    """,
    tags=("bounded_window", "ml_training", "decision_tree", "regression", "sufficient_stats"),
)
def regression_stump_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a regression stump (depth-1 CART) on order value vs month:
    the split threshold minimizing left+right SSE, where each side's
    SSE comes from the sufficient statistics identity Σy² − (Σy)²/n —
    no residual pass, no per-split scan. The corpus collapses to one
    (month, n, Σy, Σy²) aggregate; every candidate threshold is then a
    PREFIX SUM over that ≤84-row frame, so evaluating all splits costs
    one tiny window pass regardless of data size — exactly how
    distributed GBDT frameworks (XGBoost/LightGBM's histogram method)
    evaluate splits, expressed relationally. n and Σy stay in exact
    BIGINT; Σy² (cents² ≈ 1e15/row — past BIGINT by sf0.01) accumulates
    in exact DECIMAL(38,0) with ONE correctly-rounded double conversion
    at use, so the argmin and gain still value-hash across engines.
    Deterministic tie-break on the earlier month. The boosting loop =
    re-run on residuals; the feature loop = one such pass per
    histogrammed feature."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(TS_START).cast("date")
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    m = o.groupBy(
        (
            (F.year("o_orderdate") - F.lit(1996)) * 12 + F.month("o_orderdate")
        ).alias("m")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(cents).alias("sy"),
        F.sum((cents * cents).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    wcum = W.orderBy("m").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy()
    pre = m.select(
        "m",
        F.sum("n").over(wcum).cast("long").alias("cn"),
        F.sum("sy").over(wcum).cast("long").alias("csy"),
        F.sum("syy").over(wcum).cast("decimal(38,0)").alias("csyy"),
        F.sum("n").over(wall).cast("long").alias("tn"),
        F.sum("sy").over(wall).cast("long").alias("tsy"),
        F.sum("syy").over(wall).cast("decimal(38,0)").alias("tsyy"),
    )
    sse_left = F.col("csyy").cast("double") - F.col("csy").cast(
        "double"
    ) * F.col("csy") / F.col("cn")
    sse_right = (F.col("tsyy") - F.col("csyy")).cast("double") - (
        F.col("tsy") - F.col("csy")
    ).cast("double") * (F.col("tsy") - F.col("csy")) / (
        F.col("tn") - F.col("cn")
    )
    splits = pre.filter(F.col("cn") < F.col("tn")).select(
        F.col("m").alias("threshold_month"),
        (sse_left + sse_right).alias("sse_split"),
        (
            F.col("tsyy").cast("double")
            - F.col("tsy").cast("double") * F.col("tsy") / F.col("tn")
        ).alias("sse_root"),
        F.col("cn").alias("n_left"),
        (F.col("tn") - F.col("cn")).alias("n_right"),
    )
    best = splits.select(
        "*",
        F.row_number()
        .over(W.orderBy("sse_split", "threshold_month"))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return best.select(
        F.col("threshold_month").cast("long").alias("threshold_month"),
        F.col("n_left").cast("long").alias("n_left"),
        F.col("n_right").cast("long").alias("n_right"),
        "sse_root",
        "sse_split",
        (F.col("sse_root") - F.col("sse_split")).alias("gain"),
    )


# --- split-conformal interval audit (round 7) --------------------------------
CONF_ALPHA_NUM, CONF_ALPHA_DEN = 9, 10  # 1 - alpha = 9/10 target coverage


@register(
    "conformal_interval_audit",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey,
               (date_part('year', o_orderdate) - 1996) * 12
                 + date_part('month', o_orderdate) AS m,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               (('0x' || substr(md5('cf-' || o_orderkey), 1, 8))::BIGINT) % 4
                   AS fold
        FROM orders WHERE o_orderdate >= DATE '{TS_START}'
    ),
    mu AS (
        SELECT m, CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mu
        FROM o WHERE fold <= 1 GROUP BY m
    ),
    cal AS (
        SELECT abs(o.cents - mu.mu) AS r, o.o_orderkey
        FROM o JOIN mu ON o.m = mu.m WHERE o.fold = 2
    ),
    calq AS (
        SELECT r AS q_resid FROM (
            SELECT r, o_orderkey,
                   ROW_NUMBER() OVER (ORDER BY r, o_orderkey) AS rn,
                   COUNT(*) OVER () AS n_cal
            FROM cal
        ) WHERE rn = LEAST(n_cal,
                           ({CONF_ALPHA_NUM} * (n_cal + 1)
                            + {CONF_ALPHA_DEN} - 1) // {CONF_ALPHA_DEN})
    ),
    test AS (
        SELECT abs(o.cents - mu.mu) AS r
        FROM o JOIN mu ON o.m = mu.m WHERE o.fold = 3
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cal) AS n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           calq.q_resid AS q_resid,
           CAST(SUM(CASE WHEN test.r <= calq.q_resid THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS coverage
    FROM test, calq GROUP BY calq.q_resid
    """,
    tags=("bounded_window", "bounded_broadcast", "bounded_cross", "ml_eval",
          "conformal", "uncertainty", "statistics"),
)
def conformal_interval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; Lei et al. JASA'18),
    audited end-to-end: fit a per-month mean model on the train folds
    (md5 folds 0-1), take the ⌈(n+1)·0.9⌉-th smallest absolute residual
    on the CALIBRATION fold as the interval half-width q — the
    finite-sample distribution-free guarantee P(|y−ŷ| ≤ q) ≥ 0.9 — then
    measure realized coverage on the held-out TEST fold. Coverage far
    from 0.9 means leakage or drift; this is the uncertainty-QA gate a
    model-scoring pipeline runs before shipping intervals. Everything
    is rank-based: the quantile is ONE order statistic (a global rank
    from bucketed_order_scan — residual-range buckets rank in
    parallel, offsets broadcast back — then integer-ceil rank
    arithmetic), no interpolation, so both engines agree bit-for-bit.
    Cost: one scan fans into three fold-filtered aggregates; the
    month-mean model is a broadcast-sized table; the calibration fold
    is never funneled through a single-task window (the residual
    domain is price-bounded, so the 2^16-cent buckets are a ~1e3-row
    offset table at any corpus size).

    bounded_broadcast: the hinted build side is the single
    calibration-quantile row selected by a rank-probe equality join —
    1 row by construction, invisible to the plan auditor's structural
    rules."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(TS_START).cast("date"))
        .select(
            "o_orderkey",
            (
                (F.year("o_orderdate") - F.lit(1996)) * 12
                + F.month("o_orderdate")
            ).alias("m"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            (h32(F.concat_ws("-", F.lit("cf"), F.col("o_orderkey"))) % 4).alias(
                "fold"
            ),
        )
    )
    mu = (
        o.filter(F.col("fold") <= 1)
        .groupBy("m")
        .agg(
            (F.sum("cents").cast("double") / F.count("*")).alias("mu")
        )
    )
    cal = (
        o.filter(F.col("fold") == 2)
        .join(F.broadcast(mu), "m")
        .select(F.abs(F.col("cents") - F.col("mu")).alias("r"), "o_orderkey")
    )
    from beam_pyspark_runner_spark.functions.ordered import (
        bucketed_order_scan,
    )

    ncal = cal.agg(F.count("*").alias("n_cal"))
    ranked = bucketed_order_scan(
        cal,
        F.floor(F.col("r") / F.lit(65536.0)).cast("long"),
        [F.col("r"), F.col("o_orderkey")],
        rank_name="rn",
    ).crossJoin(F.broadcast(ncal))
    target_rn = F.least(
        F.col("n_cal"),
        F.expr(
            f"({CONF_ALPHA_NUM} * (n_cal + 1) + {CONF_ALPHA_DEN} - 1)"
            f" div {CONF_ALPHA_DEN}"
        ),
    )
    calq = ranked.filter(F.col("rn") == target_rn).select(
        F.col("r").alias("q_resid"), F.col("n_cal")
    )
    test = (
        o.filter(F.col("fold") == 3)
        .join(F.broadcast(mu), "m")
        .select(F.abs(F.col("cents") - F.col("mu")).alias("r"))
    )
    return (
        test.crossJoin(F.broadcast(calq))
        .groupBy("q_resid")
        .agg(
            F.max("n_cal").cast("long").alias("n_cal"),
            F.count("*").cast("long").alias("n_test"),
            (
                F.sum(
                    F.when(F.col("r") <= F.col("q_resid"), 1).otherwise(0)
                ).cast("double")
                / F.count("*")
            ).alias("coverage"),
        )
        .select("n_cal", "n_test", "q_resid", "coverage")
    )


# --- CUSUM sequential drift detector (round 7) -------------------------------
# Binary-exact tuning constants (k and h as exact-binary multiples of the
# baseline mean) keep every CUSUM step a correctly-rounded IEEE op.
CUSUM_K_FRAC = 0.25  # slack (allowance) as a fraction of baseline mean
CUSUM_H_FRAC = 1.5  # alarm threshold as a fraction of baseline mean
CUSUM_BASELINE = 12  # months used for the baseline mean


@register(
    "cusum_drift_detector",
    oracle=f"""
    WITH RECURSIVE mm AS (
        SELECT n.n_name AS n_name,
               (date_part('year', o.o_orderdate) - 1996) * 12
                 + date_part('month', o.o_orderdate) AS m,
               SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= DATE '{TS_START}'
        GROUP BY 1, 2
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY m) AS rn,
               COUNT(*) OVER (PARTITION BY n_name) AS t_max
        FROM mm
    ),
    base AS (
        SELECT n_name,
               CAST(SUM(cents) AS BIGINT) / {float(CUSUM_BASELINE)} AS mu
        FROM r WHERE rn <= {CUSUM_BASELINE} GROUP BY n_name
    ),
    step AS (
        SELECT r.n_name, {CUSUM_BASELINE} AS t, r.t_max, base.mu,
               CAST(0.0 AS DOUBLE) AS s, CAST(0.0 AS DOUBLE) AS mx,
               CAST(NULL AS BIGINT) AS alarm_month
        FROM r JOIN base ON r.n_name = base.n_name
        WHERE r.rn = {CUSUM_BASELINE}
        UNION ALL
        SELECT s.n_name, s.t + 1, s.t_max, s.mu,
               GREATEST(0.0, s.s + (r.cents - s.mu)
                             - s.mu * {CUSUM_K_FRAC}),
               GREATEST(s.mx, GREATEST(0.0, s.s + (r.cents - s.mu)
                                            - s.mu * {CUSUM_K_FRAC})),
               COALESCE(s.alarm_month,
                        CASE WHEN GREATEST(0.0, s.s + (r.cents - s.mu)
                                                - s.mu * {CUSUM_K_FRAC})
                                  > s.mu * {CUSUM_H_FRAC}
                             THEN CAST(r.m AS BIGINT) END)
        FROM step s JOIN r ON r.n_name = s.n_name AND r.rn = s.t + 1
        WHERE s.t < s.t_max
    )
    SELECT n_name, mu, mx AS max_cusum, alarm_month
    FROM step WHERE t = t_max
    """,
    tags=("statistics", "drift", "cusum", "sequential", "time_series"),
)
def cusum_drift_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM (Page 1954) per nation: after a
    {CUSUM_BASELINE}-month baseline mean μ, accumulate
    S_t = max(0, S_(t-1) + (y_t − μ) − kμ) and alarm the first month
    S_t > hμ — the sequential detector with optimal average run length
    for sustained small shifts, where changepoint_detector's windowed
    screen needs the shift to dominate a 3-day frame. k={CUSUM_K_FRAC}
    and h={CUSUM_H_FRAC} are exact binary fractions of μ, and μ itself
    is an exact integer sum with one division, so the whole recursion
    is bit-reproducible — Spark runs it as one codegen fold over the
    sorted month array (the holt_linear_forecast template), the oracle
    replays it as a recursive CTE. Corpus cost is the one month
    aggregate; the sequential walk never leaves the ≤67-element
    per-group array."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(TS_START).cast("date")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    mm = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1996)) * 12
                + F.month("o_orderdate")
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    series = mm.groupBy("n_name").agg(
        F.array_sort(F.collect_list(F.struct("m", "cents"))).alias("arr")
    )
    mu = (
        F.aggregate(
            F.slice("arr", 1, CUSUM_BASELINE),
            F.lit(0).cast("long"),
            lambda acc, p: acc + p["cents"],
        )
        / F.lit(float(CUSUM_BASELINE))
    )
    with_mu = series.select("n_name", "arr", mu.alias("mu"))
    k = F.col("mu") * F.lit(CUSUM_K_FRAC)
    h = F.col("mu") * F.lit(CUSUM_H_FRAC)
    init = F.struct(
        F.lit(0.0).alias("s"),
        F.lit(0.0).alias("mx"),
        F.lit(None).cast("long").alias("alarm_month"),
    )

    def _step(acc, p):
        s_new = F.greatest(
            F.lit(0.0), acc["s"] + (p["cents"] - F.col("mu")) - k
        )
        return F.struct(
            s_new.alias("s"),
            F.greatest(acc["mx"], s_new).alias("mx"),
            F.coalesce(
                acc["alarm_month"],
                F.when(s_new > h, p["m"].cast("long")),
            ).alias("alarm_month"),
        )

    fold = F.aggregate(
        F.slice(
            "arr",
            CUSUM_BASELINE + 1,
            F.greatest(F.size("arr") - CUSUM_BASELINE, F.lit(0)),
        ),
        init,
        _step,
    )
    return with_mu.select(
        "n_name",
        "mu",
        fold.getField("mx").alias("max_cusum"),
        fold.getField("alarm_month").alias("alarm_month"),
    )


# --- one-way ANOVA (round 7) -------------------------------------------------
@register(
    "anova_oneway",
    oracle="""
    WITH g AS (
        SELECT r.r_name AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sy,
               CAST(SUM(CAST(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                             * CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                             AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1
    ),
    gg AS (SELECT grp, CAST(sy AS DOUBLE) * sy / n AS gm FROM g),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS tn,
               CAST(SUM(sy) AS BIGINT) AS tsy,
               CAST(SUM(syy) AS DECIMAL(38,0)) AS tsyy,
               (SELECT list_reduce(list(gm ORDER BY grp), (a, b) -> a + b)
                FROM gg) AS sum_gm
        FROM g
    )
    SELECT k AS n_groups, tn AS n_rows,
           sum_gm - CAST(tsy AS DOUBLE) * tsy / tn AS ss_between,
           CAST(tsyy AS DOUBLE) - sum_gm AS ss_within,
           (sum_gm - CAST(tsy AS DOUBLE) * tsy / tn) / (k - 1)
             / ((CAST(tsyy AS DOUBLE) - sum_gm) / (tn - k)) AS f_stat
    FROM t
    """,
    tags=("statistics", "anova", "hypothesis_test"),
)
def anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across regions: the F statistic
    (between-group over within-group mean square) from sufficient
    statistics only — each group contributes (n, Σy, Σy²), SS_between =
    Σ(Σy_g)²/n_g − (Σy)²/N and SS_within = Σy² − Σ(Σy_g)²/n_g. The
    group-mean-squares term Σ(Σy_g)²/n_g sums k=5 DOUBLES, so it folds
    in GROUP-NAME ORDER on both engines (sorted collect + left fold vs
    DuckDB's ordered list_reduce) — engine-chosen aggregation order
    over doubles is exactly the nondeterminism the repo's decimal/fold
    discipline exists to kill, demonstrated here at k=5. Σy² rides
    exact DECIMAL(38,0) (BIGINT overflows by sf0.01, the
    regression_stump_train lesson). Corpus cost: one groupBy to 5
    rows; everything after is constant-size."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    g = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("grp"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(cents).cast("long").alias("sy"),
            F.sum((cents * cents).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("syy"),
        )
    )
    t = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("tn"),
        F.sum("sy").cast("long").alias("tsy"),
        F.sum("syy").cast("decimal(38,0)").alias("tsyy"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("grp"),
                        (
                            F.col("sy").cast("double")
                            * F.col("sy")
                            / F.col("n")
                        ).alias("gm"),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["gm"],
        ).alias("sum_gm"),
    )
    ss_between = F.col("sum_gm") - F.col("tsy").cast("double") * F.col(
        "tsy"
    ) / F.col("tn")
    ss_within = F.col("tsyy").cast("double") - F.col("sum_gm")
    return t.select(
        F.col("k").alias("n_groups"),
        F.col("tn").alias("n_rows"),
        ss_between.alias("ss_between"),
        ss_within.alias("ss_within"),
        (
            ss_between
            / (F.col("k") - 1)
            / (ss_within / (F.col("tn") - F.col("k")))
        ).alias("f_stat"),
    )


# --- Spearman rank correlation (round 7) -------------------------------------
@register(
    "spearman_rank_corr",
    oracle="""
    WITH base AS (
        SELECT l_returnflag AS grp,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    r AS (
        SELECT grp,
               2 * RANK() OVER (PARTITION BY grp ORDER BY x)
                 + COUNT(*) OVER (PARTITION BY grp, x) - 1 AS drx,
               2 * RANK() OVER (PARTITION BY grp ORDER BY y)
                 + COUNT(*) OVER (PARTITION BY grp, y) - 1 AS dry
        FROM base
    ),
    s AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(drx) AS BIGINT) AS sx,
               CAST(SUM(dry) AS BIGINT) AS sy,
               CAST(SUM(CAST(drx * drx AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(dry * dry AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(drx * dry AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
        FROM r GROUP BY grp
    )
    SELECT grp, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS spearman_rho
    FROM s
    """,
    tags=("statistics", "rank_correlation", "nonparametric"),
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs line price per return
    flag — the monotone-association companion to price_quantity_corr's
    Pearson r: insensitive to the heavy right tail of money columns
    because only ranks enter. Ties get exact MIDRANKS, carried as the
    integer 2·midrank = 2·rank + tiecount − 1, so every aggregate (Σr,
    Σr², Σrᵣ·r_c) is exact integer/decimal arithmetic; Pearson-on-ranks
    is scale-invariant, so the doubling cancels and the one double
    formula at the end (deterministic scalar IEEE ops; repo-wide
    sqrt-yes/log-no line) value-hashes across engines.

    Scale notes (100 TB): two rank windows partitioned by group — the
    same partitioned-sort shape quantile_normalize ships; when a group's
    value domain must be bounded, band the measure first (the
    two_phase_global_quantiles bucket trick) and these midranks become
    the banded-variable Spearman. Aggregation is one map-side-combinable
    groupBy to |groups| rows; the reference has no correlation surface
    at all (SURVEY.md §2.4 — statistics absent)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    wx = W.partitionBy("grp").orderBy("x")
    wxc = W.partitionBy("grp", "x")
    wy = W.partitionBy("grp").orderBy("y")
    wyc = W.partitionBy("grp", "y")
    r = li.select(
        "grp",
        (2 * F.rank().over(wx) + F.count("*").over(wxc) - 1).alias("drx"),
        (2 * F.rank().over(wy) + F.count("*").over(wyc) - 1).alias("dry"),
    )
    s = r.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("drx").cast("long").alias("sx"),
        F.sum("dry").cast("long").alias("sy"),
        F.sum((F.col("drx") * F.col("drx")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum((F.col("dry") * F.col("dry")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum((F.col("drx") * F.col("dry")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    dx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    dy = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    return s.select(
        "grp", "n", (num / (F.sqrt(dx) * F.sqrt(dy))).alias("spearman_rho")
    )


# --- Kruskal-Wallis H test (round 7) -----------------------------------------
@register(
    "kruskal_wallis_test",
    oracle="""
    WITH base AS (
        SELECT c_mktsegment AS grp,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
    ),
    cells AS (SELECT grp, v, COUNT(*) AS m FROM base GROUP BY grp, v),
    vals AS (
        SELECT v, SUM(m) AS c,
               COALESCE(SUM(SUM(m)) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS below
        FROM cells GROUP BY v
    ),
    g AS (
        SELECT cells.grp,
               CAST(SUM(cells.m) AS BIGINT) AS ng,
               CAST(SUM(cells.m * (2 * vals.below + vals.c + 1)) AS BIGINT)
                   AS rp
        FROM cells JOIN vals ON cells.v = vals.v
        GROUP BY cells.grp
    ),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(ng) AS BIGINT) AS n,
               (SELECT list_reduce(
                    list(CAST(rp AS DOUBLE) * rp / (4.0 * ng) ORDER BY grp),
                    (a, b) -> a + b) FROM g) AS sum_rm,
               (SELECT CAST(SUM(c * c * c - c) AS BIGINT) FROM vals) AS ties
        FROM g
    )
    SELECT k AS n_groups, n AS n_rows,
           12.0 * sum_rm / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)
               AS h_stat,
           1.0 - CAST(ties AS DOUBLE)
               / (CAST(n AS DOUBLE) * n * n - n) AS tie_correction,
           (12.0 * sum_rm / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))
             / (1.0 - CAST(ties AS DOUBLE)
                  / (CAST(n AS DOUBLE) * n * n - n)) AS h_adjusted
    FROM t
    """,
    tags=("bounded_window", "statistics", "kruskal_wallis", "hypothesis_test", "nonparametric"),
)
def kruskal_wallis_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five market segments on account
    balance — the k-group generalization of mann_whitney_u and the
    rank-based sibling of anova_oneway (no normality assumption; money
    columns are heavy-tailed). Midranks come from the DISTINCT-VALUE
    table (per-value counts + one running prefix), the mann_whitney_u
    scale pattern: the global sort touches |distinct balances| rows,
    never raw rows. 2·midrank = 2·below + c + 1 stays integer, so
    per-group rank sums are exact BIGINTs; the k=5 mean-square fold
    Σ R'²/(4n_g) runs in GROUP-NAME ORDER on both engines (the
    anova_oneway discipline), the tie correction 1 − Σ(c³−c)/(N³−N) is
    pure integer arithmetic, and the final H assembly is fixed-order
    scalar IEEE — the whole report value-hashes.

    Scale notes (100 TB): one (grp,v) partial agg, one bounded value
    table (broadcast to the cells join), constant-size tail. Nothing
    raw-row-sorted anywhere."""
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("grp"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("v"),
    )
    cells = base.groupBy("grp", "v").agg(F.count("*").alias("m"))
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    vals = (
        cells.groupBy("v")
        .agg(F.sum("m").alias("c"))
        .select(
            "v",
            "c",
            F.coalesce(F.sum("c").over(wv), F.lit(0)).alias("below"),
        )
    )
    g = (
        cells.join(F.broadcast(vals), "v")
        .groupBy("grp")
        .agg(
            F.sum("m").cast("long").alias("ng"),
            F.sum(
                F.col("m") * (2 * F.col("below") + F.col("c") + 1)
            )
            .cast("long")
            .alias("rp"),
        )
    )
    ties_row = vals.agg(
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        )
        .cast("long")
        .alias("ties")
    )
    t = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("grp"),
                        (
                            F.col("rp").cast("double")
                            * F.col("rp")
                            / (4.0 * F.col("ng"))
                        ).alias("rm"),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["rm"],
        ).alias("sum_rm"),
    ).crossJoin(F.broadcast(ties_row))
    nd = F.col("n").cast("double")
    h = 12.0 * F.col("sum_rm") / (nd * (F.col("n") + 1)) - 3.0 * (
        F.col("n") + 1
    )
    corr = 1.0 - F.col("ties").cast("double") / (
        nd * F.col("n") * F.col("n") - F.col("n")
    )
    return t.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        h.alias("h_stat"),
        corr.alias("tie_correction"),
        (h / corr).alias("h_adjusted"),
    )


# --- autocorrelation function (round 7) ---------------------------------------
ACF_MAX_LAG = 6


@register(
    "acf_lags",
    oracle=f"""
    WITH m AS (
        SELECT n.n_name AS n_name,
               (date_part('year', o.o_orderdate) - 1996) * 12
                 + date_part('month', o.o_orderdate) AS m,
               SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= DATE '{TS_START}'
        GROUP BY 1, 2
    ),
    st AS (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(cents) AS BIGINT) AS s
           FROM m GROUP BY n_name),
    y AS (
        SELECT m.n_name, m.m, st.n,
               CAST(st.n * m.cents - st.s AS HUGEINT) AS y
        FROM m JOIN st ON m.n_name = st.n_name
    ),
    lagged AS (
        SELECT n_name, n, y,
               {", ".join(f"LAG(y, {k}) OVER (PARTITION BY n_name ORDER BY m) AS y{k}" for k in range(1, 7))}
        FROM y
    )
    SELECT n_name, MAX(n) AS n_months,
           {", ".join(f"CAST(((SUM(y * y{k}) + SUM(y * y)) * 1000000000) // SUM(y * y) - 1000000000 AS BIGINT) AS acf_{k}_e9" for k in range(1, 7))}
    FROM lagged GROUP BY n_name
    """,
    tags=("statistics", "time_series", "autocorrelation"),
)
def acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1-6) of monthly order revenue per
    nation — the seasonality/persistence diagnostic read before fitting
    any forecast (holt_linear_forecast, rolling_ols_slope share this
    exact monthly-cents series). The standard estimator
    r_k = Σ(x_t−x̄)(x_{{t−k}}−x̄)/Σ(x_t−x̄)² is computed with the mean
    folded in EXACTLY: multiplying through by n² turns every centered
    term into the integer y_t = n·x_t − S (cents), the n² factors
    cancel in the ratio, and products ride DECIMAL(38,0) (y² ~ 1e20
    overflows BIGINT — HUGEINT on the oracle side). The >2^53 sums
    cannot cross to double identically (the numeric.py 1-ulp trap,
    observed live here), so each r_k is emitted as the EXACT integer
    ⌊(num+den)·1e9/den⌋ − 1e9 (shifting by den keeps the integral
    division non-negative, where floor == truncate in both engines) —
    a 1e-9-quantized rational, hash-exact by construction.

    Scale notes (100 TB): the corpus collapses to nation×month in one
    partial-agg groupBy; the per-nation scalars (n, S) broadcast back;
    the lag window runs over ≤67 rows per nation. At a scale where
    n·x_t itself outgrew BIGINT, y would ride decimal end-to-end — the
    shape is unchanged."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(TS_START).cast("date")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1996)) * 12
                + F.month("o_orderdate")
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    st = m.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    y = m.join(F.broadcast(st), "n_name").select(
        "n_name",
        "m",
        "n",
        (F.col("n") * F.col("cents") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("y"),
    )
    win = W.partitionBy("n_name").orderBy("m")
    lagged = y.select(
        "n_name",
        "n",
        "y",
        *[F.lag("y", k).over(win).alias(f"y{k}") for k in range(1, ACF_MAX_LAG + 1)],
    )
    agg = lagged.groupBy("n_name").agg(
        F.max("n").alias("n_months"),
        F.sum(F.col("y") * F.col("y")).alias("den"),
        *[
            F.sum(F.col("y") * F.col(f"y{k}")).alias(f"num{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    return agg.select(
        "n_name",
        "n_months",
        *[
            F.expr(
                f"CAST(((num{k} + den) * CAST(1000000000 AS DECIMAL(38,0)))"
                f" div den AS BIGINT) - 1000000000"
            ).alias(f"acf_{k}_e9")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )


# --- t-closeness audit (round 7, completes the k-anon / l-div trio) -----------
@register(
    "t_closeness_audit",
    oracle="""
    WITH cells AS (
        SELECT c_nationkey, FLOOR(c_acctbal / 1000) AS bal_band,
               c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS m
        FROM customer GROUP BY 1, 2, 3
    ),
    gseg AS (SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS g
             FROM customer GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM customer),
    classes AS (SELECT c_nationkey, bal_band, CAST(SUM(m) AS BIGINT) AS n
                FROM cells GROUP BY 1, 2),
    dense AS (
        SELECT cl.c_nationkey, cl.bal_band, cl.n, gs.seg, gs.g, t.big_n,
               COALESCE(ce.m, 0) AS m
        FROM classes cl CROSS JOIN gseg gs CROSS JOIN tot t
        LEFT JOIN cells ce ON ce.c_nationkey = cl.c_nationkey
                          AND ce.bal_band = cl.bal_band AND ce.seg = gs.seg
    )
    SELECT c_nationkey, CAST(bal_band AS BIGINT) AS bal_band,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(SUM(ABS(big_n * m - n * g)) AS DOUBLE)
             / (2.0 * MAX(n) * MAX(big_n)) AS t_value
    FROM dense GROUP BY 1, 2
    """,
    tags=("privacy", "t_closeness", "audit", "quasi_identifier",
          "training_data_qa"),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-CLOSENESS audit (Li et al. 2007) — the third rung of the
    privacy ladder over the SAME fixture as k_anonymity_audit and
    l_diversity_audit (QI = nation × $1000 balance band, sensitive =
    market segment): l-diversity is satisfied by a class with many
    distinct but heavily SKEWED sensitive values; t-closeness bounds
    the distance between each class's sensitive distribution and the
    corpus-wide one. For a categorical attribute the EMD ground
    distance is uniform, so t = total-variation distance
    ½Σ|p_i − q_i|, carried as the integer ½Σ|N·m_i − n·g_i|/(n·N) —
    one division per class, value-hash exact.

    Scale notes (100 TB): two partial-agg scans (QI×seg cells, global
    seg marginal); the dense class×segment grid comes from crossing
    the class table with a |segments|-row broadcast — no raw-row
    re-touch, no window. The reference has no privacy surface at all
    (SURVEY.md §2.4)."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).alias("bal_band")
    cells = cust.groupBy(
        "c_nationkey", band, F.col("c_mktsegment").alias("seg")
    ).agg(F.count("*").cast("long").alias("m"))
    gseg = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("*").cast("long").alias("g")
    )
    tot = cust.agg(F.count("*").cast("long").alias("big_n"))
    classes = cells.groupBy("c_nationkey", "bal_band").agg(
        F.sum("m").cast("long").alias("n")
    )
    dense = (
        classes.crossJoin(F.broadcast(gseg))
        .crossJoin(F.broadcast(tot))
        .join(
            cells.withColumnRenamed("m", "m_cell"),
            ["c_nationkey", "bal_band", "seg"],
            "left",
        )
        .select(
            "c_nationkey",
            "bal_band",
            "n",
            "g",
            "big_n",
            F.coalesce(F.col("m_cell"), F.lit(0)).alias("m"),
        )
    )
    return dense.groupBy(
        "c_nationkey", F.col("bal_band").cast("long").alias("bal_band")
    ).agg(
        F.max("n").cast("long").alias("n_rows"),
        (
            F.sum(
                F.abs(F.col("big_n") * F.col("m") - F.col("n") * F.col("g"))
            ).cast("double")
            / (2.0 * F.max("n") * F.max("big_n"))
        ).alias("t_value"),
    )


# --- parameterized SQL binding (round 7) ---------------------------------------
PSQL_MIN_PRICE = 400000.0
PSQL_SEGMENT = "BUILDING"


@register(
    "parameterized_sql_binding",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           {dsum_sql('o.o_totalprice')} AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > {PSQL_MIN_PRICE}
      AND c.c_mktsegment = '{PSQL_SEGMENT}'
    GROUP BY o.o_orderpriority
    """,
    tags=("sql", "parameterized_sql", "api_surface"),
)
def parameterized_sql_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAMED-PARAMETER SQL (spark.sql(..., args=...), Spark 3.4+): the
    injection-safe way to template the same analytical statement over
    changing literals — parameters bind as typed literal expressions in
    the parsed plan (never string interpolation), so a malicious
    segment value is data, not SQL. Constant-folding and filter
    pushdown see real literals, identical to the hand-inlined query —
    the oracle IS that hand-inlined query, proving the binding changes
    nothing semantically.

    Scale relevance: dashboards and schedulers re-issue templated
    queries thousands of times a day at 100 TB; parameter binding keeps
    the plan cacheable and the predicate pushdown-eligible (a string-
    concatenated literal does too, but unsafely)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "bprs_psql_orders"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "bprs_psql_customer"
    )
    try:
        return spark.sql(
            """
            SELECT o.o_orderpriority,
                   COUNT(*) AS n_orders,
                   CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,10))), 2)
                        AS DOUBLE) AS total_price
            FROM bprs_psql_orders o
            JOIN bprs_psql_customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_totalprice > :min_price AND c.c_mktsegment = :segment
            GROUP BY o.o_orderpriority
            """,
            args={"min_price": PSQL_MIN_PRICE, "segment": PSQL_SEGMENT},
        )
    finally:
        spark.catalog.dropTempView("bprs_psql_orders")
        spark.catalog.dropTempView("bprs_psql_customer")


# --- empirical-Bayes shrunk conversion rates (round 7) ---------------------------
EB_BIG_ORDER = 400000.0


@register(
    "eb_shrunk_conversion",
    oracle=f"""
    WITH cust AS (
        SELECT c.c_custkey, n.n_name,
               CASE WHEN MAX(o.o_totalprice) > {EB_BIG_ORDER} THEN 1 ELSE 0
               END AS conv
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, n.n_name
    ),
    g AS (
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(conv) AS BIGINT) AS x
        FROM cust GROUP BY n_name
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               (SELECT list_reduce(
                    list(CAST(x AS DOUBLE) / n ORDER BY n_name),
                    (a, b) -> a + b) FROM g) AS sum_p,
               (SELECT list_reduce(
                    list((CAST(x AS DOUBLE) / n) * (CAST(x AS DOUBLE) / n)
                         ORDER BY n_name),
                    (a, b) -> a + b) FROM g) AS sum_p2
        FROM g
    ),
    prior AS (
        SELECT k, sum_p / k AS m,
               (sum_p2 - sum_p * sum_p / k) / (k - 1) AS v,
               (sum_p / k) * (1.0 - sum_p / k)
                   / ((sum_p2 - sum_p * sum_p / k) / (k - 1)) - 1.0 AS ab
        FROM mom
    )
    SELECT g.n_name, g.n AS n_customers, g.x AS n_converted,
           CAST(g.x AS DOUBLE) / g.n AS raw_rate,
           p.m * p.ab AS alpha, (1.0 - p.m) * p.ab AS beta,
           (g.x + p.m * p.ab) / (g.n + p.ab) AS shrunk_rate
    FROM g, prior p
    """,
    tags=("statistics", "empirical_bayes", "shrinkage", "beta_binomial"),
)
def eb_shrunk_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL-BAYES (beta-binomial, method of moments) shrinkage of
    per-nation big-order conversion rates — the fix for small-group
    leaderboards where a 3-customer nation posts rate 1.0
    (smoothed_ctr's add-k is the fixed-prior special case; here the
    prior Beta(α,β) is LEARNED from the group ensemble: α+β =
    m(1−m)/v − 1). Raw rates are exact count ratios; the two moment
    sums Σp and Σp² fold in GROUP-NAME ORDER (the anova_oneway k-group
    discipline, k=25), and every downstream expression is fixed-order
    scalar IEEE — the whole shrinkage table value-hashes. Shrunk rates
    move each group toward the grand mean in proportion to its sample
    size — exactly the ranking a fair cross-group comparison needs.

    Scale notes (100 TB): one LEFT join + per-customer max (partial-agg
    friendly), one 25-row group table; the prior fit and the shrinkage
    are constant-size arithmetic."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "n_name")
        .agg(
            F.when(F.max("o_totalprice") > EB_BIG_ORDER, 1)
            .otherwise(0)
            .alias("conv")
        )
    )
    g = cust.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("conv").cast("long").alias("x"),
    )
    p_expr = F.col("x").cast("double") / F.col("n")
    mom = g.agg(
        F.count("*").cast("long").alias("k"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("n_name"), p_expr.alias("p")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["p"],
        ).alias("sum_p"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("n_name"), (p_expr * p_expr).alias("p2"))
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["p2"],
        ).alias("sum_p2"),
    )
    m = F.col("sum_p") / F.col("k")
    v = (F.col("sum_p2") - F.col("sum_p") * F.col("sum_p") / F.col("k")) / (
        F.col("k") - 1
    )
    prior = mom.select(
        m.alias("m"), (m * (1.0 - m) / v - 1.0).alias("ab")
    )
    return g.crossJoin(F.broadcast(prior)).select(
        "n_name",
        F.col("n").alias("n_customers"),
        F.col("x").alias("n_converted"),
        (F.col("x").cast("double") / F.col("n")).alias("raw_rate"),
        (F.col("m") * F.col("ab")).alias("alpha"),
        ((1.0 - F.col("m")) * F.col("ab")).alias("beta"),
        (
            (F.col("x") + F.col("m") * F.col("ab"))
            / (F.col("n") + F.col("ab"))
        ).alias("shrunk_rate"),
    )


# --- gradient-boosting residual round (round 7) ----------------------------------
@register(
    "boosting_residual_round",
    oracle=f"""
    WITH m AS (
        SELECT (date_part('year', o_orderdate) - 1996) * 12
                 + date_part('month', o_orderdate) AS m,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS sy,
               CAST(SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             * CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
        FROM orders WHERE o_orderdate >= DATE '{TS_START}'
        GROUP BY 1
    ),
    pre AS (
        SELECT m, n, sy, syy,
               CAST(SUM(n) OVER w AS BIGINT) AS cn,
               CAST(SUM(sy) OVER w AS BIGINT) AS csy,
               CAST(SUM(n) OVER () AS BIGINT) AS tn,
               CAST(SUM(sy) OVER () AS BIGINT) AS tsy,
               CAST(SUM(CAST(csyy_part AS DECIMAL(38,0))) OVER w
                    AS DECIMAL(38,0)) AS csyy,
               CAST(SUM(CAST(csyy_part AS DECIMAL(38,0))) OVER ()
                    AS DECIMAL(38,0)) AS tsyy
        FROM (SELECT *, syy AS csyy_part FROM m)
        WINDOW w AS (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
    ),
    best1 AS (
        SELECT m AS t1, cn, tn,
               CAST(csy AS DOUBLE) / cn AS mu_l,
               CAST(tsy - csy AS DOUBLE) / (tn - cn) AS mu_r,
               (CAST(csyy AS DOUBLE) - CAST(csy AS DOUBLE) * csy / cn)
             + (CAST(tsyy - csyy AS DOUBLE)
                - CAST(tsy - csy AS DOUBLE) * (tsy - csy) / (tn - cn))
                   AS sse1,
               ROW_NUMBER() OVER (ORDER BY
                   (CAST(csyy AS DOUBLE) - CAST(csy AS DOUBLE) * csy / cn)
                 + (CAST(tsyy - csyy AS DOUBLE)
                    - CAST(tsy - csy AS DOUBLE) * (tsy - csy) / (tn - cn)),
                   m) AS rk
        FROM pre WHERE cn < tn
    ),
    b1 AS (SELECT t1, mu_l, mu_r, sse1 FROM best1 WHERE rk = 1),
    rhist AS (
        SELECT m.m, m.n,
               CAST(ROUND((m.sy - m.n * (CASE WHEN m.m <= b1.t1
                                              THEN b1.mu_l ELSE b1.mu_r END))
                          * 10000) AS BIGINT) AS sr_q,
               CAST(ROUND((CAST(m.syy AS DOUBLE)
                           - 2 * (CASE WHEN m.m <= b1.t1
                                       THEN b1.mu_l ELSE b1.mu_r END) * m.sy
                           + m.n * (CASE WHEN m.m <= b1.t1
                                         THEN b1.mu_l ELSE b1.mu_r END)
                                 * (CASE WHEN m.m <= b1.t1
                                         THEN b1.mu_l ELSE b1.mu_r END))
                          * 10000) AS HUGEINT) AS srr_q
        FROM m, b1
    ),
    rpre AS (
        SELECT m,
               CAST(SUM(n) OVER w AS BIGINT) AS cn,
               CAST(SUM(sr_q) OVER w AS BIGINT) AS csr,
               CAST(SUM(CAST(srr_q AS DECIMAL(38,0))) OVER w
                    AS DECIMAL(38,0)) AS csrr,
               CAST(SUM(n) OVER () AS BIGINT) AS tn,
               CAST(SUM(sr_q) OVER () AS BIGINT) AS tsr,
               CAST(SUM(CAST(srr_q AS DECIMAL(38,0))) OVER ()
                    AS DECIMAL(38,0)) AS tsrr
        FROM rhist
        WINDOW w AS (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
    ),
    best2 AS (
        SELECT m AS t2, cn AS n_left2, tn - cn AS n_right2,
               ((CAST(csrr AS DOUBLE) / 10000.0
                 - (CAST(csr AS DOUBLE) / 10000.0)
                   * (CAST(csr AS DOUBLE) / 10000.0) / cn)
              + (CAST(tsrr - csrr AS DOUBLE) / 10000.0
                 - (CAST(tsr - csr AS DOUBLE) / 10000.0)
                   * (CAST(tsr - csr AS DOUBLE) / 10000.0) / (tn - cn)))
                   AS sse2,
               (CAST(tsrr AS DOUBLE) / 10000.0
                - (CAST(tsr AS DOUBLE) / 10000.0)
                  * (CAST(tsr AS DOUBLE) / 10000.0) / tn) AS sse_resid_root,
               ROW_NUMBER() OVER (ORDER BY
                   ((CAST(csrr AS DOUBLE) / 10000.0
                     - (CAST(csr AS DOUBLE) / 10000.0)
                       * (CAST(csr AS DOUBLE) / 10000.0) / cn)
                  + (CAST(tsrr - csrr AS DOUBLE) / 10000.0
                     - (CAST(tsr - csr AS DOUBLE) / 10000.0)
                       * (CAST(tsr - csr AS DOUBLE) / 10000.0) / (tn - cn))),
                   m) AS rk
        FROM rpre WHERE cn < tn
    )
    SELECT CAST(b1.t1 AS BIGINT) AS threshold_1, b1.mu_l, b1.mu_r,
           b1.sse1 AS sse_after_round1,
           CAST(b2.t2 AS BIGINT) AS threshold_2,
           CAST(b2.n_left2 AS BIGINT) AS n_left2,
           CAST(b2.n_right2 AS BIGINT) AS n_right2,
           b2.sse_resid_root, b2.sse2 AS sse_after_round2,
           b2.sse_resid_root - b2.sse2 AS gain_round2
    FROM b1, (SELECT * FROM best2 WHERE rk = 1) b2
    """,
    tags=("bounded_window", "statistics", "gradient_boosting", "histogram_method",
          "ml_training"),
)
def boosting_residual_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One GRADIENT-BOOSTING iteration on top of regression_stump_train
    — and the reason histogram-method GBDT scales: because the feature
    is histogrammed, round 2's residual statistics per month derive
    ALGEBRAICALLY from round 1's sufficient statistics (Σr = Σy − n·p,
    Σr² = Σy² − 2pΣy + n·p² with p the month's round-1 prediction) —
    the corpus is NOT rescanned; the boosting loop runs entirely on
    the ≤67-row histogram. Residual moments are quantized to exact
    1e-4 fixed-point BEFORE the prefix sums (window sums of raw
    doubles would be at the mercy of each engine's segment-tree
    summation order), so both rounds' argmins and gains value-hash.
    Deterministic tie-break on the earlier month, both rounds.

    Scale notes (100 TB): one corpus pass builds the histogram; every
    further boosting round is constant-size window arithmetic — the
    XGBoost/LightGBM outer loop expressed relationally."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(TS_START).cast("date")
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    m = o.groupBy(
        (
            (F.year("o_orderdate") - F.lit(1996)) * 12 + F.month("o_orderdate")
        ).alias("m")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(cents).cast("long").alias("sy"),
        F.sum((cents * cents).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    wcum = W.orderBy("m").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy()
    pre = m.select(
        "m",
        F.sum("n").over(wcum).cast("long").alias("cn"),
        F.sum("sy").over(wcum).cast("long").alias("csy"),
        F.sum("syy").over(wcum).cast("decimal(38,0)").alias("csyy"),
        F.sum("n").over(wall).cast("long").alias("tn"),
        F.sum("sy").over(wall).cast("long").alias("tsy"),
        F.sum("syy").over(wall).cast("decimal(38,0)").alias("tsyy"),
    )
    sse_left = F.col("csyy").cast("double") - F.col("csy").cast(
        "double"
    ) * F.col("csy") / F.col("cn")
    sse_right = (F.col("tsyy") - F.col("csyy")).cast("double") - (
        F.col("tsy") - F.col("csy")
    ).cast("double") * (F.col("tsy") - F.col("csy")) / (
        F.col("tn") - F.col("cn")
    )
    b1 = (
        pre.filter(F.col("cn") < F.col("tn"))
        .select(
            F.col("m").alias("t1"),
            (F.col("csy").cast("double") / F.col("cn")).alias("mu_l"),
            (
                (F.col("tsy") - F.col("csy")).cast("double")
                / (F.col("tn") - F.col("cn"))
            ).alias("mu_r"),
            (sse_left + sse_right).alias("sse1"),
        )
        .withColumn(
            "rk", F.row_number().over(W.orderBy("sse1", "t1"))
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    pred = F.when(F.col("m") <= F.col("t1"), F.col("mu_l")).otherwise(
        F.col("mu_r")
    )
    rhist = m.crossJoin(F.broadcast(b1)).select(
        "m",
        "n",
        F.round((F.col("sy") - F.col("n") * pred) * 10000)
        .cast("long")
        .alias("sr_q"),
        F.round(
            (
                F.col("syy").cast("double")
                - 2 * pred * F.col("sy")
                + F.col("n") * pred * pred
            )
            * 10000
        )
        .cast("decimal(38,0)")
        .alias("srr_q"),
        "t1",
        "mu_l",
        "mu_r",
        "sse1",
    )
    rpre = rhist.select(
        "m",
        "t1",
        "mu_l",
        "mu_r",
        "sse1",
        F.sum("n").over(wcum).cast("long").alias("cn"),
        F.sum("sr_q").over(wcum).cast("long").alias("csr"),
        F.sum("srr_q").over(wcum).cast("decimal(38,0)").alias("csrr"),
        F.sum("n").over(wall).cast("long").alias("tn"),
        F.sum("sr_q").over(wall).cast("long").alias("tsr"),
        F.sum("srr_q").over(wall).cast("decimal(38,0)").alias("tsrr"),
    )
    csr_d = F.col("csr").cast("double") / 10000.0
    csrr_d = F.col("csrr").cast("double") / 10000.0
    tsr_d = F.col("tsr").cast("double") / 10000.0
    tsrr_d = F.col("tsrr").cast("double") / 10000.0
    rsr_d = (F.col("tsr") - F.col("csr")).cast("double") / 10000.0
    rsrr_d = (F.col("tsrr") - F.col("csrr")).cast("double") / 10000.0
    # Explicit (left) + (right) grouping: the oracle parenthesizes
    # (A - B) + (C - D), and the un-parenthesized Python chain
    # ((A - B) + C) - D drifts 1 ULP at unlucky magnitudes (found by
    # the round-12 full sf0.001 sweep; sf0.01/0.1 happened to agree).
    sse2 = (
        (csrr_d - csr_d * csr_d / F.col("cn"))
        + (rsrr_d - rsr_d * rsr_d / (F.col("tn") - F.col("cn")))
    )
    resid_root = tsrr_d - tsr_d * tsr_d / F.col("tn")
    b2 = (
        rpre.filter(F.col("cn") < F.col("tn"))
        .select(
            "t1",
            "mu_l",
            "mu_r",
            "sse1",
            F.col("m").alias("t2"),
            F.col("cn").alias("n_left2"),
            (F.col("tn") - F.col("cn")).alias("n_right2"),
            sse2.alias("sse2"),
            resid_root.alias("sse_resid_root"),
        )
        .withColumn("rk", F.row_number().over(W.orderBy("sse2", "t2")))
        .filter(F.col("rk") == 1)
    )
    return b2.select(
        F.col("t1").cast("long").alias("threshold_1"),
        "mu_l",
        "mu_r",
        F.col("sse1").alias("sse_after_round1"),
        F.col("t2").cast("long").alias("threshold_2"),
        F.col("n_left2").cast("long").alias("n_left2"),
        F.col("n_right2").cast("long").alias("n_right2"),
        "sse_resid_root",
        F.col("sse2").alias("sse_after_round2"),
        (F.col("sse_resid_root") - F.col("sse2")).alias("gain_round2"),
    )


# --- IDENTIFIER clause: safe dynamic table names (round 7) -----------------------
@register(
    "identifier_clause_scan",
    oracle="""
    SELECT n_name, COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("sql", "identifier_clause", "api_surface"),
)
def identifier_clause_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause (Spark 3.5+) — the injection-safe half of
    dynamic SQL that parameterized_sql_binding cannot cover: named
    parameters bind VALUES, never table/column names, so templated
    readers ("same report over tenant_<N> tables") historically
    string-concatenate identifiers. IDENTIFIER(:tbl) constrains the
    parameter to a lexical identifier — `bprs_id_customer; DROP ...`
    fails to parse instead of executing. The plan is identical to the
    static query (the oracle), proving the indirection is free.

    Scale relevance: multi-tenant lakes template the same pipeline
    over thousands of table names; this is the supported way to do it
    without a SQL-injection surface."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "bprs_id_customer"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "bprs_id_nation"
    )
    try:
        return spark.sql(
            """
            SELECT n_name, COUNT(*) AS n_customers
            FROM IDENTIFIER(:cust) JOIN IDENTIFIER(:nat)
              ON c_nationkey = n_nationkey
            GROUP BY n_name
            """,
            args={"cust": "bprs_id_customer", "nat": "bprs_id_nation"},
        )
    finally:
        spark.catalog.dropTempView("bprs_id_customer")
        spark.catalog.dropTempView("bprs_id_nation")


# --- Yule-Walker AR(2) fit (round 7) ----------------------------------------------
@register(
    "yule_walker_ar2",
    oracle="""
    WITH acf AS ({ACF_ORACLE})
    SELECT n_name, n_months,
           CAST(acf_1_e9 AS DOUBLE) / 1e9 AS r1,
           CAST(acf_2_e9 AS DOUBLE) / 1e9 AS r2,
           (CAST(acf_1_e9 AS DOUBLE) / 1e9)
             * (1.0 - CAST(acf_2_e9 AS DOUBLE) / 1e9)
             / (1.0 - (CAST(acf_1_e9 AS DOUBLE) / 1e9)
                      * (CAST(acf_1_e9 AS DOUBLE) / 1e9)) AS phi_1,
           ((CAST(acf_2_e9 AS DOUBLE) / 1e9)
             - (CAST(acf_1_e9 AS DOUBLE) / 1e9)
               * (CAST(acf_1_e9 AS DOUBLE) / 1e9))
             / (1.0 - (CAST(acf_1_e9 AS DOUBLE) / 1e9)
                      * (CAST(acf_1_e9 AS DOUBLE) / 1e9)) AS phi_2
    FROM acf
    """,
    tags=("statistics", "time_series", "autoregressive", "yule_walker"),
)
def yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) coefficients per nation by YULE-WALKER from the exact
    quantized autocorrelations: φ₁ = r₁(1−r₂)/(1−r₁²),
    φ₂ = (r₂−r₁²)/(1−r₁²) — parameter ESTIMATION stacked on acf_lags'
    measurement (composed verbatim, the binary_recall_at_k
    discipline), turning the diagnostic into a forecastable model
    (x̂_t = φ₁x_{t−1} + φ₂x_{t−2}; holt_linear_forecast is the
    trend-smoothing alternative). The inputs are exact 1e-9 integers,
    so the closed-form arithmetic is fixed-order scalar IEEE —
    hash-stable with no further quantization.

    Scale notes (100 TB): everything after acf_lags' one corpus pass
    is arithmetic on a 25-row frame."""
    from beam_pyspark_runner_spark.queries.registry import REGISTRY as _R

    acf = _R["acf_lags"].fn(spark, sf_dir)
    r1 = F.col("acf_1_e9").cast("double") / 1e9
    r2 = F.col("acf_2_e9").cast("double") / 1e9
    den = 1.0 - r1 * r1
    return acf.select(
        "n_name",
        "n_months",
        r1.alias("r1"),
        r2.alias("r2"),
        (r1 * (1.0 - r2) / den).alias("phi_1"),
        ((r2 - r1 * r1) / den).alias("phi_2"),
    )


from beam_pyspark_runner_spark.queries.registry import REGISTRY as _REG_R

_REG_R["yule_walker_ar2"].oracle = _REG_R["yule_walker_ar2"].oracle.replace(
    "{ACF_ORACLE}", _REG_R["acf_lags"].oracle
)


# --- quadratic-kernel MMD drift test (round 7) --------------------------------------
MMD_C = 1e16  # kernel scale ~ (typical cents)^2


@register(
    "mmd_quadratic_drift",
    oracle=f"""
    WITH s AS (
        SELECT date_part('year', o_orderdate) AS yr,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
        FROM orders WHERE date_part('year', o_orderdate) IN (1995, 1998)
    ),
    m AS (
        SELECT yr, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS s2,
               CAST(SUM(CAST(CAST(x AS DECIMAL(38,0)) * x AS DECIMAL(38,0))
                        * CAST(CAST(x AS DECIMAL(38,0)) * x
                               AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s4
        FROM s GROUP BY yr
    ),
    w AS (
        SELECT
            MAX(CASE WHEN yr = 1995 THEN n END) AS nx,
            MAX(CASE WHEN yr = 1995 THEN s1 END) AS x1,
            MAX(CASE WHEN yr = 1995 THEN s2 END) AS x2,
            MAX(CASE WHEN yr = 1995 THEN s4 END) AS x4,
            MAX(CASE WHEN yr = 1998 THEN n END) AS ny,
            MAX(CASE WHEN yr = 1998 THEN s1 END) AS y1,
            MAX(CASE WHEN yr = 1998 THEN s2 END) AS y2,
            MAX(CASE WHEN yr = 1998 THEN s4 END) AS y4
        FROM m
    )
    SELECT nx AS n_x, ny AS n_y,
           (CAST(nx AS DOUBLE) * (nx - 1)
              + (2.0 / {MMD_C}) * (CAST(x1 AS DOUBLE) * x1
                                   - CAST(x2 AS DOUBLE))
              + (1.0 / ({MMD_C} * {MMD_C}))
                * (CAST(x2 AS DOUBLE) * CAST(x2 AS DOUBLE)
                   - CAST(x4 AS DOUBLE)))
             / (CAST(nx AS DOUBLE) * (nx - 1)) AS within_x_mean,
           (CAST(ny AS DOUBLE) * (ny - 1)
              + (2.0 / {MMD_C}) * (CAST(y1 AS DOUBLE) * y1
                                   - CAST(y2 AS DOUBLE))
              + (1.0 / ({MMD_C} * {MMD_C}))
                * (CAST(y2 AS DOUBLE) * CAST(y2 AS DOUBLE)
                   - CAST(y4 AS DOUBLE)))
             / (CAST(ny AS DOUBLE) * (ny - 1)) AS within_y_mean,
           (CAST(nx AS DOUBLE) * ny
              + (2.0 / {MMD_C}) * (CAST(x1 AS DOUBLE) * y1)
              + (1.0 / ({MMD_C} * {MMD_C}))
                * (CAST(x2 AS DOUBLE) * CAST(y2 AS DOUBLE)))
             / (CAST(nx AS DOUBLE) * ny) AS cross_mean,
           (CAST(nx AS DOUBLE) * (nx - 1)
              + (2.0 / {MMD_C}) * (CAST(x1 AS DOUBLE) * x1
                                   - CAST(x2 AS DOUBLE))
              + (1.0 / ({MMD_C} * {MMD_C}))
                * (CAST(x2 AS DOUBLE) * CAST(x2 AS DOUBLE)
                   - CAST(x4 AS DOUBLE)))
             / (CAST(nx AS DOUBLE) * (nx - 1))
           + (CAST(ny AS DOUBLE) * (ny - 1)
              + (2.0 / {MMD_C}) * (CAST(y1 AS DOUBLE) * y1
                                   - CAST(y2 AS DOUBLE))
              + (1.0 / ({MMD_C} * {MMD_C}))
                * (CAST(y2 AS DOUBLE) * CAST(y2 AS DOUBLE)
                   - CAST(y4 AS DOUBLE)))
             / (CAST(ny AS DOUBLE) * (ny - 1))
           - 2.0 * ((CAST(nx AS DOUBLE) * ny
              + (2.0 / {MMD_C}) * (CAST(x1 AS DOUBLE) * y1)
              + (1.0 / ({MMD_C} * {MMD_C}))
                * (CAST(x2 AS DOUBLE) * CAST(y2 AS DOUBLE)))
             / (CAST(nx AS DOUBLE) * ny)) AS mmd2
    FROM w
    """,
    tags=("statistics", "mmd", "kernel", "drift", "two_sample"),
)
def mmd_quadratic_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum Mean Discrepancy two-sample test (Gretton et al. JMLR'12)
    between 1995 and 1998 order values with a QUADRATIC kernel
    k(x,y) = (1 + xy/c)² — chosen because a degree-2 polynomial
    kernel makes the U-statistic CLOSED-FORM in the first four power
    sums: Σᵢ≠ⱼk(xᵢ,xⱼ) = n(n−1) + (2/c)((Σx)²−Σx²) +
    (1/c²)((Σx²)²−Σx⁴). The kernel trick without any pairwise pass —
    the O(n²) MMD evaluation collapses to ONE aggregation per sample
    (the RBF kernel everyone defaults to needs exp(); quadratic MMD
    detects mean and variance drift, which is what KS
    (ks_statistic_drift) sees positionally and this sees in moment
    space). Power sums ride exact BIGINT/DECIMAL (Σx⁴ ~ 1e34 at
    sf0.1); the assembly is fixed-order scalar IEEE.

    Scale notes (100 TB): one partial-agg scan per comparison,
    constant-size tail — drift monitoring at any corpus size."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1998)
    )
    xd = F.col("x").cast("decimal(38,0)")
    m = o.select(F.year("o_orderdate").alias("yr"), cents.alias("x")).groupBy(
        "yr"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(xd * F.col("x")).cast("decimal(38,0)").alias("s2"),
        F.sum(
            (xd * F.col("x")).cast("decimal(38,0)")
            * (xd * F.col("x")).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("s4"),
    )
    w = m.agg(
        *[
            F.max(F.when(F.col("yr") == yr, F.col(c))).alias(f"{p}{s}")
            for yr, p in ((1995, "x"), (1998, "y"))
            for c, s in (("n", "n"), ("s1", "1"), ("s2", "2"), ("s4", "4"))
        ]
    ).select(
        F.col("xn").alias("nx"),
        F.col("x1"),
        F.col("x2"),
        F.col("x4"),
        F.col("yn").alias("ny"),
        F.col("y1"),
        F.col("y2"),
        F.col("y4"),
    )

    def within(n, s1, s2, s4):
        nd = F.col(n).cast("double")
        return (
            nd * (F.col(n) - 1)
            + (2.0 / MMD_C)
            * (F.col(s1).cast("double") * F.col(s1) - F.col(s2).cast("double"))
            + (1.0 / (MMD_C * MMD_C))
            * (
                F.col(s2).cast("double") * F.col(s2).cast("double")
                - F.col(s4).cast("double")
            )
        ) / (nd * (F.col(n) - 1))

    cross = (
        F.col("nx").cast("double") * F.col("ny")
        + (2.0 / MMD_C) * (F.col("x1").cast("double") * F.col("y1"))
        + (1.0 / (MMD_C * MMD_C))
        * (F.col("x2").cast("double") * F.col("y2").cast("double"))
    ) / (F.col("nx").cast("double") * F.col("ny"))
    wx = within("nx", "x1", "x2", "x4")
    wy = within("ny", "y1", "y2", "y4")
    return w.select(
        F.col("nx").alias("n_x"),
        F.col("ny").alias("n_y"),
        wx.alias("within_x_mean"),
        wy.alias("within_y_mean"),
        cross.alias("cross_mean"),
        (wx + wy - 2.0 * cross).alias("mmd2"),
    )


# --- exact 1-D Wasserstein distance (round 7) ---------------------------------------
@register(
    "wasserstein_1d_drift",
    oracle="""
    WITH s AS (
        SELECT date_part('year', o_orderdate) AS yr,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
        FROM orders WHERE date_part('year', o_orderdate) IN (1995, 1998)
    ),
    vals AS (
        SELECT v,
               CAST(COUNT(*) FILTER (WHERE yr = 1995) AS BIGINT) AS cx,
               CAST(COUNT(*) FILTER (WHERE yr = 1998) AS BIGINT) AS cy
        FROM s GROUP BY v
    ),
    tot AS (SELECT CAST(SUM(cx) AS BIGINT) AS n,
                   CAST(SUM(cy) AS BIGINT) AS m FROM vals),
    cum AS (
        SELECT v,
               CAST(SUM(cx) OVER w AS BIGINT) AS fx,
               CAST(SUM(cy) OVER w AS BIGINT) AS fy,
               LEAD(v) OVER (ORDER BY v) AS v_next
        FROM vals
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
    ),
    acc AS (
        SELECT CAST(SUM(CAST(ABS(t.m * c.fx - t.n * c.fy) AS HUGEINT)
                        * (c.v_next - c.v)) AS DECIMAL(38,0)) AS num,
               MAX(t.n) AS n, MAX(t.m) AS m
        FROM cum c, tot t WHERE c.v_next IS NOT NULL
    )
    SELECT n AS n_1995, m AS n_1998,
           CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * m) / 100.0
               AS wasserstein_1
    FROM acc
    """,
    tags=("bounded_window", "statistics", "wasserstein", "optimal_transport", "drift",
          "two_sample"),
)
def wasserstein_1d_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 1-D Wasserstein (earth-mover) distance between the 1995
    and 1998 order-value distributions — the third lens of the drift
    triptych: ks_statistic_drift reports the WORST CDF gap, 
    mmd_quadratic_drift the moment-space discrepancy, W₁ = ∫|F−G|dx
    the TOTAL transport cost in actual dollars ("how much money moved,
    on average, per order"). In 1-D the optimal transport collapses to
    the CDF-gap integral, and over empirical distributions that
    integral is the exact integer Σ|m·Fᵢ − n·Gᵢ|·(vᵢ₊₁−vᵢ) on the
    merged distinct-value table (cross-multiplied cumulative counts —
    no division until the single final one). The sort touches
    |distinct cents| rows, never raw orders (the mann_whitney_u
    pattern).

    Scale notes (100 TB): one conditional partial agg, one ordered
    prefix + LEAD over the value table. HUGEINT/decimal keeps the
    ~1e20 gap-weighted sum exact."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    s = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1998)
    ).select(F.year("o_orderdate").alias("yr"), cents.alias("v"))
    vals = s.groupBy("v").agg(
        F.count(F.when(F.col("yr") == 1995, 1)).cast("long").alias("cx"),
        F.count(F.when(F.col("yr") == 1998, 1)).cast("long").alias("cy"),
    )
    tot = vals.agg(
        F.sum("cx").cast("long").alias("n"),
        F.sum("cy").cast("long").alias("m"),
    )
    wc = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    wl = W.orderBy("v")
    cum = vals.select(
        "v",
        F.sum("cx").over(wc).cast("long").alias("fx"),
        F.sum("cy").over(wc).cast("long").alias("fy"),
        F.lead("v").over(wl).alias("v_next"),
    )
    acc = (
        cum.filter(F.col("v_next").isNotNull())
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.abs(
                    (F.col("m") * F.col("fx") - F.col("n") * F.col("fy"))
                ).cast("decimal(38,0)")
                * (F.col("v_next") - F.col("v"))
            )
            .cast("decimal(38,0)")
            .alias("num"),
            F.max("n").alias("n"),
            F.max("m").alias("m"),
        )
    )
    return acc.select(
        F.col("n").alias("n_1995"),
        F.col("m").alias("n_1998"),
        (
            F.col("num").cast("double")
            / (F.col("n").cast("double") * F.col("m"))
            / 100.0
        ).alias("wasserstein_1"),
    )


# --- Holt-Winters additive seasonal forecast (round 7) -------------------------------
HW_ALPHA = 0.5   # binary-exact smoothing constants
HW_BETA = 0.25
HW_GAMMA = 0.25
HW_P = 12        # seasonal period (months)


@register(
    "holt_winters_seasonal",
    oracle=f"""
    WITH RECURSIVE mm AS (
        SELECT n.n_name AS n_name,
               (date_part('year', o.o_orderdate) - 1996) * 12
                 + date_part('month', o.o_orderdate) AS m,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS DOUBLE) AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= DATE '{TS_START}'
        GROUP BY 1, 2
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY m) AS rn,
               COUNT(*) OVER (PARTITION BY n_name) AS t_max
        FROM mm
    ),
    init AS (
        SELECT n_name, MAX(t_max) AS t_max,
               list_reduce(list(y ORDER BY rn)[1:{HW_P}],
                           (a, b) -> a + b) / {HW_P}.0 AS l0,
               (list_reduce(list(y ORDER BY rn)[{HW_P + 1}:{2 * HW_P}],
                            (a, b) -> a + b) / {HW_P}.0
                - list_reduce(list(y ORDER BY rn)[1:{HW_P}],
                              (a, b) -> a + b) / {HW_P}.0) / {HW_P}.0 AS b0,
               list(y ORDER BY rn)[1:{HW_P}] AS first_ys
        FROM r GROUP BY n_name
    ),
    step AS (
        SELECT n_name, {HW_P} AS t, t_max, l0 AS l, b0 AS b,
               list_transform(first_ys, v -> v - l0) AS s
        FROM init
        UNION ALL
        SELECT st.n_name, st.t + 1, st.t_max,
               (r.y - st.s[(st.t % {HW_P}) + 1]) * {HW_ALPHA}
                 + (st.l + st.b) * {1 - HW_ALPHA},
               ((r.y - st.s[(st.t % {HW_P}) + 1]) * {HW_ALPHA}
                 + (st.l + st.b) * {1 - HW_ALPHA} - st.l) * {HW_BETA}
                 + st.b * {1 - HW_BETA},
               list_transform(range(1, {HW_P} + 1),
                   j -> CASE WHEN j = (st.t % {HW_P}) + 1
                        THEN (r.y - ((r.y - st.s[(st.t % {HW_P}) + 1])
                                     * {HW_ALPHA}
                                     + (st.l + st.b) * {1 - HW_ALPHA}))
                             * {HW_GAMMA}
                             + st.s[(st.t % {HW_P}) + 1] * {1 - HW_GAMMA}
                        ELSE st.s[j] END)
        FROM step st JOIN r ON r.n_name = st.n_name AND r.rn = st.t + 1
        WHERE st.t < st.t_max
    )
    SELECT n_name, CAST(t_max AS BIGINT) AS n_months,
           l AS level, b AS trend,
           s[(t % {HW_P}) + 1] AS season_next,
           l + b + s[(t % {HW_P}) + 1] AS forecast_next
    FROM step WHERE t = t_max
    """,
    tags=("forecast", "exponential_smoothing", "seasonal", "time_series"),
)
def holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE HOLT-WINTERS per nation — holt_linear_forecast plus a
    12-slot seasonal STATE ARRAY threaded through the same codegen
    fold: l ← α(y−s[t%12]) + (1−α)(l+b), b ← β(l'−l) + (1−β)b,
    s[t%12] ← γ(y−l') + (1−γ)s[t%12], seeded with the first-year mean
    / first-vs-second-year trend / first-year deviations. α=1/2,
    β=γ=1/4 are exact binary fractions and both engines replay the
    SAME inline arithmetic in the same order (Spark: one
    F.aggregate fold whose accumulator is struct(l, b, s: array);
    oracle: a recursive CTE carrying a LIST column), so the triple-
    smoothed state is bit-reproducible — an ITERATIVE, ARRAY-STATE
    algorithm with zero driver involvement. seasonality_index is the
    static decomposition; this is its adaptive forecaster.

    Scale notes (100 TB): the corpus collapses to nation×month once;
    the fold is group-local over ≤67 rows with a 12-double state —
    group count scales out, state stays constant."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(TS_START).cast("date")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    mm = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1996)) * 12
                + F.month("o_orderdate")
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("double")
            .alias("y")
        )
    )
    series = mm.groupBy("n_name").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "y"))), lambda p: p["y"]
        ).alias("ys")
    )
    P = HW_P
    first = F.slice("ys", 1, P)
    second = F.slice("ys", P + 1, P)
    mean1 = F.aggregate(first, F.lit(0.0), lambda a, x: a + x) / float(P)
    mean2 = F.aggregate(second, F.lit(0.0), lambda a, x: a + x) / float(P)
    init = F.struct(
        F.lit(P).alias("t"),
        mean1.alias("l"),
        ((mean2 - mean1) / float(P)).alias("b"),
        F.transform(first, lambda v: v - mean1).alias("s"),
    )

    def step(acc, y):
        slot = (acc["t"] % P) + 1
        si = F.element_at(acc["s"], slot)
        lp = (y - si) * HW_ALPHA + (acc["l"] + acc["b"]) * (1 - HW_ALPHA)
        bp = (lp - acc["l"]) * HW_BETA + acc["b"] * (1 - HW_BETA)
        sp = F.transform(
            F.sequence(F.lit(1), F.lit(P)),
            lambda j: F.when(
                j == slot, (y - lp) * HW_GAMMA + si * (1 - HW_GAMMA)
            ).otherwise(F.element_at(acc["s"], j)),
        )
        return F.struct(
            (acc["t"] + 1).alias("t"),
            lp.alias("l"),
            bp.alias("b"),
            sp.alias("s"),
        )

    fold = F.aggregate(F.slice("ys", P + 1, F.size("ys") - P), init, step)
    season_next = F.element_at(
        fold.getField("s"), (fold.getField("t") % P) + 1
    )
    return series.select(
        "n_name",
        F.size("ys").cast("long").alias("n_months"),
        fold.getField("l").alias("level"),
        fold.getField("b").alias("trend"),
        season_next.alias("season_next"),
        (fold.getField("l") + fold.getField("b") + season_next).alias(
            "forecast_next"
        ),
    )


# --- Simpson's paradox audit / Mantel-Haenszel pooling (round 7) ---------------------
@register(
    "simpsons_paradox_audit",
    oracle=f"""
    WITH cust AS (
        SELECT c.c_custkey, n.n_name,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp,
               CASE WHEN MAX(o.o_totalprice) > {EB_BIG_ORDER} THEN 1 ELSE 0
               END AS conv
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, n.n_name, c.c_mktsegment
    ),
    strata AS (
        SELECT n_name,
               CAST(SUM(grp) AS BIGINT) AS nt,
               CAST(SUM(grp * conv) AS BIGINT) AS xt,
               CAST(SUM(1 - grp) AS BIGINT) AS nc,
               CAST(SUM((1 - grp) * conv) AS BIGINT) AS xc
        FROM cust GROUP BY n_name
    ),
    ok AS (SELECT * FROM strata WHERE nt > 0 AND nc > 0),
    pooled AS (
        SELECT CAST(SUM(xt) AS DOUBLE) / SUM(nt)
                 - CAST(SUM(xc) AS DOUBLE) / SUM(nc) AS pooled_diff
        FROM ok
    ),
    folded AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(CASE WHEN CAST(xt AS DOUBLE) / nt
                                  > CAST(xc AS DOUBLE) / nc
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
               CAST(SUM(CASE WHEN CAST(xt AS DOUBLE) / nt
                                  < CAST(xc AS DOUBLE) / nc
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
               (SELECT list_reduce(
                    list((CAST(xt AS DOUBLE) * nc - CAST(xc AS DOUBLE) * nt)
                         / (nt + nc) ORDER BY n_name),
                    (a, b) -> a + b) FROM ok) AS mh_num,
               (SELECT list_reduce(
                    list(CAST(nt AS DOUBLE) * nc / (nt + nc) ORDER BY n_name),
                    (a, b) -> a + b) FROM ok) AS mh_den
        FROM ok
    )
    SELECT f.n_strata, f.n_positive, f.n_negative,
           p.pooled_diff, f.mh_num / f.mh_den AS mh_diff,
           (p.pooled_diff > 0) <> (f.mh_num / f.mh_den > 0)
               AS sign_reversal
    FROM folded f, pooled p
    """,
    tags=("statistics", "simpsons_paradox", "mantel_haenszel",
          "causal_audit"),
)
def simpsons_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPSON'S PARADOX audit with the Mantel-Haenszel repair: compare
    BUILDING-segment vs other customers on big-order conversion POOLED
    and STRATIFIED by nation — if the strata sizes correlate with both
    group and outcome, the pooled difference can carry the OPPOSITE
    sign of every stratum (the classic aggregation trap; diff_in_diff
    and cuped address time/covariate confounding, this addresses
    composition). The MH common risk difference Σw_i·d_i/Σw_i with
    w_i = n_t·n_c/(n_t+n_c) is the standard stratum-weighted pooled
    estimate; sign_reversal is the one-boolean verdict. All counts
    exact; per-stratum terms are deterministic doubles folded in
    STRATUM-NAME ORDER (anova discipline) — the whole audit
    value-hashes.

    Scale notes (100 TB): one customer-grain agg, one 25-row stratum
    table, constant tail."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "n_name", "c_mktsegment")
        .agg(
            F.when(F.max("o_totalprice") > EB_BIG_ORDER, 1)
            .otherwise(0)
            .alias("conv")
        )
        .select(
            "n_name",
            (F.col("c_mktsegment") == "BUILDING").cast("int").alias("grp"),
            "conv",
        )
    )
    strata = cust.groupBy("n_name").agg(
        F.sum("grp").cast("long").alias("nt"),
        F.sum(F.col("grp") * F.col("conv")).cast("long").alias("xt"),
        F.sum(1 - F.col("grp")).cast("long").alias("nc"),
        F.sum((1 - F.col("grp")) * F.col("conv")).cast("long").alias("xc"),
    ).filter((F.col("nt") > 0) & (F.col("nc") > 0))
    pooled = strata.agg(
        (
            F.sum("xt").cast("double") / F.sum("nt")
            - F.sum("xc").cast("double") / F.sum("nc")
        ).alias("pooled_diff")
    )
    rt = F.col("xt").cast("double") / F.col("nt")
    rc = F.col("xc").cast("double") / F.col("nc")
    mh_term = (
        F.col("xt").cast("double") * F.col("nc")
        - F.col("xc").cast("double") * F.col("nt")
    ) / (F.col("nt") + F.col("nc"))
    w_term = F.col("nt").cast("double") * F.col("nc") / (
        F.col("nt") + F.col("nc")
    )
    folded = strata.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum(F.when(rt > rc, 1).otherwise(0)).cast("long").alias("n_positive"),
        F.sum(F.when(rt < rc, 1).otherwise(0)).cast("long").alias("n_negative"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("n_name"), mh_term.alias("x")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["x"],
        ).alias("mh_num"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("n_name"), w_term.alias("x")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["x"],
        ).alias("mh_den"),
    )
    return folded.crossJoin(F.broadcast(pooled)).select(
        "n_strata",
        "n_positive",
        "n_negative",
        "pooled_diff",
        (F.col("mh_num") / F.col("mh_den")).alias("mh_diff"),
        (
            (F.col("pooled_diff") > 0)
            != (F.col("mh_num") / F.col("mh_den") > 0)
        ).alias("sign_reversal"),
    )


# --- delete-one-group jackknife (round 7) --------------------------------------------
@register(
    "jackknife_variance",
    oracle=f"""
    WITH cust AS (
        SELECT c.c_custkey, n.n_name,
               CASE WHEN MAX(o.o_totalprice) > {EB_BIG_ORDER} THEN 1 ELSE 0
               END AS conv
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, n.n_name
    ),
    g AS (
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(conv) AS BIGINT) AS x
        FROM cust GROUP BY n_name
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS big_n,
                   CAST(SUM(x) AS BIGINT) AS big_x,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM g),
    loo AS (
        SELECT g.n_name,
               CAST(t.big_x - g.x AS DOUBLE) / (t.big_n - g.n) AS theta_i
        FROM g, tot t
    ),
    folded AS (
        SELECT (SELECT list_reduce(list(theta_i ORDER BY n_name),
                                   (a, b) -> a + b) FROM loo) AS s1,
               (SELECT list_reduce(list(theta_i * theta_i ORDER BY n_name),
                                   (a, b) -> a + b) FROM loo) AS s2
    )
    SELECT t.k AS n_groups,
           CAST(t.big_x AS DOUBLE) / t.big_n AS theta,
           f.s1 / t.k AS theta_loo_mean,
           sqrt((t.k - 1.0) / t.k * (f.s2 - f.s1 * f.s1 / t.k))
               AS jackknife_se
    FROM tot t, folded f
    """,
    tags=("statistics", "jackknife", "resampling", "variance"),
)
def jackknife_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-ONE-GROUP JACKKNIFE standard error for the corpus-wide
    big-order conversion rate, grouped by nation — the deterministic
    member of the resampling family (poisson_bootstrap_ci needs
    pseudo-random weights; the jackknife's k leave-one-out replicates
    are a closed enumeration, so the SE is exactly reproducible):
    θ₍ᵢ₎ = (X−xᵢ)/(N−nᵢ) from the stratum table alone, and
    SE² = (k−1)/k·Σ(θ₍ᵢ₎−θ̄)². The replicate sums fold in
    STRATUM-NAME ORDER (anova discipline); everything upstream is
    exact integers. This is how a pipeline attaches an honest error
    bar to a ratio statistic without a second data pass.

    Scale notes (100 TB): the corpus collapses to the k=25 stratum
    table once; all k replicates are arithmetic on that table — the
    jackknife costs nothing at any scale."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "n_name")
        .agg(
            F.when(F.max("o_totalprice") > EB_BIG_ORDER, 1)
            .otherwise(0)
            .alias("conv")
        )
    )
    g = cust.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("conv").cast("long").alias("x"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("big_n"),
        F.sum("x").cast("long").alias("big_x"),
        F.count("*").cast("long").alias("k"),
    )
    loo = g.crossJoin(F.broadcast(tot)).select(
        "n_name",
        (
            (F.col("big_x") - F.col("x")).cast("double")
            / (F.col("big_n") - F.col("n"))
        ).alias("theta_i"),
    )
    folded = loo.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("n_name"), F.col("theta_i")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["theta_i"],
        ).alias("s1"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("n_name"),
                        (F.col("theta_i") * F.col("theta_i")).alias("t2"),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["t2"],
        ).alias("s2"),
    )
    return folded.crossJoin(F.broadcast(tot)).select(
        F.col("k").alias("n_groups"),
        (F.col("big_x").cast("double") / F.col("big_n")).alias("theta"),
        (F.col("s1") / F.col("k")).alias("theta_loo_mean"),
        F.sqrt(
            (F.col("k") - 1.0)
            / F.col("k")
            * (F.col("s2") - F.col("s1") * F.col("s1") / F.col("k"))
        ).alias("jackknife_se"),
    )


# --- raking / iterative proportional fitting (round 7) -------------------------------
@register(
    "raking_ipf_weights",
    oracle="""
    WITH cells AS (
        SELECT n.n_name AS nation, c.c_mktsegment AS seg,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ),
    colsum AS (SELECT seg, CAST(SUM(m) AS BIGINT) AS cs FROM cells
               GROUP BY seg),
    rowsum AS (SELECT nation, CAST(SUM(m) AS BIGINT) AS rs FROM cells
               GROUP BY nation),
    tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_seg
            FROM cells),
    w1 AS (
        SELECT ce.nation, ce.seg, ce.m,
               ce.m * (CAST(t.n AS DOUBLE) / t.n_seg) / cs.cs AS w
        FROM cells ce JOIN colsum cs ON cs.seg = ce.seg CROSS JOIN tot t
    ),
    r1 AS (
        SELECT nation,
               list_reduce(list(w ORDER BY seg), (a, b) -> a + b) AS r
        FROM w1 GROUP BY nation
    ),
    w2 AS (
        SELECT w1.nation, w1.seg, w1.m,
               w1.w * (CAST(rs.rs AS DOUBLE) / r1.r) AS w
        FROM w1 JOIN r1 ON r1.nation = w1.nation
        JOIN rowsum rs ON rs.nation = w1.nation
    ),
    c2 AS (
        SELECT seg,
               list_reduce(list(w ORDER BY nation), (a, b) -> a + b) AS c
        FROM w2 GROUP BY seg
    )
    SELECT w2.nation, w2.seg, w2.m, w2.w AS weight,
           w2.w / w2.m AS weight_factor,
           c2.c AS seg_total_after,
           (CAST(t.n AS DOUBLE) / t.n_seg) AS seg_target
    FROM w2 JOIN c2 ON c2.seg = w2.seg CROSS JOIN tot t
    """,
    tags=("statistics", "raking", "ipf", "survey_weighting"),
)
def raking_ipf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKING (iterative proportional fitting, Deming & Stephan 1940)
    over the nation × segment panel: reweight customers so every
    segment carries EQUAL total weight while nation totals stay at
    their observed values — one full IPF sweep (column fit, then row
    fit), the survey-weighting/debiasing workhorse (a corpus curator
    rakes training-mix cells to target marginals the same way —
    mixture_weights is the 1-D special case). Cell counts and both
    target marginals are exact integers; the two margin-sum steps over
    reweighted DOUBLES fold in SEGMENT / NATION ORDER respectively
    (the anova discipline applied per margin), so all 125 weights and
    the achieved-vs-target columns value-hash. seg_total_after vs
    seg_target shows the residual one sweep leaves — more sweeps
    repeat the same two folds.

    Scale notes (100 TB): the corpus collapses to the |nations|×
    |segments| cell table in one pass; IPF itself is arithmetic on
    that bounded table regardless of row count."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        cust.join(F.broadcast(n), cust["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.count("*").cast("long").alias("m"))
    )
    colsum = cells.groupBy("seg").agg(F.sum("m").cast("long").alias("cs"))
    rowsum = cells.groupBy("nation").agg(F.sum("m").cast("long").alias("rs"))
    tot = cells.agg(
        F.sum("m").cast("long").alias("n"),
        F.countDistinct("seg").cast("long").alias("n_seg"),
    )
    w1 = (
        cells.join(F.broadcast(colsum), "seg")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation",
            "seg",
            "m",
            "n",
            "n_seg",
            (
                F.col("m")
                * (F.col("n").cast("double") / F.col("n_seg"))
                / F.col("cs")
            ).alias("w"),
        )
    )
    r1 = w1.groupBy("nation").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("seg"), F.col("w")))),
            F.lit(0.0),
            lambda a, x: a + x["w"],
        ).alias("r")
    )
    w2 = (
        w1.join(F.broadcast(r1), "nation")
        .join(F.broadcast(rowsum), "nation")
        .select(
            "nation",
            "seg",
            "m",
            "n",
            "n_seg",
            (F.col("w") * (F.col("rs").cast("double") / F.col("r"))).alias(
                "w"
            ),
        )
    )
    c2 = w2.groupBy("seg").agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("nation"), F.col("w")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["w"],
        ).alias("c")
    )
    return w2.join(F.broadcast(c2), "seg").select(
        "nation",
        "seg",
        "m",
        F.col("w").alias("weight"),
        (F.col("w") / F.col("m")).alias("weight_factor"),
        F.col("c").alias("seg_total_after"),
        (F.col("n").cast("double") / F.col("n_seg")).alias("seg_target"),
    )

# --- partial correlation (round 7) ---------------------------------------------------
@register(
    "partial_correlation",
    oracle="""
    WITH b AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice) AS BIGINT) AS y,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS z
        FROM lineitem
    ),
    sh AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) // COUNT(*) AS ax,
               SUM(y) // COUNT(*) AS ay,
               SUM(z) // COUNT(*) AS az
        FROM b
    ),
    s AS (
        SELECT sh.n,
               CAST(SUM(x - sh.ax) AS BIGINT) AS sx,
               CAST(SUM(y - sh.ay) AS BIGINT) AS sy,
               CAST(SUM(z - sh.az) AS BIGINT) AS sz,
               CAST(SUM((x - sh.ax) * (x - sh.ax)) AS BIGINT) AS sxx,
               CAST(SUM((y - sh.ay) * (y - sh.ay)) AS BIGINT) AS syy,
               CAST(SUM((z - sh.az) * (z - sh.az)) AS BIGINT) AS szz,
               CAST(SUM((x - sh.ax) * (y - sh.ay)) AS BIGINT) AS sxy,
               CAST(SUM((x - sh.ax) * (z - sh.az)) AS BIGINT) AS sxz,
               CAST(SUM((y - sh.ay) * (z - sh.az)) AS BIGINT) AS syz
        FROM b, sh GROUP BY sh.n
    ),
    r AS (
        SELECT n,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * sqrt(n * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * sy)) AS rxy,
               (n * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * sz)
                 / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * sqrt(n * CAST(szz AS DOUBLE)
                           - CAST(sz AS DOUBLE) * sz)) AS rxz,
               (n * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * sz)
                 / (sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
                    * sqrt(n * CAST(szz AS DOUBLE)
                           - CAST(sz AS DOUBLE) * sz)) AS ryz
        FROM s
    )
    SELECT n, rxy, rxz, ryz,
           (rxy - rxz * ryz)
             / (sqrt(1.0 - rxz * rxz) * sqrt(1.0 - ryz * ryz))
               AS partial_rxy_given_z
    FROM r
    """,
    tags=("statistics", "correlation", "partial_correlation",
          "confounding"),
)
def partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL CORRELATION of quantity and line price (whole dollars)
    CONTROLLING FOR discount: r_xy·z = (r_xy − r_xz·r_yz) /
    √((1−r_xz²)(1−r_yz²)) — the first-order deconfounding step
    price_quantity_corr's raw Pearson cannot answer
    (simpsons_paradox_audit is the categorical analog). Numerics: RAW
    second moments of money columns exceed 2^53 by sf0.1 and the two
    engines' int128→double conversions then disagree by 1 ulp (the
    acf_lags lesson, observed live here) — so the moments are computed
    TWO-PASS about integer floor-mean shifts: shift-invariant
    covariances, every aggregate an exactly-representable BIGINT, and
    every double conversion exact. The nine centered sufficient
    statistics come from one second scan; the assembly is fixed-order
    scalar IEEE (sqrt-yes/log-no).

    Scale notes (100 TB): two partial-agg scans (the classical
    two-pass variance algorithm, distributed), 1-row tail. The
    k-variable generalization inverts the small correlation matrix
    after the same pass."""
    b = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice")).cast("long").alias("y"),
        F.round(F.col("l_discount") * 100).cast("long").alias("z"),
    )
    sh = b.agg(
        F.count("*").cast("long").alias("n"),
        F.expr("sum(x) div count(*)").alias("ax"),
        F.expr("sum(y) div count(*)").alias("ay"),
        F.expr("sum(z) div count(*)").alias("az"),
    )
    dx = F.col("x") - F.col("ax")
    dy = F.col("y") - F.col("ay")
    dz = F.col("z") - F.col("az")
    s = b.crossJoin(F.broadcast(sh)).agg(
        F.max("n").alias("n"),
        F.sum(dx).cast("long").alias("sx"),
        F.sum(dy).cast("long").alias("sy"),
        F.sum(dz).cast("long").alias("sz"),
        F.sum(dx * dx).cast("long").alias("sxx"),
        F.sum(dy * dy).cast("long").alias("syy"),
        F.sum(dz * dz).cast("long").alias("szz"),
        F.sum(dx * dy).cast("long").alias("sxy"),
        F.sum(dx * dz).cast("long").alias("sxz"),
        F.sum(dy * dz).cast("long").alias("syz"),
    )
    nd = F.col("n").cast("double")

    def corr(ab, a, c):
        num = nd * F.col(ab).cast("double") - F.col(f"s{a}").cast(
            "double"
        ) * F.col(f"s{c}")
        da = nd * F.col(f"s{a}{a}").cast("double") - F.col(f"s{a}").cast(
            "double"
        ) * F.col(f"s{a}")
        dc = nd * F.col(f"s{c}{c}").cast("double") - F.col(f"s{c}").cast(
            "double"
        ) * F.col(f"s{c}")
        return num / (F.sqrt(da) * F.sqrt(dc))

    r = s.select(
        "n",
        corr("sxy", "x", "y").alias("rxy"),
        corr("sxz", "x", "z").alias("rxz"),
        corr("syz", "y", "z").alias("ryz"),
    )
    return r.select(
        "n",
        "rxy",
        "rxz",
        "ryz",
        (
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / (
                F.sqrt(1.0 - F.col("rxz") * F.col("rxz"))
                * F.sqrt(1.0 - F.col("ryz") * F.col("ryz"))
            )
        ).alias("partial_rxy_given_z"),
    )


# --- Neyman allocation + largest-remainder rounding (round 7, session 4) ----
_NEYMAN_BUDGET = 1000


@register(
    "neyman_allocation",
    oracle=f"""
    WITH c AS (
        SELECT n.n_name AS nation,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS cents
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    s AS (
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS n_h,
               CAST(SUM(cents) AS BIGINT) AS s1,
               CAST(SUM(cents * cents) AS BIGINT) AS s2
        FROM c GROUP BY nation
    ),
    w AS (
        SELECT nation, n_h,
               sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_h)
                    / (n_h - 1)) / 100.0 AS stddev,
               n_h * (sqrt((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_h)
                           / (n_h - 1)) / 100.0) AS wgt
        FROM s WHERE n_h > 1
    ),
    tot AS (
        SELECT CAST(SUM(CAST(wgt AS DECIMAL(38,10))) AS DOUBLE) AS totw
        FROM w
    ),
    raw AS (
        SELECT w.nation, w.n_h, w.stddev,
               {_NEYMAN_BUDGET} * w.wgt / t.totw AS raw_alloc,
               CAST(floor({_NEYMAN_BUDGET} * w.wgt / t.totw) AS BIGINT)
                   AS base_alloc
        FROM w, tot t
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   ORDER BY raw_alloc - base_alloc DESC, nation) AS frac_rank,
               (SELECT {_NEYMAN_BUDGET} - SUM(base_alloc) FROM raw) AS seats
        FROM raw
    )
    SELECT nation, n_h, stddev, raw_alloc,
           CAST(base_alloc + CASE WHEN frac_rank <= seats THEN 1 ELSE 0 END
                AS BIGINT) AS allocation
    FROM ranked
    """,
    tags=("bounded_window", "relational", "survey_sampling", "neyman", "apportionment"),
)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal stratified-sample allocation (Neyman 1934) with
    Hamilton largest-remainder integer rounding — the pre-sampling
    planner for any stratified audit/labeling budget: sample size per
    stratum ∝ N_h·S_h (big AND volatile strata get seats; a
    proportional-only allocation overpays homogeneous strata), then
    the fractional allocations round to integers that sum EXACTLY to
    the {_NEYMAN_BUDGET}-unit budget (floor everything, hand the
    leftover seats to the largest fractional parts — the apportionment
    rule that avoids the round()-then-hope drift). Stratum variances
    come from exact integer power sums in cents (one aggregate per
    stratum; sqrt is the repo's one sanctioned transcendental), the
    weight normalizer goes through exact decimal, and remainder
    ranking ties break by nation name. Scale: one customer-table
    aggregate into 25 strata; everything after is 25-row arithmetic.
    Composes with raking_ipf_weights (post-hoc reweighting) as the
    before/after pair of survey-sampling operators."""
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("cents"),
        )
    )
    s = c.groupBy("nation").agg(
        F.count("*").cast("long").alias("n_h"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    sd = (
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double")
                * F.col("s1").cast("double")
                / F.col("n_h")
            )
            / (F.col("n_h") - 1)
        )
        / 100.0
    )
    w = s.filter(F.col("n_h") > 1).select(
        "nation",
        "n_h",
        sd.alias("stddev"),
        (F.col("n_h") * sd).alias("wgt"),
    )
    tot = w.agg(
        F.sum(F.col("wgt").cast("decimal(38,10)"))
        .cast("double")
        .alias("totw")
    )
    raw = w.crossJoin(F.broadcast(tot)).select(
        "nation",
        "n_h",
        "stddev",
        (_NEYMAN_BUDGET * F.col("wgt") / F.col("totw")).alias("raw_alloc"),
        F.floor(_NEYMAN_BUDGET * F.col("wgt") / F.col("totw"))
        .cast("long")
        .alias("base_alloc"),
    )
    seats = raw.agg(
        (_NEYMAN_BUDGET - F.sum("base_alloc")).cast("long").alias("seats")
    )
    from pyspark.sql import Window as W

    ranked = raw.crossJoin(F.broadcast(seats)).withColumn(
        "frac_rank",
        F.row_number().over(
            W.orderBy(
                (F.col("raw_alloc") - F.col("base_alloc")).desc(),
                F.col("nation"),
            )
        ),
    )
    return ranked.select(
        "nation",
        "n_h",
        "stddev",
        "raw_alloc",
        (
            F.col("base_alloc")
            + F.when(F.col("frac_rank") <= F.col("seats"), 1).otherwise(0)
        )
        .cast("long")
        .alias("allocation"),
    )


# --- approximate query processing by sampling (round 7, session 4) ----------
_AQP_MOD = 10  # keep 1-in-10 orders, deterministically


@register(
    "aqp_sample_extrapolation",
    oracle=f"""
    WITH base AS (
        SELECT n.n_name AS nation,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
               (('0x' || substr(md5('aqp-' || o.o_orderkey), 1, 8))::BIGINT)
                   % {_AQP_MOD} = 0 AS sampled
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    agg AS (
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS exact_n,
               CAST(SUM(cents) AS BIGINT) AS exact_cents,
               CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
                   AS samp_n,
               CAST(SUM(CASE WHEN sampled THEN cents ELSE 0 END) AS BIGINT)
                   AS samp_cents,
               CAST(SUM(CASE WHEN sampled THEN cents * cents ELSE 0 END)
                    AS BIGINT) AS samp_cents2
        FROM base GROUP BY nation
    )
    SELECT nation, exact_n,
           samp_n * {_AQP_MOD} AS est_n,
           CAST(exact_cents AS DOUBLE) / 100.0 AS exact_revenue,
           CAST(samp_cents * {_AQP_MOD} AS DOUBLE) / 100.0 AS est_revenue,
           abs(CAST(samp_cents * {_AQP_MOD} - exact_cents AS DOUBLE))
               / CAST(exact_cents AS DOUBLE) AS rel_error,
           abs(CAST(samp_cents * {_AQP_MOD} - exact_cents AS DOUBLE)) <=
               3.0 * {_AQP_MOD}.0
                   * sqrt(GREATEST(
                         CAST(samp_n AS DOUBLE)
                             * (CAST(samp_cents2 AS DOUBLE)
                                - CAST(samp_cents AS DOUBLE)
                                  * CAST(samp_cents AS DOUBLE)
                                  / GREATEST(samp_n, 1))
                             , 0.0))
               AS within_bound
    FROM agg
    """,
    tags=("relational", "aqp", "sampling", "extrapolation",
          "error_bound"),
)
def aqp_sample_extrapolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing by deterministic sampling (the
    BlinkDB/quickr pattern): answer the per-nation revenue rollup from
    a 1-in-{_AQP_MOD} md5 sample, scale by {_AQP_MOD}, and bound the
    error from the SAMPLE's own variance — Horvitz–Thompson estimation
    with a 3σ CLT envelope (σ̂ = {_AQP_MOD}·sqrt(n_s·s²) via the exact
    integer power sums, the value_outliers discipline; sqrt is the
    sanctioned transcendental). The exact legs ride along ONLY to
    adjudicate the estimator — the production query reads 10× less
    data and the within_bound column is the contract it ships with.
    Both the sample membership (md5 on the key — reproducible across
    retries, no RNG) and every sum are engine-identical; one scan
    computes sample and exact sides together here so the comparison is
    airtight. Scale: sampling pushes below the join (scan-side filter
    at 100 TB), partial aggs throughout."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    base = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_nationkey"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
            (
                h32(F.concat_ws("-", F.lit("aqp"), F.col("o_orderkey")))
                % _AQP_MOD
                == 0
            ).alias("sampled"),
        )
    )
    agg = base.groupBy("nation").agg(
        F.count("*").cast("long").alias("exact_n"),
        F.sum("cents").cast("long").alias("exact_cents"),
        F.sum(F.when(F.col("sampled"), 1).otherwise(0))
        .cast("long")
        .alias("samp_n"),
        F.sum(F.when(F.col("sampled"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("samp_cents"),
        F.sum(
            F.when(F.col("sampled"), F.col("cents") * F.col("cents")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("samp_cents2"),
    )
    err = F.abs(
        (F.col("samp_cents") * _AQP_MOD - F.col("exact_cents")).cast("double")
    )
    sigma = F.sqrt(
        F.greatest(
            F.col("samp_n").cast("double")
            * (
                F.col("samp_cents2").cast("double")
                - F.col("samp_cents").cast("double")
                * F.col("samp_cents").cast("double")
                / F.greatest(F.col("samp_n"), F.lit(1))
            ),
            F.lit(0.0),
        )
    )
    return agg.select(
        "nation",
        "exact_n",
        (F.col("samp_n") * _AQP_MOD).alias("est_n"),
        (F.col("exact_cents").cast("double") / 100.0).alias("exact_revenue"),
        ((F.col("samp_cents") * _AQP_MOD).cast("double") / 100.0).alias(
            "est_revenue"
        ),
        (err / F.col("exact_cents").cast("double")).alias("rel_error"),
        (err <= 3.0 * float(_AQP_MOD) * sigma).alias("within_bound"),
    )


# --- safety stock / reorder points (round 7, session 4) ---------------------
_SS_LEAD_DAYS = 7
_SS_Z_MILLI = 1645  # z for 95% cycle service level, in milli-units
_SS_TOP = 25


@register(
    "safety_stock_reorder_points",
    oracle=f"""
    WITH daily AS (
        SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1, 2
    ),
    span AS (
        SELECT CAST(date_diff('day', MIN(day), MAX(day)) + 1 AS BIGINT)
            AS n_days
        FROM daily
    ),
    stats AS (
        SELECT d.l_partkey,
               CAST(SUM(d.qty) AS BIGINT) AS s1,
               CAST(SUM(d.qty * d.qty) AS BIGINT) AS s2,
               s.n_days
        FROM daily d, span s
        GROUP BY d.l_partkey, s.n_days
    ),
    calc AS (
        SELECT l_partkey, s1, n_days,
               CAST(s1 AS DOUBLE) / n_days AS mu,
               sqrt(GREATEST(
                   (CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_days)
                       / (n_days - 1), 0.0)) AS sigma
        FROM stats
    )
    SELECT l_partkey, s1 AS total_qty, mu AS daily_mean, sigma AS daily_std,
           ({_SS_Z_MILLI} / 1000.0) * sigma * sqrt({_SS_LEAD_DAYS}.0)
               AS safety_stock,
           mu * {_SS_LEAD_DAYS}
               + ({_SS_Z_MILLI} / 1000.0) * sigma * sqrt({_SS_LEAD_DAYS}.0)
               AS reorder_point,
           CAST(ROW_NUMBER() OVER (ORDER BY s1 DESC, l_partkey) AS BIGINT)
               AS volume_rank
    FROM calc
    QUALIFY volume_rank <= {_SS_TOP}
    """,
    tags=("bounded_window", "relational", "inventory", "safety_stock", "operations"),
)
def safety_stock_reorder_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety stock and reorder points for the top-{_SS_TOP} parts by
    volume — the textbook (μ·LT + z·σ·√LT) inventory policy at a 95%
    cycle service level, the replenishment calculation an operations
    pipeline recomputes nightly over the full demand history: daily
    demand mean/σ per part from EXACT integer power sums over the
    calendar span (days without demand count as zeros via the
    total-span denominator — the mistake naive AVG-over-present-days
    makes is baked out by construction), z in integer milli-units, √
    the sanctioned transcendental. One lineitem aggregate to daily
    grain, one part-keyed reduce, a global top-{_SS_TOP} heap
    (TakeOrdered) — corpus touched once. Pairs with
    fifo_inventory_allocation (consumption side) as the planning
    side."""
    daily = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            "l_partkey", F.col("l_shipdate").cast("date").alias("day")
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"))
    )
    span = daily.agg(
        (F.datediff(F.max("day"), F.min("day")) + 1)
        .cast("long")
        .alias("n_days")
    )
    stats = (
        daily.crossJoin(F.broadcast(span))
        .groupBy("l_partkey", "n_days")
        .agg(
            F.sum("qty").cast("long").alias("s1"),
            F.sum(F.col("qty") * F.col("qty")).cast("long").alias("s2"),
        )
    )
    mu = F.col("s1").cast("double") / F.col("n_days")
    sigma = F.sqrt(
        F.greatest(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double")
                * F.col("s1").cast("double")
                / F.col("n_days")
            )
            / (F.col("n_days") - 1),
            F.lit(0.0),
        )
    )
    ss = (_SS_Z_MILLI / 1000.0) * sigma * F.sqrt(F.lit(float(_SS_LEAD_DAYS)))
    calc = stats.select(
        "l_partkey",
        F.col("s1").alias("total_qty"),
        mu.alias("daily_mean"),
        sigma.alias("daily_std"),
        ss.alias("safety_stock"),
        (mu * _SS_LEAD_DAYS + ss).alias("reorder_point"),
    )
    # True TakeOrdered: orderBy+limit compiles to TakeOrderedAndProject
    # (a per-partition top-K heap merged on the driver) — the full
    # part-grain table never funnels through a single WindowExec task.
    # The row_number window then runs over the bounded {_SS_TOP}-row
    # result only (bounded_window).
    top = calc.orderBy(
        F.col("total_qty").desc(), F.col("l_partkey")
    ).limit(_SS_TOP)
    return top.withColumn(
        "volume_rank",
        F.row_number()
        .over(W.orderBy(F.col("total_qty").desc(), F.col("l_partkey")))
        .cast("long"),
    )


# --- Pareto front layers (NSGA-style non-dominated sorting) (r7, s4) --------
_NSGA_FRONTS = 3


def _pareto_sweep_sql(src: str, front: str, rest: str) -> str:
    """One skyline sweep over CTE `src` (c_nationkey, c_custkey,
    c_acctbal, total_spent): emit front CTE and remainder CTE. A point
    is non-dominated iff no point with strictly higher acctbal in its
    nation has >= total_spent (the skyline_pareto running-max sweep)."""
    return f"""
    {front} AS (
        SELECT s.* FROM (
            SELECT s.*,
                   MAX(total_spent) OVER (
                       PARTITION BY c_nationkey ORDER BY c_acctbal DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS prev_max
            FROM {src} s
        ) s
        WHERE prev_max IS NULL OR prev_max < total_spent
    ),
    {rest} AS (
        SELECT s.* FROM {src} s
        ANTI JOIN {front} f ON f.c_custkey = s.c_custkey
    )"""


_PARETO_CTES = []
_src = "spent"
for _i in range(1, _NSGA_FRONTS + 1):
    _PARETO_CTES.append(_pareto_sweep_sql(_src, f"f{_i}", f"r{_i}"))
    _src = f"r{_i}"


@register(
    "pareto_front_layers",
    oracle=f"""
    WITH spent AS (
        SELECT c.c_nationkey, c.c_custkey, CAST(c.c_acctbal AS DOUBLE)
                   AS c_acctbal,
               CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_spent
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
    ),
    {",".join(_PARETO_CTES)}
    SELECT n.n_name AS nation, u.c_custkey AS custkey,
           u.c_acctbal AS acctbal,
           CAST(u.total_spent AS DOUBLE) / 100.0 AS total_spent,
           u.front
    FROM (
        {" UNION ALL ".join(
            f"SELECT *, CAST({i} AS BIGINT) AS front FROM f{i}"
            for i in range(1, _NSGA_FRONTS + 1)
        )}
    ) u
    JOIN nation n ON n.n_nationkey = u.c_nationkey
    """,
    tags=("relational", "pareto", "non_dominated_sort", "nsga",
          "multi_objective"),
)
def pareto_front_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-dominated sorting into the first {_NSGA_FRONTS} Pareto
    LAYERS (the ranking inside NSGA-II, Deb et al. 2002) — what
    skyline_pareto's single front can't answer: 'who is next-best once
    the frontier is taken?', the question a tiered-offer or
    multi-objective shortlisting pass actually asks (front 1 = the
    efficient set, front 2 = efficient after removing front 1, …).
    Each layer is ONE ordered running-max sweep per nation (the
    skyline trick — no O(n²) dominance join), and peeling is an
    anti-join; {_NSGA_FRONTS} unrolled sweeps, all window work
    confined to (nation)-partitions over the customer aggregate.
    Dominance axes: account balance vs lifetime spend (integer cents).
    Ties on acctbal: the strictly-higher-balance rule means equal-
    balance points never dominate each other — both can sit on the
    same front, matching the sweep's 1-PRECEDING frame exactly in
    both engines."""
    spent = (
        checkpoint_audited(load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey",
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
                    "cents"
                ),
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(
            "c_nationkey",
            "c_custkey",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
        )
        .agg(F.sum("cents").cast("long").alias("total_spent")))
    )

    def sweep(src: DataFrame) -> tuple[DataFrame, DataFrame]:
        w = (
            W.partitionBy("c_nationkey")
            .orderBy(F.col("c_acctbal").desc())
            .rowsBetween(W.unboundedPreceding, -1)
        )
        flagged = src.withColumn("prev_max", F.max("total_spent").over(w))
        front = flagged.filter(
            F.col("prev_max").isNull()
            | (F.col("prev_max") < F.col("total_spent"))
        ).drop("prev_max")
        rest = src.join(
            front.select(F.col("c_custkey").alias("f_key")),
            F.col("c_custkey") == F.col("f_key"),
            "left_anti",
        )
        return front, rest

    fronts = []
    cur = spent
    for i in range(1, _NSGA_FRONTS + 1):
        f, cur = sweep(cur)
        fronts.append(
            checkpoint_audited(f.withColumn("front", F.lit(i).cast("long")))
        )
        cur = checkpoint_audited(cur)
    u = fronts[0]
    for f in fronts[1:]:
        u = u.unionByName(f)
    return u.join(
        F.broadcast(
            load_table(spark, sf_dir, "nation").select(
                "n_nationkey", "n_name"
            )
        ),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(
        F.col("n_name").alias("nation"),
        F.col("c_custkey").alias("custkey"),
        F.col("c_acctbal").alias("acctbal"),
        (F.col("total_spent").cast("double") / 100.0).alias("total_spent"),
        "front",
    )


# --- Mood's median test across market segments (round 8) --------------------
@register(
    "mood_median_test",
    oracle=f"""
    WITH base AS (
        SELECT c_mktsegment AS grp,
               CAST(round(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
    ),
    vals AS (SELECT v, COUNT(*) AS c FROM base GROUP BY v),
    cum AS (
        SELECT v, SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
               SUM(c) OVER () AS n
        FROM vals
    ),
    med AS (SELECT MIN(v) AS med FROM cum WHERE cm >= (n + 1) // 2),
    cells AS (
        SELECT b.grp,
               CAST(SUM(CASE WHEN b.v > m.med THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_above,
               CAST(SUM(CASE WHEN b.v <= m.med THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_below_eq
        FROM base b CROSS JOIN med m GROUP BY b.grp
    ),
    tot AS (
        SELECT CAST(SUM(n_above) AS BIGINT) AS ta,
               CAST(SUM(n_above + n_below_eq) AS BIGINT) AS n
        FROM cells
    ),
    terms AS (
        SELECT c.grp, c.n_above, c.n_below_eq,
               CAST(c.n_above + c.n_below_eq AS DOUBLE) * CAST(t.ta AS DOUBLE)
                   / CAST(t.n AS DOUBLE) AS e_above,
               (CAST(c.n_above AS DOUBLE)
                - CAST(c.n_above + c.n_below_eq AS DOUBLE)
                  * CAST(t.ta AS DOUBLE) / CAST(t.n AS DOUBLE))
               * (CAST(c.n_above AS DOUBLE)
                  - CAST(c.n_above + c.n_below_eq AS DOUBLE)
                    * CAST(t.ta AS DOUBLE) / CAST(t.n AS DOUBLE))
               / (CAST(c.n_above + c.n_below_eq AS DOUBLE)
                  * CAST(t.ta AS DOUBLE) / CAST(t.n AS DOUBLE))
               + (CAST(c.n_above AS DOUBLE)
                  - CAST(c.n_above + c.n_below_eq AS DOUBLE)
                    * CAST(t.ta AS DOUBLE) / CAST(t.n AS DOUBLE))
                 * (CAST(c.n_above AS DOUBLE)
                    - CAST(c.n_above + c.n_below_eq AS DOUBLE)
                      * CAST(t.ta AS DOUBLE) / CAST(t.n AS DOUBLE))
                 / (CAST(c.n_above + c.n_below_eq AS DOUBLE)
                    * CAST(t.n - t.ta AS DOUBLE) / CAST(t.n AS DOUBLE))
                   AS chi2_term
        FROM cells c CROSS JOIN tot t
    ),
    stat AS (SELECT {dsum_sql("chi2_term")} AS chi2 FROM terms)
    SELECT t.grp, t.n_above, t.n_below_eq, t.e_above, s.chi2
    FROM terms t CROSS JOIN stat s
    """,
    tags=("statistics", "mood_median", "nonparametric", "robust_statistics",
          "bounded_window"),
)
def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five market segments: pooled
    (lower) median from the DISTINCT-VALUE table, per-segment
    above/at-or-below counts, and the 2xk chi-square — the quick
    nonparametric 'do these groups share a center?' screen that
    precedes kruskal_wallis_test when only a median-level answer is
    needed. The pooled median is the (⌈N/2⌉)-th value located on the
    distinct-cents cumulative table (price-domain-bounded rows —
    bounded_window), segment cells are exact integer conditional
    counts, expected counts and the per-cell (O−E)²/E terms are
    fixed-order IEEE doubles, and the k-term chi-square accumulates
    through exact decimal (dsum) so summation order can't flake the
    hash. Scale: one scan to the value table, one scan to cells,
    constant-size tail."""
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("grp"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("v"),
    )
    vals = base.groupBy("v").agg(F.count("*").alias("c"))
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = vals.select(
        "v",
        F.sum("c").over(wv).alias("cm"),
        F.sum("c").over(W.partitionBy()).alias("n"),
    )
    med = cum.filter(
        F.col("cm") >= F.expr("(n + 1) div 2")
    ).agg(F.min("v").alias("med"))
    cells = base.crossJoin(F.broadcast(med)).groupBy("grp").agg(
        F.sum(F.when(F.col("v") > F.col("med"), 1).otherwise(0))
        .cast("long")
        .alias("n_above"),
        F.sum(F.when(F.col("v") <= F.col("med"), 1).otherwise(0))
        .cast("long")
        .alias("n_below_eq"),
    )
    tot = cells.agg(
        F.sum("n_above").cast("long").alias("ta"),
        F.sum(F.col("n_above") + F.col("n_below_eq")).cast("long").alias("n"),
    )
    ng = (F.col("n_above") + F.col("n_below_eq")).cast("double")
    ea = ng * F.col("ta").cast("double") / F.col("n").cast("double")
    eb = ng * (F.col("n") - F.col("ta")).cast("double") / F.col("n").cast(
        "double"
    )
    da = F.col("n_above").cast("double") - ea
    term = da * da / ea + da * da / eb
    terms = cells.crossJoin(F.broadcast(tot)).select(
        "grp", "n_above", "n_below_eq", ea.alias("e_above"),
        term.alias("chi2_term"),
    )
    stat = terms.agg(dsum("chi2_term").alias("chi2"))
    return terms.select("grp", "n_above", "n_below_eq", "e_above").crossJoin(
        F.broadcast(stat)
    )


# --- Cramér–von Mises-type ECDF drift statistic (round 8) -------------------
@register(
    "cvm_ecdf_drift",
    oracle="""
    WITH s AS (
        SELECT date_part('year', o_orderdate) AS yr,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders WHERE date_part('year', o_orderdate) IN (1995, 1998)
    ),
    vals AS (
        SELECT v,
               CAST(COUNT(*) FILTER (WHERE yr = 1995) AS BIGINT) AS cx,
               CAST(COUNT(*) FILTER (WHERE yr = 1998) AS BIGINT) AS cy
        FROM s GROUP BY v
    ),
    tot AS (
        SELECT CAST(SUM(cx) AS BIGINT) AS n, CAST(SUM(cy) AS BIGINT) AS m
        FROM vals
    ),
    cum AS (
        SELECT v, cx + cy AS w,
               SUM(cx) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fx,
               SUM(cy) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fy
        FROM vals
    ),
    acc AS (
        SELECT CAST(SUM(CAST(w AS DECIMAL(38,0))
                        * CAST(fx * t.m - fy * t.n AS DECIMAL(38,0))
                        * CAST(fx * t.m - fy * t.n AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS ssq,
               MAX(t.n) AS n, MAX(t.m) AS m
        FROM cum CROSS JOIN tot t
    )
    SELECT n, m,
           CAST(ssq AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE))
               / (CAST(n + m AS DOUBLE) * CAST(n + m AS DOUBLE))
               / CAST(n + m AS DOUBLE) AS cvm_t
    FROM acc
    """,
    tags=("statistics", "drift", "cvm", "ecdf", "nonparametric",
          "bounded_window"),
)
def cvm_ecdf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér–von Mises-type two-sample drift statistic between the
    1995 and 1998 order-value distributions: T = Σ_z w_z·(F₁−F₂)²·
    nm/(n+m)³ over the pooled DISTINCT-VALUE table — the L2 companion
    to ks_statistic_drift's sup-norm (KS sees the single worst gap;
    CvM integrates ALL of it, so slow broad drift that never spikes
    still registers). Everything is integer until the end: the ECDF
    gap is cross-multiplied (fx·m − fy·n, no division), squared and
    weight-summed in exact DECIMAL(38,0) (sf0.1 worst case ~1e19·1e5
    rows ≈ 1e24 < 1e38 headroom), then ONE fixed-order double division
    chain — bit-identical across engines. The cumulative window runs
    over distinct cents (price-domain-bounded — bounded_window).
    Scale: one conditional partial agg, one bounded-table scan."""
    s = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1995, 1998))
        .select(
            F.year("o_orderdate").alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    vals = s.groupBy("v").agg(
        F.count(F.when(F.col("yr") == 1995, 1)).cast("long").alias("cx"),
        F.count(F.when(F.col("yr") == 1998, 1)).cast("long").alias("cy"),
    )
    tot = vals.agg(
        F.sum("cx").cast("long").alias("n"),
        F.sum("cy").cast("long").alias("m"),
    )
    wc = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = vals.select(
        (F.col("cx") + F.col("cy")).alias("w"),
        F.sum("cx").over(wc).cast("long").alias("fx"),
        F.sum("cy").over(wc).cast("long").alias("fy"),
    )
    gap = (F.col("fx") * F.col("m") - F.col("fy") * F.col("n")).cast(
        "decimal(38,0)"
    )
    acc = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("w").cast("decimal(38,0)") * gap * gap)
        .cast("decimal(38,0)")
        .alias("ssq"),
        F.max("n").alias("n"),
        F.max("m").alias("m"),
    )
    nm = F.col("n").cast("double") * F.col("m").cast("double")
    npm = (F.col("n") + F.col("m")).cast("double")
    return acc.select(
        "n",
        "m",
        (F.col("ssq").cast("double") / nm / (npm * npm) / npm).alias("cvm_t"),
    )


# --- Brown–Forsythe (median-based Levene) variance homogeneity (round 8) ----
@register(
    "levene_brown_forsythe",
    oracle=f"""
    WITH base AS (
        SELECT c_mktsegment AS grp,
               CAST(round(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
    ),
    gvals AS (SELECT grp, v, COUNT(*) AS c FROM base GROUP BY grp, v),
    gcum AS (
        SELECT grp, v,
               SUM(c) OVER (PARTITION BY grp ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
               SUM(c) OVER (PARTITION BY grp) AS ng
        FROM gvals
    ),
    gmed AS (
        SELECT grp, MIN(v) AS med FROM gcum
        WHERE cm >= (ng + 1) // 2 GROUP BY grp
    ),
    dev AS (
        SELECT b.grp, abs(b.v - m.med) AS z
        FROM base b JOIN gmed m USING (grp)
    ),
    g AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(z) AS BIGINT) AS s1,
               CAST(SUM(z * z) AS BIGINT) AS s2
        FROM dev GROUP BY grp
    ),
    tot AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(s1) AS BIGINT) AS t1,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM g
    ),
    terms AS (
        SELECT g.grp, g.ng, g.s1, g.s2, t.n, t.k,
               (CAST(g.ng AS DOUBLE)
                * (CAST(g.s1 AS DOUBLE) / CAST(g.ng AS DOUBLE)
                   - CAST(t.t1 AS DOUBLE) / CAST(t.n AS DOUBLE))
                * (CAST(g.s1 AS DOUBLE) / CAST(g.ng AS DOUBLE)
                   - CAST(t.t1 AS DOUBLE) / CAST(t.n AS DOUBLE)))
               / 10000.0 AS between_term,
               (CAST(g.s2 AS DOUBLE)
                - CAST(g.s1 AS DOUBLE) * CAST(g.s1 AS DOUBLE)
                  / CAST(g.ng AS DOUBLE)) / 10000.0 AS within_term
        FROM g CROSS JOIN tot t
    )
    SELECT MAX(n) AS n_rows, MAX(k) AS k_groups,
           {dsum_sql('between_term')} AS ss_between,
           {dsum_sql('within_term')} AS ss_within,
           ({dsum_sql('between_term')} / CAST(MAX(k) - 1 AS DOUBLE))
           / ({dsum_sql('within_term')} / CAST(MAX(n) - MAX(k) AS DOUBLE))
               AS f_stat
    FROM terms
    """,
    tags=("statistics", "levene", "brown_forsythe", "variance_homogeneity",
          "robust_statistics", "bounded_broadcast"),
)
def levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (median-based Levene) for variance
    homogeneity of account balances across market segments — the
    robust gate run BEFORE trusting anova_oneway (which assumes equal
    variances; money columns rarely comply). Per-segment medians come
    from PARTITIONED cumulative counts over each segment's distinct
    values (parallel across segments, never a global window); lower
    median keeps deviations |v − med| exact INTEGERS, so each group
    reduces to (n, Σz, Σz²) power sums and the one-way F on deviations
    is a fixed-order double expression, with the two k-term sums of
    squares scaled to dollars-squared (keeping the decimal sum's
    unscaled value inside the 2^53 double-conversion headroom) and
    accumulated through exact decimal (dsum). Scale: ONE scan — the
    deviation power sums are value-weighted sums over the pinned
    distinct-value table (z contributes c times per distinct v:
    Σz = Σ c·|v−med|, exactly the per-row sums as integers), so the
    round-13 shape drops the second corpus scan AND the re-executed
    median lineage the old base-join paid per reference; broadcast
    5-row median table, constant tail.

    bounded_broadcast: the hinted side is the per-segment median table
    — one row per c_mktsegment value (5), constant at any corpus size.
    The round-13 checkpoint pins the distinct-value table as a
    LogicalRDD the hint audit cannot chase a column-name cap through
    (the pca_power_iteration situation), hence the tag."""
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("grp"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("v"),
    )
    gvals = base.groupBy("grp", "v").agg(F.count("*").alias("c"))
    wg = (
        W.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # Pinned: referenced by both the median derivation and the weighted
    # deviation sums — unpinned, each reference re-ran the scan + window.
    gcum = checkpoint_audited(
        gvals.select(
            "grp",
            "v",
            "c",
            F.sum("c").over(wg).alias("cm"),
            F.sum("c").over(W.partitionBy("grp")).alias("ng"),
        )
    )
    gmed = (
        gcum.filter(F.col("cm") >= F.expr("(ng + 1) div 2"))
        .groupBy("grp")
        .agg(F.min("v").alias("med"))
    )
    z = F.abs(F.col("v") - F.col("med"))
    g = (
        gcum.join(F.broadcast(gmed), "grp")
        .select("grp", "c", z.alias("z"))
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("ng"),
            F.sum(F.col("c") * F.col("z")).cast("long").alias("s1"),
            F.sum(F.col("c") * F.col("z") * F.col("z")).cast("long").alias("s2"),
        )
    )
    tot = g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum("s1").cast("long").alias("t1"),
        F.count("*").cast("long").alias("k"),
    )
    mu_g = F.col("s1").cast("double") / F.col("ng").cast("double")
    mu = F.col("t1").cast("double") / F.col("n").cast("double")
    # terms scale from cents^2 to dollars^2 BEFORE the decimal sum:
    # a DECIMAL(38,2) whose unscaled value exceeds 2^53 converts to
    # double differently per engine (the dsum headroom contract,
    # functions/numeric.py) and sf0.1 cents^2 sums cross that line
    between = (
        F.col("ng").cast("double") * (mu_g - mu) * (mu_g - mu)
    ) / 10000.0
    within = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double")
        * F.col("s1").cast("double")
        / F.col("ng").cast("double")
    ) / 10000.0
    terms = g.crossJoin(F.broadcast(tot)).select(
        "n", "k", between.alias("between_term"), within.alias("within_term")
    )
    return terms.agg(
        F.max("n").alias("n_rows"),
        F.max("k").alias("k_groups"),
        dsum("between_term").alias("ss_between"),
        dsum("within_term").alias("ss_within"),
        (
            (dsum("between_term") / (F.max("k") - 1).cast("double"))
            / (dsum("within_term") / (F.max("n") - F.max("k")).cast("double"))
        ).alias("f_stat"),
    )


# --- total-variation + Hellinger histogram drift (round 8) -------------------
_HD_BUCKET = 5000  # 50-dollar histogram bins over order cents


@register(
    "histogram_distance_drift",
    oracle=f"""
    WITH s AS (
        SELECT date_part('year', o_orderdate) AS yr,
               CAST(round(o_totalprice * 100) AS BIGINT) // {_HD_BUCKET}
                   AS bin
        FROM orders WHERE date_part('year', o_orderdate) IN (1995, 1998)
    ),
    bins AS (
        SELECT bin,
               CAST(COUNT(*) FILTER (WHERE yr = 1995) AS BIGINT) AS cx,
               CAST(COUNT(*) FILTER (WHERE yr = 1998) AS BIGINT) AS cy
        FROM s GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(cx) AS BIGINT) AS n, CAST(SUM(cy) AS BIGINT) AS m
        FROM bins
    ),
    terms AS (
        SELECT b.bin,
               abs(CAST(b.cx AS DOUBLE) / CAST(t.n AS DOUBLE)
                   - CAST(b.cy AS DOUBLE) / CAST(t.m AS DOUBLE)) AS tv_term,
               (sqrt(CAST(b.cx AS DOUBLE) / CAST(t.n AS DOUBLE))
                - sqrt(CAST(b.cy AS DOUBLE) / CAST(t.m AS DOUBLE)))
               * (sqrt(CAST(b.cx AS DOUBLE) / CAST(t.n AS DOUBLE))
                  - sqrt(CAST(b.cy AS DOUBLE) / CAST(t.m AS DOUBLE)))
                   AS h2_term
        FROM bins b CROSS JOIN tot t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           0.5 * {dsum_sql('tv_term')} AS total_variation,
           sqrt(0.5 * {dsum_sql('h2_term')}) AS hellinger
    FROM terms
    """,
    tags=("statistics", "drift", "total_variation", "hellinger",
          "histogram"),
)
def histogram_distance_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation and Hellinger distances between the 1995 and
    1998 order-value HISTOGRAMS (bin width {_HD_BUCKET} cents) — the
    bounded-[0,1] drift pair that completes the monitor family: KS is
    the worst single gap, CvM the integrated gap on raw values, χ²
    unbounded and bin-variance-weighted; TVD reads directly as 'what
    fraction of mass moved' and Hellinger is the geodesic the
    embedding-drift literature prefers. Bin probabilities are single
    divisions of exact BIGINTs; √ is the sanctioned correctly-rounded
    transcendental; per-bin terms accumulate through exact decimal
    (dsum) so the bin-order of the float sums can't flake the hash;
    one final 0.5× / √ apiece. Scale: one conditional partial agg to
    the bounded bin table, constant tail."""
    s = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1995, 1998))
        .select(
            F.year("o_orderdate").alias("yr"),
            (F.round(F.col("o_totalprice") * 100).cast("long") / _HD_BUCKET)
            .cast("long")
            .alias("bin"),
        )
    )
    bins = s.groupBy("bin").agg(
        F.count(F.when(F.col("yr") == 1995, 1)).cast("long").alias("cx"),
        F.count(F.when(F.col("yr") == 1998, 1)).cast("long").alias("cy"),
    )
    tot = bins.agg(
        F.sum("cx").cast("long").alias("n"),
        F.sum("cy").cast("long").alias("m"),
    )
    px = F.col("cx").cast("double") / F.col("n").cast("double")
    py = F.col("cy").cast("double") / F.col("m").cast("double")
    sq = F.sqrt(px) - F.sqrt(py)
    terms = bins.crossJoin(F.broadcast(tot)).select(
        F.abs(px - py).alias("tv_term"), (sq * sq).alias("h2_term")
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_bins"),
        (F.lit(0.5) * dsum("tv_term")).alias("total_variation"),
        F.sqrt(F.lit(0.5) * dsum("h2_term")).alias("hellinger"),
    )


# --- BTYD / Pareto-NBD model input extraction (round 8) ----------------------
@register(
    "clv_btyd_model_inputs",
    oracle="""
    WITH asofd AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
    cust AS (
        SELECT o_custkey,
               CAST(COUNT(*) - 1 AS BIGINT) AS x,
               CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                    AS BIGINT) AS t_x_days,
               CAST(date_diff('day', MIN(o_orderdate), a.maxd) AS BIGINT)
                   AS t_age_days,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders CROSS JOIN asofd a
        GROUP BY o_custkey, a.maxd
    )
    SELECT o_custkey AS custkey, x, t_x_days, t_age_days,
           CASE WHEN x > 0
                THEN CAST(total_cents AS DOUBLE) / 100.0
                     / CAST(x + 1 AS DOUBLE)
                ELSE NULL END AS avg_order_value
    FROM cust WHERE x >= 1
    """,
    tags=("relational", "clv", "btyd", "pareto_nbd", "feature_extraction"),
)
def clv_btyd_model_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BTYD (Pareto-NBD / BG-NBD) model-input extraction — the (x, t_x,
    T) triple plus monetary value every customer-lifetime-value fit
    consumes (lifetimes' summary_data_from_transaction_data, computed
    relationally): x = repeat purchases, t_x = days from first to last
    purchase, T = days from first purchase to the corpus as-of date,
    and average order value. The model fit itself is a client-side
    optimizer; extracting calibration inputs over billions of
    transactions is the Spark-shaped step. One customer-grain
    aggregate with a broadcast 1-row as-of date; repeat-only filter
    (x ≥ 1) mirrors the calibration convention. Integer day/cent
    arithmetic; one division."""
    o = load_table(spark, sf_dir, "orders")
    asof = o.agg(F.max("o_orderdate").alias("maxd"))
    cust = (
        o.crossJoin(F.broadcast(asof))
        .groupBy("o_custkey", "maxd")
        .agg(
            (F.count("*") - 1).cast("long").alias("x"),
            F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
            .cast("long")
            .alias("t_x_days"),
            F.datediff(F.max("maxd"), F.min("o_orderdate"))
            .cast("long")
            .alias("t_age_days"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
    )
    return cust.filter(F.col("x") >= 1).select(
        F.col("o_custkey").alias("custkey"),
        "x",
        "t_x_days",
        "t_age_days",
        F.when(
            F.col("x") > 0,
            F.col("total_cents").cast("double")
            / 100.0
            / (F.col("x") + 1).cast("double"),
        ).alias("avg_order_value"),
    )


# --- Benford first-digit audit (round 8) -------------------------------------
# Expected Benford mass per leading digit, precomputed ONCE in Python and
# interpolated verbatim into BOTH the Spark plan and the oracle SQL — the
# repo-wide no-data-dependent-libm-log discipline (log10 of constants is
# fine; log10 of data is not).
_BENFORD_P = {
    1: "0.3010299956639812", 2: "0.17609125905568124", 3: "0.12493873660829992",
    4: "0.09691001300805642", 5: "0.07918124604762482", 6: "0.06694678963061322",
    7: "0.05799194697768673", 8: "0.05115252244738129", 9: "0.04575749056067514",
}
_BENFORD_CASE_SQL = (
    "CASE digit "
    + " ".join(
        f"WHEN {d} THEN CAST('{p}' AS DOUBLE)" for d, p in _BENFORD_P.items()
    )
    + " END"
)


@register(
    "benford_law_audit",
    oracle=f"""
    WITH obs AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit,
               COUNT(*) AS n_obs
        FROM orders GROUP BY 1
    ),
    spine AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
    cells AS (
        SELECT s.digit,
               CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
               CAST(t.n AS DOUBLE) * ({_BENFORD_CASE_SQL.replace('digit', 's.digit')})
                   AS expected
        FROM spine s LEFT JOIN obs o ON o.digit = s.digit CROSS JOIN tot t
    ),
    stat AS (
        SELECT {dsum_sql('(CAST(n_obs AS DOUBLE) - expected)'
                         ' * (CAST(n_obs AS DOUBLE) - expected) / expected')}
            AS chi2
        FROM cells
    )
    SELECT c.digit, c.n_obs, c.expected, s.chi2 FROM cells c CROSS JOIN stat s
    """,
    tags=("statistics", "benford", "fraud_audit", "data_quality"),
)
def benford_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the standard
    forensic-accounting / synthetic-data screen: observed leading-digit
    counts vs the log-curve expectation, one chi-square across the nine
    cells. The leading digit is read off the integer-cents DECIMAL
    rendered as a string (no float log10 of data — the repo-wide libm
    discipline; the Benford masses themselves are Python-precomputed
    literals shared verbatim by plan and oracle). A 9-row digit spine
    left-joins the observed counts so missing digits still contribute
    their full expected mass to the statistic. Scale: one map-side
    combinable groupBy on a 9-value key; everything downstream is a
    9-row broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    obs = (
        orders.select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
                1, 1,
            ).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    expr = None
    for d, lit in _BENFORD_P.items():
        mass = F.lit(lit).cast("double")
        expr = (
            F.when(F.col("digit") == d, mass)
            if expr is None
            else expr.when(F.col("digit") == d, mass)
        )
    cells = (
        spine.join(obs, "digit", "left")
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "digit", "n_obs",
            (F.col("n").cast("double") * expr).alias("expected"),
        )
    )
    diff = F.col("n_obs").cast("double") - F.col("expected")
    stat = cells.agg(dsum(diff * diff / F.col("expected")).alias("chi2"))
    return cells.select("digit", "n_obs", "expected").crossJoin(F.broadcast(stat))


# --- Wald-Wolfowitz runs test on daily revenue (round 8) ---------------------
@register(
    "wald_wolfowitz_runs_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS d,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM lineitem GROUP BY 1
    ),
    vals AS (SELECT v, COUNT(*) AS c FROM daily GROUP BY v),
    cum AS (
        SELECT v, SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
               SUM(c) OVER () AS n
        FROM vals
    ),
    med AS (SELECT MIN(v) AS med FROM cum WHERE cm >= (n + 1) // 2),
    seq AS (
        SELECT d, CASE WHEN v > m.med THEN 1 ELSE 0 END AS b
        FROM daily CROSS JOIN med m
        WHERE v <> m.med
    ),
    flips AS (
        SELECT b, CASE WHEN LAG(b) OVER (ORDER BY d) IS NULL THEN 0
                       WHEN LAG(b) OVER (ORDER BY d) <> b THEN 1 ELSE 0 END
                      AS flip
        FROM seq
    ),
    agg AS (
        SELECT CAST(SUM(b) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(b) AS BIGINT) AS n2,
               CAST(1 + SUM(flip) AS BIGINT) AS runs
        FROM flips
    )
    SELECT n1, n2, runs,
           1.0 + CAST(2 * n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS e_runs,
           (CAST(runs AS DOUBLE)
            - (1.0 + CAST(2 * n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)))
           / sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)) AS DOUBLE)
                  / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE))
               AS z_score
    FROM agg
    """,
    tags=("statistics", "runs_test", "nonparametric", "randomness",
          "bounded_window"),
)
def wald_wolfowitz_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily-revenue
    sign sequence: is revenue above/below its median clustered in time
    (trend/seasonality) or random? The binary sequence comes from the
    DATE-GRAIN daily table (bounded rows — the ordered windows carry
    the bounded_window tag), the pooled lower median from the
    distinct-value cumulative trick (mood_median_test discipline),
    at-median days are dropped (the classical tie treatment), runs are
    1 + the number of sign flips counted with LAG, and E[R]/Var[R] are
    the closed-form expressions evaluated on exact BIGINT counts —
    rational arithmetic plus one IEEE sqrt, no libm logs. Scale: the
    only full scan is the map-side-combinable daily rollup; everything
    after operates on the day-grain table."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.groupBy(F.col("l_shipdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    vals = daily.groupBy("v").agg(F.count("*").alias("c"))
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = vals.select(
        "v",
        F.sum("c").over(wv).alias("cm"),
        F.sum("c").over(W.partitionBy()).alias("n"),
    )
    med = cum.filter(F.col("cm") >= F.expr("(n + 1) div 2")).agg(
        F.min("v").alias("med")
    )
    seq = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("v") != F.col("med"))
        .select(
            "d", F.when(F.col("v") > F.col("med"), 1).otherwise(0).alias("b")
        )
    )
    lag_b = F.lag("b").over(W.orderBy("d"))
    flips = seq.select(
        "b",
        F.when(lag_b.isNull(), 0).when(lag_b != F.col("b"), 1).otherwise(0)
        .alias("flip"),
    )
    agg = flips.agg(
        F.sum("b").cast("long").alias("n1"),
        (F.count("*") - F.sum("b")).cast("long").alias("n2"),
        (F.lit(1) + F.sum("flip")).cast("long").alias("runs"),
    )
    n1, n2, runs = F.col("n1"), F.col("n2"), F.col("runs")
    n = n1 + n2
    two_ab = 2 * n1 * n2
    e_runs = F.lit(1.0) + two_ab.cast("double") / n.cast("double")
    var = (two_ab * (two_ab - n)).cast("double") / (n * n * (n - 1)).cast(
        "double"
    )
    return agg.select(
        "n1", "n2", "runs",
        e_runs.alias("e_runs"),
        ((runs.cast("double") - e_runs) / F.sqrt(var)).alias("z_score"),
    )


# --- Atkinson inequality index per nation (round 8) ---------------------------
ATK_SCALE = 10**12  # fixed-point quantum for the 1/x reciprocal terms


@register(
    "atkinson_inequality_index",
    oracle=f"""
    WITH base AS (
        SELECT c_nationkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS x
        FROM customer WHERE c_acctbal > 0
    ),
    agg AS (
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_cust,
               CAST(SUM(x) AS BIGINT) AS s_cents,
               CAST(SUM({ATK_SCALE} // x) AS BIGINT) AS inv_scaled
        FROM base GROUP BY 1
    )
    SELECT c_nationkey, n_cust,
           CAST(s_cents AS DOUBLE) / 100.0 / CAST(n_cust AS DOUBLE) AS mean_bal,
           1.0 - CAST(n_cust AS DOUBLE) * CAST(n_cust AS DOUBLE)
                 * CAST('{ATK_SCALE}' AS DOUBLE)
                 / (CAST(inv_scaled AS DOUBLE) * CAST(s_cents AS DOUBLE))
               AS atkinson_2
    FROM agg
    """,
    tags=("statistics", "inequality", "atkinson", "aggregate"),
)
def atkinson_inequality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (ε=2) of positive account balances per
    nation — the welfare-economics complement to gini_coefficient with
    an explicit inequality-aversion parameter. At ε=2 the index is
    1 − harmonic/arithmetic mean ratio, i.e. pure rational arithmetic:
    no data-dependent logs (ε=1 would need them — libm discipline).
    Reciprocals are accumulated as EXACT integers (⌊10¹²/x⌋ fixed-point
    — the resource_allocation_linkpred quantum trick) so the sum is
    order-independent without even a decimal cast; the quantization
    error is ≤ n·10⁻¹² relative. One map-side-combinable groupBy over
    customer; constant-size output per nation."""
    base = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 0
    ).select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("x"),
    )
    agg = base.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n_cust"),
        F.sum("x").cast("long").alias("s_cents"),
        F.sum(F.expr(f"{ATK_SCALE} div x")).cast("long").alias("inv_scaled"),
    )
    n_d = F.col("n_cust").cast("double")
    return agg.select(
        "c_nationkey", "n_cust",
        (F.col("s_cents").cast("double") / 100.0 / n_d).alias("mean_bal"),
        (
            F.lit(1.0)
            - n_d * n_d * F.lit(str(ATK_SCALE)).cast("double")
            / (F.col("inv_scaled").cast("double") * F.col("s_cents").cast("double"))
        ).alias("atkinson_2"),
    )


# --- Friedman test: segments ranked within nation blocks (round 8) -----------
@register(
    "friedman_test",
    oracle="""
    WITH cell AS (
        SELECT c_nationkey AS block, c_mktsegment AS seg,
               CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS v
        FROM customer GROUP BY 1, 2
    ),
    ranked AS (
        SELECT block, seg,
               ROW_NUMBER() OVER (PARTITION BY block ORDER BY v, seg) AS r
        FROM cell
    ),
    rs AS (
        SELECT seg, CAST(SUM(r) AS BIGINT) AS r_sum FROM ranked GROUP BY seg
    ),
    dims AS (
        SELECT CAST(COUNT(DISTINCT block) AS BIGINT) AS nb,
               CAST(COUNT(DISTINCT seg) AS BIGINT) AS k
        FROM ranked
    ),
    stat AS (
        SELECT CAST(12 * SUM(r_sum * r_sum) AS DOUBLE)
                   / CAST(d.nb * d.k * (d.k + 1) AS DOUBLE)
               - CAST(3 * d.nb * (d.k + 1) AS DOUBLE) AS chi2_f,
               d.nb AS n_blocks, d.k AS k_treatments
        FROM rs CROSS JOIN dims d GROUP BY d.nb, d.k
    )
    SELECT r.seg, r.r_sum, s.n_blocks, s.k_treatments, s.chi2_f
    FROM rs r CROSS JOIN stat s
    """,
    tags=("statistics", "friedman", "nonparametric", "rank_test"),
)
def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test with nations as blocks and market segments as
    treatments (cell value = mean balance): do segments order
    consistently across nations? The repeated-measures complement to
    kruskal_wallis_test (independent groups) and mood_median_test
    (medians). Ranks are per-block ROW_NUMBER over the 25×5 CELL table
    (block-partitioned bounded windows, not entity-grain); ties in the
    double cell means break deterministically by segment name. The
    statistic 12/(nk(k+1))·ΣR_j² − 3n(k+1) is assembled from exact
    BIGINT rank sums with one division — rational arithmetic only.
    Scale: one map-side-combinable groupBy to cells; everything after
    is O(nations × segments)."""
    cust = load_table(spark, sf_dir, "customer")
    cell = cust.groupBy(
        F.col("c_nationkey").alias("block"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("double")
            / F.count("*").cast("double")
        ).alias("v")
    )
    ranked = cell.select(
        "block", "seg",
        F.row_number().over(W.partitionBy("block").orderBy("v", "seg")).alias("r"),
    )
    rs = ranked.groupBy("seg").agg(F.sum("r").cast("long").alias("r_sum"))
    dims = ranked.agg(
        F.countDistinct("block").cast("long").alias("nb"),
        F.countDistinct("seg").cast("long").alias("k"),
    )
    stat = (
        rs.crossJoin(F.broadcast(dims))
        .groupBy("nb", "k")
        .agg(F.sum(F.col("r_sum") * F.col("r_sum")).alias("sr2"))
        .select(
            (
                (12 * F.col("sr2")).cast("double")
                / (F.col("nb") * F.col("k") * (F.col("k") + 1)).cast("double")
                - (3 * F.col("nb") * (F.col("k") + 1)).cast("double")
            ).alias("chi2_f"),
            F.col("nb").alias("n_blocks"),
            F.col("k").alias("k_treatments"),
        )
    )
    return rs.crossJoin(F.broadcast(stat)).select(
        "seg", "r_sum", "n_blocks", "k_treatments", "chi2_f"
    )


# --- Goodman-Kruskal tau: nation -> segment predictability (round 8) ---------
@register(
    "goodman_kruskal_tau",
    oracle=f"""
    WITH cnt AS (
        SELECT c_nationkey AS i, c_mktsegment AS j, COUNT(*) AS nij
        FROM customer GROUP BY 1, 2
    ),
    rowt AS (
        SELECT i, CAST(SUM(nij) AS BIGINT) AS ni,
               CAST(SUM(nij * nij) AS BIGINT) AS sq
        FROM cnt GROUP BY i
    ),
    colt AS (
        SELECT CAST(SUM(s) AS BIGINT) AS sum_nj2, CAST(SUM(nj) AS BIGINT) AS n
        FROM (SELECT j, SUM(nij) AS nj, SUM(nij) * SUM(nij) AS s
              FROM cnt GROUP BY j)
    ),
    cond AS (
        SELECT {dsum_sql('CAST(sq AS DOUBLE) / CAST(ni AS DOUBLE)')} AS s_cond
        FROM rowt
    )
    SELECT ct.n,
           (CAST(ct.n AS DOUBLE) * ct.n - ct.sum_nj2)
               / (CAST(ct.n AS DOUBLE) * ct.n) AS v_marg,
           (CAST(ct.n AS DOUBLE) - cd.s_cond) / CAST(ct.n AS DOUBLE) AS v_cond,
           ((CAST(ct.n AS DOUBLE) * ct.n - ct.sum_nj2)
                / (CAST(ct.n AS DOUBLE) * ct.n)
            - (CAST(ct.n AS DOUBLE) - cd.s_cond) / CAST(ct.n AS DOUBLE))
           / ((CAST(ct.n AS DOUBLE) * ct.n - ct.sum_nj2)
              / (CAST(ct.n AS DOUBLE) * ct.n)) AS gk_tau
    FROM colt ct CROSS JOIN cond cd
    """,
    tags=("statistics", "association", "goodman_kruskal", "feature_selection"),
)
def goodman_kruskal_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal tau — the asymmetric proportional-reduction-in-
    error association 'how well does nation predict market segment?'
    that feature-selection passes use to rank categorical features
    (cramers_v_association is the symmetric chi-square cousin; tau is
    variance-interpretable). All inputs are contingency counts:
    V_marginal = (n² − Σnⱼ²)/n², V_conditional = (n − Σᵢ(Σⱼnᵢⱼ²)/nᵢ)/n,
    τ = (V_m − V_c)/V_m. Per-nation Σnᵢⱼ²/nᵢ is one exact-integer-over-
    integer division; the 25-term sum accumulates through exact decimal
    (dsum). No logs (mutual information would need them — libm
    discipline), one contingency groupBy, O(cells) tail."""
    cust = load_table(spark, sf_dir, "customer")
    cnt = cust.groupBy(
        F.col("c_nationkey").alias("i"), F.col("c_mktsegment").alias("j")
    ).agg(F.count("*").alias("nij"))
    rowt = cnt.groupBy("i").agg(
        F.sum("nij").cast("long").alias("ni"),
        F.sum(F.col("nij") * F.col("nij")).cast("long").alias("sq"),
    )
    colt = (
        cnt.groupBy("j")
        .agg(F.sum("nij").alias("nj"))
        .agg(
            F.sum(F.col("nj") * F.col("nj")).cast("long").alias("sum_nj2"),
            F.sum("nj").cast("long").alias("n"),
        )
    )
    cond = rowt.agg(
        dsum(F.col("sq").cast("double") / F.col("ni").cast("double")).alias(
            "s_cond"
        )
    )
    nd = F.col("n").cast("double")
    v_marg = (nd * F.col("n") - F.col("sum_nj2")) / (nd * F.col("n"))
    v_cond = (nd - F.col("s_cond")) / nd
    return colt.crossJoin(F.broadcast(cond)).select(
        "n",
        v_marg.alias("v_marg"),
        v_cond.alias("v_cond"),
        ((v_marg - v_cond) / v_marg).alias("gk_tau"),
    )


# --- Distribution-shape moments per group (round 8) ---------------------------
@register(
    "group_skewness_kurtosis",
    oracle="""
    WITH b AS (
        SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x
        FROM lineitem
    ),
    sh AS (
        SELECT grp, SUM(x) // COUNT(*) AS a FROM b GROUP BY grp
    ),
    s AS (
        SELECT b.grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x - sh.a) AS BIGINT) AS s1,
               CAST(SUM((x - sh.a) * (x - sh.a)) AS BIGINT) AS s2,
               CAST(SUM((x - sh.a) * (x - sh.a) * (x - sh.a)) AS BIGINT) AS s3,
               CAST(SUM((x - sh.a) * (x - sh.a) * (x - sh.a) * (x - sh.a))
                    AS BIGINT) AS s4,
               sh.a AS a
        FROM b JOIN sh ON b.grp = sh.grp GROUP BY b.grp, sh.a
    ),
    m AS (
        SELECT grp, n,
               CAST(a AS DOUBLE) + CAST(s1 AS DOUBLE) / n AS mean_x,
               CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
               CAST(s3 AS DOUBLE) / n
                 - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                 + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n) AS m3,
               CAST(s4 AS DOUBLE) / n
                 - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
                 + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s2 AS DOUBLE) / n)
                 - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   AS m4
        FROM s
    )
    SELECT grp, n, mean_x, m2 AS variance,
           m3 / (m2 * sqrt(m2)) AS skewness,
           m4 / (m2 * m2) - 3.0 AS kurtosis_excess
    FROM m
    """,
    tags=("statistics", "moments", "skewness", "kurtosis", "profiling"),
)
def group_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third/fourth distribution-shape moments (skewness g₁, excess
    kurtosis g₂) of order quantity per return flag — the data-profiling
    step that flags heavy tails before z-score-based outlier rules are
    trusted (value_outliers assumes symmetric tails; this measures the
    assumption). Numerics follow the partial_correlation two-pass
    discipline: moments are accumulated about the integer FLOOR MEAN of
    each group, so every power sum is an exactly-representable BIGINT
    (quantity deviations ≤ 50 keep Σd⁴ < 2^53 through sf1000 — chosen
    over money columns precisely for that headroom) and every double
    conversion is exact; central-moment assembly is fixed-order IEEE
    with one sqrt. Scale: two partial-agg scans (classical distributed
    two-pass), O(groups) tail."""
    b = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("long").alias("x"),
    )
    sh = b.groupBy("grp").agg(F.expr("sum(x) div count(*)").alias("a"))
    d = F.col("x") - F.col("a")
    s = (
        b.join(F.broadcast(sh), "grp")
        .groupBy("grp", "a")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(d).cast("long").alias("s1"),
            F.sum(d * d).cast("long").alias("s2"),
            F.sum(d * d * d).cast("long").alias("s3"),
            F.sum(d * d * d * d).cast("long").alias("s4"),
        )
    )
    nd = F.col("n").cast("double")
    u = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    m2 = r2 - u * u
    m3 = r3 - F.lit(3.0) * u * r2 + F.lit(2.0) * u * u * u
    m4 = r4 - F.lit(4.0) * u * r3 + F.lit(6.0) * u * u * r2 - F.lit(3.0) * u * u * u * u
    return s.select(
        "grp", "n",
        (F.col("a").cast("double") + u).alias("mean_x"),
        m2.alias("variance"),
        (m3 / (m2 * F.sqrt(m2))).alias("skewness"),
        (m4 / (m2 * m2) - F.lit(3.0)).alias("kurtosis_excess"),
    )


# --- Croston intermittent-demand forecast (round 8) ---------------------------
CROSTON_MOD = 97     # part subset: one in ~97 parts (bounded, representative)
CROSTON_CAP = 40     # SES horizon: latest K nonzero-demand events per part
CROSTON_SHIFT = 39   # fixed-point scale 2^39 for the dyadic SES weights


@register(
    "croston_intermittent_demand",
    oracle=f"""
    WITH demand AS (
        SELECT l_partkey,
               datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7
                   AS wk,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y
        FROM lineitem
        WHERE l_partkey % {CROSTON_MOD} = 0
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT l_partkey, wk, y,
               ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY wk DESC)
                   AS r
        FROM demand
    ),
    capped AS (
        SELECT l_partkey, wk, y, r,
               COUNT(*) OVER (PARTITION BY l_partkey) AS n,
               wk - LEAD(wk) OVER (PARTITION BY l_partkey ORDER BY wk DESC)
                   AS iv
        FROM ranked WHERE r <= {CROSTON_CAP}
    ),
    agg AS (
        SELECT l_partkey, CAST(MAX(n) AS BIGINT) AS n_events,
               CAST(SUM(y * (CAST(1 AS BIGINT) <<
                   (CASE WHEN r < n THEN {CROSTON_SHIFT} - r
                         ELSE {CROSTON_SHIFT} + 1 - n END))) AS BIGINT) AS zs,
               CAST(SUM(CASE WHEN r < n THEN iv * (CAST(1 AS BIGINT) <<
                   (CASE WHEN r < n - 1 THEN {CROSTON_SHIFT} - r
                         ELSE {CROSTON_SHIFT} + 2 - n END)) END) AS BIGINT)
                   AS ps
        FROM capped GROUP BY l_partkey
    )
    SELECT l_partkey, n_events,
           CAST(zs AS DOUBLE) / CAST(CAST(1 AS BIGINT) << {CROSTON_SHIFT}
                                     AS DOUBLE) AS z_demand,
           CAST(ps AS DOUBLE) / CAST(CAST(1 AS BIGINT) << {CROSTON_SHIFT}
                                     AS DOUBLE) AS p_interval,
           (CAST(zs AS DOUBLE) / CAST(CAST(1 AS BIGINT) << {CROSTON_SHIFT}
                                      AS DOUBLE))
           / (CAST(ps AS DOUBLE) / CAST(CAST(1 AS BIGINT) << {CROSTON_SHIFT}
                                        AS DOUBLE)) AS croston_forecast
    FROM agg WHERE n_events >= 2
    """,
    tags=("forecast", "croston", "intermittent_demand", "time_series",
          "supply_chain"),
)
def croston_intermittent_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (Croston 1972) for INTERMITTENT demand — the
    supply-chain forecast for slow movers where holt_linear_forecast
    (dense series) and seasonal_naive_mase break down: separately
    exponential-smooth the nonzero demand sizes z and the inter-demand
    intervals p over DEMAND EVENTS only, forecast = z/p per period.
    Numerics: α = 1/2 makes every SES weight a dyadic rational, so both
    smoothers are computed as EXACT integers scaled by 2³⁹ (weight
    2^(39−r) for the r-th newest event, the oldest absorbing the
    initial-condition mass) — no float powers, no order dependence; the
    final /2³⁹ and z/p divisions are exact-then-rounded-once IEEE. The
    horizon caps at the latest 40 events per part, which also bounds
    the scaled sums < 2^53 (exact double conversion) through 100×
    volume. Scale: one map-side-combinable (part, week) rollup, then
    part-partitioned windows (entity-grain, never global)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % CROSTON_MOD == 0
    )
    demand = li.groupBy(
        "l_partkey",
        F.expr(
            "datediff(cast(l_shipdate as date), date'1970-01-01') div 7"
        ).alias("wk"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("y"))
    wp = W.partitionBy("l_partkey").orderBy(F.col("wk").desc())
    ranked = demand.select(
        "l_partkey", "wk", "y", F.row_number().over(wp).alias("r")
    )
    capped = ranked.filter(F.col("r") <= CROSTON_CAP).select(
        "l_partkey", "wk", "y", "r",
        F.count("*").over(W.partitionBy("l_partkey")).alias("n"),
        (F.col("wk") - F.lead("wk").over(wp)).alias("iv"),
    )
    z_term = F.expr(
        f"y * shiftleft(cast(1 as bigint), cast(if(r < n, {CROSTON_SHIFT} - r,"
        f" {CROSTON_SHIFT} + 1 - n) as int))"
    )
    p_term = F.expr(
        f"if(r < n, iv * shiftleft(cast(1 as bigint), cast(if(r < n - 1,"
        f" {CROSTON_SHIFT} - r, {CROSTON_SHIFT} + 2 - n) as int)), null)"
    )
    agg = capped.groupBy("l_partkey").agg(
        F.max("n").cast("long").alias("n_events"),
        F.sum(z_term).cast("long").alias("zs"),
        F.sum(p_term).cast("long").alias("ps"),
    )
    scale = F.lit(float(1 << CROSTON_SHIFT))
    z = F.col("zs").cast("double") / scale
    p = F.col("ps").cast("double") / scale
    return agg.filter(F.col("n_events") >= 2).select(
        "l_partkey", "n_events",
        z.alias("z_demand"),
        p.alias("p_interval"),
        (z / p).alias("croston_forecast"),
    )


# --- Hodges-Lehmann weekend-vs-weekday location shift (round 8) ---------------
@register(
    "hodges_lehmann_location_shift",
    oracle="""
    WITH daily AS (
        SELECT datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                   AS ed,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM lineitem GROUP BY 1
    ),
    lab AS (
        SELECT v, CASE WHEN (ed + 4) % 7 >= 5 THEN 1 ELSE 0 END AS wknd
        FROM daily
    ),
    diffs AS (
        SELECT a.v - b.v AS dv
        FROM lab a JOIN lab b ON a.wknd = 1 AND b.wknd = 0
    ),
    vals AS (SELECT dv, COUNT(*) AS c FROM diffs GROUP BY dv),
    cum AS (
        SELECT dv, SUM(c) OVER (ORDER BY dv
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
               SUM(c) OVER () AS np
        FROM vals
    ),
    med AS (SELECT MIN(dv) AS hl, MAX(np) AS n_pairs FROM cum
            WHERE cm >= (np + 1) // 2),
    cnts AS (
        SELECT CAST(SUM(wknd) AS BIGINT) AS n_weekend,
               CAST(COUNT(*) - SUM(wknd) AS BIGINT) AS n_weekday
        FROM lab
    )
    SELECT c.n_weekend, c.n_weekday, CAST(m.n_pairs AS BIGINT) AS n_pairs,
           CAST(m.hl AS DOUBLE) / 100.0 AS hl_shift_dollars
    FROM cnts c CROSS JOIN med m
    """,
    tags=("statistics", "hodges_lehmann", "nonparametric", "effect_size",
          "bounded_window"),
)
def hodges_lehmann_location_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann estimate of the weekend-vs-weekday daily-revenue
    shift: the MEDIAN OF ALL PAIRWISE DIFFERENCES between weekend and
    weekday days — the robust EFFECT SIZE companion to mann_whitney_u
    (which answers 'is there a shift?' but not 'how big?'); 29%
    breakdown vs the difference-of-means. Day-of-week comes from pure
    (epoch+4)%7 arithmetic (the date_dimension_rollup precedent — the
    engines' dayofweek builtins disagree on numbering). The pairwise
    stage joins the two halves of the DATE-GRAIN table — bounded by
    calendar² regardless of corpus size (~1.2M integer-cent pairs
    here, constant in sf), never by rows — and the median is located
    with the distinct-value cumulative trick (bounded_window). All
    arithmetic is exact integer cents until the single final /100."""
    daily = load_table(spark, sf_dir, "lineitem").groupBy(
        F.expr(
            "datediff(cast(l_shipdate as date), date'1970-01-01')"
        ).alias("ed")
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("v")
    )
    lab = daily.select(
        "v",
        F.when((F.col("ed") + 4) % 7 >= 5, 1).otherwise(0).alias("wknd"),
    )
    a = lab.filter(F.col("wknd") == 1).select(F.col("v").alias("va"))
    b = lab.filter(F.col("wknd") == 0).select(F.col("v").alias("vb"))
    diffs = a.crossJoin(b).select((F.col("va") - F.col("vb")).alias("dv"))
    vals = diffs.groupBy("dv").agg(F.count("*").alias("c"))
    wv = W.orderBy("dv").rowsBetween(W.unboundedPreceding, 0)
    cum = vals.select(
        "dv",
        F.sum("c").over(wv).alias("cm"),
        F.sum("c").over(W.partitionBy()).alias("np"),
    )
    med = cum.filter(F.col("cm") >= F.expr("(np + 1) div 2")).agg(
        F.min("dv").alias("hl"), F.max("np").cast("long").alias("n_pairs")
    )
    cnts = lab.agg(
        F.sum("wknd").cast("long").alias("n_weekend"),
        (F.count("*") - F.sum("wknd")).cast("long").alias("n_weekday"),
    )
    return cnts.crossJoin(F.broadcast(med)).select(
        "n_weekend", "n_weekday", "n_pairs",
        (F.col("hl").cast("double") / 100.0).alias("hl_shift_dollars"),
    )


# --- Ljung-Box portmanteau test (round 9) --------------------------------------
LB_MAX_LAG = 6  # same lag depth as acf_lags; df of the Q statistic


@register(
    "ljung_box_test",
    oracle=f"""
    WITH m AS (
        SELECT n.n_name AS n_name,
               (date_part('year', o.o_orderdate) - 1996) * 12
                 + date_part('month', o.o_orderdate) AS m,
               SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= DATE '{TS_START}'
        GROUP BY 1, 2
    ),
    st AS (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(cents) AS BIGINT) AS s
           FROM m GROUP BY n_name),
    y AS (
        SELECT m.n_name, m.m, st.n,
               CAST(st.n * m.cents - st.s AS HUGEINT) AS y
        FROM m JOIN st ON m.n_name = st.n_name
    ),
    lagged AS (
        SELECT n_name, n, y,
               {", ".join(f"LAG(y, {k}) OVER (PARTITION BY n_name ORDER BY m) AS y{k}" for k in range(1, LB_MAX_LAG + 1))}
        FROM y
    ),
    agg AS (
        SELECT n_name, MAX(n) AS n_months, SUM(y * y) AS den,
               {", ".join(f"SUM(y * y{k}) AS num{k}" for k in range(1, LB_MAX_LAG + 1))}
        FROM lagged GROUP BY n_name
    ),
    rk AS (
        SELECT n_name, n_months,
               {", ".join(f"((num{k} + den) * 1000000000) // den - 1000000000 AS r{k}" for k in range(1, LB_MAX_LAG + 1))}
        FROM agg WHERE n_months > {LB_MAX_LAG}
    )
    SELECT n_name, CAST(n_months AS BIGINT) AS n_months,
           CAST((n_months * (n_months + 2)
                 * ({" + ".join(f"(r{k} * r{k}) // (n_months - {k})" for k in range(1, LB_MAX_LAG + 1))}))
                // 1000000000 AS BIGINT) AS q_lb_e9
    FROM rk
    """,
    # (no bounded_window tag: round-10's cap-propagating audit PROVES
    # the windowed acf input bounded, so the adjudication went stale —
    # a stale tag would absorb a future unpartitioned-window regression)
    tags=("statistics", "time_series", "ljung_box", "portmanteau"),
)
def ljung_box_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau Q (Ljung & Box 1978) over the first
    {LB_MAX_LAG} autocorrelations of monthly order revenue per nation —
    the single-number white-noise test read after acf_lags' per-lag
    diagnostic: Q ~ chi-square(6) under independence, so a large Q says
    the series is autocorrelated SOMEWHERE in lags 1-6 without hunting
    the lag by eye. Shares acf_lags' exact construction: the mean folds
    into integers y_t = n*cents_t - S, each r_k is the 1e-9-quantized
    rational ((num_k+den)*1e9)//den - 1e9 (num_k+den >= 0 by
    Cauchy-Schwarz so floor==truncate), r_k^2 stays in BIGINT
    (<= 1e18), each 1/(n-k) factor is one exact integer division, and
    Q = n(n+2)*SUM rides DECIMAL(38,0) before the final 1e-9 downshift
    — bit-exact in both engines, no libm anywhere.

    Scale (100 TB): identical to acf_lags — one partial-agg corpus
    collapse to nation x month, per-nation scalars broadcast back, the
    lag window runs on <= 68 rows per nation (bounded_window)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(TS_START).cast("date")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1996)) * 12
                + F.month("o_orderdate")
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    st = m.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    y = m.join(F.broadcast(st), "n_name").select(
        "n_name",
        "m",
        "n",
        (F.col("n") * F.col("cents") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("y"),
    )
    win = W.partitionBy("n_name").orderBy("m")
    lagged = y.select(
        "n_name",
        "n",
        "y",
        *[F.lag("y", k).over(win).alias(f"y{k}") for k in range(1, LB_MAX_LAG + 1)],
    )
    agg = lagged.groupBy("n_name").agg(
        F.max("n").alias("n_months"),
        F.sum(F.col("y") * F.col("y")).alias("den"),
        *[
            F.sum(F.col("y") * F.col(f"y{k}")).alias(f"num{k}")
            for k in range(1, LB_MAX_LAG + 1)
        ],
    )
    rk = agg.filter(F.col("n_months") > LB_MAX_LAG).select(
        "n_name",
        "n_months",
        *[
            F.expr(
                f"CAST(((num{k} + den) * CAST(1000000000 AS DECIMAL(38,0)))"
                f" div den AS BIGINT) - 1000000000"
            ).alias(f"r{k}")
            for k in range(1, LB_MAX_LAG + 1)
        ],
    )
    terms = " + ".join(
        f"(r{k} * r{k}) div (n_months - {k})" for k in range(1, LB_MAX_LAG + 1)
    )
    return rk.select(
        "n_name",
        F.col("n_months").cast("long").alias("n_months"),
        F.expr(
            f"CAST((CAST(n_months * (n_months + 2) AS DECIMAL(38,0))"
            f" * CAST({terms} AS DECIMAL(38,0))) div 1000000000 AS BIGINT)"
        ).alias("q_lb_e9"),
    )


# --- Durbin-Watson residual-autocorrelation statistic (round 9) ----------------
@register(
    "durbin_watson_statistic",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT d, y, ROW_NUMBER() OVER (ORDER BY d) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               CAST(SUM(y) OVER () AS BIGINT) AS sy
        FROM daily
    ),
    xy AS (
        SELECT d, y, n, sy, 2 * rn - (n + 1) AS x,
               LAG(y) OVER (ORDER BY d) AS y_prev
        FROM idx
    ),
    fit AS (
        SELECT MAX(n) AS n, MAX(sy) AS sy,
               (SUM(CAST(x * y AS HUGEINT)) * 1000000)
                 // SUM(CAST(x * x AS HUGEINT)) AS b_e6
        FROM xy
    ),
    resid AS (
        SELECT x.y, x.x, x.y_prev, f.n, f.b_e6,
               (f.sy * 1000000) // f.n AS ybar_e6
        FROM xy x CROSS JOIN fit f
    ),
    parts AS (
        SELECT MAX(n) AS n, MAX(b_e6) AS b_e6,
               SUM(CASE WHEN y_prev IS NOT NULL THEN
                   CAST((y - y_prev) * 1000000 - 2 * b_e6 AS HUGEINT)
                   * CAST((y - y_prev) * 1000000 - 2 * b_e6 AS HUGEINT)
                   ELSE CAST(0 AS HUGEINT) END) AS num,
               SUM(CAST(y * 1000000 - ybar_e6 - b_e6 * x AS HUGEINT)
                   * CAST(y * 1000000 - ybar_e6 - b_e6 * x AS HUGEINT))
                   AS den
        FROM resid
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(b_e6 AS BIGINT) AS slope_e6,
           CAST((num * 1000000000) // den AS BIGINT) AS dw_e9
    FROM parts
    """,
    tags=("statistics", "time_series", "durbin_watson", "regression",
          "bounded_window"),
)
def durbin_watson_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson d (Durbin & Watson 1950) on the residuals of the
    daily-order-volume-vs-time OLS line: d = SUM(e_t - e_(t-1))^2 /
    SUM(e_t^2), the canonical did-my-trend-regression-leave-serial-
    correlation check (d ~ 2 means none; ols_trend_per_group and
    rolling_ols_slope fit the lines, this audits their error term).
    Exactness: the time regressor is centered as the INTEGER
    x_t = 2t-(n+1) (sum is exactly 0, so the slope is just
    SUM(xy)/SUM(x^2)), the slope and intercept are 1e-6-quantized
    integer divisions (both engines truncate integral division toward
    zero — verified), and both quadratic forms expand over integers:
    the numerator needs only first differences, where the fitted line's
    contribution is the CONSTANT 2*b per step. No float ever sums.

    Scale (100 TB): the corpus collapses to the calendar in one
    partial-agg groupBy; every window (row_number, lag, the two global
    scalars) runs on the <= few-thousand-row date spine
    (bounded_window); counts keep all squares inside DECIMAL(38,0)
    even at 1e12 rows."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    wall = W.orderBy("d").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    idx = daily.select(
        "d",
        "y",
        F.row_number().over(W.orderBy("d")).alias("rn"),
        F.count("*").over(wall).cast("long").alias("n"),
        F.sum("y").over(wall).cast("long").alias("sy"),
    )
    xy = idx.select(
        "d",
        "y",
        "n",
        "sy",
        (F.lit(2) * F.col("rn") - (F.col("n") + 1)).alias("x"),
        F.lag("y").over(W.orderBy("d")).alias("y_prev"),
    )
    dec = "decimal(38,0)"
    fit = xy.agg(
        F.max("n").alias("n"),
        F.max("sy").alias("sy"),
        F.expr(
            f"(SUM(CAST(x * y AS {dec})) * 1000000)"
            f" div SUM(CAST(x * x AS {dec}))"
        ).alias("b_e6"),
    )
    resid = xy.select("y", "x", "y_prev").crossJoin(F.broadcast(fit.select(
        "n", "b_e6", F.expr("(sy * 1000000) div n").alias("ybar_e6")
    )))
    parts = resid.agg(
        F.max("n").alias("n"),
        F.max("b_e6").alias("b_e6"),
        F.sum(
            F.when(
                F.col("y_prev").isNotNull(),
                F.expr(
                    f"CAST((y - y_prev) * 1000000 - 2 * b_e6 AS {dec})"
                    f" * CAST((y - y_prev) * 1000000 - 2 * b_e6 AS {dec})"
                ),
            ).otherwise(F.lit(0).cast(dec))
        ).alias("num"),
        F.sum(
            F.expr(
                f"CAST(y * 1000000 - ybar_e6 - b_e6 * x AS {dec})"
                f" * CAST(y * 1000000 - ybar_e6 - b_e6 * x AS {dec})"
            )
        ).alias("den"),
    )
    return parts.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("b_e6").cast("long").alias("slope_e6"),
        F.expr(
            "CAST((num * 1000000000) div den AS BIGINT)"
        ).alias("dw_e9"),
    )


# --- Jarque-Bera normality test (round 9) --------------------------------------
@register(
    "jarque_bera_test",
    oracle="""
    WITH q AS (
        SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q
        FROM lineitem
    ),
    mu AS (
        SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
               (CAST(SUM(q) AS BIGINT) * 1000) // COUNT(*) AS mu_e3
        FROM q GROUP BY flag
    ),
    cent AS (
        SELECT q.flag, mu.n, mu.mu_e3,
               CAST(q.q * 1000 - mu.mu_e3 AS HUGEINT) AS z
        FROM q JOIN mu ON q.flag = mu.flag
    ),
    pw AS (
        SELECT flag, MAX(n) AS n, MAX(mu_e3) AS mu_e3,
               SUM(z * z) // MAX(n) AS m2q,
               ABS(SUM(z * z * z)) // MAX(n) AS m3a,
               SUM(z * z * z * z) // MAX(n) AS m4q
        FROM cent GROUP BY flag
    ),
    stats AS (
        SELECT flag, n, mu_e3,
               (m3a * m3a * 1000000000) // (m2q * m2q * m2q) AS skew2_e9,
               (m4q * 1000000000) // (m2q * m2q) - 3000000000 AS kurt_e9
        FROM pw
    )
    SELECT flag AS l_returnflag, CAST(n AS BIGINT) AS n_rows,
           CAST(mu_e3 AS BIGINT) AS mean_qty_e3,
           CAST(skew2_e9 AS BIGINT) AS skew2_e9,
           CAST(kurt_e9 AS BIGINT) AS kurt_excess_e9,
           CAST((n * (skew2_e9 + (kurt_e9 * kurt_e9) // 4000000000))
                // 6000 AS BIGINT) AS jb_e6
    FROM stats
    """,
    tags=("statistics", "normality", "jarque_bera", "moments"),
)
def jarque_bera_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test (Jarque & Bera 1980) per return flag:
    JB = n/6 * (S^2 + K^2/4) from the sample skewness S and excess
    kurtosis K of order quantity — the moment-based screen that says
    whether z-score-based rules (value_outliers, two_proportion_ztest's
    normal approximation) are even admissible on this column.
    group_skewness_kurtosis reports the moments; this collapses them
    into the chi-square(2) test statistic. Exactness is two-pass: pass
    one pins the per-group mean as the 1e-3-quantized integer mu_e3,
    pass two sums centered powers z^2..z^4 of the SMALL integer
    z = 1000*q - mu_e3 (|z| <= 5e4, so z^4 <= 6.25e18 rides
    DECIMAL(38,0) headroom at any corpus size — unlike raw power sums
    n^3*S4, which outgrow decimal at ~1e11 rows). Moments quantize
    via integer division (truncation identical in both engines), and
    S^2 enters through |m3| squared so every division is non-negative.

    Scale (100 TB): two map-side-combinable corpus scans (the price of
    bounded centered magnitudes), a 3-row broadcast of the means, and
    constant-size tails — no window anywhere."""
    q = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    mu = q.groupBy("flag").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("(CAST(SUM(q) AS BIGINT) * 1000) div COUNT(*)").alias("mu_e3"),
    )
    dec = "decimal(38,0)"
    cent = q.join(F.broadcast(mu), "flag").select(
        "flag", "n", "mu_e3",
        (F.col("q") * 1000 - F.col("mu_e3")).cast(dec).alias("z"),
    )
    pw = cent.groupBy("flag").agg(
        F.max("n").alias("n"),
        F.max("mu_e3").alias("mu_e3"),
        F.expr("SUM(z * z) div MAX(n)").alias("m2q"),
        F.expr("ABS(SUM(z * z * z)) div MAX(n)").alias("m3a"),
        F.expr("SUM(z * z * z * z) div MAX(n)").alias("m4q"),
    )
    stats = pw.select(
        "flag", "n", "mu_e3",
        F.expr(
            "(CAST(m3a AS DECIMAL(38,0)) * m3a * 1000000000)"
            " div (CAST(m2q AS DECIMAL(38,0)) * m2q * m2q)"
        ).alias("skew2_e9"),
        F.expr(
            "(CAST(m4q AS DECIMAL(38,0)) * 1000000000)"
            " div (CAST(m2q AS DECIMAL(38,0)) * m2q) - 3000000000"
        ).alias("kurt_e9"),
    )
    return stats.select(
        F.col("flag").alias("l_returnflag"),
        F.col("n").cast("long").alias("n_rows"),
        F.col("mu_e3").cast("long").alias("mean_qty_e3"),
        F.col("skew2_e9").cast("long").alias("skew2_e9"),
        F.col("kurt_e9").cast("long").alias("kurt_excess_e9"),
        F.expr(
            "CAST((n * (skew2_e9 + (CAST(kurt_e9 AS DECIMAL(38,0)) * kurt_e9)"
            " div 4000000000)) div 6000 AS BIGINT)"
        ).alias("jb_e6"),
    )


# --- Huber M-estimator via fixed-point IRLS (round 9) --------------------------
HUBER_K_CENTS = 5_000_000  # $50k tuning constant on o_totalprice cents
HUBER_W1 = 1 << 20         # dyadic fixed-point weight denominator
HUBER_ITERS = 3


def _huber_stage_sql(i: int) -> str:
    return f"""
    it{i} AS (
        SELECT n, {", ".join(f"m{j}" for j in range(i))},
               SUM(CASE WHEN ABS(x - m{i - 1}) <= {HUBER_K_CENTS}
                        THEN CAST({HUBER_W1} AS HUGEINT)
                        ELSE CAST({HUBER_K_CENTS} AS HUGEINT) * {HUBER_W1}
                             // ABS(x - m{i - 1}) END
                   * x)
               // SUM(CASE WHEN ABS(x - m{i - 1}) <= {HUBER_K_CENTS}
                           THEN CAST({HUBER_W1} AS HUGEINT)
                           ELSE CAST({HUBER_K_CENTS} AS HUGEINT) * {HUBER_W1}
                                // ABS(x - m{i - 1}) END) AS m{i}
        FROM base CROSS JOIN it{i - 1}
        GROUP BY n, {", ".join(f"m{j}" for j in range(i))}
    )"""


@register(
    "huber_m_estimator_irls",
    oracle=f"""
    WITH base AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x FROM orders
    ),
    it0 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) // COUNT(*) AS m0
        FROM base
    ),
    {", ".join(_huber_stage_sql(i) for i in range(1, HUBER_ITERS + 1))}
    SELECT n AS n_orders,
           {", ".join(f"CAST(m{i} AS BIGINT) AS m{i}_cents" for i in range(HUBER_ITERS + 1))},
           CAST(m{HUBER_ITERS} AS DOUBLE) / 100.0 AS huber_mean_dollars
    FROM it{HUBER_ITERS}
    """,
    tags=("statistics", "robust", "huber", "irls", "iterative"),
)
def huber_m_estimator_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of the mean order price (Huber 1964) by
    {HUBER_ITERS} unrolled IRLS steps: start at the plain mean, then
    re-weight each order by min(1, k/|x - m|) and take the weighted
    mean — the robust location estimate that, unlike winsorized_mean's
    hard quantile clip, downweights outliers smoothly and needs no
    global sort at all. Weights are dyadic fixed-point INTEGERS
    (2^20, or k*2^20 truncated by the residual), so each step is one
    exact SUM(w*x)//SUM(w) — no float accumulates, both engines
    truncate identically, and the iterate sequence m0..m{HUBER_ITERS}
    is pinned in the output for auditability.

    Scale (100 TB): {HUBER_ITERS}+1 map-side-combinable corpus scans,
    each against a broadcast 1-row scalar — the textbook
    fixed-iteration-count reduction (pagerank_3iter's contract), no
    window, no shuffle beyond each scan's 1-row aggregate. SUM(w*x)
    tops out near 1e24 at 1e12 orders — DECIMAL(38,0) headroom."""
    base = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x")
    )
    cur = base.agg(
        F.count("*").cast("long").alias("n"),
        F.expr("CAST(SUM(x) AS BIGINT) div COUNT(*)").alias("m0"),
    )
    for i in range(1, HUBER_ITERS + 1):
        w = (
            f"CASE WHEN ABS(x - m{i - 1}) <= {HUBER_K_CENTS}"
            f" THEN CAST({HUBER_W1} AS DECIMAL(38,0))"
            f" ELSE CAST({HUBER_K_CENTS} AS DECIMAL(38,0)) * {HUBER_W1}"
            f" div ABS(x - m{i - 1}) END"
        )
        keep = ["n"] + [f"m{j}" for j in range(i)]
        cur = (
            base.crossJoin(F.broadcast(cur))
            .groupBy(*keep)
            .agg(F.expr(f"SUM({w} * x) div SUM({w})").alias(f"m{i}"))
        )
    return cur.select(
        F.col("n").alias("n_orders"),
        *[
            F.col(f"m{i}").cast("long").alias(f"m{i}_cents")
            for i in range(HUBER_ITERS + 1)
        ],
        (F.col(f"m{HUBER_ITERS}").cast("double") / 100.0).alias(
            "huber_mean_dollars"
        ),
    )


# --- Goodman-Kruskal gamma (round 9) -------------------------------------------
@register(
    "goodman_kruskal_gamma",
    oracle="""
    WITH cells AS (
        SELECT (CAST(l_quantity AS INTEGER) - 1) // 5 AS qb,
               CAST(ROUND(l_discount * 100) AS INTEGER) AS db,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN a.qb < b.qb AND a.db < b.db
                             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN a.qb < b.qb AND a.db > b.db
                             THEN a.c * b.c ELSE 0 END) AS BIGINT) AS disc
        FROM cells a CROSS JOIN cells b
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells)
    SELECT t.n AS n_rows, p.conc AS concordant, p.disc AS discordant,
           CAST(CAST((p.conc - p.disc) + (p.conc + p.disc) AS HUGEINT)
                * 1000000000
                // (p.conc + p.disc) - 1000000000 AS BIGINT) AS gamma_e9
    FROM pairs p CROSS JOIN tot t
    """,
    tags=("statistics", "ordinal_association", "goodman_kruskal",
          "cross_tab"),
)
def goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma (Goodman & Kruskal 1954) between quantity
    band (5-unit buckets of 1-50) and discount point (0-10): the
    concordance-based ordinal association (C-D)/(C+D) that IGNORES
    ties — the right companion to goodman_kruskal_tau (categorical,
    error-reduction based) and kendall_tau_trend (which pays for ties)
    when both margins are coarse ordered bands and ties dominate.
    Both bucketings are data-independent integer maps, so the corpus
    collapses to a <= 110-cell cross-tab in one partial agg;
    concordant/discordant pair counts are exact integer sums over the
    cell-pair cross join (bounded 110^2), and gamma is emitted as the
    shift-quantized rational ((C-D)+(C+D))*1e9//(C+D) - 1e9 — the
    numerator is non-negative by construction so floor == truncate.

    Scale (100 TB): one corpus scan; everything after is constant-size.
    Pair counts stay in BIGINT up to ~3e9 rows, then would ride
    DECIMAL(38,0) with a div-scaled emission — same shape."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        ((F.col("l_quantity").cast("int") - 1) / 5).cast("int").alias("qb"),
        F.round(F.col("l_discount") * 100).cast("int").alias("db"),
    ).agg(F.count("*").cast("long").alias("c"))
    a = cells.select(
        F.col("qb").alias("qa"), F.col("db").alias("da"), F.col("c").alias("ca")
    )
    b = cells.select(
        F.col("qb").alias("qb2"), F.col("db").alias("db2"), F.col("c").alias("cb")
    )
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("qa") < F.col("qb2")) & (F.col("da") < F.col("db2")),
                F.col("ca") * F.col("cb"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("conc"),
        F.sum(
            F.when(
                (F.col("qa") < F.col("qb2")) & (F.col("da") > F.col("db2")),
                F.col("ca") * F.col("cb"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("disc"),
    )
    tot = cells.agg(F.sum("c").cast("long").alias("n"))
    return pairs.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_rows"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.expr(
            "CAST(((conc - disc) + (conc + disc)) * CAST(1000000000 AS"
            " DECIMAL(38,0)) div (conc + disc) - 1000000000 AS BIGINT)"
        ).alias("gamma_e9"),
    )


# --- Mann-Kendall trend test (round 10) -----------------------------------------
@register(
    "mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
                 AS v
      FROM lineitem GROUP BY 1),
    s_tbl AS (
      SELECT CAST(SUM(CASE WHEN b.v > a.v THEN 1
                           WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM daily a JOIN daily b ON a.d < b.d),
    ties AS (
      SELECT CAST(COALESCE(SUM(t*(t-1)*(2*t+5)), 0) AS BIGINT) AS tt
      FROM (SELECT COUNT(*) AS t FROM daily GROUP BY v)),
    n_tbl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily)
    SELECT n, s, n_pairs,
      CAST(n*(n-1)*(2*n+5) - tt AS DOUBLE)/18.0 AS var_s,
      CASE WHEN s > 0 THEN CAST(s-1 AS DOUBLE)
                / SQRT(CAST(n*(n-1)*(2*n+5) - tt AS DOUBLE)/18.0)
           WHEN s < 0 THEN CAST(s+1 AS DOUBLE)
                / SQRT(CAST(n*(n-1)*(2*n+5) - tt AS DOUBLE)/18.0)
           ELSE 0.0 END AS z_mk
    FROM s_tbl CROSS JOIN n_tbl CROSS JOIN ties
    """,
    tags=("statistics", "trend", "mann_kendall", "nonparametric",
          "time_series"),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (Mann 1945; Kendall 1975) on daily
    revenue: S = Σ_{i<j} sign(x_j − x_i) with the tie-corrected normal
    approximation Z = (S∓1)/√Var — the nonparametric 'is this series
    drifting' answer that, unlike the OLS slope t-test
    (rolling_ols_slope), needs no residual-normality assumption and
    shrugs off the revenue spikes that wreck least squares. Kendall's
    tau cousin (kendall_tau_trend) correlates two columns; this tests
    ONE series against time itself.

    Scale (100 TB): the only corpus-sized stage is the map-side-
    combinable daily rollup; the pairwise stage self-joins the
    CALENDAR-grain table — days², independent of row count (the
    hodges_lehmann bound) — and S, the tie term and n are exact
    integers folded into one fixed-order double formula, so the
    statistic value-hashes across engines."""
    daily = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_shipdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    a = daily.select(F.col("d").alias("d1"), F.col("v").alias("v1"))
    b = daily.select(F.col("d").alias("d2"), F.col("v").alias("v2"))
    s_tbl = a.join(b, F.col("d1") < F.col("d2")).agg(
        F.sum(F.signum(F.col("v2") - F.col("v1")).cast("long"))
        .cast("long")
        .alias("s"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    ties = (
        daily.groupBy("v")
        .agg(F.count("*").cast("long").alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tt")
        )
    )
    n_tbl = daily.agg(F.count("*").cast("long").alias("n"))
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tt")
    ).cast("double") / 18.0
    return (
        s_tbl.crossJoin(F.broadcast(n_tbl))
        .crossJoin(F.broadcast(ties))
        .select(
            "n",
            "s",
            "n_pairs",
            var_s.alias("var_s"),
            F.when(F.col("s") > 0, (F.col("s") - 1).cast("double") / F.sqrt(var_s))
            .when(F.col("s") < 0, (F.col("s") + 1).cast("double") / F.sqrt(var_s))
            .otherwise(F.lit(0.0))
            .alias("z_mk"),
        )
    )


# --- Cochran-Armitage trend test (round 10) -------------------------------------
CA_HIGH_VALUE_CENTS = 30_000_000  # "high-value order": total > $300k


@register(
    "cochran_armitage_trend",
    oracle=f"""
    WITH g AS (
      SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS w,
             CAST(COUNT(*) AS BIGINT) AS n_i,
             CAST(SUM(CASE WHEN CAST(ROUND(o_totalprice*100) AS BIGINT)
                                > {CA_HIGH_VALUE_CENTS}
                           THEN 1 ELSE 0 END) AS BIGINT) AS r_i
      FROM orders GROUP BY 1),
    t AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS nn, CAST(SUM(r_i) AS BIGINT) AS rr,
             CAST(SUM(w*n_i) AS BIGINT) AS swn,
             CAST(SUM(w*r_i) AS BIGINT) AS swr,
             CAST(SUM(w*w*n_i) AS BIGINT) AS swwn
      FROM g)
    SELECT nn AS n_orders, rr AS n_high_value,
      CAST(CAST(nn AS HUGEINT)*swr - CAST(rr AS HUGEINT)*swn AS DOUBLE)
        / SQRT(CAST(CAST(rr AS HUGEINT)*(nn-rr)
                    * (CAST(nn AS HUGEINT)*swwn
                       - CAST(swn AS HUGEINT)*swn) AS DOUBLE)
               / CAST(nn AS DOUBLE)) AS z_trend
    FROM t
    """,
    tags=("statistics", "trend", "cochran_armitage", "categorical",
          "ab_testing"),
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for trend (Cochran 1954; Armitage 1955):
    does the high-value-order RATE rise monotonically across the five
    ORDERED priority classes (score w = the priority's leading digit)?
    The chi-square independence test (chi_square_independence) asks
    'any association at all'; this one spends its single degree of
    freedom on the ordered alternative, which is the question dose-
    response, severity-tier and funnel-stage data actually pose.
    Z = (N·Σwr − R·Σwn) / √(R(N−R)(N·Σw²n − (Σwn)²)/N) — five exact
    integer sufficient statistics, one fixed-order double formula.

    Scale (100 TB): one map-side-combinable groupBy to 5 rows, one
    global fold. Nothing else."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("w")
        )
        .agg(
            F.count("*").cast("long").alias("n_i"),
            F.sum(
                F.when(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                    > CA_HIGH_VALUE_CENTS,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("r_i"),
        )
    )
    dec = "decimal(38,0)"
    t = g.agg(
        F.sum("n_i").cast("long").alias("nn"),
        F.sum("r_i").cast("long").alias("rr"),
        F.sum(F.col("w") * F.col("n_i")).cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("r_i")).cast("long").alias("swr"),
        F.sum(F.col("w") * F.col("w") * F.col("n_i")).cast("long").alias("swwn"),
    )
    num = (
        F.col("nn").cast(dec) * F.col("swr")
        - F.col("rr").cast(dec) * F.col("swn")
    ).cast("double")
    den = F.sqrt(
        (
            F.col("rr").cast(dec)
            * (F.col("nn") - F.col("rr"))
            * (
                F.col("nn").cast(dec) * F.col("swwn")
                - F.col("swn").cast(dec) * F.col("swn")
            )
        ).cast("double")
        / F.col("nn").cast("double")
    )
    return t.select(
        F.col("nn").alias("n_orders"),
        F.col("rr").alias("n_high_value"),
        (num / den).alias("z_trend"),
    )


# --- SAX symbolization of per-nation monthly revenue (round 10) -------------------
# Breakpoints for a 4-symbol alphabet: the quartiles of N(0,1). Literal
# constants so both engines compare against the identical double.
SAX_BREAKS = (-0.6745, 0.0, 0.6745)


@register(
    "sax_symbolization",
    oracle=f"""
    WITH m AS (
      SELECT n.n_name AS n_name,
             (date_part('year', o.o_orderdate) - 1996) * 12
               + date_part('month', o.o_orderdate) AS m,
             CAST(SUM(CAST(ROUND(o.o_totalprice*100) AS BIGINT)) AS BIGINT)
                 AS v
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_orderdate >= DATE '{TS_START}'
      GROUP BY 1, 2),
    st AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s,
             CAST(SUM(CAST(v AS HUGEINT)*v) AS HUGEINT) AS sxx
      FROM m GROUP BY 1),
    z AS (
      SELECT m.n_name, m.m, st.n,
             CAST(CAST(st.n AS HUGEINT)*m.v - st.s AS DOUBLE)
               / SQRT(CAST(CAST(st.n AS HUGEINT)*st.sxx
                           - CAST(st.s AS HUGEINT)*st.s AS DOUBLE)) AS z
      FROM m JOIN st ON m.n_name = st.n_name),
    sym AS (
      SELECT n_name, m, n,
             CASE WHEN z < {SAX_BREAKS[0]} THEN 'a'
                  WHEN z < {SAX_BREAKS[1]} THEN 'b'
                  WHEN z < {SAX_BREAKS[2]} THEN 'c'
                  ELSE 'd' END AS sym
      FROM z)
    SELECT n_name, CAST(MAX(n) AS BIGINT) AS n_months,
           STRING_AGG(sym, '' ORDER BY m) AS sax
    FROM sym GROUP BY n_name
    """,
    tags=("statistics", "time_series", "sax", "symbolic", "text_analysis"),
)
def sax_symbolization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX — Symbolic Aggregate approXimation (Lin, Keogh et al. 2003)
    — of each nation's monthly-revenue series: z-normalize per nation
    and quantize into a 4-letter alphabet at the N(0,1) quartile
    breakpoints, emitting one motif STRING per nation. SAX is the
    standard bridge from numeric series to text-domain tooling —
    motif/anomaly discovery, suffix indexing, the dedup layer's
    shingle machinery — at 1 byte per month instead of 8.

    Determinism: z = (n·v − S)/√(n·Sxx − S²) — integer numerator,
    integer radicand (the monthly rollup is exact cents), ONE double
    division per month, so both engines quantize identical doubles
    against identical literal breakpoints; the per-nation string is
    assembled in explicit month order on both sides.

    Scale (100 TB): one map-side-combinable rollup to nation×month
    grain (calendar-bounded), one 25-row stats join, no windows."""
    m = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(TS_START).cast("date"))
        .join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_nationkey"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - 1996) * 12 + F.month("o_orderdate")
            ).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    dec = "decimal(38,0)"
    st = m.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum((F.col("v").cast(dec) * F.col("v")).cast(dec)).cast(dec).alias("sxx"),
    )
    z = m.join(st, "n_name").select(
        "n_name",
        "m",
        "n",
        (
            (F.col("n").cast(dec) * F.col("v") - F.col("s")).cast("double")
            / F.sqrt(
                (
                    F.col("n").cast(dec) * F.col("sxx")
                    - F.col("s").cast(dec) * F.col("s")
                ).cast("double")
            )
        ).alias("z"),
    )
    sym = z.select(
        "n_name",
        "m",
        "n",
        F.when(F.col("z") < SAX_BREAKS[0], "a")
        .when(F.col("z") < SAX_BREAKS[1], "b")
        .when(F.col("z") < SAX_BREAKS[2], "c")
        .otherwise("d")
        .alias("sym"),
    )
    return sym.groupBy("n_name").agg(
        F.max("n").cast("long").alias("n_months"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "sym"))),
                lambda s: s["sym"],
            ),
            "",
        ).alias("sax"),
    )


# --- rank-biased overlap of two supplier rankings (round 10) ---------------------
RBO_K = 10
RBO_P = 0.9
# w_d = (1-p)·p^(d-1) = 9^(d-1)/10^d is RATIONAL, so the whole weighted
# sum folds in exact integers: with L = lcm(1..k) = 2520 and the common
# denominator L·10^k, term d contributes A_d · c_d where
# c_d = 9^(d-1) · 10^(k-d) · (L/d). Precomputed once in Python and
# embedded as the SAME integer literals in both engines — one double
# division at the very end, no cross-engine pow() or float-sum order.
RBO_LCM = 2520
RBO_COEFFS = tuple(
    9 ** (d - 1) * 10 ** (RBO_K - d) * (RBO_LCM // d)
    for d in range(1, RBO_K + 1)
)
RBO_DEN = RBO_LCM * 10 ** RBO_K


@register(
    "rank_biased_overlap",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
                 AS rev
      FROM lineitem GROUP BY 1),
    cnt AS (
      SELECT l_suppkey, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM lineitem GROUP BY 1),
    ra AS (SELECT l_suppkey, ROW_NUMBER() OVER (ORDER BY rev DESC, l_suppkey)
                  AS r FROM rev QUALIFY r <= {RBO_K}),
    rb AS (SELECT l_suppkey, ROW_NUMBER() OVER (ORDER BY n_orders DESC,
                  l_suppkey) AS r FROM cnt QUALIFY r <= {RBO_K}),
    matched AS (
      SELECT GREATEST(ra.r, rb.r) AS dmin
      FROM ra JOIN rb USING (l_suppkey)),
    spine AS (SELECT unnest(range(1, {RBO_K} + 1)) AS depth),
    agree AS (
      SELECT s.depth,
             CAST(COALESCE(SUM(CASE WHEN m.dmin <= s.depth THEN 1 END), 0)
                  AS BIGINT) AS a_d
      FROM spine s LEFT JOIN matched m ON m.dmin <= s.depth
      GROUP BY s.depth),
    w(depth, c) AS (VALUES {", ".join(f"({d}, {c})" for d, c in enumerate(RBO_COEFFS, 1))})
    SELECT {RBO_K} AS k,
           CAST(MAX(CASE WHEN a.depth = {RBO_K} THEN a.a_d END) AS BIGINT)
               AS overlap_at_k,
           CAST(SUM(CAST(a.a_d AS HUGEINT) * w.c) AS DOUBLE)
               / {RBO_DEN}.0 AS rbo
    FROM agree a JOIN w ON w.depth = a.depth
    """,
    tags=("statistics", "ranking", "rbo", "ml_eval", "bounded_window"),
)
def rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010), top-
    weighted and truncated at k={RBO_K}, between two supplier rankings:
    by revenue vs by distinct-order count. RBO is the ranking-
    comparison measure built for INDEFINITE lists — unlike Kendall's
    tau (kendall_tau_trend) it weights agreement geometrically toward
    the top, which is what search/retrieval/feed comparisons actually
    need, and it is the standard regression check when a ranker
    changes ('did the head of the list move?').

    Determinism: the geometric weights are rational, so the weighted
    sum is ONE exact integer fold (precomputed literal coefficients
    over the common denominator lcm(1..k)·10^k) finished by a single
    double division — order-independent and engine-identical.

    bounded_window: the two ROW_NUMBER rankings run over TakeOrdered
    {RBO_K}-row pools (orderBy+limit), never over the supplier table.

    Scale (100 TB): two map-side-combinable supplier rollups, two
    per-partition top-k heaps (TakeOrderedAndProject), then constant-
    size work."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_extendedprice"
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    cnt = li.groupBy("l_suppkey").agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    ra = (
        rev.orderBy(F.col("rev").desc(), "l_suppkey")
        .limit(RBO_K)
        .select(
            "l_suppkey",
            F.row_number()
            .over(W.orderBy(F.col("rev").desc(), "l_suppkey"))
            .alias("ra"),
        )
    )
    rb = (
        cnt.orderBy(F.col("n_orders").desc(), "l_suppkey")
        .limit(RBO_K)
        .select(
            "l_suppkey",
            F.row_number()
            .over(W.orderBy(F.col("n_orders").desc(), "l_suppkey"))
            .alias("rb"),
        )
    )
    matched = ra.join(rb, "l_suppkey").select(
        F.greatest("ra", "rb").alias("dmin")
    )
    spine = spark.range(1, RBO_K + 1).select(F.col("id").alias("depth"))
    agree = (
        spine.join(matched, F.col("dmin") <= F.col("depth"), "left")
        .groupBy("depth")
        .agg(F.count("dmin").cast("long").alias("a_d"))
    )
    coeff = F.element_at(
        F.array(*[F.lit(c).cast("decimal(38,0)") for c in RBO_COEFFS]),
        F.col("depth").cast("int"),
    )
    return agree.agg(
        F.lit(RBO_K).cast("int").alias("k"),
        F.max(F.when(F.col("depth") == RBO_K, F.col("a_d")))
        .cast("long")
        .alias("overlap_at_k"),
        (
            F.sum(coeff * F.col("a_d")).cast("double") / float(RBO_DEN)
        ).alias("rbo"),
    )


# --- OLS influence diagnostics (round 10) -----------------------------------

_COOKS_TOP = 3  # most-influential months reported per nation
# Literal month-index epoch: year*12+month sits near 23,904..23,988 for
# the fixtures' 1992-1998 span, so centering by 23,900 keeps the
# regressor in [0, ~90]. The regression is translation-invariant
# (slope, leverage and residuals are unchanged in exact arithmetic),
# and the small regressor keeps n*sxy - sx*sy inside exact wide-integer
# range (HUGEINT / DECIMAL(38,0)) until nation-month revenue passes
# ~1e32 cents -- astronomically past 100 TB (round-10 advice: the
# uncentered BIGINT sxy overflowed near SF ~35k).
_COOKS_EPOCH = 23_900


@register(
    "cooks_distance_influence",
    oracle=f"""
    WITH m AS (
        SELECT c_nationkey AS nationkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate)
                    - {_COOKS_EPOCH} AS BIGINT) AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) * 100
                    AS BIGINT) AS y
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY 1, 2
    ),
    s AS (
        SELECT nationkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx,
               SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(x * x) AS sxx,
               SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
        FROM m GROUP BY 1
    ),
    f AS (
        SELECT m.nationkey, m.x, m.y, s.n,
               s.n * s.sxx - s.sx * s.sx AS sxx_n,
               CAST(CAST(s.n AS HUGEINT) * s.sxy
                    - CAST(s.sx AS HUGEINT) * s.sy AS DOUBLE)
                   / CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE) AS slope,
               s.sx, s.sy
        FROM m JOIN s ON s.nationkey = m.nationkey
        WHERE s.n >= 3
    ),
    r0 AS (
        SELECT nationkey, x, n, sxx_n,
               sxx_n + (n * x - sx) * (n * x - sx) AS hnum,
               n * sxx_n AS hden,
               CAST(y AS DOUBLE) - slope * CAST(x AS DOUBLE)
                   - (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE) AS e_d
        FROM f
    ),
    r AS (
        SELECT nationkey, x, n, hnum, hden,
               CASE WHEN MAX(ABS(e_d)) OVER (PARTITION BY nationkey) > 0
                    THEN CAST(FLOOR(
                        (e_d / MAX(ABS(e_d)) OVER (PARTITION BY nationkey))
                        * (e_d / MAX(ABS(e_d)) OVER (PARTITION BY nationkey))
                        * 1000000000000.0) AS BIGINT)
                    ELSE 0 END AS sq
        FROM r0
    ),
    g AS (
        SELECT nationkey, x, n, hnum, hden, sq,
               SUM(sq) OVER (PARTITION BY nationkey) AS sse
        FROM r
    ),
    d AS (
        SELECT nationkey, x,
               CAST(hnum * 1000000 // hden AS BIGINT) AS leverage_e6,
               CAST(FLOOR(
                   CAST(sq AS DOUBLE) * CAST(hnum AS DOUBLE)
                   * CAST(hden AS DOUBLE) * CAST(n - 2 AS DOUBLE)
                   * 1000000.0
                   / (2.0 * CAST(sse AS DOUBLE)
                      * CAST(hden - hnum AS DOUBLE)
                      * CAST(hden - hnum AS DOUBLE))
               ) AS BIGINT) AS cooks_e6
        FROM g WHERE sse > 0
    )
    SELECT nationkey, x + {_COOKS_EPOCH} AS month_x, leverage_e6, cooks_e6,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY nationkey
                                     ORDER BY cooks_e6 DESC, x) AS rnk
        FROM d
    ) WHERE rnk <= {_COOKS_TOP}
    """,
    tags=("statistics", "regression", "influence", "outlier"),
)
def cooks_distance_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance (Cook 1977) per nation-month revenue trend: for
    the simple OLS of monthly revenue on month index, D_i measures how
    much the fitted line moves if month i is deleted — D_i =
    e_i^2/(p*s^2) * h_i/(1-h_i)^2 with leverage h_i = 1/n +
    (x_i-xbar)^2/Sxx. The top-{_COOKS_TOP} months per nation are the
    observations that DOMINATE the trend estimate — the influence
    audit that complements ols_trend_per_group (fit), theil_sen_slope
    (robust fit) and huber_m_estimator_irls (robust weights): those
    tell you the trend, this tells you which rows to distrust before
    believing it. Arithmetic discipline (tightened per the round-10
    advice): the month index is CENTERED by the literal epoch
    {_COOKS_EPOCH} (translation-invariant regression, regressor in
    [0, ~90]), and the y-moments accumulate in exact 128-bit-class
    integers (Spark DECIMAL(38,0) / DuckDB HUGEINT), so the slope
    numerator n*Sxy - Sx*Sy stays exact until nation-month revenue
    passes ~1e32 cents; h_i is the exact integer rational
    (Sxx_n + (n*x_i - Sx)^2) / (n*Sxx_n); residuals run through one
    fixed double op tree, are NORMALIZED by the per-nation max |e|
    and floor-quantized at 1e-12 RELATIVE resolution — sq is in
    [0, 1e12] and SSE <= n*1e12 at ANY corpus magnitude (the previous
    absolute 1e-4 quantization saturated BIGINT past residuals of
    ~3e11 cents); D_i is one deterministic double expression over
    those integers, floored to 1e-6 — every division happens in the
    same order in both engines (the simplified_silhouette /
    mahalanobis idiom).

    Scale (100 TB): one orders->customer join (AQE decides the
    strategy), a (nation, month) rollup — the aggregate is
    calendar x dimension grain, so every later stage is tiny — a
    per-nation stats join back, and nation-partitioned windows.
    Nothing corpus-grain past the first aggregate; no hints."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    m = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            (
                F.year("o_orderdate") * 12
                + F.month("o_orderdate")
                - F.lit(_COOKS_EPOCH)
            )
            .cast("long")
            .alias("x"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(20,2)")) * 100)
            .cast("long")
            .alias("y")
        )
    )
    dec = "decimal(38,0)"
    s = m.groupBy("nationkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).alias("sxy"),
    )
    f = (
        m.join(s, "nationkey")
        .filter(F.col("n") >= 3)
        .withColumn("sxx_n", F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .withColumn(
            "slope",
            (
                F.col("n").cast(dec) * F.col("sxy")
                - F.col("sx").cast(dec) * F.col("sy")
            ).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        )
    )
    e_d = (
        F.col("y").cast("double")
        - F.col("slope") * F.col("x").cast("double")
        - (F.col("sy").cast("double") - F.col("slope") * F.col("sx").cast("double"))
        / F.col("n").cast("double")
    )
    r0 = f.select(
        "nationkey",
        "x",
        "n",
        "sxx_n",
        (
            F.col("sxx_n")
            + (F.col("n") * F.col("x") - F.col("sx"))
            * (F.col("n") * F.col("x") - F.col("sx"))
        ).alias("hnum"),
        (F.col("n") * F.col("sxx_n")).alias("hden"),
        e_d.alias("e_d"),
    )
    maxe = F.max(F.abs(F.col("e_d"))).over(W.partitionBy("nationkey"))
    r = r0.select(
        "nationkey",
        "x",
        "n",
        "hnum",
        "hden",
        F.when(
            maxe > 0,
            F.floor(
                (F.col("e_d") / maxe)
                * (F.col("e_d") / maxe)
                * F.lit(1000000000000.0)
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("sq"),
    )
    g = r.withColumn("sse", F.sum("sq").over(W.partitionBy("nationkey")))
    cooks = (
        F.col("sq").cast("double")
        * F.col("hnum").cast("double")
        * F.col("hden").cast("double")
        * (F.col("n") - 2).cast("double")
        * F.lit(1000000.0)
        / (
            F.lit(2.0)
            * F.col("sse").cast("double")
            * (F.col("hden") - F.col("hnum")).cast("double")
            * (F.col("hden") - F.col("hnum")).cast("double")
        )
    )
    d = g.filter(F.col("sse") > 0).select(
        "nationkey",
        "x",
        F.expr("hnum * 1000000 div hden").alias("leverage_e6"),
        F.floor(cooks).cast("long").alias("cooks_e6"),
    )
    w = W.partitionBy("nationkey").orderBy(F.col("cooks_e6").desc(), "x")
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _COOKS_TOP)
        .select(
            "nationkey",
            (F.col("x") + F.lit(_COOKS_EPOCH)).alias("month_x"),
            "leverage_e6",
            "cooks_e6",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
