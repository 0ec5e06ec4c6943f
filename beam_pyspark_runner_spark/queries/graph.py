"""Graph analytics on relational data: co-occurrence graphs, PageRank.

The reference cannot express iterative dataflow at all (its DAG is a
single pass over ``transform_evaluators.py`` with no loop construct);
``dedup.py`` already demonstrates iterative min-label propagation for
connected components. This module adds the float-iteration counterpart:
weighted PageRank with unrolled power iterations, every per-iteration
aggregation order-stabilized through exact decimal accumulation
(functions/numeric.py rationale) so the result is bit-identical to the
DuckDB oracle regardless of partitioning.

Scale notes (100 TB): the edge build is one self-join per fact grouped
to an edge list whose size is bounded by co-occurrence fan-out, not by
input rows; each iteration is one join of the edge list against the
rank vector plus one partial-aggregated groupBy — rank vectors are
node-cardinality (small relative to edges) and broadcastable. For
unbounded iteration counts use the dedup_components loop pattern
(checkpoint + convergence test); unrolling 3 here keeps the whole plan
declarative for Catalyst.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from beam_pyspark_runner_spark.plans.audit import checkpoint_audited
from beam_pyspark_runner_spark.plans.fixpoint import fixpoint
from beam_pyspark_runner_spark.queries.registry import register
from beam_pyspark_runner_spark.session import scoped_conf
from beam_pyspark_runner_spark.sources.readers import load_table, parquet_rowcount

DAMPING = 0.85
BASE = 0.15

# Exact-decimal accumulate (see functions/numeric.py): contributions are
# cast to DECIMAL(38,10) and summed exactly. The sum converts STRAIGHT to
# double with NO intermediate downscale: DuckDB truncates decimal->decimal
# scale reductions while Spark rounds half-up, so any lossy re-round
# diverges; the direct conversion is a single correctly-rounded step in
# both engines as long as the unscaled value stays < 2^53 (rank mass is
# bounded by node count: fine below ~8e5 nodes; beyond that, drop to a
# coarser accumulator scale).
_ACC = "decimal(38,10)"


def _dsum_exact(col: Column) -> Column:
    return F.sum(col.cast(_ACC)).cast("double")


_STRIDE_LOG = 4  # jump-table doubling levels → stride = 2**4 = 16 hops/round


def _jump_table(
    edges: DataFrame, *, weight: str | None = None, longest: bool = False
) -> DataFrame:
    """Min-plus JUMP TABLE over a fixture-bounded graph: (src, dst, d)
    with d = cheapest path of ≤ 2**_STRIDE_LOG edges (hop count when
    ``weight`` is None, else summed edge weight). A loop round that
    walks this table advances 2**_STRIDE_LOG hops, so rounds (and their
    driver jobs) drop by that factor.

    Exactness: each level is J_{2s} = min(J_s, J_s ∘ J_s) — min-plus
    matrix squaring — so J_k(u, v) is the exact cheapest path among
    paths of ≤ k edges.

    Boundedness (the _narrow_shuffle contract): the table is a prefix
    of the transitive closure of the ≤``_BFS_N``-node fixture graph, so
    ≤ _BFS_N² rows; at data-scaled |V| it is O(|V|·reach₁₆).

    ``longest=True`` flips the semiring to MAX-plus: d = the LONGEST
    path of ≤ 2**_STRIDE_LOG edges. Sound ONLY on acyclic graphs (on a
    DAG every walk is a path; on a cyclic graph the squaring diverges)."""
    agg = F.max if longest else F.min
    w = (F.col(weight) if weight else F.lit(1)).cast("long")
    j = checkpoint_audited(
        edges.select("src", "dst", w.alias("d"))
        .groupBy("src", "dst")
        .agg(agg("d").alias("d"))
    )
    for _ in range(_STRIDE_LOG):
        comp = (
            j.alias("a")
            .join(j.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
                (F.col("a.d") + F.col("b.d")).alias("d"),
            )
        )
        j = checkpoint_audited(
            j.unionAll(comp).groupBy("src", "dst").agg(agg("d").alias("d"))
        )
    return j


def _narrow_shuffle(spark: SparkSession, *, state_rows: int,
                    rows_per_partition: int = 1_000_000):
    """Conf scope for a BOUNDED-state loop: shuffle width
    ceil(state_rows / rows_per_partition) and AQE off, both restored on
    exit. A loop whose per-round state is capped by the fixture graph
    has nothing for AQE to coalesce or split, and at the session width
    its rounds pay for near-empty tasks.

    ``state_rows`` must be a provable upper bound on the loop's
    per-round state rows, so the width grows with the bound instead of
    serializing a data-scaled loop. Neither width nor AQE changes
    results.

    The conf is session-global: hold the scope around the loop only.
    A caller running loops concurrently (scc's two passes) holds ONE
    scope around all of them — a scope per loop would restore the
    session width under the loop still running."""
    parts = max(1, -(-state_rows // rows_per_partition))
    return scoped_conf(spark, {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.adaptive.enabled": "false",
    })


_EDGE_SQL = """
    li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    edges AS (
        SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
        GROUP BY 1, 2
    ),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
    e AS (
        SELECT src, dst, CAST(w AS DOUBLE) / CAST(ow AS DOUBLE) AS frac
        FROM edges JOIN outw USING (src)
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges)
"""


def _iter_sql(prev: str, curr: str) -> str:
    return f"""
    {curr} AS (
        SELECT n.node,
               0.15 + 0.85 * CAST(COALESCE(
                   SUM(CAST(e.frac * p.r AS DECIMAL(38,10))),
                   0) AS DOUBLE) AS r
        FROM nodes n
        LEFT JOIN e ON e.dst = n.node
        LEFT JOIN {prev} p ON p.node = e.src
        GROUP BY n.node
    )"""


@register(
    "pagerank_3iter",
    bench=True,
    oracle=f"""
    WITH {_EDGE_SQL},
    r0 AS (SELECT node, 1.0 AS r FROM nodes),
    {_iter_sql('r0', 'r1')},
    {_iter_sql('r1', 'r2')},
    {_iter_sql('r2', 'r3')}
    SELECT node AS supplier, r AS pagerank FROM r3
    """,
    tags=("graph", "pagerank", "iterative", "self_join",
          "bounded_broadcast"),
)
def pagerank_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the supplier co-occurrence graph (suppliers
    that fulfil lineitems of the same order are linked; edge weight =
    co-occurring order count), three power iterations unrolled.

    Plan shape: the edge list is built once (self-join bounded by
    per-order fan-out), out-degree normalization is one partial agg, and
    each iteration joins the rank vector into the edge list followed by
    one groupBy(dst) — the canonical distributed PageRank step. The rank
    vector is broadcast only while the node count stays under
    ``spark.graft.pagerank.broadcastNodes`` (default 10M ≈ 160 MB
    payload); above that the join falls back to a shuffle, which is the
    correct plan for billion-node graphs. Dangling-node mass is dropped
    (simplified variant) identically in both engines.

    bounded_broadcast: the rank-vector hint is SIZE-GATED — applied
    only while the parquet-metadata node upper bound stays under
    ``spark.graft.pagerank.broadcastNodes`` (shuffle join beyond;
    negative-tested at test_scale_patterns). The plan audit sees the
    hint at test scale but cannot see the gate, hence the tag."""
    # Broadcast gate: the rank vector has one (long, double) row per node
    # (~16 B each); broadcasting is the right plan until node count makes
    # the broadcast payload executor-hostile (billion-node graphs). The
    # node set is a subset of suppliers, so the supplier table's parquet
    # row count — a metadata-only action, no data scan — is a free upper
    # bound. Threshold ~10M nodes ≈ 160 MB payload; tune via conf.
    threshold = int(
        spark.conf.get("spark.graft.pagerank.broadcastNodes", "10000000")
    )
    node_upper_bound = parquet_rowcount(spark, sf_dir, "supplier")
    rank_hint = F.broadcast if node_upper_bound <= threshold else (lambda df: df)

    # Edge build without a self-join (the minhash_lsh pattern): group per
    # order, expand ordered pairs in-group with higher-order functions,
    # then count. One groupBy shuffle replaces distinct+self-join — ~15%
    # faster here and strictly fewer shuffles at scale. The quadratic
    # in-group expansion is bounded by per-order supplier fan-out (≤ the
    # order's line count), not by graph size.
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Hash-repartition on the groupBy key BEFORE the set aggregation
    # (round-13, guide §2.2/§2.3): collect_set is a no-reduction
    # aggregate — every supplier element survives into the shuffle, and
    # per-order rows scatter across map tasks at scale, so the map-side
    # partial pass reduces (almost) nothing while the single-row-group
    # fixture pins that partial set-build onto the scan's ONE task. The
    # explicit exchange carries the same compact (orderkey, suppkey)
    # rows the partial would have shipped inside its sets, satisfies the
    # groupBy's distribution (no second exchange), and lets the set
    # build run at full width. A/B min-of-6 at sf0.1: 1.86 -> 1.49 s.
    # Results are unaffected: the pair expansion below consumes the SET
    # (order-insensitive), and every downstream op is an aggregation.
    # Width note (round-13 ADVICE): numPartitions is deliberately
    # omitted so AQE sizes the exchange; how far AQE re-coalesces it is
    # bounded below by the session's coalescePartitions.minPartitionSize
    # floor (session.py). A deployment overriding
    # SPARK_GRAFT_AQE_MIN_PARTITION back to the stock 1m may see this
    # exchange coalesced narrower (perf-only; results unaffected).
    per_order = li.repartition(F.col("l_orderkey")).groupBy("l_orderkey").agg(
        F.collect_set("l_suppkey").alias("ss")
    )
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, x -> filter("
                "transform(ss, y -> struct(x AS src, y AS dst)), "
                "p -> p.src != p.dst)))"
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    edges = pairs.groupBy("src", "dst").agg(F.count("*").alias("w"))
    outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
    e = edges.join(outw, "src").select(
        "src",
        "dst",
        (F.col("w").cast("double") / F.col("ow").cast("double")).alias("frac"),
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Iteration-invariant reuse: e/nodes appear ~7 times across the
    # unrolled lineage, but NO persist() is needed — Spark's exchange
    # reuse dedups the identical shuffle subtrees at runtime (28
    # ReusedExchange nodes in the executed plan; test_pagerank pins it),
    # so the lineitem self-join physically runs once. Measured: persist
    # is ~15% SLOWER here (cache write cost, zero recompute saved).
    # Shuffle-file reuse holds on real clusters too; for loops deep
    # enough to blow plan size, switch to the dedup_components
    # checkpoint pattern instead.
    ranks = nodes.select("node", F.lit(1.0).alias("r"))
    for _ in range(3):
        contrib = e.join(
            rank_hint(ranks.withColumnRenamed("node", "src")), "src"
        ).select("dst", (F.col("frac") * F.col("r")).alias("term"))
        # Aggregate-before-join (opt guide §2.3): summing term by dst
        # FIRST lets the partial (map-side) aggregate shrink |edges|
        # scored rows to |nodes| partials before any data moves — the
        # previous shape (nodes LEFT JOIN contrib, then groupBy(node))
        # planned the FULL |edges|-row contrib table as the broadcast
        # build side of the left join, i.e. a per-iteration driver
        # collect+rebroadcast of every scored edge. The decimal
        # accumulator is order-insensitive, so regrouping by dst
        # instead of by node after the join is bit-identical (same
        # multiset of terms per node; unmatched nodes see NULL → BASE
        # in both shapes).
        per_dst = contrib.groupBy("dst").agg(
            _dsum_exact(F.col("term")).alias("sum_term")
        )
        ranks = nodes.join(per_dst, nodes.node == per_dst.dst, "left").select(
            "node",
            (
                F.lit(BASE)
                + F.lit(DAMPING) * F.coalesce(F.col("sum_term"), F.lit(0.0))
            ).alias("r"),
        )
    return ranks.select(F.col("node").alias("supplier"), F.col("r").alias("pagerank"))


# The supplier co-occurrence graph is NEARLY COMPLETE at sf0.1
# (453k of the 499.5k possible edges on 1000 nodes), and dense-graph
# triangle counting is inherently n³ — so the query counts on a
# DOULION-sparsified edge set (Tsourakakis et al., KDD'09): keep each
# edge with probability p via a deterministic cross-engine hash; the
# unbiased global-triangle estimator is then count/p³. Sampling is part
# of the registered semantics (the oracle samples identically), and at
# 100 TB it is also the production answer for dense regions.
EDGE_SAMPLE_MOD = 20  # p = 1/20

_PAIR_SQL = f"""
    li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    pairs AS (
        SELECT u, v FROM (
            SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        )
        WHERE ('0x' || substr(md5(CAST(u AS VARCHAR) || '-' || CAST(v AS VARCHAR)), 1, 8))::BIGINT
              % {EDGE_SAMPLE_MOD} = 0
    ),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
        ) GROUP BY node
    ),
    oriented AS (
        SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND p.u < p.v)
                    THEN p.u ELSE p.v END AS src,
               CASE WHEN (da.d < db.d) OR (da.d = db.d AND p.u < p.v)
                    THEN p.v ELSE p.u END AS dst
        FROM pairs p
        JOIN deg da ON da.node = p.u
        JOIN deg db ON db.node = p.v
    ),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM oriented e1
        JOIN oriented e2 ON e1.src = e2.src AND e1.dst < e2.dst
        WHERE EXISTS (SELECT 1 FROM pairs p
                      WHERE p.u = LEAST(e1.dst, e2.dst)
                        AND p.v = GREATEST(e1.dst, e2.dst))
    )
"""


def _sampled_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION-sampled undirected supplier co-occurrence edges (u < v) —
    shared by triangle_count and clustering_coefficient (same
    deterministic md5 coin as _PAIR_SQL)."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).distinct()
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("v"))
    return (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .filter(
            F.pmod(
                h32(F.concat_ws("-", F.col("u"), F.col("v"))),
                F.lit(EDGE_SAMPLE_MOD),
            )
            == 0
        )
    )


def _pair_degrees(pairs: DataFrame) -> DataFrame:
    """(node, d) degree table of an undirected (u < v) edge list."""
    return (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


@register(
    "triangle_count",
    oracle=f"""
    WITH {_PAIR_SQL}
    SELECT node AS supplier, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
    GROUP BY node
    """,
    tags=("graph", "triangle_count", "self_join", "degree_orientation"),
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the supplier co-occurrence graph via
    DEGREE ORIENTATION — the algorithm that makes triangle counting
    feasible at scale (Suri & Vassilvitskii's MapReduce formulation,
    WWW'11): orient every undirected edge from its lower-(degree, id)
    endpoint to the higher one, build wedges only from each node's
    out-edges, and close each wedge against the undirected edge set.
    Out-degrees under this orientation are bounded by O(sqrt(m)), so the
    wedge stage — the only quadratic-looking step — is arboricity-
    bounded instead of hub-degree-bounded: a celebrity node with 1e6
    co-occurrences produces no 1e12-wedge explosion.

    Degree orientation bounds wedge fan-out by arboricity, but this
    fixture's graph is nearly COMPLETE (453k/499.5k possible edges at
    sf0.1) and no orientation saves a dense graph from n³ triangles —
    so the count runs on a DOULION-sparsified edge set (Tsourakakis et
    al., KDD'09): each edge survives with p = 1/EDGE_SAMPLE_MOD by a
    deterministic md5 coin both engines flip identically. Per-node
    counts on the sample are exact (hash-verified); count/p³ is the
    published unbiased estimator for the full graph.

    Plan: one co-occurrence self-join bounded per order (the pagerank
    edge build), one degree agg, two broadcast-joinable degree lookups,
    the wedge self-join on src, and a semi-join closure. Every join key
    is a supplier id — no row ever carries payload."""
    pairs = _sampled_supplier_pairs(spark, sf_dir)
    deg = _pair_degrees(pairs)
    return _triangles_by_node(pairs, deg).select(
        F.col("node").alias("supplier"), "n_triangles"
    )


def _triangles_by_node(pairs: DataFrame, deg: DataFrame) -> DataFrame:
    """(node, n_triangles) via degree-oriented wedge closure (see
    triangle_count's docstring for the algorithm and its bounds)."""
    da = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # Degree lookups carry NO broadcast hint (round-10, verdict #1): the
    # degree table is node-grain — ~1B rows at 100 TB — so the hint that
    # forced a broadcast at any scale was exactly the OOM class the
    # governance audit exists to catch. Unhinted, Spark's size gate
    # picks broadcast while the table is small and a shuffle join beyond.
    oriented = (
        pairs.join(da, "u")
        .join(db, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    e1 = oriented.select("src", F.col("dst").alias("b"))
    e2 = oriented.select("src", F.col("dst").alias("c"))
    wedges = e1.join(e2, "src").filter(F.col("b") < F.col("c"))
    closure = pairs.select(
        F.col("u").alias("cu"), F.col("v").alias("cv")
    )
    tri = wedges.join(
        closure,
        (F.least("b", "c") == F.col("cu")) & (F.greatest("b", "c") == F.col("cv")),
        "left_semi",
    ).select(F.col("src").alias("a"), "b", "c")
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return nodes.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


_LPA_ITER_SQL_TMPL = """
    s{i} AS (
        SELECT e.dst AS node, l.label, CAST(SUM(e.w) AS BIGINT) AS tw
        FROM edges e JOIN l{p} l ON l.node = e.src
        GROUP BY 1, 2
    ),
    l{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (
                       PARTITION BY node ORDER BY tw DESC, label ASC
                   ) AS rn
            FROM s{i}
        ) WHERE rn = 1
    )"""


@register(
    "label_prop_weighted",
    oracle=f"""
    WITH {_EDGE_SQL.split(', outw')[0]},
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {_LPA_ITER_SQL_TMPL.format(i=1, p=0)},
    {_LPA_ITER_SQL_TMPL.format(i=2, p=1)}
    SELECT node AS supplier, label AS community FROM l2
    """,
    tags=("graph", "label_propagation", "community", "iterative",
          "bounded_broadcast"),
)
def label_prop_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted label propagation (community detection) on the supplier
    co-occurrence graph, two synchronous rounds: every node adopts the
    label carrying the highest incoming edge-weight mass among its
    neighbors, ties broken by the smallest label. Distinct from
    ``dedup_components`` (min-label flooding → connected components):
    LPA is weight-sensitive argmax, the classic community heuristic
    (Raghavan et al. 2007), made deterministic here by the (weight DESC,
    label ASC) tie order — plain LPA's random visit order would never
    hash-match an oracle.

    The reference cannot express any iterative dataflow
    (transform_evaluators.py is a single DAG pass); this completes the
    iterative family next to pagerank (float iteration) and
    dedup_components (fixpoint loop).

    Scale: per iteration one join of the label vector into the edge list
    (label vectors are node-sized — broadcast-gated exactly like
    pagerank's rank vector) plus one partial-aggregated groupBy(dst,
    label) and an argmax via max(struct) — no window sort, no per-node
    state beyond the (dst,label) partial sums, which are bounded by
    degree, not graph size. Synchronous rounds unrolled for Catalyst;
    exchange reuse dedups the shared edge-build subtree.

    bounded_broadcast: the label-vector hint is SIZE-GATED exactly
    like pagerank's rank vector (same conf key; shuffle join beyond
    the threshold) — the plan audit sees the hint at test scale but
    cannot see the gate, hence the tag."""
    threshold = int(
        spark.conf.get("spark.graft.pagerank.broadcastNodes", "10000000")
    )
    node_upper_bound = parquet_rowcount(spark, sf_dir, "supplier")
    label_hint = F.broadcast if node_upper_bound <= threshold else (lambda df: df)

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    per_order = li.distinct().groupBy("l_orderkey").agg(
        F.collect_set("l_suppkey").alias("ss")
    )
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, x -> filter("
                "transform(ss, y -> struct(x AS src, y AS dst)), "
                "p -> p.src != p.dst)))"
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    edges = pairs.groupBy("src", "dst").agg(F.count("*").alias("w"))

    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(2):
        mass = (
            edges.join(label_hint(labels.withColumnRenamed("node", "src")), "src")
            .groupBy("dst", "label")
            .agg(F.sum("w").cast("long").alias("tw"))
        )
        # argmax(label by (tw DESC, label ASC)) without a window sort:
        # max over struct(tw, -label) — the negated label turns the
        # ascending tie-break into struct-max order.
        labels = (
            mass.groupBy("dst")
            .agg(F.max(F.struct(F.col("tw"), (-F.col("label")).alias("nl"))).alias("m"))
            .select(F.col("dst").alias("node"), (-F.col("m.nl")).alias("label"))
        )
    return labels.select(
        F.col("node").alias("supplier"), F.col("label").alias("community")
    )


@register(
    "degree_distribution",
    oracle=f"""
    WITH {_EDGE_SQL.split(', outw')[0]},
    deg AS (
        SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src
    ),
    hist AS (
        SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
    ),
    tot AS (SELECT COUNT(*) AS n FROM deg)
    SELECT h.degree, h.n_nodes,
           CAST(SUM(h2.n_nodes) AS BIGINT) AS n_at_least,
           CAST(SUM(h2.n_nodes) AS DOUBLE) / CAST(t.n AS DOUBLE)
               AS ccdf
    FROM hist h
    JOIN hist h2 ON h2.degree >= h.degree
    CROSS JOIN tot t
    GROUP BY h.degree, h.n_nodes, t.n
    """,
    tags=("bounded_window", "graph", "degree_distribution", "ccdf", "topology"),
)
def degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution + complementary CDF of the supplier
    co-occurrence graph — the topology report read BEFORE running any
    graph algorithm here: a heavy CCDF tail (hubs) is precisely what
    decides the degree-orientation trick in triangle_count, the
    broadcast gate in pagerank, and whether LPA will collapse.
    Degrees reduce from the edge list (one agg); the CCDF computes on
    the DEGREE HISTOGRAM (at most |distinct degrees| rows) via a
    descending tail sum — the user_survival_curve shape applied to
    graph topology. Ratios are count divisions → exact."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    per_order = li.distinct().groupBy("l_orderkey").agg(
        F.collect_set("l_suppkey").alias("ss")
    )
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, x -> filter("
                "transform(ss, y -> struct(x AS src, y AS dst)), "
                "p -> p.src != p.dst)))"
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    edges = pairs.groupBy("src", "dst").agg(F.count("*").alias("w"))
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    hist = deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))
    w_desc = W.orderBy(F.col("degree").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    total = F.sum("n_nodes").over(W.partitionBy())
    return hist.select(
        "degree",
        "n_nodes",
        F.sum("n_nodes").over(w_desc).cast("long").alias("n_at_least"),
        (
            F.sum("n_nodes").over(w_desc).cast("double") / total.cast("double")
        ).alias("ccdf"),
    )


_BFS_N = 512
_BFS_DEPTH_CAP = 20


def _functional_edges(spark: SparkSession, *, sparse: bool = False) -> DataFrame:
    """The pinned edge list of the deterministic out-degree-2 functional
    graph the iterative graph queries walk: k → 3k+1 and k → 5k+2
    (mod ``_BFS_N``) — cyclic, fully synthetic, identical in both
    engines. ``sparse`` drops the 3k+1 edge at k ≡ 0 (mod 3) and keeps
    the 5k+2 edge only at even k (the scc / dag / bellman graph)."""
    n = spark.range(_BFS_N)
    a, b = n, n
    if sparse:
        a, b = n.filter(F.col("id") % 3 != 0), n.filter(F.col("id") % 2 == 0)
    return checkpoint_audited(
        a.select(F.col("id").alias("src"), ((3 * F.col("id") + 1) % _BFS_N).alias("dst"))
        .unionAll(b.select(F.col("id"), ((5 * F.col("id") + 2) % _BFS_N)))
    )


def _hop_distances(spark: SparkSession, init: DataFrame, seed_cols: list[str]) -> DataFrame:
    """(*seed_cols, node, hops) shortest hop distances ≤ _BFS_DEPTH_CAP over
    the full functional graph, from the sources in ``init`` (hops 0).

    Each round walks the stride-s jump table (_jump_table): round i
    discovers exactly the nodes of true depth in ((i-1)·s, i·s] at their
    exact depth — a shortest path to such a node passes a node at depth
    d-s, discovered in round i-1, and the table covers the ≤s-edge
    suffix with its true length. The oracles' depth cap is a declared
    depth: ceil(cap / s) rounds, then nodes past the cap are filtered.

    State is the merged visited set, pinned once per round; the next
    frontier is a lazy filter over it, and the per-round anti-join
    against it is the visited-set test."""
    stride = 1 << _STRIDE_LOG
    edges = _functional_edges(spark)

    def layer(rnd):
        return F.col("hops") > (rnd - 1) * stride

    # state bound includes the jump table (≤ _BFS_N² rows)
    with _narrow_shuffle(spark, state_rows=_BFS_N * _BFS_N):
        jt = _jump_table(edges)

        def step(dist, rnd):
            frontier = dist.filter(layer(rnd - 1))
            reached = (
                frontier.join(jt, frontier.node == jt.src)
                .groupBy(*seed_cols, F.col("dst").alias("node"))
                .agg(F.min(F.col("hops") + F.col("d")).alias("hops"))
            )
            return dist.unionAll(reached.join(dist, [*seed_cols, "node"], "left_anti"))

        dist = fixpoint(
            "_hop_distances", init, step,
            added=layer, depth=-(-_BFS_DEPTH_CAP // stride),
        )
    return dist.filter(F.col("hops") <= _BFS_DEPTH_CAP)


@register(
    "bfs_shortest_hops",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT k AS src, (3 * k + 1) % {_BFS_N} AS dst
        FROM range({_BFS_N}) t(k)
        UNION ALL
        SELECT k, (5 * k + 2) % {_BFS_N} FROM range({_BFS_N}) t(k)
    ),
    bfs(node, d) AS (
        SELECT CAST(0 AS BIGINT), 0
        UNION
        SELECT e.dst, d + 1
        FROM bfs JOIN e ON e.src = bfs.node
        WHERE d < {_BFS_DEPTH_CAP}
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS hops
    FROM bfs GROUP BY node
    """,
    tags=("graph", "bfs", "shortest_path", "iterative"),
)
def bfs_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest HOP distances by frontier-parallel BFS —
    the Pregel pattern GraphX/GraphFrames use: each round joins only the
    NEW frontier (nodes first reached last round), so round cost is
    O(edges touched at that depth) and the round count is bounded by the
    source's eccentricity, not |V|. The oracle walks the same
    functional graph with a recursive CTE and takes MIN(depth); a MATCH
    proves frontier BFS = level-order distance (_hop_distances)."""
    return _hop_distances(
        spark,
        spark.range(1).select(
            F.lit(0).cast("long").alias("node"), F.lit(0).cast("long").alias("hops")
        ),
        [],
    )


@register(
    "clustering_coefficient",
    oracle=f"""
    WITH {_PAIR_SQL},
    tc AS (
        SELECT node, COUNT(*) AS t FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT d.node AS supplier,
           CAST(d.d AS BIGINT) AS degree,
           CAST(COALESCE(tc.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.d >= 2
                THEN CAST(2 * COALESCE(tc.t, 0) AS DOUBLE)
                     / CAST(d.d * (d.d - 1) AS DOUBLE)
                ELSE 0.0 END AS clustering_coeff
    FROM deg d LEFT JOIN tc ON tc.node = d.node
    """,
    tags=("graph", "clustering_coefficient", "triangles", "degree"),
)
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per supplier — 2·T(v) / (d(v)·(d(v)−1)),
    the fraction of a node's neighbor pairs that are themselves
    connected: the standard cohesion metric (Watts–Strogatz) that
    separates "hub of an integrated community" from "hub of strangers"
    at equal degree. Composes the two aggregates this module already
    builds at scale — DOULION-sampled degrees and degree-oriented
    triangle counts (`_sampled_supplier_pairs` / `_triangles_by_node`,
    shared with `triangle_count`) — with one left join so
    triangle-free nodes keep coefficient 0 rather than vanishing.
    The only floating point is the final well-defined integer/integer
    divide."""
    pairs = _sampled_supplier_pairs(spark, sf_dir)
    deg = _pair_degrees(pairs)
    tc = _triangles_by_node(pairs, deg)
    return (
        deg.join(tc, "node", "left")
        .select(
            F.col("node").alias("supplier"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                (2 * F.coalesce("n_triangles", F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


@register(
    "link_prediction_jaccard",
    oracle=f"""
    WITH {_PAIR_SQL},
    nbrs AS (
        SELECT u AS node, v AS nbr FROM pairs
        UNION ALL SELECT v, u FROM pairs
    ),
    cand AS (
        SELECT a.node AS x, b.node AS y, COUNT(*) AS cn
        FROM nbrs a JOIN nbrs b
          ON a.nbr = b.nbr AND a.node < b.node
        GROUP BY 1, 2
    ),
    nonedge AS (
        SELECT c.x, c.y, c.cn FROM cand c
        ANTI JOIN pairs p ON p.u = c.x AND p.v = c.y
    )
    SELECT x AS node_a, y AS node_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           CAST(cn AS DOUBLE) / CAST(dx.d + dy.d - cn AS DOUBLE) AS jaccard
    FROM nonedge
    JOIN deg dx ON dx.node = x
    JOIN deg dy ON dy.node = y
    ORDER BY jaccard DESC, x, y
    LIMIT 20
    """,
    tags=("graph", "link_prediction", "common_neighbors", "jaccard"),
)
def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard (Liben-Nowell & Kleinberg
    CIKM'03): for every NON-adjacent supplier pair that shares at least
    one neighbor, score |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)| and return the top
    20 predicted links — "these two never co-supplied an order, but
    their neighborhoods say they will". Candidate pairs come from the
    wedge join (two hops through a shared neighbor), so only pairs with
    cn ≥ 1 ever exist — never the all-pairs matrix; existing edges are
    removed by an anti-join and union size comes from the degree table
    by inclusion–exclusion (no neighbor-set materialization).

    The wedge join's fan-out is Σ d(n)² over neighbors — on a skewed
    graph the hub-wedge explosion is the known cost of common-neighbor
    methods; this runs on the same DOULION-sampled edge set as
    triangle_count, the published mitigation. Final selection is a
    global ORDER BY + LIMIT (TakeOrderedAndProject — per-partition
    heaps, no global sort), ties broken by the pair itself."""
    pairs = _sampled_supplier_pairs(spark, sf_dir)
    deg = _pair_degrees(pairs)
    nbrs = pairs.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        pairs.select(F.col("v"), F.col("u"))
    )
    a = nbrs.select(F.col("node").alias("x"), "nbr")
    b = nbrs.select(F.col("node").alias("y"), "nbr")
    cand = (
        a.join(b, "nbr")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("cn"))
    )
    nonedge = cand.join(
        pairs,
        (cand.x == pairs.u) & (cand.y == pairs.v),
        "left_anti",
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    # No broadcast hint on the node-grain degree table (round-10,
    # verdict #1): planner-gated join choice instead.
    scored = (
        nonedge.join(dx, "x")
        .join(dy, "y")
        .select(
            F.col("x").alias("node_a"),
            F.col("y").alias("node_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            (
                F.col("cn").cast("double")
                / (F.col("dx") + F.col("dy") - F.col("cn")).cast("double")
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), "node_a", "node_b"
    ).limit(20)


K_CORE = 4  # peel threshold; 3 unrolled rounds


@register(
    "k_core_decomposition",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    pairs AS (
        SELECT u, v FROM (
            SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        )
        WHERE ('0x' || substr(md5(CAST(u AS VARCHAR) || '-' || CAST(v AS VARCHAR)), 1, 8))::BIGINT
              % {EDGE_SAMPLE_MOD} = 0
    ),
    d1 AS (SELECT node, COUNT(*) AS d FROM (
               SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
           ) GROUP BY node),
    k1 AS (SELECT node FROM d1 WHERE d >= {K_CORE}),
    p1 AS (SELECT u, v FROM pairs
           WHERE u IN (SELECT node FROM k1) AND v IN (SELECT node FROM k1)),
    d2 AS (SELECT node, COUNT(*) AS d FROM (
               SELECT u AS node FROM p1 UNION ALL SELECT v FROM p1
           ) GROUP BY node),
    k2 AS (SELECT node FROM d2 WHERE d >= {K_CORE}),
    p2 AS (SELECT u, v FROM p1
           WHERE u IN (SELECT node FROM k2) AND v IN (SELECT node FROM k2)),
    d3 AS (SELECT node, COUNT(*) AS d FROM (
               SELECT u AS node FROM p2 UNION ALL SELECT v FROM p2
           ) GROUP BY node),
    k3 AS (SELECT node FROM d3 WHERE d >= {K_CORE}),
    p3 AS (SELECT u, v FROM p2
           WHERE u IN (SELECT node FROM k3) AND v IN (SELECT node FROM k3))
    SELECT node AS supplier, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT u AS node FROM p3 UNION ALL SELECT v FROM p3)
    GROUP BY node
    """,
    tags=("graph", "k_core", "iterative", "peeling", "degree"),
)
def k_core_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{K_CORE}-core of the sampled supplier co-occurrence graph via
    THREE unrolled peeling rounds: repeatedly drop nodes whose current
    degree is below {K_CORE} and the edges they carry — the standard
    coreness screen that separates a graph's cohesive backbone from
    its tendrils (community seeding, influence pruning, fraud-ring
    triage). Peeling is the textbook case of an algorithm whose WORK
    SHRINKS each round: every iteration is one degree partial-agg over
    the surviving edges plus two semi joins against the
    node-cardinality survivor list — broadcast at any edge scale,
    since survivors number |nodes|, not |edges|. Each round's edge
    list is PINNED with localCheckpoint (the connected_components
    discipline): without it the lineage doubles per peel — degree agg
    + two joins each re-derive the previous round — and the unrolled
    plan recomputes the base self-join exponentially (measured at
    sf0.1: 27 s / 1.3 MB plan string unpinned vs 5.5 s end-to-end
    pinned); a fixpoint loop would pin with reliable checkpoint()
    exactly as connected_components does. Emits surviving nodes
    with their residual in-core degree (a capped peel may leave
    sub-{K_CORE} residuals; the cap is part of the contract, exactly
    mirrored by the oracle)."""
    pairs = checkpoint_audited(_sampled_supplier_pairs(spark, sf_dir))
    for _ in range(3):
        deg = _pair_degrees(pairs)
        keep = deg.filter(F.col("d") >= K_CORE).select("node")
        # Survivor list is node-grain (grows with the corpus) — no
        # broadcast hint (round-10, verdict #1); the planner's size
        # gate broadcasts it while small and shuffles beyond.
        pairs = checkpoint_audited(pairs.join(
            keep.withColumnRenamed("node", "u"), "u", "left_semi"
        ).join(
            keep.withColumnRenamed("node", "v"), "v", "left_semi"
        ))
    return _pair_degrees(pairs).select(
        F.col("node").alias("supplier"),
        F.col("d").cast("long").alias("core_degree"),
    )


# --- HITS hubs & authorities (round 7) ---------------------------------------
def _hits_half_sql(vec: str, vec_col: str, key: str, other: str, out: str) -> str:
    """One normalized HITS half-step as two CTEs: decimal-exact sum of
    wn*score grouped by `key`, then L1 normalization (decimal-exact
    total, single double division)."""
    return f"""
    {out}r AS (
        SELECT {key}, CAST(SUM(CAST(e.wn * {vec}.{vec_col} AS DECIMAL(38,10)))
                           AS DOUBLE) AS raw
        FROM e JOIN {vec} USING ({other}) GROUP BY {key}
    ),
    {out}n AS (SELECT CAST(SUM(CAST(raw AS DECIMAL(38,10))) AS DOUBLE) AS t
               FROM {out}r),
    {out} AS (SELECT {key}, raw / t AS {vec_col} FROM {out}r, {out}n)"""


@register(
    "hits_hubs_authorities",
    oracle=f"""
    WITH edges AS (
        SELECT o.o_custkey AS c, li.l_suppkey AS s, COUNT(*) AS w
        FROM orders o JOIN lineitem li ON o.o_orderkey = li.l_orderkey
        GROUP BY 1, 2
    ),
    tw AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM edges),
    e AS (SELECT c, s, CAST(w AS DOUBLE) / tw AS wn FROM edges, tw),
    a1r AS (
        SELECT s, CAST(SUM(CAST(wn AS DECIMAL(38,10))) AS DOUBLE) AS raw
        FROM e GROUP BY s
    ),
    a1n AS (SELECT CAST(SUM(CAST(raw AS DECIMAL(38,10))) AS DOUBLE) AS t
            FROM a1r),
    a1 AS (SELECT s, raw / t AS score FROM a1r, a1n),
    {_hits_half_sql('a1', 'score', 'c', 's', 'h1')},
    {_hits_half_sql('h1', 'score', 's', 'c', 'a2')},
    {_hits_half_sql('a2', 'score', 'c', 's', 'h2')}
    SELECT 'authority' AS role, s AS node_id, score FROM a2
    UNION ALL
    SELECT 'hub' AS role, c AS node_id, score FROM h2
    """,
    tags=("graph", "hits", "iterative", "bipartite"),
)
def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) on the bipartite customer→supplier order
    graph: authority(s) = Σ_c w·hub(c), hub(c) = Σ_s w·authority(s),
    two full mutual-reinforcement iterations, L1-normalized between
    half-steps so every score stays in [0,1] (keeping the decimal-exact
    accumulators inside their 2^53 conversion bound — the pagerank
    file-header contract). High-authority suppliers are the ones
    important customers concentrate on; high-hub customers are the
    broad buyers whose endorsement carries — the query-independent
    salience pair PageRank's single score conflates.

    Scale shape: the edge list is ONE orders⋈lineitem join grouped to
    (customer, supplier) — no self-join, fan-in bounded by order line
    count; each half-step is one equi-join of the edge list against the
    score vector plus a key-partial agg (the pagerank iteration shape),
    and the L1 norm is a 1-row broadcast. Exchange reuse dedups the
    repeated edge subtree exactly as in pagerank_3iter. Reference has
    no graph surface (transform_evaluators.py:84-100 is flat
    CombinePerKey)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.count("*").alias("w"))
    )
    tw = edges.agg(F.sum("w").cast("long").alias("tw"))
    e = edges.crossJoin(F.broadcast(tw)).select(
        "c", "s", (F.col("w").cast("double") / F.col("tw")).alias("wn")
    )

    def half(vec: DataFrame, join_key: str, group_key: str) -> DataFrame:
        """vec: (join_key, score) → normalized (group_key, score)."""
        raw = (
            e.join(vec, join_key)
            .groupBy(group_key)
            .agg(_dsum_exact(F.col("wn") * F.col("score")).alias("raw"))
        )
        norm = raw.agg(_dsum_exact(F.col("raw")).alias("t"))
        return raw.crossJoin(F.broadcast(norm)).select(
            group_key, (F.col("raw") / F.col("t")).alias("score")
        )

    a1r = e.groupBy("s").agg(_dsum_exact(F.col("wn")).alias("raw"))  # hub0 = 1
    a1n = a1r.agg(_dsum_exact(F.col("raw")).alias("t"))
    a1 = a1r.crossJoin(F.broadcast(a1n)).select(
        "s", (F.col("raw") / F.col("t")).alias("score")
    )
    h1 = half(a1, "s", "c")
    a2 = half(h1, "c", "s")
    h2 = half(a2, "s", "c")
    return a2.select(
        F.lit("authority").alias("role"),
        F.col("s").alias("node_id"),
        "score",
    ).unionAll(
        h2.select(F.lit("hub").alias("role"), F.col("c").alias("node_id"), "score")
    )


# --- resource-allocation link prediction (round 7) -----------------------------
RA_SCALE = 10**12  # fixed-point quantum for the 1/deg terms


@register(
    "resource_allocation_linkpred",
    oracle=f"""
    WITH {_PAIR_SQL},
    nbrs AS (
        SELECT u AS node, v AS nbr FROM pairs
        UNION ALL SELECT v, u FROM pairs
    ),
    wedge AS (
        SELECT a.node AS x, b.node AS y, a.nbr
        FROM nbrs a JOIN nbrs b
          ON a.nbr = b.nbr AND a.node < b.node
    ),
    cand AS (
        SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cn,
               CAST(SUM(CAST(FLOOR({RA_SCALE}.0 / d.d) AS BIGINT)) AS BIGINT)
                   AS ra
        FROM wedge w JOIN deg d ON d.node = w.nbr
        GROUP BY x, y
    ),
    nonedge AS (
        SELECT c.x, c.y, c.cn, c.ra FROM cand c
        ANTI JOIN pairs p ON p.u = c.x AND p.v = c.y
    )
    SELECT x AS node_a, y AS node_b, cn AS common_neighbors, ra AS ra_e12
    FROM nonedge
    ORDER BY ra_e12 DESC, node_a, node_b
    LIMIT 20
    """,
    tags=("graph", "link_prediction", "resource_allocation"),
)
def resource_allocation_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009) — the
    degree-penalized upgrade of link_prediction_jaccard on the SAME
    DOULION-sampled supplier graph: each shared neighbor z contributes
    1/deg(z), so a hub shared by everyone adds almost nothing while a
    low-degree broker is strong evidence (empirically beats Jaccard and
    Adamic-Adar, whose 1/log deg needs the libm log this repo bans).
    Each term is the EXACT integer ⌊1e12/deg(z)⌋ — one IEEE division +
    floor per neighbor, order-independent integer sum — so the scores
    hash across engines with no float-accumulation drift.

    Scale notes (100 TB): identical wedge-join shape (and cost argument)
    as link_prediction_jaccard — candidates only where cn ≥ 1, never
    all-pairs; the neighbor-degree lookup is one broadcast; final top-20
    is TakeOrderedAndProject (per-partition heaps, ties broken by the
    pair)."""
    pairs = _sampled_supplier_pairs(spark, sf_dir)
    deg = _pair_degrees(pairs)
    nbrs = pairs.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        pairs.select(F.col("v"), F.col("u"))
    )
    term = F.floor(F.lit(RA_SCALE) / F.col("d")).cast("long")
    # Node-grain degree lookup: no broadcast hint (round-10, verdict #1).
    a = nbrs.join(
        deg.select(F.col("node").alias("nbr"), "d"), "nbr"
    ).select(F.col("node").alias("x"), "nbr", term.alias("term"))
    b = nbrs.select(F.col("node").alias("y"), "nbr")
    cand = (
        a.join(b, "nbr")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.sum("term").cast("long").alias("ra"),
        )
    )
    nonedge = cand.join(
        pairs,
        (cand.x == pairs.u) & (cand.y == pairs.v),
        "left_anti",
    )
    return (
        nonedge.select(
            F.col("x").alias("node_a"),
            F.col("y").alias("node_b"),
            F.col("cn").alias("common_neighbors"),
            F.col("ra").alias("ra_e12"),
        )
        .orderBy(F.col("ra_e12").desc(), "node_a", "node_b")
        .limit(20)
    )


# --- degree assortativity (round 7) -----------------------------------------------
@register(
    "degree_assortativity",
    oracle=f"""
    WITH {_PAIR_SQL},
    sym AS (
        SELECT u AS a, v AS b FROM pairs
        UNION ALL SELECT v, u FROM pairs
    ),
    dd AS (
        SELECT da.d AS dx, db.d AS dy
        FROM sym JOIN deg da ON da.node = sym.a
                 JOIN deg db ON db.node = sym.b
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dx) AS BIGINT) AS sx,
               CAST(SUM(dy) AS BIGINT) AS sy,
               CAST(SUM(CAST(dx * dx AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sxx,
               CAST(SUM(CAST(dy * dy AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS syy,
               CAST(SUM(CAST(dx * dy AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sxy
        FROM dd
    )
    SELECT n AS n_edge_ends,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS assortativity
    FROM s
    """,
    tags=("graph", "assortativity", "degree_correlation"),
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree ASSORTATIVITY (Newman 2002): the Pearson correlation of
    endpoint degrees over all edge ends — one number saying whether
    hubs attach to hubs (social-network-like, r>0) or to leaves
    (internet/protein-like, r<0); it predicts how the supplier graph
    fragments under targeted node loss and how far LSH/community
    methods can shard it. Same DOULION-sampled edge set as
    triangle_count. Every sufficient statistic is an exact
    integer/decimal sum over the symmetrized edge list (degrees from
    the broadcast degree table), finished by one fixed-order double
    formula — the spearman_rank_corr determinism recipe on graph
    data.

    Scale notes (100 TB): two broadcast joins + one global partial
    agg; no windows, no iteration."""
    pairs = _sampled_supplier_pairs(spark, sf_dir)
    deg = _pair_degrees(pairs)
    sym = pairs.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        pairs.select(F.col("v"), F.col("u"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("dy"))
    # Node-grain degree lookups: no broadcast hint (round-10, verdict #1).
    dd = sym.join(da, "a").join(db, "b")
    s = dd.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum((F.col("dx") * F.col("dx")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum((F.col("dx") * F.col("dy")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    dx_ = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    dy_ = nd * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    return s.select(
        F.col("n").alias("n_edge_ends"),
        (num / (F.sqrt(dx_) * F.sqrt(dy_))).alias("assortativity"),
    )


# --- modularity of the LPA partition (round 7) ---------------------------------------
@register(
    "modularity_score",
    oracle=f"""
    WITH {_EDGE_SQL.split(', outw')[0]},
    lp AS ({{LP_ORACLE}}),
    strength AS (
        SELECT src, CAST(SUM(w) AS BIGINT) AS s FROM edges GROUP BY src
    ),
    tm AS (SELECT CAST(SUM(w) AS BIGINT) AS two_m FROM edges),
    sc AS (
        SELECT lp.community, CAST(SUM(st.s) AS BIGINT) AS s_c
        FROM strength st JOIN lp ON lp.supplier = st.src
        GROUP BY lp.community
    ),
    wc AS (
        SELECT la.community, CAST(SUM(e.w) AS BIGINT) AS w_c
        FROM edges e
        JOIN lp la ON la.supplier = e.src
        JOIN lp lb ON lb.supplier = e.dst
        WHERE la.community = lb.community
        GROUP BY la.community
    ),
    terms AS (
        SELECT sc.community,
               CAST(COALESCE(wc.w_c, 0) AS DOUBLE) / tm.two_m
                 - (CAST(sc.s_c AS DOUBLE) / tm.two_m)
                   * (CAST(sc.s_c AS DOUBLE) / tm.two_m) AS q_term
        FROM sc LEFT JOIN wc ON wc.community = sc.community, tm
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sc) AS n_communities,
           (SELECT two_m FROM tm) AS two_m,
           (SELECT list_reduce(list(q_term ORDER BY community),
                               (a, b) -> a + b) FROM terms) AS modularity_q
    """,
    tags=("graph", "modularity", "community", "evaluation",
          "bounded_broadcast"),
)
def modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the label-propagation partition — the
    quality number for label_prop_weighted's communities (composed
    verbatim, the binary_recall_at_k audit discipline): Q = Σ_c
    [W_c/2m − (S_c/2m)²] over the weighted co-occurrence graph; Q≈0
    means the partition is no better than random wiring, so this is
    the gate before anyone SHARDS by community (the layout decision
    communities exist to serve at 100 TB). W_c and S_c are exact
    integer sums; the per-community terms fold in COMMUNITY-ID ORDER
    (anova discipline) so Q value-hashes.

    Scale notes: two label joins into the edge list (label table is
    node-sized — the pagerank broadcast-gate argument), two partial
    aggs, constant-size tail.

    bounded_broadcast: inherited — the composed label_prop_weighted
    plans carry its size-gated label-vector hints (see that query's
    adjudication); modularity's own joins are unhinted."""
    from beam_pyspark_runner_spark.queries.registry import REGISTRY as _R

    lp = _R["label_prop_weighted"].fn(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).distinct()
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("dst"))
    edges = (
        a.join(b, "o")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    strength = edges.groupBy("src").agg(F.sum("w").cast("long").alias("s"))
    tm = edges.agg(F.sum("w").cast("long").alias("two_m"))
    lab_src = lp.select(
        F.col("supplier").alias("src"), F.col("community").alias("c_src")
    )
    lab_dst = lp.select(
        F.col("supplier").alias("dst"), F.col("community").alias("c_dst")
    )
    # Label tables are node-grain — no broadcast hint (round-10,
    # verdict #1); planner-gated join choice instead.
    sc = (
        strength.join(lab_src, "src")
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.sum("s").cast("long").alias("s_c"))
    )
    wc = (
        edges.join(lab_src, "src")
        .join(lab_dst, "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.sum("w").cast("long").alias("w_c"))
    )
    terms = (
        sc.join(wc, "community", "left")
        .crossJoin(F.broadcast(tm))
        .select(
            "community",
            (
                F.coalesce(F.col("w_c"), F.lit(0)).cast("double")
                / F.col("two_m")
                - (F.col("s_c").cast("double") / F.col("two_m"))
                * (F.col("s_c").cast("double") / F.col("two_m"))
            ).alias("q_term"),
        )
    )
    return terms.crossJoin(F.broadcast(tm)).agg(
        F.count("*").cast("long").alias("n_communities"),
        F.max("two_m").alias("two_m"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("community"), F.col("q_term")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["q_term"],
        ).alias("modularity_q"),
    )


_REG_G = __import__(
    "beam_pyspark_runner_spark.queries.registry", fromlist=["REGISTRY"]
).REGISTRY
_REG_G["modularity_score"].oracle = _REG_G["modularity_score"].oracle.replace(
    "{LP_ORACLE}", _REG_G["label_prop_weighted"].oracle
)


# --- pivot-sampled closeness centrality (round 7, session 4) ----------------
_CLOSE_SEEDS = (0, 7, 101, 350)  # fixed pivot sample


@register(
    "closeness_centrality_sampled",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT k AS src, (3 * k + 1) % {_BFS_N} AS dst
        FROM range({_BFS_N}) t(k)
        UNION ALL
        SELECT k, (5 * k + 2) % {_BFS_N} FROM range({_BFS_N}) t(k)
    ),
    bfs(seed, node, d) AS (
        SELECT s.seed, CAST(s.seed AS BIGINT), 0
        FROM (SELECT unnest(ARRAY{list(_CLOSE_SEEDS)}) AS seed) s
        UNION
        SELECT bfs.seed, e.dst, d + 1
        FROM bfs JOIN e ON e.src = bfs.node
        WHERE d < {_BFS_DEPTH_CAP}
    ),
    sp AS (
        SELECT seed, node, MIN(d) AS d FROM bfs GROUP BY seed, node
    )
    SELECT CAST(seed AS BIGINT) AS seed,
           CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(SUM(d) AS BIGINT) AS sum_hops,
           CAST((COUNT(*) - 1) * (COUNT(*) - 1) AS DOUBLE)
               / (CAST(SUM(d) AS DOUBLE) * {_BFS_N - 1}.0) AS closeness
    FROM sp GROUP BY seed
    """,
    tags=("graph", "closeness_centrality", "bfs", "iterative",
          "pivot_sample"),
)
def closeness_centrality_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserman–Faust closeness centrality from a FIXED pivot sample —
    the Eppstein–Wang recipe that makes centrality affordable at graph
    scale: instead of |V| BFS traversals, run one MULTI-SOURCE BFS whose
    state is (seed, node, hops) for k = {len(_CLOSE_SEEDS)} pivots, so
    every round is ONE frontier⋈edges join shared by all seeds and the
    total work is k× a single BFS regardless of |V|. Closeness(seed) =
    ((r−1)/Σd)·((r−1)/(n−1)) with r = reached count — the
    reachability-corrected form that stays comparable on directed
    graphs where some seeds reach fewer nodes. Same walk
    (_hop_distances) and recursive-CTE adjudication as
    bfs_shortest_hops, keyed by (seed, node) — the MATCH proves the
    shared-frontier walk equals k independent level-order traversals.
    Exact integer (r−1)² and Σd; one double division."""
    seeds = spark.createDataFrame([(s,) for s in _CLOSE_SEEDS], "seed long")
    dist = _hop_distances(
        spark,
        seeds.select(
            "seed", F.col("seed").alias("node"), F.lit(0).cast("long").alias("hops")
        ),
        ["seed"],
    )
    return dist.groupBy("seed").agg(
        F.count("*").cast("long").alias("n_reached"),
        F.sum("hops").cast("long").alias("sum_hops"),
        (
            ((F.count("*") - 1) * (F.count("*") - 1)).cast("double")
            / (F.sum("hops").cast("double") * float(_BFS_N - 1))
        ).alias("closeness"),
    )


# --- SCC by forward-backward reachability (round 7, session 4) --------------
_SCC_PIVOT = 0


@register(
    "scc_pivot_fwbw",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT k AS src, (3 * k + 1) % {_BFS_N} AS dst
        FROM range({_BFS_N}) t(k) WHERE k % 3 <> 0
        UNION ALL
        SELECT k, (5 * k + 2) % {_BFS_N} FROM range({_BFS_N}) t(k)
        WHERE k % 2 = 0
    ),
    fwd(node) AS (
        SELECT CAST({_SCC_PIVOT} AS BIGINT)
        UNION
        SELECT e.dst FROM fwd JOIN e ON e.src = fwd.node
    ),
    bwd(node) AS (
        SELECT CAST({_SCC_PIVOT} AS BIGINT)
        UNION
        SELECT e.src FROM bwd JOIN e ON e.dst = bwd.node
    )
    SELECT f.node AS node
    FROM fwd f JOIN bwd b ON b.node = f.node
    ORDER BY node
    """,
    tags=("graph", "scc", "strongly_connected", "iterative",
          "fwbw"),
)
def scc_pivot_fwbw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pivot step of FW-BW strongly-connected-components (Fleischer–
    Hendrickson–Pınar 2000; the algorithm GraphX/Gunrock use at scale,
    where Tarjan's sequential stack cannot run): SCC(pivot) = nodes
    reachable FROM the pivot ∩ nodes that REACH the pivot. Both
    reachability sets come from a frontier-parallel walk of the
    stride-16 jump table — the backward pass joins the frontier against
    table DESTINATIONS — and the intersection is one equi-join of two
    node sets. In the full algorithm the remainder splits into three
    independent partitions (fwd-only / bwd-only / neither) that recurse
    IN PARALLEL; one certified pivot round is the building block. The
    graph is the sparsified functional graph (_functional_edges), whose
    pivot SCC is proper — 370 of 512 nodes, with nonempty fwd-only and
    bwd-only remainders. The recursive-CTE oracle walks both directions
    to a fixpoint, so frontier exhaustion, not a depth, decides
    membership: the {_BFS_N}-round limit is a safety cap and raises."""
    edges = _functional_edges(spark, sparse=True)

    def reach(jt: DataFrame, key_col: str, next_col: str) -> DataFrame:
        # the round number rides along as `d` only to mark each round's
        # layer for the frontier filter
        def step(seen, rnd):
            frontier = seen.filter(F.col("d") == rnd - 1)
            new = (
                frontier.join(jt, frontier.node == jt[key_col])
                .select(F.col(next_col).alias("node"))
                .distinct()
                .join(seen, "node", "left_anti")
            )
            return seen.unionAll(new.select("node", F.lit(rnd).cast("long").alias("d")))

        seen = fixpoint(
            "scc_pivot_fwbw",
            spark.range(1).select(
                F.lit(_SCC_PIVOT).cast("long").alias("node"),
                F.lit(0).cast("long").alias("d"),
            ),
            step,
            added=lambda rnd: F.col("d") == rnd,
            cap=_BFS_N,
        )
        return seen.select("node")

    # The two passes are independent until the final intersection, so
    # they run as concurrent job streams. ONE _narrow_shuffle scope
    # covers both; the jump table (≤ _BFS_N² rows) is shared — reach in
    # the reversed graph is the same table joined on dst.
    from concurrent.futures import ThreadPoolExecutor

    with _narrow_shuffle(spark, state_rows=_BFS_N * _BFS_N), \
            ThreadPoolExecutor(max_workers=2) as pool:
        jt = _jump_table(edges)
        fwd_f = pool.submit(reach, jt, "src", "dst")
        bwd_f = pool.submit(reach, jt, "dst", "src")
        fwd, bwd = fwd_f.result(), bwd_f.result()
    return fwd.join(bwd, "node").select("node")


# --- DAG longest-path layering / critical path (round 7, session 4) ---------
_DAG_CAP = 64  # loud stop if the "DAG" had a cycle; real exit is fixpoint


@register(
    "dag_longest_path_layers",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT src, dst FROM (
            SELECT k AS src, (3 * k + 1) % {_BFS_N} AS dst
            FROM range({_BFS_N}) t(k) WHERE k % 3 <> 0
            UNION ALL
            SELECT k, (5 * k + 2) % {_BFS_N} FROM range({_BFS_N}) t(k)
            WHERE k % 2 = 0
        ) WHERE src < dst
    ),
    w(node, d) AS (
        SELECT k, 0 FROM range({_BFS_N}) t(k)
        UNION
        SELECT e.dst, d + 1 FROM w JOIN e ON e.src = w.node
    ),
    layer AS (SELECT node, CAST(MAX(d) AS BIGINT) AS layer
              FROM w GROUP BY node)
    SELECT layer, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM layer GROUP BY layer
    """,
    tags=("graph", "dag", "longest_path", "critical_path", "topological",
          "iterative"),
)
def dag_longest_path_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-path layering of a DAG — the critical-path/scheduling
    primitive (and the dependency-aware shard-ordering a pipeline DAG
    executor needs): layer(v) = length of the longest path ending at v,
    so layer L can only start after some chain of L predecessors. Dual
    of the BFS family: BFS relaxes MIN over frontier rounds, this
    relaxes MAX — dist' = max(dist, dist(src) + J(src, v)) over the
    stride-16 MAX-plus jump table (sound: the src<dst orientation of
    the sparsified functional graph makes it acyclic). Updates only
    increase and are bounded by the DAG depth, so the monotone Σ layer
    is unchanged ⟺ fixpoint; the {_DAG_CAP}-round safety cap turns an
    accidental cycle (where longest path is undefined) into a loud
    error. The recursive-CTE oracle enumerates all (node, depth) pairs
    and takes MAX."""
    edges = _functional_edges(spark, sparse=True).filter(F.col("src") < F.col("dst"))
    # state bound includes the jump table (≤ _BFS_N² rows)
    with _narrow_shuffle(spark, state_rows=_BFS_N * _BFS_N):
        jt = _jump_table(edges, longest=True)

        def step(dist, rnd):
            cand = dist.join(jt, dist.node == jt.src).select(
                F.col("dst").alias("node"), (dist["d"] + jt["d"]).alias("d")
            )
            return dist.unionAll(cand).groupBy("node").agg(F.max("d").alias("d"))

        dist = fixpoint(
            "dag_longest_path_layers",
            spark.range(_BFS_N).select(
                F.col("id").alias("node"), F.lit(0).cast("long").alias("d")
            ),
            step,
            total="d",
            cap=_DAG_CAP,
        )
    return dist.groupBy(F.col("d").alias("layer")).agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
        F.max("node").cast("long").alias("max_node"),
    )


# --- Bellman-Ford weighted shortest paths (round 7, session 4) --------------
_BF_PRUNE = 300  # oracle walk prune; true max shortest distance is 207


@register(
    "bellman_ford_weighted_paths",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT src, dst,
               (('0x' || substr(md5('w-' || src || '-' || dst), 1, 8))::BIGINT)
                   % 9 + 1 AS w
        FROM (
            SELECT k AS src, (3 * k + 1) % {_BFS_N} AS dst
            FROM range({_BFS_N}) t(k) WHERE k % 3 <> 0
            UNION ALL
            SELECT k, (5 * k + 2) % {_BFS_N} FROM range({_BFS_N}) t(k)
            WHERE k % 2 = 0
        )
    ),
    walk(node, d) AS (
        SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        UNION
        SELECT e.dst, walk.d + e.w FROM walk JOIN e ON e.src = walk.node
        WHERE walk.d + e.w < {_BF_PRUNE}
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS shortest_dist
    FROM walk GROUP BY node
    """,
    tags=("graph", "shortest_path", "weighted", "bellman_ford",
          "iterative"),
)
def bellman_ford_weighted_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source WEIGHTED shortest distances by Bellman–Ford delta
    iteration — what bfs_shortest_hops cannot answer (BFS minimizes
    hops; with md5-derived edge weights 1..9 the cheapest route often
    takes MORE hops), and the relaxation pattern (Pregel/GAS) that
    scales where Dijkstra's sequential priority queue cannot: each
    round joins only the IMPROVED frontier against the stride-16
    min-plus jump table (exact for every optimal path of ≤ 16 edges),
    merges via per-node MIN, and keeps strictly-improved rows as the
    next frontier — empty frontier ⟺ fixpoint (weights are positive),
    with a {_BFS_N}-round safety cap that raises. Same sparsified
    graph as scc_pivot_fwbw; the recursive-CTE oracle enumerates path
    costs with a prune at {_BF_PRUNE} (safe: every reachable node's
    true distance ≤ 207 — prune can only discard paths that are
    already beaten) and takes MIN. Distances stay integer."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    edges = _functional_edges(spark, sparse=True).withColumn(
        "w", h32(F.concat_ws("-", F.lit("w"), F.col("src"), F.col("dst"))) % 9 + 1
    )
    dist = spark.range(1).select(
        F.lit(0).cast("long").alias("node"), F.lit(0).cast("long").alias("d")
    )
    # state bound includes the jump table (≤ _BFS_N² rows)
    with _narrow_shuffle(spark, state_rows=_BFS_N * _BFS_N):
        jt = _jump_table(edges, weight="w").select(
            "src", "dst", F.col("d").alias("w")
        )

        def step(frontier, rnd):
            # the driver pins the improved frontier; `dist` (the merged
            # relaxation) keeps its own pin, folded in one round late
            nonlocal dist
            if rnd > 1:
                dist = checkpoint_audited(
                    dist.unionAll(frontier).groupBy("node").agg(F.min("d").alias("d"))
                )
            cand = (
                frontier.join(jt, frontier.node == jt.src)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min(F.col("d") + F.col("w")).alias("d"))
            )
            return (
                cand.join(dist.select("node", F.col("d").alias("old")), "node", "left")
                .filter(F.col("old").isNull() | (F.col("d") < F.col("old")))
                .select("node", "d")
            )

        fixpoint("bellman_ford_weighted_paths", dist, step, cap=_BFS_N)
    return dist.select("node", F.col("d").alias("shortest_dist"))


# --- bill-of-materials quantity rollup (round 7, session 4) -----------------
_BOM_DEPTH = 7  # complete binary assembly tree: node 1 -> leaves 128..255


@register(
    "bom_quantity_rollup",
    oracle=f"""
    WITH RECURSIVE bom AS (
        SELECT p AS parent, 2 * p + c AS child,
               (('0x' || substr(md5('q-' || p || '-' || (2 * p + c)), 1, 8))::BIGINT)
                   % 3 + 1 AS qty
        FROM range(1, 128) t(p), range(0, 2) u(c)
    ),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM part),
    walk(node, mult) AS (
        SELECT CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        UNION ALL
        SELECT b.child, walk.mult * b.qty
        FROM walk JOIN bom b ON b.parent = walk.node
    ),
    leaves AS (
        SELECT node AS leaf, CAST(SUM(mult) AS BIGINT) AS total_qty
        FROM walk WHERE node >= 128 GROUP BY node
    )
    SELECT l.leaf, (l.leaf % np.np) + 1 AS partkey, l.total_qty,
           p.p_retailprice AS unit_price,
           CAST(ROUND(CAST(l.total_qty * p.p_retailprice
                           AS DECIMAL(38,10)), 2) AS DOUBLE)
               AS extended_cost
    FROM leaves l, np
    JOIN part p ON p.p_partkey = (l.leaf % np.np) + 1
    """,
    tags=("graph", "bom", "hierarchy_rollup", "recursive", "iterative"),
)
def bom_quantity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials explosion — the hierarchy rollup where the
    path aggregate MULTIPLIES (per-level assembly quantities) instead
    of counting hops, which neither the reachability family
    (recursive_cte_*) nor the BFS family expresses: total leaf-part
    demand per unit of the root assembly = Σ over paths of Π qty along
    the path. The assembly tree is a deterministic depth-{_BOM_DEPTH}
    binary BOM (child = 2p+c, md5-derived per-edge quantities 1..3,
    max path product 3^7 = 2187 — integer-safe to extreme depth at
    BIGINT), walked with {_BOM_DEPTH} unrolled frontier joins (every
    leaf sits at the same depth; Catalyst sees a linear chain of
    broadcast-size joins). Leaves then price out against the REAL part
    table (leaf → partkey modulo table size, broadcast join), and
    extended cost goes through dsum's decimal discipline — the costed
    BOM report an MRP run produces. Oracle: recursive CTE with
    UNION ALL (path multiplicity preserved — UNION would collapse
    equal-cost paths) aggregated at the leaves."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    pr = spark.range(1, 128)
    bom = (
        checkpoint_audited(pr.crossJoin(spark.range(2).select(F.col("id").alias("c")))
        .select(
            F.col("id").alias("parent"),
            (2 * F.col("id") + F.col("c")).alias("child"),
        )
        .select(
            "parent",
            "child",
            (
                h32(
                    F.concat_ws(
                        "-", F.lit("q"), F.col("parent"), F.col("child")
                    )
                )
                % 3
                + 1
            ).alias("qty"),
        ))
    )
    walk = spark.range(1).select(
        F.lit(1).cast("long").alias("node"),
        F.lit(1).cast("long").alias("mult"),
    )
    for _ in range(_BOM_DEPTH):
        walk = (
            walk.join(bom, walk.node == bom.parent)
            .select(
                F.col("child").alias("node"),
                (F.col("mult") * F.col("qty")).alias("mult"),
            )
        )
    leaves = walk.groupBy(F.col("node").alias("leaf")).agg(
        F.sum("mult").cast("long").alias("total_qty")
    )
    part = load_table(spark, sf_dir, "part")
    np_ = part.agg(F.count("*").cast("long").alias("np"))
    priced = (
        leaves.crossJoin(F.broadcast(np_))
        .select(
            "leaf",
            ((F.col("leaf") % F.col("np")) + 1).alias("partkey"),
            "total_qty",
        )
        .join(
            part.select(F.col("p_partkey"), F.col("p_retailprice")),
            F.col("partkey") == F.col("p_partkey"),
        )
    )
    return priced.select(
        "leaf",
        "partkey",
        "total_qty",
        F.col("p_retailprice").alias("unit_price"),
        (F.col("total_qty") * F.col("p_retailprice"))
        .cast("decimal(38,10)")
        .cast("decimal(38,2)")
        .cast("double")
        .alias("extended_cost"),
    )


# --- Boruvka minimum-spanning-forest round (round 7, session 4) -------------
@register(
    "boruvka_msf_round",
    oracle=f"""
    WITH und AS (
        SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        FROM (
            SELECT k AS src, (3 * k + 1) % {_BFS_N} AS dst
            FROM range({_BFS_N}) t(k) WHERE k % 3 <> 0
            UNION ALL
            SELECT k, (5 * k + 2) % {_BFS_N} FROM range({_BFS_N}) t(k)
            WHERE k % 2 = 0
        ) WHERE src <> dst
        GROUP BY 1, 2
    ),
    we AS (
        SELECT u, v,
               (('0x' || substr(md5('mst-' || u || '-' || v), 1, 12))::BIGINT)
                   AS w
        FROM und
    ),
    dir AS (
        SELECT u AS node, v AS other, w FROM we
        UNION ALL
        SELECT v, u, w FROM we
    ),
    pick AS (
        SELECT node, other, w FROM (
            SELECT node, other, w,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY w, other) AS rn
            FROM dir
        ) WHERE rn = 1
    ),
    chosen AS (
        SELECT LEAST(node, other) AS u, GREATEST(node, other) AS v,
               MAX(w) AS w,
               CAST(COUNT(*) AS BIGINT) AS picked_by
        FROM pick GROUP BY 1, 2
    )
    SELECT u, v, w, picked_by,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM chosen) AS n_chosen,
           (SELECT CAST(SUM(CAST(w AS DECIMAL(38,0))) AS BIGINT)
            FROM chosen) AS total_weight
    FROM chosen
    """,
    tags=("graph", "mst", "boruvka", "spanning_forest", "iterative"),
)
def boruvka_msf_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Borůvka round of distributed minimum-spanning-forest (the
    1926 algorithm that IS the scalable MST: Kruskal needs a global
    edge sort + sequential union-find, Prim a sequential frontier —
    Borůvka's 'every node grabs its cheapest incident edge' is one
    window over the edge list and halves the component count per
    round, so log V rounds finish the forest; this is also the
    GraphX/Pregel MST building block). By the cut property every
    chosen edge is IN the MSF (weights made distinct by the 48-bit
    md5 draw + (w, other) tie order), so the round's output is
    certified-correct MSF membership, not a heuristic. Edges are
    undirected (canonicalized u<v, one weight per pair), the per-node
    argmin is a (node)-partitioned window (map-side WindowGroupLimit
    shape), and mutual picks collapse by GROUP BY with picked_by ∈
    {{1,2}} recording which edges two components agreed on. Summary
    columns (edge count, total weight via exact decimal) ride every
    row for the one-query report."""
    from beam_pyspark_runner_spark.functions.hashing import h32
    from pyspark.sql import Window as W

    n = spark.range(_BFS_N)
    raw = (
        n.filter(F.col("id") % 3 != 0)
        .select(
            F.col("id").alias("src"),
            ((3 * F.col("id") + 1) % _BFS_N).alias("dst"),
        )
        .unionAll(
            n.filter(F.col("id") % 2 == 0).select(
                F.col("id"), ((5 * F.col("id") + 2) % _BFS_N)
            )
        )
        .filter(F.col("src") != F.col("dst"))
    )
    und = raw.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    # 48-bit md5 weight: effectively collision-free on ~700 edges
    we = und.select(
        "u",
        "v",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("-", F.lit("mst"), F.col("u"), F.col("v"))),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("w"),
    )
    dirn = we.select(
        F.col("u").alias("node"), F.col("v").alias("other"), "w"
    ).unionAll(we.select(F.col("v"), F.col("u"), F.col("w")))
    pick = (
        dirn.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("node").orderBy("w", "other")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    chosen = (
        pick.groupBy(
            F.least("node", "other").alias("u"),
            F.greatest("node", "other").alias("v"),
        )
        .agg(
            F.max("w").alias("w"),
            F.count("*").cast("long").alias("picked_by"),
        )
    )
    summary = chosen.agg(
        F.count("*").cast("long").alias("n_chosen"),
        F.sum(F.col("w").cast("decimal(38,0)"))
        .cast("long")
        .alias("total_weight"),
    )
    return chosen.crossJoin(F.broadcast(summary)).select(
        "u", "v", "w", "picked_by", "n_chosen", "total_weight"
    )


# --- GraphSAGE-style mean aggregation, 2 hops (round 7, session 4) ----------
_GNN_DIM = 4


@register(
    "gnn_mean_aggregation_2hop",
    oracle=f"""
    WITH e AS (
        SELECT src, dst FROM (
            SELECT k AS src, (3 * k + 1) % {_BFS_N} AS dst
            FROM range({_BFS_N}) t(k) WHERE k % 3 <> 0
            UNION ALL
            SELECT k, (5 * k + 2) % {_BFS_N} FROM range({_BFS_N}) t(k)
            WHERE k % 2 = 0
        ) WHERE src <> dst
    ),
    feat AS (
        SELECT k AS node,
               {", ".join(
                   "(('0x' || substr(md5('f" + str(d) + "-' || k), 1, 8))::BIGINT)"
                   " % 1000 AS f" + str(d)
                   for d in range(_GNN_DIM)
               )}
        FROM range({_BFS_N}) t(k)
    ),
    h1 AS (
        SELECT e.dst AS node,
               CAST(COUNT(*) AS BIGINT) AS deg1,
               {", ".join(
                   f"CAST(SUM(f.f{d}) AS DOUBLE) / COUNT(*) AS h1_{d}"
                   for d in range(_GNN_DIM)
               )}
        FROM e JOIN feat f ON f.node = e.src
        GROUP BY e.dst
    ),
    h2 AS (
        SELECT e.dst AS node,
               CAST(COUNT(*) AS BIGINT) AS deg2,
               {", ".join(
                   "CAST(SUM(CAST(h.h1_" + str(d) + " AS DECIMAL(38,10)))"
                   " AS DOUBLE) / COUNT(*) AS h2_" + str(d)
                   for d in range(_GNN_DIM)
               )}
        FROM e JOIN h1 h ON h.node = e.src
        GROUP BY e.dst
    )
    SELECT node, deg2 AS n_messages,
           {", ".join(f"h2_{d}" for d in range(_GNN_DIM))}
    FROM h2
    """,
    tags=("graph", "gnn", "message_passing", "neighborhood_aggregation",
          "iterative"),
)
def gnn_mean_aggregation_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of GraphSAGE-style MEAN neighborhood aggregation
    (Hamilton et al. NeurIPS'17) — the message-passing layer that IS
    distributed GNN training's data path, expressed as what it really
    is at system level: edges ⋈ features, group by destination,
    average; then the same join-aggregate again over the layer-1
    output, so each node's layer-2 state summarizes its exact 2-hop
    neighborhood (with multiplicity — sampled-neighbor variants change
    only the join input). Per-node input features are md5-derived
    integer vectors ({_GNN_DIM} dims); layer-1 means are exact
    integer/COUNT divisions, and layer-2 re-aggregates those doubles
    through exact decimal so the two-level average value-hashes across
    engines. Scale: per layer, one shuffle keyed on the edge
    destination — the same cost model as one Pregel superstep; feature
    width rides along as columns (vectorized, no Python), which is how
    a real trainer ships its feature matrix through Spark before
    hand-off."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    n = spark.range(_BFS_N)
    e = (
        checkpoint_audited(n.filter(F.col("id") % 3 != 0)
        .select(
            F.col("id").alias("src"),
            ((3 * F.col("id") + 1) % _BFS_N).alias("dst"),
        )
        .unionAll(
            n.filter(F.col("id") % 2 == 0).select(
                F.col("id"), ((5 * F.col("id") + 2) % _BFS_N)
            )
        )
        .filter(F.col("src") != F.col("dst")))
    )
    feat = n.select(
        F.col("id").alias("node"),
        *[
            (
                h32(F.concat_ws("-", F.lit(f"f{d}"), F.col("id"))) % 1000
            ).alias(f"f{d}")
            for d in range(_GNN_DIM)
        ],
    )
    h1 = (
        e.join(feat, e.src == feat.node)
        .groupBy(F.col("dst").alias("node"))
        .agg(
            F.count("*").cast("long").alias("deg1"),
            *[
                (F.sum(f"f{d}").cast("double") / F.count("*")).alias(
                    f"h1_{d}"
                )
                for d in range(_GNN_DIM)
            ],
        )
    )
    h2 = (
        e.join(h1, e.src == h1.node)
        .groupBy(F.col("dst").alias("node"))
        .agg(
            F.count("*").cast("long").alias("n_messages"),
            *[
                (
                    F.sum(F.col(f"h1_{d}").cast("decimal(38,10)")).cast(
                        "double"
                    )
                    / F.count("*")
                ).alias(f"h2_{d}")
                for d in range(_GNN_DIM)
            ],
        )
    )
    return h2.select(
        "node", "n_messages", *[f"h2_{d}" for d in range(_GNN_DIM)]
    )


# --- per-edge triangle support / k-truss seed (round 9) ---------------------------
@register(
    "edge_triangle_support",
    oracle=f"""
    WITH {_PAIR_SQL},
    tri_edges AS (
        SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM tri
        UNION ALL SELECT LEAST(a, c), GREATEST(a, c) FROM tri
        UNION ALL SELECT LEAST(b, c), GREATEST(b, c) FROM tri
    ),
    sup AS (
        SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support
        FROM tri_edges GROUP BY u, v
    ),
    per_edge AS (
        SELECT p.u, p.v, COALESCE(s.support, 0) AS support
        FROM pairs p LEFT JOIN sup s ON p.u = s.u AND p.v = s.v
    )
    SELECT support, CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM per_edge GROUP BY support
    """,
    tags=("graph", "k_truss", "triangle_support", "self_join"),
)
def edge_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EDGE triangle support over the DOULION-sampled supplier
    co-occurrence graph: for every edge, how many triangles contain it
    — the quantity whose threshold defines the k-truss (an edge is in
    the k-truss seed iff support >= k-2, Cohen 2008), the
    community-core definition that is cheaper and more parallel than
    k-core peeling because it is one triangle enumeration plus a
    histogram. Output is the full support distribution (support 0 =
    edges in no triangle), from which every k-truss seed size reads
    off as a tail sum. Reuses triangle_count's degree-oriented wedge
    closure (Suri & Vassilvitskii WWW'11) — the only change is keeping
    the closed wedge's THREE edge identities (inner join instead of
    the semi join) so counts land per edge instead of per node; all
    counts exact integers.

    Scale (100 TB): identical bounds to triangle_count — arboricity-
    bounded wedge fan-out, supplier-id-only rows, and the final
    histogram is constant-size."""
    pairs = _sampled_supplier_pairs(spark, sf_dir)
    deg = _pair_degrees(pairs)
    da = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # Node-grain degree lookups: no broadcast hint (round-10, verdict #1).
    oriented = (
        pairs.join(da, "u")
        .join(db, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    e1 = oriented.select("src", F.col("dst").alias("b"))
    e2 = oriented.select("src", F.col("dst").alias("c"))
    wedges = e1.join(e2, "src").filter(F.col("b") < F.col("c"))
    closure = pairs.select(F.col("u").alias("cu"), F.col("v").alias("cv"))
    tri = wedges.join(
        closure,
        (F.least("b", "c") == F.col("cu"))
        & (F.greatest("b", "c") == F.col("cv")),
        "inner",
    ).select(F.col("src").alias("a"), "b", "c")
    tri_edges = (
        tri.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .unionAll(
            tri.select(
                F.least("a", "c").alias("u"), F.greatest("a", "c").alias("v")
            )
        )
        .unionAll(
            tri.select(
                F.least("b", "c").alias("u"), F.greatest("b", "c").alias("v")
            )
        )
    )
    sup = tri_edges.groupBy("u", "v").agg(
        F.count("*").cast("long").alias("support")
    )
    per_edge = pairs.join(sup, ["u", "v"], "left").select(
        F.coalesce(F.col("support"), F.lit(0)).alias("support")
    )
    return per_edge.groupBy("support").agg(
        F.count("*").cast("long").alias("n_edges")
    )


# --- Sampled bounded-distance betweenness centrality (round 11) --------------------
_BETW_DEPTH = 12  # kappa: shortest-path length cap (bounded-distance Brandes)


def _betw_oracle_sql() -> str:
    """Unrolled Brandes forward/backward pass as chained CTEs (DuckDB
    recursive CTEs cannot aggregate in the recursive term, and the
    sigma accumulation per level IS a GROUP BY — so the bounded depth
    unrolls, one CTE pair per level, exactly mirroring the Spark
    loop)."""
    seeds = ", ".join(str(s) for s in _CLOSE_SEEDS)
    parts = [
        f"""
    e AS (
        SELECT k AS src, (3 * k + 1) % {_BFS_N} AS dst
        FROM range({_BFS_N}) t(k)
        UNION ALL
        SELECT k, (5 * k + 2) % {_BFS_N} FROM range({_BFS_N}) t(k)
    ),
    l0 AS (
        SELECT CAST(seed AS BIGINT) AS seed, CAST(seed AS BIGINT) AS node,
               CAST(1 AS BIGINT) AS sigma
        FROM (SELECT unnest(ARRAY[{seeds}]) AS seed)
    ),
    seen0 AS (SELECT seed, node, sigma FROM l0)"""
    ]
    for d in range(1, _BETW_DEPTH + 1):
        parts.append(f"""
    l{d} AS MATERIALIZED (
        SELECT c.seed, c.node, c.sigma FROM (
            SELECT p.seed, e.dst AS node, CAST(SUM(p.sigma) AS BIGINT) AS sigma
            FROM l{d - 1} p JOIN e ON e.src = p.node
            GROUP BY 1, 2
        ) c
        LEFT JOIN seen{d - 1} s ON s.seed = c.seed AND s.node = c.node
        WHERE s.node IS NULL
    ),
    seen{d} AS MATERIALIZED (
        SELECT seed, node, sigma FROM l{d}
        UNION ALL SELECT seed, node, sigma FROM seen{d - 1}
    )""")
    parts.append(f"""
    b{_BETW_DEPTH} AS MATERIALIZED (
        SELECT seed, node, sigma, CAST(0.0 AS DOUBLE) AS delta
        FROM l{_BETW_DEPTH}
    )""")
    for d in range(_BETW_DEPTH - 1, -1, -1):
        parts.append(f"""
    b{d} AS MATERIALIZED (
        SELECT v.seed, v.node, v.sigma,
               COALESCE(CAST(SUM(CAST(
                   CAST(v.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE)
                   * (1.0 + w.delta) AS DECIMAL(38,10))) AS DOUBLE),
                 0.0) AS delta
        FROM l{d} v
        LEFT JOIN e ON e.src = v.node
        LEFT JOIN b{d + 1} w ON w.seed = v.seed AND w.node = e.dst
        GROUP BY 1, 2, 3
    )""")
    unions = "\n        UNION ALL ".join(
        f"SELECT seed, node, delta FROM b{d}"
        for d in range(_BETW_DEPTH + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f""",
    allb AS (
        {unions}
    )
    SELECT node,
           CAST(SUM(CAST(delta AS DECIMAL(38,10))) AS DOUBLE) AS betweenness
    FROM allb WHERE node <> seed
    GROUP BY node
    """
    )


@register(
    "betweenness_centrality_sampled",
    oracle=_betw_oracle_sql(),
    tags=("graph", "betweenness_centrality", "brandes", "bfs",
          "iterative", "pivot_sample"),
)
def betweenness_centrality_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Betweenness centrality by Brandes' dependency accumulation
    (Brandes 2001) from the fixed pivot sample, distance-bounded at
    kappa = {_BETW_DEPTH} — the two standard approximations composed:
    source-sampling (Brandes-Pich 2007: sum dependencies from k pivots
    instead of all |V| sources) and bounded-distance (k-betweenness,
    Borgatti's bounded-path variant; also what the closeness family's
    depth cap already does, `closeness_centrality_sampled`). This is
    the one centrality the graph family lacked: degree counts contact,
    closeness measures reach, PageRank measures endorsement flow —
    betweenness measures BROKERAGE (how much shortest-path traffic
    routes THROUGH a node), and Brandes' backward pass is its only
    scalable form (the naive definition enumerates all-pairs paths).

    Forward: the shared-frontier multi-source BFS of the BFS family,
    carrying per-(seed, node) shortest-path COUNTS sigma — each level
    is one frontier-edges join + one exact integer partial aggregate,
    anti-joined against the seen set. Backward: per level (deepest
    first), delta(v) = sum over successors w of
    sigma_v/sigma_w * (1 + delta_w); each term is one fixed double
    expression over exact integers and the previous level's delta, and
    the per-node sum accumulates through exact DECIMAL(38,10) (the
    pagerank dsum discipline), so no float summation order exists in
    either engine. Betweenness(v) = sum of deltas over seeds, v != seed.

    The forward pass stops at the declared depth kappa (or earlier, at
    an empty level); the unrolled-CTE oracle mirrors the loop
    level-for-level, so a MATCH certifies sigma counting, the
    level-(d+1)-successor relation AND the dependency recursion.

    Scale (100 TB): every round is one frontier-vs-edges equi-join
    shared by all seeds (state is (seed, node) — k x |V| at worst); no
    all-pairs stage exists anywhere. On a billion-node edge list the
    same loop runs with the edge relation disk-backed; the depth cap
    bounds rounds, and Brandes-Pich pivot counts, not |V|, set the
    constant."""
    edges = _functional_edges(spark)
    seeds = spark.createDataFrame([(s,) for s in _CLOSE_SEEDS], "seed long")
    # levels[d] = the level-d frontier: a lazy filter over the pinned
    # visited set, so the backward pass reads only pinned blocks
    levels = []

    def step(seen, depth):
        prev = seen.filter(F.col("lv") == depth - 1).select("seed", "node", "sigma")
        levels.append(prev)
        cand = (
            prev.join(edges, prev.node == edges.src)
            .groupBy("seed", F.col("dst").alias("node"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
        )
        new = cand.join(seen, ["seed", "node"], "left_anti")
        return seen.unionAll(new.withColumn("lv", F.lit(depth).cast("long")))

    with _narrow_shuffle(spark, state_rows=len(_CLOSE_SEEDS) * _BFS_N):
        seen = fixpoint(
            "betweenness_centrality_sampled",
            seeds.select(
                "seed",
                F.col("seed").alias("node"),
                F.lit(1).cast("long").alias("sigma"),
                F.lit(0).cast("long").alias("lv"),
            ),
            step,
            added=lambda depth: F.col("lv") == depth,
            depth=_BETW_DEPTH,
        )
    if len(levels) == _BETW_DEPTH:
        # the walk reached kappa: level kappa was pinned but never a
        # frontier (empty if round kappa added nothing — harmless, an
        # empty level contributes no dependency)
        levels.append(seen.filter(F.col("lv") == _BETW_DEPTH).select("seed", "node", "sigma"))
    acc = "decimal(38,10)"
    deltas = [
        levels[-1].withColumn("delta", F.lit(0.0).cast("double"))
    ]
    for d in range(len(levels) - 2, -1, -1):
        v = levels[d].alias("v")
        w = deltas[-1].select(
            F.col("seed").alias("wseed"),
            F.col("node").alias("wnode"),
            F.col("sigma").alias("wsigma"),
            F.col("delta").alias("wdelta"),
        )
        term = (
            F.col("v.sigma").cast("double")
            / F.col("wsigma").cast("double")
            * (F.lit(1.0) + F.col("wdelta"))
        )
        contrib = (
            v.join(edges, F.col("v.node") == edges.src, "left")
            .join(
                w,
                (F.col("wseed") == F.col("v.seed"))
                & (F.col("wnode") == F.col("dst")),
                "left",
            )
            .groupBy(F.col("v.seed").alias("seed"), F.col("v.node").alias("node"))
            .agg(
                F.first(F.col("v.sigma")).alias("sigma"),
                F.coalesce(
                    F.sum(term.cast(acc)).cast("double"), F.lit(0.0)
                ).alias("delta"),
            )
        )
        # no per-round pin here: every input (levels[d], edges, the
        # previous delta) is already checkpointed, so the backward
        # chain grows the plan only linearly per level (O(L^2) nodes
        # total) — one declarative plan, zero extra jobs, unlike the
        # forward pass where the seen-set union would nest
        # exponentially without a pin
        deltas.append(contrib)
    allb = deltas[0].select("seed", "node", "delta")
    for dd in deltas[1:]:
        allb = allb.unionAll(dd.select("seed", "node", "delta"))
    return (
        allb.filter(F.col("node") != F.col("seed"))
        .groupBy("node")
        .agg(F.sum(F.col("delta").cast(acc)).cast("double").alias("betweenness"))
    )
