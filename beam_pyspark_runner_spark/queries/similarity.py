"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

North-star LLM-data surface (SURVEY.md §2.4 / §7 M6). All vector math is
JVM-side via higher-order functions (functions/vectors.py) — left-fold
accumulation in index order, which DuckDB's ``list_reduce`` reproduces
bit-for-bit, so even float cosine scores hash-match the oracle.

Scale notes (100 TB): brute-force top-k is the correctness baseline
(cost |Q|×|C|, fine for |Q| small with a broadcast query set); the LSH
bucket and IVF-centroid variants are the production paths — they shrink
the candidate set before any pairwise work, and both are single-shuffle
plans (groupBy bucket / broadcast-join centroids).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from beam_pyspark_runner_spark.functions.hashing import unit_hash, unit_hash_sql
from beam_pyspark_runner_spark.functions.numeric import dsum, dsum_sql
from beam_pyspark_runner_spark.functions.vectors import (
    cosine_similarity,
    dot,
    l2_norm,
    l2_sq,
)
from beam_pyspark_runner_spark.plans.audit import checkpoint_audited
from beam_pyspark_runner_spark.plans.fixpoint import checkpoint_observed
from beam_pyspark_runner_spark.queries.registry import register
from beam_pyspark_runner_spark.session import scoped_conf
from beam_pyspark_runner_spark.sources.readers import load_table, spread

N_QUERIES = 8  # vec_id < N_QUERIES form the query set
TOP_K = 10
N_HYPERPLANES = 8
DIM = 64
N_CENTROIDS = 4  # vec_id < N_CENTROIDS act as IVF centroids

# DuckDB twins of functions/vectors.py (index-order left folds).
_DOT_SQL = (
    "list_reduce(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]),"
    " (acc, x) -> acc + x)"
)
_NORM_SQL = "sqrt(list_reduce(list_transform({a}, x -> x * x), (acc, x) -> acc + x))"


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_DOT_SQL.format(a=a, b=b)} / "
        f"({_NORM_SQL.format(a=a)} * {_NORM_SQL.format(a=b)}))"
    )


_EMB_DBL = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


@register(
    "cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, {_EMB_DBL} AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, {_EMB_DBL} AS ce FROM embeddings),
    s AS (SELECT query_id, neighbor_id, {_cos_sql('qe', 'ce')} AS cosine
          FROM q, c WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, cosine, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM s
    ) WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "cosine", "top_k", "brute_force"),
    bench=True,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set, stream the corpus
    once, per-query heap via ranked window (WindowGroupLimit under AQE)."""
    e = load_table(spark, sf_dir, "embeddings")
    # Norms are computed ONCE per vector BELOW the cross join (projects
    # don't move across joins), so each of the |corpus|×|queries| scored
    # pairs pays only the dot fold instead of dot + two norm folds —
    # per-pair flops drop ~3x (opt guide §1.2 step 2). cosine stays
    # dot(qe,ce) / (norm(qe) * norm(ce)) with the SAME operand order,
    # so every double is bit-identical to the fused form.
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    c = spread(e).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias(
                "cosine"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", F.col("cosine"), F.col("rnk").cast("long").alias("rnk"))
    )


def _hyperplane(j: int) -> Column:
    """Deterministic pseudo-random hyperplane j as an array<double> column,
    derived from md5 so the oracle rebuilds it identically."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda i: unit_hash(F.concat_ws("-", F.lit("hp"), F.lit(j), i.cast("string"))),
    )


def _hyperplane_sql(j: int) -> str:
    comp = unit_hash_sql(f"'hp-{j}-' || i")
    return f"list_transform(range(0, {DIM}), i -> {comp})"


@register(
    "ann_lsh_buckets",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    sig AS (
        SELECT vec_id,
               {" + ".join(
                   f"(CASE WHEN {_DOT_SQL.format(a='emb', b=_hyperplane_sql(j))} >= 0"
                   f" THEN (1::BIGINT << {j}) ELSE 0 END)"
                   for j in range(N_HYPERPLANES)
               )} AS bucket
        FROM e
    )
    SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
    FROM sig GROUP BY bucket
    """,
    tags=("similarity", "lsh", "ann"),
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 8 sign bits → bucket id. ANN search then only
    compares within a bucket (and its hamming-1 neighbors) — the candidate
    set shrinks ~2^8× while cosine-close vectors collide with high
    probability. Plan: narrow map + one partial-agg shuffle on bucket."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    bucket = None
    for j in range(N_HYPERPLANES):
        bit = F.when(
            dot(F.col("embedding"), _hyperplane(j)) >= 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        bucket = bit if bucket is None else bucket + bit
    return (
        e.select("vec_id", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


@register(
    "ivf_centroid_assign",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb AS cemb FROM e
             WHERE vec_id < {N_CENTROIDS}),
    scored AS (SELECT vec_id, centroid_id, {_cos_sql('emb', 'cemb')} AS cosine
               FROM e, cent),
    best AS (
        SELECT vec_id, centroid_id, cosine FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cosine DESC, centroid_id) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT centroid_id, COUNT(*) AS n_assigned,
           {dsum_sql('cosine')} AS sum_cosine
    FROM best GROUP BY centroid_id
    """,
    tags=("similarity", "ivf", "ann", "centroid"),
)
def ivf_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style coarse quantization: assign every vector to its
    highest-cosine centroid (broadcast centroids, max_by per vector), then
    per-centroid stats. This is the build step of an IVF index: at 100 TB
    the corpus streams once against broadcast centroids — no shuffle until
    the final tiny per-centroid agg."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("emb")
    )
    cent = (
        e.filter(F.col("vec_id") < N_CENTROIDS)
        .select(F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb"))
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        cosine_similarity(F.col("emb"), F.col("cemb")).alias("cosine"),
    )
    assigned = scored.groupBy("vec_id").agg(
        F.max_by(
            "centroid_id", F.struct(F.col("cosine"), (-F.col("centroid_id")).alias("nc"))
        ).alias("centroid_id"),
        F.max("cosine").alias("cosine"),
    )
    return assigned.groupBy("centroid_id").agg(
        F.count("*").alias("n_assigned"),
        dsum("cosine").alias("sum_cosine"),
    )


NEAR_DUP_COSINE = 0.35  # testdata has no planted dups; 0.35 yields a stable tail


@register(
    "embedding_near_dup",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    sig AS (
        SELECT vec_id, emb,
               {" + ".join(
                   f"(CASE WHEN {_DOT_SQL.format(a='emb', b=_hyperplane_sql(j))} >= 0"
                   f" THEN (1::BIGINT << {j}) ELSE 0 END)"
                   for j in range(N_HYPERPLANES)
               )} AS bucket
        FROM e
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_cos_sql('a.emb', 'b.emb')} AS cosine
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_cos_sql('a.emb', 'b.emb')} >= {NEAR_DUP_COSINE}
    """,
    tags=("dedup", "near_dedup", "embedding", "cosine", "lsh"),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH sign-buckets generate
    candidates, exact cosine within the bucket verifies. Single pass: one
    groupBy(bucket) shuffle of (vec_id, embedding) rows, pair fan-out
    bucket-bounded (a self-join would rescan the corpus and hash twice).
    At 100 TB, bucket width (N_HYPERPLANES) tunes candidate volume."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    bucket = None
    for j in range(N_HYPERPLANES):
        bit = F.when(
            dot(F.col("embedding"), _hyperplane(j)) >= 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        bucket = bit if bucket is None else bucket + bit
    buckets = (
        e.select("vec_id", "embedding", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_set(F.struct("vec_id", "embedding"))).alias("vs"))
        .filter(F.size("vs") > 1)
    )
    pair_expr = F.expr(
        "flatten(transform(vs, (x, i) ->"
        " transform(slice(vs, i + 2, size(vs)), y -> struct("
        " x.vec_id AS vec_a, y.vec_id AS vec_b,"
        " x.embedding AS ea, y.embedding AS eb))))"
    )
    pairs = buckets.select(F.explode(pair_expr).alias("p")).select(
        F.col("p.vec_a").alias("vec_a"),
        F.col("p.vec_b").alias("vec_b"),
        cosine_similarity(F.col("p.ea"), F.col("p.eb")).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= NEAR_DUP_COSINE)


SEMDEDUP_COSINE = 0.35  # same stable-tail threshold as NEAR_DUP_COSINE


@register(
    "semantic_dedup",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb AS cemb FROM e
             WHERE vec_id < {N_CENTROIDS}),
    assigned AS (
        SELECT vec_id, emb, centroid_id FROM (
            SELECT v.vec_id, v.emb, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_cos_sql('v.emb', 'c.cemb')} DESC, c.centroid_id) AS rn
            FROM e v, cent c
        ) WHERE rn = 1
    ),
    drops AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        WHERE {_cos_sql('a.emb', 'b.emb')} >= {SEMDEDUP_COSINE}
    )
    SELECT v.vec_id, v.centroid_id, (d.vec_id IS NOT NULL) AS dropped
    FROM assigned v LEFT JOIN drops d ON v.vec_id = d.vec_id
    """,
    tags=("dedup", "semantic_dedup", "embedding", "kmeans", "clustering"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then comparing pairs ONLY
    within a cluster — the pruning that makes embedding-level dedup
    tractable where all-pairs cosine is not. Output: every vector with
    its cluster and a ``dropped`` verdict (a higher-id vector is dropped
    when any lower-id cluster-mate sits above the cosine threshold —
    deterministic keep-lowest-id; production would keep the one nearest
    the centroid, same plan shape).

    Scale notes (100 TB): assignment is the broadcast-centroid shape
    (corpus streams once); the intra-cluster pair stage shuffles on
    cluster id only, and the pair space is Σ|cluster|² — controlled by
    K, which a real run sets to 10k–100k clusters (K = n_vectors/avg
    cluster size, here the fixture's {N_CENTROIDS}). Drop verdicts
    reduce to a DISTINCT on the dropped id before the final left join —
    no pair row survives past its cluster."""
    # Per-vector norms computed once below the cross join (same exact
    # operand order as the fused cosine_similarity → bit-identical; see
    # ivf_topk_search for the flop accounting).
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.col("embedding").alias("emb"),
        l2_norm(F.col("embedding")).alias("en"),
    )
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("emb").alias("cemb"),
        F.col("en").alias("cn"),
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "emb",
        "en",
        "centroid_id",
        (dot(F.col("emb"), F.col("cemb")) / (F.col("en") * F.col("cn"))).alias(
            "cosine"
        ),
    )
    assigned = scored.groupBy("vec_id").agg(
        F.max_by(
            "centroid_id",
            F.struct(F.col("cosine"), (-F.col("centroid_id")).alias("nc")),
        ).alias("centroid_id"),
        F.first("emb").alias("emb"),  # emb functionally dependent on vec_id
        F.first("en").alias("en"),  # …and so is its precomputed norm
    )
    a = assigned.select(
        F.col("vec_id").alias("a_id"), F.col("centroid_id").alias("cid"),
        F.col("emb").alias("a_emb"), F.col("en").alias("an"),
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"), F.col("centroid_id").alias("cid"),
        F.col("emb").alias("b_emb"), F.col("en").alias("bn"),
    )
    drops = (
        a.join(b, "cid")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            dot(F.col("a_emb"), F.col("b_emb")) / (F.col("an") * F.col("bn"))
            >= SEMDEDUP_COSINE
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(drops.withColumn("d", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.coalesce("d", F.lit(False)).alias("dropped"),
        )
    )


N_PROBE = 2  # centroid lists searched per query
IVF_TOP_K = 5


@register(
    "ivf_topk_search",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb AS cemb FROM e
             WHERE vec_id < {N_CENTROIDS}),
    assigned AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_cos_sql('v.emb', 'c.cemb')} DESC, c.centroid_id) AS rn
            FROM e v, cent c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, centroid_id FROM (
            SELECT q.vec_id AS query_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_cos_sql('q.emb', 'c.cemb')} DESC, c.centroid_id) AS rn
            FROM e q, cent c WHERE q.vec_id < {N_QUERIES}
        ) WHERE rn <= {N_PROBE}
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_cos_sql('q.emb', 'v.emb')} AS cosine,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                                  ORDER BY {_cos_sql('q.emb', 'v.emb')} DESC, a.vec_id) AS rnk
        FROM probes p
        JOIN assigned a ON a.centroid_id = p.centroid_id
        JOIN e q ON q.vec_id = p.query_id
        JOIN e v ON v.vec_id = a.vec_id
        WHERE a.vec_id <> p.query_id
    ) WHERE rnk <= {IVF_TOP_K}
    """,
    tags=("similarity", "ivf", "ann", "top_k"),
    bench=True,
)
def ivf_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF ANN search: corpus vectors are bucketed by nearest
    centroid (the index build), each query probes only its N_PROBE best
    centroid lists, and exact cosine ranks within the probed lists.

    The 100 TB shape: centroids broadcast twice (index build + query
    probe), the corpus streams once to build assignments, and the search
    join touches only |probed lists| ≈ N_PROBE/N_CENTROIDS of the corpus
    — never an all-pairs scan. Recall tunes with N_PROBE."""
    # Each vector's l2 norm is computed ONCE at the scan projection and
    # carried as a column through every scoring join below (index build,
    # query probe, final search) — the fused cosine_similarity() form
    # re-folded BOTH operand norms per scored pair, tripling the per-pair
    # array-fold work (opt guide §1.2 step 2). Operand order inside each
    # cosine (dot / (left_norm * right_norm)) is preserved exactly, so
    # every double is bit-identical to the previous form.
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.col("embedding").alias("emb"),
        l2_norm(F.col("embedding")).alias("en"),
    )
    cent = (
        e.filter(F.col("vec_id") < N_CENTROIDS)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("emb").alias("cemb"),
            F.col("en").alias("cn"),
        )
    )
    # Index build: best centroid per corpus vector (broadcast centroids).
    # max_by in a hash aggregate, not a sort window: one partial+final agg
    # instead of shuffling + sorting |corpus|×|centroids| scored rows.
    # emb (and its norm) are functionally dependent on vec_id, so first()
    # is deterministic.
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "emb",
            "en",
            "centroid_id",
            (dot(F.col("emb"), F.col("cemb")) / (F.col("en") * F.col("cn"))).alias(
                "cos"
            ),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(F.col("cos"), (-F.col("centroid_id")).alias("nc")),
            ).alias("centroid_id"),
            F.first("emb").alias("vemb"),
            F.first("en").alias("vn"),
        )
    )
    # Query probe: N_PROBE best centroid lists per query.
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("en").alias("qn"),
    )
    w_probe = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qemb",
            "qn",
            "centroid_id",
            (dot(F.col("qemb"), F.col("cemb")) / (F.col("qn") * F.col("cn"))).alias(
                "cos"
            ),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "qemb", "qn", "centroid_id")
    )
    # Search only the probed lists; exact cosine rank within them.
    w_rank = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qemb"), F.col("vemb")) / (F.col("qn") * F.col("vn"))).alias(
                "cosine"
            ),
        )
        .withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rnk") <= IVF_TOP_K)
    )


@register(
    "cosine_topk_vectorized",
    # No SQL oracle by design: numpy's pairwise float reduction differs
    # from the index-order fold in the last ulps, which can flip ranks of
    # near-tied neighbors. tests/test_vectorized_similarity.py verifies
    # scores against the exact-fold twin to 1e-9 and top-k overlap.
    oracle=None,
    tags=("similarity", "cosine", "top_k", "pandas_udf", "arrow"),
)
def cosine_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k on the Arrow fast path: the query set is
    closure-captured into a grouped-map kernel, each corpus partition
    scores a (batch × queries) matrix product in numpy, and only each
    partition's local top-k survives to the final global rank.

    Why this exists next to ``cosine_topk``: Catalyst higher-order
    functions (aggregate/zip_with) are interpreted, not codegen'd
    (~20µs per 64-dim pair), while the numpy matmul is BLAS. The Arrow
    path carries ~2s of fixed worker/transfer overhead, so at the test
    corpus (5k × 8 pairs) the HOF twin wins; the crossover is around
    |corpus|×|Q| ≈ 10⁶ pairs and at production scale (millions of docs,
    thousands of queries) this path is orders of magnitude faster.
    Kernel shape at 100 TB: queries broadcast (small), corpus streams
    once, per-partition top-k bounds the shuffle to (partitions × |Q| × k)
    rows before the final window."""
    import numpy as np

    e = spread(load_table(spark, sf_dir, "embeddings"))
    qrows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = "query_id long, neighbor_id long, cosine double"

    def kernel(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c = np.array(list(pdf["embedding"]), dtype=np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            scores = c @ q_mat.T  # (batch, |Q|)
            frames = []
            for j, qid in enumerate(q_ids):
                col = scores[:, j]
                mask = ids != qid
                take = min(TOP_K, int(mask.sum()))
                if take == 0:
                    continue
                cand = np.flatnonzero(mask)
                top = cand[np.argsort(-col[cand], kind="stable")[:take]]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[top],
                            "cosine": col[top],
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            )

    import pandas as pd  # noqa: F401  (kernel closure)

    scored = e.select("vec_id", "embedding").mapInPandas(kernel, out_schema)
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


@register(
    "kmeans_lloyd_step",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb AS cemb FROM e
             WHERE vec_id < {N_CENTROIDS}),
    scored AS (SELECT vec_id, centroid_id, {_cos_sql('emb', 'cemb')} AS cosine
               FROM e, cent),
    best AS (
        SELECT vec_id, centroid_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cosine DESC, centroid_id) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT b.centroid_id, CAST(t.i AS INTEGER) AS dim,
           {dsum_sql('e.emb[t.i + 1]')} / CAST(COUNT(*) AS DOUBLE) AS mean_val
    FROM best b
    JOIN e ON e.vec_id = b.vec_id
    CROSS JOIN range({DIM}) t(i)
    GROUP BY b.centroid_id, t.i
    """,
    tags=("similarity", "kmeans", "iterative", "centroid", "ml"),
    bench=True,
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd's k-means iteration, DataFrame-native: assign every
    vector to its best centroid (broadcast centroids, corpus streams
    once — the ivf_centroid_assign shape), then recompute centroids as
    per-dimension means via posexplode + exact-decimal averaging, so the
    updated centroids hash-match DuckDB bit-for-bit. Output is (cluster,
    dim, mean) rows — the scalar form the compare harness hashes; an
    iterative trainer loops this plan exactly like dedup_components
    loops label propagation (checkpoint between iterations).

    Scale notes (100 TB): assignment is shuffle-free against broadcast
    centroids; the recompute shuffles (centroid, dim) partial sums only
    — K×DIM groups regardless of corpus size, the canonical mergeable
    partial-agg shape."""
    # Per-vector norms computed once below the cross join (same exact
    # operand order as the fused cosine_similarity → bit-identical; see
    # ivf_topk_search for the flop accounting).
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.col("embedding").alias("emb"),
        l2_norm(F.col("embedding")).alias("en"),
    )
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("emb").alias("cemb"),
        F.col("en").alias("cn"),
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "emb",
        "en",
        "centroid_id",
        (dot(F.col("emb"), F.col("cemb")) / (F.col("en") * F.col("cn"))).alias(
            "cosine"
        ),
    )
    assigned = scored.groupBy("vec_id").agg(
        F.max_by(
            "centroid_id",
            F.struct(F.col("cosine"), (-F.col("centroid_id")).alias("nc")),
        ).alias("centroid_id"),
        F.first("emb").alias("emb"),  # emb is functionally dependent on vec_id
    )
    per_dim = assigned.select(
        "centroid_id",
        F.posexplode(F.col("emb").cast("array<double>")).alias("dim", "val"),
    )
    return per_dim.groupBy("centroid_id", "dim").agg(
        (dsum("val") / F.count("*").cast("double")).alias("mean_val")
    )


# --- Product quantization (PQ): compressed-domain ANN -----------------------
# Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011). The 64-dim space splits into PQ_M=4 subspaces of
# PQ_SUB=16 dims; each subvector quantizes to its nearest of PQ_K=16
# deterministic codebook centroids (the first PQ_K corpus vectors), so a
# vector stores as 4 small codes instead of 64 floats — 64× compression.
# Search never touches raw corpus vectors: a per-query lookup table of
# query-to-centroid partial distances (PQ_M×PQ_K doubles) is broadcast
# and summed per code — the asymmetric distance computation (ADC).
PQ_M = 4
PQ_SUB = 16
PQ_K = 16  # vec_id < PQ_K form the codebook
PQ_QLO, PQ_QHI = 16, 20  # vec_id in [16, 20) form the ADC query set

# DuckDB twin of functions/vectors.py:l2_sq (index-order left fold).
_L2SQ_SQL = (
    "list_reduce(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (acc, x) -> acc + x)"
)

# Shared oracle CTEs: explode every vector into PQ_M double-cast
# subvectors, take the codebook slice, assign nearest code per subspace.
_PQ_CTES = f"""
    sub AS (
        SELECT vec_id, m,
               list_transform(list_slice(embedding, m * {PQ_SUB} + 1, (m + 1) * {PQ_SUB}),
                              x -> CAST(x AS DOUBLE)) AS subvec
        FROM embeddings, (SELECT UNNEST(range({PQ_M})) AS m)
    ),
    cb AS (SELECT vec_id AS cid, m, subvec AS csub FROM sub WHERE vec_id < {PQ_K}),
    dist AS (
        SELECT s.vec_id, s.m, c.cid,
               {_L2SQ_SQL.format(a="s.subvec", b="c.csub")} AS d2
        FROM sub s JOIN cb c ON s.m = c.m
    ),
    codes AS (
        SELECT vec_id, m, cid AS code FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                         ORDER BY d2, cid) AS rn
            FROM dist
        ) WHERE rn = 1
    )
"""


def _pq_subvectors(e: DataFrame) -> DataFrame:
    """(vec_id, m, subvec): every vector split into PQ_M slices, JVM-side."""
    slices = F.array(
        *[F.slice("embedding", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)]
    )
    return e.select(
        "vec_id", F.posexplode(slices).alias("m", "subvec")
    ).withColumn("m", F.col("m").cast("bigint"))


def _pq_codebook(e: DataFrame) -> DataFrame:
    """(cid, m, csub): the deterministic codebook — tiny, broadcast-able."""
    return _pq_subvectors(e.filter(F.col("vec_id") < PQ_K)).select(
        F.col("vec_id").alias("cid"), "m", F.col("subvec").alias("csub")
    )


def _pq_codes(e: DataFrame) -> DataFrame:
    """(vec_id, m, code): nearest-centroid assignment per subspace."""
    from beam_pyspark_runner_spark.functions.vectors import l2_sq

    scored = _pq_subvectors(e).join(F.broadcast(_pq_codebook(e)), "m").select(
        "vec_id", "m", F.col("cid"),
        l2_sq(F.col("subvec"), F.col("csub")).alias("d2"),
    )
    w = W.partitionBy("vec_id", "m").orderBy("d2", "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", F.col("cid").alias("code"))
    )


@register(
    "pq_encode",
    oracle=f"WITH {_PQ_CTES} SELECT vec_id, m, code FROM codes",
    tags=("similarity", "pq", "ann", "compression"),
)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding: corpus → (vector, subspace, code) assignments.

    The codebook (PQ_K×PQ_M subvectors) broadcasts; encoding is a
    broadcast join + per-(vector, subspace) argmin — shuffle-free until
    the ranked window, whose keys are (vec_id, m), i.e. perfectly spread.
    At 100 TB the encoded table is what persists: 4 byte-sized codes per
    vector instead of 256 bytes of floats, and every downstream ADC scan
    reads only codes. Ties break on centroid id in both engines."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    return _pq_codes(e)


@register(
    "pq_adc_topk",
    oracle=f"""
    WITH {_PQ_CTES},
    q AS (SELECT vec_id AS query_id, m, subvec AS qsub
          FROM sub WHERE vec_id >= {PQ_QLO} AND vec_id < {PQ_QHI}),
    lut AS (
        SELECT q.query_id, c.m, c.cid,
               {_L2SQ_SQL.format(a="q.qsub", b="c.csub")} AS pdist
        FROM q JOIN cb c ON q.m = c.m
    ),
    adc AS (
        SELECT l.query_id, k.vec_id, {dsum_sql('pdist')} AS adc_dist
        FROM codes k JOIN lut l ON k.m = l.m AND k.code = l.cid
        WHERE k.vec_id <> l.query_id
        GROUP BY l.query_id, k.vec_id
    )
    SELECT query_id, vec_id AS neighbor_id, adc_dist, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, vec_id) AS rnk
        FROM adc
    ) WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "pq", "ann", "adc", "top_k"),
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation over PQ codes: compressed-domain
    top-k without touching a single raw corpus vector at query time.

    The lookup table (|Q|×PQ_M×PQ_K = 256 partial distances) broadcasts;
    the scan joins codes→LUT map-side and sums PQ_M partials per
    (query, vector) through exact decimal accumulation (functions/
    numeric.py:dsum) so the 4-way double sum is merge-order-proof. The
    only shuffle keys on (query_id, vec_id) partial sums; per-query
    top-k is a ranked window (WindowGroupLimit). At 100 TB this is the
    IVF-PQ residual scan shape: candidate codes stream once, LUT lives
    in the closure."""
    from beam_pyspark_runner_spark.functions.numeric import dsum
    from beam_pyspark_runner_spark.functions.vectors import l2_sq

    e = spread(load_table(spark, sf_dir, "embeddings"))
    codes = _pq_codes(e)
    q = _pq_subvectors(
        e.filter((F.col("vec_id") >= PQ_QLO) & (F.col("vec_id") < PQ_QHI))
    ).select(F.col("vec_id").alias("query_id"), "m", F.col("subvec").alias("qsub"))
    lut = q.join(_pq_codebook(e), "m").select(
        "query_id", "m", "cid",
        l2_sq(F.col("qsub"), F.col("csub")).alias("pdist"),
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (codes.m == lut.m) & (codes.code == lut.cid)
            & (codes.vec_id != lut.query_id),
        )
        .groupBy("query_id", "vec_id")
        .agg(dsum("pdist").alias("adc_dist"))
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_dist",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "ivfpq_topk_search",
    oracle=f"""
    WITH {_PQ_CTES},
    e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb AS cemb FROM e
             WHERE vec_id < {N_CENTROIDS}),
    assigned AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_cos_sql('v.emb', 'c.cemb')} DESC, c.centroid_id) AS rn
            FROM e v, cent c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, centroid_id FROM (
            SELECT q.vec_id AS query_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_cos_sql('q.emb', 'c.cemb')} DESC, c.centroid_id) AS rn
            FROM e q, cent c WHERE q.vec_id >= {PQ_QLO} AND q.vec_id < {PQ_QHI}
        ) WHERE rn <= {N_PROBE}
    ),
    qsub AS (SELECT vec_id AS query_id, m, subvec AS qs
             FROM sub WHERE vec_id >= {PQ_QLO} AND vec_id < {PQ_QHI}),
    lut AS (
        SELECT q.query_id, c.m, c.cid,
               {_L2SQ_SQL.format(a="q.qs", b="c.csub")} AS pdist
        FROM qsub q JOIN cb c ON q.m = c.m
    ),
    cand AS (
        SELECT p.query_id, a.vec_id
        FROM probes p JOIN assigned a ON a.centroid_id = p.centroid_id
        WHERE a.vec_id <> p.query_id
    ),
    adc AS (
        SELECT cd.query_id, cd.vec_id, {dsum_sql('pdist')} AS adc_dist
        FROM cand cd
        JOIN codes k ON k.vec_id = cd.vec_id
        JOIN lut l ON k.m = l.m AND k.code = l.cid AND l.query_id = cd.query_id
        GROUP BY cd.query_id, cd.vec_id
    )
    SELECT query_id, neighbor_id, adc_dist, rnk FROM (
        SELECT query_id, vec_id AS neighbor_id, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, vec_id) AS rnk
        FROM adc
    ) WHERE rnk <= {IVF_TOP_K}
    """,
    tags=("similarity", "ivf", "pq", "ann", "adc", "top_k"),
)
def ivfpq_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the production web-scale ANN composition (coarse inverted
    lists + product-quantized codes, Jégou et al. TPAMI'11 §V). Queries
    probe their N_PROBE best coarse lists (IVF recall control), and
    ranking inside the probed lists runs entirely in the compressed
    domain via the PQ ADC lookup table — raw corpus vectors are touched
    only at index build, never at query time. This variant quantizes raw
    vectors (IVFFlat-style, no residuals) so the oracle stays exactly
    SQL-expressible; residual PQ swaps the encode input, same plan.

    Scale notes (100 TB): centroids and the 256-entry LUT broadcast;
    the candidate join keys on centroid_id (≈ N_PROBE/N_CENTROIDS of
    the corpus) and the ADC join keys on vec_id — both shuffle only
    candidate-sized rows of codes, never embeddings. Decimal-exact
    partial-distance sums keep the ranking merge-order-proof."""
    from beam_pyspark_runner_spark.functions.numeric import dsum
    from beam_pyspark_runner_spark.functions.vectors import l2_sq

    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("emb")
    )
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb")
    )
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "centroid_id",
            cosine_similarity(F.col("emb"), F.col("cemb")).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(F.col("cos"), (-F.col("centroid_id")).alias("nc")),
            ).alias("centroid_id")
        )
    )
    q = e.filter((F.col("vec_id") >= PQ_QLO) & (F.col("vec_id") < PQ_QHI)).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    w_probe = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id", "centroid_id",
            cosine_similarity(F.col("qemb"), F.col("cemb")).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "centroid_id")
    )
    emb_full = load_table(spark, sf_dir, "embeddings")
    codes = _pq_codes(emb_full)
    qs = _pq_subvectors(
        emb_full.filter((F.col("vec_id") >= PQ_QLO) & (F.col("vec_id") < PQ_QHI))
    ).select(F.col("vec_id").alias("query_id"), "m", F.col("subvec").alias("qs"))
    lut = qs.join(_pq_codebook(emb_full), "m").select(
        "query_id", "m", "cid", l2_sq(F.col("qs"), F.col("csub")).alias("pdist")
    )
    cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id")
    lut_r = lut.select(
        F.col("query_id").alias("l_query_id"),
        F.col("m").alias("l_m"),
        "cid",
        "pdist",
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(lut_r),
            (F.col("m") == F.col("l_m")) & (F.col("code") == F.col("cid"))
            & (F.col("query_id") == F.col("l_query_id")),
        )
        .groupBy("query_id", "vec_id")
        .agg(dsum("pdist").alias("adc_dist"))
    )
    w_rank = W.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= IVF_TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_dist",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "embedding_scalar_quantize",
    oracle=f"""
    WITH dims AS (
        SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings
        CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
    ),
    stats AS (
        SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM dims GROUP BY pos
    ),
    coded AS (
        SELECT d.vec_id, d.pos, d.v, s.mn, s.mx,
               CASE WHEN s.mx = s.mn THEN 0
                    ELSE LEAST(255, GREATEST(0,
                         CAST(FLOOR((d.v - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT)))
               END AS code
        FROM dims d JOIN stats s USING (pos)
    ),
    errs AS (
        SELECT vec_id, pos, code,
               POW(v - (mn + (CAST(code AS DOUBLE) + 0.5) * (mx - mn) / 255.0), 2)
                   AS err
        FROM coded
    )
    SELECT vec_id,
           array_to_string(list(code ORDER BY pos)[1:4], ',') AS codes_prefix,
           {dsum_sql('err')} / 64.0 AS recon_mse
    FROM errs
    GROUP BY vec_id
    """,
    tags=("similarity", "quantization", "int8", "vector_storage"),
)
def embedding_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (per-dimension min/max) uint8 quantization of the
    embedding corpus — the storage-side sibling of product quantization
    (cf. pq_topk_adc): 64 float32 → 64 bytes, 4× compression, and the
    per-vector reconstruction MSE that tells a vector-store operator
    whether int8 recall will hold. FAISS's ScalarQuantizer in DataFrame
    algebra, fully inside codegen.

    Shape: (1) one partial-aggregated pass computes the 64 per-dimension
    (min,max) calibration rows — constant-size state however many
    vectors; (2) the calibration table broadcast-joins back on dimension
    index; encode/decode/error are arithmetic on the exploded rows;
    (3) one groupBy(vec_id) reassembles codes and folds the error in
    exact decimal. Nothing in the plan grows with corpus size except
    the two vec_id-keyed exchanges. At 100 TB the calibration pass would
    run on a sample; the full-corpus min/max here keeps the oracle
    exact."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dims = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("pos0", "vf"),
    ).select(
        "vec_id",
        # the explicit pmod is an identity for any fixture-width vector
        # (dims << 4096) and makes the calibration key's cardinality an
        # ENFORCED bound the plan auditor can prove, instead of a
        # name-trusted assumption about posexplode ordinals
        F.pmod(F.col("pos0") + 1, F.lit(4096)).alias("pos"),
        F.col("vf").cast("double").alias("v"),
    )
    stats = dims.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    span = F.col("mx") - F.col("mn")
    coded = dims.join(F.broadcast(stats), "pos").withColumn(
        "code",
        F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col("v") - F.col("mn")) * 255.0 / span),
                ),
            )
        ).cast("long"),
    )
    recon = F.col("mn") + (F.col("code").cast("double") + 0.5) * span / 255.0
    errs = coded.withColumn("err", F.pow(F.col("v") - recon, F.lit(2.0)))
    return errs.groupBy("vec_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.slice(
                    F.array_sort(F.collect_list(F.struct("pos", "code"))), 1, 4
                ),
                lambda s: s.code,
            ),
        ).alias("codes_prefix"),
        (dsum(F.col("err")) / F.lit(64.0)).alias("recon_mse"),
    )


@register(
    "label_centroid_dispersion",
    oracle="""
    WITH dims AS (
        SELECT label, vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings
        CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
    ),
    per_pos AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) AS sv,
               CAST(ROUND(SUM(CAST(v * v AS DECIMAL(38,10))), 2) AS DOUBLE) AS svv,
               COUNT(*) AS n
        FROM dims GROUP BY 1, 2
    )
    SELECT label,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_vectors,
           CAST(ROUND(SUM(CAST(svv / n AS DECIMAL(38,10))), 6) AS DOUBLE)
               AS mean_sq_norm,
           CAST(ROUND(SUM(CAST((sv / n) * (sv / n) AS DECIMAL(38,10))), 6)
               AS DOUBLE) AS centroid_sq_norm
    FROM per_pos
    GROUP BY label
    """,
    tags=("similarity", "embedding_quality", "centroid", "dispersion"),
)
def label_centroid_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality report per class label: centroid norm vs
    mean vector norm, whose gap E[|x|²] − |μ|² is exactly the total
    within-class variance (the dispersion a collapsing embedding model
    drives to zero). Evaluation-side sibling of kmeans_lloyd_step: same
    per-(label, dimension) power-sum shape — constant-size state
    (|labels|×64 rows) however many vectors — but consumed as a metric
    instead of a centroid update. All sums accumulate in exact decimal;
    per-dimension means divide once in double; the 64-term reductions
    re-enter decimal so no float summation order exists anywhere."""
    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "vf")
    ).select(
        "label", F.col("pos0").alias("pos"), F.col("vf").cast("double").alias("v")
    )
    dec = "decimal(38,10)"
    per_pos = dims.groupBy("label", "pos").agg(
        F.sum(F.col("v").cast(dec)).cast("double").alias("sv"),
        F.sum((F.col("v") * F.col("v")).cast(dec))
        .cast("decimal(38,2)").cast("double").alias("svv"),
        F.count("*").alias("n"),
    )
    mean = F.col("sv") / F.col("n")
    return per_pos.groupBy("label").agg(
        F.first("n").cast("long").alias("n_vectors"),
        F.sum((F.col("svv") / F.col("n")).cast(dec))
        .cast("decimal(38,6)").cast("double").alias("mean_sq_norm"),
        F.sum((mean * mean).cast(dec))
        .cast("decimal(38,6)").cast("double").alias("centroid_sq_norm"),
    )


@register(
    "retrieval_eval_mrr",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qlab, {_EMB_DBL} AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, label AS clab, {_EMB_DBL} AS ce
          FROM embeddings),
    s AS (SELECT query_id, qlab, neighbor_id, clab,
                 {_cos_sql('qe', 'ce')} AS cosine
          FROM q, c WHERE query_id <> neighbor_id),
    ranked AS (
        SELECT query_id, qlab, clab,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM s
    ),
    topk AS (SELECT * FROM ranked WHERE rnk <= {TOP_K}),
    per_q AS (
        SELECT query_id,
               MIN(CASE WHEN qlab = clab THEN rnk END) AS first_rel,
               COUNT(*) FILTER (WHERE qlab = clab) AS n_rel
        FROM topk GROUP BY query_id
    )
    SELECT query_id,
           CAST(COALESCE(n_rel, 0) AS BIGINT) AS relevant_at_k,
           CAST(COALESCE(n_rel, 0) AS DOUBLE) / {TOP_K}.0 AS precision_at_k,
           CASE WHEN first_rel IS NOT NULL
                THEN 1.0 / CAST(first_rel AS DOUBLE) ELSE 0.0 END
               AS reciprocal_rank
    FROM per_q
    """,
    tags=("similarity", "ir_eval", "mrr", "precision_at_k"),
)
def retrieval_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation over the engine's own ANN ground truth:
    per-query precision@k and reciprocal rank, with the embedding
    LABEL as relevance — the measurement that turns 'we have cosine
    top-k' into 'retrieval finds same-class neighbors at rank r'.
    MRR and P@k are rational (1/rank, counts/k); NDCG's log2 discount
    is the textbook alternative but would ride libm (the recurring
    trade — rank-based metrics chosen for cross-engine exactness).
    The eval pipeline IS the cosine_topk plan (broadcast queries,
    one corpus stream, ranked window) plus one per-query aggregate —
    evaluation costs one extra constant-size agg, not a second
    scan."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlab"),
        F.col("embedding").alias("qe"),
    )
    c = spread(e).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clab"),
        F.col("embedding").alias("ce"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "qlab", "neighbor_id", "clab",
            cosine_similarity(F.col("qe"), F.col("ce")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOP_K
    )
    rel = F.col("qlab") == F.col("clab")
    per_q = topk.groupBy("query_id").agg(
        F.min(F.when(rel, F.col("rnk"))).alias("first_rel"),
        F.count(F.when(rel, 1)).alias("n_rel"),
    )
    return per_q.select(
        "query_id",
        F.coalesce(F.col("n_rel"), F.lit(0)).alias("relevant_at_k"),
        (
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("double") / float(TOP_K)
        ).alias("precision_at_k"),
        F.when(
            F.col("first_rel").isNotNull(),
            F.lit(1.0) / F.col("first_rel").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("reciprocal_rank"),
    )


@register(
    "triplet_mining",
    oracle=f"""
    WITH a AS (SELECT vec_id AS anchor_id, label AS albl, {_EMB_DBL} AS ae
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS cand_id, label AS clbl, {_EMB_DBL} AS ce
          FROM embeddings),
    s AS (
        SELECT anchor_id, albl, cand_id,
               clbl = albl AS is_pos,
               {_cos_sql('ae', 'ce')} AS cosine
        FROM a, c WHERE anchor_id <> cand_id
    ),
    r AS (
        SELECT anchor_id, albl, cand_id, is_pos, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY anchor_id, is_pos
                   ORDER BY cosine DESC, cand_id
               ) AS rn
        FROM s
    )
    SELECT anchor_id,
           CAST(MAX(albl) AS BIGINT) AS label,
           MAX(CASE WHEN is_pos THEN cand_id END) AS pos_id,
           MAX(CASE WHEN is_pos THEN cosine END) AS pos_sim,
           MAX(CASE WHEN NOT is_pos THEN cand_id END) AS neg_id,
           MAX(CASE WHEN NOT is_pos THEN cosine END) AS neg_sim,
           MAX(CASE WHEN is_pos THEN cosine END)
               - MAX(CASE WHEN NOT is_pos THEN cosine END) AS margin
    FROM r WHERE rn = 1
    GROUP BY anchor_id
    """,
    tags=("similarity", "triplet_mining", "contrastive", "hard_negatives"),
)
def triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-triplet mining for contrastive training (FaceNet / SimCLR
    data prep): for each anchor, the HARDEST positive (most-similar
    same-label vector — if even this one scores high the class is
    coherent) and the HARDEST negative (most-similar different-label
    vector — the confusable impostor), plus the margin between them
    that the triplet loss will try to widen. Negative margin = the
    anchor's nearest neighbor is from another class — exactly the
    examples worth training on.

    Plan shape is cosine_topk's scale template: anchors broadcast, the
    corpus streams ONCE, and both argmaxes come from a single ranked
    window partitioned by (anchor, is_positive) — WindowGroupLimit
    keeps per-partition heaps, so nothing materializes the full scored
    set. Determinism: identical index-order fold for the dot products
    in both engines (functions/vectors.py), ties broken by cand_id."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("albl"),
        F.col("embedding").alias("ae"),
    )
    c = spread(e).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("clbl"),
        F.col("embedding").alias("ce"),
    )
    scored = (
        c.crossJoin(F.broadcast(a))
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "albl",
            "cand_id",
            (F.col("clbl") == F.col("albl")).alias("is_pos"),
            cosine_similarity(F.col("ae"), F.col("ce")).alias("cosine"),
        )
    )
    w = W.partitionBy("anchor_id", "is_pos").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    top = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    pos_sim = F.max(F.when(F.col("is_pos"), F.col("cosine")))
    neg_sim = F.max(F.when(~F.col("is_pos"), F.col("cosine")))
    return top.groupBy("anchor_id").agg(
        F.max("albl").cast("long").alias("label"),
        F.max(F.when(F.col("is_pos"), F.col("cand_id"))).alias("pos_id"),
        pos_sim.alias("pos_sim"),
        F.max(F.when(~F.col("is_pos"), F.col("cand_id"))).alias("neg_id"),
        neg_sim.alias("neg_sim"),
        (pos_sim - neg_sim).alias("margin"),
    )


@register(
    "hybrid_search_rrf",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    ),
    e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    q AS (
        SELECT d.toks AS qtoks, e.emb AS qvec
        FROM d JOIN e ON e.vec_id = d.doc_id WHERE d.doc_id = 0
    ),
    scored AS (
        SELECT d.doc_id,
               len(list_intersect(d.toks, q.qtoks)) AS kw_score,
               {_cos_sql('e.emb', 'q.qvec')} AS vec_score
        FROM d JOIN e ON e.vec_id = d.doc_id CROSS JOIN q
        WHERE d.doc_id <> 0
    ),
    ranked AS (
        SELECT doc_id, kw_score, vec_score,
               ROW_NUMBER() OVER (ORDER BY kw_score DESC, doc_id) AS r_kw,
               ROW_NUMBER() OVER (ORDER BY vec_score DESC, doc_id) AS r_vec
        FROM scored
    )
    SELECT doc_id, CAST(kw_score AS BIGINT) AS kw_score, vec_score,
           CAST(r_kw AS BIGINT) AS r_kw, CAST(r_vec AS BIGINT) AS r_vec,
           1.0 / (60 + r_kw) + 1.0 / (60 + r_vec) AS rrf_score
    FROM ranked
    ORDER BY 1.0 / (60 + r_kw) + 1.0 / (60 + r_vec) DESC, doc_id
    LIMIT 10
    """,
    tags=("similarity", "hybrid_search", "rrf", "retrieval"),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al.
    SIGIR'09, the fusion every production RAG stack ships): a keyword
    leg (shared-distinct-token count against the query doc) and a
    vector leg (cosine to the query embedding) are RANKED separately,
    then fused as Σ 1/(60 + rank) — rank fusion needs no score
    normalization, which is exactly why it beats score mixing across
    incomparable scales. Both legs come from ONE scan of the
    doc⋈embedding table with the 1-row query broadcast; ranks are
    integers so the fused score is deterministic IEEE arithmetic.

    Scale shape — no global rank window: the top-10 by RRF can only
    contain docs from (kw top-80 ∪ vec top-80). Lemma: the ten docs
    with r_kw ∈ 1..10 each score > 1/70, while any doc outside both
    top-80s scores < 2/141 < 1/70 — it cannot displace them. Each
    leg's candidates come from a TakeOrdered heap, and every
    candidate's EXACT corpus-wide ranks are conditional counts
    (rank = 1 + |better-ranked docs|) computed in one broadcast-
    crossJoin aggregate with map-side partial aggregation — the corpus
    is scanned, never sorted. In production each leg would PRE-FILTER
    further (inverted-index top-N: `inverted_index_postings`; IVF
    probes: `ivf_topk_search`)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    de = d.join(e, "doc_id")
    q = de.filter(F.col("doc_id") == 0).select(
        F.col("toks").alias("qtoks"), F.col("embedding").alias("qvec")
    )
    scored = (
        de.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            F.size(F.array_intersect("toks", "qtoks")).alias("kw_score"),
            cosine_similarity(F.col("embedding"), F.col("qvec")).alias(
                "vec_score"
            ),
        )
    )
    base = scored.select(
        "doc_id", F.col("kw_score").cast("long").alias("kw_score"), "vec_score"
    )
    top_kw = base.orderBy(F.col("kw_score").desc(), "doc_id").limit(80)
    top_vec = base.orderBy(F.col("vec_score").desc(), "doc_id").limit(80)
    cands = (
        top_kw.unionByName(top_vec)
        .dropDuplicates(["doc_id"])
        .select(
            F.col("doc_id").alias("c_id"),
            F.col("kw_score").alias("c_kw"),
            F.col("vec_score").alias("c_vec"),
        )
    )

    def _better(col: str, cand: str):
        return (F.col(col) > F.col(cand)) | (
            (F.col(col) == F.col(cand)) & (F.col("doc_id") < F.col("c_id"))
        )

    ranked = (
        base.crossJoin(F.broadcast(cands))
        .groupBy("c_id", "c_kw", "c_vec")
        .agg(
            (1 + F.sum(F.when(_better("kw_score", "c_kw"), 1).otherwise(0)))
            .cast("long")
            .alias("r_kw"),
            (1 + F.sum(F.when(_better("vec_score", "c_vec"), 1).otherwise(0)))
            .cast("long")
            .alias("r_vec"),
        )
    )
    rrf = F.lit(1.0) / (60 + F.col("r_kw")) + F.lit(1.0) / (
        60 + F.col("r_vec")
    )
    return (
        ranked.select(
            F.col("c_id").alias("doc_id"),
            F.col("c_kw").alias("kw_score"),
            F.col("c_vec").alias("vec_score"),
            "r_kw",
            "r_vec",
            rrf.alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(10)
    )


# ann_recall_at_k composes the ALREADY-REGISTERED ivf oracle as a CTE so
# the audited plan and the audit can never drift apart.
from beam_pyspark_runner_spark.queries.registry import REGISTRY as _REG


@register(
    "ann_recall_at_k",
    oracle=f"""
    WITH ivf AS ({_REG['ivf_topk_search'].oracle}),
    e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_cos_sql('q.emb', 'v.emb')} DESC,
                                               v.vec_id) AS rnk
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rnk <= {IVF_TOP_K}
    )
    SELECT x.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i.neighbor_id) AS DOUBLE) / {IVF_TOP_K}.0 AS recall_at_k
    FROM exact x
    LEFT JOIN ivf i ON i.query_id = x.query_id
                   AND i.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """,
    tags=("similarity", "ann", "recall", "evaluation", "adjudication"),
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{IVF_TOP_K} of the IVF index against EXACT brute-force
    cosine top-{IVF_TOP_K}, per query — the estimator-adjudication
    pattern (cms_estimate_vs_exact, minhash_estimate_vs_exact) applied
    to ANN: the approximate index is certified against exhaustive
    ground truth at tuning scale, then trusted at serving scale where
    exhaustive search is unaffordable. This is the number an N_PROBE /
    N_CENTROIDS tuning loop optimizes; shipping an ANN index without
    it is shipping an unmeasured recall cliff. The IVF side IS
    ivf_topk_search (the registered plan is invoked, and its
    registered oracle is composed verbatim into this oracle's CTE, so
    audit and audited plan cannot drift). The exact side is
    brute-force over the {N_QUERIES}-query set only — broadcast
    queries × one corpus stream, per-query top-k; corpus-quadratic
    never happens."""
    from pyspark.sql import Window as W

    ivf = _REG["ivf_topk_search"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("emb")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity(F.col("qemb"), F.col("emb")).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= IVF_TOP_K)
        .select("query_id", "neighbor_id")
    )
    hit = ivf.withColumn("hit", F.lit(1))
    return (
        exact.join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("long").alias("n_hits"),
            (F.count("hit").cast("double") / float(IVF_TOP_K)).alias(
                "recall_at_k"
            ),
        )
    )


# --- distributed covariance / gram matrix (round 7) ---
EMB_DIM = 64  # fixture embedding dimensionality


# Shared CTE block: the covariance matrix as a DuckDB relation, reused
# verbatim by the covariance query's oracle and as the input of the
# PCA power-iteration oracle (one definition, two certifications).
_COV_CTES = f"""nv AS (SELECT COUNT(*) AS n FROM embeddings),
    cells AS (
        SELECT i.range AS i, j.range AS j,
               {dsum_sql("CAST(e.embedding[CAST(i.range AS INT) + 1] AS DOUBLE)"
                         " * CAST(e.embedding[CAST(j.range AS INT) + 1] AS DOUBLE)")}
                   AS s
        FROM embeddings e, range(0, {EMB_DIM}) i, range(0, {EMB_DIM}) j
        WHERE j.range >= i.range
        GROUP BY i.range, j.range
    ),
    dims AS (
        SELECT d.range AS i,
               {dsum_sql("CAST(e.embedding[CAST(d.range AS INT) + 1] AS DOUBLE)")}
                   AS m
        FROM embeddings e, range(0, {EMB_DIM}) d
        GROUP BY d.range
    ),
    covm AS (
        SELECT c.i, c.j, c.s AS gram,
               c.s / nv.n - (di.m / nv.n) * (dj.m / nv.n) AS cov,
               CAST(nv.n AS BIGINT) AS n_vecs
        FROM cells c
        JOIN dims di ON di.i = c.i
        JOIN dims dj ON dj.i = c.j
        CROSS JOIN nv
    )"""


@register(
    "embedding_covariance_matrix",
    oracle=f"""
    WITH {_COV_CTES}
    SELECT i, j, gram, cov, n_vecs FROM covm
    """,
    tags=("similarity", "linear_algebra", "covariance", "gram_matrix",
          "higher_order_fns"),
)
def embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed d×d GRAM + COVARIANCE matrix over the embedding
    corpus — the sufficient statistic behind PCA / whitening / SemDeDup
    epsilon calibration, and the canonical 'tall-skinny XᵀX' pattern:
    never materialize pairs of ROWS, aggregate pairs of DIMENSIONS.
    The {EMB_DIM}·({EMB_DIM}+1)/2 upper-triangle products are built
    IN-ROW with nested array transforms (one generator, no self-join,
    no second corpus scan), then partial-aggregated per partition into
    at most {EMB_DIM}²/2 groups — so the shuffle carries ~2080 rows per
    partition regardless of corpus size, and the corpus is scanned
    exactly once. Products accumulate through exact decimal (functions/
    numeric.dsum), so no float summation order exists; the covariance
    entry s/n − (mᵢ/n)(mⱼ/n) is one fixed double expression both
    engines evaluate identically. Per-dimension means ride a
    {EMB_DIM}-row broadcast. At 100 TB this plan is unchanged — the
    only growth is the number of partial-agg states, which is constant
    per partition."""
    # Round-13: spread the scan — the single-row-group fixture gives the
    # d²/2-struct explode ONE task; the round-robin shuffle moves only
    # the compact embedding rows and buys full parallelism for the
    # per-row d² products (spread() is a no-op on well-split sources).
    e = spread(load_table(spark, sf_dir, "embeddings").select("embedding"))
    emb = F.col("embedding")
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                emb,
                lambda v, i: F.transform(
                    emb,
                    lambda w, j: F.struct(
                        # dim_* names: the broadcast audit certifies
                        # these EMB_DIM-bounded index keys by name
                        i.cast("long").alias("dim_i"),
                        j.cast("long").alias("dim_j"),
                        (v.cast("double") * w.cast("double")).alias("p"),
                    ),
                ),
            )
        ),
        lambda s: s["dim_j"] >= s["dim_i"],
    )
    cells = (
        e.select(F.explode(pair_structs).alias("c"))
        .select("c.dim_i", "c.dim_j", "c.p")
        .groupBy("dim_i", "dim_j")
        .agg(dsum("p").alias("s"))
    )
    dims = (
        e.select(
            F.explode(
                F.transform(
                    emb,
                    lambda v, i: F.struct(
                        i.cast("long").alias("dim_i"),
                        v.cast("double").alias("v"),
                    ),
                )
            ).alias("d")
        )
        .select("d.dim_i", "d.v")
        .groupBy("dim_i")
        .agg(dsum("v").alias("m"))
    )
    n = e.agg(F.count("*").alias("n"))
    di = dims.select(F.col("dim_i").alias("di_i"), F.col("m").alias("mi"))
    dj = dims.select(F.col("dim_i").alias("dj_i"), F.col("m").alias("mj"))
    return (
        cells.join(F.broadcast(di), cells["dim_i"] == di["di_i"])
        .join(F.broadcast(dj), cells["dim_j"] == dj["dj_i"])
        .crossJoin(F.broadcast(n))
        .select(
            F.col("dim_i").alias("i"),
            F.col("dim_j").alias("j"),
            F.col("s").alias("gram"),
            (
                F.col("s") / F.col("n")
                - (F.col("mi") / F.col("n")) * (F.col("mj") / F.col("n"))
            ).alias("cov"),
            F.col("n").cast("long").alias("n_vecs"),
        )
    )


# --- ColBERT-style late-interaction retrieval (round 7) ---
MAXSIM_DOC_SIZE = 8  # vectors per pseudo-document (vec_id div 8)
MAXSIM_QTOKENS = 4  # query token vectors: vec_id 0..3 (doc 0, excluded)
MAXSIM_TOPK = 10


@register(
    "colbert_maxsim_topk",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, vec_id // {MAXSIM_DOC_SIZE} AS doc_id,
               {_EMB_DBL} AS ce
        FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, ce AS qe FROM v
          WHERE vec_id < {MAXSIM_QTOKENS}),
    pairs AS (
        SELECT c.doc_id, q.q_id, MAX({_cos_sql('q.qe', 'c.ce')}) AS best
        FROM v c, q WHERE c.doc_id > 0
        GROUP BY c.doc_id, q.q_id
    ),
    scored AS (
        SELECT doc_id,
               COALESCE(MAX(CASE WHEN q_id = 0 THEN best END), 0.0)
               + COALESCE(MAX(CASE WHEN q_id = 1 THEN best END), 0.0)
               + COALESCE(MAX(CASE WHEN q_id = 2 THEN best END), 0.0)
               + COALESCE(MAX(CASE WHEN q_id = 3 THEN best END), 0.0)
                   AS maxsim_score
        FROM pairs GROUP BY doc_id
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY maxsim_score DESC, doc_id)
                AS BIGINT) AS rnk,
           doc_id, maxsim_score
    FROM scored ORDER BY maxsim_score DESC, doc_id LIMIT {MAXSIM_TOPK}
    """,
    tags=("bounded_window", "similarity", "retrieval", "late_interaction", "maxsim",
          "multi_vector", "top_k"),
)
def colbert_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style LATE-INTERACTION retrieval (Khattab & Zaharia,
    SIGIR'20): documents are SETS of token vectors (here: {MAXSIM_DOC_SIZE}
    consecutive embeddings per pseudo-doc), and a doc's score is
    MaxSim — for each query token, the best-matching doc vector's
    cosine, summed over query tokens. This is the multi-vector shape
    single-vector cosine_topk can't express: a doc matches if SOME of
    its vectors match EACH query facet. Determinism: per-pair cosine
    rides the index-order fold (functions/vectors.py), MAX is order-
    independent, and the final score sums its {MAXSIM_QTOKENS} per-token
    maxima in one fixed literal order — bit-identical doubles. Scale:
    the query token set is a {MAXSIM_QTOKENS}-row broadcast; the corpus
    streams ONCE with a constant ×{MAXSIM_QTOKENS} fan-out absorbed by
    the map-side partial MAX per (doc, token); shuffle carries one row
    per (doc, query-token); top-{MAXSIM_TOPK} is TakeOrdered. Production
    ColBERT replaces the exhaustive pass with per-token ANN candidate
    generation (ivf_topk_search's plan) feeding this same MaxSim
    aggregation — the aggregation layer is what this query certifies."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.floor(F.col("vec_id") / MAXSIM_DOC_SIZE).alias("doc_id"),
        F.col("embedding").alias("ce"),
    )
    q = (
        e.filter(F.col("vec_id") < MAXSIM_QTOKENS)
        .select(F.col("vec_id").alias("q_id"), F.col("ce").alias("qe"))
    )
    pairs = (
        spread(e).filter(F.col("doc_id") > 0)
        .crossJoin(F.broadcast(q))
        .groupBy("doc_id", "q_id")
        .agg(
            F.max(cosine_similarity(F.col("qe"), F.col("ce"))).alias("best")
        )
    )

    def _tok(i):
        return F.coalesce(
            F.max(F.when(F.col("q_id") == i, F.col("best"))), F.lit(0.0)
        )

    scored = pairs.groupBy("doc_id").agg(
        (_tok(0) + _tok(1) + _tok(2) + _tok(3)).alias("maxsim_score")
    )
    top = scored.orderBy(F.desc("maxsim_score"), "doc_id").limit(MAXSIM_TOPK)
    return top.select(
        F.row_number()
        .over(W.orderBy(F.desc("maxsim_score"), "doc_id"))
        .cast("long")
        .alias("rnk"),
        "doc_id",
        "maxsim_score",
    )


# --- PCA top component via power iteration (round 7) ---
PCA_ITERS = 8


def _psum_sql(expr: str) -> str:
    """Exact-decimal sum at scale 10 straight to double — for unit-scale
    linalg values (|sum| < ~1e5) the unscaled decimal stays far below
    2^53, so both engines do one exact int conversion + one correctly
    rounded divide (dsum's 2-digit output rounding exists for money-
    scale sums and would destroy unit-norm components)."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,10))) AS DOUBLE)"


def _psum(c):
    return F.sum(c.cast("decimal(38,10)")).cast("double")


def _pca_oracle() -> str:
    seed = unit_hash_sql("'pca-seed-' || d.range")
    ctes = [
        "fullm AS MATERIALIZED (SELECT i, j, cov FROM covm UNION ALL "
        "SELECT j AS i, i AS j, cov FROM covm WHERE i <> j)",
        f"v0 AS (SELECT d.range AS i, ({seed}) AS x FROM range(0, {EMB_DIM}) d)",
    ]
    for k in range(1, PCA_ITERS + 1):
        ctes.append(
            f"w{k} AS MATERIALIZED (SELECT f.i AS i, {_psum_sql('f.cov * v.x')} AS w "
            f"FROM fullm f JOIN v{k - 1} v ON v.i = f.j GROUP BY f.i)"
        )
        ctes.append(f"n{k} AS MATERIALIZED (SELECT sqrt({_psum_sql('w * w')}) AS nrm FROM w{k})")
        ctes.append(f"v{k} AS MATERIALIZED (SELECT i, w / nrm AS x FROM w{k}, n{k})")
    k = PCA_ITERS
    ctes.append(
        f"wf AS (SELECT f.i AS i, {_psum_sql('f.cov * v.x')} AS w "
        f"FROM fullm f JOIN v{k} v ON v.i = f.j GROUP BY f.i)"
    )
    ctes.append(
        f"lam AS (SELECT {_psum_sql('v.x * w.w')} AS ev "
        f"FROM v{k} v JOIN wf w ON w.i = v.i)"
    )
    return (
        f"WITH {_COV_CTES},\n    "
        + ",\n    ".join(ctes)
        + f"\n    SELECT v.i, v.x AS loading, lam.ev AS eigenvalue "
        f"FROM v{k} v, lam"
    )


@register(
    "pca_power_iteration",
    oracle=_pca_oracle(),
    tags=("similarity", "linear_algebra", "pca", "power_iteration",
          "iterative", "bounded_broadcast"),
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP PRINCIPAL COMPONENT of the embedding corpus by {PCA_ITERS}
    power iterations over the DISTRIBUTED covariance matrix — the PCA /
    whitening / spectral-dedup primitive, done the way it scales: the
    corpus is reduced ONCE to the d×d covariance sufficient statistic
    (embedding_covariance_matrix's lineage, localCheckpoint-pinned so
    the iteration never re-derives the corpus scan — the k-core/Markov
    discipline), and every iteration is a matrix-vector product over
    the TINY {EMB_DIM}²-cell table: join on j, decimal-exact sum per i,
    one sqrt normalize. Iteration cost is independent of corpus size;
    at 100 TB only the one-pass covariance build grows. Determinism:
    the seed vector is md5-derived, every reduction runs through
    scale-10 decimal (_psum — unit-norm values would not survive
    dsum's money-scale output rounding), normalize is one divide, so
    the eight iterations and the final Rayleigh quotient are
    bit-identical across engines; the fixed seed also fixes the
    eigenvector's sign. The oracle is the same iteration UNROLLED into
    {3 * PCA_ITERS + 4} CTEs, generated from one shared covariance CTE
    block.

    bounded_broadcast: the hinted side is the checkpointed d×d
    covariance table ({EMB_DIM}² cells, constant at any corpus
    size) — the checkpoint leaves a LogicalRDD the audit cannot
    size, hence the tag."""
    cov = embedding_covariance_matrix(spark, sf_dir).select("i", "j", "cov")
    # Pin the upper-triangle covariance BEFORE mirroring: unpinned, each
    # branch of the mirrored union re-executes the corpus scan and
    # explode; pinned, the mirror is a lazy 2-leaf union over ONE
    # materialization.
    cov_p = checkpoint_audited(cov)
    full = cov_p.unionAll(
        cov_p.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov"
        )
    )
    v = spark.range(EMB_DIM).select(
        F.col("id").alias("i"),
        unit_hash(
            F.concat_ws("-", F.lit("pca-seed"), F.col("id").cast("string"))
        ).alias("x"),
    )
    # The 64-row iteration stages run at 1 shuffle partition; the
    # corpus-sized work is already pinned in `full`.
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "1"}):
        for _ in range(PCA_ITERS):
            w = (
                full.alias("f")
                .join(F.broadcast(v.alias("v")), F.col("v.i") == F.col("f.j"))
                .groupBy(F.col("f.i").alias("i"))
                .agg(_psum(F.col("f.cov") * F.col("v.x")).alias("w"))
            )
            # Pin w (per-step pinning keeps nested broadcast subplans
            # from compounding) with sum(w²) observed on the pin's own
            # job: the exact-decimal sum is order-insensitive, and
            # decimal→double plus sqrt are single correctly-rounded IEEE
            # steps in the JVM and Python alike, so nrm is bit-identical
            # to an F.sqrt(_psum(...)) column. v stays a lazy one-divide
            # projection over the pinned w.
            w_p, ss = checkpoint_observed(
                w,
                F.sum((F.col("w") * F.col("w")).cast("decimal(38,10)")),
                adjudicated="broadcasts the EMB_DIM-row iteration vector "
                "(lazy projection over the pinned previous step) into "
                "the d x d covariance table",
            )
            v = w_p.select("i", (F.col("w") / F.lit(math.sqrt(float(ss)))).alias("x"))
    wf = (
        full.alias("f")
        .join(F.broadcast(v.alias("v")), F.col("v.i") == F.col("f.j"))
        .groupBy(F.col("f.i").alias("i"))
        .agg(_psum(F.col("f.cov") * F.col("v.x")).alias("w"))
    )
    lam = (
        v.alias("v")
        .join(wf.alias("w"), F.col("w.i") == F.col("v.i"))
        .agg(_psum(F.col("v.x") * F.col("w.w")).alias("eigenvalue"))
    )
    return v.crossJoin(F.broadcast(lam)).select(
        "i", F.col("x").alias("loading"), "eigenvalue"
    )


# --- Matryoshka truncation recall (MRL audit, round 7) -----------------------
MRL_DIMS = (64, 32, 16, 8)

_MRL_SCORED_SQL = "\n      UNION ALL ".join(
    f"SELECT query_id, neighbor_id, {d} AS dim, "
    f"{_cos_sql(f'(qe[1:{d}])', f'(ce[1:{d}])')} AS cosine FROM pairs"
    for d in MRL_DIMS
)


@register(
    "matryoshka_recall_curve",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, {_EMB_DBL} AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, {_EMB_DBL} AS ce FROM embeddings),
    pairs AS (SELECT query_id, neighbor_id, qe, ce FROM q, c
              WHERE query_id <> neighbor_id),
    scored AS ({_MRL_SCORED_SQL}),
    topk AS (SELECT query_id, neighbor_id, dim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, dim
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored) WHERE rnk <= {TOP_K}),
    fulltop AS (SELECT query_id, neighbor_id FROM topk WHERE dim = {DIM})
    SELECT t.dim AS dim,
           CAST(SUM(CASE WHEN f.query_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_hits,
           CAST(SUM(CASE WHEN f.query_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
               / {N_QUERIES * TOP_K}.0 AS recall_at_k
    FROM topk t LEFT JOIN fulltop f
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY t.dim
    """,
    tags=("similarity", "bounded_broadcast", "matryoshka", "recall",
          "llm_data"),
)
def matryoshka_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation audit: recall@k of prefix-truncated
    embeddings (dims 32/16/8) against the full-dim exact top-k (Kusupati
    et al., MRL). The curve tells a curation pipeline how small the
    coarse-search prefix can go before IVF/ANN recall targets break.

    One corpus scan, one broadcast crossJoin with the 8-vector query set;
    all |MRL_DIMS| prefix cosines are computed per pair in the SAME
    codegen stage (slice + fold, no Python), then exploded to (dim, cos)
    rows so a single ranked window takes top-k per (query, dim). At
    100 TB the pair stage is |Q|x|C| with |Q| broadcast — identical cost
    shape to cosine_topk, 4 extra folds per row, no extra shuffle: the
    explode keys the window by (query_id, dim) so one exchange serves
    all four curves. No reference counterpart (reference has no vector
    surface; transform_evaluators.py:15-100 is the closest grouping
    machinery).

    bounded_broadcast: the hinted build side is the full-dim top-10
    per PROBE query (<= 8 x 10 rows); per-group limits over a probe-
    bounded group set are outside the auditor's structural rules."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = spread(e).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("dim"),
                        cosine_similarity(
                            F.slice("qe", 1, d), F.slice("ce", 1, d)
                        ).alias("cosine"),
                    )
                    for d in MRL_DIMS
                ]
            )
        ).alias("x"),
    ).select("query_id", "neighbor_id", "x.dim", "x.cosine")
    w = W.partitionBy("query_id", "dim").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "dim")
    )
    fulltop = topk.filter(F.col("dim") == DIM).select(
        F.col("query_id").alias("f_query_id"),
        F.col("neighbor_id").alias("hit_id"),
    )
    return (
        topk.join(
            F.broadcast(fulltop),
            (F.col("query_id") == F.col("f_query_id"))
            & (F.col("neighbor_id") == F.col("hit_id")),
            "left",
        )
        .select("dim", "hit_id")
        .groupBy("dim")
        .agg(
            F.sum(F.when(F.col("hit_id").isNull(), 0).otherwise(1)).alias("n_hits")
        )
        .select(
            "dim",
            "n_hits",
            (F.col("n_hits") / F.lit(float(N_QUERIES * TOP_K))).alias("recall_at_k"),
        )
    )


# --- ALS half-step: closed-form user-factor solve (round 7) ------------------
ALS_LAMBDA = 0.1  # ridge regularizer
_ALS_ACC = "decimal(38,10)"


def _als_psum(col: Column) -> Column:
    """Order-independent decimal-exact sum (pagerank's _dsum_exact
    contract): terms are bounded (|v| < 0.5, ratings < 1e4), so the
    unscaled accumulator stays far inside the 2^53 conversion bound."""
    return F.sum(col.cast(_ALS_ACC)).cast("double")


def _als_psum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,10))) AS DOUBLE)"


@register(
    "als_user_factor_solve",
    oracle=f"""
    WITH r AS (
        SELECT o.o_custkey AS user_id, li.l_suppkey AS item_id,
               CAST(COUNT(*) AS DOUBLE) AS rating
        FROM orders o JOIN lineitem li ON o.o_orderkey = li.l_orderkey
        GROUP BY 1, 2
    ),
    v AS (
        SELECT item_id,
               {unit_hash_sql("'alsv-' || item_id || '-0'")} AS v0,
               {unit_hash_sql("'alsv-' || item_id || '-1'")} AS v1
        FROM (SELECT DISTINCT item_id FROM r)
    ),
    g AS (
        SELECT r.user_id,
               {_als_psum_sql('v.v0 * v.v0')} AS a00,
               {_als_psum_sql('v.v0 * v.v1')} AS a01,
               {_als_psum_sql('v.v1 * v.v1')} AS a11,
               {_als_psum_sql('r.rating * v.v0')} AS b0,
               {_als_psum_sql('r.rating * v.v1')} AS b1,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM r JOIN v ON r.item_id = v.item_id
        GROUP BY 1
    )
    SELECT user_id, n_items,
           (b0 * (a11 + {ALS_LAMBDA}) - b1 * a01)
             / ((a00 + {ALS_LAMBDA}) * (a11 + {ALS_LAMBDA}) - a01 * a01)
               AS u0,
           (b1 * (a00 + {ALS_LAMBDA}) - b0 * a01)
             / ((a00 + {ALS_LAMBDA}) * (a11 + {ALS_LAMBDA}) - a01 * a01)
               AS u1
    FROM g
    """,
    tags=("similarity", "als", "iterative", "ml_training"),
)
def als_user_factor_solve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS alternation (Koren/Bell/Volinsky's matrix-factorization
    recommender), k=2: with item factors fixed (md5-seeded, so both
    engines rebuild them identically), each user's factor vector is the
    ridge normal-equation solution u = (VᵀV + λI)⁻¹Vᵀr — solved in
    CLOSED FORM per user via the 2×2 adjugate, entirely inside codegen.
    This is the distributed-ALS inner loop exactly as production
    recommenders run it: per-user Gram sums are partial-aggregated
    (decimal-exact, order-independent), the solve is five arithmetic
    ops per user, and NOTHING iterates driver-side; alternating back
    to items is the same query with the roles swapped. Cost: one
    ratings groupBy + one broadcast-sized factor join per sweep —
    the kmeans_lloyd_step template applied to factorization.
    Reference has no ML surface."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    r = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_suppkey").alias("item_id"),
        )
        .agg(F.count("*").cast("double").alias("rating"))
    )
    v = r.select("item_id").distinct().select(
        "item_id",
        unit_hash(
            F.concat_ws("-", F.lit("alsv"), F.col("item_id"), F.lit("0"))
        ).alias("v0"),
        unit_hash(
            F.concat_ws("-", F.lit("alsv"), F.col("item_id"), F.lit("1"))
        ).alias("v1"),
    )
    # v is item-grain (a factor row per item — billions at 100 TB) —
    # no broadcast hint (round-10); the planner's size gate decides.
    g = (
        r.join(v, "item_id")
        .groupBy("user_id")
        .agg(
            _als_psum(F.col("v0") * F.col("v0")).alias("a00"),
            _als_psum(F.col("v0") * F.col("v1")).alias("a01"),
            _als_psum(F.col("v1") * F.col("v1")).alias("a11"),
            _als_psum(F.col("rating") * F.col("v0")).alias("b0"),
            _als_psum(F.col("rating") * F.col("v1")).alias("b1"),
            F.count("*").cast("long").alias("n_items"),
        )
    )
    lam = F.lit(ALS_LAMBDA)
    det = (F.col("a00") + lam) * (F.col("a11") + lam) - F.col("a01") * F.col(
        "a01"
    )
    return g.select(
        "user_id",
        "n_items",
        (
            (F.col("b0") * (F.col("a11") + lam) - F.col("b1") * F.col("a01"))
            / det
        ).alias("u0"),
        (
            (F.col("b1") * (F.col("a00") + lam) - F.col("b0") * F.col("a01"))
            / det
        ).alias("u1"),
    )


# --- binary (sign) quantization + Hamming shortlist + exact rerank (round 7) --
HAMMING_SHORTLIST = 100

_PACK_SPARK = (
    "aggregate(sequence({lo}, {hi}), 0L,"
    " (acc, i) -> acc + IF(embedding[i] > CAST(0 AS FLOAT),"
    " shiftleft(1L, i - {lo}), 0L))"
)
_PACK_SQL = (
    "list_reduce(list_transform(range({lo}, {hi} + 1),"
    " i -> CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << (i - {lo}))"
    " ELSE 0::BIGINT END), (a, b) -> a + b)"
)


@register(
    "binary_hamming_topk",
    oracle=f"""
    WITH packed AS (
        SELECT vec_id, {_EMB_DBL} AS e,
               {_PACK_SQL.format(lo=0, hi=31)} AS w0,
               {_PACK_SQL.format(lo=32, hi=63)} AS w1
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS qe, w0 AS qw0, w1 AS qw1
          FROM packed WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, e AS ce, w0 AS cw0, w1 AS cw1
          FROM packed),
    h AS (
        SELECT query_id, neighbor_id, qe, ce,
               bit_count(xor(qw0, cw0)) + bit_count(xor(qw1, cw1)) AS hamming
        FROM q, c WHERE query_id <> neighbor_id
    ),
    short AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY hamming, neighbor_id) AS hrnk
        FROM h
    ),
    rer AS (
        SELECT query_id, neighbor_id, CAST(hamming AS BIGINT) AS hamming,
               {_cos_sql('qe', 'ce')} AS cosine
        FROM short WHERE hrnk <= {HAMMING_SHORTLIST}
    )
    SELECT query_id, neighbor_id, hamming, cosine, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM rer
    ) WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "binary_quantization", "hamming", "rerank",
          "vector_search"),
)
def binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign) quantization retrieval — the two-stage pattern
    production vector stores ship (FAISS binary indexes, pgvector/
    Elasticsearch BBQ): quantize each 64-dim float vector to its SIGN
    BITS packed into two BIGINT words (32× smaller than float32),
    shortlist by Hamming distance (bit_count(xor(..)) — pure integer
    codegen, no float math, SIMD popcount on the JVM), then rerank the
    {HAMMING_SHORTLIST}-candidate shortlist with exact cosine. Integer
    Hamming + the proven cosine fold → the whole report value-hashes.

    Scale notes (100 TB): the packed words are 16 bytes/vector, so a
    billion-vector corpus's binary index is ~16 GB — scan-able in one
    pass with the {N_QUERIES}-query set broadcast; exact float work
    happens only on |Q|·{HAMMING_SHORTLIST} rows. Two WindowGroupLimit
    top-k windows, both keyed by query_id. Shortlist ties break on
    neighbor_id, so the rerank input set is engine-deterministic."""
    e = load_table(spark, sf_dir, "embeddings")
    packed = e.select(
        "vec_id",
        "embedding",
        F.expr(_PACK_SPARK.format(lo=0, hi=31)).alias("w0"),
        F.expr(_PACK_SPARK.format(lo=32, hi=63)).alias("w1"),
    )
    q = packed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    c = spread(packed).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("w0").alias("cw0"),
        F.col("w1").alias("cw1"),
    )
    h = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qe",
            "ce",
            (
                F.bit_count(F.col("qw0").bitwiseXOR(F.col("cw0")))
                + F.bit_count(F.col("qw1").bitwiseXOR(F.col("cw1")))
            ).alias("hamming"),
        )
    )
    wh = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    short = (
        h.withColumn("hrnk", F.row_number().over(wh))
        .filter(F.col("hrnk") <= HAMMING_SHORTLIST)
        .select(
            "query_id",
            "neighbor_id",
            F.col("hamming").cast("long").alias("hamming"),
            cosine_similarity(F.col("qe"), F.col("ce")).alias("cosine"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        short.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            "cosine",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# --- MAP@k retrieval evaluation (round 7) --------------------------------------
AP_LCM = 2520  # lcm(1..10) >= lcm(1..TOP_K): scales every P@i to an integer


@register(
    "retrieval_eval_map",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qlab, {_EMB_DBL} AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, label AS clab, {_EMB_DBL} AS ce
          FROM embeddings),
    labcnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS lc FROM embeddings
               GROUP BY label),
    s AS (SELECT query_id, qlab, neighbor_id, clab,
                 {_cos_sql('qe', 'ce')} AS cosine
          FROM q, c WHERE query_id <> neighbor_id),
    ranked AS (
        SELECT query_id, qlab,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk,
               CASE WHEN qlab = clab THEN 1 ELSE 0 END AS rel
        FROM s
    ),
    topk AS (
        SELECT query_id, qlab, rnk, rel,
               SUM(rel) OVER (PARTITION BY query_id ORDER BY rnk) AS cumrel
        FROM ranked WHERE rnk <= {TOP_K}
    ),
    per_q AS (
        SELECT query_id, qlab,
               CAST(SUM(rel) AS BIGINT) AS n_rel_at_k,
               CAST(SUM(CASE WHEN rel = 1
                             THEN cumrel * ({AP_LCM} / rnk) ELSE 0 END)
                    AS BIGINT) AS ap_scaled
        FROM topk GROUP BY query_id, qlab
    )
    SELECT p.query_id, p.n_rel_at_k,
           CAST(l.lc - 1 AS BIGINT) AS n_relevant_total,
           CAST(p.ap_scaled AS DOUBLE)
             / ({AP_LCM}.0 * LEAST({TOP_K}, l.lc - 1)) AS average_precision
    FROM per_q p JOIN labcnt l ON l.label = p.qlab
    """,
    tags=("similarity", "ir_eval", "map_at_k", "rank_statistic"),
)
def retrieval_eval_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average Precision @ k per query (the MAP components) over the
    same label-relevance protocol as retrieval_eval_mrr: AP rewards
    putting ALL relevant neighbors early, not just the first one. The
    float trap is Σ P@i — a sum of doubles whose grouping Spark and
    DuckDB order differently — so every precision term is scaled to
    the INTEGER cumrel·(lcm(1..k)/i) first ({AP_LCM} = lcm(1..10));
    the integer sum divides once by lcm·min(k, R) at the end, with R
    (relevant available) taken from the corpus label histogram.
    Exact rational AP, value-hash safe.

    Scale notes (100 TB): the cosine_topk plan (broadcast query set,
    one corpus stream, per-query WindowGroupLimit) plus one running
    window over k rows per query and a broadcast label-histogram join
    — evaluation rides the retrieval plan, no extra corpus pass."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlab"),
        F.col("embedding").alias("qe"),
    )
    c = spread(e).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clab"),
        F.col("embedding").alias("ce"),
    )
    labcnt = e.groupBy(F.col("label")).agg(F.count("*").cast("long").alias("lc"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "qlab",
            "neighbor_id",
            cosine_similarity(F.col("qe"), F.col("ce")).alias("cosine"),
            (F.col("qlab") == F.col("clab")).cast("int").alias("rel"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOP_K
    )
    wc = W.partitionBy("query_id").orderBy("rnk")
    topk = topk.withColumn("cumrel", F.sum("rel").over(wc))
    per_q = topk.groupBy("query_id", "qlab").agg(
        F.sum("rel").cast("long").alias("n_rel_at_k"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.col("cumrel") * (F.lit(AP_LCM) / F.col("rnk")).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("ap_scaled"),
    )
    return per_q.join(
        F.broadcast(labcnt), per_q["qlab"] == labcnt["label"]
    ).select(
        "query_id",
        "n_rel_at_k",
        (F.col("lc") - 1).cast("long").alias("n_relevant_total"),
        (
            F.col("ap_scaled").cast("double")
            / (
                F.lit(float(AP_LCM))
                * F.least(F.lit(TOP_K), F.col("lc") - 1)
            )
        ).alias("average_precision"),
    )


# --- k-NN majority-vote classification (round 7) --------------------------------
@register(
    "knn_classify_embeddings",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qlab, {_EMB_DBL} AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, label AS clab, {_EMB_DBL} AS ce
          FROM embeddings),
    s AS (SELECT query_id, qlab, neighbor_id, clab,
                 {_cos_sql('qe', 'ce')} AS cosine
          FROM q, c WHERE query_id <> neighbor_id),
    topk AS (
        SELECT query_id, qlab, clab FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM s
        ) WHERE rnk <= {TOP_K}
    ),
    votes AS (
        SELECT query_id, qlab, clab, CAST(COUNT(*) AS BIGINT) AS votes
        FROM topk GROUP BY query_id, qlab, clab
    ),
    win AS (
        SELECT query_id, qlab AS true_label, clab AS predicted_label, votes,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY votes DESC, clab) AS vr
        FROM votes
    )
    SELECT query_id, true_label, predicted_label, votes,
           true_label = predicted_label AS correct
    FROM win WHERE vr = 1
    """,
    tags=("similarity", "knn", "classification", "ml_eval"),
)
def knn_classify_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN CLASSIFICATION by cosine majority vote — the third face of
    the same retrieval plan (cosine_topk ranks, retrieval_eval_* score
    the ranking, this one USES it as a classifier): each query takes
    the modal label of its {TOP_K} nearest neighbors, ties broken by
    (votes DESC, label) so the decision is total and engine-
    deterministic. The per-query correct flag is the confusion-matrix
    feed for a labeling-QA pass (kNN-consistency is the standard
    label-noise screen in curation pipelines — a row whose neighbors
    disagree with its label is a relabel candidate).

    Scale notes (100 TB): broadcast query set, one corpus stream, one
    WindowGroupLimit top-k, then vote aggregation on |Q|·k rows —
    classification costs nothing beyond the retrieval plan."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlab"),
        F.col("embedding").alias("qe"),
    )
    c = spread(e).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clab"),
        F.col("embedding").alias("ce"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "qlab", "neighbor_id", "clab",
            cosine_similarity(F.col("qe"), F.col("ce")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOP_K
    )
    votes = topk.groupBy("query_id", "qlab", "clab").agg(
        F.count("*").cast("long").alias("votes")
    )
    wv = W.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("clab")
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("qlab").alias("true_label"),
            F.col("clab").alias("predicted_label"),
            "votes",
            (F.col("qlab") == F.col("clab")).alias("correct"),
        )
    )


# --- binary-quantization recall audit (round 7) ----------------------------------
@register(
    "binary_recall_at_k",
    oracle=f"""
    WITH bq AS ({{BQ_ORACLE}}),
    e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_cos_sql('q.emb', 'v.emb')} DESC,
                                               v.vec_id) AS rnk
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rnk <= {TOP_K}
    )
    SELECT x.query_id,
           CAST(COUNT(b.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(b.neighbor_id) AS DOUBLE) / {TOP_K}.0 AS recall_at_k
    FROM exact x
    LEFT JOIN bq b ON b.query_id = x.query_id
                  AND b.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """,
    tags=("similarity", "binary_quantization", "recall", "evaluation",
          "adjudication"),
)
def binary_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the binary-quantized two-stage retrieval
    (binary_hamming_topk) against exact brute-force cosine — the
    ann_recall_at_k adjudication applied to sign-bit quantization: the
    shortlist is lossy (64 bits of a 64-dim float vector), so before
    trusting the 32×-cheaper index corpus-wide you measure exactly what
    the Hamming prefilter forfeits at tuning scale. Composes the
    REGISTERED binary_hamming_topk query verbatim (audit and audited
    plan cannot drift), so the only new work is the exact leg — the
    same broadcast-queries/one-corpus-stream shape. The knob the
    number drives: HAMMING_SHORTLIST (recall too low → widen the
    shortlist, trading rerank FLOPs for recall, never a second corpus
    scan)."""
    bq = _REG["binary_hamming_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("emb")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity(F.col("qemb"), F.col("emb")).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    hit = bq.withColumn("hit", F.lit(1))
    return (
        exact.join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("long").alias("n_hits"),
            (F.count("hit").cast("double") / float(TOP_K)).alias(
                "recall_at_k"
            ),
        )
    )


# late-bind the composed oracle (binary_hamming_topk registers above)
_REG["binary_recall_at_k"].oracle = _REG["binary_recall_at_k"].oracle.replace(
    "{BQ_ORACLE}", _REG["binary_hamming_topk"].oracle
)


# --- nDCG@k retrieval quality (round 7, session 4) --------------------------
# Integer-scaled log2 discounts: round(1e12 / log2(i+1)) precomputed
# ONCE in Python and emitted as identical literals into both engines'
# plans — the repo-wide sqrt-yes/log-no rule (libm log differs by ulps
# across engines) applied to the one metric that genuinely needs a log.
import math as _math

_NDCG_DISC = [round(1e12 / _math.log2(i + 1)) for i in range(1, TOP_K + 1)]
_NDCG_CUM = [sum(_NDCG_DISC[: j + 1]) for j in range(TOP_K)]


def _ndcg_disc_case(rnk: str) -> str:
    arms = " ".join(
        f"WHEN {i + 1} THEN {d}" for i, d in enumerate(_NDCG_DISC)
    )
    return f"(CASE {rnk} {arms} ELSE 0 END)"


def _ndcg_idcg_case(r: str) -> str:
    """Ideal DCG (scaled) for r available relevant items, capped at k."""
    arms = " ".join(
        f"WHEN {j + 1} THEN {c}" for j, c in enumerate(_NDCG_CUM)
    )
    return f"(CASE LEAST({r}, {TOP_K}) {arms} ELSE 0 END)"


@register(
    "ndcg_at_k",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qlab, {_EMB_DBL} AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, label AS clab, {_EMB_DBL} AS ce
          FROM embeddings),
    labcnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS lc FROM embeddings
               GROUP BY label),
    s AS (SELECT query_id, qlab, neighbor_id, clab,
                 {_cos_sql('qe', 'ce')} AS cosine
          FROM q, c WHERE query_id <> neighbor_id),
    ranked AS (
        SELECT query_id, qlab,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk,
               CASE WHEN qlab = clab THEN 1 ELSE 0 END AS rel
        FROM s
    ),
    per_q AS (
        SELECT query_id, qlab,
               CAST(SUM(rel) AS BIGINT) AS n_rel_at_k,
               CAST(SUM(rel * {_ndcg_disc_case('rnk')}) AS BIGINT)
                   AS dcg_scaled
        FROM ranked WHERE rnk <= {TOP_K}
        GROUP BY query_id, qlab
    )
    SELECT p.query_id, p.n_rel_at_k, p.dcg_scaled,
           CAST({_ndcg_idcg_case('l.lc - 1')} AS BIGINT) AS idcg_scaled,
           CAST(p.dcg_scaled AS DOUBLE)
               / CAST({_ndcg_idcg_case('l.lc - 1')} AS DOUBLE) AS ndcg
    FROM per_q p JOIN labcnt l ON l.label = p.qlab
    """,
    tags=("similarity", "ir_eval", "ndcg", "rank_statistic"),
)
def ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{TOP_K} per query — the position-discounted retrieval metric
    (Järvelin & Kekäläinen 2002) that MAP/MRR (retrieval_eval_map/_mrr)
    don't cover: graded credit decays as 1/log2(rank+1), so swapping
    ranks 2 and 9 moves nDCG but barely moves AP's tail. The log lives
    ONLY in {len(_NDCG_DISC)} Python-precomputed integer literals
    (round(1e12/log2(i+1))) emitted identically into both engines, so
    DCG is an exact integer sum and the single double division at the
    end is bit-identical — no cross-libm log in either plan. Ideal DCG
    comes from the corpus label histogram (R = lc−1 relevant
    available, capped at k) through the same literal prefix-sum table.
    Scale notes: rides the cosine_topk plan unchanged — broadcast
    {N_QUERIES}-query set, one corpus stream, per-query
    WindowGroupLimit top-k — plus a broadcast label-histogram join;
    the metric adds zero corpus passes."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlab"),
        F.col("embedding").alias("qe"),
    )
    c = spread(e).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clab"),
        F.col("embedding").alias("ce"),
    )
    labcnt = e.groupBy("label").agg(F.count("*").cast("long").alias("lc"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "qlab",
            "neighbor_id",
            cosine_similarity(F.col("qe"), F.col("ce")).alias("cosine"),
            (F.col("qlab") == F.col("clab")).cast("int").alias("rel"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    per_q = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .groupBy("query_id", "qlab")
        .agg(
            F.sum("rel").cast("long").alias("n_rel_at_k"),
            F.sum(F.col("rel") * F.expr(_ndcg_disc_case("rnk")))
            .cast("long")
            .alias("dcg_scaled"),
        )
    )
    idcg = F.expr(_ndcg_idcg_case("lc - 1"))
    return per_q.join(
        F.broadcast(labcnt), per_q["qlab"] == labcnt["label"]
    ).select(
        "query_id",
        "n_rel_at_k",
        "dcg_scaled",
        idcg.cast("long").alias("idcg_scaled"),
        (F.col("dcg_scaled").cast("double") / idcg.cast("double")).alias(
            "ndcg"
        ),
    )


# --- Johnson-Lindenstrauss sign projection + recall audit (round 7, s4) -----
# The 16x64 ±1 projection matrix is data-independent, so it is derived
# ONCE here (md5-seeded) and baked into BOTH engines' plans as
# literals — per-row projection is then pure multiply-add inside
# codegen, no hashing in the corpus scan.
import hashlib as _hashlib

_RP_DIM = 16
_RP_SIGNS = [
    [
        1
        - 2
        * (
            int(
                _hashlib.md5(f"rp-{j}-{i}".encode()).hexdigest()[:8], 16
            )
            % 2
        )
        for i in range(DIM)
    ]
    for j in range(_RP_DIM)
]


def _rp_proj_spark(j: int) -> str:
    arr = "array(" + ", ".join(f"{s}.0D" for s in _RP_SIGNS[j]) + ")"
    return (
        f"aggregate(zip_with({arr},"
        " transform(embedding, x -> cast(x as double)),"
        " (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _rp_proj_duck(j: int, emb: str) -> str:
    arr = "[" + ", ".join(f"{s}.0" for s in _RP_SIGNS[j]) + "]"
    return (
        f"list_reduce(list_transform(range(1, {DIM} + 1),"
        f" i -> {arr}[i] * {emb}[i]), (acc, x) -> acc + x)"
    )


_RP_PE_DUCK = (
    "["
    + ", ".join(_rp_proj_duck(j, "emb") for j in range(_RP_DIM))
    + "]"
)


@register(
    "random_projection_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    proj AS (SELECT vec_id, {_RP_PE_DUCK} AS pe FROM e),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_cos_sql('q.pe', 'v.pe')} DESC,
                                               v.vec_id) AS rnk
            FROM proj q JOIN proj v ON v.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rnk <= {TOP_K}
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_cos_sql('q.emb', 'v.emb')} DESC,
                                               v.vec_id) AS rnk
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rnk <= {TOP_K}
    )
    SELECT x.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / {TOP_K}.0 AS recall_at_k
    FROM exact x
    LEFT JOIN approx a ON a.query_id = x.query_id
                      AND a.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """,
    tags=("similarity", "random_projection", "jl_lemma", "recall",
          "evaluation", "adjudication"),
)
def random_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of cosine retrieval in a {_RP_DIM}-dim
    Johnson–Lindenstrauss sign projection (Achlioptas 2003: ±1 entries
    suffice — no Gaussians) against exact {DIM}-dim cosine — the
    dimensionality-reduction counterpart of binary_recall_at_k
    (which keeps 1 bit/dim; this keeps {_RP_DIM} of {DIM} dims as
    full doubles, a 4× FLOP/byte cut with a different error profile).
    The projection matrix is baked into both plans as literals, so the
    corpus pass is one zip_with/aggregate fold per output dim inside
    whole-stage codegen — no hash calls, no UDF, no second corpus
    scan; folds run in index order, making every projected coordinate
    bit-identical across engines (functions/vectors.py discipline).
    The audit drives the knob a 100 TB deployment tunes — the target
    dim that holds recall while shrinking the rerank candidate
    transfer."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    pe = F.array(*[F.expr(_rp_proj_spark(j)) for j in range(_RP_DIM)])
    proj = e.select("vec_id", pe.alias("pe"), F.col("embedding").alias("emb"))
    qp = proj.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("pe").alias("qpe"),
        F.col("emb").alias("qemb"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    approx = (
        proj.crossJoin(F.broadcast(qp.select("query_id", "qpe")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity(F.col("qpe"), F.col("pe")).alias("sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    exact = (
        proj.crossJoin(F.broadcast(qp.select("query_id", "qemb")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity(F.col("qemb"), F.col("emb")).alias("sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    hit = approx.withColumn("hit", F.lit(1))
    return (
        exact.join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("long").alias("n_hits"),
            (F.count("hit").cast("double") / float(TOP_K)).alias(
                "recall_at_k"
            ),
        )
    )


# --- greedy k-center coreset selection (round 7, session 4) -----------------
_KC_K = 4  # coreset size; round 0 seeds deterministically at vec_id 0


@register(
    "kcenter_coreset_greedy",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    c0 AS (SELECT vec_id, emb FROM e WHERE vec_id = 0),
    d1 AS (SELECT e.vec_id, e.emb,
                  {_L2SQ_SQL.format(a='e.emb', b='c0.cemb')} AS dmin
           FROM e, (SELECT emb AS cemb FROM c0) c0),
    c1 AS (SELECT vec_id, emb, dmin FROM d1
           ORDER BY dmin DESC, vec_id LIMIT 1),
    d2 AS (SELECT d1.vec_id, d1.emb,
                  LEAST(d1.dmin,
                        {_L2SQ_SQL.format(a='d1.emb', b='c1x.cemb')})
                      AS dmin
           FROM d1, (SELECT emb AS cemb FROM c1) c1x),
    c2 AS (SELECT vec_id, emb, dmin FROM d2
           ORDER BY dmin DESC, vec_id LIMIT 1),
    d3 AS (SELECT d2.vec_id, d2.emb,
                  LEAST(d2.dmin,
                        {_L2SQ_SQL.format(a='d2.emb', b='c2x.cemb')})
                      AS dmin
           FROM d2, (SELECT emb AS cemb FROM c2) c2x),
    c3 AS (SELECT vec_id, emb, dmin FROM d3
           ORDER BY dmin DESC, vec_id LIMIT 1),
    d4 AS (SELECT d3.vec_id,
                  LEAST(d3.dmin,
                        {_L2SQ_SQL.format(a='d3.emb', b='c3x.cemb')})
                      AS dmin
           FROM d3, (SELECT emb AS cemb FROM c3) c3x),
    cov AS (SELECT MAX(dmin) AS r2 FROM d4),
    sel AS (
        SELECT 0 AS sel_round, vec_id, 0.0 AS sel_dist_sq FROM c0
        UNION ALL SELECT 1, vec_id, dmin FROM c1
        UNION ALL SELECT 2, vec_id, dmin FROM c2
        UNION ALL SELECT 3, vec_id, dmin FROM c3
    )
    SELECT CAST(s.sel_round AS BIGINT) AS sel_round,
           CAST(s.vec_id AS BIGINT) AS center_vec_id,
           s.sel_dist_sq AS sel_dist_sq,
           c.r2 AS coverage_radius_sq
    FROM sel s, cov c
    """,
    tags=("similarity", "coreset", "kcenter", "data_selection",
          "iterative"),
)
def kcenter_coreset_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; the
    farthest-point sampling behind k-center data-selection/active-
    learning pipelines, Sener & Savarese ICLR'18): pick a seed, then
    {_KC_K - 1}× add the point FARTHEST from the chosen set — the
    classic 2-approximation to the k-center cover, and the selector a
    curation pipeline runs to pick a geometrically diverse training
    subset (where semantic_dedup REMOVES redundancy, this KEEPS
    coverage). Each round is one corpus scan against the ≤{_KC_K}-row
    broadcast center set, a min-of-centers distance, and a global
    TakeOrdered(1) (heap top-1, no full sort); the running min-distance
    column is carried forward so round r costs ONE new distance, not r.
    Ties break by vec_id for engine-identical argmax. Also reports the
    achieved coverage radius² (max over corpus of min-dist² to the
    selected {_KC_K}) — the quantity the 2-approximation bounds.
    Distances are index-order folds (functions/vectors.py), exact in
    both engines; no UDF, no collect — centers stay a DataFrame
    broadcast per round."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("emb")
    )
    c0 = e.filter(F.col("vec_id") == 0)
    centers = checkpoint_audited(c0.select(
        F.lit(0).alias("sel_round"),
        "vec_id",
        "emb",
        F.lit(0.0).alias("sel_dist_sq"),
    ))
    cur = checkpoint_audited(e.crossJoin(
        F.broadcast(c0.select(F.col("emb").alias("cemb")))
    ).select(
        "vec_id",
        "emb",
        l2_sq(F.col("emb"), F.col("cemb")).alias("dmin"),
    ))
    for r in range(1, _KC_K):
        nxt = cur.orderBy(F.col("dmin").desc(), F.col("vec_id")).limit(1)
        centers = checkpoint_audited(centers.unionAll(
            nxt.select(
                F.lit(r).alias("sel_round"),
                "vec_id",
                "emb",
                F.col("dmin").alias("sel_dist_sq"),
            )
        ))
        # update runs after the last pick too: it yields the coverage radius
        cur = checkpoint_audited(cur.crossJoin(
            F.broadcast(nxt.select(F.col("emb").alias("cemb")))
        ).select(
            "vec_id",
            "emb",
            F.least(
                F.col("dmin"), l2_sq(F.col("emb"), F.col("cemb"))
            ).alias("dmin"),
        ))
    cov = cur.agg(F.max("dmin").alias("coverage_radius_sq"))
    return centers.crossJoin(F.broadcast(cov)).select(
        F.col("sel_round").cast("long"),
        F.col("vec_id").cast("long").alias("center_vec_id"),
        "sel_dist_sq",
        "coverage_radius_sq",
    )


# --- IVF-bucketed kNN-distance outlier scores (round 7, session 4) ----------
_OUT_K = 5   # distance to the 5th in-bucket neighbor is the score
_OUT_N = 20  # report the top-20 outliers


@register(
    "knn_distance_outliers",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb AS cemb FROM e
             WHERE vec_id < {N_CENTROIDS}),
    assigned AS (
        SELECT vec_id, emb, centroid_id FROM (
            SELECT e.vec_id, e.emb, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_cos_sql('e.emb', 'c.cemb')} DESC,
                                c.centroid_id) AS rn
            FROM e, cent c
        ) WHERE rn = 1
    ),
    nn AS (
        SELECT vec_id, centroid_id, d2 FROM (
            SELECT a.vec_id, a.centroid_id,
                   {_L2SQ_SQL.format(a='a.emb', b='b.emb')} AS d2,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_L2SQ_SQL.format(a='a.emb', b='b.emb')},
                                b.vec_id) AS rn
            FROM assigned a JOIN assigned b
              ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
        ) WHERE rn = {_OUT_K}
    )
    SELECT vec_id, centroid_id, d2 AS knn_dist_sq,
           CAST(ROW_NUMBER() OVER (ORDER BY d2 DESC, vec_id) AS BIGINT)
               AS outlier_rank
    FROM nn
    QUALIFY outlier_rank <= {_OUT_N}
    """,
    tags=("bounded_window", "similarity", "outlier_detection", "knn", "ivf",
          "data_quality"),
)
def knn_distance_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-based outlier detection (Knorr–Ng / Ramaswamy et al.
    2000: score = distance to the k-th nearest neighbor) made
    IVF-affordable: instead of the O(N²) all-pairs kNN, each vector's
    neighbors are searched ONLY inside its coarse-quantizer cell
    (ivf_centroid_assign's broadcast assignment), which upper-bounds
    the true k-NN distance — exactly the right bias for OUTLIER
    hunting, since points whose in-cell neighborhood is sparse are
    sparse, period. The report: top-{_OUT_N} vectors by distance² to
    their {_OUT_K}-th in-cell neighbor — the mislabeled/corrupt-
    embedding screen a curation pipeline runs before contrastive
    training (cf. label_centroid_dispersion, which scores CLASSES;
    this scores POINTS). Pair work is bucket-bounded (Σ|cell|², the
    semantic_dedup bound, tuned by K at scale); the final top-N is a
    TakeOrdered heap over one row per vector. Distances are
    index-order folds, rank ties broken by vec_id."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("emb")
    )
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb")
    )
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "emb",
            "centroid_id",
            cosine_similarity(F.col("emb"), F.col("cemb")).alias("cosine"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(
                    F.col("cosine").desc(), F.col("centroid_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "emb", "centroid_id")
    )
    a = assigned.select(
        F.col("vec_id"), F.col("emb"), F.col("centroid_id")
    )
    b = assigned.select(
        F.col("vec_id").alias("b_vec"),
        F.col("emb").alias("b_emb"),
        F.col("centroid_id").alias("b_cent"),
    )
    nn = (
        a.join(b, (F.col("centroid_id") == F.col("b_cent")))
        .filter(F.col("vec_id") != F.col("b_vec"))
        .select(
            "vec_id",
            "centroid_id",
            l2_sq(F.col("emb"), F.col("b_emb")).alias("d2"),
            F.col("b_vec"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy("d2", "b_vec")
            ),
        )
        .filter(F.col("rn") == _OUT_K)
    )
    # TakeOrdered heap for the global top-N; the rank window then runs
    # over the bounded {_OUT_N}-row heap result only (bounded_window).
    top = nn.orderBy(F.col("d2").desc(), "vec_id").limit(_OUT_N)
    return (
        top.withColumn(
            "outlier_rank",
            F.row_number()
            .over(W.orderBy(F.col("d2").desc(), F.col("vec_id")))
            .cast("long"),
        )
        .select(
            "vec_id",
            "centroid_id",
            F.col("d2").alias("knn_dist_sq"),
            "outlier_rank",
        )
    )


# --- SMOTE-style minority interpolation (round 7, session 4) ----------------
_SMOTE_SUM_SQL = (
    "list_reduce(list_transform(range(1, len({v}) + 1), i -> {v}[i]),"
    " (acc, x) -> acc + x)"
)
_SMOTE_NORM_SQL = (
    "sqrt(list_reduce(list_transform({v}, x -> x * x), (acc, x) -> acc + x))"
)


@register(
    "smote_interpolation_synthesis",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, {_EMB_DBL} AS emb FROM embeddings),
    lc AS (
        SELECT label FROM (
            SELECT label, COUNT(*) AS c,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*), label) AS rn
            FROM e GROUP BY label
        ) WHERE rn = 1
    ),
    mino AS (SELECT e.* FROM e JOIN lc ON lc.label = e.label),
    nn AS (
        SELECT vec_id, nb, d2 FROM (
            SELECT a.vec_id, b.vec_id AS nb,
                   {_L2SQ_SQL.format(a='a.emb', b='b.emb')} AS d2,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_L2SQ_SQL.format(a='a.emb', b='b.emb')},
                                b.vec_id) AS rn
            FROM mino a JOIN mino b ON a.vec_id <> b.vec_id
        ) WHERE rn = 1
    ),
    synth AS (
        SELECT n.vec_id AS parent_a, n.nb AS parent_b, n.d2,
               list_transform(range(1, len(a.emb) + 1),
                              i -> (a.emb[i] + b.emb[i]) / 2.0) AS sv
        FROM nn n
        JOIN mino a ON a.vec_id = n.vec_id
        JOIN mino b ON b.vec_id = n.nb
    )
    SELECT parent_a, parent_b, d2 AS parent_dist_sq,
           CAST(len(sv) AS BIGINT) AS dims,
           {_SMOTE_SUM_SQL.format(v='sv')} AS synth_sum,
           {_SMOTE_NORM_SQL.format(v='sv')} AS synth_l2_norm
    FROM synth
    """,
    tags=("similarity", "smote", "class_balancing", "data_augmentation",
          "bounded_broadcast", "bounded_cross"),
)
def smote_interpolation_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMOTE-style synthetic minority oversampling (Chawla et al.
    JAIR'02), deterministic variant: find the scarcest label, pair each
    of its vectors with its nearest same-label neighbor, and synthesize
    the midpoint vector — the class-balancing step an embedding-
    classifier pipeline runs when the minority class would otherwise
    be drowned (cf. negative_sampling_pairs, which balances PAIRS;
    this balances CLASSES by manufacturing points ON the minority
    manifold's chords). The neighbor search is confined to the
    minority label (|L|²-bounded pair work — the class that needs
    augmenting is small by definition, exactly why this is affordable),
    midpoints are exact double halvings per dimension in index order,
    and the gate-visible output is the per-synthetic-sample audit row
    (parents, parent distance², element sum and L2 norm of the
    synthetic vector — scalar reductions of the full vector, since the
    synthetic ARRAY itself is the training artifact, not a gate
    payload). Classic SMOTE draws a random point on the chord; the
    midpoint is the λ=1/2 member of that family, chosen for
    reproducibility.

    bounded_broadcast + bounded_cross: the hinted side is the
    MINORITY-CLASS pool (rarest label, pinned by checkpoint, so the
    audit cannot see the label filter), and the kNN join's only
    condition is the NEGATED equality ``vec_id != nb`` — which the
    round-13 conjunct-level audit correctly classifies as
    cartesian-class (a NOT-equality is not a hashable key; the join
    nested-loops). That is SMOTE's published shape: pairwise kNN,
    quadratic in the minority pool by construction — at corpus-scale
    minority classes you subsample BEFORE oversampling (the published
    guidance), so the pool is operated dimension-sized, not
    corpus-sized. Both bounds are real but structurally invisible,
    hence the adjudication tags (the isotonic_calibration precedent)."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").alias("emb")
    )
    lc = (
        e.groupBy("label")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(W.orderBy(F.col("c"), F.col("label"))),
        )
        .filter(F.col("rn") == 1)
        .select("label")
    )
    mino = checkpoint_audited(
        e.join(F.broadcast(lc), "label"),
        adjudicated="lc's rarest-label row_number orders the label-grain "
        "aggregate (bounded label enum), not corpus rows",
    )
    a = mino.select(F.col("vec_id"), F.col("emb"))
    b = mino.select(
        F.col("vec_id").alias("nb"), F.col("emb").alias("b_emb")
    )
    nn = (
        a.join(F.broadcast(b), F.col("vec_id") != F.col("nb"))
        .select(
            "vec_id",
            "nb",
            l2_sq(F.col("emb"), F.col("b_emb")).alias("d2"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy("d2", "nb")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "nb", "d2")
    )
    av = mino.select(F.col("vec_id"), F.col("emb").alias("a_emb"))
    bv = mino.select(
        F.col("vec_id").alias("nb"), F.col("emb").alias("b_emb2")
    )
    synth = (
        nn.join(av, "vec_id")
        .join(bv, "nb")
        .select(
            F.col("vec_id").alias("parent_a"),
            F.col("nb").alias("parent_b"),
            F.col("d2").alias("parent_dist_sq"),
            F.zip_with(
                F.col("a_emb"),
                F.col("b_emb2"),
                lambda x, y: (x.cast("double") + y.cast("double")) / 2.0,
            ).alias("sv"),
        )
    )
    return synth.select(
        "parent_a",
        "parent_b",
        "parent_dist_sq",
        F.size("sv").cast("long").alias("dims"),
        F.aggregate(
            F.col("sv"), F.lit(0.0), lambda acc, x: acc + x
        ).alias("synth_sum"),
        F.sqrt(
            F.aggregate(
                F.col("sv"), F.lit(0.0), lambda acc, x: acc + x * x
            )
        ).alias("synth_l2_norm"),
    )


# --- int8 (256-level) embedding quantization error audit (round 8) ----------
@register(
    "embedding_int8_quant_error",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    cells AS (
        SELECT vec_id, i AS dim, emb[i] AS v
        FROM e CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS i)
    ),
    stats AS (
        SELECT dim, MIN(v) AS vmin, MAX(v) AS vmax,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM cells GROUP BY dim
    ),
    quant AS (
        SELECT c.dim, s.vmin, s.vmax, s.n,
               abs(c.v - (s.vmin
                   + LEAST(floor((c.v - s.vmin) * 255.0 / (s.vmax - s.vmin)),
                           255.0)
                     * (s.vmax - s.vmin) / 255.0)) AS err
        FROM cells c JOIN stats s USING (dim)
    )
    SELECT CAST(dim AS BIGINT) AS dim, MAX(vmin) AS vmin, MAX(vmax) AS vmax,
           MAX(n) AS n_vectors,
           MAX(err) AS max_abs_err,
           {dsum_sql('err')} / CAST(MAX(n) AS DOUBLE) AS mean_abs_err
    FROM quant GROUP BY dim
    """,
    tags=("similarity", "quantization", "int8", "compression",
          "embedding_audit"),
)
def embedding_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 (256-level min/max) quantization error audit —
    the report a vector-store migration runs before switching the
    corpus to 4x-smaller int8 embeddings (PQ trades recall via
    codebooks; scalar quantization is the simpler production default
    and THIS is its error surface). The quantizer is floor-based —
    q = min(⌊(v−min)·255/range⌋, 255), dequant = min + q·range/255 —
    because floor is exact IEEE in both engines while round() is
    half-even in Spark and half-away in DuckDB; every product/quotient
    is written in the same order on both sides, so per-cell errors are
    bit-identical and the per-dim mean goes through exact decimal
    (dsum). Scale: one posexplode scan to (dim, value) cells, one
    {DIM}-row stats broadcast back — no shuffle wider than the
    {DIM}-group aggregate."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("emb")
    )
    cells = e.select(
        F.posexplode(F.transform(F.col("emb"), lambda x: x.cast("double")))
    ).select((F.col("pos") + 1).alias("dim"), F.col("col").alias("v"))
    stats = cells.groupBy("dim").agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.count("*").cast("long").alias("n"),
    )
    rng = F.col("vmax") - F.col("vmin")
    q = F.least(
        F.floor((F.col("v") - F.col("vmin")) * 255.0 / rng).cast("double"),
        F.lit(255.0),
    )
    err = F.abs(F.col("v") - (F.col("vmin") + q * rng / 255.0))
    quant = cells.join(F.broadcast(stats), "dim").select(
        "dim", "vmin", "vmax", "n", err.alias("err")
    )
    return quant.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.max("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.max("n").alias("n_vectors"),
        F.max("err").alias("max_abs_err"),
        (dsum("err") / F.max("n").cast("double")).alias("mean_abs_err"),
    )


# --- IVF nprobe -> recall sweep (round 8) ------------------------------------
_SWEEP_MAX_P = 3  # probe levels audited: nprobe = 1 .. _SWEEP_MAX_P


@register(
    "ivf_nprobe_recall_sweep",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb AS cemb FROM e
             WHERE vec_id < {N_CENTROIDS}),
    assigned AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_cos_sql('v.emb', 'c.cemb')}
                                               DESC, c.centroid_id) AS rn
            FROM e v, cent c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, centroid_id, rn AS probe_rn FROM (
            SELECT q.vec_id AS query_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_cos_sql('q.emb', 'c.cemb')}
                                               DESC, c.centroid_id) AS rn
            FROM e q, cent c WHERE q.vec_id < {N_QUERIES}
        ) WHERE rn <= {_SWEEP_MAX_P}
    ),
    cands AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, p.probe_rn,
               {_cos_sql('q.emb', 'v.emb')} AS cosine
        FROM probes p
        JOIN assigned a ON a.centroid_id = p.centroid_id
        JOIN e q ON q.vec_id = p.query_id
        JOIN e v ON v.vec_id = a.vec_id
        WHERE a.vec_id <> p.query_id
    ),
    levels AS (SELECT unnest(range(1, {_SWEEP_MAX_P} + 1)) AS nprobe),
    retrieved AS (
        SELECT nprobe, query_id, neighbor_id FROM (
            SELECT l.nprobe, c.query_id, c.neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY l.nprobe, c.query_id
                                      ORDER BY c.cosine DESC, c.neighbor_id)
                       AS rnk
            FROM cands c JOIN levels l ON c.probe_rn <= l.nprobe
        ) WHERE rnk <= {IVF_TOP_K}
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_cos_sql('q.emb', 'v.emb')}
                                               DESC, v.vec_id) AS rnk
            FROM e q JOIN e v ON v.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rnk <= {IVF_TOP_K}
    )
    SELECT l.nprobe AS nprobe,
           CAST(COUNT(r.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(r.neighbor_id) AS DOUBLE)
               / ({N_QUERIES} * {IVF_TOP_K}) AS mean_recall
    FROM levels l
    CROSS JOIN exact x
    LEFT JOIN retrieved r ON r.nprobe = l.nprobe
                         AND r.query_id = x.query_id
                         AND r.neighbor_id = x.neighbor_id
    GROUP BY l.nprobe
    """,
    tags=("similarity", "ivf", "ann", "recall", "parameter_sweep",
          "adjudication"),
)
def ivf_nprobe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe→recall tuning curve for the IVF index: recall@
    {IVF_TOP_K} against exact brute force at nprobe = 1..{_SWEEP_MAX_P},
    from ONE pass over the index — the capacity-planning table that
    decides what nprobe a 100 TB deployment actually needs (recall
    buys latency linearly in probed lists; this query shows where it
    plateaus). Candidates carry their centroid's probe rank, a
    broadcast 3-row level table fans each candidate to the levels that
    would see it, and per-(level, query) ranking is one partitioned
    window — the index is built once, the corpus never rescanned per
    level. Recall is an exact integer count over {N_QUERIES}×
    {IVF_TOP_K} slots. Scale: inherits ivf_topk_search's broadcast
    shape; the exact leg is the same bounded query-set brute force
    ann_recall_at_k already pins."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("emb")
    )
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb")
    )
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "emb",
            "centroid_id",
            cosine_similarity(F.col("emb"), F.col("cemb")).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(F.col("cos"), (-F.col("centroid_id")).alias("nc")),
            ).alias("centroid_id"),
            F.first("emb").alias("vemb"),
        )
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    w_probe = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("centroid_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qemb",
            "centroid_id",
            cosine_similarity(F.col("qemb"), F.col("cemb")).alias("cos"),
        )
        .withColumn("probe_rn", F.row_number().over(w_probe))
        .filter(F.col("probe_rn") <= _SWEEP_MAX_P)
        .select("query_id", "qemb", "centroid_id", "probe_rn")
    )
    cands = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "probe_rn",
            cosine_similarity(F.col("qemb"), F.col("vemb")).alias("cosine"),
        )
    )
    levels = spark.range(1, _SWEEP_MAX_P + 1).select(
        F.col("id").alias("nprobe")
    )
    w_rank = W.partitionBy("nprobe", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    retrieved = (
        cands.join(
            F.broadcast(levels), F.col("probe_rn") <= F.col("nprobe")
        )
        .withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= IVF_TOP_K)
        .select("nprobe", "query_id", "neighbor_id")
    )
    w_exact = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    exact = (
        e.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("vemb"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("qemb"), F.col("vemb")).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w_exact))
        .filter(F.col("rnk") <= IVF_TOP_K)
        .select("query_id", "neighbor_id")
    )
    return (
        levels.crossJoin(exact)
        .join(
            retrieved.withColumnRenamed("nprobe", "r_nprobe"),
            (F.col("r_nprobe") == F.col("nprobe"))
            & (retrieved["query_id"] == exact["query_id"])
            & (retrieved["neighbor_id"] == exact["neighbor_id"]),
            "left",
        )
        .groupBy(F.col("nprobe"))
        .agg(
            F.count(F.col("r_nprobe")).cast("long").alias("n_hits"),
            (
                F.count(F.col("r_nprobe")).cast("double")
                / F.lit(float(N_QUERIES * IVF_TOP_K))
            ).alias("mean_recall"),
        )
    )


# --- maximal marginal relevance re-ranking (round 8) -------------------------
_MMR_C = 20  # bounded candidate pool (top-C by relevance)
_MMR_K = 8  # diversified picks


def _mmr_step_sql(i: int) -> str:
    """CTE triple for greedy step i >= 2 (step 1 has no penalty).

    Every CTE is MATERIALIZED and the selected-set chain sel{i} is
    linear (sel{i} = sel{i-1} + pick{i-1}): without materialization
    DuckDB inlines each reference and the unrolled greedy blows up
    exponentially in plan size."""
    prev_sel = "SELECT doc_id FROM pick1" if i == 2 else f"""SELECT doc_id FROM sel{i - 1}
                UNION ALL SELECT doc_id FROM pick{i - 1}"""
    return f"""
    sel{i} AS MATERIALIZED ({prev_sel}),
    scored{i} AS MATERIALIZED (
        SELECT c.doc_id, c.rel, coalesce(MAX(s.sim), 0.0) AS pen
        FROM cands c
        LEFT JOIN sims s ON s.a = c.doc_id
                        AND s.b IN (SELECT doc_id FROM sel{i})
        WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{i})
        GROUP BY c.doc_id, c.rel
    ),
    pick{i} AS MATERIALIZED (
        SELECT CAST({i} AS BIGINT) AS step, doc_id, rel, pen,
               0.5 * rel - 0.5 * pen AS mmr_score
        FROM scored{i} ORDER BY mmr_score DESC, doc_id LIMIT 1
    )"""


_MMR_STEPS_SQL = ",".join(_mmr_step_sql(i) for i in range(2, _MMR_K + 1))
_MMR_UNION_SQL = " UNION ALL ".join(
    f"SELECT * FROM pick{i}" for i in range(1, _MMR_K + 1)
)


def _mmr_cands_sims(spark: SparkSession, sf_dir: str):
    """Candidate pool + C×C pairwise-similarity lineage for MMR.

    The corpus is scanned exactly once (the relevance TakeOrdered);
    ``cands`` CARRIES its embeddings through the checkpoint, so the
    pairwise table is assembled from the ≤C-row pool alone — no join,
    and in particular no broadcast, back to the embeddings table
    (round-8 defect: the pairwise stage broadcast the FULL corpus).
    Returns (cands checkpointed, sims lazy): the lazy sims lineage is
    what tests/test_scale_patterns.py pins — it must touch no parquet
    scan at all, only the checkpointed pool."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("emb")
    )
    q = (
        checkpoint_audited(e.filter(F.col("vec_id") == 0)
        .select(F.col("emb").alias("qe")))
    )
    cands = checkpoint_audited(
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine_similarity(F.col("emb"), F.col("qe")).alias("rel"),
            "emb",
        )
        .orderBy(F.col("rel").desc(), "doc_id")
        .limit(_MMR_C),
        adjudicated="broadcasts q, the checkpoint of a single-probe-row "
        "filter (vec_id = 0) audited bounded at its own construction",
    )
    ca = cands.select(F.col("doc_id").alias("a"), F.col("emb").alias("ea"))
    cb = cands.select(F.col("doc_id").alias("b"), F.col("emb").alias("eb"))
    sims_lazy = (
        ca.crossJoin(F.broadcast(cb))
        .filter(F.col("a") != F.col("b"))
        .select(
            "a", "b", cosine_similarity(F.col("ea"), F.col("eb")).alias("sim")
        )
    )
    return cands, sims_lazy


@register(
    "mmr_diversified_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
    cands AS MATERIALIZED (
        SELECT doc_id, rel FROM (
            SELECT v.vec_id AS doc_id, {_cos_sql('v.emb', 'q.qe')} AS rel
            FROM e v, q WHERE v.vec_id <> 0
            ORDER BY rel DESC, v.vec_id LIMIT {_MMR_C}
        )
    ),
    sims AS MATERIALIZED (
        SELECT a.doc_id AS a, b.doc_id AS b,
               {_cos_sql('ea.emb', 'eb.emb')} AS sim
        FROM cands a JOIN cands b ON a.doc_id <> b.doc_id
        JOIN e ea ON ea.vec_id = a.doc_id
        JOIN e eb ON eb.vec_id = b.doc_id
    ),
    pick1 AS MATERIALIZED (
        SELECT CAST(1 AS BIGINT) AS step, doc_id, rel, 0.0 AS pen,
               0.5 * rel - 0.5 * 0.0 AS mmr_score
        FROM cands ORDER BY mmr_score DESC, doc_id LIMIT 1
    ),
    {_MMR_STEPS_SQL}
    SELECT step, doc_id, rel, pen, mmr_score FROM ({_MMR_UNION_SQL})
    """,
    tags=("similarity", "mmr", "diversification", "rerank", "rag"),
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    SIGIR'98) — the diversification pass every RAG retriever runs
    between ANN recall and the context window: greedily pick the doc
    maximizing λ·rel(d) − (1−λ)·max_{{s∈S}} sim(d, s) with λ = 1/2
    (an exact binary, so the score is two correctly-rounded IEEE ops).
    The candidate pool is a TakeOrdered top-{_MMR_C} by relevance;
    relevance and the {_MMR_C}×{_MMR_C} pairwise-similarity table use
    the shared index-order cosine fold, and each greedy step is a
    1-row TakeOrdered over the ≤{_MMR_C}-row pool with doc_id
    tie-break — {_MMR_K} constant-size steps, checkpointed like
    pareto_front_layers so the plan stays linear. The oracle unrolls
    the same greedy as {_MMR_K} CTE levels (no recursion — drift-proof
    against the Spark loop). Scale: the corpus is touched exactly once
    by the relevance scan; the candidate pool CARRIES its embeddings
    through the TakeOrdered checkpoint, so the C×C pairwise stage is
    built from the ≤{_MMR_C}-row pool alone — no join (and no
    broadcast) back to the corpus. Plan-pinned: no BroadcastExchange
    in the optimized plan has the embeddings scan in its subtree
    (tests/test_scale_patterns.py)."""
    cands, sims_lazy = _mmr_cands_sims(spark, sf_dir)
    cands = cands.drop("emb")
    sims = checkpoint_audited(
        sims_lazy,
        adjudicated="the C x C pairwise stage over the two projections "
        "of the checkpointed <=C-row TakeOrdered candidate pool -- "
        "bounded by _MMR_C at both cross-join sides, audited at the "
        "pool's own construction",
    )
    mmr = (F.lit(0.5) * F.col("rel") - F.lit(0.5) * F.col("pen")).alias(
        "mmr_score"
    )
    pick = (
        checkpoint_audited(cands.withColumn("pen", F.lit(0.0))
        .select(F.lit(1).cast("long").alias("step"), "doc_id", "rel", "pen",
                mmr)
        .orderBy(F.col("mmr_score").desc(), "doc_id")
        .limit(1))
    )
    selected = pick
    for i in range(2, _MMR_K + 1):
        sel_ids = selected.select(F.col("doc_id").alias("b"))
        pen_tbl = (
            sims.join(F.broadcast(sel_ids), "b")
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.max("sim").alias("pen0"))
        )
        remaining = cands.join(
            selected.select("doc_id"), "doc_id", "left_anti"
        )
        scored = remaining.join(F.broadcast(pen_tbl), "doc_id", "left").select(
            "doc_id",
            "rel",
            F.coalesce(F.col("pen0"), F.lit(0.0)).alias("pen"),
        )
        pick = (
            scored.select(
                F.lit(i).cast("long").alias("step"), "doc_id", "rel", "pen",
                mmr,
            )
            .orderBy(F.col("mmr_score").desc(), "doc_id")
            .limit(1)
        )
        selected = checkpoint_audited(
            selected.unionByName(pick),
            adjudicated="pick's lineage broadcasts sel_ids (<=K rows, the "
            "checkpointed running selection) and pen_tbl (an aggregate "
            "of the checkpointed <=C^2 sims pool) -- both bounded at "
            "their own construction",
        )
    return selected


# --- per-label embedding centroid shift between corpus halves (round 8) -----
@register(
    "embedding_centroid_shift",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, vec_id % 2 AS half, {_EMB_DBL} AS emb
        FROM embeddings
    ),
    cells AS (
        SELECT label, half, i AS dim, emb[i] AS v
        FROM e CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS i)
    ),
    cents AS (
        SELECT label, half, dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               {dsum_sql('v')} / CAST(COUNT(*) AS DOUBLE) AS c
        FROM cells GROUP BY label, half, dim
    ),
    paired AS (
        SELECT a.label, a.n AS n_even, b.n AS n_odd, a.dim,
               (a.c - b.c) * (a.c - b.c) AS d2
        FROM cents a JOIN cents b
          ON a.label = b.label AND a.dim = b.dim
        WHERE a.half = 0 AND b.half = 1
    )
    SELECT label, n_even, n_odd,
           sqrt(list_reduce(list(d2 ORDER BY dim), (acc, x) -> acc + x))
               AS centroid_shift
    FROM paired GROUP BY label, n_even, n_odd
    """,
    tags=("similarity", "drift", "centroid", "embedding_audit",
          "model_scoring"),
)
def embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid displacement between the two corpus halves
    (vec_id parity as the before/after stand-in) — the embedding-drift
    monitor a retrieval stack runs when the encoder or the corpus
    changes: a large shift for one label means its region of the space
    moved and the ANN index needs rebuilding there first. Per-dim sums
    accumulate through exact decimal per (label, half) — one
    partial-aggregated pass, no pairwise anything — centroids divide
    once per dim, and the L2 shift is the shared index-order fold + the
    sanctioned sqrt. Scale: the corpus is touched once; everything
    after is (labels × {DIM})-sized."""
    from beam_pyspark_runner_spark.functions.numeric import dsum as _ds

    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ),
    )
    sums = e.groupBy("label", "half", F.col("pos")).agg(
        F.count("*").cast("long").alias("n"),
        _ds("col").alias("s"),
    )
    cents = sums.select(
        "label", "half", "n", "pos",
        (F.col("s") / F.col("n").cast("double")).alias("c"),
    )
    a = cents.filter(F.col("half") == 0).select(
        "label", F.col("n").alias("n_even"), "pos", F.col("c").alias("ca")
    )
    b = cents.filter(F.col("half") == 1).select(
        "label", F.col("n").alias("n_odd"), "pos", F.col("c").alias("cb")
    )
    # index-order fold: collect per-dim diffs into a sorted array, then
    # the same left-to-right reduction the oracle's list_reduce does
    paired = (
        a.join(b, ["label", "pos"])
        .groupBy("label", "n_even", "n_odd")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        ((F.col("ca") - F.col("cb"))
                         * (F.col("ca") - F.col("cb"))).alias("d2"),
                    )
                )
            ).alias("terms")
        )
    )
    fold = F.aggregate(
        F.transform(F.col("terms"), lambda t: t.getField("d2")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return paired.select(
        "label", "n_even", "n_odd", F.sqrt(fold).alias("centroid_shift")
    )


# --- reciprocal best-match linking within coarse cells (round 8) -------------
@register(
    "reciprocal_best_match_links",
    oracle=f"""
    WITH e AS (SELECT vec_id, vec_id % 2 AS half, {_EMB_DBL} AS emb
               FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb AS cemb FROM e
             WHERE vec_id < {N_CENTROIDS}),
    assigned AS (
        SELECT vec_id, half, emb, centroid_id FROM (
            SELECT v.vec_id, v.half, v.emb, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_cos_sql('v.emb', 'c.cemb')}
                                               DESC, c.centroid_id) AS rn
            FROM e v, cent c
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT a.vec_id AS even_id, b.vec_id AS odd_id,
               {_cos_sql('a.emb', 'b.emb')} AS cosine
        FROM assigned a JOIN assigned b
          ON a.centroid_id = b.centroid_id
        WHERE a.half = 0 AND b.half = 1
    ),
    best_e AS (
        SELECT even_id, odd_id, cosine FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY even_id
                       ORDER BY cosine DESC, odd_id) AS rn FROM scored
        ) WHERE rn = 1
    ),
    best_o AS (
        SELECT even_id, odd_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY odd_id
                       ORDER BY cosine DESC, even_id) AS rn FROM scored
        ) WHERE rn = 1
    )
    SELECT be.even_id, be.odd_id, be.cosine
    FROM best_e be JOIN best_o bo
      ON bo.even_id = be.even_id AND bo.odd_id = be.odd_id
    """,
    tags=("similarity", "record_linkage", "reciprocal_best_match", "ann",
          "dedup"),
)
def reciprocal_best_match_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best matches between the two corpus halves (vec_id
    parity as the two-snapshot stand-in): a link (a, b) survives only
    if b is a's nearest cross-half neighbor AND a is b's — the mutual-
    nearest-neighbor criterion entity-resolution and bitext-mining
    pipelines use to kill asymmetric false matches (one-directional
    best-match precision is much lower). The candidate space is
    bounded by coarse-quantizer cells (the knn_distance_outliers IVF
    discipline — best match searched within each vector's centroid
    cell, never all-pairs); per-side argmax is a partitioned window;
    reciprocity is one self-equi-join of two bounded best-match
    tables. Ties break toward the smaller id on both sides."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", (F.col("vec_id") % 2).alias("half"),
        F.col("embedding").alias("emb"),
    )
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb")
    )
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "half", "emb", "centroid_id",
            cosine_similarity(F.col("emb"), F.col("cemb")).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(F.col("cos"), (-F.col("centroid_id")).alias("nc")),
            ).alias("centroid_id"),
            F.first("half").alias("half"),
            F.first("emb").alias("vemb"),
        )
    )
    evens = assigned.filter(F.col("half") == 0).select(
        F.col("vec_id").alias("even_id"),
        F.col("centroid_id"),
        F.col("vemb").alias("ea"),
    )
    odds = assigned.filter(F.col("half") == 1).select(
        F.col("vec_id").alias("odd_id"),
        F.col("centroid_id"),
        F.col("vemb").alias("eb"),
    )
    scored = evens.join(odds, "centroid_id").select(
        "even_id", "odd_id",
        cosine_similarity(F.col("ea"), F.col("eb")).alias("cosine"),
    )
    we = W.partitionBy("even_id").orderBy(F.col("cosine").desc(), "odd_id")
    wo = W.partitionBy("odd_id").orderBy(F.col("cosine").desc(), "even_id")
    best_e = (
        scored.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") == 1)
        .select("even_id", "odd_id", "cosine")
    )
    best_o = (
        scored.withColumn("rn", F.row_number().over(wo))
        .filter(F.col("rn") == 1)
        .select(
            F.col("even_id").alias("be_id"), F.col("odd_id").alias("bo_id")
        )
    )
    return best_e.join(
        best_o,
        (F.col("even_id") == F.col("be_id"))
        & (F.col("odd_id") == F.col("bo_id")),
    ).select("even_id", "odd_id", "cosine")


# --- simplified silhouette (round 9) ----------------------------------------------
@register(
    "simplified_silhouette",
    oracle=f"""
    WITH dims AS (
        SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings
        CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS i)
    ),
    per_pos AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS c
        FROM dims GROUP BY 1, 2
    ),
    cents AS (
        SELECT label AS clab, list(c ORDER BY pos) AS cent
        FROM per_pos GROUP BY label
    ),
    e AS (SELECT vec_id, label, {_EMB_DBL} AS emb FROM embeddings),
    d AS (
        SELECT e.vec_id, e.label, c.clab,
               {_L2SQ_SQL.format(a='e.emb', b='c.cent')} AS d2
        FROM e CROSS JOIN cents c
    ),
    ab AS (
        SELECT vec_id, label,
               MAX(CASE WHEN clab = label THEN d2 END) AS a,
               MIN(CASE WHEN clab <> label THEN d2 END) AS b
        FROM d GROUP BY vec_id, label
    ),
    s AS (
        SELECT label,
               CAST(FLOOR((b - a) / GREATEST(a, b) * 1000000) AS BIGINT)
                   AS sq
        FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST((SUM(sq) + COUNT(*) * 1000000) // COUNT(*) - 1000000
                AS BIGINT) AS mean_sil_e6,
           CAST(SUM(CASE WHEN sq < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative
    FROM s GROUP BY label
    """,
    tags=("similarity", "clustering_eval", "silhouette", "centroid",
          "llm_data"),
)
def simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPLIFIED silhouette per label (Hruschka et al. 2004 — the
    centroid-distance form of Rousseeuw 1987): s_i = (b-a)/max(a,b)
    with a = squared distance to the OWN label centroid and b = the
    nearest OTHER centroid — the O(n*k) clustering-quality audit that
    replaces the true silhouette's O(n^2) pairwise pass, i.e. the only
    silhouette a 100 TB embedding corpus can afford. Negative s_i =
    the point sits closer to another label's centroid (mislabeled or
    boundary); n_negative per label is the relabel-candidate count
    consumed next to knn_classify_embeddings' disagreements. Centroids
    come from exact-decimal per-dimension sums (one corpus pass);
    distances are the shared index-order l2_sq fold (bit-identical to
    the DuckDB list_reduce twin); each s_i quantizes to an INTEGER
    floor(s*1e6) so the per-label mean is exact integer arithmetic —
    no float summation order anywhere.

    Scale (100 TB): one explode pass for centroids (state = labels x
    {DIM}), one corpus scan against the broadcast labels-row centroid
    table, one label-grain rollup. Nothing pairwise, nothing windowed."""
    from beam_pyspark_runner_spark.functions.vectors import l2_sq

    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("pos", "v"),
    )
    per_pos = dims.groupBy("label", "pos").agg(
        # raw (38,10) decimal sum -> double (the label_centroid_dispersion
        # idiom): dsum's money-scale (38,2) re-round would quantize away
        # the ~0.05-magnitude embedding coordinates entirely
        (
            F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
            / F.count("*").cast("double")
        ).alias("c")
    )
    cents = per_pos.groupBy(F.col("label").alias("clab")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda x: x["c"],
        ).alias("cent")
    )
    d = emb.select("vec_id", "label", "embedding").crossJoin(
        F.broadcast(cents)
    ).select(
        "vec_id",
        "label",
        "clab",
        l2_sq(F.col("embedding"), F.col("cent")).alias("d2"),
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clab") == F.col("label"), F.col("d2"))).alias("a"),
        F.min(F.when(F.col("clab") != F.col("label"), F.col("d2"))).alias("b"),
    )
    s = ab.select(
        "label",
        F.floor(
            (F.col("b") - F.col("a"))
            / F.greatest("a", "b")
            * 1000000
        ).alias("sq"),
    )
    return s.groupBy("label").agg(
        F.count("*").cast("long").alias("n_points"),
        F.expr(
            "CAST((SUM(sq) + COUNT(*) * 1000000) div COUNT(*) - 1000000"
            " AS BIGINT)"
        ).alias("mean_sil_e6"),
        F.sum(F.when(F.col("sq") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_negative"),
    )


# --- diagonal-covariance Mahalanobis outliers (round 10) -------------------------
MAHA_Q = 1_000_000  # fixed-point quantum for embedding components
MAHA_TOPK = 10


@register(
    "mahalanobis_diag_outliers",
    oracle=f"""
    WITH cells AS (
      SELECT vec_id, label, i.i AS pos,
             CAST(ROUND(CAST(embedding[i.i] AS DOUBLE) * {MAHA_Q})
                  AS BIGINT) AS v
      FROM embeddings
      CROSS JOIN (SELECT unnest(range(1, {EMB_DIM} + 1)) AS i) i),
    st AS (
      SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s,
             CAST(SUM(CAST(v AS HUGEINT)*v) AS HUGEINT) AS sxx
      FROM cells GROUP BY 1),
    terms AS (
      SELECT c.vec_id, c.label,
             CAST(CAST(st.n AS HUGEINT)*c.v - st.s AS HUGEINT)
               * CAST(CAST(st.n AS HUGEINT)*c.v - st.s AS HUGEINT)
               * 1000000000
               // (CAST(st.n AS HUGEINT)*st.sxx
                   - CAST(st.s AS HUGEINT)*st.s) AS t_e9
      FROM cells c JOIN st ON c.pos = st.pos),
    d AS (
      SELECT vec_id, label, CAST(SUM(t_e9) AS HUGEINT) AS d_e9
      FROM terms GROUP BY 1, 2)
    SELECT vec_id, label,
           CAST(d_e9 AS DOUBLE) / 1000000000.0 AS m_dist2
    FROM d ORDER BY d_e9 DESC, vec_id LIMIT {MAHA_TOPK}
    """,
    tags=("similarity", "outlier", "mahalanobis", "anomaly", "ml_eval"),
)
def mahalanobis_diag_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{MAHA_TOPK} embedding outliers by DIAGONAL-covariance
    Mahalanobis distance: d²(x) = Σ_d (x_d − μ_d)²/σ²_d — the
    per-dimension-standardized distance that catches vectors far from
    the corpus along LOW-variance axes, which raw L2 (and the cosine
    family) cannot see. The diagonal form is the one that scales: full
    Mahalanobis needs Σ⁻¹ (embedding_covariance_matrix + a solve);
    diagonal needs d sufficient-statistic rows and is the standard
    embedding-space anomaly screen before dedup/clustering.

    Determinism: components quantize to integers once (×{MAHA_Q}); with
    S, Sxx exact per dimension, (x−μ)²/σ² == (n·v−S)²/(n·Sxx−S²) —
    n cancels — so every term is an exact integer ratio, quantized by
    integer division (`div`, truncation identical in both engines) at
    1e-9 grain and summed order-free as integers; ONE double division
    at the end.

    Scale (100 TB): one explode pass to (corpus×d) rows feeding a
    map-side-combinable d-row stats table; the term join broadcasts d
    rows (planner-gated); top-k is TakeOrderedAndProject."""
    cells = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ),
    ).select(
        "vec_id",
        "label",
        F.col("pos"),
        F.round(F.col("col") * MAHA_Q).cast("long").alias("v"),
    )
    dec = "decimal(38,0)"
    st = cells.groupBy("pos").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum((F.col("v").cast(dec) * F.col("v")).cast(dec)).cast(dec).alias("sxx"),
    )
    terms = cells.join(st, "pos").select(
        "vec_id",
        "label",
        # integer `div` matches DuckDB's `//` (both truncate toward 0)
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0))*v - s) * (CAST(n AS DECIMAL(38,0))*v - s)"
            " * 1000000000 div (CAST(n AS DECIMAL(38,0))*sxx"
            " - CAST(s AS DECIMAL(38,0))*s) AS DECIMAL(38,0))"
        ).alias("t_e9"),
    )
    d = terms.groupBy("vec_id", "label").agg(
        F.sum("t_e9").cast(dec).alias("d_e9")
    )
    return (
        d.select(
            "vec_id",
            "label",
            (F.col("d_e9").cast("double") / 1e9).alias("m_dist2"),
            "d_e9",
        )
        .orderBy(F.col("d_e9").desc(), "vec_id")
        .limit(MAHA_TOPK)
        .select("vec_id", "label", "m_dist2")
    )


# --- Rocchio nearest-centroid classification (round 10) --------------------------
@register(
    "rocchio_centroid_classify",
    oracle=f"""
    WITH cells AS (
      SELECT vec_id, label, i.i AS pos,
             CAST(ROUND(CAST(embedding[i.i] AS DOUBLE) * {MAHA_Q})
                  AS BIGINT) AS v
      FROM embeddings
      CROSS JOIN (SELECT unnest(range(1, {EMB_DIM} + 1)) AS i) i),
    cent AS (
      SELECT label AS clab, pos, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS nl,
             CAST(SUM(v) AS BIGINT) AS s
      FROM cells GROUP BY 1, 2),
    scores AS (
      SELECT c.vec_id, c.label, ct.clab,
             CAST(SUM(CAST(c.v AS HUGEINT) * ct.s) AS HUGEINT) AS num,
             MAX(ct.nl) AS nl
      FROM cells c JOIN cent ct ON c.pos = ct.pos
      GROUP BY 1, 2, 3),
    ranked AS (
      SELECT vec_id, label, clab,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY CAST(num AS DOUBLE)/CAST(nl AS DOUBLE) DESC, clab
             ) AS r
      FROM scores)
    SELECT label AS true_label, clab AS predicted_label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM ranked WHERE r = 1 GROUP BY 1, 2
    """,
    tags=("similarity", "classification", "rocchio", "centroid", "ml_eval"),
)
def rocchio_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio / nearest-centroid classification (Rocchio 1971; the
    nearest-prototype baseline every embedding classifier is measured
    against): assign each vector to the label whose MEAN EMBEDDING has
    the highest dot product with it, then emit the confusion matrix
    against the true labels. One centroid row per (label, dim) makes
    this the classifier that still works when kNN's per-query top-k
    scan (knn_classify_embeddings) is too expensive — centroids are a
    |labels|×d table at any corpus size.

    Determinism: components quantize once (×{MAHA_Q}); centroid sums S
    and the dot numerators Σ v·S are exact integers (order-free), and
    the argmax compares num/n_label in ONE double division with a
    label tie-break, so both engines rank identically.

    Scale (100 TB): one explode pass, one map-side-combinable
    (label, dim) centroid rollup (bounded — planner broadcasts it),
    one corpus-side join + per-vector argmax window (entity-
    partitioned), and a |labels|² confusion rollup."""
    cells = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ),
    ).select(
        "vec_id",
        "label",
        "pos",
        F.round(F.col("col") * MAHA_Q).cast("long").alias("v"),
    )
    dec = "decimal(38,0)"
    cent = cells.groupBy(F.col("label").alias("clab"), "pos").agg(
        F.countDistinct("vec_id").cast("long").alias("nl"),
        F.sum("v").cast("long").alias("s"),
    )
    scores = (
        cells.join(cent, "pos")
        .groupBy("vec_id", "label", "clab")
        .agg(
            F.sum((F.col("v").cast(dec) * F.col("s")).cast(dec))
            .cast(dec)
            .alias("num"),
            F.max("nl").alias("nl"),
        )
    )
    ranked = scores.select(
        "vec_id",
        "label",
        "clab",
        F.row_number()
        .over(
            W.partitionBy("vec_id").orderBy(
                (F.col("num").cast("double") / F.col("nl").cast("double")).desc(),
                "clab",
            )
        )
        .alias("r"),
    )
    return (
        ranked.filter(F.col("r") == 1)
        .groupBy(
            F.col("label").alias("true_label"),
            F.col("clab").alias("predicted_label"),
        )
        .agg(F.count("*").cast("long").alias("n_vectors"))
    )


# --- NN-descent (round 10) -------------------------------------------------

K_NND = 5  # neighbor-list width for the NN-descent graph
N_NND_PROBES = 16  # vec_id < N_NND_PROBES get exact ground truth
_NND_A = 131071  # 2^17 - 1: id mixer, id*A stays < 2^63 up to ~7e13 ids
_NND_B = 524287  # 2^19 - 1: slot mixer


@register(
    "nn_descent_round_recall",
    oracle=f"""
    WITH nv AS (SELECT COUNT(*) AS n_vec FROM embeddings),
    init AS (
        SELECT DISTINCT vec_id,
               (vec_id * {_NND_A} + j * {_NND_B}) % n_vec AS nbr
        FROM embeddings CROSS JOIN nv
        CROSS JOIN (SELECT UNNEST(range(1, {K_NND} + 1)) AS j)
        WHERE (vec_id * {_NND_A} + j * {_NND_B}) % n_vec <> vec_id
    ),
    expand AS (
        SELECT a.vec_id, b.nbr
        FROM init a JOIN init b ON a.nbr = b.vec_id
        WHERE b.nbr <> a.vec_id
    ),
    cand AS (
        SELECT DISTINCT vec_id, nbr FROM (
            SELECT vec_id, nbr FROM init
            UNION ALL SELECT vec_id, nbr FROM expand
        )
    ),
    e AS (SELECT vec_id, {_EMB_DBL} AS emb FROM embeddings),
    scored AS (
        SELECT c.vec_id, c.nbr,
               {_cos_sql('eu.emb', 'ew.emb')} AS cosine
        FROM cand c
        JOIN e eu ON eu.vec_id = c.vec_id
        JOIN e ew ON ew.vec_id = c.nbr
    ),
    r1 AS (
        SELECT vec_id, nbr FROM (
            SELECT vec_id, nbr,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cosine DESC, nbr) AS rnk
            FROM scored
        ) WHERE rnk <= {K_NND}
    ),
    gt AS (
        SELECT vec_id, nbr FROM (
            SELECT q.vec_id, c.vec_id AS nbr,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_cos_sql('q.emb', 'c.emb')} DESC, c.vec_id
                   ) AS rnk
            FROM e q JOIN e c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < {N_NND_PROBES}
        ) WHERE rnk <= {K_NND}
    ),
    ncand AS (
        SELECT vec_id, COUNT(*) AS n_cand FROM cand
        WHERE vec_id < {N_NND_PROBES} GROUP BY vec_id
    )
    SELECT g.vec_id,
           CAST(MAX(n.n_cand) AS BIGINT) AS n_cand,
           CAST(COUNT(i.nbr) AS BIGINT) AS init_hits,
           CAST(COUNT(r.nbr) AS BIGINT) AS round1_hits
    FROM gt g
    JOIN ncand n ON n.vec_id = g.vec_id
    LEFT JOIN init i ON i.vec_id = g.vec_id AND i.nbr = g.nbr
    LEFT JOIN r1 r ON r.vec_id = g.vec_id AND r.nbr = g.nbr
    GROUP BY g.vec_id
    """,
    tags=("similarity", "ann", "nn_descent", "graph", "llm_data"),
)
def nn_descent_round_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One NN-descent round (Dong, Moses & Li, WWW 2011) with exact
    recall audit: start from a DETERMINISTIC pseudo-random K-neighbor
    graph (modular id mixing, so the oracle rebuilds it bit-identically),
    expand each list with its neighbors-of-neighbors, score every
    candidate edge with exact cosine, and keep the best K per node —
    the graph-construction step behind HNSW/NN-descent ANN indexes,
    which IVF/LSH (the repo's other ANN paths) do not cover. For a
    literal probe set the query also computes brute-force ground truth
    and reports init vs post-round hit counts as INTEGERS (recall = 
    hits/K), so the oracle match is exact arithmetic end to end; the
    round-1 hit count provably dominates the init hit count (a top-K
    member can only be displaced by a better global neighbor, which is
    itself a ground-truth member — pinned by a property test).

    Scale (100 TB): the init graph is a narrow map over ids (K rows per
    node); the expansion self-join fans out to at most K^2 rows per
    node; scoring is two vec_id equi-joins against the corpus — all
    linear in corpus size, AQE picks broadcast only for the tiny
    probe/ncand sides. Ground truth alone is |probes|x|corpus| with the
    literal probe set broadcast (the cosine_topk shape). No hints, no
    pairwise corpus stage, no checkpoint."""
    e = load_table(spark, sf_dir, "embeddings")
    nv = e.agg(F.count("*").alias("n_vec"))  # bounded: global aggregate
    slot = F.explode(F.sequence(F.lit(1), F.lit(K_NND))).alias("j")
    init = (
        e.select("vec_id")
        .crossJoin(F.broadcast(nv))
        .select("vec_id", slot, "n_vec")
        .select(
            "vec_id",
            (
                (F.col("vec_id") * _NND_A + F.col("j") * _NND_B)
                % F.col("n_vec")
            ).alias("nbr"),
        )
        .filter(F.col("nbr") != F.col("vec_id"))
        .distinct()
    )
    expand = (
        init.alias("a")
        .join(init.alias("b"), F.col("a.nbr") == F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_id"), F.col("b.nbr").alias("nbr"))
        .filter(F.col("nbr") != F.col("vec_id"))
    )
    cand = init.unionAll(expand).distinct()
    emb_u = e.select("vec_id", F.col("embedding").alias("eu"))
    emb_w = e.select(F.col("vec_id").alias("nbr"), F.col("embedding").alias("ew"))
    scored = (
        cand.join(emb_u, "vec_id")
        .join(emb_w, "nbr")
        .select(
            "vec_id",
            "nbr",
            cosine_similarity(F.col("eu"), F.col("ew")).alias("cosine"),
        )
    )
    w_u = W.partitionBy("vec_id").orderBy(F.col("cosine").desc(), "nbr")
    r1 = (
        scored.withColumn("rnk", F.row_number().over(w_u))
        .filter(F.col("rnk") <= K_NND)
        .select("vec_id", "nbr")
    )
    probes = e.filter(F.col("vec_id") < N_NND_PROBES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    gt = (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            F.col("qid").alias("vec_id"),
            F.col("vec_id").alias("nbr"),
            cosine_similarity(F.col("qe"), F.col("embedding")).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w_u))
        .filter(F.col("rnk") <= K_NND)
        .select("vec_id", "nbr")
    )
    ncand = (
        cand.filter(F.col("vec_id") < N_NND_PROBES)
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_cand"))
    )
    init_p = init.withColumnRenamed("nbr", "i_nbr")
    r1_p = r1.withColumnRenamed("nbr", "r_nbr")
    joined = (
        gt.join(ncand, "vec_id")
        .join(
            init_p,
            (init_p["vec_id"] == gt["vec_id"]) & (init_p["i_nbr"] == gt["nbr"]),
            "left",
        )
        .drop(init_p["vec_id"])
        .join(
            r1_p,
            (r1_p["vec_id"] == gt["vec_id"]) & (r1_p["r_nbr"] == gt["nbr"]),
            "left",
        )
        .drop(r1_p["vec_id"])
    )
    return joined.groupBy(gt["vec_id"]).agg(
        F.max("n_cand").cast("long").alias("n_cand"),
        F.count("i_nbr").cast("long").alias("init_hits"),
        F.count("r_nbr").cast("long").alias("round1_hits"),
    )


# --- HNSW layer assignment audit (round 11) -----------------------------------------
_HNSW_LMAX = 20  # level cap (2^-21 tail mass: never reached on fixtures)


@register(
    "hnsw_level_assignment",
    oracle=f"""
    WITH u AS (
      SELECT vec_id,
             (('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':hnsw'), 1, 8))
              ::BIGINT) AS h
      FROM embeddings),
    lv AS (
      SELECT vec_id,
             CAST(LEAST(CASE WHEN h = 0 THEN {_HNSW_LMAX}
                             ELSE bit_count((h & -h) - 1) END,
                        {_HNSW_LMAX}) AS BIGINT) AS lvl
      FROM u),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(MAX(lvl) AS BIGINT) AS max_level FROM lv),
    entry AS (
      SELECT MIN(vec_id) AS entry_vec_id
      FROM lv, t WHERE lvl = max_level),
    hist AS (
      SELECT lvl AS level, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM lv
      GROUP BY 1)
    SELECT h.level, h.n_vecs,
           t.n // CAST(POWER(2, h.level + 1) AS BIGINT) AS expected_n,
           t.max_level, e.entry_vec_id
    FROM hist h, t, entry e
    """,
    tags=("similarity", "ann", "hnsw", "index_build", "geometric"),
)
def hnsw_level_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW layer assignment (Malkov-Yashunin 2018) over the embedding
    corpus, plus the construction metadata an index builder needs
    before inserting a single edge: the per-level population histogram
    against its geometric expectation, the top level, and the entry
    point. HNSW draws each node's level from Geometric(1/2) (mL =
    1/ln 2 in the paper's floor(-ln(u)*mL) form); here the draw is the
    TRAILING-ZERO COUNT of an md5-derived 32-bit hash — exactly
    Geometric(1/2), deterministic, reproducible across engines and
    re-runs, and computed with pure bit arithmetic
    (bit_count((h & -h) - 1)) where the paper's ln(u) form would hit
    the cross-engine libm ban (dsir/zipf discipline). Completes the
    ANN index-construction family: IVF covers the partition path,
    PQ the compression path, nn_descent the graph-refinement step —
    this is the hierarchy step HNSW adds, and expected-vs-actual level
    counts are the health check that a skewed id space hasn't
    flattened the hierarchy (a flat hierarchy silently degrades HNSW
    to linear scan).

    Everything is exact integer arithmetic: counts, integer-division
    expectations n >> (level+1), min-id entry point (max level, ties
    to the smallest id).

    Scale (100 TB): one map-side hash + bit expression per vector, a
    level-bounded ({_HNSW_LMAX + 1} rows) histogram aggregate, one
    global scalar. Nothing shuffles but the histogram."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    lv = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            h32(
                F.concat(F.col("vec_id").cast("string"), F.lit(":hnsw"))
            ).alias("h"),
        )
        .select(
            "vec_id",
            F.least(
                F.when(F.col("h") == 0, F.lit(_HNSW_LMAX)).otherwise(
                    F.expr("bit_count((h & -h) - 1)")
                ),
                F.lit(_HNSW_LMAX),
            )
            .cast("long")
            .alias("lvl"),
        )
    )
    t = lv.agg(
        F.count("*").cast("long").alias("n"),
        F.max("lvl").cast("long").alias("max_level"),
    )
    entry = (
        lv.crossJoin(F.broadcast(t))
        .filter(F.col("lvl") == F.col("max_level"))
        .agg(F.min("vec_id").alias("entry_vec_id"))
    )
    hist = lv.groupBy(F.col("lvl").alias("level")).agg(
        F.count("*").cast("long").alias("n_vecs")
    )
    return (
        hist.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(entry))
        .select(
            "level",
            "n_vecs",
            F.expr("n div cast(power(2, level + 1) as bigint)").alias(
                "expected_n"
            ),
            "max_level",
            "entry_vec_id",
        )
    )
