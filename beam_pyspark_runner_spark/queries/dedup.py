"""Deduplication operators over the ``documents`` table.

North-star LLM-data surface (SURVEY.md §2.4 / §7 M6): exact dedup,
n-gram Jaccard near-dup, MinHash-LSH candidate generation, and
SimHash banding. Every variant is expressed with DataFrame ops only —
shingling via higher-order array functions, hashing via the md5-prefix
primitive (functions/hashing.py) that DuckDB reproduces bit-for-bit, so
each operator has a full value-hash oracle.

Scale notes (100 TB): the LSH paths are the production paths — cost is
O(docs × shingles) for signatures plus a groupBy on band keys whose
fan-in is bounded by band-bucket size; no all-pairs stage exists except
inside a bucket. The exact-Jaccard query is the small-scale oracle for
tuning thresholds, quadratic only within shingle-sharing groups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from beam_pyspark_runner_spark.functions.hashing import (
    MINHASH_P,
    MINHASH_SEEDS,
    h32,
    h32_sql,
)
from beam_pyspark_runner_spark.plans.audit import checkpoint_audited
from beam_pyspark_runner_spark.plans.fixpoint import fixpoint
from beam_pyspark_runner_spark.queries.registry import register
from beam_pyspark_runner_spark.sources.readers import load_table, spread

SHINGLE_K = 3  # word n-gram width
JACCARD_THRESHOLD = 0.5
N_BANDS = 4
ROWS_PER_BAND = 4  # N_BANDS * ROWS_PER_BAND == len(MINHASH_SEEDS)
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 8


def _shingles(text: Column) -> Column:
    """Distinct word ``SHINGLE_K``-grams of a space-tokenized text column."""
    toks = F.split(text, " ")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), n - SHINGLE_K),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(SHINGLE_K)]
        ),
    )
    return F.array_distinct(grams)


def _shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) exploded rows; docs shorter than K words dropped."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return (
        d.filter(F.size(F.split(F.col("text"), " ")) >= SHINGLE_K)
        .select("doc_id", F.explode(_shingles(F.col("text"))).alias("s"))
    )


# DuckDB twin of _shingle_df, used as a CTE prefix by every oracle below.
_SHINGLE_SQL = f"""
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM toks
    )
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    tags=("dedup", "exact_dedup"),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep lowest doc_id per group.
    One shuffle on the 128-bit content hash; at 100 TB, hashing instead of
    grouping by the full text keeps shuffle rows tiny."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


@register(
    "dedup_exact_normalized",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
           MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    tags=("dedup", "exact_dedup", "normalize"),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonicalization (case/whitespace-insensitive)."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return d.groupBy(F.md5(norm).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE)
          >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "near_dedup", "ngram_jaccard"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (j >= threshold).

    Self-join on shingle → intersection counts; |A∪B| = |A|+|B|−|A∩B|.
    Quadratic only within docs sharing a shingle — the tuning oracle for
    the MinHash path, not the 100 TB path itself.
    """
    sh = _shingle_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, m0..m15): MinHash signature via min over permuted hashes.

    Partial aggregation makes this one shuffle of (doc, 16×bigint) rows —
    the shingle explosion never shuffles.
    """
    sh = _shingle_df(spark, sf_dir)
    h = h32(F.col("s"))
    mins = [
        F.min((F.lit(a) * h + F.lit(b)) % MINHASH_P).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def _band_cols(prefix: str = "m") -> list[Column]:
    out = []
    for band in range(N_BANDS):
        cols = [f"{prefix}{band * ROWS_PER_BAND + j}" for j in range(ROWS_PER_BAND)]
        out.append(
            F.struct(
                F.lit(band).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("bh"),
            )
        )
    return out


def _minhash_sig_sql() -> str:
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    )
    return f"""
    hashes AS (SELECT doc_id, {h32_sql('s')} AS h FROM sh),
    sig AS (SELECT doc_id, {mins} FROM hashes GROUP BY doc_id)
    """


def _bands_sql() -> str:
    selects = []
    for band in range(N_BANDS):
        cols = ", ".join(f"m{band * ROWS_PER_BAND + j}" for j in range(ROWS_PER_BAND))
        selects.append(
            f"SELECT doc_id, {band} AS band, md5(concat_ws(',', {cols})) AS bh FROM sig"
        )
    return " UNION ALL ".join(selects)


# Shared candidate-pair SQL prefix (minhash_lsh_candidates + dedup_components).
_CAND_SQL = f"""
    {_SHINGLE_SQL},
    {_minhash_sig_sql()},
    bands AS ({_bands_sql()}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
"""


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a < doc_b) MinHash-LSH candidate pairs — single-pass plan."""
    sig = _minhash_signature(spark, sf_dir)
    bands = sig.select(
        "doc_id", F.explode(F.array(*_band_cols())).alias("x")
    ).select("doc_id", F.col("x.band").alias("band"), F.col("x.bh").alias("bh"))
    buckets = (
        bands.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # Intra-bucket ordered pairs via higher-order functions: a self-join on
    # (band, bh) would recompute the shingle→signature lineage twice and
    # shuffle the bands table two more times; this shape scans once and the
    # pair fan-out stays bucket-bounded.
    pairs = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


@register(
    "minhash_lsh_candidates",
    oracle=f"WITH {_CAND_SQL} SELECT doc_a, doc_b FROM cand",
    tags=("dedup", "near_dedup", "minhash", "lsh"),
    bench=True,
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: candidate near-duplicate pairs.

    shingle → 16 permutation min-hashes → 4 bands of 4 → docs sharing any
    band hash are candidates. The 100 TB path: signatures are one partial
    agg; the band-bucket groupBy's fan-in is bucket-bounded (no
    all-pairs). With j≈0.98 planted dups, P(candidate) = 1-(1-j^4)^4 ≈ 1.
    """
    return _lsh_candidate_pairs(spark, sf_dir)


def connected_components(
    sym: DataFrame,
    max_iterations: int = 50,
    reliable_checkpoint_dir: str | None = None,
) -> DataFrame:
    """Min-label propagation over a symmetric edge list ``(src, dst)`` →
    ``(id, comp)`` labels.

    Each iteration is one join + one partial agg, all executor-side; the
    driver sees only the scalar convergence metric observed on the
    round's pin (sum of labels, strictly decreasing until fixpoint).
    Lineage is truncated every round so plan depth stays O(1). Rounds
    needed = graph diameter — for near-dup clusters a small constant; at
    100 TB each round is a shuffle of (doc_id, label) pairs only, never
    document payloads.

    ``reliable_checkpoint_dir``: when set, rounds checkpoint to that
    (HDFS/S3) path via ``checkpoint()`` and survive executor loss —
    ``localCheckpoint`` blocks are gone with their executor, which on a
    1000-node cluster over a long job is an expected event, not an edge
    case. Local default keeps the test path allocation-free.

    ``max_iterations`` is a safety cap: propagation converges within
    graph-diameter rounds, so reaching it means the input is not
    symmetric (or labels oscillate under a non-deterministic edge
    source) — it raises instead of looping forever.
    """
    reliable = reliable_checkpoint_dir is not None
    if reliable:
        sym.sparkSession.sparkContext.setCheckpointDir(reliable_checkpoint_dir)
    sym = checkpoint_audited(sym, reliable=reliable)

    def step(labels, rnd):
        nbr = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        return labels.join(nbr, labels.id == nbr.src, "left").select(
            "id", F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp")
        )

    return fixpoint(
        "connected_components",
        checkpoint_audited(
            sym.select("src").distinct().select(F.col("src").alias("id"), F.col("src").alias("comp")),
            reliable=reliable,
        ),
        step,
        total="comp",
        cap=max_iterations,
        reliable=reliable,
    )


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_CAND_SQL},
    e AS (SELECT doc_a AS src, doc_b AS dst FROM cand
          UNION SELECT doc_b, doc_a FROM cand),
    reach(src, dst) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM e)
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
    ),
    comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src)
    SELECT component, COUNT(*) AS n_docs, MAX(doc_id) AS max_doc_id
    FROM comp GROUP BY component
    """,
    tags=("dedup", "near_dedup", "connected_components", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the LSH candidate
    graph via iterative min-label propagation (SURVEY.md §7 hard part 5).
    Core loop in ``connected_components`` (reliable-checkpoint capable)."""
    # Pin the candidate lineage BEFORE mirroring (round-14; the
    # pca_power_iteration mirror-union lesson): the symmetrized edge
    # union's two branches are projection-twisted, so exchange reuse
    # cannot dedup them — unpinned, the whole LSH candidate lineage
    # (scan + shingle Generates + band joins) executed TWICE inside
    # connected_components' first materialization (verified: 2 parquet
    # scans / 0 ReusedExchange in the executed sym plan). Pinned, the
    # union is a lazy 2-branch projection over one compact RDD.
    edges = checkpoint_audited(_lsh_candidate_pairs(spark, sf_dir))
    sym = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = connected_components(sym)
    return labels.groupBy(F.col("comp").alias("component")).agg(
        F.count("*").alias("n_docs"), F.max("id").alias("max_doc_id")
    )


@register(
    "simhash_pairs",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    hashes AS (SELECT doc_id, {h32_sql('s')} AS h FROM sh),
    sig AS (
        SELECT doc_id,
               {" + ".join(
                   f"(CASE WHEN SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) >= 0"
                   f" THEN (1::BIGINT << {j}) ELSE 0 END)"
                   for j in range(SIMHASH_BITS)
               )} AS simhash
        FROM hashes GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, simhash, b, (simhash >> (8 * b)) & 255 AS bv
        FROM sig, (SELECT unnest(range(4)) AS b)
    )
    SELECT doc_a, doc_b, hamming FROM (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
    ) WHERE hamming <= {SIMHASH_MAX_HAMMING}
    """,
    tags=("dedup", "near_dedup", "simhash"),
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit sign-of-weighted-sum fingerprint over
    shingle hashes, candidates via 8-bit band equality (pigeonhole: any
    pair with hamming <= 3 shares a band; we report up to hamming 8 from
    the candidates found), verified by exact hamming distance.

    One aggregation for signatures (32 conditional sums, all codegen),
    one band join — same scale shape as MinHash-LSH.
    """
    sh = _shingle_df(spark, sf_dir)
    hashed = sh.select("doc_id", h32(F.col("s")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{j}") >= 0, F.lit(1).cast("long") * (1 << j)).otherwise(
            F.lit(0).cast("long")
        )
        simhash = bit if simhash is None else simhash + bit
    sig = sums.select("doc_id", simhash.alias("simhash"))
    band_idx = F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("b")
    bands = sig.select("doc_id", "simhash", band_idx).select(
        "doc_id",
        "simhash",
        "b",
        F.expr("shiftright(simhash, b * 8) & 255").alias("bv"),
    )
    buckets = (
        bands.groupBy("b", "bv")
        .agg(F.array_sort(F.collect_set(F.struct("doc_id", "simhash"))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # Single-pass intra-bucket pairing (see minhash_lsh_candidates): structs
    # sort by doc_id first, so slice(i+2..) yields exactly the doc_a < doc_b
    # ordered pairs; hamming is computed in-bucket from the carried simhash.
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)), y -> struct("
        " x.doc_id AS doc_a, y.doc_id AS doc_b,"
        " CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT) AS hamming))))"
    )
    pairs = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)


LEV_PREFIX = 48  # edit-distance window: first N normalized chars
LEV_MAX_DIST = 24


@register(
    "edit_distance_pairs",
    oracle=f"""
    WITH {_CAND_SQL},
    texts AS (
        SELECT doc_id, substr(lower(text), 1, {LEV_PREFIX}) AS prefix
        FROM documents
    )
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(ta.prefix, tb.prefix) AS BIGINT) AS edit_dist
    FROM cand c
    JOIN texts ta ON ta.doc_id = c.doc_a
    JOIN texts tb ON tb.doc_id = c.doc_b
    WHERE levenshtein(ta.prefix, tb.prefix) <= {LEV_MAX_DIST}
    """,
    tags=("dedup", "near_dedup", "edit_distance", "fuzzy"),
)
def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of LSH candidates: Levenshtein over a
    normalized prefix confirms (or rejects) each MinHash candidate pair.
    The quadratic edit-distance only ever runs on the candidate set —
    never all pairs — which is the standard two-stage fuzzy-dedup shape
    (cheap recall stage, expensive precision stage). Levenshtein is an
    integer algorithm, identical in both engines."""
    cand = _lsh_candidate_pairs(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring(F.lower("text"), 1, LEV_PREFIX).alias("prefix")
    )
    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= LEV_MAX_DIST)
    )


# CTE chain quality → exact dedup → near-dup drop → survivors; shared by
# clean_corpus and the corpus_to_training_set capstone (queries/text.py).
_CLEAN_SQL = f"""
    {_CAND_SQL},
    quality AS (
        SELECT doc_id, md5(text) AS content_hash
        FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) BETWEEN 10 AND 5000
          AND CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.3
    ),
    exact_kept AS (
        SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY content_hash
    ),
    near_dropped AS (SELECT DISTINCT doc_b AS doc_id FROM cand),
    survivors AS (
        SELECT e.doc_id FROM exact_kept e
        LEFT JOIN near_dropped n ON n.doc_id = e.doc_id
        WHERE n.doc_id IS NULL
    )
"""


@register(
    "clean_corpus",
    oracle=f"""
    WITH {_CLEAN_SQL}
    SELECT doc_id FROM survivors
    """,
    tags=("dedup", "exact_dedup", "near_dedup", "quality_score", "pipeline"),
)
def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data cleaning pipeline as one query:
    quality gate (length + lexical diversity) → exact dedup (keep lowest
    doc_id per content hash) → near-dup removal (drop the higher id of
    every MinHash-LSH candidate pair). Returns the surviving doc_ids.

    At 100 TB each stage shrinks its successor's input: the quality
    filter is a narrow scan, exact dedup shuffles only (hash, id), and
    the LSH stage runs on survivors' signatures. The pair-drop rule
    (rather than full connected components, see dedup_components) is the
    deterministic one-pass variant production pipelines use when cluster
    transitivity isn't required."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tokens.cast("double")
    quality = d.filter(
        n_tokens.between(10, 5000) & (ttr >= 0.3)
    ).select("doc_id", F.md5("text").alias("content_hash"))
    exact_kept = quality.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    near_dropped = (
        _lsh_candidate_pairs(spark, sf_dir).select(F.col("doc_b").alias("doc_id")).distinct()
    )
    return exact_kept.join(near_dropped, "doc_id", "left_anti").select("doc_id")


@register(
    "dedup_latest_by_key",
    oracle="""
    SELECT user_id, event_id, ts AS latest_ts, event_type
    FROM (
        SELECT user_id, event_id, ts, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("dedup", "latest_version", "window", "row_number"),
)
def dedup_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-newest-version dedup: one row per key, the latest by event
    time (the training-data shape: newest crawl of a URL, latest revision
    of a record). row_number over (ts DESC, event_id DESC) — the id
    tie-break makes the survivor deterministic even when timestamps
    collide. At 100 TB this is a single hash shuffle on the key with
    partial top-1 pushed to the map side by Spark's WindowGroupLimit;
    prefer it over groupBy+max+join-back, which shuffles twice."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", F.col("ts").alias("latest_ts"), "event_type")
    )


DECONTAM_BENCH_MOD = 50  # ~2% of docs play the benchmark role
DECONTAM_MIN_SHARED = 2  # shared distinct shingles to flag contamination


@register(
    "benchmark_decontaminate",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    bench AS (
        SELECT doc_id FROM documents
        WHERE (('0x' || substr(md5('bench-' || doc_id), 1, 8))::BIGINT)
              % {DECONTAM_BENCH_MOD} = 0
    ),
    bench_sh AS (
        SELECT sh.doc_id AS bench_doc, sh.s FROM sh JOIN bench USING (doc_id)
    ),
    train_sh AS (
        SELECT sh.doc_id AS train_doc, sh.s FROM sh
        WHERE sh.doc_id NOT IN (SELECT doc_id FROM bench)
    )
    SELECT t.train_doc, b.bench_doc, COUNT(*) AS n_shared
    FROM train_sh t JOIN bench_sh b ON t.s = b.s
    GROUP BY t.train_doc, b.bench_doc
    HAVING COUNT(*) >= {DECONTAM_MIN_SHARED}
    """,
    tags=("dedup", "decontamination", "ngram_overlap", "broadcast"),
)
def benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥
    {DECONTAM_MIN_SHARED} distinct word {SHINGLE_K}-gram shingles with
    any document in a held-out benchmark set (here: a deterministic
    ~2% hash-sample standing in for the real eval suite). This is the
    eval-integrity pass a training corpus needs — n-gram overlap is the
    standard contamination test.

    Scale: the benchmark side is small by construction → its shingle set
    BROADCASTS; the corpus shingle stream joins map-side, so the corpus
    is scanned once with no shuffle of document text, and output fan-out
    is bounded by benchmark size × overlap. The anti-membership filter
    reuses the same broadcast."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    sh = _shingle_df(spark, sf_dir)
    is_bench = (
        h32(F.concat_ws("-", F.lit("bench"), F.col("doc_id"))) % DECONTAM_BENCH_MOD
        == 0
    )
    bench_ids = (
        load_table(spark, sf_dir, "documents").select("doc_id").filter(is_bench)
    )
    bench_sh = sh.join(bench_ids, "doc_id").select(
        F.col("doc_id").alias("bench_doc"), "s"
    )
    train_sh = sh.join(bench_ids, "doc_id", "left_anti").select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    return (
        train_sh.join(bench_sh, "s")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= DECONTAM_MIN_SHARED)
    )


# --- repeated-substring spans (exact substring-dedup building block) --------
SPAN_W = 8  # window length in tokens


@register(
    "dup_ngram_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
        SELECT doc_id, i AS pos,
               array_to_string(list_slice(toks, i, i + {SPAN_W - 1}), ' ') AS gram
        FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks) - {SPAN_W - 2})) AS i
              FROM t)
    )
    SELECT md5(gram) AS gram_hash,
           COUNT(*) AS n_occ,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS first_doc,
           CAST(MIN(pos) AS BIGINT) AS first_pos
    FROM g GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    tags=("dedup", "substring", "ngram_spans", "training_data"),
)
def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated token windows — the detection stage of
    exact substring deduplication (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL 2022: memorized boilerplate
    repeats verbatim across documents at 50-token granularity; removing
    the spans, not the documents, is the fix).

    Every overlapping SPAN_W-token window hashes to a gram key; a window
    appearing in ≥2 distinct documents is a duplicated span. One explode
    + one partial agg keyed on the gram hash: Catalyst combines
    map-side, so the shuffle carries one row per *distinct* gram per
    partition, never the raw window stream. The downstream removal pass
    (join spans back by (doc, pos)) stays keyed — no pairwise doc
    comparison anywhere, unlike suffix-array approaches that need a
    global sort.
    """
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # Guard: F.sequence(1, n) DESCENDS when n < 1 — emit no windows for
    # docs shorter than SPAN_W tokens instead of phantom reversed grams.
    idx = F.when(
        F.size("toks") >= SPAN_W,
        F.sequence(F.lit(1), F.size("toks") - (SPAN_W - 1)),
    ).otherwise(F.array().cast("array<int>"))
    g = t.select(
        "doc_id",
        F.explode(idx).alias("pos"),
        F.col("toks"),
    ).select(
        "doc_id",
        "pos",
        F.concat_ws(" ", F.slice("toks", F.col("pos"), SPAN_W)).alias("gram"),
    )
    return (
        g.groupBy(F.md5("gram").alias("gram_hash"))
        .agg(
            F.count("*").alias("n_occ"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "incremental_dedup_delta",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    ),
    base AS (SELECT * FROM fp WHERE doc_id % 5 <> 0),
    delta AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
    fresh AS (
        SELECT d.doc_id, d.fingerprint FROM delta d
        WHERE NOT EXISTS (
            SELECT 1 FROM base b WHERE b.fingerprint = d.fingerprint
        )
    ),
    kept AS (
        SELECT fingerprint, MIN(doc_id) AS keep_doc, COUNT(*) AS n_in_delta
        FROM fresh GROUP BY fingerprint
    )
    SELECT CAST((SELECT COUNT(*) FROM delta) AS BIGINT) AS delta_docs,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS admitted,
           CAST((SELECT COUNT(*) FROM delta) - (SELECT COUNT(*) FROM kept)
               AS BIGINT) AS rejected
    """,
    tags=("dedup", "incremental", "anti_join", "delta_ingest"),
)
def incremental_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup — the daily-ingest form of dedup_exact:
    only the new partition's fingerprints are checked against the
    historical fingerprint INDEX (hash-only, never text), via left-anti
    join + first-wins collapse within the delta itself. This is the op
    that keeps 100 TB corpora dedup'd without re-scanning history:
    the base side reads a fingerprint column, the delta side is one
    day's data, and the anti join shuffles 16-byte hashes keyed by
    fingerprint (or broadcasts, when the delta index fits). doc_id%5
    stands in for the partition split; the oracle replays base∪delta
    semantics exactly."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = d.select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))).alias(
            "fingerprint"
        ),
    )
    base = fp.filter(F.col("doc_id") % 5 != 0).select("fingerprint")
    delta = fp.filter(F.col("doc_id") % 5 == 0)
    fresh = delta.join(base, "fingerprint", "left_anti")
    kept = fresh.groupBy("fingerprint").agg(F.min("doc_id").alias("keep_doc"))
    return (
        delta.agg(F.count("*").alias("delta_docs"))
        .crossJoin(F.broadcast(kept.agg(F.count("*").alias("admitted"))))
        .select(
            "delta_docs",
            "admitted",
            (F.col("delta_docs") - F.col("admitted")).alias("rejected"),
        )
    )


@register(
    "source_precedence_dedup",
    oracle="""
    WITH fp AS (
        SELECT doc_id, source,
               CAST(SUBSTR(source, 4) AS BIGINT) AS priority,
               md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    ),
    kept AS (
        SELECT fingerprint, MIN(priority) AS keep_priority,
               COUNT(*) AS n_copies
        FROM fp GROUP BY fingerprint
    )
    SELECT 'src' || CAST(k.keep_priority AS VARCHAR) AS kept_source,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(k.n_copies - 1) AS BIGINT) AS n_copies_dropped
    FROM kept k
    GROUP BY 1
    """,
    tags=("dedup", "source_precedence", "survivorship", "mdm"),
)
def source_precedence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source dedup with SOURCE PRECEDENCE: when the same content
    arrives from multiple feeds, keep the copy from the
    highest-priority source (licensed > scraped; here: lowest src
    number wins) — the survivorship rule corpus curators apply before
    counting tokens, and the cross-source twin of
    golden_record_survivorship's latest-wins. One fingerprint pass +
    one (fingerprint → min-priority, copies) aggregate: precedence is
    an ARGMIN AGGREGATE over hash-sized rows, never a join of content,
    and the report (kept docs + dropped copies per winning source)
    falls out of the same state."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    fp = d.select(
        F.substring("source", 4, 10).cast("long").alias("priority"),
        F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))).alias(
            "fingerprint"
        ),
    )
    kept = fp.groupBy("fingerprint").agg(
        F.min("priority").alias("keep_priority"),
        F.count("*").alias("n_copies"),
    )
    return kept.groupBy(
        F.concat(F.lit("src"), F.col("keep_priority").cast("string")).alias(
            "kept_source"
        )
    ).agg(
        F.count("*").alias("n_docs_kept"),
        F.sum(F.col("n_copies") - 1).cast("long").alias("n_copies_dropped"),
    )


def _est_sum_sql() -> str:
    return " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
        for i in range(len(MINHASH_SEEDS))
    )


# Estimator parameters DERIVED from the seed list so a changed
# MINHASH_SEEDS length can't silently skew the estimate or the bound:
# ĵ = matches / n_perm, and the acceptance envelope is the worst-case
# 3σ width 3·√(j(1−j)/n) ≤ 3·0.5/√n = 1.5/√n (0.375 for n = 16).
_N_PERM = len(MINHASH_SEEDS)
_MINHASH_BOUND = 1.5 / _N_PERM**0.5


@register(
    "minhash_estimate_vs_exact",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    {_minhash_sig_sql()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT doc_a, doc_b,
               CAST(n_inter AS DOUBLE)
                   / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS j
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE)
              / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= {JACCARD_THRESHOLD}
    )
    SELECT e.doc_a, e.doc_b, e.j AS exact_jaccard,
           ({_est_sum_sql()}) / {float(_N_PERM)} AS minhash_estimate,
           abs(({_est_sum_sql()}) / {float(_N_PERM)} - e.j) <= {_MINHASH_BOUND}
               AS within_bound
    FROM exact e
    JOIN sig sa ON sa.doc_id = e.doc_a
    JOIN sig sb ON sb.doc_id = e.doc_b
    """,
    tags=("dedup", "minhash", "estimator_quality", "adjudication"),
)
def minhash_estimate_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator adjudication for the MinHash path (the
    cms_estimate_vs_exact pattern applied to near-dup): for every true
    near-dup pair (exact n-gram Jaccard ≥ threshold), the
    signature-agreement estimate ĵ = matches/n_perm sits next to the
    exact j, with |ĵ − j| pinned inside the worst-case 3σ envelope
    1.5/√n_perm (0.375 for the 16-seed default; both the divisor and
    the bound derive from len(MINHASH_SEEDS)) as a hashed boolean. This is the
    measurement that justifies trusting LSH candidates at 100 TB,
    where the exact join that produced `j` here is unaffordable —
    the estimator is certified on the small scale, then stands in at
    the large one. Signatures come from the same single partial-agg
    lineage as minhash_lsh_candidates; the exact side reuses the
    ngram_jaccard shape (tuning-oracle only, quadratic within
    shingle-sharing groups)."""
    sig = _minhash_signature(spark, sf_dir)
    sh = _shingle_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa_sz = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb_sz = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    ).cast("double")
    exact = (
        inter.join(sa_sz, "doc_a")
        .join(sb_sz, "doc_b")
        .select("doc_a", "doc_b", j.alias("exact_jaccard"))
        .filter(F.col("exact_jaccard") >= JACCARD_THRESHOLD)
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(len(MINHASH_SEEDS))],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(len(MINHASH_SEEDS))],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(len(MINHASH_SEEDS))
    )
    est = matches.cast("double") / F.lit(float(_N_PERM))
    return (
        exact.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "exact_jaccard",
            est.alias("minhash_estimate"),
            (F.abs(est - F.col("exact_jaccard")) <= _MINHASH_BOUND).alias(
                "within_bound"
            ),
        )
    )


@register(
    "containment_pairs",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE)
               AS containment,
           CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE)
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE) >= 0.9
    """,
    tags=("dedup", "containment", "asymmetric", "quote_detection"),
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT pairs: |A∩B| / min(|A|,|B|) ≥ 0.9 — the
    asymmetric near-dup measure Jaccard structurally misses: a short
    document fully quoted inside a long one scores containment ≈ 1
    but Jaccard ≈ |short|/|long| ≈ 0, so a Jaccard-thresholded dedup
    KEEPS the duplicate quote (Broder's original resemblance/
    containment pair; both reported here so the gap is visible).
    This is the measure for quote extraction, license-boilerplate
    nesting, and version-subset detection. Same shingle-intersection
    lineage as ngram_jaccard_pairs — one extra min() against the
    broadcast size table, no new scan."""
    sh = _shingle_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont = F.col("n_inter").cast("double") / F.least("na", "nb").cast("double")
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", cont.alias("containment"), jac.alias("jaccard"))
        .filter(F.col("containment") >= 0.9)
    )


@register(
    "ppjoin_prefix_filter",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE)
               / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE)
          >= 0.8
    """,
    tags=("dedup", "near_dedup", "set_similarity_join", "prefix_filter", "array_fns"),
    bench=True,
)
def ppjoin_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (all pairs with shingle-Jaccard
    ≥ 0.8) via PREFIX FILTERING — the SSJoin/PPJoin technique
    (Chaudhuri et al. ICDE'06; Xiao et al. WWW'08). Where MinHash+LSH
    trades recall for speed, prefix filtering is LOSSLESS: order each
    doc's shingles by ascending global document frequency (rarest
    first); two sets with Jaccard ≥ t MUST share a token inside their
    first ``|s| - ceil(t·|s|) + 1`` tokens, so candidate pairs are
    generated only from those short, RARE prefixes. The frequent-token
    fan-out that makes the naive token self-join quadratic never enters
    the candidate stage — at 100 TB the pair space is bounded by
    Σ_prefix-token df², with the highest-df (worst) tokens excluded by
    construction. The oracle runs the unfiltered all-pairs join, so a
    MATCH certifies the completeness theorem as implemented (the ceil
    is exact integer arithmetic ``(4n+4) div 5``, never float).

    Plan: one shingle-keyed shuffle to attach df, one per-doc sort (doc-
    length bounded), one self-join on prefix tokens only, then exact
    verification on the broadcast-free array intersection of candidate
    pairs. Verification arrays are per-doc shingle sets (doc-length
    bounded), carried only for candidate rows."""
    from pyspark.sql import Window as W

    sh = _shingle_df(spark, sf_dir)
    # Document frequency via a window count over the SAME shingle rows
    # instead of groupBy(s) + join-back (round-13 opt, guide §2.4): the
    # join form planned the shingle lineage TWICE (the df branch prunes
    # doc_id, so its spread exchange is not byte-identical and AQE's
    # ReusedExchange cannot dedup it — two full scans+explodes, the two
    # hottest stages of the old profile) and then broadcast the entire
    # exploded shingle table as the join build side. One window over
    # partitionBy(s) is a single shuffle of the one shingle pass and
    # yields the identical per-row count (long, same values), so the
    # (df, s) ranking — and everything downstream — is unchanged.
    ranked = (
        sh.withColumn("df", F.count("*").over(W.partitionBy("s")))
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("s")))
            ).alias("arr")
        )
        .select(
            "doc_id",
            F.transform(F.col("arr"), lambda x: x["s"]).alias("toks"),
            F.size("arr").alias("n"),
        )
        # NOT checkpointed: the three consumers (prefix explode + both
        # verification set joins) share the groupBy's shuffle through
        # ReusedExchange already — measured at sf0.1, pinning this with
        # localCheckpoint DOUBLES the wall-clock (2.6 s -> 5.3 s) by
        # materializing every per-doc array and breaking pipelining.
    )
    # prefix length for Jaccard >= 4/5: n - ceil(4n/5) + 1, all-integer.
    pref_len = F.col("n") - F.floor((4 * F.col("n") + 4) / 5) + 1
    prefix = ranked.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("toks", F.lit(1), pref_len)).alias("pos", "s"),
    )
    # PPJoin's LENGTH FILTER (lossless): J(A,B) >= 4/5 forces
    # 4|B| <= 5|A| and 4|A| <= 5|B| (set sizes within a 0.8-1.25x band),
    # so size-incompatible prefix collisions never become candidates —
    # exact integer arithmetic in the join condition, applied BEFORE the
    # distinct and the array-intersect verification. Measured at sf0.1:
    # candidates 118,826 -> 43,543 (2.7x fewer) with zero recall loss
    # (the oracle MATCH certifies losslessness); bench median moved
    # 3.78 s -> 2.93 s, and at corpus scale verification rows are the
    # cost that dominates.
    # PPJoin's POSITIONAL FILTER (lossless, Xiao et al. WWW'08 §3.2):
    # overlap >= ceil(t/(1+t)·(na+nb)) = ceil(4(na+nb)/9) is NECESSARY
    # for J >= 4/5, and at a shared prefix token at (1-based) positions
    # ia, jb the total overlap is bounded by 1 + min(na-ia, nb-jb) when
    # that token is the pair's FIRST common token. A true pair always
    # passes at its first common token, so keeping pairs where ANY
    # shared occurrence passes is a lossless superset — certified by the
    # all-pairs oracle. Integer cross-multiplication (9·ubound >= 4·Σn)
    # keeps the bound exact. Measured at sf0.1: candidates entering
    # verification 43,543 -> 12,784 (3.4x fewer).
    ubound = 1 + F.least(
        F.col("a.n") - (F.col("a.pos") + 1),
        F.col("b.n") - (F.col("b.pos") + 1),
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (5 * F.col("a.n") >= 4 * F.col("b.n"))
            & (5 * F.col("b.n") >= 4 * F.col("a.n"))
            & (9 * ubound >= 4 * (F.col("a.n") + F.col("b.n"))),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets = ranked.select("doc_id", "toks", "n")
    verified = (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("toks").alias("ta"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("toks").alias("tb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("ta", "tb")))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    ).cast("double")
    return verified.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= 0.8
    )


_SCALING_FRACTIONS = [(1, 10), (3, 10), (10, 10)]  # exact rationals


@register(
    "dedup_scaling_curve",
    oracle=f"""
    WITH d AS (
        SELECT md5(text) AS fp,
               {h32_sql("CAST(doc_id AS VARCHAR)")} AS h
        FROM documents
    ),
    fps AS (
        SELECT fp, MIN(h) AS hmin,
               {", ".join(
                   f"COUNT(*) FILTER (WHERE h * {den} < 4294967296 * {num})"
                   f" AS c_{num}_{den}"
                   for num, den in _SCALING_FRACTIONS
               )}
        FROM d GROUP BY fp
    )
    {" UNION ALL ".join(
        f'''SELECT CAST({num} AS DOUBLE) / {den} AS fraction,
               CAST(SUM(c_{num}_{den}) AS BIGINT) AS n_docs,
               CAST(COUNT(*) FILTER (
                   WHERE hmin * {den} < 4294967296 * {num}) AS BIGINT)
                   AS n_distinct,
               CAST(SUM(c_{num}_{den})
                    - COUNT(*) FILTER (
                        WHERE hmin * {den} < 4294967296 * {num}) AS DOUBLE)
               / CAST(SUM(c_{num}_{den}) AS DOUBLE) AS dup_rate
        FROM fps'''
        for num, den in _SCALING_FRACTIONS
    )}
    """,
    tags=("dedup", "scaling_curve", "subsample", "data_scaling"),
)
def dedup_scaling_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate rate as a function of corpus fraction — the data-
    scaling ablation ("how much worse does dedup get as we ingest
    more?") measured on NESTED deterministic subsamples (md5-hash
    thresholds, so the 10% sample is a subset of the 30% sample and
    every rerun sees the same docs — no RNG, no seed drift).

    The scalable formulation: distinct-counts at every fraction come
    from ONE fingerprint-keyed aggregate — a fingerprint is present in
    sample f iff the MIN doc-hash among its duplicates clears f's
    threshold — so there is no COUNT(DISTINCT CASE...) Expand (which
    would replicate the corpus once per fraction), and adding a
    fraction adds a column, not a pass. Thresholds compare h·den <
    2³²·num in exact integer arithmetic.

    Scale: one scan, one shuffle on fingerprint (hashes only, never
    text), then a fingerprint-table aggregate per fraction row."""
    d = spread(load_table(spark, sf_dir, "documents")).select(
        F.md5("text").alias("fp"),
        h32(F.col("doc_id").cast("string")).alias("h"),
    )
    fps = d.groupBy("fp").agg(
        F.min("h").alias("hmin"),
        *[
            F.count(
                F.when(F.col("h") * den < F.lit(4294967296) * num, 1)
            ).alias(f"c_{num}_{den}")
            for num, den in _SCALING_FRACTIONS
        ],
    )
    legs = []
    for num, den in _SCALING_FRACTIONS:
        sampled = F.col("hmin") * den < F.lit(4294967296) * num
        legs.append(
            fps.agg(
                F.lit(float(num) / den).alias("fraction"),
                F.sum(f"c_{num}_{den}").cast("long").alias("n_docs"),
                F.count(F.when(sampled, 1)).cast("long").alias("n_distinct"),
            ).select(
                "fraction",
                "n_docs",
                "n_distinct",
                (
                    (F.col("n_docs") - F.col("n_distinct")).cast("double")
                    / F.col("n_docs").cast("double")
                ).alias("dup_rate"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# Winnowing-style gated-window fingerprints (Schleimer et al. SIGMOD'03)
WINNOW_WINDOW = 32  # character window width
WINNOW_GATE = 16  # keep a window iff h32(window) % GATE == 0
WINNOW_MAX_DF = 50  # boilerplate guard: drop fingerprints in > this many train docs


@register(
    "substring_contamination_winnowed",
    oracle=f"""
    WITH bench AS (
        SELECT doc_id FROM documents
        WHERE (('0x' || substr(md5('bench-' || doc_id), 1, 8))::BIGINT)
              % {DECONTAM_BENCH_MOD} = 0
    ),
    fps AS (
        SELECT doc_id, fp FROM (
            SELECT DISTINCT doc_id,
                   md5(substring(text, CAST(p AS INTEGER), {WINNOW_WINDOW})) AS fp
            FROM (SELECT doc_id, text,
                         unnest(range(1, length(text) - {WINNOW_WINDOW - 2})) AS p
                  FROM documents
                  WHERE length(text) >= {WINNOW_WINDOW})
        )
        WHERE (('0x' || substr(fp, 1, 8))::BIGINT) % {WINNOW_GATE} = 0
    ),
    bench_fp AS (
        SELECT f.doc_id AS bench_doc, f.fp FROM fps f JOIN bench USING (doc_id)
    ),
    train_fp AS (
        SELECT f.doc_id AS train_doc, f.fp FROM fps f
        WHERE f.doc_id NOT IN (SELECT doc_id FROM bench)
    ),
    common AS (
        SELECT fp FROM train_fp GROUP BY fp HAVING COUNT(*) <= {WINNOW_MAX_DF}
    )
    SELECT t.train_doc, b.bench_doc, CAST(COUNT(*) AS BIGINT) AS n_shared_fp
    FROM train_fp t
    JOIN common USING (fp)
    JOIN bench_fp b ON t.fp = b.fp
    GROUP BY t.train_doc, b.bench_doc
    """,
    tags=("dedup", "decontamination", "winnowing", "substring",
          "fingerprint"),
)
def substring_contamination_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING contamination via winnowed fingerprints
    (Schleimer et al. 2003's MOSS scheme; the Lee et al. 2022 /
    GPT-3-style complement to shingle-count decontamination): every
    {WINNOW_WINDOW}-char window is hashed, but only windows whose hash
    passes a content gate (h % {WINNOW_GATE} == 0) become fingerprints
    — so a verbatim span shared between a training document and the
    benchmark sample yields the SAME gated windows on both sides
    regardless of alignment, at 1/{WINNOW_GATE} the fan-out of
    exhaustive windows. Where benchmark_decontaminate counts shared
    word shingles (robust to small edits), this catches long verbatim
    copies shingles dilute — eval answer keys quoted inside crawl
    pages. Same deterministic bench- hash sample, so the two passes
    are directly comparable per pair. Fingerprints present in more
    than {WINNOW_MAX_DF} training docs are dropped before the join
    (boilerplate/license text — the same df-guard that bounds
    ppjoin's candidate space): join fan-in is bounded by rare-
    fingerprint df × benchmark size, and the corpus is scanned once.
    """
    from beam_pyspark_runner_spark.functions.hashing import h32

    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= WINNOW_WINDOW
    )
    fps = (
        d.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - (WINNOW_WINDOW - 1))
            ).alias("p"),
            "text",
        )
        .select(
            "doc_id",
            F.md5(F.expr(f"substring(text, p, {WINNOW_WINDOW})")).alias("fp"),
        )
        .distinct()
        # gate on the fingerprint's OWN hex prefix (no second hash), the
        # exact twin of the oracle's ('0x' || substr(fp,1,8))::BIGINT
        .filter(
            F.pmod(
                F.conv(F.substring("fp", 1, 8), 16, 10).cast("long"),
                F.lit(WINNOW_GATE),
            )
            == 0
        )
    )
    is_bench = (
        h32(F.concat_ws("-", F.lit("bench"), F.col("doc_id"))) % DECONTAM_BENCH_MOD
        == 0
    )
    bench_ids = (
        load_table(spark, sf_dir, "documents").select("doc_id").filter(is_bench)
    )
    bench_fp = fps.join(bench_ids, "doc_id").select(
        F.col("doc_id").alias("bench_doc"), "fp"
    )
    train_fp = fps.join(bench_ids, "doc_id", "left_anti").select(
        F.col("doc_id").alias("train_doc"), "fp"
    )
    common = (
        train_fp.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("fp")
    )
    return (
        train_fp.join(common, "fp")
        .join(bench_fp, "fp")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count("*").cast("long").alias("n_shared_fp"))
    )


@register(
    "source_overlap_matrix",
    oracle="""
    WITH fp AS (
        SELECT DISTINCT source,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
        FROM documents
    ),
    tot AS (SELECT source, COUNT(*) AS n FROM fp GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(ta.n AS BIGINT) AS n_a,
           CAST(tb.n AS BIGINT) AS n_b
    FROM fp a
    JOIN fp b ON a.f = b.f AND a.source < b.source
    JOIN tot ta ON ta.source = a.source
    JOIN tot tb ON tb.source = b.source
    GROUP BY a.source, b.source, ta.n, tb.n
    """,
    # empty_ok_at_small_sf: at sf0.01 no two sources share a duplicated
    # doc, so the oracle match there is trivially satisfiable — real
    # certification is the sf0.1 gate (7 rows) + the non-empty pin in
    # tests/test_scale_oracle_gate.py.
    tags=("dedup", "cross_source", "leakage_matrix", "provenance",
          "empty_ok_at_small_sf"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate LEAKAGE matrix: for every source pair, how
    many normalized content fingerprints they share (plus each side's
    distinct-fingerprint total). This is the provenance view dedup
    reports need — "CommonCrawl dump N re-contains 40% of dump N-1" is
    a per-pair number, and licensing/contractual audits ask exactly
    this shape. Fingerprints reuse dedup_exact_normalized's
    canonicalization, so the matrix is consistent with what the dedup
    pass actually removes. Shape: one distinct on (source, fp), one
    fp-keyed self-join whose fan-in per fingerprint is bounded by the
    SOURCE count (≤ |sources|² pairs per fp, with |sources| in the
    dozens), one pair agg — at 100 TB the join key is the 128-bit
    hash, never text."""
    fp = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.md5(
                F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
            ).alias("f"),
        )
        .distinct()
    )
    tot = fp.groupBy("source").agg(F.count("*").alias("n"))
    a = fp.alias("a")
    b = fp.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a", "source_b", "n_shared",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
    )


DELTA_DOC_MOD = 10  # doc_id % MOD == 0 simulates the re-ingested delta


def _sig_sql_over(docs_cte: str) -> str:
    """Minhash signature SQL over an arbitrary (doc_id, text) CTE."""
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    )
    return f"""
    toks2 AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM {docs_cte}
        WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
    ),
    sh2 AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM toks2
    ),
    hashes2 AS (SELECT doc_id, {h32_sql('s')} AS h FROM sh2),
    sig2 AS (SELECT doc_id, {mins} FROM hashes2 GROUP BY doc_id)
    """


@register(
    "incremental_minhash_upsert",
    oracle=f"""
    WITH current_docs AS (
        SELECT doc_id,
               CASE WHEN doc_id % {DELTA_DOC_MOD} = 0
                    THEN text || ' updated v2' ELSE text END AS text
        FROM documents
    ),
    {_sig_sql_over('current_docs')}
    SELECT doc_id, {', '.join(f'm{i}' for i in range(len(MINHASH_SEEDS)))}
    FROM sig2
    """,
    tags=("dedup", "minhash", "incremental", "index_maintenance", "upsert"),
)
def incremental_minhash_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance of the MinHash signature index: when a
    slice of documents is re-ingested with changed content (here every
    {DELTA_DOC_MOD}th doc gains an ' updated v2' suffix), only the
    DELTA's signatures are recomputed and UPSERTED into the standing
    index (operators/merge.py merge_upsert, broadcast-delta plan) —
    the daily reality of a 100 TB dedup index, where resignaturing the
    full corpus per ingest is the cost you build the index to avoid.
    The oracle is the FULL REBUILD over the post-update corpus, so a
    MATCH proves maintenance ≡ rebuild — the invariant that lets the
    LSH banding layer (minhash_lsh_candidates) consume the maintained
    table without ever knowing deltas exist. Delta cost: signature
    aggregation over delta shingles only (one partial-agg shuffle of
    |delta| rows) plus the anti-join of the upsert — unhinted
    (round-10): the delta is a fixed FRACTION of the corpus, so a
    forced broadcast grows with it; the planner broadcasts while
    the delta is small and shuffles beyond."""
    from beam_pyspark_runner_spark.operators.merge import merge_upsert

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def signatures(docs):
        sh = (
            docs.filter(F.size(F.split(F.col("text"), " ")) >= SHINGLE_K)
            .select("doc_id", F.explode(_shingles(F.col("text"))).alias("s"))
        )
        h = h32(F.col("s"))
        mins = [
            F.min((F.lit(a) * h + F.lit(b)) % MINHASH_P).alias(f"m{i}")
            for i, (a, b) in enumerate(MINHASH_SEEDS)
        ]
        return sh.groupBy("doc_id").agg(*mins)

    base_index = signatures(d)  # the standing index (pre-update corpus)
    delta = d.filter(F.pmod(F.col("doc_id"), DELTA_DOC_MOD) == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" updated v2")).alias("text")
    )
    delta_sigs = signatures(delta)
    return merge_upsert(base_index, delta_sigs, ["doc_id"])


# --- LSH band-configuration sweep (round 7) ----------------------------------
# (n_bands, rows_per_band) with n_bands * rows_per_band == 16: more bands
# = lower s-curve threshold = more candidates (higher recall, lower
# precision); fewer bands = the opposite. The sweep measures the actual
# trade-off on the corpus instead of trusting the (1/b)^(1/r) formula.
LSH_SWEEP_CONFIGS = ((8, 2), (4, 4), (2, 8))


def _sweep_bands_sql() -> str:
    selects = []
    for nb, rpb in LSH_SWEEP_CONFIGS:
        for band in range(nb):
            cols = ", ".join(f"m{band * rpb + j}" for j in range(rpb))
            selects.append(
                f"SELECT doc_id, {nb} AS nb, {band} AS band,"
                f" md5(concat_ws(',', {cols})) AS bh FROM sig"
            )
    return " UNION ALL ".join(selects)


@register(
    "lsh_band_sweep",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    {_minhash_sig_sql()},
    bands AS ({_sweep_bands_sql()}),
    cand AS (
        SELECT DISTINCT a.nb, a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.nb = b.nb AND a.band = b.band AND a.bh = b.bh
         AND a.doc_id < b.doc_id
    ),
    pool AS (SELECT DISTINCT doc_a, doc_b FROM cand),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT p.doc_a, p.doc_b,
               COALESCE(CAST(i.n_inter AS DOUBLE)
                        / CAST(sa.n + sb.n - i.n_inter AS DOUBLE), 0.0)
                   >= {JACCARD_THRESHOLD} AS is_true
        FROM pool p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
        LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    ),
    tot AS (SELECT CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
                AS pool_true FROM truth)
    SELECT c.nb AS n_bands,
           CAST(16 / c.nb AS BIGINT) AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN t.is_true THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
           CAST(SUM(CASE WHEN t.is_true THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS precision,
           CAST(SUM(CASE WHEN t.is_true THEN 1 ELSE 0 END) AS DOUBLE)
               / tot.pool_true AS pool_recall
    FROM cand c
    JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    , tot
    GROUP BY c.nb, tot.pool_true
    """,
    tags=("dedup", "minhash", "lsh", "parameter_tuning", "llm_data"),
)
def lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding parameter sweep, measured not modeled: the SAME 16
    minhash permutations re-banded three ways — (8 bands × 2 rows),
    (4×4), (2×8) — with per-config candidate volume, precision against
    exact Jaccard ≥ {JACCARD_THRESHOLD}, and recall against the pooled
    truth (every true pair any config surfaced — the standard IR
    pooling protocol, since the all-pairs truth is exactly what LSH
    exists to avoid). This is the tuning table that picks the
    production banding before a 100 TB dedup run: run the sweep on a
    sample, read off the precision/recall corner, deploy that config.
    Cost shape: ONE shingle pass and ONE signature aggregation feed all
    three configs (the banding explode is free re-use of the 16
    columns); candidates stay bucket-bounded per config; the exact-
    Jaccard stage runs only on the pooled candidate set. Signature
    lineage identical to minhash_lsh_candidates (its 4×4 config is the
    middle row, cross-checkable)."""
    sig = _minhash_signature(spark, sf_dir)
    band_structs = []
    for nb, rpb in LSH_SWEEP_CONFIGS:
        for band in range(nb):
            cols = [f"m{band * rpb + j}" for j in range(rpb)]
            band_structs.append(
                F.struct(
                    F.lit(nb).alias("nb"),
                    F.lit(band).alias("band"),
                    F.md5(F.concat_ws(",", *cols)).alias("bh"),
                )
            )
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("x")
    ).select("doc_id", "x.nb", "x.band", "x.bh")
    buckets = (
        bands.groupBy("nb", "band", "bh")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    cand = (
        buckets.select("nb", F.explode(pair_expr).alias("p"))
        .select("nb", "p.doc_a", "p.doc_b")
        .distinct()
    )
    pool = cand.select("doc_a", "doc_b").distinct()
    sh = _shingle_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa_sz = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb_sz = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb_sz"))
    jacc = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb_sz") - F.col("n_inter")
    ).cast("double")
    truth = (
        pool.join(sa_sz, "doc_a")
        .join(sb_sz, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            (F.coalesce(jacc, F.lit(0.0)) >= JACCARD_THRESHOLD).alias("is_true"),
        )
    )
    tot = truth.agg(
        F.sum(F.when(F.col("is_true"), 1).otherwise(0))
        .cast("long")
        .alias("pool_true")
    )
    return (
        cand.join(truth, ["doc_a", "doc_b"])
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("nb").alias("n_bands"), "pool_true")
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("is_true"), 1).otherwise(0))
            .cast("long")
            .alias("n_true"),
        )
        .select(
            "n_bands",
            (F.lit(16) / F.col("n_bands")).cast("long").alias("rows_per_band"),
            "n_candidates",
            "n_true",
            (F.col("n_true").cast("double") / F.col("n_candidates")).alias(
                "precision"
            ),
            (F.col("n_true").cast("double") / F.col("pool_true")).alias(
                "pool_recall"
            ),
        )
    )


# --- blocking-strategy quality audit (round 7, session 4) -------------------
from beam_pyspark_runner_spark.queries.registry import REGISTRY as _REG


@register(
    "blocking_quality_audit",
    oracle="""
    WITH truth AS ({TRUTH_ORACLE}),
    keyed AS (
        SELECT doc_id,
               lang || '|' || source AS k_attr,
               substr(text, 1, 8) AS k_prefix
        FROM documents
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    strat AS (
        SELECT 'attr:lang+source' AS strategy, k_attr AS k FROM keyed
        UNION ALL
        SELECT 'prefix8', k_prefix FROM keyed
    ),
    blocks AS (
        SELECT strategy, k, CAST(COUNT(*) AS BIGINT) AS bn
        FROM strat GROUP BY strategy, k
    ),
    cand AS (
        SELECT strategy,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(bn * (bn - 1) / 2) AS BIGINT) AS cand_pairs
        FROM blocks GROUP BY strategy
    ),
    tp AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_pairs FROM truth),
    cb AS (
        SELECT s.strategy, CAST(COUNT(*) AS BIGINT) AS co_blocked
        FROM (SELECT DISTINCT strategy FROM strat) s
        LEFT JOIN (
            SELECT 'attr:lang+source' AS strategy, t.doc_a
            FROM truth t
            JOIN keyed a ON a.doc_id = t.doc_a
            JOIN keyed b ON b.doc_id = t.doc_b
            WHERE a.k_attr = b.k_attr
            UNION ALL
            SELECT 'prefix8', t.doc_a
            FROM truth t
            JOIN keyed a ON a.doc_id = t.doc_a
            JOIN keyed b ON b.doc_id = t.doc_b
            WHERE a.k_prefix = b.k_prefix
        ) hit ON hit.strategy = s.strategy
        GROUP BY s.strategy
    )
    SELECT c.strategy, c.n_blocks, c.cand_pairs,
           1.0 - CAST(c.cand_pairs AS DOUBLE)
                     / CAST(n.n * (n.n - 1) / 2 AS DOUBLE)
               AS reduction_ratio,
           tp.true_pairs,
           cb.co_blocked,
           CAST(cb.co_blocked AS DOUBLE)
               / CAST(GREATEST(tp.true_pairs, 1) AS DOUBLE)
               AS pairs_completeness
    FROM cand c, n, tp
    JOIN cb ON cb.strategy = c.strategy
    """,
    tags=("dedup", "record_linkage", "blocking", "evaluation",
          "adjudication"),
)
def blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-strategy evaluation for record linkage / dedup
    (Christen 2012's two numbers): REDUCTION RATIO (how much of the
    O(N²) pair space a blocking key eliminates — the cost axis) and
    PAIRS COMPLETENESS (what fraction of TRUE near-dup pairs land in
    the same block — the recall axis), for two competing keys:
    attribute blocking on lang+source vs an 8-char text-prefix block.
    Truth is the registered ngram_jaccard_pairs query composed
    VERBATIM (its oracle is inlined into this oracle's CTE — audit and
    truth cannot drift), so the audit answers the question a 100 TB
    linkage run must answer BEFORE it runs: which cheap key keeps the
    matcher's candidate volume affordable without losing real pairs.
    Candidate volume comes from block-size arithmetic (Σ C(bn,2) — no
    pair enumeration anywhere); completeness joins the tiny truth set
    against the key table twice. One corpus scan, two key aggregates,
    broadcast-sized truth joins."""
    truth = _REG["ngram_jaccard_pairs"].fn(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    keyed = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws("|", F.col("lang"), F.col("source")).alias("k_attr"),
        F.substring(F.col("text"), 1, 8).alias("k_prefix"),
    )
    n = keyed.agg(F.count("*").cast("long").alias("n"))
    strat = keyed.select(
        F.lit("attr:lang+source").alias("strategy"), F.col("k_attr").alias("k")
    ).unionAll(
        keyed.select(F.lit("prefix8"), F.col("k_prefix"))
    )
    cand = (
        strat.groupBy("strategy", "k")
        .agg(F.count("*").cast("long").alias("bn"))
        .groupBy("strategy")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.sum(F.col("bn") * (F.col("bn") - 1) / 2)
            .cast("long")
            .alias("cand_pairs"),
        )
    )
    ka = keyed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("k_attr").alias("a_attr"),
        F.col("k_prefix").alias("a_prefix"),
    )
    kb = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("k_attr").alias("b_attr"),
        F.col("k_prefix").alias("b_prefix"),
    )
    tj = truth.join(ka, "doc_a").join(kb, "doc_b")
    hits = tj.select(
        F.lit("attr:lang+source").alias("strategy"),
        (F.col("a_attr") == F.col("b_attr")).cast("int").alias("hit"),
    ).unionAll(
        tj.select(
            F.lit("prefix8"),
            (F.col("a_prefix") == F.col("b_prefix")).cast("int"),
        )
    )
    tp = truth.agg(F.count("*").cast("long").alias("true_pairs"))
    cb = hits.groupBy("strategy").agg(
        F.sum("hit").cast("long").alias("co_blocked")
    )
    return (
        cand.join(cb, "strategy")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(tp))
        .select(
            "strategy",
            "n_blocks",
            "cand_pairs",
            (
                1.0
                - F.col("cand_pairs").cast("double")
                / (F.col("n") * (F.col("n") - 1) / 2).cast("double")
            ).alias("reduction_ratio"),
            "true_pairs",
            "co_blocked",
            (
                F.col("co_blocked").cast("double")
                / F.greatest(F.col("true_pairs"), F.lit(1)).cast("double")
            ).alias("pairs_completeness"),
        )
    )


_REG["blocking_quality_audit"].oracle = _REG[
    "blocking_quality_audit"
].oracle.replace("{TRUTH_ORACLE}", _REG["ngram_jaccard_pairs"].oracle)


# --- transitive-closure cluster precision audit (round 7, session 4) --------
_CLUSTER_HAMMING = 3  # cluster edges: simhash pairs at this distance or less


@register(
    "dedup_cluster_precision",
    oracle=f"""
    WITH RECURSIVE sp AS (
        SELECT doc_a, doc_b FROM ({{SIMHASH_ORACLE}})
        WHERE hamming <= {_CLUSTER_HAMMING}
    ),
    truth AS (
        SELECT doc_a, doc_b FROM ({{TRUTH_ORACLE}})
    ),
    e AS (SELECT doc_a AS src, doc_b AS dst FROM sp
          UNION SELECT doc_b, doc_a FROM sp),
    reach(src, dst) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM e)
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
    ),
    comp AS (SELECT src AS doc_id, MIN(dst) AS comp FROM reach GROUP BY src),
    csizes AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS c
               FROM comp GROUP BY comp),
    verified AS (
        SELECT t.doc_a FROM truth t
        JOIN comp a ON a.doc_id = t.doc_a
        JOIN comp b ON b.doc_id = t.doc_b
        WHERE a.comp = b.comp
    ),
    m AS (
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM csizes) AS n_clusters,
            (SELECT CAST(MAX(c) AS BIGINT) FROM csizes) AS largest_cluster,
            (SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) FROM csizes)
                AS n_intra_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM verified) AS n_verified
    )
    SELECT n_clusters, largest_cluster, n_intra_pairs, n_true_pairs,
           n_verified,
           n_intra_pairs - n_verified AS n_chained_pairs,
           CAST(n_verified AS DOUBLE)
               / CAST(GREATEST(n_intra_pairs, 1) AS DOUBLE)
               AS pair_precision,
           CAST(n_verified AS DOUBLE)
               / CAST(GREATEST(n_true_pairs, 1) AS DOUBLE)
               AS truth_coverage
    FROM m
    """,
    tags=("dedup", "near_dedup", "connected_components", "evaluation",
          "adjudication", "iterative"),
)
def dedup_cluster_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit every transitive-closure dedup needs before it DELETES
    data: connected components CHAIN — A~B and B~C put A,C in one
    cluster even when sim(A,C) is below the bar — so cluster membership
    is NOT pairwise similarity. Clusters here come from the registered
    simhash_pairs lineage at hamming ≤ {_CLUSTER_HAMMING} (the
    production-cheap net), truth is the registered exact-jaccard pair
    set; the report: pair_precision = intra-cluster pairs that really
    meet the jaccard bar, n_chained_pairs = pairs existing only by
    transitivity (what a keep-one-per-cluster policy would wrongly
    delete), truth_coverage = true pairs the clustering found at all.
    On this corpus the un-thresholded simhash graph (hamming ≤ 8)
    collapses 4974 of 5000 docs into ONE component at sf0.1 — 12.4M
    phantom intra-pairs — which is why (a) the distance cut matters
    and (b) this audit counts intra-pairs ARITHMETICALLY from
    component sizes (Σ C(n,2)) and never enumerates them; the only
    pair-shaped work is joining the tiny truth set against the label
    table. Both composed oracles are inlined verbatim (nested CTEs),
    so audit and audited lineage cannot drift."""
    # Pin both composed lineages once (round-14, same duplicate-lineage
    # audit as dedup_components): unpinned, the simhash lineage ran
    # TWICE under the projection-twisted sym union (2 scans, 0
    # ReusedExchange in the executed plan) and the exact-jaccard truth
    # lineage ran TWICE (the verified join AND the n_true_pairs
    # broadcast each re-derive it). Both pin to compact pair-id RDDs.
    edges = checkpoint_audited(
        _REG["simhash_pairs"].fn(spark, sf_dir)
        .filter(F.col("hamming") <= _CLUSTER_HAMMING)
        .select("doc_a", "doc_b")
    )
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = connected_components(sym)  # (id, comp)
    csizes = labels.groupBy("comp").agg(F.count("*").cast("long").alias("c"))
    truth = checkpoint_audited(
        _REG["ngram_jaccard_pairs"].fn(spark, sf_dir).select("doc_a", "doc_b")
    )
    la = labels.select(F.col("id").alias("doc_a"), F.col("comp").alias("ca"))
    lb = labels.select(F.col("id").alias("doc_b"), F.col("comp").alias("cb"))
    verified = (
        truth.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("ca") == F.col("cb"))
    )
    m = (
        csizes.agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.max("c").cast("long").alias("largest_cluster"),
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            .cast("long")
            .alias("n_intra_pairs"),
        )
        .crossJoin(
            F.broadcast(
                truth.agg(F.count("*").cast("long").alias("n_true_pairs"))
            )
        )
        .crossJoin(
            F.broadcast(
                verified.agg(F.count("*").cast("long").alias("n_verified"))
            )
        )
    )
    return m.select(
        "n_clusters",
        "largest_cluster",
        "n_intra_pairs",
        "n_true_pairs",
        "n_verified",
        (F.col("n_intra_pairs") - F.col("n_verified")).alias(
            "n_chained_pairs"
        ),
        (
            F.col("n_verified").cast("double")
            / F.greatest(F.col("n_intra_pairs"), F.lit(1)).cast("double")
        ).alias("pair_precision"),
        (
            F.col("n_verified").cast("double")
            / F.greatest(F.col("n_true_pairs"), F.lit(1)).cast("double")
        ).alias("truth_coverage"),
    )


_REG["dedup_cluster_precision"].oracle = (
    _REG["dedup_cluster_precision"]
    .oracle.replace("{SIMHASH_ORACLE}", _REG["simhash_pairs"].oracle)
    .replace("{TRUTH_ORACLE}", _REG["ngram_jaccard_pairs"].oracle)
)


# --- SymSpell-style edit-distance-1 id matching (round 7, session 4) --------
_SYM_LEN = 9  # customer ids are zero-padded 9-digit strings


@register(
    "symspell_id_neighbors",
    oracle=f"""
    WITH ids AS (
        SELECT DISTINCT regexp_extract(c_name, '[0-9]+') AS w FROM customer
    ),
    keys AS (
        SELECT w, p,
               substr(w, 1, p - 1) || substr(w, p + 1) AS delstr,
               substr(w, p, 1) AS digit
        FROM ids, (SELECT unnest(range(1, {_SYM_LEN} + 1)) AS p)
    )
    SELECT a.w AS id_a, b.w AS id_b,
           CAST(a.p AS BIGINT) AS pos,
           a.digit AS digit_a, b.digit AS digit_b
    FROM keys a JOIN keys b
      ON a.p = b.p AND a.delstr = b.delstr AND a.w < b.w
    """,
    tags=("dedup", "record_linkage", "symspell", "edit_distance",
          "fuzzy_join"),
)
def symspell_id_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL pairs of customer ids at edit distance exactly 1 — WITHOUT a
    pairwise comparison: the SymSpell / symmetric-delete trick (Garbe;
    the spelling-correction index FAISS-of-strings) specialized to
    fixed-length ids, where sharing a (position, string-with-that-
    position-deleted) key is a PROOF of single-substitution — so the
    join output needs no verification pass at all, and the differing
    digits fall out of the key. This is the fuzzy-ID blocking a
    record-linkage run uses for OCR'd/mistyped identifiers: N ids
    become N·{_SYM_LEN} keys; candidate fan-in is bounded by digits
    sharing a context (≤ 10 per key), so pair work is O(matches), not
    O(N²) — at sf0.01 that is 19,500 true pairs from 1,500 ids where
    brute force would scan 1.1M combinations. Key completeness +
    soundness (pairs == brute-force Levenshtein-1 set on the
    fixed-length universe) is certified against an independent Python
    brute force in tests/test_properties.py. One distinct-projection
    scan, one explode, one equi-join on (pos, delstr)."""
    ids = (
        load_table(spark, sf_dir, "customer")
        .select(F.regexp_extract(F.col("c_name"), "[0-9]+", 0).alias("w"))
        .distinct()
    )
    pos = spark.range(1, _SYM_LEN + 1).select(F.col("id").alias("p"))
    keys = ids.crossJoin(F.broadcast(pos)).select(
        "w",
        "p",
        F.concat(
            F.expr("substr(w, 1, cast(p - 1 as int))"),
            F.expr(f"substr(w, cast(p + 1 as int))"),
        ).alias("delstr"),
        F.expr("substr(w, cast(p as int), 1)").alias("digit"),
    )
    a = keys.select(
        F.col("w").alias("id_a"),
        F.col("p").alias("pos"),
        F.col("delstr"),
        F.col("digit").alias("digit_a"),
    )
    b = keys.select(
        F.col("w").alias("id_b"),
        F.col("p").alias("pos"),
        F.col("delstr"),
        F.col("digit").alias("digit_b"),
    )
    return (
        a.join(b, ["pos", "delstr"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.col("pos").cast("long"), "digit_a", "digit_b")
    )


# --- weighted Jaccard over candidate pairs (round 7, session 4) -------------
@register(
    "weighted_jaccard_pairs",
    oracle=f"""
    WITH {_CAND_SQL},
    tf AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY doc_id, w
    ),
    tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t FROM tf GROUP BY 1),
    shared AS (
        SELECT cd.doc_a, cd.doc_b,
               CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS sum_min
        FROM cand cd
        JOIN tf a ON a.doc_id = cd.doc_a
        JOIN tf b ON b.doc_id = cd.doc_b AND b.w = a.w
        GROUP BY cd.doc_a, cd.doc_b
    )
    SELECT s.doc_a, s.doc_b, s.sum_min,
           ta.t + tb.t - s.sum_min AS sum_max,
           CAST(s.sum_min AS DOUBLE)
               / CAST(ta.t + tb.t - s.sum_min AS DOUBLE) AS weighted_jaccard
    FROM shared s
    JOIN tot ta ON ta.doc_id = s.doc_a
    JOIN tot tb ON tb.doc_id = s.doc_b
    """,
    tags=("dedup", "near_dedup", "weighted_jaccard", "multiset"),
)
def weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (multiset) Jaccard J_w = Σ_t min(tf_a,tf_b) / Σ_t
    max(tf_a,tf_b) for the LSH candidate pairs — the similarity the
    SET-based family (ngram_jaccard_pairs) structurally overstates on
    repetitive documents: a doc that says 'batch batch batch' and one
    that says 'batch' are identical as SETS but far apart as bags,
    and repetition is exactly what low-quality corpus text does
    (repetition_filter's subject). Candidates come from the registered
    MinHash lineage (composed verbatim), so the expensive exact J_w
    runs only on the LSH-bounded pair set; Σmax never needs the union
    scan because Σmax = |a| + |b| − Σmin (multiset identity) — the
    inner token join plus two broadcast total lookups is the whole
    computation, all integer until one division. The ICWS-style
    weighted-minhash estimator would replace the exact inner join at
    scale; this query is its exact oracle and the tuning-scale
    certifier."""
    cand = _lsh_candidate_pairs(spark, sf_dir)
    tf = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.col("text"), " ")).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = tf.groupBy("doc_id").agg(F.sum("c").cast("long").alias("t"))
    ta = tf.select(
        F.col("doc_id").alias("doc_a"), F.col("w"), F.col("c").alias("ca")
    )
    tb = tf.select(
        F.col("doc_id").alias("tb_doc"),
        F.col("w").alias("wb"),
        F.col("c").alias("cb"),
    )
    shared = (
        cand.join(ta, "doc_a")
        .join(
            tb,
            (F.col("doc_b") == F.col("tb_doc")) & (F.col("w") == F.col("wb")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("ca", "cb")).cast("long").alias("sum_min"))
    )
    tota = tot.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a"))
    totb = tot.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b"))
    return (
        shared.join(tota, "doc_a")
        .join(totb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "sum_min",
            (F.col("t_a") + F.col("t_b") - F.col("sum_min")).alias("sum_max"),
            (
                F.col("sum_min").cast("double")
                / (F.col("t_a") + F.col("t_b") - F.col("sum_min")).cast(
                    "double"
                )
            ).alias("weighted_jaccard"),
        )
    )


# --- train/test n-gram contamination audit (round 10) -----------------------------
CONTAM_TEST_MOD = 10  # every 10th doc is "the benchmark/test split"


@register(
    "ngram_contamination_audit",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    test_sh AS (SELECT doc_id, s FROM sh WHERE doc_id % {CONTAM_TEST_MOD} = 0),
    train_g AS (SELECT DISTINCT s FROM sh
                WHERE doc_id % {CONTAM_TEST_MOD} <> 0),
    hits AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN g.s IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
      FROM test_sh t LEFT JOIN train_g g ON t.s = g.s
      GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test_docs,
           CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           CAST(SUM(CASE WHEN n_hit = n_grams THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fully_contained,
           CAST(SUM(n_hit) AS DOUBLE) / CAST(SUM(n_grams) AS DOUBLE)
               AS gram_overlap_rate
    FROM hits
    """,
    tags=("dedup", "contamination", "decontamination", "ngram",
          "train_test_split"),
)
def ngram_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: what fraction of the TEST split's
    word {SHINGLE_K}-grams — and how many whole test documents — leak
    from the TRAIN split? This is the decontamination check every
    serious pretraining pipeline runs before reporting eval numbers
    (GPT-3 appendix C and PaLM both document exactly this n-gram
    overlap procedure); dup_ngram_spans finds repeated spans WITHIN a
    corpus, this one measures leakage ACROSS the train/test cut that
    temporal_group_split-style assembly produces. Emits the doc-level
    contamination count (any shared gram), the fully-contained count
    (every gram leaked — memorization risk), and the corpus-level gram
    overlap rate.

    Scale (100 TB): the shingle explosion feeds one distinct per split;
    the audit is ONE equi-join on the gram key (bucketed by Spark's
    hash partitioning, never all-pairs) plus a doc-grain rollup and a
    global fold. No broadcast hints — the train gram table is
    vocabulary-grain and the planner decides."""
    sh = _shingle_df(spark, sf_dir)
    test_sh = sh.filter(F.pmod(F.col("doc_id"), CONTAM_TEST_MOD) == 0)
    train_g = (
        sh.filter(F.pmod(F.col("doc_id"), CONTAM_TEST_MOD) != 0)
        .select("s")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    hits = (
        test_sh.join(train_g, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
    )
    return hits.agg(
        F.count("*").cast("long").alias("n_test_docs"),
        F.sum(F.when(F.col("n_hit") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_contaminated"),
        F.sum(F.when(F.col("n_hit") == F.col("n_grams"), 1).otherwise(0))
        .cast("long")
        .alias("n_fully_contained"),
        (
            F.sum("n_hit").cast("double") / F.sum("n_grams").cast("double")
        ).alias("gram_overlap_rate"),
    )
