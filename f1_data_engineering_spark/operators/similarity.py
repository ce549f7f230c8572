"""Similarity search over the ``embeddings`` table (beyond-reference
training-data scope): brute-force cosine top-k, hyperplane-LSH
bucketing, and all-pairs nearest neighbor.

Scale design:

* **brute force** is the baseline AND often the right answer: the dot
  products run inside the scan stage (zip_with/aggregate — JVM, no
  Python), so a 100 TB sweep is bandwidth-bound with a tiny top-k
  shuffle (per-partition heaps → driver merge).  Query vectors
  broadcast.
* **hyperplane LSH** is the candidate-reduction path: 8 deterministic
  hyperplanes → 8-bit bucket; vectors shuffle once on the bucket and
  only same-bucket pairs are scored.  Planes are integer-arithmetic
  pseudo-random (no libm) so Spark and DuckDB compute bit-identical
  weights.
* FP parity: cosine components fold left-to-right over the array in
  both engines; outputs are rounded to 6 decimals, and rankings use a
  1e-9-rounded sim with vec_id tie-break so ulp-level engine noise
  cannot reorder results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot, l2_norm
from .pandas_ops import _oracle_round, _oracle_round6
from ..sources.registry import load_table, spread

N_PLANES = 8
DIM = 64
_P1, _P2, _MOD = 8191, 2654435761, 1000003


def _plane_weight(p: int, d: int) -> float:
    """Deterministic pseudo-random weight in [-0.5, 0.5) from exact
    integer arithmetic — identical in Python, Spark and SQL."""
    return ((p * _P1 + d) * _P2 % _MOD) / _MOD - 0.5


def _bucket_expr(vec: Column) -> Column:
    """8-bit LSH bucket: bit p = (Σ_d w[p][d]·v[d] > 0)."""
    bits = []
    for p in range(N_PLANES):
        w = F.array(*[F.lit(_plane_weight(p, d)) for d in range(DIM)])
        dot = F.aggregate(
            F.zip_with(vec, w, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


_SQL_COS = """
list_sum(list_transform(list_zip(a.embedding, b.embedding),
         p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


def ann_bruteforce_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 5
) -> DataFrame:
    """Top-3 neighbors (including self) for query vectors vec_id <
    ``n_queries`` by cosine.  Queries broadcast; scoring is scan-side;
    ranking is a per-query-partition window (k·q rows total shuffle).
    The default query set (vec_id < 5) is the oracle contract; the
    knob exists for throughput studies against the vectorized twin.

    Norms are computed ONCE PER ROW before the pair join (same float
    ops, same order as ``cosine_similarity``, so results are
    bit-identical) — per-pair the only array fold left is the dot
    product: 1 interpreted HOF fold instead of 3.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "embedding", l2_norm("embedding").alias("enorm")
    )
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("enorm").alias("qnorm"),
    )
    denom = F.col("qnorm") * F.col("enorm")
    sim = F.when(denom > 0, dot("qvec", "embedding") / denom).otherwise(
        F.lit(None).cast("double")
    )
    pairs = e.join(F.broadcast(q)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(sim, 9).alias("sim_key"),
        F.round(sim, 6).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim_key").desc(), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank"))
        .orderBy("query_id", "rank")
    )


def _oracle_ann_topk(n_queries: int) -> str:
    return f"""
WITH pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    ROUND({_SQL_COS}, 9) AS sim_key, ROUND({_SQL_COS}, 6) AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < {n_queries}
),
r AS (
  SELECT query_id, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY sim_key DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, sim, rank
FROM r WHERE rank <= 3 ORDER BY query_id, rank
"""


ORACLE_ANN_TOPK = _oracle_ann_topk(5)

#: Oracle for the REGISTERED ann_topk_vectorized shape: 500 queries —
#: the regime the BLAS path exists for (the auto-dispatch crossover is
#: ~50 queries; at 5 the registered entry would just re-verify the
#: exact fold it delegates to).
ORACLE_ANN_TOPK_500 = _oracle_ann_topk(500)


def ann_topk_vectorized_500(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered gate/bench shape of :func:`ann_topk_vectorized`:
    500 queries with the BLAS path pinned — the driver gate verifies
    the prune+rescore machinery itself (at the default 5-query shape
    the auto-dispatch would delegate to the exact fold and the gate
    row would re-verify a plan already covered by
    ``ann_bruteforce_topk``), and the bench measures the path in the
    regime it exists for (6.5× over the fold at sf1; see
    ``ANN_BLAS_MIN_QUERIES``)."""
    return ann_topk_vectorized(spark, sf_dir, n_queries=500, use_blas=True)


def lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket occupancy of the 8-hyperplane LSH: (bucket, n_vectors).
    The histogram is the health check for the ANN scale path — a
    degenerate plane set (one huge bucket) means the candidate join
    degrades toward n²."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(_bucket_expr(F.col("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("bucket")
    )


def _sql_plane_weight() -> str:
    return f"((p * {_P1} + d) * {_P2} % {_MOD}) / {_MOD}.0 - 0.5"


ORACLE_LSH_HIST = f"""
WITH planes AS (
  SELECT p, list_transform(range({DIM}), d -> {_sql_plane_weight()}) AS w
  FROM (SELECT unnest(range({N_PLANES})) AS p)
),
dots AS (
  SELECT e.vec_id, pl.p,
    list_sum(list_transform(list_zip(e.embedding, pl.w),
             z -> CAST(z[1] AS DOUBLE) * z[2])) AS dot
  FROM embeddings e CROSS JOIN planes pl
),
buckets AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT)
      AS bucket
  FROM dots GROUP BY vec_id
)
SELECT bucket, COUNT(*) AS n_vectors FROM buckets
GROUP BY bucket ORDER BY bucket
"""


def embedding_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest other vector for each query in a 1-in-100 query sample
    (vec_id % 100 == 0): brute-force cosine, deterministic tie-breaks.
    The sample keeps the pair count linear in table size so the same
    query runs at every SF (at 100 TB you'd bucket first — see
    lsh_bucket_histogram).

    Norms precomputed per row before the join (bit-identical to
    ``cosine_similarity``, 1 HOF fold per pair instead of 3); no final
    orderBy (range-partitioner sampling would re-run the scoring
    stage — order is the consumer's concern).
    """
    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "label", "embedding", l2_norm("embedding").alias("enorm")
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("enorm").alias("qnorm"),
    )
    denom = F.col("qnorm") * F.col("enorm")
    sim = F.when(denom > 0, dot("qvec", "embedding") / denom).otherwise(
        F.lit(None).cast("double")
    )
    pairs = (
        e.join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            F.round(sim, 9).alias("sim_key"),
            F.round(sim, 6).alias("sim"),
        )
    )
    # argmax as a hash aggregate, not a row_number window: max(struct)
    # gets map-side partial aggregation, so the shuffle carries one row
    # per (query, partition) instead of every scored pair — the window
    # version shuffles AND sorts the full N×Q product.  Tie-break
    # (highest sim_key, then lowest neighbor_id) is encoded as
    # struct(sim_key, -neighbor_id) lexicographic max.
    best = F.max(
        F.struct(
            F.col("sim_key"),
            (-F.col("neighbor_id")).alias("neg_id"),
            F.col("neighbor_id"),
            F.col("neighbor_label"),
            F.col("sim"),
        )
    ).alias("best")
    return pairs.groupBy("query_id").agg(best).select(
        "query_id",
        F.col("best.neighbor_id").alias("neighbor_id"),
        F.col("best.neighbor_label").alias("neighbor_label"),
        F.col("best.sim").alias("sim"),
    )


ORACLE_NN = f"""
WITH pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    b.label AS neighbor_label,
    ROUND({_SQL_COS}, 9) AS sim_key, ROUND({_SQL_COS}, 6) AS sim
  FROM embeddings a JOIN embeddings b
    ON a.vec_id % 100 = 0 AND b.vec_id <> a.vec_id
),
r AS (
  SELECT query_id, neighbor_id, neighbor_label, sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY sim_key DESC, neighbor_id) AS rn
  FROM pairs
)
SELECT query_id, neighbor_id, neighbor_label, sim
FROM r WHERE rn = 1 ORDER BY query_id
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label per-dimension centroid of the embedding vectors —
    the k-means-style reduction over array columns.

    posexplode → groupBy (label, dim) → exact decimal mean.  One
    shuffle of (label, dim, partial) — at 100 TB the map-side partial
    aggregation means the shuffle is labels × dims rows per partition,
    independent of vector count."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "x"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("dim") < 8)  # keep the checked slice compact
        .orderBy("label", "dim")
    )


ORACLE_CENTROIDS = """
WITH ex AS (
  SELECT label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
)
SELECT label, dim,
  ROUND(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6) AS centroid,
  COUNT(*) AS n
FROM ex WHERE dim < 8
GROUP BY label, dim ORDER BY label, dim
"""


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection, LSH-bucketed: candidate
    pairs come only from shared hyperplane buckets, then exact cosine
    filters at >= 0.99.

    Runs on an augmented corpus (embeddings ∪ verbatim copies of
    vec_id < 5 at vec_id+100000) so the planted duplicates — identical
    vectors, hence identical buckets, cosine 1.0 — are provably found.
    Scale shape: one shuffle on the bucket; pair scoring is confined
    to bucket-local candidates (cost tracks duplicate density, not n²).
    """
    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    # Bucket + norm computed once per vector, cached: the frame feeds
    # BOTH sides of the self-join, and per-candidate work shrinks to a
    # single dot-product fold (norm order v1*v2 matches
    # cosine_similarity, so values are bit-identical).
    c = (
        e.unionByName(planted)
        .select(
            "vec_id",
            "embedding",
            _bucket_expr(F.col("embedding")).alias("bucket"),
            l2_norm("embedding").alias("nrm"),
        )
        .cache()
    )
    a = c.select(
        F.col("vec_id").alias("id1"),
        F.col("embedding").alias("v1"),
        F.col("nrm").alias("n1"),
        "bucket",
    )
    b = c.select(
        F.col("vec_id").alias("id2"),
        F.col("embedding").alias("v2"),
        F.col("nrm").alias("n2"),
        "bucket",
    )
    denom = F.col("n1") * F.col("n2")
    sim = F.when(denom > 0, dot("v1", "v2") / denom).otherwise(
        F.lit(None).cast("double")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.round(sim, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.99)
    )


_SQL_COS_V = """
list_sum(list_transform(list_zip(a.v1, b.v2),
         p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(a.v1, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(b.v2, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""

ORACLE_NEAR_DUP = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 5
),
planes AS (
  SELECT p, list_transform(range({DIM}), d -> {_sql_plane_weight()}) AS w
  FROM (SELECT unnest(range({N_PLANES})) AS p)
),
dots AS (
  SELECT c.vec_id, pl.p,
    list_sum(list_transform(list_zip(c.embedding, pl.w),
             z -> CAST(z[1] AS DOUBLE) * z[2])) AS dot
  FROM corpus c CROSS JOIN planes pl
),
buckets AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT)
      AS bucket
  FROM dots GROUP BY vec_id
),
cb AS (
  SELECT c.vec_id, c.embedding, b.bucket
  FROM corpus c JOIN buckets b ON c.vec_id = b.vec_id
),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
    ROUND({_SQL_COS_V.replace("a.v1", "a.embedding").replace("b.v2", "b.embedding")}, 6) AS cos_sim
  FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id1, id2, cos_sim FROM pairs
WHERE cos_sim >= 0.99 ORDER BY id1, id2
"""


#: Baseline per-(query, Arrow batch) candidate count kept by the BLAS
#: prune in :func:`ann_topk_vectorized`.  The prune additionally keeps
#: every row whose BLAS key is within :data:`ANN_PRUNE_MARGIN` of the
#: batch's 3rd-best key, which makes it PROVABLY safe (see the
#: docstring) — this constant only floors the candidate set for the
#: NaN / short-batch cases the margin rule cannot see.
ANN_PRUNE_K = 8

#: Provable prune margin.  |blas_sim − exact_sim| < 1e-10 for 64-dim
#: unit-scale dot products (reassociation error ≲ n·u·n ≈ 5e-13 plus
#: normalization ulps), so the two 9-dp rounded keys differ by at most
#: one 1e-9 grid step.  A true top-3 row's BLAS key therefore sits
#: within 1e-9 of its exact key, and the batch's 3rd-best BLAS key
#: within 1e-9 of the 3rd-best exact key: keeping everything within
#: 2e-9 of the 3rd-best BLAS key cannot evict a true top-3 candidate.
ANN_PRUNE_MARGIN = 2e-9

#: Auto-dispatch crossover for :func:`ann_topk_vectorized` (measured
#: r8, local[32], min-of-2/3, noop sink).  The BLAS path's fixed costs
#: (query collect + broadcast, Python worker round-trip, rescore join)
#: only amortize once the exact path's per-pair HOF folds dominate:
#:   sf1 corpus (20k × 64): Q=5 → 1.0×, Q=50 → 1.5×, Q=200 → 3.2×,
#:     Q=500 → 6.5× (exact 7.08 s vs BLAS 1.10 s);
#:   sf0.1 corpus (2k × 64): overhead-bound until Q ≈ 300 (BLAS is up
#:     to ~0.2 s SLOWER below that), 1.2× at Q=500.
#: Rule of thumb: BLAS wins once Q·N ≳ 10⁶ score pairs.  Below this
#: query count the function dispatches to the exact expression fold —
#: identical results (the BLAS path is bit-identical by construction),
#: so the dispatch is invisible to callers.
ANN_BLAS_MIN_QUERIES = 50


def ann_topk_vectorized(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    use_blas: bool | None = None,
) -> DataFrame:
    """Arrow-vectorized fast path for brute-force top-k: cosine scores
    computed as one numpy matrix product per Arrow batch
    (``mapInPandas``) PRUNE the corpus to ``ANN_PRUNE_K`` candidates
    per (query, batch); the survivors (k·q rows per batch — metadata
    sized) are then RE-SCORED with the exact ``dot``/``l2_norm``
    expression fold, so the returned (sim, rank) values are
    bit-identical to :func:`ann_bruteforce_topk` and sit under the
    same DuckDB oracle (``ORACLE_ANN_TOPK``).

    ~10× the scoring throughput of the expression version at 64 dims —
    the production path when the scan is compute-bound rather than
    IO-bound.  BLAS reassociates the dot-product sum, so the pruning
    keys can differ from the exact fold in final ulps; correctness
    does NOT depend on them, by construction rather than by odds: the
    prune keeps (a) the batch's top-``ANN_PRUNE_K`` rows under the
    (9-dp key desc, id asc) order and (b) EVERY row whose BLAS key is
    within ``ANN_PRUNE_MARGIN`` (2 grid steps) of the batch's 3rd-best
    BLAS key.  Since a BLAS 9-dp key never strays more than one 1e-9
    grid step from the exact 9-dp key (error bound in the
    ``ANN_PRUNE_MARGIN`` note), any row that is top-3 under the exact
    key is within 2e-9 of the 3rd-best BLAS key and survives (b) — no
    sequence of half-boundary flips can evict it.  The margin set
    exceeds ``ANN_PRUNE_K`` rows only when ≥6 corpus rows tie the
    rank-3 similarity to within 2e-9, in which case materializing them
    for the exact rescore is precisely what correctness requires.
    pytest cross-checks the full result against the exact twin,
    including an adversarial all-ties corpus.  Zero-norm vectors score
    NaN and sort last in the prune, matching the NULL-sim-last rank
    order of the exact path.

    ``use_blas=None`` (the default) auto-dispatches: below
    ``ANN_BLAS_MIN_QUERIES`` the fixed Arrow/broadcast overheads make
    the exact expression fold strictly faster (measured crossover in
    the ``ANN_BLAS_MIN_QUERIES`` note), so the call delegates to
    :func:`ann_bruteforce_topk` — same result, never slower by
    default.  Pass ``use_blas=True`` to pin the BLAS path (tests, the
    registered 500-query gate shape) or ``False`` to pin the fold.
    """
    if use_blas is None:
        use_blas = n_queries >= ANN_BLAS_MIN_QUERIES
    if not use_blas:
        return ann_bruteforce_topk(spark, sf_dir, n_queries)
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        e.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows])
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq_mat = spark.sparkContext.broadcast(q_mat)

    def prune(batches):
        for pdf in batches:
            v = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(v, axis=1, keepdims=True)
            norms[norms == 0] = np.nan
            sims = (v / norms) @ bq_mat.value.T  # (batch, n_queries)
            ids = pdf["vec_id"].to_numpy()
            emb = pdf["embedding"].to_numpy()
            keys = np.round(sims, 9)
            # per-batch partial top-k under the final order (sim_key
            # desc, neighbor_id asc): the global top-3 per query is a
            # subset of each batch's top-ANN_PRUNE_K union, so only
            # k·q rows per batch leave the scan — the map-side-combine
            # of top-k search.  The float32 embedding rides along so
            # the exact rescore needs no second corpus pass.
            out_q, out_idx = [], []
            for qi in range(len(bq_ids.value)):
                kcol = keys[:, qi]
                order = np.lexsort((ids, -kcol))
                keep = order[:ANN_PRUNE_K]
                # provable-safety margin: also keep every row within
                # ANN_PRUNE_MARGIN of the batch's 3rd-best BLAS key
                # (NaN keys fail the >= and stay pruned — the exact
                # path ranks their NULL sims last anyway; the fixed
                # top-K slice above covers degenerate all-NaN batches)
                if len(order) >= 3 and not np.isnan(kcol[order[2]]):
                    thresh = kcol[order[2]] - ANN_PRUNE_MARGIN
                    margin = np.nonzero(kcol >= thresh)[0]
                    keep = np.union1d(keep, margin)
                out_q.append(np.full(len(keep), bq_ids.value[qi]))
                out_idx.append(keep)
            idx = np.concatenate(out_idx)
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": ids[idx],
                    "embedding": emb[idx],
                }
            )

    # spread: one Arrow batch per core for the matrix product (a
    # single-row-group input would otherwise serialize the scoring)
    cands = spread(e.select("vec_id", "embedding"), "vec_id").mapInPandas(
        prune, "query_id long, neighbor_id long, embedding array<float>"
    )
    # exact rescore of the tiny candidate set: the same expressions on
    # the same float32 bits (Arrow round-trips them unchanged) as
    # ann_bruteforce_topk, hence a bit-identical result.
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        l2_norm("embedding").alias("qnorm"),
    )
    denom = F.col("qnorm") * l2_norm("embedding")
    sim = F.when(denom > 0, dot("qvec", "embedding") / denom).otherwise(
        F.lit(None).cast("double")
    )
    rescored = cands.join(F.broadcast(q), "query_id").select(
        "query_id",
        "neighbor_id",
        F.round(sim, 9).alias("sim_key"),
        F.round(sim, 6).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim_key").desc(), "neighbor_id")
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
        )
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH ANN (IVF-style partitioned search)
# ---------------------------------------------------------------------------

MULTIPROBE_RADIUS = 2
MULTIPROBE_TOPK = 3

#: All XOR masks within Hamming distance MULTIPROBE_RADIUS of 0, as
#: plan-time literals: 1 + 8 + 28 = 37 probe cells of the 256.
_PROBE_MASKS = sorted(
    m for m in range(1 << N_PLANES) if bin(m).count("1") <= MULTIPROBE_RADIUS
)


def lsh_multiprobe_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-linear ANN top-k via multi-probe hyperplane LSH: the corpus
    is partitioned into 256 hyperplane-sign cells; each query probes
    its own cell plus every cell within Hamming distance
    ``MULTIPROBE_RADIUS`` (37 of 256), and brute-forces only those.

    Scale shape (the IVF pattern on Spark): probe cells are exploded
    into explicit (query, bucket) keys so candidate generation is an
    EQUI-join on the bucket — the corpus shuffles/partitions once by
    bucket and each query's work is confined to its probed partitions,
    ~37/256 ≈ 14% of the corpus per query at radius 2.  The mask list
    is a plan-time literal array; nothing is data-dependent but the
    bucket itself.

    Accuracy is a measured, tunable trade (synthetic corpus at sf0.1 —
    these embeddings have NO label/cluster structure, the hard case
    for any partitioned ANN): radius 0 → recall@3 0.33 scanning 1.2%,
    radius 1 → 0.40 at 6%, radius 2 → 0.60 at 18%.
    tests/test_plans.py asserts the radius-2 floor; exact results per
    engine are pinned by the DuckDB oracle.
    """
    # NO spread: bucket fan-out + candidate join dominate; a pre-exchange
    # measured 0.97s -> 1.10s at sf0.1
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        l2_norm("embedding").alias("enorm"),
        _bucket_expr(F.col("embedding")).alias("bucket"),
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("enorm").alias("qnorm"),
        F.col("bucket").alias("qb"),
    )
    probes = q.select(
        "query_id",
        "qvec",
        "qnorm",
        F.explode(
            F.array(*[F.col("qb").bitwiseXOR(F.lit(m)) for m in _PROBE_MASKS])
        ).alias("bucket"),
    )
    denom = F.col("qnorm") * F.col("enorm")
    sim = F.when(denom > 0, dot("qvec", "embedding") / denom).otherwise(
        F.lit(None).cast("double")
    )
    pairs = e.join(F.broadcast(probes), "bucket").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(sim, 9).alias("sim_key"),
        F.round(sim, 6).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim_key").desc(), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MULTIPROBE_TOPK)
        .select(
            "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
        )
    )


_SQL_COS_QE = """
list_sum(list_transform(list_zip(p.qvec, e.embedding),
         p2 -> CAST(p2[1] AS DOUBLE) * CAST(p2[2] AS DOUBLE)))
/ (p.qnorm * e.enorm)
"""

_SQL_L2 = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

ORACLE_MULTIPROBE_ANN = f"""
WITH planes AS (
  SELECT p, list_transform(range({DIM}), d -> {{pw}}) AS w
  FROM (SELECT unnest(range({N_PLANES})) AS p)
),
dots AS (
  SELECT e.vec_id, pl.p,
    list_sum(list_transform(list_zip(e.embedding, pl.w),
             z -> CAST(z[1] AS DOUBLE) * z[2])) AS dot
  FROM embeddings e CROSS JOIN planes pl
),
buck AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT)
      AS bucket
  FROM dots GROUP BY vec_id
),
base AS (
  SELECT e.vec_id, e.embedding, {_SQL_L2.format(v="e.embedding")} AS enorm, b.bucket
  FROM embeddings e JOIN buck b USING (vec_id)
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec, enorm AS qnorm, bucket AS qb
  FROM base WHERE vec_id % 100 = 0
),
p AS (
  SELECT query_id, qvec, qnorm, xor(qb, m.m) AS bucket
  FROM q CROSS JOIN (SELECT unnest({_PROBE_MASKS}) AS m) m
),
pairs AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
    ROUND({_SQL_COS_QE}, 9) AS sim_key, ROUND({_SQL_COS_QE}, 6) AS sim
  FROM p JOIN base e USING (bucket)
),
r AS (
  SELECT query_id, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY sim_key DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= {MULTIPROBE_TOPK}
""".format(pw=_sql_plane_weight())


# ---------------------------------------------------------------------------
# int8 quantization (storage/bandwidth compression for ANN at scale)
# ---------------------------------------------------------------------------


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|v| / 127,
    q_i = floor(v_i/scale + 0.5), plus the mean absolute reconstruction
    error — the compression step that cuts an embedding store (and
    every ANN shuffle over it) 4× before the similarity operators run.

    Scale shape: pure scan-side array math (transform / array_max /
    aggregate — all JVM codegen, no Python, no shuffle).  Determinism:
    max is order-independent, float→double casts are exact, and the
    explicit floor(x + 0.5) rounding avoids any engine tie-break
    ambiguity — the DuckDB oracle runs the identical formula
    term-for-term.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select(
        "vec_id",
        vd.alias("v"),
        F.size("embedding").cast("long").alias("n_dims"),
        (F.array_max(F.transform(vd, F.abs)) / F.lit(127.0)).alias("scale"),
    )
    zero = F.transform(F.col("v"), lambda x: F.lit(0).cast("long"))
    qexpr = F.transform(
        F.col("v"), lambda x: F.floor(x / F.col("scale") + F.lit(0.5))
    )
    err_sum = F.aggregate(
        F.col("v"),
        F.lit(0.0),
        lambda acc, x: acc
        + F.abs(F.floor(x / F.col("scale") + F.lit(0.5)) * F.col("scale") - x),
    )
    # q is emitted as a CSV string, not array<long>: the driver's
    # pandas canonicalizer cannot sort list cells (round 3's
    # inverted_index/dedup_clusters err class — caught for this query
    # by tests/test_entry_contract.py::test_no_query_returns_nested_columns
    # before it ever reached the gate)
    q_csv = F.array_join(
        F.transform(
            F.when(F.col("scale") == 0, zero).otherwise(qexpr),
            lambda x: x.cast("string"),
        ),
        ",",
    )
    return base.select(
        "vec_id",
        "n_dims",
        F.round("scale", 9).alias("scale_r"),
        q_csv.alias("q_csv"),
        F.round(
            F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
                err_sum / F.col("n_dims")
            ),
            9,
        ).alias("mae_r"),
    ).orderBy("vec_id")


ORACLE_QUANTIZE = """
WITH v AS (
  SELECT vec_id,
    CAST(len(embedding) AS BIGINT) AS n_dims,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
      AS scale,
    embedding
  FROM embeddings
)
SELECT vec_id, n_dims, ROUND(scale, 9) AS scale_r,
  -- COALESCE: DuckDB's array_to_string([]) is NULL where Spark's
  -- array_join is '' (the known empty-list asymmetry)
  COALESCE(array_to_string(CASE WHEN scale = 0
       THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
       ELSE list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))
  END, ','), '') AS q_csv,
  ROUND(CASE WHEN scale = 0 THEN 0.0 ELSE
    list_sum(list_transform(embedding,
      x -> abs(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) * scale
               - CAST(x AS DOUBLE)))) / n_dims END, 9) AS mae_r
FROM v ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# k-means (Lloyd) over embeddings — iterative clustering
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3


def kmeans_embeddings(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Lloyd's k-means on the embedding corpus: ``iters`` fixed
    iterations from a deterministic init (the k lowest vec_ids), then
    (cluster, n_vectors, inertia) per final cluster.

    The Spark shape of every iterative ML-ish algorithm:

    * centroids live on the DRIVER (k×DIM doubles — metadata-sized)
      and enter each pass as plan literals, i.e. a broadcast that
      costs nothing;
    * assignment is a SCAN-SIDE codegen expression — the k distance
      polynomials unroll to arithmetic on array elements, no Python,
      no shuffle;
    * the per-iteration reduce is ONE hash aggregate (k·DIM avg
      columns), map-side partial, shuffling k rows per partition;
    * per-iteration driver traffic is k×DIM floats — collect() here is
      the algorithm's actual contract, not a scalability bug.

    Clustering embeddings is the diversity/balance primitive of
    training-data curation (cluster-then-sample); the centroid means
    sum floats in partition order, so results carry engine-specific
    ulps — rows-only in the differential gate, pinned against a numpy
    reference implementation (same init, same iteration count) in
    pytest instead.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = [
        list(r["embedding"])
        for r in e.orderBy("vec_id").limit(k).collect()
    ]
    if len(cents) < k:
        raise ValueError(
            f"kmeans_embeddings needs at least k={k} vectors for init; "
            f"embeddings table in {sf_dir} has only {len(cents)}"
        )

    def best() -> Column:
        # argmin as array_min over (distance, index) structs built by a
        # zip_with/aggregate fold over ONE array<array<double>> centroid
        # literal.  The fold ``0.0 + t0 + t1 + …`` is bit-identical to
        # the previous unrolled ``t0 + t1 + …`` chain (every pow(x,2)
        # term is >= +0.0, so the 0.0 seed can't flip a sign), and the
        # lexicographic struct min breaks ties toward the lower index
        # (numpy argmin's rule).  vs the k×DIM unrolled literal chains
        # this shrinks the expression tree from O(k·DIM) arithmetic
        # nodes to O(k) array literals + O(1) lambdas — the unrolled
        # form spent ~20 s per bench run in analysis/codegen at EVERY
        # scale factor (plan-compile-bound, not data-bound).
        carr = F.array(*[F.lit([float(v) for v in c]) for c in cents])
        dists = F.transform(
            carr,
            lambda c: F.aggregate(
                F.zip_with(
                    F.col("embedding"), c, lambda x, y: F.pow(x - y, F.lit(2))
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
        )
        return F.array_min(
            F.zip_with(
                dists,
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda d, j: F.struct(d.alias("d"), j.alias("j")),
            )
        )

    for _ in range(iters):
        assigned = e.select("embedding", best().getField("j").alias("cluster"))
        stats = (
            assigned.groupBy("cluster")
            .agg(
                *[
                    F.avg(F.col("embedding").getItem(d)).alias(f"c{d}")
                    for d in range(DIM)
                ],
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cluster = {r["cluster"]: r for r in stats}
        cents = [
            [by_cluster[j][f"c{d}"] for d in range(DIM)]
            if j in by_cluster
            else cents[j]  # empty cluster keeps its previous centroid
            for j in range(k)
        ]

    return (
        e.select(best().alias("b"))
        .select(F.col("b.j").alias("cluster"), F.col("b.d").alias("d2"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.sum("d2"), 4).alias("inertia"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# IVF ANN (inverted-file index: centroid cells + nprobe search)
# ---------------------------------------------------------------------------

IVF_NPROBE = 4
IVF_TOPK = 3

#: coarse_nlist clamps: 4 cells minimum (tiny fuzz corpora), 65536 max
#: (beyond that the centroid table itself wants hierarchical routing)
NLIST_MIN = 4
NLIST_MAX = 65536


def coarse_nlist(n: int) -> int:
    """√N-scaled coarse-quantizer size: the LARGEST power of two whose
    square is ≤ the corpus count, clamped to [NLIST_MIN, NLIST_MAX].

    This is the knob that keeps IVF/SemDeDup cell-local pair work
    bounded at scale: cells average n/nlist ≈ √n vectors, so within-cell
    scoring is O(n·√n) total rather than the O(n²/k) of a fixed k
    (SCALING.md's annotated quadratic at the old fixed 16).  Derived
    per-query from the corpus row count — 500-vector test tables give
    16 (the value every committed golden/driver hash was recorded at);
    1M vectors give 512; 1B give 16384.  Integer-exact by
    construction (powers of two, integer squares), with a DuckDB twin
    (``_SQL_NLIST``) evaluating the identical rule so the differential
    gate derives the same value from the same table.
    """
    p = NLIST_MIN
    while p < NLIST_MAX and (p * 2) * (p * 2) <= max(n, NLIST_MIN * NLIST_MIN):
        p *= 2
    return p


#: DuckDB twin of :func:`coarse_nlist` over the ``embeddings`` view —
#: POWER(2, i) is exact for integer i, and the squares stay ≤ 2^32, so
#: the float comparison is integer-exact on both engines.
_SQL_NLIST = """(
  SELECT MAX(CAST(POWER(2, i) AS BIGINT)) FROM range(2, 17) t(i)
  WHERE POWER(2, i) * POWER(2, i)
        <= GREATEST((SELECT COUNT(*) FROM embeddings), 16)
)"""


def ivf_ann(
    spark: SparkSession, sf_dir: str, nlist: int | None = None
) -> DataFrame:
    """IVF-style ANN top-k: the corpus is partitioned into ``nlist``
    cells by nearest centroid (``nlist`` derived √N-style from the
    corpus count via :func:`coarse_nlist` unless given); each query
    brute-forces only its ``IVF_NPROBE`` most-similar cells.

    This is the data-dependent sibling of :func:`lsh_multiprobe_ann`:
    LSH cells come from fixed hyperplanes, IVF cells from a coarse
    quantizer that adapts to the data distribution.  For oracle
    determinism the quantizer here is seeded (centroids = the first
    ``nlist`` vectors) rather than k-means-trained — the list
    structure, probe mechanics and plan shape are identical to a
    trained index (train with :func:`kmeans_embeddings` in production;
    nlist grows as the largest power of two ≤ √N, so cells average ~√N
    vectors and the centroid table stays broadcast-sized — 16 MB at
    NLIST_MAX=65536 × 64 dims × 4 B).

    Plan shape: ONE broadcast pass assigns every vector its cell
    (argmax encoded as a lexicographic max-struct hash aggregate —
    map-side partials, no window over the corpus); candidates come
    from an EQUI-join on the cell id, so the corpus shuffles once by
    cell and each query touches only its probed partitions.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", l2_norm("embedding").alias("enorm")
    )
    if nlist is None:
        # parquet metadata count — no column scan
        nlist = coarse_nlist(load_table(spark, sf_dir, "embeddings").count())
    cent = e.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cvec"),
        F.col("enorm").alias("cnorm"),
    )

    cdenom = F.col("enorm") * F.col("cnorm")
    # -2.0 < min cosine: zero-norm rows fall to the lowest key on both
    # engines instead of hitting engine-specific NULL ordering
    ckey = F.coalesce(
        F.round(
            F.when(cdenom > 0, dot("embedding", "cvec") / cdenom).otherwise(
                F.lit(None).cast("double")
            ),
            9,
        ),
        F.lit(-2.0),
    )
    assigned = (
        e.join(F.broadcast(cent))
        .select("vec_id", "embedding", "enorm", "cent_id", ckey.alias("ckey"))
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("ckey"), (-F.col("cent_id")).alias("neg"), F.col("cent_id")
                )
            ).alias("b"),
            F.first("embedding").alias("embedding"),
            F.first("enorm").alias("enorm"),
        )
        .select("vec_id", "embedding", "enorm", F.col("b.cent_id").alias("cell"))
    )

    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("enorm").alias("qnorm"),
    )
    qdenom = F.col("qnorm") * F.col("cnorm")
    qkey = F.coalesce(
        F.round(
            F.when(qdenom > 0, dot("qvec", "cvec") / qdenom).otherwise(
                F.lit(None).cast("double")
            ),
            9,
        ),
        F.lit(-2.0),
    )
    wq = W.partitionBy("query_id").orderBy(F.col("qkey").desc(), "cent_id")
    probes = (
        q.join(F.broadcast(cent))
        .select("query_id", "qvec", "qnorm", "cent_id", qkey.alias("qkey"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= IVF_NPROBE)
        .select("query_id", "qvec", "qnorm", F.col("cent_id").alias("cell"))
    )

    denom = F.col("qnorm") * F.col("enorm")
    sim = F.when(denom > 0, dot("qvec", "embedding") / denom).otherwise(
        F.lit(None).cast("double")
    )
    pairs = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.coalesce(F.round(sim, 9), F.lit(-2.0)).alias("sim_key"),
            F.round(sim, 6).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim_key").desc(), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_TOPK)
        .select(
            "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
        )
    )


_SQL_COS_AB = """
list_sum(list_transform(list_zip({a}, {b}),
         z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
"""

ORACLE_IVF_ANN = f"""
WITH e AS (
  SELECT vec_id, embedding, {_SQL_L2.format(v="embedding")} AS enorm
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cent_id, embedding AS cvec, enorm AS cnorm
  FROM e WHERE vec_id < {_SQL_NLIST}
),
scored AS (
  SELECT e.vec_id, e.embedding, e.enorm, c.cent_id,
    COALESCE(ROUND(CASE WHEN e.enorm * c.cnorm > 0
      THEN {_SQL_COS_AB.format(a="e.embedding", b="c.cvec")} / (e.enorm * c.cnorm)
      END, 9), -2.0) AS ckey
  FROM e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, embedding, enorm, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ckey DESC, cent_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec, enorm AS qnorm
  FROM e WHERE vec_id % 100 = 0
),
probes AS (
  SELECT query_id, qvec, qnorm, cent_id AS cell FROM (
    SELECT q.query_id, q.qvec, q.qnorm, c.cent_id,
      row_number() OVER (PARTITION BY q.query_id ORDER BY
        COALESCE(ROUND(CASE WHEN q.qnorm * c.cnorm > 0
          THEN {_SQL_COS_AB.format(a="q.qvec", b="c.cvec")} / (q.qnorm * c.cnorm)
          END, 9), -2.0) DESC, c.cent_id) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {IVF_NPROBE}
),
pairs AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
    COALESCE(ROUND(CASE WHEN p.qnorm * e.enorm > 0
      THEN {_SQL_COS_AB.format(a="p.qvec", b="e.embedding")} / (p.qnorm * e.enorm)
      END, 9), -2.0) AS sim_key,
    ROUND(CASE WHEN p.qnorm * e.enorm > 0
      THEN {_SQL_COS_AB.format(a="p.qvec", b="e.embedding")} / (p.qnorm * e.enorm)
      END, 6) AS sim
  FROM probes p JOIN assigned e USING (cell)
  WHERE e.vec_id <> p.query_id
),
r AS (
  SELECT query_id, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY sim_key DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {IVF_TOPK}
"""


# ---------------------------------------------------------------------------
# SemDeDup (semantic dedup via embedding clusters; Abbas et al. 2023)
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.4
SEMDEDUP_PLANTED = 20


def semdedup_prune(
    spark: SparkSession, sf_dir: str, nlist: int | None = None
) -> DataFrame:
    """SemDeDup pruning decision per vector: cluster the corpus into
    ``nlist`` cells (seeded centroids, as :func:`ivf_ann`; √N-derived
    from the base table count via :func:`coarse_nlist` unless given),
    score
    within-cell pairs by cosine, and prune vector *i* iff some
    same-cell vector *j < i* has sim ≥ ``SEMDEDUP_TAU`` — exactly the
    upper-triangular-max rule of the reference SemDeDup
    implementation (prune where ``max_{j<i} sim(i,j) > eps``), made
    deterministic by the id order.

    The corpus is augmented with verbatim copies of ``vec_id <
    SEMDEDUP_PLANTED`` at ``vec_id + 100000`` so exact semantic
    duplicates (sim 1.0) are provably pruned alongside the organic
    near-threshold pairs.

    Scale shape: ONE broadcast pass assigns cells (max-struct hash
    aggregate, map-side partials); candidate scoring is an EQUI-join
    on the cell id, and nlist ∝ √N keeps cells ~√N-sized so total
    within-cell pair work is O(N^1.5), not corpus² (see DEPLOY.md);
    the prune decision is a per-vector MAX aggregate over candidate
    sims, never a collected matrix.  Recall contract: pruning only
    consults SAME-CELL priors, so cell granularity changes which
    near-threshold organic pairs are compared — but verbatim
    duplicates always share a cell (identical vectors score every
    centroid identically) and are always pruned, at any nlist.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "embedding"
    )
    planted = e.filter(F.col("vec_id") < SEMDEDUP_PLANTED).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = e.unionByName(planted).select(
        "vec_id", "embedding", l2_norm("embedding").alias("enorm")
    )
    if nlist is None:
        nlist = coarse_nlist(load_table(spark, sf_dir, "embeddings").count())
    cent = corpus.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cvec"),
        F.col("enorm").alias("cnorm"),
    )
    cdenom = F.col("enorm") * F.col("cnorm")
    ckey = F.coalesce(
        F.round(
            F.when(cdenom > 0, dot("embedding", "cvec") / cdenom).otherwise(
                F.lit(None).cast("double")
            ),
            9,
        ),
        F.lit(-2.0),
    )
    assigned = (
        corpus.join(F.broadcast(cent))
        .select("vec_id", "embedding", "enorm", "cent_id", ckey.alias("ckey"))
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("ckey"), (-F.col("cent_id")).alias("neg"), F.col("cent_id")
                )
            ).alias("b"),
            F.first("embedding").alias("embedding"),
            F.first("enorm").alias("enorm"),
        )
        .select("vec_id", "embedding", "enorm", F.col("b.cent_id").alias("cell"))
        .cache()
    )
    a = assigned.select(
        F.col("vec_id").alias("jd"),
        F.col("embedding").alias("v1"),
        F.col("enorm").alias("n1"),
        "cell",
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("v2"),
        F.col("enorm").alias("n2"),
        "cell",
    )
    denom = F.col("n1") * F.col("n2")
    sim = F.when(denom > 0, dot("v1", "v2") / denom).otherwise(
        F.lit(None).cast("double")
    )
    prior = (
        a.join(b, "cell")
        .filter(F.col("jd") < F.col("vec_id"))
        .select("vec_id", F.round(sim, 9).alias("sim9"))
        .groupBy("vec_id")
        .agg(F.max("sim9").alias("max_prior_sim9"))
    )
    return (
        assigned.join(prior, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.round(F.col("max_prior_sim9"), 6).alias("max_prior_sim"),
            F.when(F.col("max_prior_sim9") >= SEMDEDUP_TAU, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("pruned"),
        )
        .orderBy("vec_id")
    )


ORACLE_SEMDEDUP = f"""
WITH corpus AS MATERIALIZED (
  SELECT vec_id, embedding, {_SQL_L2.format(v="embedding")} AS enorm
  FROM (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS vec_id, embedding
    FROM embeddings WHERE vec_id < {SEMDEDUP_PLANTED}
  )
),
cent AS (
  SELECT vec_id AS cent_id, embedding AS cvec, enorm AS cnorm
  FROM corpus WHERE vec_id < {_SQL_NLIST}
),
scored AS (
  SELECT e.vec_id, e.embedding, e.enorm, c.cent_id,
    COALESCE(ROUND(CASE WHEN e.enorm * c.cnorm > 0
      THEN {_SQL_COS_AB.format(a="e.embedding", b="c.cvec")} / (e.enorm * c.cnorm)
      END, 9), -2.0) AS ckey
  FROM corpus e CROSS JOIN cent c
),
assigned AS MATERIALIZED (
  SELECT vec_id, embedding, enorm, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ckey DESC, cent_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
prior AS (
  SELECT b.vec_id, MAX(ROUND(CASE WHEN a.enorm * b.enorm > 0
      THEN {_SQL_COS_AB.format(a="a.embedding", b="b.embedding")} / (a.enorm * b.enorm)
      END, 9)) AS max_prior_sim9
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  GROUP BY b.vec_id
)
SELECT s.vec_id, CAST(s.cell AS BIGINT) AS cell,
  ROUND(p.max_prior_sim9, 6) AS max_prior_sim,
  CAST(CASE WHEN p.max_prior_sim9 >= {SEMDEDUP_TAU} THEN 1 ELSE 0 END AS BIGINT)
    AS pruned
FROM assigned s LEFT JOIN prior p ON s.vec_id = p.vec_id
ORDER BY s.vec_id
"""


# ---------------------------------------------------------------------------
# Exact Lloyd k-means (oracle-backed twin of kmeans_embeddings)
# ---------------------------------------------------------------------------


def kmeans_exact_lloyd(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Lloyd's k-means made CROSS-ENGINE EXACT, so the full iterative
    algorithm runs under the DuckDB differential gate (the plain
    ``kmeans_embeddings`` is rows-only: its float centroid means carry
    summation-order ulps).  Same init (k lowest vec_ids), same
    iteration count, same Spark shape (driver-literal centroids,
    scan-side codegen assignment, ONE hash aggregate per pass) — the
    determinism comes from three rules, each individually proven
    green elsewhere in the repo:

    * centroid means are ``round(cast(sum(decimal(38,10)) as double)
      / n, 6)`` — the ORACLE_CENTROIDS recipe (decimal sums are
      order-free, the division and 6-dp round are engine-stable);
    * distances are left-fold sums of ``(e-c)*(e-c)`` over dims in
      fixed order on BOTH engines (Spark's unrolled ``+`` chain ⟷
      DuckDB's sequential ``list_sum(list_transform(...))``, the
      pairing the sorted-fold queries already pin);
    * argmin tie-break toward the lower cluster id: Spark's
      lexicographic ``array_min`` over (distance, j) structs ⟷
      DuckDB's first-match ``list_position(dl, list_min(dl))``.

    Empty clusters keep their previous centroid (both twins).
    Inertia sums the per-vector min distance through decimal(38,10)
    before one final 4-dp round, so the reduce order can't leak in.
    """
    # cached across the Lloyd iterations: every pass scans the SAME
    # (vec_id, e) projection — without the cache each of the
    # iters+2 actions (init collect, per-iter stats, final inertia)
    # re-reads and re-casts the parquet (guide §5 caching: reused AND
    # recomputation-heavy).  Fixed-width DIM-double rows — tiny
    # relative to execution memory at any SF.
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        .cache()
    )
    cents = [list(r["e"]) for r in e.orderBy("vec_id").limit(k).collect()]
    if len(cents) < k:
        raise ValueError(
            f"kmeans_exact_lloyd needs at least k={k} vectors; "
            f"{sf_dir} has only {len(cents)}"
        )

    def best() -> Column:
        # one array<array<double>> centroid literal; per-centroid
        # distance is aggregate's left fold ``0.0 + t0*t0 + t1*t1 + …``
        # — the exact sequential order DuckDB's list_sum applies in the
        # oracle, and bit-identical to the previously-unrolled + chain
        # (same IEEE ops, same order; CORRECTNESS hash unchanged).
        # O(k) literals + O(1) lambdas replace O(k·DIM) codegen'd
        # arithmetic nodes: the unrolled form was plan-compile-bound
        # (~20 s flat at every SF).  The literal itself is ONE parsed
        # expression string — built element-wise it was k·DIM F.lit
        # py4j round trips per call (~8.4k of the query's 33k driver
        # calls; guide §7.3 driver-side work).  CAST(<repr> AS DOUBLE)
        # round-trips exactly: repr is the shortest string that parses
        # back to the same double, and both Python float() and Java
        # Double.parseDouble are correctly rounded.
        carr = F.expr(
            "array(%s)"
            % ",".join(
                "array(%s)"
                % ",".join(
                    f"CAST('{float(v)!r}' AS DOUBLE)" for v in c
                )
                for c in cents
            )
        )
        dists = F.transform(
            carr,
            lambda c: F.aggregate(
                F.zip_with(F.col("e"), c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
        )
        return F.array_min(
            F.zip_with(
                dists,
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda d, j: F.struct(d.alias("d"), j.alias("j")),
            )
        )

    # the per-iteration mean aggregate never references the centroids —
    # build its DIM agg Columns ONCE and reuse them every iteration
    # (unresolved Columns are immutable expression trees; rebuilding
    # them per pass was ~15k py4j round trips of pure driver latency)
    # each column is ONE parsed expression (the Column-API form was
    # ~70 py4j round trips per dimension); array subscript e[d] is
    # 0-based exactly like Column.getItem, count(1) ≡ count(lit(1))
    mean_cols = [
        F.expr(
            f"round(cast(sum(cast(e[{d}] as decimal(38,10))) as double)"
            f" / count(1), 6) AS c{d}"
        )
        for d in range(DIM)
    ]

    for _ in range(iters):
        assigned = e.select("e", best().getField("j").alias("cluster"))
        stats = assigned.groupBy("cluster").agg(*mean_cols).collect()
        by_cluster = {r["cluster"]: r for r in stats}
        cents = [
            [by_cluster[j][f"c{d}"] for d in range(DIM)]
            if j in by_cluster
            else cents[j]
            for j in range(k)
        ]

    return (
        e.select(best().alias("b"))
        .select(F.col("b.j").alias("cluster"), F.col("b.d").alias("d2"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("d2").cast("decimal(38,10)")).cast("double"), 4
            ).alias("inertia"),
        )
        .orderBy("cluster")
    )


def _km_dlist(cl: str) -> str:
    """DuckDB fragment: the k-vector of squared distances of ``e``
    against centroid-list-of-lists scalar ``cl`` — sequential fold in
    the same (j, then d) order as the Spark twin."""
    return (
        f"list_transform(range({KMEANS_K}), j -> "
        f"list_sum(list_transform(range({DIM}), d -> "
        f"(e[d+1] - {cl}[j+1][d+1]) * (e[d+1] - {cl}[j+1][d+1]))))"
    )


def _km_iteration(i: int) -> str:
    """CTE block for one Lloyd update: assign against c{i-1}, then
    decimal-exact 6-dp means; empty clusters inherit c{i-1}."""
    return f"""
a{i} AS (
  SELECT vec_id, e, list_position(dl, list_min(dl)) - 1 AS cluster
  FROM (SELECT vec_id, e, {_km_dlist(f"cl{i-1}.cl")} AS dl
        FROM emb CROSS JOIN cl{i-1})
),
s{i} AS (
  SELECT cluster, d,
    ROUND(CAST(SUM(CAST(e[d+1] AS DECIMAL(38,10))) AS DOUBLE)
          / COUNT(*), 6) AS m
  FROM a{i} CROSS JOIN (SELECT unnest(range({DIM})) AS d) t
  GROUP BY cluster, d
),
cm{i} AS (SELECT cluster AS j, list(m ORDER BY d) AS ce FROM s{i} GROUP BY cluster),
c{i} AS (
  SELECT p.j, COALESCE(n.ce, p.ce) AS ce
  FROM c{i-1} p LEFT JOIN cm{i} n ON p.j = n.j
),
cl{i} AS (SELECT list(ce ORDER BY j) AS cl FROM c{i})"""


ORACLE_KMEANS_EXACT = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, e AS ce
  FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT {KMEANS_K})
),
cl0 AS (SELECT list(ce ORDER BY j) AS cl FROM c0),
{",".join(_km_iteration(i + 1) for i in range(KMEANS_ITERS))},
final AS (
  SELECT vec_id, list_min(dl) AS d2,
         list_position(dl, list_min(dl)) - 1 AS cluster
  FROM (SELECT vec_id, {_km_dlist(f"cl{KMEANS_ITERS}.cl")} AS dl
        FROM emb CROSS JOIN cl{KMEANS_ITERS})
)
SELECT cluster, COUNT(*) AS n_vectors,
  ROUND(CAST(SUM(CAST(d2 AS DECIMAL(38,10))) AS DOUBLE), 4) AS inertia
FROM final
GROUP BY cluster
ORDER BY cluster
"""


# ---------------------------------------------------------------------------
# ANN recall evaluation: ivf_ann vs the exact top-k ground truth
# ---------------------------------------------------------------------------


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recall@k audit of :func:`ivf_ann` against the exact
    brute-force top-k for the SAME query sample — the eval every ANN
    deployment runs before trusting an index ("measure, don't guess"
    applied to the index itself).  One row per query (n_exact, n_hits,
    recall) plus an ``__overall`` row (query_id = -1) with the pooled
    recall.

    Both legs share the candidate-scoring keys bit-for-bit (9-dp
    rounded cosine, id tie-break), so a hit/miss is purely the index's
    probe choice, never float noise.  Scale shape: the IVF leg is
    :func:`ivf_ann` unchanged (cell-local, √N-derived NLIST); the
    exact leg is the quadratic-by-design ground-truth pass — run it on
    a query SAMPLE (here 1-in-100), which is exactly how production
    recall audits bound the cost; the comparison join is k·q rows.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "embedding", l2_norm("embedding").alias("enorm")
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("enorm").alias("qnorm"),
    )
    denom = F.col("qnorm") * F.col("enorm")
    sim = F.when(denom > 0, dot("qvec", "embedding") / denom).otherwise(
        F.lit(None).cast("double")
    )
    pairs = (
        e.join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.coalesce(F.round(sim, 9), F.lit(-2.0)).alias("sim_key"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim_key").desc(), "neighbor_id")
    exact = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_TOPK)
        .select("query_id", "neighbor_id")
    )

    approx = ivf_ann(spark, sf_dir).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))

    per_q = (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        )
    )
    overall = per_q.agg(
        F.sum("n_exact").cast("long").alias("n_exact"),
        F.sum("n_hits").cast("long").alias("n_hits"),
    ).select(F.lit(-1).cast("long").alias("query_id"), "n_exact", "n_hits")
    return (
        per_q.unionByName(overall)
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_exact").cast("double"), 6
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


ORACLE_ANN_RECALL = f"""
WITH ivf AS ({ORACLE_IVF_ANN}),
e2 AS (
  SELECT vec_id, embedding, {_SQL_L2.format(v="embedding")} AS enorm
  FROM embeddings
),
q2 AS (
  SELECT vec_id AS query_id, embedding AS qvec, enorm AS qnorm
  FROM e2 WHERE vec_id % 100 = 0
),
ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q2.query_id, e2.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q2.query_id ORDER BY
        COALESCE(ROUND(CASE WHEN q2.qnorm * e2.enorm > 0
          THEN {_SQL_COS_AB.format(a="q2.qvec", b="e2.embedding")} / (q2.qnorm * e2.enorm)
          END, 9), -2.0) DESC, e2.vec_id) AS rank
    FROM q2 CROSS JOIN e2
    WHERE e2.vec_id <> q2.query_id
  ) WHERE rank <= {IVF_TOPK}
),
per_q AS (
  SELECT ex.query_id,
    CAST(COUNT(*) AS BIGINT) AS n_exact,
    CAST(COALESCE(SUM(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_hits
  FROM ex LEFT JOIN ivf
    ON ivf.query_id = ex.query_id AND ivf.neighbor_id = ex.neighbor_id
  GROUP BY ex.query_id
),
allrows AS (
  SELECT query_id, n_exact, n_hits FROM per_q
  UNION ALL
  SELECT CAST(-1 AS BIGINT), CAST(SUM(n_exact) AS BIGINT),
         CAST(SUM(n_hits) AS BIGINT) FROM per_q
)
SELECT query_id, n_exact, n_hits,
  {_oracle_round6("CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE)")} AS recall
FROM allrows ORDER BY query_id
"""


# ---------------------------------------------------------------------------
# Filtered (label-partitioned) ANN top-k
# ---------------------------------------------------------------------------

FILTERED_TOPK = 3


def filtered_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: top-3 SAME-LABEL neighbors per query —
    the "vector search with a metadata predicate" shape every serving
    stack needs (recommendations within a category, dedup within a
    source).

    The label equality is an EQUI-join key, so candidate generation
    hash-partitions by label and each query only ever scores its own
    label's vectors — the predicate bounds the work, it is not a
    post-filter on a global top-k (which under-fills k whenever the
    global neighbors are cross-label).  At 100 TB add an IVF layer
    WITHIN each label (coarse_nlist on the label's count); the join
    shape is unchanged.

    Zero-norm vectors score NULL and are coalesced to a -2 sort key
    (below any real cosine) on BOTH engines — DuckDB sorts NULLs first
    on DESC, Spark last, so the sentinel keeps the rank order aligned.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "label", "embedding", l2_norm("embedding").alias("enorm")
    )
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qvec"),
        F.col("enorm").alias("qnorm"),
    )
    denom = F.col("qnorm") * F.col("enorm")
    sim = F.when(denom > 0, dot("qvec", "embedding") / denom).otherwise(
        F.lit(None).cast("double")
    )
    pairs = (
        e.join(q, (F.col("label") == F.col("qlabel")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("label").alias("query_label"),
            F.col("vec_id").alias("neighbor_id"),
            F.coalesce(F.round(sim, 9), F.lit(-2.0)).alias("sim_key"),
            F.round(sim, 6).alias("sim"),
        )
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(
            F.col("sim_key").desc(), "neighbor_id"
        )
    )
    return (
        pairs.withColumn("rank", rn)
        .filter(F.col("rank") <= FILTERED_TOPK)
        .select(
            "query_id",
            "query_label",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            "sim",
        )
        .orderBy("query_id", "rank")
    )


ORACLE_FILTERED_ANN = f"""
WITH pairs AS (
  SELECT a.vec_id AS query_id, a.label AS query_label,
    b.vec_id AS neighbor_id,
    -- _oracle_round, NOT native ROUND: a half-boundary cosine here
    -- flips the 9-dp rank key / 6-dp value (advice r7 item 3)
    COALESCE({_oracle_round(_SQL_COS, 9)}, -2.0) AS sim_key,
    {_oracle_round6(_SQL_COS)} AS sim
  FROM embeddings a JOIN embeddings b
    ON a.vec_id % 50 = 0 AND a.label = b.label AND b.vec_id <> a.vec_id
),
r AS (
  SELECT query_id, query_label, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY sim_key DESC, neighbor_id) AS rn
  FROM pairs
)
SELECT query_id, query_label, CAST(rn AS BIGINT) AS rank, neighbor_id, sim
FROM r WHERE rn <= {FILTERED_TOPK} ORDER BY query_id, rank
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    ann_bruteforce_topk: ORACLE_ANN_TOPK,
    # served as ann_topk_vectorized (see __spark_entry__._RENAMED)
    ann_topk_vectorized_500: ORACLE_ANN_TOPK_500,
    lsh_bucket_histogram: ORACLE_LSH_HIST,
    embedding_nearest_neighbor: ORACLE_NN,
    embedding_centroids: ORACLE_CENTROIDS,
    embedding_near_dup_pairs: ORACLE_NEAR_DUP,
    lsh_multiprobe_ann: ORACLE_MULTIPROBE_ANN,
    ivf_ann: ORACLE_IVF_ANN,
    embedding_quantize_int8: ORACLE_QUANTIZE,
    semdedup_prune: ORACLE_SEMDEDUP,
    kmeans_exact_lloyd: ORACLE_KMEANS_EXACT,
    ann_recall_eval: ORACLE_ANN_RECALL,
    filtered_ann_topk: ORACLE_FILTERED_ANN,
}
