"""Embedding similarity search over array<float> columns.

Brute-force cosine top-k is the honest 100 TB baseline: one broadcast of
the query set, one linear scan of the corpus, per-partition top-k via
window rank — no all-to-all shuffle, no global sort (the window
partitions by query id, so the sort is per-query and AQE-sized).

The scale path is LSH bucketing (random hyperplane signs) which prunes
the corpus scan to matching buckets before scoring.

The arithmetic stays JVM-side: dot product / norms via zip_with +
aggregate on the array column — no Python in the scoring loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def indexable_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop vectors no similarity index can hold: NULL, empty, any
    NULL/NaN/Inf component, or zero norm (cosine against a zero vector
    is 0/0 = NaN, which sorts ABOVE every real score in BOTH engines'
    descending order and so poisons top-k on hostile data; a NULL
    vector crashes driver-side centroid seeding outright). Applied at
    every similarity entry point; oracle queries mirror it with the
    same three-clause predicate (see _EMB_OK in __spark_entry__)."""
    v = F.col(vec_col)
    # ONE fold decides everything: sum(|x|) is NULL if any component
    # is NULL (sticky through +), NaN if any is NaN, Inf if any is
    # ±Inf, 0 for the zero vector — so a single pass replaces the
    # forall + transform + aggregate trio (measured ~2x on the ANN
    # index builds, which apply this at every entry point).
    abs_sum = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: acc + F.abs(x.cast("double")),
    )
    ok = (
        v.isNotNull()
        & (F.size(v) > 0)
        & abs_sum.isNotNull()
        & ~F.isnan(abs_sum)
        & (abs_sum != float("inf"))
        & (abs_sum > 0)
    )
    return df.filter(ok)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
) -> DataFrame:
    """Top-5 corpus neighbors per query by cosine similarity of the
    ``embedding`` columns.

    Broadcast the (small) query side; score in one corpus scan; rank
    with a per-query window. Returns (query_id, corpus_id, rank, score).
    Self-matches (same id) are excluded when the id columns share a name
    space.
    """
    q = F.broadcast(
        indexable_vectors(queries, "embedding").select(
            F.col(query_id).alias("_qid"), F.col("embedding").alias("_qvec")
        )
    )
    c = indexable_vectors(corpus, "embedding").select(
        F.col(corpus_id).alias("_cid"), F.col("embedding").alias("_cvec")
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("_qid") != F.col("_cid"))
        .select(
            "_qid",
            "_cid",
            cosine(F.col("_qvec"), F.col("_cvec")).alias("_score"),
        )
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("_qid").alias(query_id if query_id != corpus_id else "query_id"),
            F.col("_cid").alias("neighbor_id"),
            "rank",
            F.round(F.col("_score"), 6).alias("score"),
        )
    )


def deterministic_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Hyperplanes with md5-derived components in [-1, 1) — stable
    across runs/machines (no RNG state), so LSH bucket assignments are
    reproducible and testable."""
    import hashlib

    planes = []
    for i in range(n_planes):
        row = []
        for j in range(dim):
            h = int.from_bytes(
                hashlib.md5(f"0:{i}:{j}".encode()).digest()[:8], "big"
            )
            row.append(h / float(2**63) - 1.0)
        planes.append(row)
    return planes


def unit_normalize_with_norm(vec: Column, n: Column) -> Column:
    """unit_normalize against a MATERIALIZED norm column. The norm must
    not be an inline fold: an expression closed over by the per-element
    lambda re-evaluates per element, turning normalization into
    O(dims^2) per row (the l2 fold runs once per output element)."""
    return F.transform(
        vec, lambda x: F.when(n > 0, x.cast("double") / n).otherwise(F.lit(0.0))
    )


def unit_normalize(vec: Column) -> Column:
    """Scale to unit L2 norm (zero vectors stay zero), as array<double>.
    Normalizing ONCE per row turns every later cosine into a plain dot
    product — the decisive rewrite for pairwise workloads, where naive
    cosine recomputes both norms per PAIR instead of per row.

    Single-expression convenience: the closed-over norm re-evaluates
    per element (O(dims^2) per row). Fine for small frames; hot paths
    project l2_norm into a column first and use
    unit_normalize_with_norm."""
    return unit_normalize_with_norm(vec, l2_norm(vec))


def np_unit_normalize(vec: Column) -> Column:
    """Arrow-vectorized unit_normalize (zero vectors stay zero): one
    numpy pass per batch. Use on hot non-oracle paths (IVF training);
    the Catalyst `unit_normalize` stays on oracle-checked queries where
    summation order must match DuckDB bit-for-bit. The UDF is built per
    call (pandas_udf needs an active session, so no module-level
    decorator)."""

    @F.pandas_udf("array<double>")
    def _norm(s: pd.Series) -> pd.Series:
        M = np.vstack(s.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        return pd.Series(list(M / norms))

    return _norm(vec)


def cosine_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks: the
    self-join key is ``block_col`` (a label, a coarse cluster id, or an
    LSH bucket from hyperplane_lsh_buckets), so pair generation is
    bounded per block instead of corpus². Vectors are unit-normalized
    once per row before the join (cosine = dot thereafter), and the
    normalized projection is spread across the cluster so the pair
    scoring parallelizes regardless of source splits. Returns
    (id_a, id_b, cos_sim >= 0.999)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    normed = (
        indexable_vectors(df, vec_col).select(
            F.col(block_col).alias("_blk"),
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
        )
        # norm in its own projection BELOW the exchange: the shuffle is
        # a CollapseProject barrier, so the fold cannot be re-inlined
        # into the per-element lambda (see unit_normalize_with_norm)
        .select("_blk", "_id", "_v", l2_norm(F.col("_v")).alias("_n"))
        .repartition(n, F.col("_id"))
        .select(
            "_blk",
            "_id",
            unit_normalize_with_norm(F.col("_v"), F.col("_n")).alias("_u"),
        )
    )
    # Subquery aliases of one identical plan -> the normalize projection
    # and its exchange are built once (ReusedExchange on the other join
    # side), so the corpus is scanned and unit-normalized ONCE.
    a, b = normed.alias("a"), normed.alias("b")
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(dot(F.col("a._u"), F.col("b._u")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.999)
    )


def hyperplane_lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
) -> DataFrame:
    """Random-hyperplane LSH: bucket = bit-vector of sign(v·p) for each
    plane p. Vectors with high cosine land in the same bucket with high
    probability; candidate search then joins on bucket instead of
    scanning the full corpus. Planes are driver-generated constants
    (broadcast as literals)."""
    df = indexable_vectors(df, vec_col)
    bucket = sum(
        (
            F.when(dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in p])) >= 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            * F.lit(1 << i)
        )
        for i, p in enumerate(planes)
    )
    return df.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def sample_centroids(
    df: DataFrame, id_col: str, vec_col: str, n_cells: int
) -> list[list[float]]:
    """Deterministic IVF seed centroids: the vectors of the `n_cells`
    smallest ids, unit-normalized. Driver-side data is exactly n_cells
    vectors — bounded and tiny; the corpus itself never moves."""
    rows = (
        indexable_vectors(df, vec_col)
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy("_id")
        .limit(n_cells)  # TakeOrderedAndProject on the raw vectors...
        .select(unit_normalize(F.col("_v")).alias("_u"))  # ...then normalize only n_cells rows
        .collect()
    )
    return [list(r["_u"]) for r in rows]


def lloyd_refine(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> list[list[float]]:
    """One distributed Lloyd iteration: assign each vector to its
    nearest centroid, then recompute centroids as per-cell dimension
    means. The heavy work (assignment + per-dimension partial means) is
    a posexplode + hash aggregate on the cluster; only the k×dim
    aggregated means reach the driver."""
    assigned = ivf_assign(df, vec_col, centroids).select(
        "cell", np_unit_normalize(F.col(vec_col)).alias("_u")
    )
    means = (
        assigned.select("cell", F.posexplode("_u").alias("dim", "x"))
        .groupBy("cell", "dim")
        .agg(F.avg("x").alias("m"))
        .collect()
    )
    out = [list(c) for c in centroids]  # keep empty cells' seeds
    by_cell: dict[int, dict[int, float]] = {}
    for r in means:
        by_cell.setdefault(r["cell"], {})[r["dim"]] = r["m"]
    for cell, dims in by_cell.items():
        out[cell] = [dims[d] for d in sorted(dims)]
    return out


def centroid_scores_udf(centroids: list[list[float]]):
    """Arrow-vectorized centroid scoring: dot(unit(v), c) for every
    centroid c, as ONE numpy matmul per Arrow batch.

    Why a Pandas UDF here and not Catalyst expressions: scoring k
    centroids with `aggregate`/`zip_with` higher-order functions is
    interpreted per element (~100us per 64-dim dot measured on
    local[32]); k inlined dots made IVF ~40x slower than brute force on
    2k rows, and even a single `transform` over a folded
    array<array<double>> literal stayed ~10x slower than BLAS. Dense
    linear algebra is exactly the carve-out where Arrow-batched numpy
    beats built-ins — (batch x dim) @ (dim x k) per batch, no per-row
    Python. Centroids ride into the closure (driver-serialized, tiny —
    the broadcast-literal equivalent)."""
    C = np.asarray(centroids, dtype=np.float64).T  # dim x k

    @F.pandas_udf("array<double>")
    def scores(s: pd.Series) -> pd.Series:
        M = np.vstack(s.to_numpy()).astype(np.float64)  # n x dim
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        S = (M / norms) @ C  # n x k
        return pd.Series(list(S))

    return scores


def ivf_assign(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """Attach the nearest-centroid cell id (argmax of dot with the
    unit-normalized centroid constants — cosine order on any input
    scale). One scan, no shuffle: scores come from the Arrow matmul
    kernel; the 16-element argmax stays a cheap JVM expression."""
    scores = centroid_scores_udf(centroids)
    return (
        indexable_vectors(df, vec_col)
        .withColumn("_ivf_s", scores(F.col(vec_col)))
        .withColumn(
            "cell",
            (
                F.array_position(F.col("_ivf_s"), F.array_max(F.col("_ivf_s"))).cast(
                    "int"
                )
                - 1
            ),
        )
        .drop("_ivf_s")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    centroids: list[list[float]],
) -> DataFrame:
    """IVF ANN top-3 over the ``embedding`` columns: the corpus is
    partitioned into centroid cells; each query probes its 3 nearest
    cells and scores exact cosine only inside them. The cell equi-join
    replaces the cross join — with C cells and balanced assignment the
    scan cost drops to ~3/C of
    brute force, the same play as lsh_cosine_topk but with
    data-dependent (centroid) rather than data-oblivious (hyperplane)
    partitions. Recall < 1.0 by construction."""
    corpus_cells = ivf_assign(
        corpus.select(F.col(corpus_id).alias("_cid"), F.col("embedding").alias("_cvec")),
        "_cvec",
        centroids,
    )
    probe_cells = F.slice(
        F.reverse(F.array_sort(
            F.transform(
                F.col("_qs"),
                lambda s, i: F.struct(s.alias("s"), i.alias("cell")),
            )
        )),
        1,
        3,
    )
    qscores = centroid_scores_udf(centroids)
    probes = (
        indexable_vectors(queries, "embedding")
        .select(F.col(query_id).alias("_qid"), F.col("embedding").alias("_qvec"))
        .withColumn("_qs", qscores(F.col("_qvec")))
        .select("_qid", "_qvec", F.explode(probe_cells).alias("_p"))
        .select("_qid", "_qvec", F.col("_p.cell").alias("cell"))
    )
    scored = (
        corpus_cells.join(F.broadcast(probes), "cell")
        .filter(F.col("_qid") != F.col("_cid"))
        .select("_qid", "_cid", cosine(F.col("_qvec"), F.col("_cvec")).alias("_score"))
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_cid").alias("neighbor_id"),
            "rank",
            F.round(F.col("_score"), 6).alias("score"),
        )
    )


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    planes: list[list[float]],
) -> DataFrame:
    """Bucketed ANN top-3 over the ``embedding`` columns: equi-join on
    LSH bucket, then exact cosine rank within candidates. Recall < 1.0 by construction; the bucket join
    replaces the cross join, which is the 100 TB play."""
    qb = hyperplane_lsh_buckets(queries, query_id, "embedding", planes).select(
        F.col(query_id).alias("_qid"), F.col("embedding").alias("_qvec"), "bucket"
    )
    cb = hyperplane_lsh_buckets(corpus, corpus_id, "embedding", planes).select(
        F.col(corpus_id).alias("_cid"), F.col("embedding").alias("_cvec"), "bucket"
    )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("_qid") != F.col("_cid"))
        .select("_qid", "_cid", cosine(F.col("_qvec"), F.col("_cvec")).alias("_score"))
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_cid").alias("neighbor_id"),
            "rank",
            F.round(F.col("_score"), 6).alias("score"),
        )
    )


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    label_col: str,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-2 most-similar corpus ``embedding`` vectors with a DIFFERENT label — the
    negatives that sit closest to the decision boundary and carry the
    most gradient signal. Same broadcast-queries / one-corpus-scan /
    per-query-window shape as cosine_topk (the documented exact
    baseline; the LSH/IVF indexes are the 100 TB candidate-generation
    path — run this scoring over their candidates instead of the full
    corpus). Returns (query_id, neighbor_id, neighbor_label, rank,
    score)."""
    q = F.broadcast(
        indexable_vectors(queries, "embedding").select(
            F.col(query_id).alias("_qid"),
            F.col(label_col).alias("_qlabel"),
            F.col("embedding").alias("_qvec"),
        )
    )
    c = indexable_vectors(corpus, "embedding").select(
        F.col(corpus_id).alias("_cid"),
        F.col(label_col).alias("_clabel"),
        F.col("embedding").alias("_cvec"),
    )
    scored = (
        c.crossJoin(q)
        .filter(
            (F.col("_qid") != F.col("_cid"))
            & (F.col("_qlabel") != F.col("_clabel"))
        )
        .select(
            "_qid",
            "_cid",
            "_clabel",
            cosine(F.col("_qvec"), F.col("_cvec")).alias("_score"),
        )
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_score").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_cid").alias("neighbor_id"),
            F.col("_clabel").alias("neighbor_label"),
            "rank",
            F.round(F.col("_score"), 6).alias("score"),
        )
    )
