"""Similarity search over embedding columns (array<float>).

The scale path mirrors the engine's LSH design (and the reference's
locality-sensitive placement, ``Sketching/LSSFingerprintAtomic.java:
474-498,628-636``: similar values → same bucket): random-hyperplane SimHash
buckets the corpus so candidate generation is an equi-join, with brute-force
cosine as the exact baseline/verifier (the shadow-map pattern).

Plan shape at 100 TB: the query set is small → ``F.broadcast`` (no shuffle
of the corpus); dot products run JVM-side via higher-order array functions
(``zip_with`` + ``aggregate``) inside whole-stage codegen — no Python in the
brute-force path.  The LSH variant computes sign-bit fingerprints in one
Arrow-batched numpy matmul per batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing as H


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    queries is broadcast (small side); the corpus streams through one
    codegen'd stage — scan → crossJoin(broadcast) → project(dot) → window
    top-k.  Self-matches are excluded.  Ties break by neighbor id (asc) so
    results are deterministic at any parallelism.
    """
    c = corpus.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).alias("nbr_vec"),
        _norm(F.col(vec_col)).alias("nbr_norm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("nbr_id") != F.col("query_id"))
        .select(
            "query_id",
            "nbr_id",
            F.round(
                _dot(F.col("q_vec"), F.col("nbr_vec"))
                / (F.col("q_norm") * F.col("nbr_norm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    n_bits: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id1 < id2, cosine ≥ threshold).

    ``block_col`` is the blocking key for the self-join (at 100 TB an
    all-pairs cross join is impossible).  With the default ``None`` the
    scale-safe path is taken automatically: docs are blocked on their
    :func:`hyperplane_buckets` SimHash bucket (cosine-similar vectors share
    buckets with probability ``(1 − θ/π)^n_bits``) — pass a dataset shard/
    label column only when one exists and exact within-block recall is
    wanted.
    """
    if block_col is None:
        buckets = hyperplane_buckets(
            corpus, dim=None, n_bits=n_bits, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
        corpus = corpus.join(
            buckets.withColumnRenamed("vec_id", id_col), id_col
        )
        block_col = "bucket"
    base = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
        F.col(block_col).alias("blk"),
    )
    a = base.select(
        F.col("vid").alias("id1"), F.col("vec").alias("v1"),
        F.col("nrm").alias("n1"), "blk",
    )
    b = base.select(
        F.col("vid").alias("id2"), F.col("vec").alias("v2"),
        F.col("nrm").alias("n2"), "blk",
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.round(
                _dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# LSH-bucketed approximate path (random hyperplanes → sign-bit fingerprint)
# ---------------------------------------------------------------------------

_HYPERPLANE_SCHEMA = "vec_id long, bucket long"

_SM_MASK = (1 << 64) - 1
_SM_GAMMA = 0x9E3779B97F4B7C15
_SM_M1 = 0xBF58476D1CE4E5B9
_SM_M2 = 0x94D049BB133111EB


def _sm64(x: int) -> int:
    z = (x + _SM_GAMMA) & _SM_MASK
    z = ((z ^ (z >> 30)) * _SM_M1) & _SM_MASK
    z = ((z ^ (z >> 27)) * _SM_M2) & _SM_MASK
    return z ^ (z >> 31)


def _make_planes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    """Deterministic dim×n_bits hyperplane matrix from the splitmix64
    family (the engine's pinned hash family, SURVEY §4.2 item 3) via
    Box-Muller — NO library RNG, so a plain-python oracle can replicate
    every entry bit-for-bit (both sides call CPython ``math`` on identical
    doubles).  Entry (i, j) uses counter ``idx = i*n_bits + j``."""
    import math

    out = np.empty((dim, n_bits), dtype=np.float64)
    for i in range(dim):
        for j in range(n_bits):
            idx = i * n_bits + j
            h1 = _sm64((2 * idx + seed * _SM_GAMMA) & _SM_MASK)
            h2 = _sm64((2 * idx + 1 + seed * _SM_GAMMA) & _SM_MASK)
            u1 = (h1 >> 11) * 2.0**-53
            u2 = (h2 >> 11) * 2.0**-53
            out[i, j] = math.sqrt(-2.0 * math.log(1.0 - u1)) * math.cos(
                2.0 * math.pi * u2
            )
    return out


def _hyperplane_fn(dim: int | None, n_bits: int, seed: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # deterministic hyperplanes from the pinned seed; dim=None defers
        # plane construction to the first batch — planes depend only on
        # (dim, n_bits, seed), so every partition builds the same matrix
        planes = None
        weights = (np.uint64(1) << np.arange(n_bits, dtype=np.uint64)).astype(
            np.uint64
        )
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if planes is None:
                planes = _make_planes(
                    mat.shape[1] if dim is None else dim, n_bits, seed
                )
            bits = (mat @ planes) > 0
            buckets = (bits.astype(np.uint64) * weights[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "bucket": H.u64_to_i64(buckets.astype(np.uint64)),
                }
            )

    return fn


def hyperplane_buckets(
    corpus: DataFrame,
    dim: int | None = None,
    n_bits: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, bucket): sign-bit fingerprint under ``n_bits`` deterministic
    random hyperplanes — one Arrow-batched matmul per batch; cosine-similar
    vectors share buckets with probability (1 − θ/π)^n_bits."""
    from ..session import ensure_min_partitions

    pruned = ensure_min_partitions(
        corpus.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        )
    )
    return pruned.mapInPandas(_hyperplane_fn(dim, n_bits, seed), _HYPERPLANE_SCHEMA)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    n_bits: int = 16,
    seed: int = 42,
    checkpoint_dir: str | None = None,
) -> dict[str, DataFrame]:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    paper): embedding-cosine near-dup graph → connected components →
    keep-one representative per cluster.

    Completes the engine's tiered dedup ladder (exact md5 → MinHash
    Jaccard → SimHash Hamming → long-substring → *semantic*) with the same
    generate-then-verify shape as the text spine (reference pattern:
    locality-sensitive placement then exact disambiguation,
    ``Sketching/LSSFingerprintAtomic.java:474-498`` +
    ``:317-360``) — here the "sketch" is the hyperplane sign-bit bucket
    and the "exact shadow" is the codegen'd cosine on the bucket-joined
    candidates.

    Plan shape at 100 TB: with ``block_col=None`` candidates come from
    :func:`hyperplane_buckets` (one Arrow matmul pass, then a salt-free
    equi-join on ``bucket`` — bucket population is ~n/2^n_bits, tune
    ``n_bits`` up as the corpus grows); the CC runs on the pair graph only
    (near-dup edges, ≪ corpus size).  No stage ever shuffles the embedding
    vectors twice: pairs carry ids + cosine only.

    Returns ``{"pairs", "assignments", "keep", "stats"}``:

    - ``pairs``: (id1, id2, cosine) near-dup edges (cosine ≥ threshold)
    - ``assignments``: (vec_id, cluster_id, keep) — every corpus row;
      ``cluster_id`` is the min reachable id (CC min-label invariant), so
      ``keep = (vec_id == cluster_id)`` marks the representative
    - ``keep``: the surviving corpus rows (one per cluster), original schema
    - ``stats``: (cluster_id, size) for size ≥ 2 clusters (the dup mass)
    """
    from .cluster import connected_components

    pairs = embedding_near_dup_pairs(
        corpus, threshold=threshold, id_col=id_col, vec_col=vec_col,
        block_col=block_col, n_bits=n_bits, seed=seed,
    )
    vertices = corpus.select(F.col(id_col).cast("long").alias("doc_id"))
    cc = connected_components(
        vertices, pairs.select("id1", "id2"), checkpoint_dir=checkpoint_dir
    )
    assignments = cc.select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )
    keep = corpus.join(
        assignments.filter("keep").select(F.col("vec_id").alias(id_col)),
        id_col,
        "left_semi",
    )
    stats = (
        assignments.groupBy("cluster_id")
        .agg(F.count("*").alias("size"))
        .filter(F.col("size") >= 2)
    )
    return {
        "pairs": pairs,
        "assignments": assignments,
        "keep": keep,
        "stats": stats,
    }


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_bits: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane bucket, then exact
    cosine re-rank (generate-then-verify, like the dedup pipeline)."""
    cb = hyperplane_buckets(corpus, dim, n_bits, seed, id_col, vec_col)
    qb = hyperplane_buckets(queries, dim, n_bits, seed, id_col, vec_col)
    c = corpus.select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nbr_vec"),
        _norm(F.col(vec_col)).alias("nbr_norm"),
    ).join(cb.withColumnRenamed("vec_id", "nbr_id"), "nbr_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    ).join(qb.withColumnRenamed("vec_id", "query_id"), "query_id")
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("nbr_id") != F.col("query_id"))
        .select(
            "query_id",
            "nbr_id",
            F.round(
                _dot(F.col("q_vec"), F.col("nbr_vec"))
                / (F.col("q_norm") * F.col("nbr_norm")),
                6,
            ).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )
