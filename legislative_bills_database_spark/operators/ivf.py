"""IVF (inverted-file) approximate nearest neighbors.

The second ANN scale path beside hyperplane LSH
(operators/similarity.py): partition the vector space with k-means
centroids, assign every vector to its nearest centroid's posting list,
and search only the ``nprobe`` nearest lists per query.

Scale story: centroids are TRAINED ON A BOUNDED SAMPLE (driver-side
k-means over ≤ ``max_train_rows`` vectors — the standard IVF recipe; at
100 TB you never cluster the full corpus) and then BROADCAST as a numpy
constant inside one Arrow-batched assignment UDF, so indexing is one
linear pass, searching shuffles only on centroid id, and the quadratic
work is confined to (query × posting-list) within a bucket. Recall is
tunable with ``nprobe``; measure with :func:`ivf_recall`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, l2_norm
from ..session import release_checkpoint


def ivf_centroids(
    df: DataFrame,
    vec_col: str,
    k: int = 16,
    max_train_rows: int = 10_000,
    seed: int = 42,
    max_iter: int = 8,
) -> np.ndarray:
    """(k, dim) k-means centroids trained on a bounded sample.

    ``max_train_rows`` caps the training set (limit, not full-scan sample,
    so the bound is strict): the standard IVF recipe — at 100 TB you never
    cluster the full corpus, and a 10k-point sample fits in driver memory
    (10k × 64 doubles ≈ 5 MB), so the fit is ONE bounded collect plus a
    seeded numpy Lloyd's loop (k-means++ init). This replaces a
    pyspark.ml KMeans fit that launched a dozen distributed jobs to
    cluster 5 MB of data — same semantics, deterministic for a given
    input, ~10× less fit latency. Posting-list quality saturates after a
    few iterations; bucketing needs approximate centroids, not converged
    ones.
    """
    sample = df.select(F.col(vec_col)).limit(max_train_rows).collect()
    mat = np.array([r[0] for r in sample], dtype=np.float64)
    return lloyd_kmeans(mat, k, seed=seed, max_iter=max_iter)


def lloyd_kmeans(
    mat: np.ndarray, k: int, seed: int = 42, max_iter: int = 8
) -> np.ndarray:
    """Seeded numpy Lloyd's k-means with k-means++ init over an
    in-memory (n, dim) sample — the shared bounded-fit kernel behind the
    IVF coarse quantizer and the PQ subspace codebooks
    (operators/quantize.py). Deterministic for a given (mat, k, seed)."""
    rng = np.random.default_rng(seed)

    # k-means++ seeding: spread initial centroids by squared-distance
    cents = [mat[rng.integers(len(mat))]]
    for _ in range(k - 1):
        d2 = np.min(
            ((mat[:, None, :] - np.array(cents)[None, :, :]) ** 2).sum(axis=2),
            axis=1,
        )
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        cents.append(mat[rng.choice(len(mat), p=probs)])
    cents = np.array(cents)

    for _ in range(max_iter):
        # assign: argmin ‖v−c‖² = argmin ‖c‖² − 2·v·c
        dist = (cents**2).sum(axis=1)[None, :] - 2.0 * (mat @ cents.T)
        assign = np.argmin(dist, axis=1)
        new = np.array(
            [
                mat[assign == j].mean(axis=0) if (assign == j).any() else cents[j]
                for j in range(k)
            ]
        )
        if np.allclose(new, cents):
            break
        cents = new
    return cents


def ivf_assignments(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    nprobe: int = 1,
) -> DataFrame:
    """(id, centroid) posting-list assignments: the ``nprobe`` nearest
    centroids by L2 distance, via one numpy matmul per Arrow batch
    (same vectorization rationale as lsh_bucket_assignments)."""
    cents = np.ascontiguousarray(centroids.astype(np.float64))
    cent_sq = (cents**2).sum(axis=1)  # ‖c‖² term of ‖v−c‖²
    nprobe = min(nprobe, len(cents))

    @F.pandas_udf("array<int>")
    def _nearest(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64, copy=False)
        # argmin ‖v−c‖² = argmin ‖c‖² − 2·v·c  (‖v‖² constant per row)
        dist = cent_sq[None, :] - 2.0 * (mat @ cents.T)
        idx = np.argsort(dist, axis=1)[:, :nprobe]
        return pd.Series(list(idx.astype(np.int32)))

    return df.select(
        F.col(id_col), F.explode(_nearest(F.col(vec_col))).alias("centroid")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k cosine neighbors: queries probe their ``nprobe``
    nearest posting lists; exact cosine + window top-k within the probed
    lists only. Output schema matches similarity.cosine_topk
    (qid, nid, cosine, rank) so the exact/IVF paths are drop-in swaps."""
    v_assign = ivf_assignments(vectors, id_col, vec_col, centroids, nprobe=1)
    q_assign = ivf_assignments(queries, id_col, vec_col, centroids, nprobe=nprobe)
    v = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        l2_norm(F.col(vec_col)).alias("__nn"),
    ).join(v_assign.select(F.col(id_col).alias("nid"), "centroid"), "nid")
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    ).join(q_assign.select(F.col(id_col).alias("qid"), "centroid"), "qid")
    scored = (
        F.broadcast(q)
        .join(v, "centroid")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn(
            "cos", dot(F.col("qv"), F.col("nv")) / (F.col("__qn") * F.col("__nn"))
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.round(F.col("cos"), 3).alias("cosine"), "rank")
    )


def ivf_recall(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    nprobe: int = 2,
    k: int = 5,
) -> float:
    """Fraction of the exact top-k neighbor pairs the IVF search recovers
    (run on bounded inputs — the exact side is brute force)."""
    from .similarity import cosine_topk

    exact = cosine_topk(vectors, queries, id_col, vec_col, k=k).select("qid", "nid")
    approx = ivf_topk(
        vectors, queries, id_col, vec_col, centroids, nprobe=nprobe, k=k
    ).select("qid", "nid")
    n_exact = exact.count()
    if n_exact == 0:
        return 1.0
    return exact.join(approx, ["qid", "nid"], "left_semi").count() / n_exact


def ivf_recall_sweep(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    nprobes: list[int],
    k: int = 5,
) -> list[tuple[int, float]]:
    """Recall@k for SEVERAL nprobe values from ONE shared set of frames
    — the r15 optimization of the q_ivf_sweep shape (guide §2.3 shared
    subplans). Per-point :func:`ivf_recall` recomputed the brute-force
    exact side TWICE per call (its count and semi-join are separate
    actions over a lazy frame) and re-assigned every vector to its
    posting list per call — 6 exact-side executions and 3 assignment
    passes for a 3-point sweep. Here:

    - the exact top-k pair set is computed ONCE and eager-checkpointed
      (≤ |queries|·k rows);
    - vector posting assignments (nprobe=1) run ONCE;
    - query probes run ONCE at max(nprobes) with their probe RANK kept
      (``posexplode`` of the argsort order), because probed posting
      lists are NESTED: the nprobe=n probe set is exactly the
      rank ≤ n prefix of the max-nprobe argsort — same permutation,
      same prefix — so every sweep point filters the same scored
      candidate frame instead of rebuilding it;
    - all sweep points then resolve in ONE job: union the rank-prefix
      subsets labeled by nprobe, one window top-k per (nprobe, qid),
      one semi-join against the exact pairs, one grouped count.

    Returns [(nprobe, recall)] in input order — values IDENTICAL to
    per-point ivf_recall (pinned in tests/test_ivf.py)."""
    from .similarity import cosine_topk

    cents = np.ascontiguousarray(centroids.astype(np.float64))
    cent_sq = (cents**2).sum(axis=1)
    max_np = min(max(nprobes), len(cents))

    exact = (
        cosine_topk(vectors, queries, id_col, vec_col, k=k)
        .select("qid", "nid")
        .localCheckpoint(eager=True)
    )
    n_exact = exact.count()
    if n_exact == 0:
        release_checkpoint(exact)
        return [(int(n), 1.0) for n in nprobes]

    @F.pandas_udf("array<int>")
    def _nearest_ranked(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64, copy=False)
        dist = cent_sq[None, :] - 2.0 * (mat @ cents.T)
        idx = np.argsort(dist, axis=1)[:, :max_np]
        return pd.Series(list(idx.astype(np.int32)))

    q_assign = queries.select(
        F.col(id_col).alias("qid"),
        F.posexplode(_nearest_ranked(F.col(vec_col))).alias(
            "probe_pos", "centroid"
        ),
    )
    v_assign = ivf_assignments(
        vectors, id_col, vec_col, centroids, nprobe=1
    )
    v = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        l2_norm(F.col(vec_col)).alias("__nn"),
    ).join(v_assign.select(F.col(id_col).alias("nid"), "centroid"), "nid")
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    ).join(q_assign, "qid")
    scored = (
        F.broadcast(q)
        .join(v, "centroid")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            "probe_pos",
            (
                dot(F.col("qv"), F.col("nv"))
                / (F.col("__qn") * F.col("__nn"))
            ).alias("cos"),
        )
        # EAGER: one consumer per sweep point (the r14 multi-consumer
        # checkpoint rule); the frame is candidate-pair-grain, bounded
        # by |queries| × probed posting lists
        .localCheckpoint(eager=True)
    )
    labeled = None
    for n in nprobes:
        part = scored.filter(F.col("probe_pos") < int(n)).withColumn(
            "np", F.lit(int(n))
        )
        labeled = part if labeled is None else labeled.unionByName(part)
    w = Window.partitionBy("np", "qid").orderBy(F.desc("cos"), F.asc("nid"))
    topk = (
        labeled.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("np", "qid", "nid")
    )
    hits = {
        r["np"]: r["h"]
        for r in topk.join(exact, ["qid", "nid"], "left_semi")
        .groupBy("np")
        .agg(F.count(F.lit(1)).alias("h"))
        .collect()
    }
    release_checkpoint(exact)
    release_checkpoint(scored)
    return [(int(n), hits.get(n, 0) / n_exact) for n in nprobes]
