"""Product quantization (PQ): compress embeddings to byte codes and
search them with asymmetric distance — the storage/IO half of an ANN
index that LSH (operators/similarity.py) and IVF (operators/ivf.py)
don't cover.

A 100 TB corpus of float32 embeddings is itself terabytes (4 bytes/dim/
row); PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
Search") stores 1 BYTE per subspace instead: split each vector into
``m`` contiguous subvectors, k-means each subspace to a 256-entry (here
``k``-entry) codebook, and keep only the per-subspace code ids — a
``dim·4 / m``-fold compression that lets the candidate scan read codes,
never raw vectors.

Search is ASYMMETRIC distance computation (ADC): the query stays exact;
per query, precompute an (m × k) lookup table of query-subvector ·
codeword inner products, then every database vector's approximate score
is just ``m`` table lookups summed — no float vector is read at scan
time. Exact re-ranking of the ADC top-k against raw vectors (stored
cold) is the standard follow-up; composes with IVF posting lists for
the full IVF-PQ pipeline.

Scale shape mirrors ivf.py: codebooks are trained DRIVER-SIDE on a
bounded sample (m small k-means fits over ≤10k rows — constant work at
any corpus size), broadcast as numpy constants into Arrow-batched UDFs
(one matmul per subspace per batch), and the encode/search passes are
embarrassingly parallel scans — zero shuffle until the final per-query
top-k window, which shuffles only (qid, nid, score) triples.

Vectors are L2-normalized before fit/encode, so the reconstructed inner
product approximates COSINE and ranks drop-in-compatibly with
similarity.cosine_topk / ivf.ivf_topk.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ivf import lloyd_kmeans


def pq_codebooks(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    max_train_rows: int = 10_000,
    seed: int = 42,
) -> np.ndarray:
    """(m, k, dim/m) per-subspace codebooks from a bounded sample.

    ``m`` must divide the embedding dimension. Each subspace gets an
    independent seeded k-means fit (seed offset by subspace index so the
    codebooks differ); training input is L2-normalized rows.
    """
    sample = df.select(F.col(vec_col)).limit(max_train_rows).collect()
    mat = np.array([r[0] for r in sample], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    mat = mat / np.where(norms == 0, 1.0, norms)
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide embedding dim={dim}")
    sub = dim // m
    return np.stack(
        [
            lloyd_kmeans(mat[:, j * sub : (j + 1) * sub], k, seed=seed + j)
            for j in range(m)
        ]
    )


def pq_encode(
    df: DataFrame, id_col: str, vec_col: str, codebooks: np.ndarray
) -> DataFrame:
    """(id, codes array<tinyint>) — each vector L2-normalized then
    quantized to its nearest codeword per subspace. One numpy matmul per
    (subspace, Arrow batch); the output row is ``m`` bytes."""
    books = np.ascontiguousarray(codebooks.astype(np.float64))
    m, _, sub = books.shape

    @F.pandas_udf("array<tinyint>")
    def _encode(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64, copy=False)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.where(norms == 0, 1.0, norms)
        codes = np.empty((mat.shape[0], m), dtype=np.int8)
        for j in range(m):
            seg = mat[:, j * sub : (j + 1) * sub]
            cb = books[j]
            # argmin ‖x−c‖² = argmin ‖c‖² − 2·x·c
            dist = (cb**2).sum(axis=1)[None, :] - 2.0 * (seg @ cb.T)
            codes[:, j] = np.argmin(dist, axis=1).astype(np.int8)
        return pd.Series(list(codes))

    return df.select(F.col(id_col), _encode(F.col(vec_col)).alias("codes"))


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k cosine via ADC over PQ codes.

    ``queries`` (small — collected and broadcast as the per-query LUT
    stack) stay exact; every (query, code-row) score is ``m`` LUT
    lookups summed inside one vectorized UDF. Output (qid, nid, score,
    rank) ranks like cosine_topk; ``score`` is the quantized cosine.
    """
    books = np.ascontiguousarray(codebooks.astype(np.float64))
    m, kk, sub = books.shape

    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    qids = np.array([r[0] for r in qrows])
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qnorms = np.linalg.norm(qmat, axis=1, keepdims=True)
    qmat = qmat / np.where(qnorms == 0, 1.0, qnorms)
    # (nq, m, k) inner-product lookup tables: query subvector · codeword
    luts = np.stack(
        [qmat[:, j * sub : (j + 1) * sub] @ books[j].T for j in range(m)],
        axis=1,
    )

    @F.pandas_udf("array<double>")
    def _adc(code_s: pd.Series) -> pd.Series:
        cmat = np.vstack(code_s.to_numpy()).astype(np.int64)  # (n, m)
        n = cmat.shape[0]
        scores = np.zeros((n, luts.shape[0]))
        for j in range(m):
            # luts[:, j, :][:, codes] gathers (nq, n); accumulate transposed
            scores += luts[:, j, cmat[:, j]].T
        return pd.Series(list(scores))

    scored = codes.select(
        F.col(id_col).alias("nid"), _adc(F.col("codes")).alias("__s")
    ).select(
        "nid",
        F.posexplode(F.col("__s")).alias("__qpos", "score"),
    )
    qmap = codes.sparkSession.createDataFrame(
        [(int(i), int(q)) for i, q in enumerate(qids)], "__qpos int, qid bigint"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("nid"))
    return (
        scored.join(F.broadcast(qmap), "__qpos")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.round(F.col("score"), 3).alias("score"), "rank")
    )
