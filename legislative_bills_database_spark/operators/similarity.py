"""Similarity search over embedding columns.

Brute-force cosine top-k is the correctness baseline; banded multi-table
random-hyperplane LSH is the scale path (candidates only meet inside a
bucket, so the join is linear-ish in data size instead of quadratic).
Hyperplanes are generated from a fixed seed so results are fully
deterministic. Cosine verification stays in JVM expressions; the bulk
signature projection is the one place a vectorized pandas UDF beats the
expression tree (see lsh_bucket_assignments for the measurement).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, l2_norm


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is expected to be small (it is broadcast); vectors can be
    arbitrarily large — the plan is scan + broadcast-nested-loop +
    per-query window top-k, no shuffle of the big side beyond the window.
    Deterministic tie-break: (cosine desc, neighbor id asc).
    """
    # per-side norms precomputed: each of the |q|×|n| pairs costs one dot
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            l2_norm(vec_col).alias("__qn"),
        )
    )
    n = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        l2_norm(vec_col).alias("__nn"),
    )
    scored = (
        q.join(n, F.col("qid") != F.col("nid"))
        .withColumn(
            "cos",
            dot("qv", "nv") / (F.col("__qn") * F.col("__nn")),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", F.round(F.col("cos"), 3).alias("cosine"), "rank")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic signed hyperplanes for LSH signatures (fixed seed)."""
    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_planes, dim))]


def lsh_bucket_assignments(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = 42,
) -> DataFrame:
    """(id, table, bucket) assignments for banded multi-table hyperplane LSH.

    Each of ``n_tables`` independent tables hashes the vector with its own
    ``n_planes`` hyperplanes (2^n_planes buckets per table). More planes →
    smaller buckets (less quadratic work); more tables → higher recall.
    Rule of thumb: n_planes ≈ log2(n_rows / target_bucket_size), so at
    100 TB you raise n_planes, not the bucket cap.

    All n_tables×n_planes projections are ONE Arrow-batched pandas UDF
    doing a single numpy matmul per batch. This is the deliberate
    exception to the builtins-only rule: the expression form (per table
    a sum of ``when(dot(vec, plane_i) > 0, 1 << i)`` bits) builds an
    O(n_tables·n_planes·dim)-literal tree that blows past JIT method
    limits — measured ~5 s of planning alone at 64 planes — while the
    matmul is O(1) expression nodes and vectorized end to end.
    """
    planes = np.vstack(
        [random_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    )  # (n_tables*n_planes, dim)
    weights = np.ascontiguousarray(planes.T)  # (dim, n_tables*n_planes)
    pows = (1 << np.arange(n_planes, dtype=np.int64))  # bit i of table sig

    @F.pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64, copy=False)
        bits = (mat @ weights) > 0  # (n, n_tables*n_planes)
        sigs = bits.reshape(len(mat), n_tables, n_planes) @ pows  # (n, n_tables)
        return pd.Series(list(sigs))

    return df.select(
        F.col(id_col), F.posexplode(_buckets(F.col(vec_col)))
    ).select(
        F.col(id_col),
        F.col("pos").alias("table"),
        F.col("col").alias("bucket"),
    )


def lsh_bucketed_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 8,
    min_cosine: float = 0.4,
    bucket_cap: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """Scale-path near-neighbor pairs: banded multi-table hyperplane LSH.

    At 100 TB the all-pairs join is impossible. This computes ``n_tables``
    independent bucket assignments, drops buckets larger than
    ``bucket_cap`` (hot buckets are low-information directions; dropping
    them bounds the intra-bucket quadratic work — the documented recall
    tradeoff), joins candidate IDs only (slim shuffle payload: the vectors
    do NOT travel through the bucket join), dedups candidate pairs across
    tables, then verifies each surviving pair with one exact cosine via two
    id-joins back to the vectors.

    Recall < 1.0 by construction; measure it with :func:`lsh_recall` on a
    bounded sample. Raise ``n_tables`` for recall, ``n_planes`` for scale.
    """
    assign = lsh_bucket_assignments(df, id_col, vec_col, dim, n_planes, n_tables, seed)
    if bucket_cap is not None:
        w = Window.partitionBy("table", "bucket")
        assign = (
            assign.withColumn("__bn", F.count("*").over(w))
            .filter(F.col("__bn") <= bucket_cap)
            .drop("__bn")
        )
    a, b = assign.alias("a"), assign.alias("b")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("__na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("__nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos", dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))
        )
        .filter(F.col("cos") >= min_cosine)
        .select("id_a", "id_b", F.round(F.col("cos"), 3).alias("cosine"))
    )


def lsh_recall(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    min_cosine: float = 0.4,
    **lsh_kwargs,
) -> float:
    """Recall of :func:`lsh_bucketed_pairs` vs the exact all-pairs answer.

    Run on a BOUNDED sample only (the exact side is O(n²)). Returns
    |lsh ∩ exact| / |exact| (1.0 when there are no exact pairs).
    """
    from .dedup import embedding_neardup_pairs

    exact = embedding_neardup_pairs(
        df, id_col, vec_col, min_cosine=min_cosine
    ).select("id_a", "id_b")
    approx = lsh_bucketed_pairs(
        df, id_col, vec_col, dim, min_cosine=min_cosine, **lsh_kwargs
    ).select("id_a", "id_b")
    n_exact = exact.count()
    if n_exact == 0:
        return 1.0
    n_hit = exact.join(approx, ["id_a", "id_b"], "left_semi").count()
    return n_hit / n_exact


def knn_label_accuracy(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    holdout_mod: int = 10,
) -> DataFrame:
    """Leave-slice-out k-NN label classification accuracy — the
    embedding-quality health check of a training-data pipeline, as ONE
    driver-hashable row (n_queries, n_correct, accuracy).

    Rows with ``id % holdout_mod == 0`` are queries, the rest the index.
    Prediction = majority label of the k nearest by cosine (ties:
    neighbor id asc for ranking, smaller label for votes).

    Scale shape: the query slice is 1/holdout_mod of the data and
    BROADCAST (in production the probe set is a fixed small sample); the
    index side streams through one broadcast-nested-loop scoring pass +
    a per-query top-k window on qid — index never shuffles beyond the
    window's slim (qid, nid, label, cos) rows.
    """
    q = F.broadcast(
        emb.filter(F.col(id_col) % holdout_mod == 0).select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.col(label_col).alias("qlabel"),
            l2_norm(F.col(vec_col)).alias("__qn"),
        )
    )
    n = emb.filter(F.col(id_col) % holdout_mod != 0).select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        F.col(label_col).alias("nlabel"),
        l2_norm(F.col(vec_col)).alias("__nn"),
    )
    cos = dot("qv", "nv") / (F.col("__qn") * F.col("__nn"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    top = (
        q.join(n, F.lit(True))
        .withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )
    votes = top.groupBy("qid", "qlabel", "nlabel").agg(
        F.count("*").alias("c")
    )
    vw = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("nlabel"))
    pred = (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select("qid", "qlabel", F.col("nlabel").alias("plabel"))
    )
    correct = F.sum((F.col("plabel") == F.col("qlabel")).cast("bigint"))
    return pred.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        correct.alias("n_correct"),
        (correct.cast("double") / F.count("*")).alias("accuracy"),
    )


def sql_knn_label_accuracy(k: int = 5, holdout_mod: int = 10) -> str:
    """DuckDB twin of :func:`knn_label_accuracy` over ``embeddings``."""
    from ..functions.vectors import sql_cosine

    cos = sql_cosine("q.qv", "n.nv")
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv, label AS qlabel
  FROM embeddings WHERE vec_id % {holdout_mod} = 0
), n AS (
  SELECT vec_id AS nid, embedding AS nv, label AS nlabel
  FROM embeddings WHERE vec_id % {holdout_mod} <> 0
), top AS (
  SELECT qid, qlabel, nlabel,
         row_number() OVER (PARTITION BY qid
              ORDER BY {cos} DESC, nid ASC) AS rnk
  FROM q CROSS JOIN n
  QUALIFY rnk <= {k}
), votes AS (
  SELECT qid, qlabel, nlabel, count(*) AS c
  FROM top GROUP BY qid, qlabel, nlabel
), pred AS (
  SELECT qid, qlabel, nlabel AS plabel,
         row_number() OVER (PARTITION BY qid
              ORDER BY c DESC, nlabel ASC) AS vr
  FROM votes QUALIFY vr = 1
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(sum(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS accuracy
FROM pred
"""
