"""IVF ANN tests: determinism, posting-list shape, recall vs exact."""

from __future__ import annotations

import pytest

import numpy as np
from pyspark.sql import functions as F

from legislative_bills_database_spark.operators.ivf import (
    ivf_assignments,
    ivf_centroids,
    ivf_recall,
    ivf_topk,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_centroids_deterministic_shape(spark):
    emb = _emb(spark)
    c1 = ivf_centroids(emb, "embedding", k=8)
    c2 = ivf_centroids(emb, "embedding", k=8)
    assert c1.shape == (8, 64)
    assert np.allclose(c1, c2)  # fixed seed + bounded limit → stable


def test_assignments_cover_all_vectors(spark):
    emb = _emb(spark)
    cents = ivf_centroids(emb, "embedding", k=8)
    a1 = ivf_assignments(emb, "vec_id", "embedding", cents, nprobe=1)
    assert a1.count() == emb.count()  # exactly one posting list each
    a2 = ivf_assignments(emb, "vec_id", "embedding", cents, nprobe=3)
    assert a2.count() == emb.count() * 3
    assert a2.agg(F.max("centroid")).collect()[0][0] <= 7


def test_ivf_topk_recall(spark):
    """nprobe=2 over 8 centroids must recover most exact top-5 pairs on
    the planted-cluster fixture; the number is printed for the logs."""
    emb = _emb(spark)
    cents = ivf_centroids(emb, "embedding", k=8)
    queries = emb.filter(F.col("vec_id") < 20)
    out = ivf_topk(emb, queries, "vec_id", "embedding", cents, nprobe=2, k=5)
    assert out.groupBy("qid").count().agg(F.max("count")).collect()[0][0] <= 5
    recall = ivf_recall(emb, queries, "vec_id", "embedding", cents, nprobe=2, k=5)
    print(f"ivf_recall@top5 nprobe=2: {recall:.3f}")
    assert recall >= 0.5


@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_ivf_recall_sweep_matches_per_point(spark):
    """r15: ivf_recall_sweep shares one exact pass + one scored
    candidate frame across all nprobe points — its values must be
    IDENTICAL to per-point ivf_recall (nested-prefix equivalence), and
    monotone non-decreasing in nprobe (nested posting lists)."""
    from legislative_bills_database_spark.operators.ivf import (
        ivf_recall_sweep,
    )

    emb = _emb(spark)
    cents = ivf_centroids(emb, "embedding", k=8)
    queries = emb.filter(F.col("vec_id") < 20)
    nprobes = [1, 2, 4]
    swept = ivf_recall_sweep(
        emb, queries, "vec_id", "embedding", cents, nprobes=nprobes, k=5
    )
    assert [n for n, _ in swept] == nprobes
    for n, r in swept:
        solo = ivf_recall(
            emb, queries, "vec_id", "embedding", cents, nprobe=n, k=5
        )
        assert r == solo, (n, r, solo)
    vals = [r for _, r in swept]
    assert vals == sorted(vals)  # monotone in nprobe


def test_ivf_recall_sweep_parity_tiny(spark):
    """Fast-lane pin of the same sweep == per-point equality on a tiny
    input (the full-fixture pin above runs in the slow lane); the sweep
    releases both of its eager checkpoints."""
    from legislative_bills_database_spark.operators.ivf import (
        ivf_recall_sweep,
    )

    emb = _emb(spark).filter(F.col("vec_id") < 120)
    cents = ivf_centroids(emb, "embedding", k=4)
    queries = emb.filter(F.col("vec_id") < 6)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    swept = ivf_recall_sweep(
        emb, queries, "vec_id", "embedding", cents, nprobes=[1, 3], k=3
    )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert [n for n, _ in swept] == [1, 3]
    for n, r in swept:
        assert r == ivf_recall(
            emb, queries, "vec_id", "embedding", cents, nprobe=n, k=3
        ), n
