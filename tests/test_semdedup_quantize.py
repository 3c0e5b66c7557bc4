"""Unit tests for semantic dedup (SemDeDup) and product quantization.

SemDeDup must agree with a per-cluster brute-force reference and honor
its invariants (drops witnessed by a lower id in the same cluster, no
cross-cluster drops). PQ must round-trip codes with bounded error and
rank close to exact cosine.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from legislative_bills_database_spark.io import load_table
from legislative_bills_database_spark.operators.ivf import (
    ivf_assignments,
    ivf_centroids,
)
from legislative_bills_database_spark.operators.quantize import (
    pq_adc_topk,
    pq_codebooks,
    pq_encode,
)
from legislative_bills_database_spark.operators.semdedup import (
    semdedup,
    semdedup_drops,
)

SF_DIR = "/root/testdata/sf0.001"
THRESH = 0.35  # planted near-dups in the fixture live at cos 0.3-0.5


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def test_semdedup_matches_per_cluster_brute_force(spark):
    emb = _emb(spark)
    cents = ivf_centroids(emb, "embedding", k=8)
    assign = {
        r["vec_id"]: r["centroid"]
        for r in ivf_assignments(
            emb, "vec_id", "embedding", cents, nprobe=1
        ).collect()
    }
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}

    def cos(a, b):
        return float(
            vecs[a] @ vecs[b]
            / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
        )

    expect_drops = {}
    for vid in sorted(vecs):
        witnesses = [
            w
            for w in sorted(vecs)
            if w < vid and assign[w] == assign[vid] and cos(vid, w) >= THRESH
        ]
        if witnesses:
            expect_drops[vid] = min(witnesses)

    got = {
        r["vec_id"]: r["witness"]
        for r in semdedup_drops(
            emb, "vec_id", "embedding", cents, threshold=THRESH
        ).collect()
    }
    assert got == expect_drops
    assert len(expect_drops) > 0  # the fixture must actually exercise drops

    kept = {
        r["vec_id"]
        for r in semdedup(
            emb, "vec_id", "embedding", cents, threshold=THRESH
        ).collect()
    }
    assert kept == set(vecs) - set(expect_drops)


def test_semdedup_cluster_cap_raises_on_degenerate_clustering(spark):
    emb = _emb(spark)
    cents = ivf_centroids(emb, "embedding", k=2)
    with pytest.raises(Exception, match="cluster_cap"):
        semdedup_drops(
            emb, "vec_id", "embedding", cents, threshold=0.9, cluster_cap=10
        ).collect()


def test_pq_encode_shape_and_determinism(spark):
    emb = _emb(spark)
    books = pq_codebooks(emb, "embedding", m=16, k=128)
    assert books.shape == (16, 128, 4)  # 64-dim fixture → 16 subspaces of 4
    codes = pq_encode(emb, "vec_id", "embedding", books)
    rows = codes.collect()
    assert all(len(r["codes"]) == 16 for r in rows)
    assert all(0 <= c < 128 for r in rows for c in r["codes"])
    again = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert {r["vec_id"]: r["codes"] for r in rows} == again


def test_pq_adc_scores_approximate_cosine(spark):
    emb = _emb(spark)
    books = pq_codebooks(emb, "embedding", m=16, k=128)
    codes = pq_encode(emb, "vec_id", "embedding", books)
    queries = emb.filter(F.col("vec_id") < 3)
    approx = pq_adc_topk(
        codes, queries, "vec_id", "embedding", books, k=5
    ).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    for r in approx:
        q, n = vecs[r["qid"]], vecs[r["nid"]]
        exact = float(q @ n / (np.linalg.norm(q) * np.linalg.norm(n)))
        assert abs(r["score"] - exact) < 0.25  # quantized, but in the ballpark
