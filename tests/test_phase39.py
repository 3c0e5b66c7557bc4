"""Phase-39 (cluster-quality metrics) invariants + plan pins."""

from __future__ import annotations

from legislative_bills_database_spark.plans import QUERIES
from legislative_bills_database_spark.plans.clustering_queries import (
    _KM_K,
    _SIL_N,
)

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_silhouette_bounds_and_grain(spark):
    rows = QUERIES["q_silhouette"](spark, SF_DIR).collect()
    assert len(rows) == _SIL_N
    for r in rows:
        assert -1.0 <= r["sil"] <= 1.0
        assert 0 <= r["cid"] < _KM_K
    # a real partition produces both well- and poorly-separated points
    assert any(r["sil"] > 0 for r in rows)
    assert any(r["sil"] < 0 for r in rows) or min(
        r["sil"] for r in rows
    ) < 0.5


def test_silhouette_agrees_with_kmeans_assignment(spark):
    """The cid on each silhouette row must be the certified k-means
    assignment (both derive from c_{R-1} via _km_assign)."""
    sil = {
        r["vec_id"]: r["cid"]
        for r in QUERIES["q_silhouette"](spark, SF_DIR).collect()
    }
    km = QUERIES["q_kmeans_exact"](spark, SF_DIR).collect()
    sizes = {r["cid"]: r["n_members"] for r in km}
    assert set(sil.values()) <= set(sizes)


def test_cluster_scatter_structure(spark):
    rows = QUERIES["q_cluster_scatter"](spark, SF_DIR).collect()
    assert len(rows) == _KM_K
    km_sizes = {
        r["cid"]: r["n_members"]
        for r in QUERIES["q_kmeans_exact"](spark, SF_DIR).collect()
    }
    for r in rows:
        assert r["scatter"] > 0
        assert r["db_component"] > 0
        assert r["n_members"] == km_sizes[r["cid"]]


def test_km_fit_is_memoized(spark):
    from legislative_bills_database_spark.plans.clustering_queries import _km_fit

    a = _km_fit(spark, SF_DIR)
    b = _km_fit(spark, SF_DIR)
    assert a is b  # second call is the cached object, no re-fit


def test_silhouette_sample_side_bounded(spark):
    """The all-pairs half must be the bounded sample: the pair join's
    build side carries the assignment broadcast, and no cartesian."""
    plan = _plan(spark, "q_silhouette")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_cluster_scatter_broadcasts_centroids(spark):
    plan = _plan(spark, "q_cluster_scatter")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
