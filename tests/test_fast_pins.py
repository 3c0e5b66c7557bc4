"""Default-lane parity pins for queries whose full-fixture checks run in
the ``slow`` lane only: each runs the declared query on a tiny copy of
the fixture tables and checks it against an independent computation
(the DuckDB oracle, numpy, or the per-point path the query replaced)."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from legislative_bills_database_spark.io import load_table
from legislative_bills_database_spark.operators.ivf import ivf_recall, ivf_topk
from legislative_bills_database_spark.operators.kmeans import lloyd_kmeans
from legislative_bills_database_spark.operators.similarity import lsh_bucketed_pairs
from legislative_bills_database_spark.plans import ORACLE, QUERIES
from legislative_bills_database_spark.session import memo
from tests.oracle_util import compare

N_VECTORS = 160  # >= the 128 codewords q_pq_topk fits per subspace
N_ORDERS = 150


@pytest.fixture(scope="module")
def tiny(tmp_path_factory) -> str:
    """The sf0.001 fixture with orders/lineitem below order key N_ORDERS
    and the first N_VECTORS embeddings."""
    out = tmp_path_factory.mktemp("tiny_sf")
    keep = {
        "orders": ("o_orderkey", N_ORDERS),
        "lineitem": ("l_orderkey", N_ORDERS),
        "embeddings": ("vec_id", N_VECTORS),
    }
    for path in Path(SF_DIR).glob("*.parquet"):
        table = pq.read_table(path)
        if path.stem in keep:
            col, below = keep[path.stem]
            table = table.filter(pc.less(table[col], below))
        pq.write_table(table, out / path.name)
    suppliers = set(pq.read_table(out / "lineitem.parquet")["l_suppkey"].to_pylist())
    assert {1, 2, 3, 4} <= suppliers  # q_harmonic_centrality's landmark seeds
    return str(out)


def _vectors(tiny: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(f"{tiny}/embeddings.parquet").sort_by("vec_id")
    ids = t["vec_id"].to_numpy()
    mat = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    return ids, mat


def _unit(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.where(norms == 0, 1.0, norms)


def _topk(scores: np.ndarray, ids: np.ndarray, qids, k: int = 5) -> dict:
    """{(qid, nid): rank} of each query's k best scores, ties to the
    smaller id, the query itself excluded; scores is (n, n_queries)."""
    out = {}
    for qpos, qid in enumerate(qids):
        order = sorted((n for n in range(len(ids)) if ids[n] != qid),
                       key=lambda n: (-scores[n, qpos], ids[n]))
        out.update({(int(qid), int(ids[n])): r + 1 for r, n in enumerate(order[:k])})
    return out


def _no_build():
    raise AssertionError("the query should have built this memo entry")


def test_harmonic_centrality_matches_oracle_tiny(spark, tiny):
    name = "q_harmonic_centrality"
    assert compare(QUERIES[name](spark, tiny), ORACLE[name], tiny) == []


def test_pq_topk_matches_numpy_adc_tiny(spark, tiny):
    got = QUERIES["q_pq_topk"](spark, tiny).collect()
    books = memo(spark, tiny, ("pq_codebooks", "full", 16, 128), _no_build)
    ids, mat = _vectors(tiny)
    x = _unit(mat)
    m, _, sub = books.shape
    codes = np.stack([
        np.argmin((books[j] ** 2).sum(axis=1)[None, :] - 2.0 * (x[:, j * sub:(j + 1) * sub] @ books[j].T), axis=1)
        for j in range(m)
    ], axis=1)
    qpos = np.flatnonzero(ids < 10)
    scores = np.zeros((len(ids), len(qpos)))
    for j in range(m):
        lut = x[qpos, j * sub:(j + 1) * sub] @ books[j].T  # (n_queries, k)
        scores += lut[:, codes[:, j]].T
    want = _topk(scores, ids, ids[qpos])
    assert {(r.qid, r.nid): r.rank for r in got} == want
    row = {int(i): n for n, i in enumerate(ids)}
    col = {int(ids[p]): c for c, p in enumerate(qpos)}
    for r in got:
        assert abs(r.score - scores[row[r.nid], col[r.qid]]) <= 5e-4 + 1e-12


def _hit_row(method: str, exact: set, approx: set) -> tuple:
    hit = len(exact & approx)
    return (method, len(exact), hit, round(hit / max(len(exact), 1), 3))


def test_pq_recall_matches_recount_tiny(spark, tiny):
    from legislative_bills_database_spark.operators.quantize import pq_adc_topk, pq_encode

    (row,) = QUERIES["q_pq_recall"](spark, tiny).collect()
    books = memo(spark, tiny, ("pq_codebooks", "lt500", 16, 128), _no_build)
    ids, mat = _vectors(tiny)
    x = _unit(mat)
    qpos = np.flatnonzero(ids < 10)
    exact = set(_topk(x @ x[qpos].T, ids, ids[qpos]))
    emb = load_table(spark, tiny, "embeddings")
    approx = pq_adc_topk(pq_encode(emb, "vec_id", "embedding", books),
                         emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", books, k=5)
    assert tuple(row) == _hit_row("pq_adc_topk", exact, {(r.qid, r.nid) for r in approx.collect()})


def test_ann_recall_matches_recount_tiny(spark, tiny):
    rows = {r.method: tuple(r) for r in QUERIES["q_ann_recall"](spark, tiny).collect()}
    ids, mat = _vectors(tiny)
    x = _unit(mat)
    cos = x @ x.T
    exact_pairs = {(int(ids[a]), int(ids[b])) for a, b in zip(*np.nonzero(np.triu(cos >= 0.4, 1)))}
    emb = load_table(spark, tiny, "embeddings")
    lsh = lsh_bucketed_pairs(emb, "vec_id", "embedding", dim=64, n_planes=4, n_tables=16,
                             min_cosine=0.4, bucket_cap=1000)
    assert rows["lsh_pairs"] == _hit_row("lsh_pairs", exact_pairs, {(r.id_a, r.id_b) for r in lsh.collect()})

    cents = memo(spark, tiny, ("ivf_centroids", "lt500", 8), _no_build)
    qpos = np.flatnonzero(ids < 10)
    exact_topk = set(_topk(x @ x[qpos].T, ids, ids[qpos]))
    approx = ivf_topk(emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", cents, nprobe=4, k=5)
    assert rows["ivf_topk"] == _hit_row("ivf_topk", exact_topk, {(r.qid, r.nid) for r in approx.collect()})


def test_ivf_sweep_matches_per_point_recall_tiny(spark, tiny):
    got = [tuple(r) for r in QUERIES["q_ivf_sweep"](spark, tiny).collect()]
    cents = memo(spark, tiny, ("ivf_centroids", "lt500", 16), _no_build)
    emb = load_table(spark, tiny, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    want = [(n, round(ivf_recall(emb, queries, "vec_id", "embedding", cents, nprobe=n, k=5), 4))
            for n in (1, 2, 4)]
    assert got == want


def test_kmeans_clusters_match_numpy_lloyd_tiny(spark, tiny):
    got = [tuple(r) for r in QUERIES["q_kmeans_clusters"](spark, tiny).collect()]
    emb = load_table(spark, tiny, "embeddings")
    _, _, iters = lloyd_kmeans(emb, k=8, max_iter=8, seed=42)
    # the operator's seed-stable init: the k rows of smallest xxhash64(id, seed)
    h = dict(emb.select("vec_id", F.xxhash64("vec_id", F.lit(42))).collect())
    ids, x = _vectors(tiny)
    cents = x[sorted(range(len(ids)), key=lambda i: h[int(ids[i])])[:8]]
    for _ in range(iters):
        assign = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        cents = np.array([x[assign == j].mean(axis=0) if (assign == j).any() else cents[j]
                          for j in range(8)])
    sqd = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = sqd.argmin(axis=1)
    want = {j: (int((assign == j).sum()), float(sqd.min(axis=1)[assign == j].sum()))
            for j in range(8) if (assign == j).any()}
    assert {c: n for c, n, _ in got} == {j: n for j, (n, _) in want.items()}
    for c, _, inertia in got:
        assert abs(inertia - want[c][1]) <= 1e-4
