"""Unit tests for the analytics batch: gap-fill/LOCF, EWMA, inverted
index + phrase search, char entropy, PageRank.

Each operator is pinned against an independent implementation (pandas
ewm, numpy power iteration, hand-computed fixtures) — the oracle-parity
sweep covers the SQL-expressible cases, these pin the semantics."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from legislative_bills_database_spark.operators.graph import pagerank
from legislative_bills_database_spark.operators.index import (
    inverted_index,
    phrase_search,
)
from legislative_bills_database_spark.operators.timeseries import (
    ewma_last,
    gap_fill_daily,
)
from legislative_bills_database_spark.session import clear_memos


def _ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def test_gap_fill_dense_grid_and_locf(spark):
    events = spark.createDataFrame(
        [
            (1, _ts(1), 10.0),
            (1, _ts(1, 6), 5.0),   # same day, summed
            (1, _ts(4), 2.0),      # 2-day gap → Jan 2, 3 filled
            (2, _ts(2), 7.0),      # single-day key → 1-row grid
        ],
        "user_id int, ts timestamp, value double",
    )
    out = gap_fill_daily(events).orderBy("user_id", "day").collect()
    got = [(r.user_id, str(r.day), r.daily_value, r.filled_value, r.observed) for r in out]
    assert got == [
        (1, "2024-01-01", 15.0, 15.0, True),
        (1, "2024-01-02", None, 15.0, False),
        (1, "2024-01-03", None, 15.0, False),
        (1, "2024-01-04", 2.0, 2.0, True),
        (2, "2024-01-02", 7.0, 7.0, True),
    ]


def test_ewma_matches_pandas_adjust_false(spark):
    rows = [(1, _ts(1, h), h, float(v)) for h, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6])]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int, value double")
    got = ewma_last(df, alpha=0.3).collect()[0]
    want = (
        pd.Series([3, 1, 4, 1, 5, 9, 2, 6], dtype="float64")
        .ewm(alpha=0.3, adjust=False)
        .mean()
        .iloc[-1]
    )
    assert got.n_obs == 8
    assert got.ewma == pytest.approx(round(want, 4), abs=1e-4)


def test_ewma_tie_break_is_deterministic(spark):
    # two events at the SAME timestamp: event_id must break the tie
    df = spark.createDataFrame(
        [(1, _ts(1), 1, 100.0), (1, _ts(1), 2, 0.0)],
        "user_id int, ts timestamp, event_id int, value double",
    )
    got = ewma_last(df, alpha=0.5).collect()[0]
    assert got.ewma == pytest.approx(50.0)  # 100 then 0: 0.5*100 + 0.5*0


DOCS = [
    (1, "the quick brown fox"),
    (2, "the quick  brown dog"),  # double space → empty token dropped
    (3, "quick the brown fox jumps"),
    (4, "dog"),
]


def test_inverted_index_stats(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = {r.term: r for r in inverted_index(docs, min_doc_count=2).collect()}
    assert set(idx) == {"the", "quick", "brown", "fox", "dog"}
    assert (idx["the"].doc_count, idx["the"].total_tf) == (3, 3)
    assert (idx["fox"].min_doc, idx["fox"].max_doc) == (1, 3)
    assert idx["dog"].doc_count == 2


def test_phrase_search_exact_adjacency(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    # 'quick brown' adjacent in 1; in 2 an empty token sits between
    # (raw-split positions count it); 3 has them non-adjacent reversed
    hits = {r.doc_id: r.n_matches for r in phrase_search(docs, "quick brown").collect()}
    assert hits == {1: 1}
    # three-term phrase chains two positional joins
    hits3 = {r.doc_id for r in phrase_search(docs, "the quick brown").collect()}
    assert hits3 == {1}
    with pytest.raises(ValueError):
        phrase_search(docs, "   ")


def _np_pagerank(edge_list, nodes, n_iter=10, d=0.85):
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edge_list:
        out_deg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dangling = r[out_deg == 0].sum()
        nxt = np.full(n, (1 - d) / n + d * dangling / n)
        for s, t in edge_list:
            nxt[idx[t]] += d * r[idx[s]] / out_deg[idx[s]]
        r = nxt
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_matches_numpy(spark):
    # graph with a dangling node (d) and a cycle; parallel edge a->b twice
    edges_py = [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]
    nodes = ["a", "b", "c", "d"]
    edges = spark.createDataFrame(edges_py, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(edges, n_iter=10).collect()}
    want = _np_pagerank(edges_py, nodes)
    assert set(got) == set(nodes)
    for n_ in nodes:
        assert got[n_] == pytest.approx(want[n_], rel=1e-9), n_
    assert math.fsum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_triangle_count_hand_built(spark):
    from legislative_bills_database_spark.operators.graph import triangle_count

    # K4 minus one edge: nodes 1-4, edges 12,13,14,23,24 → triangles
    # {1,2,3} and {1,2,4}; duplicate + reversed edges must not change it
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (1, 4), (3, 2), (2, 4), (2, 4)],
        "src long, dst long",
    )
    row = triangle_count(edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 5, 2)


def test_triangle_count_no_triangles(spark):
    from legislative_bills_database_spark.operators.graph import triangle_count

    # a path graph and a self-loop (must be dropped)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 2)], "src long, dst long"
    )
    row = triangle_count(edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 3, 0)


def test_triangle_count_matches_bruteforce_random(spark):
    """Degree-ordered orientation returns the exact count: pinned against
    an itertools brute force on a seeded random graph."""
    import itertools
    import random

    from legislative_bills_database_spark.operators.graph import triangle_count

    rng = random.Random(7)
    n = 60
    edge_set = {
        (a, b)
        for a, b in itertools.combinations(range(n), 2)
        if rng.random() < 0.15
    }
    adj = {v: set() for v in range(n)}
    for a, b in edge_set:
        adj[a].add(b)
        adj[b].add(a)
    want = sum(
        1
        for a, b, c in itertools.combinations(range(n), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_set], "src long, dst long"
    )
    row = triangle_count(edges).collect()[0]
    assert row.n_triangles == want
    assert row.n_edges == len(edge_set)


def test_triangle_orientation_bounds_hub_fanout(spark):
    """Power-law probe: a LOW-id hub joined to every leaf. Id-ordering
    would orient all hub edges outward (wedge fan-out C(n_leaves, 2) ≈
    1.1M pairs from one node); (deg, id)-ordering orients every hub edge
    INWARD, so the hub emits zero wedges and the whole count stays
    linear. Count equality is pinned alongside the fan-out bound."""
    from pyspark.sql import functions as F

    from legislative_bills_database_spark.operators.graph import (
        _orient_by_degree,
        triangle_count,
    )

    n_leaves = 1500
    star = [(0, i) for i in range(1, n_leaves + 1)]
    # leaf-leaf edges close triangles THROUGH the hub: (1,2)→{0,1,2},
    # (3,4)→{0,3,4}, and the {5,6,7} clique closes {5,6,7} itself plus
    # {0,5,6}, {0,6,7}, {0,5,7} — six total
    extra = [(1, 2), (3, 4), (5, 6), (6, 7), (5, 7)]
    edges = spark.createDataFrame(star + extra, "src long, dst long")

    row = triangle_count(edges).collect()[0]
    assert row.n_triangles == 6
    assert row.n_edges == n_leaves + len(extra)

    und = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    out_deg = (
        _orient_by_degree(und).groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    )
    hub = out_deg.filter(F.col("u") == 0).collect()
    max_deg = out_deg.agg(F.max("d")).collect()[0][0]
    assert not hub  # hub has the max (deg, id) rank → zero out-edges
    assert max_deg <= 3  # leaves keep O(√m) fan-out


def _pagerank(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
        "src string, dst string",
    )
    pagerank(edges, n_iter=8).collect()


def _graph_op(name, **kw):
    def run(spark):
        from legislative_bills_database_spark.operators import graph

        edges = spark.createDataFrame(
            [(1, 2, 3), (2, 3, 1), (3, 1, 2), (3, 4, 5), (4, 5, 1), (5, 6, 2)],
            "src long, dst long, w long",
        )
        args = [edges]
        if name == "shortest_paths":
            args.append(spark.createDataFrame([(1,)], "node long"))
        getattr(graph, name)(*args, **kw).collect()

    return run


def _connected_components(spark):
    from legislative_bills_database_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (7, 8)], "id_a long, id_b long"
    )
    ids = pairs.select(F.col("id_a").alias("node")).union(pairs.select("id_b"))
    connected_components(
        pairs, ids.distinct(), id_col="node", small_graph_threshold=0
    ).collect()


def _query(name):
    """Run the declared query and check it against its DuckDB oracle:
    the default lane's parity pin for loops whose full-fixture parity
    check runs only in the slow lane."""

    def run(spark):
        from legislative_bills_database_spark.plans import ORACLE, QUERIES
        from tests.conftest import SF_DIR
        from tests.oracle_util import compare

        problems = compare(QUERIES[name](spark, SF_DIR), ORACLE[name], SF_DIR)
        assert not problems, problems

    return run


def _kmeans_sweeps(spark):
    from legislative_bills_database_spark.plans.clustering_queries import (
        _km_sweeps,
    )
    from tests.conftest import SF_DIR

    _km_sweeps(spark, SF_DIR)


# (run, kept): kept is the number of checkpoints the result still reads
# by design — the last round plus the loop's fixed inputs and any
# session-memo frame the run builds
_LOOPS = {
    "pagerank": (_pagerank, 1),
    "label_propagation": (_graph_op("label_propagation", n_iter=8), 1),
    "k_core": (_graph_op("k_core", k=2), 1),
    "shortest_paths": (_graph_op("shortest_paths", rounds=8), 1),
    "connected_components": (_connected_components, 1),
    # state vector
    "q_markov_stationary": (_query("q_markov_stationary"), 1),
    # win totals, strengths
    "q_bradley_terry": (_query("q_bradley_terry"), 2),
    # candidate pool, pairwise similarities, selection
    "q_mmr_select": (_query("q_mmr_select"), 3),
    # (doc, bigram) frame, selection
    "q_greedy_coverage": (_query("q_greedy_coverage"), 2),
    # exploded vectors and the last two sweeps (both collected)
    "_km_sweeps": (_kmeans_sweeps, 3),
    # co-purchase memo, rank vector (q_ppr's loop)
    "q_pagerank_exact": (_query("q_pagerank_exact"), 2),
    # purchase-edge memo, last authorities, last hubs
    "q_hits_scores": (_query("q_hits_scores"), 3),
}


@pytest.mark.parametrize("loop", list(_LOOPS))
def test_pagerank_releases_iteration_checkpoints(spark, monkeypatch, loop):
    """Each round's checkpoint frees the round it replaces: of all the
    checkpoints a run makes, only those its result reads still hold
    blocks — O(1) frames, not O(rounds). The run's frames are kept
    referenced until the count, so Spark's ContextCleaner cannot free
    a leaked round behind the test's back."""
    made = []
    frame_class = type(spark.range(1))  # the session's DataFrame class
    check_in = frame_class.localCheckpoint

    def recorded(self, *args, **kwargs):
        made.append(check_in(self, *args, **kwargs))
        return made[-1]

    monkeypatch.setattr(frame_class, "localCheckpoint", recorded)
    clear_memos()  # memo frames a run needs are built, and counted, inside it
    run, kept = _LOOPS[loop]
    run(spark)
    stored = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    held = [
        df for df in made
        if df._jdf.queryExecution().analyzed().rdd().id() in stored
    ]
    assert len(made) > kept, len(made)  # the loop ran its rounds
    assert len(held) <= kept, (len(held), len(made))


def test_ewma_chunked_equals_sequential_multikey(spark):
    """Chunked affine composition == one-pass fold, forced multi-chunk
    (chunk_size=3 on 20-40 events/key)."""
    import random

    from legislative_bills_database_spark.operators.timeseries import (
        ewma_last_chunked,
    )

    rng = random.Random(11)
    rows = []
    eid = 0
    for uid in range(1, 6):
        for _ in range(rng.randint(20, 40)):
            rows.append((uid, _ts(1 + eid % 25, eid % 24), eid, rng.uniform(-50, 50)))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, value double"
    )
    seq = {r.user_id: (r.n_obs, r.ewma) for r in ewma_last(df, alpha=0.3).collect()}
    chk = {
        r.user_id: (r.n_obs, r.ewma)
        for r in ewma_last_chunked(df, alpha=0.3, chunk_size=3).collect()
    }
    assert set(seq) == set(chk)
    for uid in seq:
        assert chk[uid][0] == seq[uid][0]
        assert chk[uid][1] == pytest.approx(seq[uid][1], abs=1e-3), uid


def test_ewma_chunked_unbounded_single_key(spark):
    """The VERDICT-r3 ask: a 100k-event single key must work without the
    full-history array — per-key state is O(chunk + n/chunk)."""
    from legislative_bills_database_spark.operators.timeseries import (
        ewma_last_chunked,
    )

    n = 100_000
    base = dt.datetime(2024, 1, 1)
    df = (
        spark.range(n)
        .select(
            F.lit(1).alias("user_id"),
            (F.lit(base) + F.make_interval(secs=F.col("id").cast("double"))).alias("ts"),
            F.col("id").alias("event_id"),
            # deterministic pseudo-values in [-1, 1)
            ((F.col("id") * 2654435761 % 1000) / 500.0 - 1.0).alias("value"),
        )
    )
    got = ewma_last_chunked(
        df, alpha=0.1, chunk_size=1024
    ).collect()[0]
    assert got.n_obs == n
    vals = [((i * 2654435761) % 1000) / 500.0 - 1.0 for i in range(n)]
    want = (
        pd.Series(vals, dtype="float64").ewm(alpha=0.1, adjust=False).mean().iloc[-1]
    )
    assert got.ewma == pytest.approx(want, abs=1e-3)


def test_k_core_hand_built(spark):
    from legislative_bills_database_spark.operators.graph import k_core

    # triangle {1,2,3} + tail 3-4-5: 2-core = the triangle only
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {(r.node, r.degree) for r in k_core(edges, k=2).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}
    # k=3: the triangle can't survive either (degrees drop as peers go)
    assert k_core(edges, k=3).count() == 0


def test_k_core_matches_bruteforce_random(spark):
    import random

    from legislative_bills_database_spark.operators.graph import k_core

    rng = random.Random(13)
    n = 40
    es = {
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if rng.random() < 0.08
    }
    adj: dict[int, set] = {}
    for a, b in es:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    K = 3
    # reference peel
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < K:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
                changed = True
    want = {(v, len(adj[v])) for v in adj}
    edges = spark.createDataFrame(list(es), "src long, dst long")
    got = {(r.node, r.degree) for r in k_core(edges, k=K).collect()}
    assert got == want


class TestBfsHops:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "src string, dst string")

    def _seeds(self, spark, nodes):
        return spark.createDataFrame([(n,) for n in nodes], "node string")

    def test_path_graph_distances(self, spark):
        from legislative_bills_database_spark.operators.graph import bfs_hops

        e = self._edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])
        got = {
            r.node: r.dist
            for r in bfs_hops(e, self._seeds(spark, ["a"])).collect()
        }
        # x/y unreachable; undirected expansion
        assert got == {"a": 0, "b": 1, "c": 2, "d": 3}

    def test_seed_not_in_graph_still_reported(self, spark):
        from legislative_bills_database_spark.operators.graph import bfs_hops

        e = self._edges(spark, [("a", "b")])
        got = {
            r.node: r.dist
            for r in bfs_hops(e, self._seeds(spark, ["zz"])).collect()
        }
        assert got == {"zz": 0}

    def test_max_hops_cap(self, spark):
        from legislative_bills_database_spark.operators.graph import bfs_hops

        e = self._edges(
            spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
        )
        got = {
            r.node: r.dist
            for r in bfs_hops(e, self._seeds(spark, ["a"]), max_hops=2).collect()
        }
        assert got == {"a": 0, "b": 1, "c": 2}

    def test_multi_seed_min_distance(self, spark):
        from legislative_bills_database_spark.operators.graph import bfs_hops

        # a-b-c-d-e with seeds at both ends: c is 2 from each
        e = self._edges(
            spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
        )
        got = {
            r.node: r.dist
            for r in bfs_hops(e, self._seeds(spark, ["a", "e"])).collect()
        }
        assert got == {"a": 0, "e": 0, "b": 1, "d": 1, "c": 2}


class TestLabelPropagation:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "src string, dst string")

    def test_two_cliques_one_bridge_stay_separate(self, spark):
        """The community-vs-connectivity property: CC merges the two
        4-cliques through the bridge; LPA keeps them apart."""
        from legislative_bills_database_spark.operators.graph import (
            label_propagation,
        )

        import itertools

        c1 = list(itertools.combinations(["a", "b", "c", "d"], 2))
        c2 = list(itertools.combinations(["e", "f", "g", "h"], 2))
        e = self._edges(spark, c1 + c2 + [("d", "e")])
        got = {r.node: r.label for r in label_propagation(e).collect()}
        assert {got[n] for n in "abcd"} == {"a"}
        assert {got[n] for n in "efgh"} == {"e"}

    def test_single_edge_converges_no_oscillation(self, spark):
        """Plain synchronous LPA swaps labels across a lone edge every
        round; the closed-neighborhood vote settles to the min label."""
        from legislative_bills_database_spark.operators.graph import (
            label_propagation,
        )

        e = self._edges(spark, [("a", "b")])
        got = {r.node: r.label for r in label_propagation(e, n_iter=4).collect()}
        assert got == {"a": "a", "b": "a"}

    def test_bipartite_star_converges(self, spark):
        from legislative_bills_database_spark.operators.graph import (
            label_propagation,
        )

        e = self._edges(spark, [("hub", x) for x in ["s1", "s2", "s3"]])
        got = {r.node: r.label for r in label_propagation(e).collect()}
        assert len(set(got.values())) == 1  # one community
