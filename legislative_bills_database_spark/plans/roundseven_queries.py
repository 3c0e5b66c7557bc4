"""Round-7 phase-40 queries: approximate scale siblings for the two
degree-quadratic graph plans (VERDICT r6 "What's wrong" #1).

q_graph_jaccard / q_item_cf_recs are exact and within baseline locally,
but their (cust, supp) co-occurrence self-join fans out quadratically in
per-customer degree — the named scale-killer on skewed keys at 100×.
The fix here is the twin discipline already used for ANN and k-means:

- ``q_graph_jaccard_approx`` / ``q_item_cf_recs_approx`` run the SAME
  pipeline on a deterministically degree-capped subgraph
  (operators/basket.degree_capped_edges: per-customer md5-ordered
  incident-edge sample). The cap is DEGREE-ADAPTIVE — the exact p95 of
  the per-customer degree distribution (integer histogram quantile,
  floor 30; p90 until the r8 recall tuning pass, see _SQL_CAPPED) — so
  it binds only on the skewed tail it exists to guard, the same
  corpus-sized-parameter discipline as the r6 LSH plane-count
  fix. Degrees AND intersections both come from the capped subgraph —
  capping only intersections while keeping exact degrees collapses the
  ranking (measured negative result at
  operators/basket.cooccurrence_pairs), and a Horvitz-Thompson
  reweighted estimator (exact integer numerator Σ max(d_c(d_c−1), K))
  was measured WORSE (0.26 vs 0.39 recall at a worst-case uniform
  cap=30): per-pair HT variance swamps the tightly-clustered ranking,
  while the within-sample estimator's correlated errors cancel in the
  Jaccard ratio. md5 is portable hex in both engines, so unlike
  rand()/xxhash64 samplers these approximations are fully
  DuckDB-oracle-checkable: the approximation lives in the graph, not
  the engine.
- ``q_graph_jaccard_recall`` / ``q_item_cf_recall`` are the
  driver-visible quality certificates: one row comparing the approx
  result set against the exact one (n_exact, n_approx, n_overlap,
  recall), hash-checked against an oracle that recomputes BOTH chains.
  A silent approximation-quality regression flips a driver hash instead
  of hiding; pytest pins the recall floor.

Engine-parity notes: every oracle COUNT/SUM over integers is CAST AS
BIGINT (DuckDB HUGEINT → pandas float64 mismatch); the p95 rank is
computed as ceil(19n/20) in INTEGER arithmetic on both sides (0.95·n in
doubles can land an ulp above an integer and ceil one rank too far);
scores decimal-sum before the one double cast so the ranking is
associativity-proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..io import load_tables
from ..operators.basket import cooccurrence_pairs, degree_capped_edges
from ..session import memo
from .registry import query

# cap floor: tiny fixtures never cap below the r6 measured operating
# point; at any real scale the adaptive p95 dominates
_GJ_MIN_CAP = 30

_SQL_CS = """cs AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )"""

# Degree-adaptive cap: exact p95 of the per-customer degree distribution
# via an integer histogram quantile (degrees are low-cardinality ints,
# so the histogram — not the customer list — is the only state the
# quantile needs), then the portable md5-ordered per-customer top-cap
# edge sample (degree_capped_edges twin). p95, not p90 (r8 tuning pass,
# VERDICT r7 #4): on the sf0.01 fixture where the cap binds this lifts
# CF recommendation recall 0.554 -> 0.682 while the cap value grows
# only 45 -> 48 (sf0.01) resp. 53 -> 58 (Zipf-skewed sf1.0) — degree
# quantiles sit close together even under Zipf because the hot tail is
# narrow, so the d²/2 pair work grows ~1.2x, nowhere near the exact
# plan's cost.
_SQL_CAPPED = f"""degc AS (
      SELECT cust, CAST(COUNT(*) AS BIGINT) AS dc FROM cs GROUP BY 1
    ), dhist AS (
      SELECT dc, CAST(COUNT(*) AS BIGINT) AS c FROM degc GROUP BY 1
    ), dthr AS (
      SELECT CAST((19 * SUM(c) + 19) // 20 AS BIGINT) AS k FROM dhist
    ), capv AS (
      SELECT GREATEST(MIN(dc), {_GJ_MIN_CAP}) AS cap
      FROM (SELECT dc, SUM(c) OVER (ORDER BY dc) AS cum FROM dhist), dthr
      WHERE cum >= k
    ), capped AS (
      SELECT cust, supp FROM (
        SELECT cust, supp,
               ROW_NUMBER() OVER (
                 PARTITION BY cust
                 ORDER BY md5(CAST(cust AS VARCHAR) || ':'
                              || CAST(supp AS VARCHAR)), supp
               ) AS rk
        FROM cs)
      WHERE rk <= (SELECT cap FROM capv)
    )"""


def _sql_top100(edge_cte: str, tag: str) -> str:
    """CTE chain deg{tag}/inter{tag}/top{tag}: top-100 supplier pairs by
    neighborhood Jaccard over the given (cust, supp) edge CTE."""
    return f"""deg{tag} AS (
      SELECT supp, CAST(COUNT(*) AS BIGINT) AS d
      FROM {edge_cte} GROUP BY 1
    ), inter{tag} AS (
      SELECT a.supp AS s1, b.supp AS s2, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM {edge_cte} a JOIN {edge_cte} b
        ON a.cust = b.cust AND a.supp < b.supp
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ), top{tag} AS (
      SELECT i.s1, i.s2, i.n_shared,
             ROUND(CAST(i.n_shared AS DOUBLE)
                   / (d1.d + d2.d - i.n_shared), 6) AS jaccard
      FROM inter{tag} i
      JOIN deg{tag} d1 ON i.s1 = d1.supp
      JOIN deg{tag} d2 ON i.s2 = d2.supp
      ORDER BY jaccard DESC, i.s1, i.s2
      LIMIT 100
    )"""


def _sql_cf(tag: str) -> str:
    """CTE chain sym{tag}/cand{tag}/rec{tag}: item-CF recommendations
    (≤3 novel suppliers per customer) from the top{tag} similarity
    table, candidates generated over the FULL edge list (that join is
    map-side-broadcast-shaped, never quadratic)."""
    return f"""sym{tag} AS (
      SELECT s1 AS a, s2 AS b, jaccard AS sim FROM top{tag}
      UNION ALL
      SELECT s2, s1, jaccard FROM top{tag}
    ), cand{tag} AS (
      SELECT cs.cust, s.b AS rec,
             CAST(SUM(CAST(s.sim AS DECIMAL(18,6))) AS DOUBLE) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_paths
      FROM cs JOIN sym{tag} s ON cs.supp = s.a
      GROUP BY 1, 2
    ), rec{tag} AS (
      SELECT cust, rec, ROUND(score, 6) AS score, n_paths FROM cand{tag} c
      WHERE NOT EXISTS (
        SELECT 1 FROM cs WHERE cs.cust = c.cust AND cs.supp = c.rec)
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY cust ORDER BY ROUND(score, 6) DESC, rec) <= 3
    )"""


def _cs_edges(spark, sf_dir) -> DataFrame:
    """Slim DISTINCT (cust, supp) bipartite edge list; checkpointed —
    deg + both self-join sides reference it (uncheckpointed the
    orders⋈lineitem + distinct would execute three times).

    Session-memoized: bench/preflight sweeps invoke the four phase-40
    queries back-to-back in one session, and an unmemoized
    localCheckpoint per call would accumulate orphaned checkpoint
    blocks for the session's lifetime (ADVICE r7). One shared frame per
    dataset bounds that to a single materialization — and lets the
    exact/approx chains of the recall certificates reuse the same scan.
    """

    def build():
        orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
        return (
            orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            .select(
                F.col("o_custkey").alias("cust"),
                F.col("l_suppkey").alias("supp"),
            )
            .distinct()
        )

    return _memo_sim(spark, sf_dir, "cs_edges", build)


def _adaptive_cap(cs: DataFrame) -> int:
    """Exact p95 of the per-customer degree distribution (floor
    ``_GJ_MIN_CAP``) — the degree-adaptive cap for the approx twins
    (p90 until the r8 recall tuning pass; rationale at _SQL_CAPPED).

    Distributed shape: degrees are low-cardinality integers, so the
    exact discrete quantile needs only the (dc, count) HISTOGRAM — one
    hash aggregate whose result is ≤ max-degree rows of bounded driver
    state (never a TakeOrdered over the customer list, which would ship
    0.9·|customers| rows to one task). The rank is ceil(19n/20) in
    integer arithmetic, matching the oracle exactly.
    """
    hist = sorted(
        cs.groupBy("cust")
        .agg(F.count("*").alias("dc"))
        .groupBy("dc")
        .agg(F.count("*").alias("c"))
        .collect(),
        key=lambda r: r["dc"],
    )
    n = sum(r["c"] for r in hist)
    k = (19 * n + 19) // 20
    cum = 0
    for r in hist:
        cum += r["c"]
        if cum >= k:
            return max(int(r["dc"]), _GJ_MIN_CAP)
    return _GJ_MIN_CAP


def _capped_edges(cs: DataFrame) -> DataFrame:
    return degree_capped_edges(cs, "cust", "supp", _adaptive_cap(cs))


def _memo_sim(spark, sf_dir, tag: str, build) -> DataFrame:
    """Session-memoize a similarity-chain frame that the CF/jaccard
    certificate queries share (ADVICE r8: the exact top-100 similarity
    table was rebuilt in q_graph_jaccard_recall, q_item_cf_recall AND
    the approx chain re-derived the capped edges twice — ~15-20 s of
    every bench/preflight sweep). The frames are lazily checkpointed:
    the capped edge list is cap-bounded, the top-100 tables are 100
    rows, so executor storage stays trivial."""
    return memo(spark, sf_dir, tag, lambda: build().localCheckpoint(eager=False))


def _capped_cs(spark, sf_dir) -> DataFrame:
    cs = _cs_edges(spark, sf_dir)
    return _memo_sim(spark, sf_dir, "capped", lambda: _capped_edges(cs))


def _exact_top100(spark, sf_dir) -> DataFrame:
    cs = _cs_edges(spark, sf_dir)
    return _memo_sim(spark, sf_dir, "tope", lambda: _jaccard_top100(cs))


def _capped_top100(spark, sf_dir) -> DataFrame:
    return _memo_sim(
        spark,
        sf_dir,
        "topa",
        lambda: _jaccard_top100(_capped_cs(spark, sf_dir)),
    )


def _jaccard_top100(edges: DataFrame) -> DataFrame:
    """Top-100 supplier pairs by neighborhood Jaccard over (cust, supp)
    edges — q_graph_jaccard's pipeline, parameterized on the edge set so
    the exact and degree-capped variants share one plan shape."""
    deg = edges.groupBy("supp").agg(F.count("*").cast("long").alias("d"))
    inter = (
        cooccurrence_pairs(edges, "cust", "supp")
        .select(F.col("i1").alias("s1"), F.col("i2").alias("s2"), "n_shared")
        .filter(F.col("n_shared") >= 2)
    )
    d1 = deg.select(F.col("supp").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("supp").alias("s2"), F.col("d").alias("d2"))
    return (
        inter.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "s1", "s2")
        .limit(100)
    )


def _cf_recs(cs: DataFrame, simtop: DataFrame) -> DataFrame:
    """Item-CF recommendations from a k-bounded similarity table —
    q_item_cf_recs' pipeline parameterized on simtop: symmetrize,
    broadcast, one map-side candidate join over the slim edge list,
    anti-join novelty filter, top-3 per customer."""
    sym = simtop.select(
        F.col("s1").alias("a"),
        F.col("s2").alias("b"),
        F.col("jaccard").alias("sim"),
    ).unionAll(
        simtop.select(
            F.col("s2").alias("a"),
            F.col("s1").alias("b"),
            F.col("jaccard").alias("sim"),
        )
    )
    cand = (
        cs.join(F.broadcast(sym), cs.supp == F.col("a"))
        .groupBy("cust", F.col("b").alias("rec"))
        .agg(
            F.sum(F.col("sim").cast("decimal(18,6)"))
            .cast("double")
            .alias("score"),
            F.count("*").cast("long").alias("n_paths"),
        )
    )
    novel = cand.join(
        cs.select("cust", F.col("supp").alias("rec")),
        ["cust", "rec"],
        "left_anti",
    )
    pick = Window.partitionBy("cust").orderBy(F.col("score").desc(), "rec")
    return (
        novel.select(
            "cust", "rec", F.round("score", 6).alias("score"), "n_paths"
        )
        .withColumn("rr", F.row_number().over(pick))
        .filter(F.col("rr") <= 3)
        .drop("rr")
    )


def _set_recall(
    exact: DataFrame, approx: DataFrame, keys: list[str]
) -> DataFrame:
    """One (n_exact, n_approx, n_overlap, recall) row comparing two key
    sets — one union + one two-level aggregation, no cross joins."""
    tagged = (
        exact.select(*keys)
        .withColumn("he", F.lit(1))
        .withColumn("ha", F.lit(0))
        .unionByName(
            approx.select(*keys)
            .withColumn("he", F.lit(0))
            .withColumn("ha", F.lit(1))
        )
    )
    per = tagged.groupBy(*keys).agg(
        F.max("he").alias("he"), F.max("ha").alias("ha")
    )
    both = F.sum(F.col("he") * F.col("ha"))
    return per.agg(
        F.sum("he").cast("long").alias("n_exact"),
        F.sum("ha").cast("long").alias("n_approx"),
        both.cast("long").alias("n_overlap"),
        F.round(both / F.sum("he"), 6).alias("recall"),
    )


_SQL_RECALL_TAIL = """tagged AS (
      SELECT {k}, 1 AS he, 0 AS ha FROM {exact}
      UNION ALL
      SELECT {k}, 0, 1 FROM {approx}
    ), per AS (
      SELECT {k}, MAX(he) AS he, MAX(ha) AS ha FROM tagged GROUP BY {knums}
    )
    SELECT CAST(SUM(he) AS BIGINT) AS n_exact,
           CAST(SUM(ha) AS BIGINT) AS n_approx,
           CAST(SUM(he * ha) AS BIGINT) AS n_overlap,
           ROUND(CAST(SUM(he * ha) AS DOUBLE) / SUM(he), 6) AS recall
    FROM per"""


@query(
    "q_graph_jaccard_approx",
    f"""
    WITH {_SQL_CS},
    {_SQL_CAPPED},
    {_sql_top100("capped", "a")}
    SELECT s1, s2, n_shared, jaccard FROM topa
    ORDER BY jaccard DESC, s1, s2
    """,
)
def q_graph_jaccard_approx(spark, sf_dir):
    """q_graph_jaccard's scale sibling: identical top-100 neighborhood-
    Jaccard pipeline on the md5-degree-capped subgraph, so the
    co-occurrence self-join's per-customer fan-out is bounded at cap²/2
    — hot customers cost a constant, not d²/2, which is the plan that
    survives Zipf-skewed keys at 100×. The cap is the exact p95 of the
    customer-degree distribution (operators/basket.degree_capped_edges
    + the histogram quantile in _adaptive_cap), so it binds only on the
    skewed tail it guards; degrees and intersections both come from the
    capped subgraph, keeping Jaccard a consistent within-sample
    estimate. The md5 sampler is portable, so the whole approximation
    is hash-checked by the oracle. Quality is certified by
    q_graph_jaccard_recall (the exact plan stays as the oracle)."""
    return _capped_top100(spark, sf_dir)


@query(
    "q_graph_jaccard_recall",
    f"""
    WITH {_SQL_CS},
    {_SQL_CAPPED},
    {_sql_top100("cs", "e")},
    {_sql_top100("capped", "a")},
    {_SQL_RECALL_TAIL.format(k="s1, s2", knums="1, 2", exact="tope", approx="topa")}
    """,
)
def q_graph_jaccard_recall(spark, sf_dir):
    """Driver-visible quality certificate for q_graph_jaccard_approx:
    one (n_exact, n_approx, n_overlap, recall) row comparing the capped
    top-100 pair set against the exact top-100 — the q_ann_recall twin
    discipline, but fully oracle-checked because the md5 sampler is
    portable. A quality regression in the approximation flips a driver
    hash instead of hiding; pytest pins the recall floor."""
    exact = _exact_top100(spark, sf_dir)
    approx = _capped_top100(spark, sf_dir)
    return _set_recall(exact, approx, ["s1", "s2"])


@query(
    "q_item_cf_recs_approx",
    f"""
    WITH {_SQL_CS},
    {_SQL_CAPPED},
    {_sql_top100("capped", "a")},
    {_sql_cf("a")}
    SELECT cust, rec, score, n_paths FROM reca
    """,
)
def q_item_cf_recs_approx(spark, sf_dir):
    """q_item_cf_recs' scale sibling: the similarity table comes from
    the degree-capped subgraph (only the quadratic pair step is
    approximated); candidate generation, novelty anti-join and top-3
    ranking still run over the FULL edge list — those joins are
    broadcast-map-side regardless of graph size, so there is nothing to
    approximate. Oracle-checked end-to-end (portable md5 sampling);
    quality certified by q_item_cf_recall."""
    cs = _cs_edges(spark, sf_dir)
    return _cf_recs(cs, _capped_top100(spark, sf_dir))


@query(
    "q_item_cf_recall",
    f"""
    WITH {_SQL_CS},
    {_SQL_CAPPED},
    {_sql_top100("cs", "e")},
    {_sql_top100("capped", "a")},
    {_sql_cf("e")},
    {_sql_cf("a")},
    {_SQL_RECALL_TAIL.format(k="cust, rec", knums="1, 2", exact="rece", approx="reca")}
    """,
)
def q_item_cf_recall(spark, sf_dir):
    """Driver-visible quality certificate for q_item_cf_recs_approx:
    one row comparing the (cust, rec) recommendation sets produced from
    the capped vs exact similarity tables. Hash-checked against an
    oracle that recomputes both chains; pytest pins the recall floor."""
    cs = _cs_edges(spark, sf_dir)
    exact = _cf_recs(cs, _exact_top100(spark, sf_dir))
    approx = _cf_recs(cs, _capped_top100(spark, sf_dir))
    return _set_recall(exact, approx, ["cust", "rec"])


# ---------------------------------------------------------------------------
# Phase 41: hash-certified exact twins for the remaining rows-only
# iterative graph ops (VERDICT r6 item #4) — the q_pagerank_exact
# discipline: FIXED sweep counts so a chained-CTE oracle replays the
# identical computation round for round. All-integer state (degrees,
# vote counts, min-label tie-breaks), so no float drift can break the
# cross-engine hash. The rows-only originals (q_kcore, q_label_prop)
# stay as the convergence-probed perf paths.
# ---------------------------------------------------------------------------

_KC_K = 3
_KC_ROUNDS = 6  # peel is idempotent at the fixpoint; extra rounds no-op

_SQL_KC_BASE = """kbase AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS b
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )"""


def _sql_kcore(rounds: int, k: int) -> str:
    prev = "kbase"
    ctes = []
    for i in range(1, rounds + 1):
        ctes.append(f"""kd{i} AS MATERIALIZED (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT a AS n FROM {prev} UNION ALL SELECT b FROM {prev}
      ) GROUP BY 1
    ), ke{i} AS MATERIALIZED (
      SELECT e.a, e.b FROM {prev} e
      JOIN kd{i} da ON e.a = da.n
      JOIN kd{i} db ON e.b = db.n
      WHERE da.degree >= {k} AND db.degree >= {k}
    )""")
        prev = f"ke{i}"
    body = ",\n    ".join(ctes)
    penult = f"ke{rounds - 1}" if rounds > 1 else "kbase"
    return f"""{body}
    SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS degree,
           CAST((SELECT COUNT(*) FROM {penult})
                = (SELECT COUNT(*) FROM {prev}) AS BIGINT) AS converged
    FROM (
      SELECT a AS n FROM {prev} UNION ALL SELECT b FROM {prev}
    ) GROUP BY 1"""


@query(
    "q_kcore_exact",
    f"""
    WITH {_SQL_KC_BASE},
    {_sql_kcore(_KC_ROUNDS, _KC_K)}
    """,
)
def q_kcore_exact(spark, sf_dir):
    """Hash-certified 3-core of the customer↔supplier purchase graph
    (q_kcore's graph): exactly 6 fixed peel rounds — each round
    recomputes integer degrees and keeps edges whose BOTH endpoints
    hold degree ≥ k (operators/graph.k_core_fixed) — vs a chained-CTE
    oracle replaying the same rounds. Peeling is idempotent at the
    fixpoint, so when the peel converges within the budget (asserted
    equal to the convergence-probed q_kcore in pytest) this IS the
    k-core, per-node degrees and all; the rows-only q_kcore stays as
    the convergence-probed path with its early-exit probe. The constant
    ``converged`` column (1 iff the last round peeled nothing) makes a
    partial peel at larger scale driver-OBSERVABLE — both engine and
    oracle compute it from their own round N-1 vs N edge counts, so a
    non-converged run flips the value (still hash-green, because both
    sides report the same honest flag) instead of degrading the "this
    IS the k-core" claim silently (ADVICE r7)."""
    from ..operators.graph import k_core_fixed

    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    edges = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    return k_core_fixed(
        edges, k=_KC_K, rounds=_KC_ROUNDS, with_converged=True
    )


_LP_ROUNDS = 5

_SQL_LP_BASE = """lbase AS (
      SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM (
        SELECT o.o_custkey, l.l_suppkey
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
        HAVING COUNT(DISTINCT o.o_orderkey) >= 3)
    ), lsym AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM lbase
        UNION ALL
        SELECT dst, src FROM lbase
      ) WHERE src <> dst
    ), lnodes AS (SELECT DISTINCT src AS node FROM lsym),
    ll0 AS (SELECT node, node AS label FROM lnodes)"""


def _sql_label_prop(rounds: int) -> str:
    ctes = []
    for i in range(1, rounds + 1):
        ctes.append(f"""lv{i} AS (
      SELECT s.src AS node, l.label
      FROM lsym s JOIN ll{i - 1} l ON s.dst = l.node
      UNION ALL
      SELECT node, label FROM ll{i - 1}
    ), lc{i} AS (
      SELECT node, label, COUNT(*) AS n FROM lv{i} GROUP BY 1, 2
    ), ll{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (
                 PARTITION BY node ORDER BY n DESC, label) AS rn
        FROM lc{i}) WHERE rn = 1
    )""")
    body = ",\n    ".join(ctes)
    return f"""{body}
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM ll{rounds} GROUP BY 1
    ORDER BY n_nodes DESC, label
    LIMIT 10"""


@query(
    "q_label_prop_exact",
    f"""
    WITH {_SQL_LP_BASE},
    {_sql_label_prop(_LP_ROUNDS)}
    """,
)
def q_label_prop_exact(spark, sf_dir):
    """Hash-certified label propagation over q_label_prop's strong-tie
    purchase graph (≥3 distinct co-orders): the SAME 5 fixed rounds of
    closed-neighborhood voting with min-label tie-break that
    operators/graph.label_propagation already runs — the operator was
    always deterministic (integer vote counts, min-struct argmax); this
    twin adds the chained-CTE oracle that replays each voting round
    (vote = neighbor labels + self label, argmax by count DESC then
    label ASC), certifying the community structure end to end. Emits
    the same (label, n_nodes) top-10 census as q_label_prop."""
    from ..operators.graph import label_propagation

    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count_distinct("o_orderkey").alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
    )
    labels = label_propagation(edges, n_iter=_LP_ROUNDS)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy(F.col("n_nodes").desc(), "label")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Phase 42: portable-hash certified sketch twins (VERDICT r6 item #5) —
# shrink the rows-only set: the xxhash64 Count-Min and the DataSketches
# HLL stay as perf paths; these twins replay the identical sketch
# algebra on md5-folded 32-bit hashes both engines reproduce digit for
# digit, so bucket counters / registers — not just the final estimate —
# are value-hash-checked.
# ---------------------------------------------------------------------------


def _cm_exact_oracle() -> str:
    from ..operators.sketches import sql_cm_sketch_portable

    return sql_cm_sketch_portable(
        "lineitem", "l_partkey", depth=4, width=256, top_k=20
    )


@query("q_cm_sketch_exact", _cm_exact_oracle())
def q_cm_sketch_exact(spark, sf_dir):
    """Hash-certified Count-Min sketch over part keys — q_cm_sketch's
    relational sketch (explode(depth) + one map-side-combined groupBy
    to depth×width counters, mergeable by plain SUM, probe = MIN across
    hash rows) with portable md5-fold bucket hashes instead of
    xxhash64, so the DuckDB oracle replays counters, probes, and
    overcounts exactly (operators/sketches.cm_sketch_portable_report).
    Same (key, exact_n, cm_est, overcount) top-20 report; the one-sided
    error invariant overcount ≥ 0 is now oracle-visible too."""
    from ..operators.sketches import cm_sketch_portable_report

    lineitem = load_tables(spark, sf_dir, "lineitem")[0]
    return cm_sketch_portable_report(
        lineitem, "l_partkey", depth=4, width=256, top_k=20
    )


def _hll_cert_oracle() -> str:
    from ..operators.sketches import sql_hll_portable_cert

    return sql_hll_portable_cert("documents", "source", "doc_id", p=9)


@query("q_hll_register_cert", _hll_cert_oracle())
def q_hll_register_cert(spark, sf_dir):
    """Register-level HLL merge certification — the certified twin of
    q_hll_merge (whose DataSketches binaries no oracle can replay):
    portable md5-fold hashes, integer threshold-CASE ρ registers, and
    the dyadic-rational harmonic sum carried as the exact integer
    Σ 2^(32−ρ), so per-source register shards, their MAX-merge, and the
    direct registers are all value-hash-checked; merge_exact == 1 is
    the algebraic merged ≡ direct identity any shuffle/engine bug would
    flip (operators/sketches.hll_portable_cert). One row
    (m, n_regs_used, n_regs_equal, merge_exact, hll_est, exact,
    rel_err)."""
    from ..operators.sketches import hll_portable_cert

    docs = load_tables(spark, sf_dir, "documents")[0]
    return hll_portable_cert(docs, "source", "doc_id", p=9)


# ---------------------------------------------------------------------------
# Phase 43: coverage widening — word2vec-style skip-gram pair
# generation, readability scoring, exact higher moments, and
# sign-quantized (binary) ANN with its recall certificate. All
# oracle-checked; the only floats are single IEEE scalar ops on exact
# integer/decimal aggregates (the engine-parity discipline).
# ---------------------------------------------------------------------------

from ..functions import text as _T  # noqa: E402  (module continues)
from ..io import load_table  # noqa: E402


@query(
    "q_skipgram_pairs",
    f"""
    WITH pairs AS (
      SELECT unnest({_T.sql_skipgram_pairs("string_split(text, ' ')", 2)})
               AS pair
      FROM documents
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY 1
    ORDER BY n DESC, pair
    LIMIT 50
    """,
)
def q_skipgram_pairs(spark, sf_dir):
    """Skip-gram (center, context) pair counts with window 2 — the
    word2vec / GloVe co-occurrence generator every embedding-training
    pipeline runs first: ordered "w_i w_{i+d}" pairs for d ∈ {1, 2}
    WITH multiplicity (functions/text.skipgram_pairs_arr), one
    explode + one map-side-combined count, top-50 (n DESC, pair).
    In-row pair generation via index lambdas — no positional self-join,
    so the only shuffle is the pair count aggregate; at corpus scale
    the pair space, not the doc count, bounds the exchange."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode(_T.skipgram_pairs_arr(_T.tokens(F.col("text")), 2)).alias(
            "pair"
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(50)
    )


@query(
    "q_readability",
    """
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syll AS BIGINT) AS n_syll,
           ROUND(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                 + 11.8 * (CAST(n_syll AS DOUBLE) / n_words)
                 - 15.59, 4) AS fk_grade
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             GREATEST(len(regexp_extract_all(text, '[.!?]')), 1)
               AS n_sentences,
             GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS n_syll
      FROM documents)
    """,
)
def q_readability(spark, sf_dir):
    """Flesch-Kincaid grade per document from three integer counts —
    words (whitespace tokens), sentences (terminal punctuation,
    clamped ≥1), and the standard vowel-group syllable proxy — with the
    grade itself two divisions and a weighted sum of exact integers:
    single IEEE scalar ops, bit-identical cross-engine. The quality-
    scoring sibling of q_quality_score for curriculum / difficulty
    bucketing; pure codegen expression tree, zero shuffles beyond the
    scan."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " "))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]"), 0)),
        F.lit(1),
    )
    n_syll = F.greatest(
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
        ),
        F.lit(1),
    )
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syll"),
        F.round(
            F.lit(0.39) * (n_words.cast("double") / n_sent)
            + F.lit(11.8) * (n_syll.cast("double") / n_words)
            - F.lit(15.59),
            4,
        ).alias("fk_grade"),
    )


@query(
    "q_moments",
    """
    WITH cents AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x
      FROM lineitem
    ), sums AS (
      SELECT flag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS s2,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x * x) AS DOUBLE) AS s3,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x * x * x) AS DOUBLE) AS s4
      FROM cents GROUP BY 1
    )
    SELECT flag, n,
           ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n)
                  * (s1 / n) * (s1 / n))
                 / ((s2 / n - (s1 / n) * (s1 / n))
                    * sqrt(s2 / n - (s1 / n) * (s1 / n))), 6) AS skewness,
           ROUND((s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n)
                  * (s1 / n) * (s2 / n) - 3 * (s1 / n) * (s1 / n)
                  * (s1 / n) * (s1 / n))
                 / ((s2 / n - (s1 / n) * (s1 / n))
                    * (s2 / n - (s1 / n) * (s1 / n))) - 3, 6) AS kurtosis
    FROM sums ORDER BY flag
    """,
)
def q_moments(spark, sf_dir):
    """Exact skewness and excess kurtosis per return flag from integer
    cent POWER SUMS: Σx..Σx⁴ ride decimal(38,0) (Σx⁴ ≈ n·10²⁸ is far
    past int64; Spark's long würde silently wrap), then ONE
    decimal→double conversion per sum — correctly rounded and identical
    in both engines — and a fixed scalar expression tree for the
    centered moments (x^1.5 spelled m2·sqrt(m2): pow(x, 1.5) is
    libm-implementation-defined, sqrt is IEEE-exact). The one-pass
    distributional-shape profile (beyond mean/variance) a drift monitor
    wants per segment; one hash aggregate, no second pass."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_extendedprice") * 100).cast("long")
    xd = F.col("x").cast("decimal(38,0)")  # against the projected frame
    sums = (
        lineitem.select(F.col("l_returnflag").alias("flag"), x.alias("x"))
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(xd).cast("double").alias("s1"),
            F.sum(xd * F.col("x")).cast("double").alias("s2"),
            F.sum(xd * F.col("x") * F.col("x")).cast("double").alias("s3"),
            F.sum(xd * F.col("x") * F.col("x") * F.col("x"))
            .cast("double")
            .alias("s4"),
        )
    )
    n = F.col("n")
    mean = F.col("s1") / n
    m2 = F.col("s2") / n - mean * mean
    m3 = F.col("s3") / n - F.lit(3) * mean * (F.col("s2") / n) + F.lit(
        2
    ) * mean * mean * mean
    m4 = (
        F.col("s4") / n
        - F.lit(4) * mean * (F.col("s3") / n)
        + F.lit(6) * mean * mean * (F.col("s2") / n)
        - F.lit(3) * mean * mean * mean * mean
    )
    return sums.select(
        "flag",
        "n",
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3), 6).alias("kurtosis"),
    ).orderBy("flag")


from ..functions.vectors import sign_word, sql_cosine, sql_sign_word  # noqa: E402

_BQ_BITS = 62
_BQ_WORD = sql_sign_word("embedding", _BQ_BITS)
_BQ_COS = sql_cosine("q.embedding", "n.embedding")


@query(
    "q_binary_quantize",
    f"""
    SELECT vec_id, {_BQ_WORD} AS sign_word,
           CAST(bit_count({_BQ_WORD}) AS BIGINT) AS n_pos_dims
    FROM embeddings WHERE vec_id < 500
    """,
)
def q_binary_quantize(spark, sf_dir):
    """1-bit binary quantization of embeddings: the first 62 dims
    sign-packed into ONE BIGINT word (functions/vectors.sign_word —
    62 bits dodge both Spark's literal-only column shifts and DuckDB's
    checked 1<<63), plus the population count. The 64×-compressed
    representation whose Hamming distance approximates angular distance
    — the ANN prefilter tier below PQ (q_pq_topk) and IVF: at 100 TB
    the packed words are a 0.4%-of-corpus scan that fits a broadcast
    where float vectors never could. Pure codegen fold, zero shuffles;
    certified bit for bit by the oracle."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 500
    )
    word = sign_word(F.col("embedding"), _BQ_BITS)
    return emb.select(
        "vec_id",
        word.alias("sign_word"),
        F.bit_count(word).cast("long").alias("n_pos_dims"),
    )


@query(
    "q_bq_recall",
    f"""
    WITH words AS (
      SELECT vec_id, {_BQ_WORD} AS w
      FROM embeddings WHERE vec_id < 500
    ), hamm AS (
      SELECT q.vec_id AS qid, n.vec_id AS nid
      FROM words q JOIN words n ON q.vec_id <> n.vec_id
      WHERE q.vec_id < 10
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY bit_count(xor(q.w, n.w)) ASC, n.vec_id ASC) <= 5
    ), ex AS (
      SELECT q.vec_id AS qid, n.vec_id AS nid
      FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
      WHERE q.vec_id < 10 AND n.vec_id < 500
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_BQ_COS} DESC, n.vec_id ASC) <= 5
    ), tagged AS (
      SELECT qid, nid, 1 AS he, 0 AS ha FROM ex
      UNION ALL
      SELECT qid, nid, 0, 1 FROM hamm
    ), per AS (
      SELECT qid, nid, MAX(he) AS he, MAX(ha) AS ha
      FROM tagged GROUP BY 1, 2
    )
    SELECT CAST(SUM(he) AS BIGINT) AS n_exact,
           CAST(SUM(ha) AS BIGINT) AS n_approx,
           CAST(SUM(he * ha) AS BIGINT) AS n_overlap,
           ROUND(CAST(SUM(he * ha) AS DOUBLE) / SUM(he), 6) AS recall
    FROM per
    """,
)
def q_bq_recall(spark, sf_dir):
    """Quality certificate for the binary-quantized tier: per-query
    top-5 by Hamming distance over the packed sign words
    (bit_count(xor), integer — engine-identical) vs exact cosine top-5
    on the same 500-vector slice, one (n_exact, n_approx, n_overlap,
    recall) row — the q_graph_jaccard_recall discipline for the
    quantization family (q_pq_recall's sibling, but fully
    oracle-checked: sign bits and Hamming ranks are integers, where PQ
    centroids are floats). Floor pinned in pytest."""
    from ..operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 500
    )
    queries_df = emb.filter(F.col("vec_id") < 10)
    words = emb.select(
        "vec_id", sign_word(F.col("embedding"), _BQ_BITS).alias("w")
    )
    qw = words.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("w").alias("qword")
    )
    pick = Window.partitionBy("qid").orderBy(
        F.col("dist").asc(), F.col("nid").asc()
    )
    hamm = (
        words.select(F.col("vec_id").alias("nid"), F.col("w").alias("nw"))
        .join(F.broadcast(qw), F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.bit_count(
                F.col("qword").bitwiseXOR(F.col("nw"))
            ).alias("dist"),
        )
        .withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") <= 5)
        .select("qid", "nid")
    )
    exact = cosine_topk(emb, queries_df, "vec_id", "embedding", k=5).select(
        "qid", "nid"
    )
    return _set_recall(exact, hamm, ["qid", "nid"])
