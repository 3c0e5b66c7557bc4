"""Round-11 phases 72+: seasonal smoothing, DAG scheduling, tier-2
profiling (approximate FDs, composite INDs), scale-grain isotonic.

The round-12 leads from ROUND_NOTES, pulled forward into round 11:
additive Holt-Winters closes the one seasonal gap in the timeseries
family (EWMA → Holt → Holt-Winters is now a complete chunked-affine
ladder); DAG critical path is the max-plus sibling of q_sssp's
min-plus relaxation; approximate FDs and composite INDs extend the
phase-70 schema-constraint tier from exact verdicts to
tolerance-quantified ones; isotonic regression leaves the binned grain
(q_isotonic_calibration) for per-key point series.

Discipline as everywhere: exact-integer or identically-ordered IEEE
arithmetic wherever a value crosses engines, bounded per-key arrays
(the 30-day event window bounds daily grids at any SF), and ONE
data-sized shuffle per query with small frames broadcast back.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ..session import checkpoint_round
from .registry import query

# ---------------------------------------------------------------------------
# additive Holt-Winters (triple exponential smoothing)
# ---------------------------------------------------------------------------


@query(
    "q_holt_winters",
    # sequential oracle: recursive CTE with a LIST-valued seasonal
    # state (the m-slot buffer rotates via s[2:m] || [s_new]); one
    # Holt-Winters step per iteration, all keys advance together.
    # Seed = mean of the first m observations (left-associated sum),
    # b=0, s_i = x_i − l0 — written in the identical IEEE operation
    # order as the Spark seed fold.
    """
    WITH RECURSIVE vals AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vs,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id HAVING COUNT(*) >= 4
    ), it AS (
      SELECT user_id, 4 AS k,
             (((vs[1] + vs[2]) + vs[3]) + vs[4]) / 4.0 AS l,
             CAST(0.0 AS DOUBLE) AS b,
             [vs[1] - (((vs[1] + vs[2]) + vs[3]) + vs[4]) / 4.0,
              vs[2] - (((vs[1] + vs[2]) + vs[3]) + vs[4]) / 4.0,
              vs[3] - (((vs[1] + vs[2]) + vs[3]) + vs[4]) / 4.0,
              vs[4] - (((vs[1] + vs[2]) + vs[3]) + vs[4]) / 4.0] AS s,
             n
      FROM vals
      UNION ALL
      SELECT it.user_id, it.k + 1,
             0.5 * (v.vs[it.k + 1] - it.s[1])
               + 0.5 * (it.l + it.b) AS l,
             0.3 * ((0.5 * (v.vs[it.k + 1] - it.s[1])
                      + 0.5 * (it.l + it.b)) - it.l)
               + 0.7 * it.b AS b,
             it.s[2:4] || [0.4 * (v.vs[it.k + 1]
                                   - (0.5 * (v.vs[it.k + 1] - it.s[1])
                                      + 0.5 * (it.l + it.b)))
                           + 0.6 * it.s[1]] AS s,
             it.n
      FROM it JOIN vals v USING (user_id)
      WHERE it.k < it.n
    )
    SELECT user_id, n AS n_obs,
           ROUND(l, 4) AS level,
           ROUND(b, 4) AS trend,
           ROUND(s[1], 4) AS s_next,
           ROUND(l + b + s[1], 4) AS forecast_1
    FROM it WHERE k = n
    """,
)
def q_holt_winters(spark, sf_dir):
    """Additive Holt-Winters level+trend+seasonal per user — the
    SEASONAL completion of the chunked-affine smoother ladder
    (EWMA: scalar map, Holt: 2×2 matrix, Holt-Winters: (m+2)×(m+2)
    matrix with the seasonal buffer rotating inside the state vector;
    operators/timeseries.holt_winters_chunked). chunk_size=16 forces
    multi-chunk matrix composition at every sf (~67 events/user → 5
    chunks); the oracle is DuckDB's genuinely SEQUENTIAL recursive CTE
    with a list-valued seasonal state, so the green hash proves
    chunked flat-matrix folds == one-pass triple smoothing. α=0.5,
    β=0.3, γ=0.4, m=4; discounts chosen so (1−β)=0.7 and (1−γ)=0.6
    are EXACT double round-trips — the Python-side constants and the
    SQL literals denote the same IEEE values (pinned in pytest)."""
    from ..operators.timeseries import holt_winters_chunked

    events = load_table(spark, sf_dir, "events")
    return holt_winters_chunked(
        events, "user_id", "ts", "value", "event_id",
        alpha=0.5, beta=0.3, gamma=0.4, period=4, chunk_size=16,
    )


# ---------------------------------------------------------------------------
# DAG critical path (hop-bounded max-plus relaxation)
# ---------------------------------------------------------------------------


def _sql_critical_path(rounds: int) -> str:
    from .roundfive_queries import _COPURCHASE_EDGES

    steps = [
        """
    r0 AS (
      SELECT node, CAST(0 AS BIGINT) AS dist FROM (
        SELECT src AS node FROM e UNION SELECT dst FROM e
      )
    )"""
    ]
    for i in range(1, rounds + 1):
        steps.append(f"""
    r{i} AS (
      SELECT node, MAX(dist) AS dist FROM (
        SELECT node, dist FROM r{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.dist + e.w AS dist
        FROM r{i - 1} p JOIN e ON p.node = e.src
      ) GROUP BY 1
    )""")
    return f"""
    WITH {_COPURCHASE_EDGES},
    {",".join(steps)}
    SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS crit_cost
    FROM r{rounds}
    """


@query("q_critical_path", _sql_critical_path(6))
def q_critical_path(spark, sf_dir):
    """DAG critical path: the most expensive co-purchase chain of at
    most 6 edges ending at each part, over the DIRECTED (src < dst ⇒
    acyclic) co-purchase edge list — the MAX-PLUS sibling of q_sssp's
    min-plus relaxation (operators/graph.longest_paths_dag). Every
    node seeds at cost 0 (critical-path semantics: the chain may start
    anywhere), each sweep is one co-located join against the
    src-partitioned edge list + one max-merge, and integral weights
    keep max-costs exact — the DuckDB twin chains six explicit
    max-merge CTE sweeps, so the value hash certifies each relaxation
    round, not just the final frame. Engine analog of the scheduling
    question "when can this node's work finish at the earliest"."""
    from ..operators.graph import longest_paths_dag
    from .roundfive_queries import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    return longest_paths_dag(edges, nodes, rounds=6).select(
        F.col("node").cast("long").alias("node"),
        F.col("dist").cast("long").alias("crit_cost"),
    )


# ---------------------------------------------------------------------------
# approximate functional dependencies (g3 error, tolerance verdicts)
# ---------------------------------------------------------------------------

# Candidates chosen to span the g3 spectrum: the exact key (0), a
# NEAR-FD invisible to exact checking (~0.15% dirty rows), the
# phase-70 discovery quantified (the fake composite primary key at
# g3≈0.24 — broken model, not dirty rows), and two hopeless ones.
_AFD_TOL = "0.01"
_AFD_CANDIDATES = [
    ("orders", ["o_orderkey"], "o_custkey"),
    ("orders", ["o_custkey", "o_orderdate"], "o_orderstatus"),
    ("lineitem", ["l_orderkey", "l_linenumber"], "l_partkey"),
    ("customer", ["c_nationkey"], "c_mktsegment"),
    ("lineitem", ["l_partkey"], "l_suppkey"),
]


def _sql_afd_block(t: str, lhs: list[str], rhs: str) -> str:
    le = ", ".join(lhs)
    name = f"{t}: {','.join(lhs)} -> {rhs}"
    return f"""
    SELECT '{name}' AS fd,
           CAST(SUM(s) AS BIGINT) AS n_rows,
           CAST(SUM(s) - SUM(m) AS BIGINT) AS n_violations,
           ROUND(CAST(SUM(s) - SUM(m) AS DOUBLE) / SUM(s), 6) AS g3,
           CAST(CASE WHEN CAST(SUM(s) - SUM(m) AS DOUBLE) / SUM(s)
                     <= {_AFD_TOL} THEN 1 ELSE 0 END AS INTEGER)
             AS holds_approx
    FROM (SELECT {le}, SUM(c) AS s, MAX(c) AS m
          FROM (SELECT {le}, {rhs}, count(*) AS c
                FROM {t} GROUP BY {le}, {rhs})
          GROUP BY {le})
    """


@query(
    "q_approx_fd",
    "\nUNION ALL\n".join(_sql_afd_block(*c) for c in _AFD_CANDIDATES),
)
def q_approx_fd(spark, sf_dir):
    """Approximate functional dependencies under the g3 error measure
    (Kivinen & Mannila 1995; the TANE tolerance semantics): g3 = the
    minimum fraction of rows to DELETE so lhs → rhs holds exactly =
    (N − Σ_lhs-groups max_rhs count) / N, with a verdict at tolerance
    1%. The tier exact q_fd_check cannot express: (o_custkey,
    o_orderdate) → o_orderstatus fails exactly but holds at g3≈0.0015
    — dirty rows, keep the model — while the phase-70 discovery
    (l_orderkey, l_linenumber) → l_partkey sits at g3≈0.24 — a wrong
    model no cleaning rescues. The distinction IS the decision "fix
    the data or fix the schema".

    Scale shape per candidate: (lhs, rhs)-grain count with map-side
    combine, re-aggregate to lhs grain (sum + max per group), one
    global row — shuffles carry group-grain rows only; candidates
    union in parallel. Everything is exact-BIGINT until the single
    final division."""
    out = None
    for t, lhs, rhs in _AFD_CANDIDATES:
        name = f"{t}: {','.join(lhs)} -> {rhs}"
        pairs = (
            load_table(spark, sf_dir, t)
            .groupBy(*[F.col(c) for c in lhs], F.col(rhs))
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        groups = pairs.groupBy(*[F.col(c) for c in lhs]).agg(
            F.sum("c").alias("s"), F.max("c").alias("m")
        )
        n = F.sum("s").cast("long")
        viol = (F.sum("s") - F.sum("m")).cast("long")
        g3 = viol.cast("double") / n
        block = groups.agg(
            F.lit(name).alias("fd"),
            n.alias("n_rows"),
            viol.alias("n_violations"),
            F.round(g3, 6).alias("g3"),
            F.when(g3 <= F.lit(float(_AFD_TOL)), 1)
            .otherwise(0)
            .cast("int")
            .alias("holds_approx"),
        ).select("fd", "n_rows", "n_violations", "g3", "holds_approx")
        out = block if out is None else out.unionByName(block)
    return out


# ---------------------------------------------------------------------------
# composite (multi-column) inclusion dependencies
# ---------------------------------------------------------------------------

# (label, lhs (table, col1, col2, filter), rhs (table, col1, col2,
# filter)) — filters make the candidates SHARD-containment questions,
# the form composite INDs actually take in production: "does the new
# period / new shard introduce (key, type) combinations the reference
# domain has never seen". The events split is decided by the data
# (and holds: no new (user, event_type) pair appears after day 15);
# the lineitem random split genuinely fails; the orders sample holds
# structurally; customer↔supplier is the decoy.
_CIND_CANDIDATES = [
    (
        "events[d16-30]:(user_id,event_type) <= events[d1-15]",
        ("events", "user_id", "event_type", "day_ge_16"),
        ("events", "user_id", "event_type", "day_le_15"),
    ),
    (
        "lineitem[even orders]:(l_partkey,l_suppkey) <= lineitem[odd]",
        ("lineitem", "l_partkey", "l_suppkey", "even"),
        ("lineitem", "l_partkey", "l_suppkey", "odd"),
    ),
    (
        "orders[%3=0]:(o_orderkey,o_custkey) <= orders",
        ("orders", "o_orderkey", "o_custkey", "mod3"),
        ("orders", "o_orderkey", "o_custkey", None),
    ),
    (
        "customer:(c_custkey,c_nationkey) <= supplier:(s_suppkey,s_nationkey)",
        ("customer", "c_custkey", "c_nationkey", None),
        ("supplier", "s_suppkey", "s_nationkey", None),
    ),
]

_CIND_SQL_FILTERS = {
    "day_ge_16": "date_part('day', ts) >= 16",
    "day_le_15": "date_part('day', ts) <= 15",
    "even": "l_orderkey % 2 = 0",
    "odd": "l_orderkey % 2 = 1",
    "mod3": "o_orderkey % 3 = 0",
    None: "TRUE",
}


def _sql_cind_block(label: str, lhs, rhs) -> str:
    lt, la, lb, lf = lhs
    rt, ra, rb, rf = rhs
    return f"""
    SELECT '{label}' AS ind,
           CAST(count(*) AS BIGINT) AS n_lhs,
           CAST(SUM(CASE WHEN r.k1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing,
           CAST(CASE WHEN SUM(CASE WHEN r.k1 IS NULL THEN 1 ELSE 0 END)
                = 0 THEN 1 ELSE 0 END AS INTEGER) AS holds,
           ROUND(CAST(count(*) - SUM(CASE WHEN r.k1 IS NULL THEN 1
                 ELSE 0 END) AS DOUBLE) / count(*), 6) AS containment
    FROM (SELECT DISTINCT {la} AS k1, {lb} AS k2 FROM {lt}
          WHERE {_CIND_SQL_FILTERS[lf]}) l
    LEFT JOIN (SELECT DISTINCT {ra} AS k1, {rb} AS k2 FROM {rt}
               WHERE {_CIND_SQL_FILTERS[rf]}) r USING (k1, k2)
    """


def _cind_filter(df, tag):
    if tag is None:
        return df
    if tag == "day_ge_16":
        return df.filter(F.dayofmonth("ts") >= 16)
    if tag == "day_le_15":
        return df.filter(F.dayofmonth("ts") <= 15)
    if tag == "even":
        return df.filter(F.col("l_orderkey") % 2 == 0)
    if tag == "odd":
        return df.filter(F.col("l_orderkey") % 2 == 1)
    if tag == "mod3":
        return df.filter(F.col("o_orderkey") % 3 == 0)
    raise ValueError(tag)


@query(
    "q_composite_ind",
    "\nUNION ALL\n".join(_sql_cind_block(*c) for c in _CIND_CANDIDATES),
)
def q_composite_ind(spark, sf_dir):
    """Composite (two-column, tuple-grain) inclusion dependencies —
    the n-ary tier above q_inclusion_deps' unary verdicts, asked the
    way production asks it: does a shard/period introduce key
    COMBINATIONS the reference domain has never seen. A unary check
    cannot catch a (user, event_type) pair that is new even though
    both the user and the type were individually known — exactly what
    the first candidate certifies never happens across the day-15
    boundary (it genuinely holds on this fixture: later-half behavior
    stays inside the first-half pair domain), while the random
    lineitem split genuinely fails (~14% containment: part–supplier
    pairings don't transfer across order parity), the orders
    subsample holds structurally, and customer↔supplier is the decoy.

    Scale shape: DISTINCT-project both sides to tuple grain, one
    left-outer join per candidate at pair-key grain — distinct-tuple
    cardinality, never row count, bounds every shuffle; candidates
    union in parallel."""
    out = None
    for label, (lt, la, lb, lf), (rt, ra, rb, rf) in _CIND_CANDIDATES:
        lhs = (
            _cind_filter(load_table(spark, sf_dir, lt), lf)
            .select(F.col(la).alias("k1"), F.col(lb).alias("k2"))
            .distinct()
        )
        rhs = (
            _cind_filter(load_table(spark, sf_dir, rt), rf)
            .select(
                F.col(ra).alias("k1"),
                F.col(rb).alias("k2"),
                F.lit(1).alias("hit"),
            )
            .distinct()
        )
        miss = F.sum(
            F.when(F.col("hit").isNull(), 1).otherwise(0)
        ).cast("long")
        n = F.count(F.lit(1)).cast("long")
        block = (
            lhs.join(rhs, ["k1", "k2"], "left")
            .agg(
                F.lit(label).alias("ind"),
                n.alias("n_lhs"),
                miss.alias("n_missing"),
                F.when(miss == 0, 1).otherwise(0).cast("int").alias(
                    "holds"
                ),
                F.round((n - miss).cast("double") / n, 6).alias(
                    "containment"
                ),
            )
            .select("ind", "n_lhs", "n_missing", "holds", "containment")
        )
        out = block if out is None else out.unionByName(block)
    return out


# ---------------------------------------------------------------------------
# per-key isotonic regression (min-max identity at point grain)
# ---------------------------------------------------------------------------


@query(
    "q_isotonic_points",
    """
    WITH daily AS (
      SELECT user_id, CAST(date_part('day', ts) AS INTEGER) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT user_id, day, cents,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                  AS BIGINT) AS rn,
             CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY day)
                  AS BIGINT) AS p
      FROM daily
    ), grid AS (
      SELECT a.user_id, a.rn AS j, b.rn AS k,
             CAST(b.p - (a.p - a.cents) AS DOUBLE)
               / (b.rn - a.rn + 1) AS avgjk
      FROM idx a JOIN idx b
        ON a.user_id = b.user_id AND a.rn <= b.rn
    ), suff AS (
      SELECT user_id, j, k,
             MIN(avgjk) OVER (PARTITION BY user_id, j
                              ORDER BY k DESC) AS m
      FROM grid
    ), iso AS (
      SELECT user_id, k AS rn, MAX(m) AS iso_raw
      FROM suff GROUP BY user_id, k
    )
    SELECT i.user_id, i.rn, x.day, x.cents,
           ROUND(i.iso_raw, 6) AS iso_cents
    FROM iso i JOIN idx x ON i.user_id = x.user_id AND i.rn = x.rn
    """,
)
def q_isotonic_points(spark, sf_dir):
    """Isotonic regression at POINT grain — the least-squares
    non-decreasing fit to each user's daily-spend series via the
    min-max identity  iso(i) = max_{j≤i} min_{k≥i} mean(x_j..x_k)
    (Robertson-Wright-Dykstra 1988; same identity as the binned
    q_isotonic_calibration, now per key over the raw series). Daily
    totals are exact BIGINT cents, prefix sums make every interval
    mean ONE division of exact integers — so both engines compute
    bit-identical doubles and min/max/round commute across them.

    Scale shape: the calendar bounds every per-key series at ≤31
    points regardless of SF (more users at scale, never longer
    arrays), so the O(n³) identity is a bounded JVM array program:
    daily aggregate (one shuffle) → per-key window rank+prefix (same
    partitioning, no second exchange) → collect per key → nested
    transform/min/max over the ≤31-element array → posexplode back to
    point grain. No joins at pair grain, no UDF; the DuckDB twin runs
    the identity RELATIONALLY (j≤k self-join grid + suffix-min window
    + group max) so the green hash also certifies the array program
    against an independent formulation, and a pytest pin certifies
    the identity against stack-based PAVA in exact Fractions."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.dayofmonth("ts").cast("int").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("day")
    idx = daily.select(
        "user_id",
        "day",
        "cents",
        F.row_number().over(w).cast("long").alias("rn"),
        F.sum("cents").over(w).cast("long").alias("p"),
    )
    per_key = idx.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("rn", "day", "cents", "p"))
        ).alias("pts")
    )
    pts = F.col("pts")
    n = F.size(pts)
    pk = lambda k: F.element_at(pts, k)["p"]  # noqa: E731
    # P[j-1] as prefix-at-j minus value-at-j (avoids a 0-index branch)
    pj1 = lambda j: (  # noqa: E731
        F.element_at(pts, j)["p"] - F.element_at(pts, j)["cents"]
    )
    iso = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_max(
            F.transform(
                F.sequence(F.lit(1), i),
                lambda j: F.array_min(
                    F.transform(
                        F.sequence(i, n),
                        lambda k: (pk(k) - pj1(j)).cast("double")
                        / (k - j + 1),
                    )
                ),
            )
        ),
    )
    out = per_key.select(
        "user_id", F.posexplode(F.zip_with(pts, iso, lambda s, v: F.struct(
            s["rn"].alias("rn"), s["day"].alias("day"),
            s["cents"].alias("cents"), v.alias("iso_raw"),
        ))).alias("pos", "z"),
    )
    return out.select(
        "user_id",
        F.col("z.rn").alias("rn"),
        F.col("z.day").alias("day"),
        F.col("z.cents").alias("cents"),
        F.round(F.col("z.iso_raw"), 6).alias("iso_cents"),
    )


# ---------------------------------------------------------------------------
# sequential pattern mining (PrefixSpan-style support counting)
# ---------------------------------------------------------------------------

_SEQ_TYPES = ["click", "error", "purchase", "signup", "view"]


def _sql_seq_patterns() -> str:
    tl = ", ".join(f"'{t}'" for t in _SEQ_TYPES)
    return f"""
    WITH seqs AS (
      SELECT user_id, date_part('day', ts) AS g,
             list(event_type ORDER BY ts, event_id) AS s
      FROM events GROUP BY 1, 2
    ), types AS (SELECT unnest([{tl}]) AS t),
    cands AS (
      SELECT a.t AS a, b.t AS b, CAST(NULL AS VARCHAR) AS c
      FROM types a, types b
      UNION ALL
      SELECT a.t, b.t, c.t FROM types a, types b, types c
    ), hits AS (
      SELECT a, b, c,
             (list_position(s, a) > 0
              AND list_position(s[list_position(s, a) + 1:], b) > 0
              AND (c IS NULL OR list_position(
                    s[list_position(s, a)
                      + list_position(s[list_position(s, a) + 1:], b)
                      + 1:], c) > 0)) AS hit
      FROM seqs, cands
    )
    SELECT CASE WHEN c IS NULL THEN a || '>' || b
                ELSE a || '>' || b || '>' || c END AS pattern,
           CAST(CASE WHEN c IS NULL THEN 2 ELSE 3 END AS INTEGER)
             AS plen,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_supported,
           CAST(count(*) AS BIGINT) AS n_seqs,
           ROUND(CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS support
    FROM hits GROUP BY 1, 2
    HAVING SUM(CASE WHEN hit THEN 1 ELSE 0 END) * 100 >= count(*)
    """


@query("q_seq_patterns", _sql_seq_patterns())
def q_seq_patterns(spark, sf_dir):
    """Sequential-pattern support counting (the PrefixSpan / GSP
    question at a declared candidate tier): which length-2 and
    length-3 event-type SUBSEQUENCES — order matters, gaps allowed —
    appear in at least 1% of (user, day) sessions. The behavioral-
    sequence sibling of q_frequent_triples' unordered baskets and
    q_markov's adjacent-transition counts: "view…click…purchase"
    counts here even when other events interleave, which neither of
    those can express.

    Subsequence containment is decided GREEDILY (match each symbol at
    its earliest possible position — classic two-pointer argument:
    earliest matches dominate), so the per-sequence check is three
    array_position/slice probes on a bounded array, not a combinatorial
    search. Both engines return 0 (not NULL) for an absent element,
    which the > 0 guards make portable.

    Scale shape: one (user, day) shuffle builds the ≤|day-window|-
    bounded sequences; the 150-candidate frame (|types|² + |types|³,
    alphabet-bounded) BROADCASTS onto them, so support evaluation is
    map-side; the only other exchange carries pattern-grain partial
    counts (map-side combine over 150 keys). Day-grain sequences keep
    arrays bounded at ANY SF; the candidate tier keeps the pattern
    lattice bounded the way production sequence mining always bounds
    it (nobody mines unbounded-length patterns at 100 TB — they mine
    a candidate tier per support-pruning round)."""
    events = load_table(spark, sf_dir, "events")
    seqs = (
        events.groupBy(
            "user_id", F.dayofmonth("ts").alias("g")
        )
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda r: r["event_type"],
            ).alias("s")
        )
    )
    cands = [(a, b, None) for a in _SEQ_TYPES for b in _SEQ_TYPES] + [
        (a, b, c)
        for a in _SEQ_TYPES
        for b in _SEQ_TYPES
        for c in _SEQ_TYPES
    ]
    cdf = spark.createDataFrame(cands, "a string, b string, c string")
    s = F.col("s")
    pa = F.array_position(s, F.col("a"))
    rest_a = F.slice(s, (pa + 1).cast("int"), F.size(s))
    pb = F.array_position(rest_a, F.col("b"))
    rest_b = F.slice(s, (pa + pb + 1).cast("int"), F.size(s))
    hit = (
        (pa > 0)
        & (pb > 0)
        & (
            F.col("c").isNull()
            | (F.array_position(rest_b, F.col("c")) > 0)
        )
    )
    pattern = F.when(
        F.col("c").isNull(),
        F.concat_ws(">", "a", "b"),
    ).otherwise(F.concat_ws(">", "a", "b", "c"))
    plen = F.when(F.col("c").isNull(), 2).otherwise(3).cast("int")
    hits = seqs.crossJoin(F.broadcast(cdf)).select(
        pattern.alias("pattern"),
        plen.alias("plen"),
        hit.cast("int").alias("hit"),
    )
    agg = hits.groupBy("pattern", "plen").agg(
        F.sum("hit").cast("long").alias("n_supported"),
        F.count(F.lit(1)).cast("long").alias("n_seqs"),
    )
    return agg.filter(
        F.col("n_supported") * 100 >= F.col("n_seqs")
    ).select(
        "pattern",
        "plen",
        "n_supported",
        "n_seqs",
        F.round(
            F.col("n_supported").cast("double") / F.col("n_seqs"), 6
        ).alias("support"),
    )


# ---------------------------------------------------------------------------
# Croston's method (intermittent-demand forecasting)
# ---------------------------------------------------------------------------


@query(
    "q_croston",
    # scalar list_reduce folds are SAFE in DuckDB (the partially-
    # updated-accumulator bug q_holt_trend documents bites only
    # multi-field STRUCT states; Croston's two recurrences are
    # independent scalars, folded separately). 0.5e0 literals force
    # DOUBLE arithmetic — a bare 0.5 is DECIMAL(2,1) and the fold
    # would round to one fractional digit.
    """
    WITH pur AS (
      SELECT user_id, CAST(date_part('day', ts) AS BIGINT) AS d,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), series AS (
      SELECT user_id,
             list(CAST(cents AS DOUBLE) ORDER BY d) AS qs,
             list(CAST(d AS DOUBLE) ORDER BY d) AS ds,
             CAST(count(*) AS BIGINT) AS n
      FROM pur GROUP BY 1
    ), folded AS (
      SELECT user_id, n,
             list_reduce(qs,
               (acc, x) -> 0.5e0 * x + 0.5e0 * acc) AS z,
             list_reduce(
               [CASE WHEN i = 1 THEN ds[1]
                     ELSE ds[i] - ds[i - 1] END
                FOR i IN generate_series(1, len(ds))],
               (acc, x) -> 0.5e0 * x + 0.5e0 * acc) AS p
      FROM series
    )
    SELECT user_id, n AS n_demands,
           ROUND(z, 4) AS z_size,
           ROUND(p, 4) AS p_interval,
           ROUND(z / p, 4) AS croston,
           ROUND(0.75e0 * (z / p), 4) AS croston_sbc
    FROM folded
    """,
)
def q_croston(spark, sf_dir):
    """Croston's method (1972) for INTERMITTENT demand — the forecast
    EWMA/Holt get wrong when most periods are zero (they smear zeros
    into the level; Croston separates WHEN from HOW MUCH): one EWMA
    over the non-zero demand SIZES, one over the INTER-demand
    intervals, forecast per period = z/p, plus the Syntetos-Boylan
    bias correction (1−α/2)·z/p. Per user over the daily purchase
    grid: sizes are exact daily cents, the first interval is the
    first demand day itself (1-based), α = 0.5 so every fold halves
    exactly and both engines walk identical IEEE sequences — the two
    recurrences are independent SCALARS, folded in demand-day order
    seeded with the first element (Spark: aggregate over slice(2..),
    DuckDB: list_reduce — same convention, hash-certified).

    Scale shape: the demand filter prunes at the scan, one (user,
    day) aggregate then one per-user collect of a ≤31-element array
    (calendar-bounded at any SF), JVM-side folds, no UDF. The demand-
    planning sibling of q_holt_winters: that one needs density, this
    one exists because density is missing."""
    events = load_table(spark, sf_dir, "events")
    pur = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.dayofmonth("ts").cast("long").alias("d")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    series = pur.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("d", "cents"))).alias(
            "arr"
        )
    )
    qs = F.transform("arr", lambda r: r["cents"].cast("double"))
    ds = F.transform("arr", lambda r: r["d"].cast("double"))
    n = F.size("arr")

    def ewma_fold(xs):
        return F.aggregate(
            F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
            F.element_at(xs, 1),
            lambda acc, x: F.lit(0.5) * x + F.lit(0.5) * acc,
        )

    ivs = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.when(i == 1, F.element_at(ds, 1)).otherwise(
            F.element_at(ds, i) - F.element_at(ds, i - 1)
        ),
    )
    z = ewma_fold(qs)
    p = ewma_fold(ivs)
    return series.select(
        "user_id",
        n.cast("long").alias("n_demands"),
        F.round(z, 4).alias("z_size"),
        F.round(p, 4).alias("p_interval"),
        F.round(z / p, 4).alias("croston"),
        F.round(F.lit(0.75) * (z / p), 4).alias("croston_sbc"),
    )


# ---------------------------------------------------------------------------
# lead-lag cross-correlation (views → purchases)
# ---------------------------------------------------------------------------

_XCORR_MAX_LAG = 7


@query(
    "q_lead_lag",
    f"""
    WITH daily AS (
      SELECT CAST(date_part('day', ts) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                  END) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), lags AS (
      SELECT unnest(generate_series(0, {_XCORR_MAX_LAG})) AS lag
    ), sums AS (
      SELECT l.lag,
             CAST(count(*) AS BIGINT) AS m,
             CAST(SUM(a.x) AS BIGINT) AS sx,
             CAST(SUM(b.y) AS BIGINT) AS sy,
             CAST(SUM(a.x * a.x) AS BIGINT) AS sxx,
             CAST(SUM(b.y * b.y) AS BIGINT) AS syy,
             CAST(SUM(a.x * b.y) AS BIGINT) AS sxy
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d + l.lag
      GROUP BY 1
    )
    SELECT lag, m, sx, sy, sxx, syy, sxy,
           ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST((m * sxx - sx * sx) AS DOUBLE)
                        * (m * syy - sy * sy)), 6) AS r
    FROM sums
    """,
)
def q_lead_lag(spark, sf_dir):
    """Lead-lag cross-correlation: does view volume LEAD purchase
    volume, and by how many days — Pearson r between daily view
    counts and purchase counts shifted k = 0..7 days, the
    marketing/causal screening pass upstream of q_did/q_granger-style
    designs. Every sufficient statistic (m, Σx, Σy, Σx², Σy², Σxy per
    lag) is an exact BIGINT and RIDES THE OUTPUT ROW — the hash
    certifies the integer core, with the single double expression
    (one subtraction tree, one exact-rounded IEEE sqrt, one division,
    identical operation order in both engines) layered on top.

    Scale shape: ONE fact-scan conditional aggregate to the ≤31-row
    daily frame; the lag fan-out and shifted self-join run on that
    bounded frame (≤ 8·31 rows), so the cross-correlation matrix
    costs nothing beyond the scan regardless of SF."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(F.dayofmonth("ts").cast("long").alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("y"),
        )
        .localCheckpoint(eager=False)  # both sides of the lag join
    )
    lags = spark.range(0, _XCORR_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = daily.select(F.col("d").alias("da"), "x")
    b = daily.select(F.col("d").alias("db"), "y")
    sums = (
        lags.join(a)
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (
            F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
        ).cast("double")
        * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        "lag", "m", "sx", "sy", "sxx", "syy", "sxy",
        F.round(num / den, 6).alias("r"),
    )


# ---------------------------------------------------------------------------
# partition-pruning certificate (files-read metrics, engine-physical)
# ---------------------------------------------------------------------------

_PRUNE_YEAR = 1995


def _scan_metrics(df) -> tuple[int, int]:
    """(numFiles, numPartitions) summed over the executed plan's scan
    nodes — read AFTER an action on THIS DataFrame (each action
    re-plans, so metrics must come from the same QueryExecution that
    ran; reading them off a derived Dataset reports zeros)."""
    ep = df._jdf.queryExecution().executedPlan()
    files = parts = 0

    def walk(node):
        nonlocal files, parts
        name = node.nodeName()
        if "AdaptiveSparkPlan" in name:
            # the scan lives in the FINAL plan, not the initial child
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            # QueryStageExec wraps its stage via .plan(), children()
            # is empty — without this hop AQE plans report 0 files
            walk(node.plan())
            return
        if "Scan" in name:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numFiles":
                    files += kv._2().value()
                elif kv._1() == "numPartitions":
                    parts += kv._2().value()
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(ep)
    return files, parts


@query("q_partition_pruning_census")  # engine-physical → rows-only
def q_partition_pruning_census(spark, sf_dir):
    """Partition-pruning certificate — the STORAGE-layout sibling of
    q_join_strategy_census (what join Catalyst chose) and
    q_aqe_skew_census (did the skew split fire): write orders
    hive-partitioned by order year, read back with a year filter, and
    report the scan's ACTUAL numFiles/numPartitions runtime metrics
    against the directory's file census — the one number that tells a
    100 TB operator whether their layout turns a full-table scan into
    a one-partition read. inputFiles() does NOT see pruning (verified:
    it lists the unpruned FileIndex), so the census walks the executed
    plan's scan-node metrics after the action, from the SAME
    QueryExecution that ran.

    Three scopes: 'pruned' (partitioned read, yr = 1995 — must touch
    1 of |years| partitions), 'full' (partitioned read, no filter —
    touches all files; the denominator), 'unpartitioned_filter' (the
    same year filter on the original single-file layout — the value-
    parity anchor: identical rows and cents, every file read, which
    is exactly WHY the partitioned layout exists). Engine-physical →
    rows-only; the 1-of-N assertion and cents parity are pinned in
    pytest."""
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate")
    )
    tmp = tempfile.mkdtemp(prefix="q_partition_pruning_")
    try:
        orders.write.partitionBy("yr").mode("overwrite").parquet(tmp)
        import os

        files_on_disk = sum(
            1
            for root, _, fs in os.walk(tmp)
            for f in fs
            if f.endswith(".parquet")
        )
        part = spark.read.parquet(tmp)
        cents = F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).cast("long")
        rows = []
        for scope, df in [
            ("pruned", part.filter(F.col("yr") == _PRUNE_YEAR)),
            ("full", part),
            (
                "unpartitioned_filter",
                orders.filter(F.col("yr") == _PRUNE_YEAR),
            ),
        ]:
            agg = df.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                cents.alias("c"),
            )
            row = agg.collect()[0]
            files, parts = _scan_metrics(agg)
            rows.append(
                (
                    scope,
                    int(files_on_disk),
                    int(files),
                    int(parts),
                    int(row["n"]),
                    int(row["c"]),
                )
            )
        return spark.createDataFrame(
            rows,
            "scope string, files_on_disk long, files_read long, "
            "partitions_read long, rows long, sum_cents long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# split-conformal prediction intervals (distribution-free coverage)
# ---------------------------------------------------------------------------


@query(
    "q_conformal",
    """
    WITH ev AS (
      SELECT event_type, CAST(date_part('day', ts) AS BIGINT) AS d,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ), train AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_train,
             CAST((10000 * SUM(cents)) // count(*) AS BIGINT)
               AS pred_micro
      FROM ev WHERE d <= 20 GROUP BY 1
    ), cal AS (
      SELECT e.event_type,
             ABS(10000 * e.cents - t.pred_micro) AS resid,
             ROW_NUMBER() OVER (PARTITION BY e.event_type
                                ORDER BY ABS(10000 * e.cents
                                             - t.pred_micro)) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY e.event_type) AS BIGINT)
               AS n_cal
      FROM ev e JOIN train t USING (event_type)
      WHERE e.d BETWEEN 21 AND 25
    ), qhat AS (
      SELECT event_type, n_cal, CAST(resid AS BIGINT) AS qhat_micro
      FROM cal WHERE rk = (9 * (n_cal + 1) + 9) // 10
    ), test AS (
      SELECT e.event_type,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN ABS(10000 * e.cents - t.pred_micro)
                           <= q.qhat_micro THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_covered
      FROM ev e
      JOIN train t USING (event_type)
      JOIN qhat q USING (event_type)
      WHERE e.d >= 26 GROUP BY 1
    )
    SELECT t.event_type, t.n_train, t.pred_micro,
           q.n_cal, q.qhat_micro, s.n_test, s.n_covered,
           ROUND(CAST(s.n_covered AS DOUBLE) / s.n_test, 6) AS coverage
    FROM train t JOIN qhat q USING (event_type)
    JOIN test s USING (event_type)
    """,
)
def q_conformal(spark, sf_dir):
    """Split-conformal prediction intervals (Vovk et al.; the Papadopoulos
    2002 inductive split) — the DISTRIBUTION-FREE uncertainty wrapper
    every production predictor should ship with: train a point
    predictor on days 1-20 (per-type mean spend, floor-div micro-cents
    so it is one exact BIGINT), take the k-th smallest absolute
    calibration residual on days 21-25 with k = ⌈0.9·(n_cal+1)⌉ (the
    finite-sample-valid rank, integer arithmetic (9(n+1)+9)//10), and
    certify empirical coverage of pred ± q̂ on held-out days 26-30.
    Everything that crosses engines — predictor, residuals, rank,
    q̂, coverage counts — is an exact integer; the k-th order
    statistic is tiebreak-independent by value.

    Scale shape: one scan classifies rows into the three temporal
    splits; train/calibration/test each reduce at event-type grain
    (5 keys), with the 5-row predictor and q̂ frames broadcast back —
    the fact table travels once per split, never materializing a
    residual table wider than the calibration slice. The coverage
    guarantee (≥ 1−α in expectation, here empirically ≈ 0.9) is
    pinned in pytest."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "event_type",
        "event_id",
        F.dayofmonth("ts").cast("long").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    train = (
        ev.filter(F.col("d") <= 20)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            F.expr(
                "(10000 * sum(cents)) div count(*)"
            ).alias("pred_micro"),  # BIGINT floor-div, never double
        )
    )
    from pyspark.sql import Window

    cal = (
        ev.filter((F.col("d") >= 21) & (F.col("d") <= 25))
        .join(F.broadcast(train), "event_type")
        .select(
            "event_type",
            F.abs(
                F.lit(10000) * F.col("cents") - F.col("pred_micro")
            ).alias("resid"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("resid")
    wc = Window.partitionBy("event_type")
    qhat = (
        cal.select(
            "event_type",
            "resid",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(wc).cast("long").alias("n_cal"),
        )
        .filter(
            F.col("rk")
            == F.expr("(9 * (n_cal + 1) + 9) div 10")
        )
        .select(
            "event_type",
            "n_cal",
            F.col("resid").cast("long").alias("qhat_micro"),
        )
    )
    test = (
        ev.filter(F.col("d") >= 26)
        .join(F.broadcast(train), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(
                        F.lit(10000) * F.col("cents")
                        - F.col("pred_micro")
                    )
                    <= F.col("qhat_micro"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        train.join(qhat, "event_type")
        .join(test, "event_type")
        .select(
            "event_type",
            "n_train",
            "pred_micro",
            "n_cal",
            "qhat_micro",
            "n_test",
            "n_covered",
            F.round(
                F.col("n_covered").cast("double") / F.col("n_test"), 6
            ).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# Bradley-Terry preference strengths (quantized-exact MM iteration)
# ---------------------------------------------------------------------------

_BT_S = 100_000  # strength quantum: exact BIGINT envelope through sf10
_BT_ROUNDS = 6

_BT_MATRIX_SQL = """
    li AS (
      SELECT l_orderkey, p_brand AS b, l_quantity AS q
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ), halfm AS (
      SELECT a.b AS i, c.b AS j,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a.q > c.q THEN 1 ELSE 0 END) AS BIGINT)
               AS w
      FROM li a JOIN li c
        ON a.l_orderkey = c.l_orderkey AND a.b < c.b
      WHERE a.q <> c.q
      GROUP BY 1, 2
    ), m AS (
      SELECT i, j, n, w FROM halfm
      UNION ALL
      SELECT j, i, n, n - w FROM halfm
    ), wtot AS (
      SELECT i AS brand, CAST(SUM(w) AS BIGINT) AS wins,
             CAST(SUM(n) AS BIGINT) AS n_comp
      FROM m GROUP BY 1
    )
"""


def _sql_bradley_terry() -> str:
    s2 = _BT_S * _BT_S
    steps = [
        f"""
    r0 AS (
      SELECT brand, CAST({_BT_S} AS BIGINT) AS piq FROM wtot
    )"""
    ]
    for k in range(1, _BT_ROUNDS + 1):
        steps.append(f"""
    d{k} AS (
      SELECT m.i AS brand,
             CAST(SUM((m.n * {s2})
                      // (GREATEST(pa.piq, 1) + GREATEST(pb.piq, 1)))
                  AS BIGINT) AS d
      FROM m
      JOIN r{k - 1} pa ON m.i = pa.brand
      JOIN r{k - 1} pb ON m.j = pb.brand
      GROUP BY 1
    ), u{k} AS (
      SELECT w.brand, (w.wins * {s2}) // GREATEST(d.d, 1) AS p
      FROM wtot w JOIN d{k} d USING (brand)
    ), r{k} AS (
      SELECT brand,
             CAST((p * (COUNT(*) OVER ()) * {_BT_S})
                  // SUM(p) OVER () AS BIGINT) AS piq
      FROM u{k}
    )""")
    return f"""
    WITH {_BT_MATRIX_SQL},
    {",".join(steps)}
    SELECT w.brand, w.wins, w.n_comp, r.piq AS strength_q
    FROM wtot w JOIN r{_BT_ROUNDS} r USING (brand)
    """


@query("q_bradley_terry", _sql_bradley_terry())
def q_bradley_terry(spark, sf_dir):
    """Bradley-Terry preference strengths over pairwise quantity
    duels — the batch MLE counterpart of q_elo's sequential ratings
    and the model under every preference-data/reward-model leaderboard
    (Hunter 2004 MM iteration): within an order, the higher-quantity
    brand "wins"; strengths satisfy P(i beats j) = πᵢ/(πᵢ+πⱼ). Six MM
    sweeps πᵢ ← Wᵢ / Σⱼ nᵢⱼ/(πᵢ+πⱼ), each followed by a Σπ = N
    renormalization, all FLOOR-QUANTIZED to BIGINT strength units
    (×10⁵) exactly like q_pagerank_exact / q_betweenness_sample — so
    the entire iterative fit value-hash-matches a chained-CTE DuckDB
    twin round for round, and a float replay bounds the quantization
    error in pytest. Envelope: every product ≤ W·S² ≈ 6e17 at sf10,
    inside signed-64.

    Scale shape: the ONLY data-sized stage is the per-order brand duel
    (an equi-self-join on l_orderkey, basket-bounded fan-out, the
    q_cc_labels discipline) reduced to the ≤|brands|² = 625-cell
    matrix with map-side combine; the 6 MM sweeps run on that bounded
    frame with the 25-row strength vector broadcast back — iteration
    cost is independent of corpus size."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    lib = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == F.col("p_partkey"),
    ).select(
        "l_orderkey", F.col("p_brand").alias("b"),
        F.col("l_quantity").alias("q"),
    )
    a, c = lib.alias("a"), lib.alias("c")
    halfm = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.b") < F.col("c.b")),
        )
        .filter(F.col("a.q") != F.col("c.q"))
        .groupBy(F.col("a.b").alias("i"), F.col("c.b").alias("j"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("a.q") > F.col("c.q"), 1).otherwise(0)
            )
            .cast("long")
            .alias("w"),
        )
    )
    m = halfm.unionByName(
        halfm.select(
            F.col("j").alias("i"),
            F.col("i").alias("j"),
            "n",
            (F.col("n") - F.col("w")).alias("w"),
        )
    ).localCheckpoint(eager=True)  # reused every MM sweep
    wtot = (
        m.groupBy(F.col("i").alias("brand"))
        .agg(
            F.sum("w").cast("long").alias("wins"),
            F.sum("n").cast("long").alias("n_comp"),
        )
        .localCheckpoint(eager=True)
    )
    s2 = _BT_S * _BT_S
    pi = wtot.select(
        "brand", F.lit(_BT_S).cast("long").alias("piq")
    ).localCheckpoint(eager=True)
    for _ in range(_BT_ROUNDS):
        pa = pi.select(F.col("brand").alias("i"), F.col("piq").alias("pi_i"))
        pb = pi.select(F.col("brand").alias("j"), F.col("piq").alias("pi_j"))
        d = (
            m.join(F.broadcast(pa), "i")
            .join(F.broadcast(pb), "j")
            .groupBy(F.col("i").alias("brand"))
            .agg(
                F.sum(
                    F.expr(
                        f"(n * {s2}) div (GREATEST(pi_i, 1)"
                        " + GREATEST(pi_j, 1))"
                    )
                )
                .cast("long")
                .alias("d")
            )
        )
        u = wtot.join(d, "brand").select(
            "brand",
            F.expr(f"(wins * {s2}) div GREATEST(d, 1)").alias("p"),
        )
        pi = checkpoint_round(
            u.select(
                "brand",
                F.expr(
                    f"(p * (COUNT(*) OVER ()) * {_BT_S})"
                    " div (SUM(p) OVER ())"
                )
                .cast("long")
                .alias("piq"),
            ),
            replaces=pi,
        )
    return wtot.join(pi, "brand").select(
        "brand", "wins", "n_comp", F.col("piq").alias("strength_q")
    )


# ---------------------------------------------------------------------------
# semi-additive aggregation (closing balance, carry-forward)
# ---------------------------------------------------------------------------


@query(
    "q_semi_additive",
    """
    WITH bal AS (
      SELECT o_custkey AS c,
             CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
             o_orderdate AS d, o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), closing AS (
      SELECT c, yr, cents FROM (
        SELECT c, yr, cents,
               ROW_NUMBER() OVER (PARTITION BY c, yr
                                  ORDER BY d DESC, k DESC) AS rn
        FROM bal) WHERE rn = 1
    ), grid AS (
      SELECT c, yr FROM (SELECT DISTINCT c FROM bal),
                        (SELECT DISTINCT yr FROM bal)
    ), carried AS (
      SELECT g.c, g.yr,
             cl.cents AS closing_cents,
             LAST_VALUE(cl.cents IGNORE NULLS) OVER (
               PARTITION BY g.c ORDER BY g.yr
               ROWS UNBOUNDED PRECEDING) AS balance_cents
      FROM grid g LEFT JOIN closing cl
        ON g.c = cl.c AND g.yr = cl.yr
    ), naive AS (
      SELECT yr, CAST(SUM(cents) AS BIGINT) AS naive_sum_cents
      FROM bal GROUP BY 1
    )
    SELECT ca.yr,
           CAST(COUNT(ca.balance_cents) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN ca.closing_cents IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
           CAST(SUM(CASE WHEN ca.closing_cents IS NULL
                    AND ca.balance_cents IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_carried,
           CAST(SUM(ca.balance_cents) AS BIGINT) AS balance_total_cents,
           n.naive_sum_cents
    FROM carried ca JOIN naive n USING (yr)
    GROUP BY ca.yr, n.naive_sum_cents
    """,
)
def q_semi_additive(spark, sf_dir):
    """Semi-additive measure aggregation — the OLAP pattern plain SUM
    gets WRONG for stock-like measures (balances, inventory levels,
    subscriber counts): treating each order's total as the customer's
    new account balance, the yearly company-wide balance is the sum
    over customers of each one's LAST KNOWN balance — closing balance
    per (customer, year), carried forward through inactive years
    (LAST_VALUE ... IGNORE NULLS over the dense customer×year grid,
    the gap_fill idiom at period grain) — NOT the sum of that year's
    transactions, which the naive_sum_cents column carries alongside
    precisely to show the divergence. n_active vs n_carried make the
    carry-forward volume auditable.

    Scale shape: one window over (customer, year) picks closings, the
    dense grid is |customers|×|years| (never row-grain), and the
    carry-forward window rides the same customer partitioning as the
    grid join — one data-sized shuffle plus bounded-frame work; all
    cents exact BIGINT."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    bal = orders.select(
        F.col("o_custkey").alias("c"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "cents"
        ),
    ).localCheckpoint(eager=False)  # closings + naive share the scan
    w = Window.partitionBy("c", "yr").orderBy(
        F.desc("d"), F.desc("k")
    )
    closing = (
        bal.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c", "yr", "cents")
    )
    grid = (
        bal.select("c")
        .distinct()
        .crossJoin(F.broadcast(bal.select("yr").distinct()))
    )
    wc = (
        Window.partitionBy("c")
        .orderBy("yr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = grid.join(
        closing.withColumnRenamed("cents", "closing_cents"),
        ["c", "yr"],
        "left",
    ).withColumn(
        "balance_cents",
        F.last("closing_cents", ignorenulls=True).over(wc),
    )
    naive = bal.groupBy("yr").agg(
        F.sum("cents").cast("long").alias("naive_sum_cents")
    )
    out = carried.groupBy("yr").agg(
        F.count("balance_cents").cast("long").alias("n_customers"),
        F.sum(
            F.when(F.col("closing_cents").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_active"),
        F.sum(
            F.when(
                F.col("closing_cents").isNull()
                & F.col("balance_cents").isNotNull(),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_carried"),
        F.sum("balance_cents").cast("long").alias(
            "balance_total_cents"
        ),
    )
    return out.join(F.broadcast(naive), "yr").select(
        "yr",
        "n_customers",
        "n_active",
        "n_carried",
        "balance_total_cents",
        "naive_sum_cents",
    )


# ---------------------------------------------------------------------------
# banded dynamic time warping (anti-diagonal wavefront DP)
# ---------------------------------------------------------------------------

_DTW_INF = 1 << 50  # unreachable-cell sentinel; real costs ≤ ~3e8


@query(
    "q_dtw",
    f"""
    WITH RECURSIVE daily AS (
      SELECT user_id, CAST(date_part('day', ts) AS BIGINT) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ), xs AS (
      SELECT user_id, list(cents ORDER BY day) AS x,
             CAST(len(list(cents ORDER BY day)) AS BIGINT) AS n
      FROM daily GROUP BY 1
    ), ref AS (
      SELECT list(rc ORDER BY day) AS r, CAST(count(*) AS BIGINT) AS m
      FROM (SELECT day,
                   CAST(SUM(cents) // (SELECT count(*) FROM xs)
                        AS BIGINT) AS rc
            FROM daily GROUP BY day)
    ), base AS (
      SELECT x.user_id, x.x, x.n, ref.r, ref.m,
             ABS(x.n - ref.m) + 3 AS w
      FROM xs x CROSS JOIN ref
    ), it AS (
      SELECT user_id, x, n, r, m, w, 0 AS d,
             [CASE WHEN i = 0 THEN 0 ELSE {_DTW_INF} END
              FOR i IN generate_series(0, n)] AS prev,
             [{_DTW_INF} FOR i IN generate_series(0, n)] AS prev2
      FROM base
      UNION ALL
      SELECT user_id, x, n, r, m, w, d + 1,
             [CASE WHEN i >= 1 AND d + 1 - i >= 1 AND d + 1 - i <= m
                        AND ABS(i - (d + 1 - i)) <= w
                   THEN ABS(x[i] - r[d + 1 - i])
                        + LEAST(prev[i], prev[i + 1], prev2[i])
                   ELSE {_DTW_INF} END
              FOR i IN generate_series(0, n)] AS prev,
             prev AS prev2
      FROM it WHERE d < n + m
    )
    SELECT user_id, n, m, prev[n + 1] AS dtw_cost
    FROM it WHERE d = n + m
    """,
)
def q_dtw(spark, sf_dir):
    """Banded dynamic time warping (Sakoe-Chiba 1978) between each
    user's daily-spend series and the fleet reference series (global
    daily total floor-div #users) — THE time-series similarity measure
    Euclidean distance gets wrong under phase shift, here with the
    band w = |n−m|+3 that makes it affordable and always feasible.

    The DP has an intra-row dependency (dp[i][j] needs dp[i][j−1]),
    which no per-row fold can express — but cells on one
    ANTI-DIAGONAL i+j = d depend only on diagonals d−1 and d−2, so
    the whole table is a sequential fold over ≤ n+m wavefronts whose
    accumulator is just the last two diagonals, each cell computed
    independently inside the wavefront (a list comprehension in the
    DuckDB recursive twin, a transform() inside aggregate() in
    Spark). All costs are exact BIGINT cents; out-of-band cells carry
    a 2⁵⁰ sentinel that any finite path beats, so the hash certifies
    every wavefront of the iterative computation. The same wavefront
    template unlocks every banded alignment DP (edit scripts,
    Needleman-Wunsch) as a bounded JVM array program.

    Scale shape: one (user, day) aggregate, one per-user collect of a
    calendar-bounded (≤31) array, the 1-row reference frame broadcast
    by crossJoin; the O(n·m) table never materializes — per key the
    fold carries O(n) state through n+m steps, all in codegen."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.dayofmonth("ts").cast("long").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    ).localCheckpoint(eager=False)  # xs + ref share it
    xs = daily.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"],
        ).alias("x")
    ).withColumn("n", F.size("x").cast("long"))
    n_users = xs.agg(F.count(F.lit(1)).alias("nu"))
    ref = (
        daily.groupBy("day")
        .agg(F.sum("cents").alias("tc"))
        .crossJoin(F.broadcast(n_users))
        .select("day", F.expr("tc div nu").alias("rc"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "rc"))),
                lambda s: s["rc"],
            ).alias("r")
        )
        .withColumn("m", F.size("r").cast("long"))
    )
    base = xs.crossJoin(F.broadcast(ref)).withColumn(
        "w", F.abs(F.col("n") - F.col("m")) + 3
    )
    INF = F.lit(_DTW_INF).cast("long")
    x, r = F.col("x"), F.col("r")
    n, m, w = F.col("n"), F.col("m"), F.col("w")
    idx = F.sequence(F.lit(0).cast("long"), n)
    diag0 = F.transform(
        idx, lambda i: F.when(i == 0, F.lit(0).cast("long")).otherwise(INF)
    )
    infs = F.transform(idx, lambda i: INF)

    def step(acc, d):
        prev, prev2 = acc["p"], acc["q"]
        new = F.transform(
            idx,
            lambda i: F.when(
                (i >= 1)
                & (d - i >= 1)
                & (d - i <= m)
                & (F.abs(i - (d - i)) <= w),
                F.abs(
                    F.element_at(x, i.cast("int"))
                    - F.element_at(r, (d - i).cast("int"))
                )
                + F.least(
                    F.element_at(prev, i.cast("int")),
                    F.element_at(prev, (i + 1).cast("int")),
                    F.element_at(prev2, i.cast("int")),
                ),
            ).otherwise(INF),
        )
        return F.struct(new.alias("p"), prev.alias("q"))

    final = F.aggregate(
        F.sequence(F.lit(1).cast("long"), n + m),
        F.struct(diag0.alias("p"), infs.alias("q")),
        step,
    )
    return base.select(
        "user_id",
        "n",
        "m",
        F.element_at(final["p"], (n + 1).cast("int")).alias("dtw_cost"),
    )


# ---------------------------------------------------------------------------
# Viterbi decode (max-plus HMM, integer-exact)
# ---------------------------------------------------------------------------

# 2-state HMM (0 = browse, 1 = buy-intent) with log-probabilities
# PRE-QUANTIZED to micro-nat integer literals (the SPRT idiom: no
# engine evaluates ln at query time; the quantized model IS the spec).
_VIT_A = {  # transition ln P ×1e6
    (0, 0): -223144, (0, 1): -1609438,   # browse: stay .8 / leave .2
    (1, 0): -1203973, (1, 1): -356675,   # intent: back .3 / stay .7
}
_VIT_INIT = (-510826, -916291)           # ln .6 / ln .4
_VIT_B0 = {"view": -1203973, "click": -1203973, "signup": -1897120,
           "error": -1897120, "purchase": -2302585}
_VIT_B1 = {"view": -1897120, "click": -1386294, "signup": -2302585,
           "error": -2302585, "purchase": -916291}


def _sql_emission(col: str, table: dict) -> str:
    cases = " ".join(
        f"WHEN {col} = '{k}' THEN {v}" for k, v in table.items()
    )
    return f"CASE {cases} END"


def _sql_viterbi() -> str:
    a = _VIT_A
    return f"""
    WITH RECURSIVE vals AS (
      SELECT user_id,
             list(event_type ORDER BY ts, event_id) AS obs,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ), emit AS (
      SELECT user_id, n,
             [{_sql_emission('o', _VIT_B0)}
              FOR o IN obs] AS b0,
             [{_sql_emission('o', _VIT_B1)}
              FOR o IN obs] AS b1
      FROM vals
    ), it AS (
      SELECT user_id, n, b0, b1, 1 AS k,
             CAST({_VIT_INIT[0]} + b0[1] AS BIGINT) AS v0,
             CAST({_VIT_INIT[1]} + b1[1] AS BIGINT) AS v1,
             CAST(0 AS BIGINT) AS c0, CAST(1 AS BIGINT) AS c1
      FROM emit
      UNION ALL
      -- it.-qualified reads everywhere: DuckDB supports lateral
      -- column aliases, so a bare v0 after "... AS v0" could bind to
      -- the NEW value and corrupt the recurrence silently
      SELECT it.user_id, it.n, it.b0, it.b1, it.k + 1,
             GREATEST(it.v0 + {a[(0, 0)]}, it.v1 + {a[(1, 0)]})
               + it.b0[it.k + 1] AS v0,
             GREATEST(it.v0 + {a[(0, 1)]}, it.v1 + {a[(1, 1)]})
               + it.b1[it.k + 1] AS v1,
             CASE WHEN it.v0 + {a[(0, 0)]} >= it.v1 + {a[(1, 0)]}
                  THEN it.c0 ELSE it.c1 END AS c0,
             CASE WHEN it.v0 + {a[(0, 1)]} >= it.v1 + {a[(1, 1)]}
                  THEN it.c0 ELSE it.c1 END + 1 AS c1
      FROM it WHERE it.k < it.n
    )
    SELECT user_id, n AS n_events, v0, v1,
           CAST(CASE WHEN v0 >= v1 THEN 0 ELSE 1 END AS INTEGER)
             AS best_state,
           CASE WHEN v0 >= v1 THEN c0 ELSE c1 END AS intent_steps
    FROM it WHERE k = n
    """


@query("q_viterbi", _sql_viterbi())
def q_viterbi(spark, sf_dir):
    """Viterbi decode (max-plus HMM) over each user's event-type
    sequence — the sequence-labeling primitive under bot detection,
    intent segmentation, and every CRF-style tagger: which hidden
    browse/buy-intent path best explains the observed events. The
    recurrence vₜ[j] = maxᵢ(vₜ₋₁[i] + A[i][j]) + B[j][obsₜ] runs in
    the MAX-PLUS semiring on micro-nat INTEGER log-probabilities
    (pre-quantized literals, the SPRT no-transcendentals idiom), so
    every step is exact 64-bit arithmetic and the whole decode — the
    q_sssp relaxation algebra applied along a sequence instead of a
    graph — value-hash-matches the recursive-CTE twin. Alongside the
    two scores the fold carries the intent-step COUNT of the best
    path into each state (the augmented-DP alternative to a backward
    backtrace; argmax ties break toward state 0 by >= in BOTH
    engines), so the output certifies the decoded path's shape, not
    just its score. max-score magnitude ≤ n·3.5e6 ≈ 3e8 — overflow-
    proof at any plausible sequence length.

    Scale shape: one per-user collect of the ordered type sequence,
    emissions precomputed as integer arrays, one JVM fold — no UDF,
    no per-step shuffle; the DuckDB twin advances all users together
    one step per CTE round (struct-free scalar fields, immune to the
    list_reduce partial-update hazard q_holt_trend documents)."""
    events = load_table(spark, sf_dir, "events")
    vals = events.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ).alias("obs")
    ).withColumn("n", F.size("obs").cast("long"))

    def emis(table):
        def f(o):
            expr = None
            for k, v in table.items():
                cond = o == k
                expr = (
                    F.when(cond, F.lit(v).cast("long"))
                    if expr is None
                    else expr.when(cond, F.lit(v).cast("long"))
                )
            return expr

        return f

    base = vals.select(
        "user_id",
        "n",
        F.transform("obs", emis(_VIT_B0)).alias("b0"),
        F.transform("obs", emis(_VIT_B1)).alias("b1"),
    )
    a = _VIT_A
    b0, b1 = F.col("b0"), F.col("b1")
    seed = F.struct(
        (F.lit(_VIT_INIT[0]).cast("long") + F.element_at(b0, 1)).alias(
            "v0"
        ),
        (F.lit(_VIT_INIT[1]).cast("long") + F.element_at(b1, 1)).alias(
            "v1"
        ),
        F.lit(0).cast("long").alias("c0"),
        F.lit(1).cast("long").alias("c1"),
    )

    def step(acc, k):
        t00 = acc["v0"] + F.lit(a[(0, 0)])
        t10 = acc["v1"] + F.lit(a[(1, 0)])
        t01 = acc["v0"] + F.lit(a[(0, 1)])
        t11 = acc["v1"] + F.lit(a[(1, 1)])
        return F.struct(
            (F.greatest(t00, t10) + F.element_at(b0, k.cast("int"))).alias(
                "v0"
            ),
            (F.greatest(t01, t11) + F.element_at(b1, k.cast("int"))).alias(
                "v1"
            ),
            F.when(t00 >= t10, acc["c0"]).otherwise(acc["c1"]).alias(
                "c0"
            ),
            (
                F.when(t01 >= t11, acc["c0"]).otherwise(acc["c1"]) + 1
            ).alias("c1"),
        )

    final = F.aggregate(
        F.sequence(F.lit(2).cast("long"), F.col("n")), seed, step
    )
    return base.select(
        "user_id",
        F.col("n").alias("n_events"),
        final["v0"].alias("v0"),
        final["v1"].alias("v1"),
        F.when(final["v0"] >= final["v1"], 0)
        .otherwise(1)
        .cast("int")
        .alias("best_state"),
        F.when(final["v0"] >= final["v1"], final["c0"])
        .otherwise(final["c1"])
        .alias("intent_steps"),
    )


# ---------------------------------------------------------------------------
# partial autocorrelation (Durbin-Levinson recursion)
# ---------------------------------------------------------------------------

_PACF_K = 7

# The Durbin-Levinson fold, spelled once: every sum is seeded-fold-
# subtract in ascending j2 order in BOTH engines, so the float walks
# are IEEE-identical; autocovariances are exact BIGINTs (n-scaled
# cross products (n·xₜ−S)(n·xₜ₊ₖ−S), no float mean).
_PACF_PKK = """list_reduce([it.r[it.k + 1]]
              || [it.phi[j2] * it.r[it.k + 1 - j2]
                  FOR j2 IN generate_series(1, it.k)],
              (acc, t) -> acc - t)
            / list_reduce([CAST(1.0 AS DOUBLE)]
              || [it.phi[j2] * it.r[j2]
                  FOR j2 IN generate_series(1, it.k)],
              (acc, t) -> acc - t)"""


def _sql_pacf() -> str:
    k = _PACF_K
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(date_part('day', ts) AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), ser AS (
      SELECT event_type, list(x ORDER BY day) AS xs,
             CAST(len(list(x ORDER BY day)) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s
      FROM daily GROUP BY 1
    ), cks AS (
      SELECT event_type, n,
             [CAST(list_sum([ (n * xs[t] - s) * (n * xs[t + kk] - s)
                    FOR t IN generate_series(1, n - kk)]) AS BIGINT)
              FOR kk IN generate_series(0, {k})] AS ck
      FROM ser
    ), rs AS (
      SELECT event_type, n, ck,
             [CAST(ck[kk + 2] AS DOUBLE) / ck[1]
              FOR kk IN generate_series(0, {k - 1})] AS r
      FROM cks
    ), it AS (
      SELECT event_type, n, ck, r, 1 AS k,
             [r[1]] AS phi, [r[1]] AS pacf
      FROM rs
      UNION ALL
      SELECT it.event_type, it.n, it.ck, it.r, it.k + 1,
             [it.phi[j] - ({_PACF_PKK}) * it.phi[it.k + 1 - j]
              FOR j IN generate_series(1, it.k)]
             || [{_PACF_PKK}] AS phi,
             it.pacf || [{_PACF_PKK}] AS pacf
      FROM it WHERE it.k < {k}
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag,
           ck[lag + 1] AS ck_scaled,
           ROUND(r[lag], 6) AS acf,
           ROUND(pacf[lag], 6) AS pacf
    FROM it, unnest(generate_series(1, {k})) AS u(lag)
    WHERE k = {k}
    """


@query("q_pacf", _sql_pacf())
def q_pacf(spark, sf_dir):
    """Partial autocorrelation function via the Durbin-Levinson
    recursion — the AR-order selection tool that completes the
    repo's correlogram suite (q_autocorrelation gives the ACF,
    q_ljung_box its joint significance; PACF is what actually tells
    you p in AR(p): the correlation at lag k AFTER the shorter-lag
    structure is regressed away). Autocovariances are EXACT BIGINTs
    — n-scaled cross products (n·xₜ−S)(n·xₜ₊ₖ−S) avoid the float
    mean entirely — so the acf ratios are single divisions of exact
    integers, and the Levinson recursion's float walk is seeded-fold-
    subtract in ascending-j order in both engines: bit-identical,
    hash-certified through all 7 recursion levels (the ck_scaled
    column rides along so the hash also pins the integer core).

    Scale shape: one (type, day) aggregate, 5 calendar-bounded
    series, everything after the scan is bounded array programs; the
    per-type series never exceeds the 31-day window at any SF."""
    events = load_table(spark, sf_dir, "events")
    K = _PACF_K
    daily = events.groupBy(
        "event_type", F.dayofmonth("ts").cast("long").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    ser = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "x"))),
                lambda s: s["x"],
            ).alias("xs")
        )
        .withColumn("n", F.size("xs").cast("long"))
        .withColumn(
            "s",
            F.aggregate(
                "xs", F.lit(0).cast("long"), lambda a, x: a + x
            ),
        )
    )
    xs, n, s = F.col("xs"), F.col("n"), F.col("s")
    ck = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(K).cast("long")),
        lambda kk: F.aggregate(
            F.sequence(F.lit(1).cast("long"), n - kk),
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + (n * F.element_at(xs, t.cast("int")) - s)
            * (n * F.element_at(xs, (t + kk).cast("int")) - s),
        ),
    )
    base = ser.withColumn("ck", ck).withColumn(
        "r",
        F.transform(
            F.sequence(
                F.lit(0).cast("long"), F.lit(K - 1).cast("long")
            ),
            lambda kk: F.element_at(
                F.col("ck"), (kk + 2).cast("int")
            ).cast("double")
            / F.element_at(F.col("ck"), 1),
        ),
    )
    r = F.col("r")

    def step(acc, k):
        phi = acc["phi"]
        num = F.aggregate(
            F.transform(
                F.sequence(F.lit(1).cast("long"), k - 1),
                lambda j2: F.element_at(phi, j2.cast("int"))
                * F.element_at(r, (k - j2).cast("int")),
            ),
            F.element_at(r, k.cast("int")),
            lambda a, t: a - t,
        )
        den = F.aggregate(
            F.transform(
                F.sequence(F.lit(1).cast("long"), k - 1),
                lambda j2: F.element_at(phi, j2.cast("int"))
                * F.element_at(r, j2.cast("int")),
            ),
            F.lit(1.0),
            lambda a, t: a - t,
        )
        pkk = num / den
        newphi = F.concat(
            F.transform(
                F.sequence(F.lit(1).cast("long"), k - 1),
                lambda j: F.element_at(phi, j.cast("int"))
                - pkk * F.element_at(phi, (k - j).cast("int")),
            ),
            F.array(pkk),
        )
        return F.struct(
            newphi.alias("phi"),
            F.concat(acc["pacf"], F.array(pkk)).alias("pacf"),
        )

    seed = F.struct(
        F.array(F.element_at(r, 1)).alias("phi"),
        F.array(F.element_at(r, 1)).alias("pacf"),
    )
    final = F.aggregate(
        F.sequence(F.lit(2).cast("long"), F.lit(K).cast("long")),
        seed,
        step,
    )
    out = base.withColumn("pacf_arr", final["pacf"]).select(
        "event_type",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1).cast("long"), F.lit(K).cast("long")
                ),
                lambda lag: F.struct(
                    lag.alias("lag"),
                    F.element_at(
                        F.col("ck"), (lag + 1).cast("int")
                    ).alias("ck_scaled"),
                    F.round(
                        F.element_at(F.col("r"), lag.cast("int")), 6
                    ).alias("acf"),
                    F.round(
                        F.element_at(
                            F.col("pacf_arr"), lag.cast("int")
                        ),
                        6,
                    ).alias("pacf"),
                ),
            )
        ).alias("pos", "z"),
    )
    return out.select(
        "event_type",
        F.col("z.lag").alias("lag"),
        F.col("z.ck_scaled").alias("ck_scaled"),
        F.col("z.acf").alias("acf"),
        F.col("z.pacf").alias("pacf"),
    )


# ---------------------------------------------------------------------------
# ridge regression (closed-form, exact cross-multiplied normal equations)
# ---------------------------------------------------------------------------

_RIDGE_LAM = 100


@query(
    "q_ridge",
    f"""
    WITH base AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(l_quantity) AS BIGINT) AS sx1,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT))
                  AS BIGINT) AS sx2,
             CAST(SUM(CAST(ROUND(l_extendedprice) AS BIGINT))
                  AS BIGINT) AS sy,
             CAST(SUM(l_quantity * l_quantity) AS BIGINT) AS sx1x1,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
                      * CAST(ROUND(l_discount * 100) AS BIGINT))
                  AS BIGINT) AS sx2x2,
             CAST(SUM(l_quantity
                      * CAST(ROUND(l_discount * 100) AS BIGINT))
                  AS BIGINT) AS sx1x2,
             CAST(SUM(l_quantity
                      * CAST(ROUND(l_extendedprice) AS BIGINT))
                  AS BIGINT) AS sx1y,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
                      * CAST(ROUND(l_extendedprice) AS BIGINT))
                  AS BIGINT) AS sx2y
      FROM lineitem
    ), d AS (
      SELECT n, sx1, sx2, sy, sx1y, sx2y,
             CAST(n AS DECIMAL(38,0)) * sx1x1
               - CAST(sx1 AS DECIMAL(38,0)) * sx1 AS a11,
             CAST(n AS DECIMAL(38,0)) * sx2x2
               - CAST(sx2 AS DECIMAL(38,0)) * sx2 AS a22,
             CAST(n AS DECIMAL(38,0)) * sx1x2
               - CAST(sx1 AS DECIMAL(38,0)) * sx2 AS a12,
             CAST(n AS DECIMAL(38,0)) * sx1y
               - CAST(sx1 AS DECIMAL(38,0)) * sy AS b1,
             CAST(n AS DECIMAL(38,0)) * sx2y
               - CAST(sx2 AS DECIMAL(38,0)) * sy AS b2,
             CAST({_RIDGE_LAM} AS DECIMAL(38,0)) * n AS lam
      FROM base
    ), betas AS (
      SELECT n, sx1, sx2, sy, sx1y, sx2y,
             CAST(b1 * (a22 + lam) - b2 * a12 AS DOUBLE)
               / CAST((a11 + lam) * (a22 + lam) - a12 * a12
                      AS DOUBLE) AS beta1,
             CAST(b2 * (a11 + lam) - b1 * a12 AS DOUBLE)
               / CAST((a11 + lam) * (a22 + lam) - a12 * a12
                      AS DOUBLE) AS beta2
      FROM d
    )
    SELECT n, sx1y, sx2y,
           ROUND(beta1, 6) AS beta_qty,
           ROUND(beta2, 6) AS beta_disc,
           ROUND((CAST(sy AS DOUBLE) - beta1 * sx1 - beta2 * sx2)
                 / n, 6) AS intercept
    FROM betas
    """,
)
def q_ridge(spark, sf_dir):
    """Two-feature ridge regression (price ~ quantity + discount, λ =
    100) in CLOSED FORM on cross-multiplied exact normal equations —
    distributed linear modeling with zero iteration and zero float
    accumulation: the map-side-combined base sums are exact BIGINTs
    (y in whole dollars keeps Σx·y inside int64 through sf10), the
    n-scaled centered Gram entries (n·Sxx − Sx², + λ·n on the
    diagonal — note λ·n, NOT λ·n²: the scaled system is n·(Gram+λI))
    are exact DECIMAL(38,0) — 2×2 Cramer numerators peak ~1.3e36 at
    sf10, inside 38 digits — and the ONLY floats are two final
    divisions of exact decimals plus the intercept expression,
    written in identical operation order in both engines. The exact
    sx1y/sx2y ride the output row so the hash pins the integer core.
    Verified against numpy's centered ridge solve in pytest.

    Scale shape: ONE fact-scan aggregate (9 sums, map-side combine) →
    a single-row closed-form solve. The regression every fleet-size
    dataset can afford because it never materializes X."""
    li = load_table(spark, sf_dir, "lineitem")
    x2 = F.round(F.col("l_discount") * 100).cast("long")
    y = F.round(F.col("l_extendedprice")).cast("long")
    x1 = F.col("l_quantity").cast("long")
    base = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1).cast("long").alias("sx1"),
        F.sum(x2).cast("long").alias("sx2"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x1 * x1).cast("long").alias("sx1x1"),
        F.sum(x2 * x2).cast("long").alias("sx2x2"),
        F.sum(x1 * x2).cast("long").alias("sx1x2"),
        F.sum(x1 * y).cast("long").alias("sx1y"),
        F.sum(x2 * y).cast("long").alias("sx2y"),
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    d = base.select(
        "n", "sx1", "sx2", "sy", "sx1y", "sx2y",
        (dec(F.col("n")) * F.col("sx1x1")
         - dec(F.col("sx1")) * F.col("sx1")).alias("a11"),
        (dec(F.col("n")) * F.col("sx2x2")
         - dec(F.col("sx2")) * F.col("sx2")).alias("a22"),
        (dec(F.col("n")) * F.col("sx1x2")
         - dec(F.col("sx1")) * F.col("sx2")).alias("a12"),
        (dec(F.col("n")) * F.col("sx1y")
         - dec(F.col("sx1")) * F.col("sy")).alias("b1"),
        (dec(F.col("n")) * F.col("sx2y")
         - dec(F.col("sx2")) * F.col("sy")).alias("b2"),
        (dec(F.lit(_RIDGE_LAM)) * F.col("n")).alias("lam"),
    )
    det = (
        (F.col("a11") + F.col("lam")) * (F.col("a22") + F.col("lam"))
        - F.col("a12") * F.col("a12")
    ).cast("double")
    betas = d.select(
        "n", "sx1", "sx2", "sy", "sx1y", "sx2y",
        (
            (
                F.col("b1") * (F.col("a22") + F.col("lam"))
                - F.col("b2") * F.col("a12")
            ).cast("double")
            / det
        ).alias("beta1"),
        (
            (
                F.col("b2") * (F.col("a11") + F.col("lam"))
                - F.col("b1") * F.col("a12")
            ).cast("double")
            / det
        ).alias("beta2"),
    )
    return betas.select(
        "n", "sx1y", "sx2y",
        F.round("beta1", 6).alias("beta_qty"),
        F.round("beta2", 6).alias("beta_disc"),
        F.round(
            (
                F.col("sy").cast("double")
                - F.col("beta1") * F.col("sx1")
                - F.col("beta2") * F.col("sx2")
            )
            / F.col("n"),
            6,
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# stream-stream LEFT OUTER join watermark-expiry census
# ---------------------------------------------------------------------------


@query("q_stream_outer_join")  # real availableNow stream → rows-only
def q_stream_outer_join(spark, sf_dir):
    """Stream-stream LEFT OUTER join watermark-expiry certificate —
    the half of stream-join semantics q_stream_join's inner census
    can't see: an unmatched left row emits its null only once the
    watermark PROVES no match can still arrive, so append-mode outer
    ≠ batch outer while the stream is live. The census certifies the
    exact three-way decomposition (matched rows multiset-equal to
    batch; nulls ⊆ batch-unmatched with zero phantoms; every withheld
    row inside the expiry-horizon tail) and that nulls DID flow
    (availableNow's final no-data micro-batch advances the watermark
    — disabled in the other censuses' confs, REQUIRED here;
    streaming/joins.outer_join_report)."""
    from ..streaming.joins import outer_join_report

    return outer_join_report(spark, sf_dir)
