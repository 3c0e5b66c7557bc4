"""Round-10 queries.

Opens with the weighted-jaccard scale escape hatch ordered by VERDICT r9
item #4: ``q_weighted_jaccard`` is the one remaining exact-quadratic plan
whose measured skew cliff (5.83× under a Zipf hot key, the worst cell in
BENCH_SF1_SKEW) had a documented but UNIMPLEMENTED degree-cap sibling.
``q_weighted_jaccard_approx`` runs the identical Σmin/(tot_a+tot_b−Σmin)
pipeline on the md5-degree-capped weighted edge list (the
q_graph_jaccard_approx twin discipline — operators/basket.
degree_capped_edges with the adaptive p95 cap), and
``q_weighted_jaccard_recall`` is the driver-visible quality certificate
comparing the capped top-50 pair set against the exact top-50.

The md5 sampler is portable hex in both engines, so the capped subgraph
— and the weighted similarity computed on it — is fully
DuckDB-oracle-checkable: the approximation lives in the graph, not the
engine. Totals AND intersections both come from the capped subgraph
(within-sample consistency — capping only intersections while keeping
exact totals biases WJ downward on capped keys; same negative result as
the unweighted twin, operators/basket.cooccurrence_pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..io import load_table, load_tables
from ..operators.basket import degree_capped_edges
from .registry import query
from .roundseven_queries import (
    _GJ_MIN_CAP,
    _SQL_RECALL_TAIL,
    _adaptive_cap,
    _memo_sim,
    _set_recall,
)

# ---------------------------------------------------------------------------
# weighted (cust, supp, qty) edge list + capped twin, memoized like the
# unweighted CF/jaccard chain (one materialization per sweep)
# ---------------------------------------------------------------------------

_SQL_W = """w AS (
      SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    )"""

# Degree-adaptive p95 cap over the weighted edge list — the (cust, supp)
# key set of `w` equals the unweighted `cs` exactly (same join, same
# DISTINCT pair grain), so the cap value matches q_graph_jaccard_approx's
# and the same md5(cust:supp) order picks the same surviving edges.
_SQL_WCAPPED = f"""wdegc AS (
      SELECT cust, CAST(COUNT(*) AS BIGINT) AS dc FROM w GROUP BY 1
    ), wdhist AS (
      SELECT dc, CAST(COUNT(*) AS BIGINT) AS c FROM wdegc GROUP BY 1
    ), wdthr AS (
      SELECT CAST((19 * SUM(c) + 19) // 20 AS BIGINT) AS k FROM wdhist
    ), wcapv AS (
      SELECT GREATEST(MIN(dc), {_GJ_MIN_CAP}) AS cap
      FROM (SELECT dc, SUM(c) OVER (ORDER BY dc) AS cum FROM wdhist), wdthr
      WHERE cum >= k
    ), wcapped AS (
      SELECT cust, supp, qty FROM (
        SELECT cust, supp, qty,
               ROW_NUMBER() OVER (
                 PARTITION BY cust
                 ORDER BY md5(CAST(cust AS VARCHAR) || ':'
                              || CAST(supp AS VARCHAR)), supp
               ) AS rk
        FROM w)
      WHERE rk <= (SELECT cap FROM wcapv)
    )"""


def _sql_wtop50(edge_cte: str, tag: str) -> str:
    """CTE chain wtot{tag}/winter{tag}/wtop{tag}: top-50 supplier pairs
    by quantity-weighted Jaccard over a (cust, supp, qty) edge CTE —
    q_weighted_jaccard's exact math (roundeight_queries.py),
    parameterized on the edge set."""
    return f"""wtot{tag} AS (
      SELECT supp, CAST(SUM(qty) AS BIGINT) AS t FROM {edge_cte} GROUP BY 1
    ), winter{tag} AS (
      SELECT a.supp AS s1, b.supp AS s2,
             CAST(SUM(LEAST(a.qty, b.qty)) AS BIGINT) AS minsum,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM {edge_cte} a JOIN {edge_cte} b
        ON a.cust = b.cust AND a.supp < b.supp
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ), wtop{tag} AS (
      SELECT i.s1, i.s2, i.n_shared,
             ROUND(CAST(i.minsum AS DOUBLE)
                   / (t1.t + t2.t - i.minsum), 6) AS wjaccard
      FROM winter{tag} i
      JOIN wtot{tag} t1 ON i.s1 = t1.supp
      JOIN wtot{tag} t2 ON i.s2 = t2.supp
      ORDER BY wjaccard DESC, i.s1, i.s2
      LIMIT 50
    )"""


def _w_edges(spark, sf_dir) -> DataFrame:
    """Memoized (cust, supp, qty) weighted edge list (exact integer
    quantities; one orders⋈lineitem grouped pass)."""

    def build():
        orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
        return (
            orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            .groupBy(
                F.col("o_custkey").alias("cust"),
                F.col("l_suppkey").alias("supp"),
            )
            .agg(
                F.sum(F.col("l_quantity").cast("long"))
                .cast("long")
                .alias("qty")
            )
        )

    return _memo_sim(spark, sf_dir, "wedges", build)


def _w_capped(spark, sf_dir) -> DataFrame:
    w = _w_edges(spark, sf_dir)
    return _memo_sim(
        spark,
        sf_dir,
        "wcapped",
        lambda: degree_capped_edges(w, "cust", "supp", _adaptive_cap(w)),
    )


def _wtop50(edges: DataFrame) -> DataFrame:
    """Top-50 supplier pairs by weighted Jaccard over (cust, supp, qty)
    edges — within-sample totals AND intersections, Σmax folded to
    tot_a + tot_b − Σmin so the customer union never materializes."""
    tot = edges.groupBy("supp").agg(F.sum("qty").cast("long").alias("t"))
    a = edges.select(
        F.col("cust").alias("ca"),
        F.col("supp").alias("s1"),
        F.col("qty").alias("qa"),
    )
    b = edges.select(
        F.col("cust").alias("cb"),
        F.col("supp").alias("s2"),
        F.col("qty").alias("qb"),
    )
    inter = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(
            F.sum(F.least("qa", "qb")).cast("long").alias("minsum"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
        .filter(F.col("n_shared") >= 2)
    )
    t1 = tot.select(F.col("supp").alias("s1"), F.col("t").alias("t1"))
    t2 = tot.select(F.col("supp").alias("s2"), F.col("t").alias("t2"))
    return (
        inter.join(F.broadcast(t1), "s1")
        .join(F.broadcast(t2), "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            F.round(
                F.col("minsum").cast("double")
                / (F.col("t1") + F.col("t2") - F.col("minsum")),
                6,
            ).alias("wjaccard"),
        )
        .orderBy(F.col("wjaccard").desc(), "s1", "s2")
        .limit(50)
    )


def _w_exact_top50(spark, sf_dir) -> DataFrame:
    return _memo_sim(
        spark, sf_dir, "wtope", lambda: _wtop50(_w_edges(spark, sf_dir))
    )


def _w_capped_top50(spark, sf_dir) -> DataFrame:
    return _memo_sim(
        spark, sf_dir, "wtopa", lambda: _wtop50(_w_capped(spark, sf_dir))
    )


@query(
    "q_weighted_jaccard_approx",
    f"""
    WITH {_SQL_W},
    {_SQL_WCAPPED},
    {_sql_wtop50("wcapped", "a")}
    SELECT s1, s2, n_shared, wjaccard FROM wtopa
    ORDER BY wjaccard DESC, s1, s2
    """,
)
def q_weighted_jaccard_approx(spark, sf_dir):
    """q_weighted_jaccard's scale sibling (VERDICT r9 item #4 — the
    5.83× worst cell in BENCH_SF1_SKEW finally gets its implemented
    escape hatch): the identical quantity-weighted top-50 pipeline on
    the md5-degree-capped weighted edge list, so the pair self-join's
    per-customer fan-out is bounded at cap²/2 — hot customers cost a
    constant, not d²/2. The cap is the exact p95 of the per-customer
    degree distribution (integer histogram quantile, floor 30 —
    operators/basket.degree_capped_edges + roundseven _adaptive_cap);
    totals and intersections both come from the capped subgraph, keeping
    WJ a consistent within-sample estimate. Portable md5 sampling makes
    the whole approximation oracle-checkable; quality certified by
    q_weighted_jaccard_recall."""
    return _w_capped_top50(spark, sf_dir)


@query(
    "q_weighted_jaccard_recall",
    f"""
    WITH {_SQL_W},
    {_SQL_WCAPPED},
    {_sql_wtop50("w", "e")},
    {_sql_wtop50("wcapped", "a")},
    {_SQL_RECALL_TAIL.format(k="s1, s2", knums="1, 2",
                             exact="wtope", approx="wtopa")}
    """,
)
def q_weighted_jaccard_recall(spark, sf_dir):
    """Driver-visible quality certificate for q_weighted_jaccard_approx:
    one (n_exact, n_approx, n_overlap, recall) row comparing the capped
    top-50 weighted-Jaccard pair set against the exact top-50 — the
    q_graph_jaccard_recall twin discipline, fully oracle-checked because
    the md5 sampler is portable. A quality regression in the capped
    variant flips a driver hash instead of hiding; pytest pins the
    recall floor."""
    exact = _w_exact_top50(spark, sf_dir)
    approx = _w_capped_top50(spark, sf_dir)
    return _set_recall(exact, approx, ["s1", "s2"])


# ---------------------------------------------------------------------------
# Phase 59: distribution-free two-sample inference — KS, Mann-Whitney,
# Cliff's delta, odds ratio. The first three ride ONE shared shape: the
# per-distinct-value (c1, c0) count frame over integer cents, with
# cumulative counts by window — every statistic is exact BIGINT
# arithmetic until a single final division (the q_cusum discipline), so
# the cross-engine hash needs no float luck. Group = URGENT orders vs
# the rest, value = order total in cents.
# ---------------------------------------------------------------------------

_TS_SQL = """s AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM orders
    ), d AS (
      SELECT v, CAST(SUM(g) AS BIGINT) AS c1,
             CAST(SUM(1 - g) AS BIGINT) AS c0
      FROM s GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c0) AS BIGINT) AS n0 FROM d
    )"""


def _two_sample_counts(spark, sf_dir):
    """(v, c1, c0) per distinct cents value + broadcastable (n1, n0)."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("g"),
    )
    d = s.groupBy("v").agg(
        F.sum("g").cast("long").alias("c1"),
        F.sum(1 - F.col("g")).cast("long").alias("c0"),
    )
    tot = d.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c0").cast("long").alias("n0"),
    )
    return d, tot


@query(
    "q_ks_two_sample",
    f"""
    WITH {_TS_SQL}, c AS (
      SELECT SUM(c1) OVER (ORDER BY v) AS f1,
             SUM(c0) OVER (ORDER BY v) AS f0
      FROM d
    )
    SELECT n1, n0,
           CAST(MAX(ABS(f1 * n0 - f0 * n1)) AS BIGINT) AS ks_num,
           ROUND(CAST(MAX(ABS(f1 * n0 - f0 * n1)) AS DOUBLE)
                 / (n1 * n0), 9) AS ks_stat
    FROM c, tot GROUP BY n1, n0
    """,
)
def q_ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov D between the order-value
    distributions of URGENT vs non-URGENT orders — the distribution-
    free drift/AB test on a continuous metric. D = max |F1 − F2| is
    computed as an exact integer: max |f1·n0 − f0·n1| over the merged
    cumulative count frame (cents are BIGINT, ECDFs never materialize
    as floats), emitted as ks_num plus ONE final division rounded at
    9dp. One grouped pass over the fact table, one calendar-free
    window over the distinct-value frame, 1-row totals broadcast."""
    d, tot = _two_sample_counts(spark, sf_dir)
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        F.sum("c1").over(wv).alias("f1"),
        F.sum("c0").over(wv).alias("f0"),
    )
    num = F.max(F.abs(F.col("f1") * F.col("n0") - F.col("f0") * F.col("n1")))
    return (
        c.join(F.broadcast(tot))
        .groupBy("n1", "n0")
        .agg(
            num.cast("long").alias("ks_num"),
            F.round(
                num.cast("double") / (F.col("n1") * F.col("n0")), 9
            ).alias("ks_stat"),
        )
        .select("n1", "n0", "ks_num", "ks_stat")
    )


@query(
    "q_qte_deciles",
    f"""
    WITH {_TS_SQL}, rk AS (
      SELECT v, g,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS r,
             CASE WHEN g = 1 THEN (SELECT n1 FROM tot)
                  ELSE (SELECT n0 FROM tot) END AS n
      FROM s
    ), k AS (
      SELECT UNNEST(GENERATE_SERIES(1, 9)) AS dec
    ), q AS (
      SELECT k.dec, rk.g, CAST(MIN(rk.v) AS BIGINT) AS qv
      FROM k JOIN rk
        ON rk.r = ((k.dec * rk.n + 9) // 10)
      GROUP BY 1, 2
    )
    SELECT a.dec,
           a.qv AS q_urgent_cents,
           b.qv AS q_other_cents,
           CAST(a.qv - b.qv AS BIGINT) AS qte_cents
    FROM q a JOIN q b ON a.dec = b.dec AND a.g = 1 AND b.g = 0
    ORDER BY a.dec
    """,
)
def q_qte_deciles(spark, sf_dir):
    """Quantile treatment effects at the nine deciles — the
    distributional view a mean-difference test flattens (URGENT vs
    non-URGENT order values): QTE(k) = q_k(treat) − q_k(control). Each
    decile is the exact type-1 order statistic (the row at integer
    rank ceil(k·n/10), computed as (k·n + 9) div 10 — the portable
    integer-div rank-pick discipline, never 0.95·n in doubles), so the
    result is pure BIGINT cents with no float anywhere. One rank
    window per group; the nine ranks join against the ranked frame
    directly."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("g"),
    )
    n_by_g = s.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n"))
    rk = (
        s.withColumn(
            "r", F.row_number().over(Window.partitionBy("g").orderBy("v"))
        )
        .join(F.broadcast(n_by_g), "g")
    )
    k = spark.range(1, 10).select(F.col("id").cast("long").alias("dec"))
    q = (
        F.broadcast(k)
        .join(
            rk,
            rk.r
            == F.expr("(dec * n + 9) div 10"),
        )
        .groupBy("dec", "g")
        .agg(F.min("v").cast("long").alias("qv"))
    )
    a = q.filter(F.col("g") == 1).select(
        "dec", F.col("qv").alias("q_urgent_cents")
    )
    b = q.filter(F.col("g") == 0).select(
        F.col("dec").alias("dec_b"), F.col("qv").alias("q_other_cents")
    )
    return (
        a.join(b, a.dec == b.dec_b)
        .select(
            "dec",
            "q_urgent_cents",
            "q_other_cents",
            (F.col("q_urgent_cents") - F.col("q_other_cents"))
            .cast("long")
            .alias("qte_cents"),
        )
        .orderBy("dec")
    )


@query(
    "q_cliffs_delta",
    f"""
    WITH {_TS_SQL}, r AS (
      SELECT c1, c0,
             SUM(c0) OVER (ORDER BY v) - c0 AS c0_before,
             SUM(c0) OVER (ORDER BY v) AS c0_incl
      FROM d
    ), agg AS (
      SELECT CAST(SUM(c1 * c0_before) AS BIGINT) AS n_gt,
             CAST(SUM(c1 * ((SELECT n0 FROM tot) - c0_incl)) AS BIGINT)
               AS n_lt
      FROM r
    )
    SELECT n1, n0, n_gt, n_lt,
           ROUND(CAST(n_gt - n_lt AS DOUBLE) / (n1 * n0), 9) AS delta
    FROM agg, tot
    """,
)
def q_cliffs_delta(spark, sf_dir):
    """Cliff's delta ordinal effect size for URGENT vs non-URGENT order
    values — the dominance statistic behind the Mann-Whitney test:
    δ = (#(x>y) − #(x<y)) / (n1·n0), reported alongside p-values
    because rank tests go significant on trivial shifts at corpus
    scale. NEVER pairwise: #(x>y) = Σ_v c1(v)·cum_c0_before(v) over the
    distinct-value count frame — exact BIGINT counts, one final
    division rounded 9dp."""
    d, tot = _two_sample_counts(spark, sf_dir)
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    r = d.select(
        "c1",
        (F.sum("c0").over(wv) - F.col("c0")).alias("c0_before"),
        F.sum("c0").over(wv).alias("c0_incl"),
    ).join(F.broadcast(tot))
    agg = r.groupBy("n1", "n0").agg(
        F.sum(F.col("c1") * F.col("c0_before")).cast("long").alias("n_gt"),
        F.sum(F.col("c1") * (F.col("n0") - F.col("c0_incl")))
        .cast("long")
        .alias("n_lt"),
    )
    return agg.select(
        "n1",
        "n0",
        "n_gt",
        "n_lt",
        F.round(
            (F.col("n_gt") - F.col("n_lt")).cast("double")
            / (F.col("n1") * F.col("n0")),
            9,
        ).alias("delta"),
    )


# ---------------------------------------------------------------------------
# Phase 60: survival analysis on customer reorder latency — subject =
# customer, origin = first order date, event = second order (reorder),
# right-censored at the corpus max date for one-order customers. The
# risk-set frame (one row per distinct duration) is the only shuffled
# state; every estimator is a window cumsum over it. Portability
# discipline: hazards are exact-integer ratios d/n rounded at 9dp into
# DECIMAL(18,9) and prefix-summed exactly (unscaled values stay far
# below 2^53, so the final decimal→double cast is exact in BOTH
# engines — the q_page_hinkley bug needed ~1e20 unscaled); the KM curve
# is emitted in the LN domain (ln-survival), never exponentiated.
# ---------------------------------------------------------------------------

_SQL_SURV = """f AS (
      SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS od,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS rn
      FROM orders
    ), mx AS (
      SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders
    ), sub AS (
      SELECT a.ck,
             CASE WHEN b.od IS NULL
                  THEN date_diff('day', a.od, (SELECT mxd FROM mx))
                  ELSE date_diff('day', a.od, b.od) END AS dur,
             CASE WHEN b.od IS NULL THEN 0 ELSE 1 END AS ev
      FROM (SELECT * FROM f WHERE rn = 1) a
      LEFT JOIN (SELECT * FROM f WHERE rn = 2) b ON a.ck = b.ck
    ), evf AS (
      SELECT dur, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS lv
      FROM sub GROUP BY 1
    ), r AS (
      SELECT dur, d,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM sub)
               - (SUM(lv) OVER (ORDER BY dur) - lv) AS n
      FROM evf
    )"""


def _surv_risk_frame(spark, sf_dir):
    """(dur, d, n) risk-set frame: events and at-risk count per
    distinct reorder-latency duration."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderdate").cast("date").alias("od"),
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(
                "o_orderdate", "o_orderkey"
            )
        )
        .alias("rn"),
    )
    mx = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("mxd")
    )
    a = f.filter(F.col("rn") == 1).select("ck", F.col("od").alias("od1"))
    b = f.filter(F.col("rn") == 2).select(
        F.col("ck").alias("ckb"), F.col("od").alias("od2")
    )
    sub = (
        a.join(b, a.ck == b.ckb, "left")
        .join(F.broadcast(mx))
        .select(
            "ck",
            F.when(
                F.col("od2").isNull(), F.datediff("mxd", "od1")
            )
            .otherwise(F.datediff("od2", "od1"))
            .alias("dur"),
            F.when(F.col("od2").isNull(), 0).otherwise(1).alias("ev"),
        )
        .localCheckpoint(eager=False)  # reused by evf AND the total count
    )
    evf = sub.groupBy("dur").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("lv"),
    )
    tot = sub.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    wd = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    return (
        evf.join(F.broadcast(tot))
        .select(
            "dur",
            "d",
            (
                F.col("nt") - (F.sum("lv").over(wd) - F.col("lv"))
            ).alias("n"),
        )
    )


@query(
    "q_kaplan_meier",
    f"""
    WITH {_SQL_SURV}
    SELECT dur AS t_days, CAST(n AS BIGINT) AS n_risk, d AS d_events,
           CAST(SUM(CAST(ROUND(LN(1.0 - CAST(d AS DOUBLE) / n), 9)
                         AS DECIMAL(18,9)))
                OVER (ORDER BY dur) AS DOUBLE) AS ln_surv
    FROM r WHERE d >= 1 AND d < n
    ORDER BY t_days
    """,
)
def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve of customer reorder latency — the
    product-limit estimator S(t) = Π(1 − d_i/n_i), emitted in the LN
    domain (ln_surv = Σ ln(1 − d_i/n_i)) so no cross-engine exp() is
    ever taken: each term is ln of an exact integer ratio, rounded at
    9dp and prefix-summed as exact decimals (the ln-with-9dp-round
    discipline). Event times where the whole risk set dies (d = n,
    S → 0) are excluded from curve and cumsum identically in both
    engines. The fact table is touched once for the per-customer
    first/second order pick; everything after rides the
    distinct-duration frame."""
    r = _surv_risk_frame(spark, sf_dir)
    wd = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    term = F.round(
        F.log(1.0 - F.col("d").cast("double") / F.col("n")), 9
    ).cast("decimal(18,9)")
    return (
        r.filter((F.col("d") >= 1) & (F.col("d") < F.col("n")))
        .select(
            F.col("dur").alias("t_days"),
            F.col("n").alias("n_risk"),
            F.col("d").alias("d_events"),
            F.sum(term).over(wd).cast("double").alias("ln_surv"),
        )
        .orderBy("t_days")
    )


@query(
    "q_nelson_aalen",
    f"""
    WITH {_SQL_SURV}
    SELECT dur AS t_days, CAST(n AS BIGINT) AS n_risk, d AS d_events,
           CAST(SUM(CAST(ROUND(CAST(d AS DOUBLE) / n, 9)
                         AS DECIMAL(18,9)))
                OVER (ORDER BY dur) AS DOUBLE) AS cum_hazard
    FROM r WHERE d >= 1
    ORDER BY t_days
    """,
)
def q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard of customer reorder latency —
    H(t) = Σ d_i/n_i over event times, the estimator that stays finite
    where Kaplan-Meier's product hits zero (it keeps the d = n row).
    Each increment is one division of exact BIGINTs rounded at 9dp,
    prefix-summed as exact decimals — no ln, no exp, so the only float
    op is a correctly-rounded IEEE division identical in both
    engines."""
    r = _surv_risk_frame(spark, sf_dir)
    wd = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    term = F.round(F.col("d").cast("double") / F.col("n"), 9).cast(
        "decimal(18,9)"
    )
    return (
        r.filter(F.col("d") >= 1)
        .select(
            F.col("dur").alias("t_days"),
            F.col("n").alias("n_risk"),
            F.col("d").alias("d_events"),
            F.sum(term).over(wd).cast("double").alias("cum_hazard"),
        )
        .orderBy("t_days")
    )


@query(
    "q_logrank",
    """
    WITH f AS (
      SELECT o.o_custkey AS ck, CAST(o.o_orderdate AS DATE) AS od,
             ROW_NUMBER() OVER (
               PARTITION BY o.o_custkey ORDER BY o.o_orderdate, o.o_orderkey
             ) AS rn
      FROM orders o
    ), mx AS (
      SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders
    ), sub AS (
      SELECT a.ck,
             CASE WHEN c.c_acctbal > 0 THEN 1 ELSE 0 END AS g,
             CASE WHEN b.od IS NULL
                  THEN date_diff('day', a.od, (SELECT mxd FROM mx))
                  ELSE date_diff('day', a.od, b.od) END AS dur,
             CASE WHEN b.od IS NULL THEN 0 ELSE 1 END AS ev
      FROM (SELECT * FROM f WHERE rn = 1) a
      LEFT JOIN (SELECT * FROM f WHERE rn = 2) b ON a.ck = b.ck
      JOIN customer c ON c.c_custkey = a.ck
    ), evf AS (
      SELECT dur,
             CAST(SUM(ev) AS BIGINT) AS d,
             CAST(SUM(ev * g) AS BIGINT) AS d1,
             CAST(COUNT(*) AS BIGINT) AS lv,
             CAST(SUM(g) AS BIGINT) AS lv1
      FROM sub GROUP BY 1
    ), r AS (
      SELECT dur, d, d1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM sub)
               - (SUM(lv) OVER (ORDER BY dur) - lv) AS n,
             (SELECT CAST(SUM(g) AS BIGINT) FROM sub)
               - (SUM(lv1) OVER (ORDER BY dur) - lv1) AS n1
      FROM evf
    ), terms AS (
      SELECT d1,
             CAST(ROUND(CAST(d * n1 AS DOUBLE) / n, 9)
                  AS DECIMAL(18,9)) AS e1,
             CASE WHEN n > 1 THEN
               CAST(ROUND(CAST(d * n1 AS DOUBLE) * (n - n1) * (n - d)
                          / (CAST(n AS DOUBLE) * n * (n - 1)), 9)
                    AS DECIMAL(18,9))
             ELSE CAST(0 AS DECIMAL(18,9)) END AS v1
      FROM r WHERE d >= 1
    )
    SELECT CAST(SUM(d1) AS BIGINT) AS o1,
           CAST(SUM(e1) AS DOUBLE) AS e1,
           CAST(SUM(v1) AS DOUBLE) AS v1,
           ROUND((SUM(d1) - CAST(SUM(e1) AS DOUBLE))
                 * (SUM(d1) - CAST(SUM(e1) AS DOUBLE))
                 / CAST(SUM(v1) AS DOUBLE), 6) AS chi2
    FROM terms
    """,
)
def q_logrank(spark, sf_dir):
    """Log-rank test comparing reorder-latency survival between
    positive- and negative-balance customers — THE standard two-group
    censored-time comparison (observed vs expected group-1 events under
    the null, hypergeometric variance per event time). O1 is an exact
    BIGINT; the E1 and V terms are single IEEE expressions of exact
    integer risk-set counts rounded at 9dp and decimal-summed; the χ²
    is one closed form of those sums rounded at 6dp. Risk sets for
    both groups come from ONE pass over the per-duration leave counts
    (two parallel window cumsums)."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    f = orders.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderdate").cast("date").alias("od"),
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(
                "o_orderdate", "o_orderkey"
            )
        )
        .alias("rn"),
    )
    mx = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("mxd"))
    a = f.filter(F.col("rn") == 1).select("ck", F.col("od").alias("od1"))
    b = f.filter(F.col("rn") == 2).select(
        F.col("ck").alias("ckb"), F.col("od").alias("od2")
    )
    g = customer.select(
        F.col("c_custkey").alias("ckc"),
        F.when(F.col("c_acctbal") > 0, 1).otherwise(0).alias("g"),
    )
    sub = (
        a.join(b, a.ck == b.ckb, "left")
        .join(g, a.ck == g.ckc)
        .join(F.broadcast(mx))
        .select(
            "g",
            F.when(F.col("od2").isNull(), F.datediff("mxd", "od1"))
            .otherwise(F.datediff("od2", "od1"))
            .alias("dur"),
            F.when(F.col("od2").isNull(), 0).otherwise(1).alias("ev"),
        )
        .localCheckpoint(eager=False)
    )
    evf = sub.groupBy("dur").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.col("ev") * F.col("g")).cast("long").alias("d1"),
        F.count(F.lit(1)).cast("long").alias("lv"),
        F.sum("g").cast("long").alias("lv1"),
    )
    tot = sub.agg(
        F.count(F.lit(1)).cast("long").alias("nt"),
        F.sum("g").cast("long").alias("nt1"),
    )
    wd = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    r = (
        evf.join(F.broadcast(tot))
        .select(
            "d",
            "d1",
            (F.col("nt") - (F.sum("lv").over(wd) - F.col("lv"))).alias("n"),
            (
                F.col("nt1") - (F.sum("lv1").over(wd) - F.col("lv1"))
            ).alias("n1"),
        )
        .filter(F.col("d") >= 1)
    )
    nd = F.col("n").cast("double")
    e1t = F.round(
        (F.col("d") * F.col("n1")).cast("double") / F.col("n"), 9
    ).cast("decimal(18,9)")
    v1t = F.when(
        F.col("n") > 1,
        F.round(
            (F.col("d") * F.col("n1")).cast("double")
            * (F.col("n") - F.col("n1"))
            * (F.col("n") - F.col("d"))
            / (nd * F.col("n") * (F.col("n") - 1)),
            9,
        ).cast("decimal(18,9)"),
    ).otherwise(F.lit(0).cast("decimal(18,9)"))
    terms = r.select(F.col("d1"), e1t.alias("e1"), v1t.alias("v1"))
    o1 = F.sum("d1").cast("long")
    e1 = F.sum("e1").cast("double")
    v1 = F.sum("v1").cast("double")
    return terms.agg(
        o1.alias("o1"),
        e1.alias("e1"),
        v1.alias("v1"),
        F.round(
            (F.sum("d1") - F.sum("e1").cast("double"))
            * (F.sum("d1") - F.sum("e1").cast("double"))
            / F.sum("v1").cast("double"),
            6,
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Phase 62: block-capped edit-distance join + recall certificate. The
# r10 text-skew bench (scripts/bench_textskew.py, BENCH_TEXTSKEW.json)
# measured q_edit_distance_join's (brand, size) block join at 68.9×
# under ONE hot block holding 20% of rows — the worst skew cliff ever
# measured in this repo (the length band can't bound a |block|²/2
# fan-out) — while the same plan on a p95-block-capped input ran 127×
# faster than the skewed exact. This is that escape hatch, productized
# with the weighted-jaccard twin discipline.
# ---------------------------------------------------------------------------

_SQL_ED_BASE = """pb AS (
      SELECT p_partkey AS k, p_name AS nm,
             p_brand || '|' || CAST(p_size AS VARCHAR) AS blk
      FROM part
    )"""

_SQL_ED_CAPPED = f"""bsz AS (
      SELECT blk, CAST(COUNT(*) AS BIGINT) AS bc FROM pb GROUP BY 1
    ), bhist AS (
      SELECT bc, CAST(COUNT(*) AS BIGINT) AS c FROM bsz GROUP BY 1
    ), bthr AS (
      SELECT CAST((19 * SUM(c) + 19) // 20 AS BIGINT) AS kk FROM bhist
    ), bcapv AS (
      SELECT GREATEST(MIN(bc), {_GJ_MIN_CAP}) AS cap
      FROM (SELECT bc, SUM(c) OVER (ORDER BY bc) AS cum FROM bhist), bthr
      WHERE cum >= kk
    ), pcap AS (
      SELECT k, nm, blk FROM (
        SELECT k, nm, blk,
               ROW_NUMBER() OVER (
                 PARTITION BY blk
                 ORDER BY md5(blk || ':' || CAST(k AS VARCHAR)), k
               ) AS rk
        FROM pb)
      WHERE rk <= (SELECT cap FROM bcapv)
    )"""


def _sql_ed_top15(edge_cte: str, tag: str) -> str:
    return f"""edtop{tag} AS (
      SELECT a.k AS k1, b.k AS k2,
             CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
      FROM {edge_cte} a JOIN {edge_cte} b
        ON a.blk = b.blk AND a.k < b.k
       AND abs(length(a.nm) - length(b.nm)) <= 6
      ORDER BY dist, k1, k2 LIMIT 15
    )"""


def _ed_base(spark, sf_dir) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("k"),
        F.col("p_name").alias("nm"),
        F.concat_ws(
            "|", F.col("p_brand"), F.col("p_size").cast("string")
        ).alias("blk"),
    )


def _ed_capped(spark, sf_dir) -> DataFrame:
    def build():
        pb = _ed_base(spark, sf_dir)
        cap = _adaptive_cap(pb.select(F.col("blk").alias("cust")))
        return degree_capped_edges(pb, "blk", "k", cap)

    return _memo_sim(spark, sf_dir, "edcap", build)


def _ed_top15(edges: DataFrame) -> DataFrame:
    a = edges.select(
        F.col("k").alias("k1"), F.col("nm").alias("n1"), "blk"
    )
    b = edges.select(
        F.col("k").alias("k2"),
        F.col("nm").alias("n2"),
        F.col("blk").alias("blk2"),
    )
    pairs = a.join(
        b,
        (F.col("blk") == F.col("blk2"))
        & (F.col("k1") < F.col("k2"))
        & (F.abs(F.length("n1") - F.length("n2")) <= 6),
    ).select(
        "k1", "k2", F.levenshtein("n1", "n2").cast("long").alias("dist")
    )
    return pairs.orderBy("dist", "k1", "k2").limit(15)


@query(
    "q_edit_distance_capped",
    f"""
    WITH {_SQL_ED_BASE},
    {_SQL_ED_CAPPED},
    {_sql_ed_top15("pcap", "a")}
    SELECT k1, k2, dist FROM edtopa ORDER BY dist, k1, k2
    """,
)
def q_edit_distance_capped(spark, sf_dir):
    """q_edit_distance_join's scale sibling — the implemented escape
    for the worst skew cliff this repo has measured (BENCH_TEXTSKEW:
    68.9× when one (brand, size) block holds 20% of parts; the length
    band cannot bound the |block|²/2 Levenshtein fan-out). Blocks are
    capped at the exact p95 of the block-size histogram (floor 30) by
    the portable md5(blk:key) order, so a hot block costs cap²/2 — a
    constant — and the whole approximation stays oracle-checkable.
    Quality certified by q_edit_distance_recall."""
    return _memo_sim(
        spark,
        sf_dir,
        "edtopa",
        lambda: _ed_top15(_ed_capped(spark, sf_dir)),
    )


@query(
    "q_edit_distance_recall",
    f"""
    WITH {_SQL_ED_BASE},
    {_SQL_ED_CAPPED},
    {_sql_ed_top15("pb", "e")},
    {_sql_ed_top15("pcap", "a")},
    {_SQL_RECALL_TAIL.format(k="k1, k2", knums="1, 2",
                             exact="edtope", approx="edtopa")}
    """,
)
def q_edit_distance_recall(spark, sf_dir):
    """Driver-visible quality certificate for q_edit_distance_capped:
    one (n_exact, n_approx, n_overlap, recall) row comparing the capped
    top-15 closest-pair set against the exact top-15. On the un-skewed
    fixtures the p95 cap binds only the tail, so recall stays high; a
    silent cap regression flips a driver hash instead of hiding. Pytest
    pins the floor."""
    exact = _memo_sim(
        spark,
        sf_dir,
        "edtope",
        lambda: _ed_top15(
            _memo_sim(
                spark, sf_dir, "edbase", lambda: _ed_base(spark, sf_dir)
            )
        ),
    )
    approx = _memo_sim(
        spark,
        sf_dir,
        "edtopa",
        lambda: _ed_top15(_ed_capped(spark, sf_dir)),
    )
    return _set_recall(exact, approx, ["k1", "k2"])


# ---------------------------------------------------------------------------
# Phase 61: model-building primitives — decision-stump split search and
# offline recommender evaluation (MAP@k / MRR) on a temporal split.
# ---------------------------------------------------------------------------


@query(
    "q_best_split",
    """
    WITH s AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), d AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM s GROUP BY 1
    ), c AS (
      SELECT v, CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS cle,
             CAST(SUM(pos) OVER (ORDER BY v) AS BIGINT) AS ple
      FROM d
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS p
      FROM d
    ), k AS (
      SELECT UNNEST(GENERATE_SERIES(1, 9)) AS dec
    ), th AS (
      SELECT DISTINCT MIN(v) OVER (PARTITION BY dec) AS v
      FROM k JOIN c ON c.cle >= ((k.dec * (SELECT n FROM tot) + 9) // 10)
    ), scored AS (
      SELECT c.v AS threshold_cents,
             c.cle AS n_left, c.ple AS pos_left,
             t.n - c.cle AS n_right, t.p - c.ple AS pos_right,
             ROUND(2.0 * (CAST(c.ple * (c.cle - c.ple) AS DOUBLE) / c.cle
                          + CAST((t.p - c.ple)
                                 * ((t.n - c.cle) - (t.p - c.ple))
                                 AS DOUBLE) / (t.n - c.cle)) / t.n, 9)
               AS impurity,
             ROUND(2.0 * CAST(t.p * (t.n - t.p) AS DOUBLE) / (t.n * t.n)
                   - 2.0 * (CAST(c.ple * (c.cle - c.ple) AS DOUBLE) / c.cle
                            + CAST((t.p - c.ple)
                                   * ((t.n - c.cle) - (t.p - c.ple))
                                   AS DOUBLE) / (t.n - c.cle)) / t.n, 9)
               AS gain
      FROM th JOIN c ON th.v = c.v, tot t
      WHERE t.n - c.cle > 0
    )
    SELECT threshold_cents, n_left, pos_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(pos_right AS BIGINT) AS pos_right, impurity, gain
    FROM scored
    ORDER BY impurity, threshold_cents LIMIT 1
    """,
)
def q_best_split(spark, sf_dir):
    """Decision-stump split search: the best Gini split of order value
    (cents) predicting terminal status 'F' — the inner loop of every
    tree learner, run once over nine exact decile candidates. Weighted
    Gini impurity folds to (2/n)·Σ_side pos·neg/cnt, a single IEEE
    expression of exact BIGINT counts rounded at 9dp; candidate
    thresholds are type-1 order statistics at integer-div ranks; the
    argmin tie-breaks on threshold. One grouped pass builds the
    distinct-value frame; candidates join its cumulative counts."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    d = s.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "v",
        F.sum("cnt").over(wv).cast("long").alias("cle"),
        F.sum("pos").over(wv).cast("long").alias("ple"),
    ).localCheckpoint(eager=False)  # reused by the threshold pick + scoring
    tot = d.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    )
    k = spark.range(1, 10).select(F.col("id").alias("dec"))
    th = (
        F.broadcast(k)
        .join(F.broadcast(tot))
        .join(c, c.cle >= F.expr("(dec * n + 9) div 10"))
        .groupBy("dec")
        .agg(F.min("v").alias("v"))
        .select("v")
        .distinct()
        # ≤9 rows; truncating here keeps the final plan at ≤2 BNLJ
        # (the census rule) — its own 2-BNLJ subtree never re-executes
        .localCheckpoint(eager=False)
    )
    t = tot.select(F.col("n").alias("tn"), F.col("p").alias("tp"))
    j = c.join(F.broadcast(th), "v").join(F.broadcast(t))
    nl = F.col("cle")
    pl = F.col("ple")
    nr = F.col("tn") - nl
    pr = F.col("tp") - pl
    split_term = (
        (pl * (nl - pl)).cast("double") / nl
        + (pr * (nr - pr)).cast("double") / nr
    )
    impurity = F.round(2.0 * split_term / F.col("tn"), 9)
    parent = (
        2.0
        * (F.col("tp") * (F.col("tn") - F.col("tp"))).cast("double")
        / (F.col("tn") * F.col("tn"))
    )
    gain = F.round(parent - 2.0 * split_term / F.col("tn"), 9)
    return (
        j.filter(nr > 0)
        .select(
            F.col("v").alias("threshold_cents"),
            nl.alias("n_left"),
            pl.alias("pos_left"),
            nr.cast("long").alias("n_right"),
            pr.cast("long").alias("pos_right"),
            impurity.alias("impurity"),
            gain.alias("gain"),
        )
        .orderBy("impurity", "threshold_cents")
        .limit(1)
    )


# temporal split for offline recommender evaluation: train on orders
# before the cutoff, score recommendations against what each customer
# actually bought after it
_REC_CUTOFF = "1999-01-01"
_REC_K = 3

_SQL_RECEVAL = f"""tr AS (
      SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate < DATE '{_REC_CUTOFF}'
      GROUP BY 1, 2
    ), te AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate >= DATE '{_REC_CUTOFF}'
    ), rec AS (
      SELECT cust, supp, rk FROM (
        SELECT cust, supp,
               ROW_NUMBER() OVER (
                 PARTITION BY cust ORDER BY qty DESC, supp) AS rk
        FROM tr)
      WHERE rk <= {_REC_K}
    ), nrel AS (
      SELECT te.cust, CAST(COUNT(*) AS BIGINT) AS nr
      FROM te WHERE te.cust IN (SELECT cust FROM rec)
      GROUP BY 1
    ), hits AS (
      SELECT r.cust, r.rk,
             CASE WHEN te.supp IS NULL THEN 0 ELSE 1 END AS hit
      FROM rec r LEFT JOIN te ON te.cust = r.cust AND te.supp = r.supp
      WHERE r.cust IN (SELECT cust FROM nrel)
    )"""


def _rec_base_frames(spark, sf_dir):
    """(rec, te) lazy plans for the temporal-split recommender eval:
    top-k train-window recommendations per customer and the distinct
    test-window relevance set. Plain plan definitions — the memoized
    checkpoints live on the derived hits/nrel frames below."""
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    ol = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).select(
        F.col("o_custkey").alias("cust"),
        F.col("l_suppkey").alias("supp"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    cutoff = F.lit(_REC_CUTOFF).cast("date")
    tr = (
        ol.filter(F.col("od") < cutoff)
        .groupBy("cust", "supp")
        .agg(F.sum("qty").cast("long").alias("qty"))
    )
    te = ol.filter(F.col("od") >= cutoff).select("cust", "supp").distinct()
    rec = (
        tr.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("cust").orderBy(
                    F.col("qty").desc(), "supp"
                )
            ),
        )
        .filter(F.col("rk") <= _REC_K)
        .select("cust", "supp", "rk")
    )
    return rec, te


def _rec_eval_frames(spark, sf_dir):
    """(hits, nrel): per-user ranked hit flags and relevant counts for
    the temporal-split recommender evaluation. ADVICE r10 #3: both
    frames go through ``_memo_sim``, so q_map_at_k and q_mrr SHARE one
    materialization per sweep."""

    def build_nrel():
        rec, te = _rec_base_frames(spark, sf_dir)
        return (
            te.join(rec.select("cust").distinct(), "cust", "left_semi")
            .groupBy("cust")
            .agg(F.count(F.lit(1)).cast("long").alias("nr"))
        )

    nrel = _memo_sim(spark, sf_dir, "rec_nrel", build_nrel)

    def build_hits():
        rec, te = _rec_base_frames(spark, sf_dir)
        return (
            rec.join(nrel.select("cust"), "cust", "left_semi")
            .join(
                te.withColumn("hit", F.lit(1)),
                ["cust", "supp"],
                "left",
            )
            .select(
                "cust",
                "rk",
                F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
            )
        )

    hits = _memo_sim(spark, sf_dir, "rec_hits", build_hits)
    return hits, nrel


@query(
    "q_map_at_k",
    f"""
    WITH {_SQL_RECEVAL}, terms AS (
      SELECT cust,
             CASE WHEN hit = 1 THEN
               CAST(ROUND(CAST(SUM(hit) OVER (
                 PARTITION BY cust ORDER BY rk) AS DOUBLE) / rk, 9)
                 AS DECIMAL(18,9))
             ELSE CAST(0 AS DECIMAL(18,9)) END AS term
      FROM hits
    ), ap AS (
      SELECT cust, CAST(SUM(term) AS DECIMAL(28,9)) AS ap_num
      FROM terms GROUP BY cust
    ), peruser AS (
      SELECT a.cust,
             CAST(ROUND(CAST(a.ap_num AS DOUBLE)
                        / LEAST({_REC_K}, n.nr), 9) AS DECIMAL(18,9)) AS ap
      FROM ap a JOIN nrel n ON a.cust = n.cust
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(ap) AS DOUBLE) / COUNT(*), 6) AS map_at_k
    FROM peruser
    """,
)
def q_map_at_k(spark, sf_dir):
    """MAP@3 of a spend-ranked supplier recommender under a temporal
    split (train < 1999-01-01 ≤ test) — the offline ranking-quality
    gate every recommender retrain runs. Precision@i terms are exact
    integer ratios rounded at 9dp into decimals, summed exactly per
    user, normalized by min(k, #relevant), then averaged over the
    evaluable users (those with training recs AND test purchases) —
    the across-user mean is a decimal sum with ONE final division, so
    no double-accumulation order can split the engines."""
    hits, nrel = _rec_eval_frames(spark, sf_dir)
    wc = Window.partitionBy("cust").orderBy("rk")
    prec = F.round(
        F.sum("hit").over(wc).cast("double") / F.col("rk"), 9
    ).cast("decimal(18,9)")
    ap = (
        hits.select(
            "cust",
            F.when(F.col("hit") == 1, prec)
            .otherwise(F.lit(0).cast("decimal(18,9)"))
            .alias("term"),
        )
        .groupBy("cust")
        .agg(F.sum("term").cast("decimal(28,9)").alias("ap_num"))
    )
    peruser = ap.join(nrel, "cust").select(
        F.round(
            F.col("ap_num").cast("double")
            / F.least(F.lit(_REC_K), F.col("nr")),
            9,
        )
        .cast("decimal(18,9)")
        .alias("ap")
    )
    return peruser.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(
            F.sum("ap").cast("double") / F.count(F.lit(1)), 6
        ).alias("map_at_k"),
    )


@query(
    "q_mrr",
    f"""
    WITH {_SQL_RECEVAL}, fr AS (
      SELECT cust, MIN(CASE WHEN hit = 1 THEN rk END) AS frk
      FROM hits GROUP BY cust
    ), rr AS (
      SELECT CASE WHEN frk IS NULL THEN CAST(0 AS DECIMAL(18,9))
                  ELSE CAST(ROUND(1.0 / frk, 9) AS DECIMAL(18,9))
             END AS rr
      FROM fr
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(rr) AS DOUBLE) / COUNT(*), 6) AS mrr
    FROM rr
    """,
)
def q_mrr(spark, sf_dir):
    """Mean reciprocal rank of the same temporal-split recommender —
    'how high does the first correct suggestion sit'. Per user the
    reciprocal of the first hit rank (0 when the top-k misses
    entirely), 9dp-rounded into decimals and exactly summed; one final
    division. Shares q_map_at_k's ranked-hits frame."""
    hits, _ = _rec_eval_frames(spark, sf_dir)
    fr = hits.groupBy("cust").agg(
        F.min(F.when(F.col("hit") == 1, F.col("rk"))).alias("frk")
    )
    rr = fr.select(
        F.when(
            F.col("frk").isNull(), F.lit(0).cast("decimal(18,9)")
        )
        .otherwise(
            F.round(F.lit(1.0) / F.col("frk"), 9).cast("decimal(18,9)")
        )
        .alias("rr")
    )
    return rr.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.sum("rr").cast("double") / F.count(F.lit(1)), 6).alias(
            "mrr"
        ),
    )


_OR_MIN_ORDERS = 10


@query(
    "q_odds_ratio",
    f"""
    WITH oc AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS ocnt
      FROM orders GROUP BY 1
    ), u AS (
      SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS e,
             CASE WHEN COALESCE(oc.ocnt, 0) >= {_OR_MIN_ORDERS}
                  THEN 1 ELSE 0 END AS y
      FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey
    ), t AS (
      SELECT CAST(SUM(e * y) AS BIGINT) AS a,
             CAST(SUM(e * (1 - y)) AS BIGINT) AS b,
             CAST(SUM((1 - e) * y) AS BIGINT) AS c,
             CAST(SUM((1 - e) * (1 - y)) AS BIGINT) AS d
      FROM u
    )
    SELECT a, b, c, d,
           ROUND((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)), 6)
             AS odds_ratio,
           ROUND(LN((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))
                 - 1.96 * sqrt(1.0 / (a + 0.5) + 1.0 / (b + 0.5)
                               + 1.0 / (c + 0.5) + 1.0 / (d + 0.5)), 6)
             AS ln_or_lo,
           ROUND(LN((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))
                 + 1.96 * sqrt(1.0 / (a + 0.5) + 1.0 / (b + 0.5)
                               + 1.0 / (c + 0.5) + 1.0 / (d + 0.5)), 6)
             AS ln_or_hi
    FROM t
    """,
)
def q_odds_ratio(spark, sf_dir):
    """Odds ratio with Woolf log-CI for a 2×2 exposure/outcome table —
    BUILDING-segment membership vs being a frequent buyer (≥10 orders).
    Haldane-Anscombe +0.5 on every cell (exactly representable, so the
    corrected cells are identical doubles cross-engine) guards empty
    cells; the four cell counts are exact BIGINTs from one conditional-
    sum pass; OR, and the ln-domain CI bounds, are single closed-form
    IEEE trees of those exact cells rounded at 6dp (the ln/sqrt-with-
    final-round discipline — a last-ulp libm divergence is absorbed by
    the 6dp round)."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    oc = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("ocnt")
    )
    u = customer.join(
        oc, oc.o_custkey == customer.c_custkey, "left"
    ).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("e"),
        F.when(
            F.coalesce(F.col("ocnt"), F.lit(0)) >= _OR_MIN_ORDERS, 1
        )
        .otherwise(0)
        .alias("y"),
    )
    t = u.agg(
        F.sum(F.col("e") * F.col("y")).cast("long").alias("a"),
        F.sum(F.col("e") * (1 - F.col("y"))).cast("long").alias("b"),
        F.sum((1 - F.col("e")) * F.col("y")).cast("long").alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("y"))).cast("long").alias("d"),
    )
    ah = F.col("a") + 0.5
    bh = F.col("b") + 0.5
    ch = F.col("c") + 0.5
    dh = F.col("d") + 0.5
    orr = ah * dh / (bh * ch)
    se = F.sqrt(1.0 / ah + 1.0 / bh + 1.0 / ch + 1.0 / dh)
    return t.select(
        "a",
        "b",
        "c",
        "d",
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.log(orr) - 1.96 * se, 6).alias("ln_or_lo"),
        F.round(F.log(orr) + 1.96 * se, 6).alias("ln_or_hi"),
    )
