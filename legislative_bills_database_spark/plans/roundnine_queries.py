"""Round-9 phase-49 queries: the remaining classical statistical tests
(Kruskal-Wallis k-group rank test, Wilcoxon signed-rank for paired
samples, McNemar's paired-binary test, Jarque-Bera normality), plus
clustering-agreement metrics and a fully deterministic distributed
permutation test.

Reference parity note: the reference (patrick95350/
legislative-bills-database, 5 R scripts / 737 LoC) has none of this
surface — phase 49 extends the statistics family SURVEY.md §2.10 grew
in rounds 7-8 (Mann-Whitney, ANOVA, Kendall, kappa, Levene, runs test,
jackknife), reusing the same engine discipline.

Engine-parity discipline (accumulated rounds 1-8):
- rank statistics come from the DISTINCT-VALUE count frame (never a
  per-row ranking): 2·R = Σ c·(2·cum_before + t + 1) keeps every rank
  sum an exact BIGINT, so midranks and tie corrections cannot drift;
- money sums ride integer cents; squares/cubes of big integers ride
  DECIMAL(38,0); one final cast-to-double + division per statistic;
- where a per-group float term must be summed, each term is one fixed
  IEEE dag over exact integers, ROUNDed to 6dp, cast DECIMAL(38,6),
  and summed exactly (the q_psi / q_anova_f precedent);
- portable randomness is md5 over explicit strings (BIGINT-safe), the
  q_random_walk / q_weighted_sample precedent — both engines order by
  the same hex string, so "random" permutations replay bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import load_table, load_tables
from ..session import checkpoint_round
from .registry import query

# ---------------------------------------------------------------------------
# q_kruskal_wallis: k-group rank test (the nonparametric ANOVA)
# ---------------------------------------------------------------------------


@query(
    "q_kruskal_wallis",
    """
    WITH s AS (
      SELECT c.c_mktsegment AS seg,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), cnt AS (
      SELECT seg, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM s GROUP BY 1, 2
    ), vt AS (
      SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY 1
    ), cum AS (
      SELECT v, t, COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS cb
      FROM vt
    ), rk AS (
      SELECT cnt.seg,
             CAST(SUM(cnt.c) AS BIGINT) AS n_j,
             CAST(SUM(cnt.c * (2 * cum.cb + cum.t + 1)) AS BIGINT) AS r2
      FROM cnt JOIN cum ON cnt.v = cum.v
      GROUP BY 1
    ), tie AS (
      SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS ties,
             CAST(SUM(t) AS BIGINT) AS n
      FROM vt
    ), hsum AS (
      SELECT CAST(SUM(CAST(ROUND(
               CAST(CAST(r2 AS DECIMAL(38,0)) * r2 AS DOUBLE)
                 / (4.0 * n_j), 6) AS DECIMAL(38,6))) AS DOUBLE) AS srr,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM rk
    )
    SELECT k AS k_groups, n AS n_total,
           ROUND((12.0 * srr / (CAST(n AS DOUBLE) * (n + 1))
                  - 3.0 * (n + 1))
                 / (1.0 - CAST(ties AS DOUBLE)
                          / (CAST(n AS DOUBLE) * n * n - n)), 6) AS h_stat,
           ROUND(((12.0 * srr / (CAST(n AS DOUBLE) * (n + 1))
                   - 3.0 * (n + 1))
                  / (1.0 - CAST(ties AS DOUBLE)
                           / (CAST(n AS DOUBLE) * n * n - n))
                  - k + 1) / (n - k), 6) AS epsilon_sq
    FROM hsum, tie
    """,
)
def q_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H across the five market segments (order totals)
    with the exact tie correction — the k-group generalization of
    q_mann_whitney and the nonparametric twin of q_anova_f. Rank sums
    per group come from the (seg, v)-count × distinct-value prefix
    frame, so 2·R_j = Σ c·(2·cb + t + 1) is an exact BIGINT per group;
    R_j² rides DECIMAL(38,0) and each R_j²/n_j term is one IEEE dag
    rounded to 6dp and decimal-summed over the k=5 groups. The only
    ordered scan runs on the DISTINCT-VALUE frame (bounded by the cent
    price domain, never row count); the fact table sees one grouped
    count with map-side combine, dims broadcast. At petabyte N the
    BIGINT rank sums approach 2⁶³ around N≈3·10⁹ — promote 2·R_j and
    Σt³−t to DECIMAL(38,0) there (the shape is unchanged).
    epsilon² = (H − k + 1)/(n − k) is the effect size."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    s = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    cnt = s.groupBy("seg", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    vt = cnt.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = vt.withColumn("cb", F.coalesce(F.sum("t").over(w), F.lit(0)))
    rk = (
        cnt.join(cum, "v")
        .groupBy("seg")
        .agg(
            F.sum("c").cast("long").alias("n_j"),
            F.sum(F.col("c") * (2 * F.col("cb") + F.col("t") + 1))
            .cast("long")
            .alias("r2"),
        )
    )
    tie = vt.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("ties"),
        F.sum("t").cast("long").alias("n"),
    )
    term = F.round(
        (F.col("r2").cast("decimal(38,0)") * F.col("r2")).cast("double")
        / (F.lit(4.0) * F.col("n_j")),
        6,
    ).cast("decimal(38,6)")
    hsum = rk.agg(
        F.sum(term).cast("double").alias("srr"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    j = hsum.join(F.broadcast(tie))  # 1-row × 1-row
    n = F.col("n")
    nd = n.cast("double")
    h_raw = F.lit(12.0) * F.col("srr") / (nd * (n + 1)) - F.lit(3.0) * (
        n + 1
    )
    corr = F.lit(1.0) - F.col("ties").cast("double") / (nd * n * n - n)
    h = h_raw / corr
    return j.select(
        F.col("k").alias("k_groups"),
        n.alias("n_total"),
        F.round(h, 6).alias("h_stat"),
        F.round((h - F.col("k") + 1) / (n - F.col("k")), 6).alias(
            "epsilon_sq"
        ),
    )


# ---------------------------------------------------------------------------
# q_wilcoxon_signed: paired signed-rank test (pre- vs post-1996 spend)
# ---------------------------------------------------------------------------


@query(
    "q_wilcoxon_signed",
    """
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
                           THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                           THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), d AS (
      SELECT y - x AS d FROM per WHERE y - x <> 0
    ), cnt AS (
      SELECT ABS(d) AS a,
             CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS p,
             CAST(COUNT(*) AS BIGINT) AS t
      FROM d GROUP BY 1
    ), cum AS (
      SELECT a, p, t, COALESCE(SUM(t) OVER (ORDER BY a
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS cb
      FROM cnt
    ), agg AS (
      SELECT CAST(SUM(p * (2 * cb + t + 1)) AS BIGINT) AS w2p,
             CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(p) AS BIGINT) AS npos,
             CAST(SUM(t * t * t - t) AS BIGINT) AS ties
      FROM cum
    )
    SELECT n AS n_pairs, npos AS n_pos, n - npos AS n_neg,
           CAST(w2p AS DOUBLE) / 2.0 AS w_plus,
           ROUND((CAST(w2p AS DOUBLE) / 2.0
                  - CAST(n AS DOUBLE) * (n + 1) / 4.0)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                        - CAST(ties AS DOUBLE) / 48.0), 6) AS z_score
    FROM agg
    """,
)
def q_wilcoxon_signed(spark, sf_dir):
    """Wilcoxon signed-rank test on paired per-customer spend (pre-1996
    vs post-1996 cents, the q_cuped cohort) — the paired-sample
    nonparametric sibling of q_mann_whitney. Zero differences drop (the
    standard Wilcoxon reduction); signed midranks of |d| come from the
    distinct-|d| count frame (2·W⁺ = Σ p·(2·cb + t + 1), exact BIGINT),
    and the normal approximation uses the tie-corrected variance
    n(n+1)(2n+1)/24 − Σ(t³−t)/48. One grouped fact pass builds the
    per-customer pair rollup; the ordered prefix scan runs on the
    distinct-difference frame only."""
    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1996-01-01").cast("timestamp")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("o_orderdate") < cut, cents).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("o_orderdate") >= cut, cents).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    d = per.select((F.col("y") - F.col("x")).alias("d")).filter(
        F.col("d") != 0
    )
    cnt = d.groupBy(F.abs(F.col("d")).alias("a")).agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("long")
        .alias("p"),
        F.count(F.lit(1)).cast("long").alias("t"),
    )
    w = Window.orderBy("a").rowsBetween(Window.unboundedPreceding, -1)
    cum = cnt.withColumn("cb", F.coalesce(F.sum("t").over(w), F.lit(0)))
    agg = cum.agg(
        F.sum(F.col("p") * (2 * F.col("cb") + F.col("t") + 1))
        .cast("long")
        .alias("w2p"),
        F.sum("t").cast("long").alias("n"),
        F.sum("p").cast("long").alias("npos"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("ties"),
    )
    n = F.col("n")
    nd = n.cast("double")
    wplus = F.col("w2p").cast("double") / F.lit(2.0)
    var = nd * (n + 1) * (2 * n + 1) / F.lit(24.0) - F.col("ties").cast(
        "double"
    ) / F.lit(48.0)
    return agg.select(
        n.alias("n_pairs"),
        F.col("npos").alias("n_pos"),
        (n - F.col("npos")).alias("n_neg"),
        wplus.alias("w_plus"),
        F.round(
            (wplus - nd * (n + 1) / F.lit(4.0)) / F.sqrt(var), 6
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# q_mcnemar: paired-binary disagreement test on the two weak labelers
# ---------------------------------------------------------------------------


@query(
    "q_mcnemar",
    """
    WITH s AS (
      SELECT CASE WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       > 15000000 THEN 1 ELSE 0 END AS r1,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS r2
      FROM orders
    ), c AS (
      SELECT CAST(SUM(r1 * (1 - r2)) AS BIGINT) AS n10,
             CAST(SUM((1 - r1) * r2) AS BIGINT) AS n01
      FROM s
    )
    SELECT n10, n01,
           ROUND(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
                 / (n10 + n01), 6) AS chi2,
           ROUND(CAST((ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1)
                      AS DOUBLE) / (n10 + n01), 6) AS chi2_cc,
           CAST(CASE WHEN CAST((ABS(n10 - n01) - 1)
                               * (ABS(n10 - n01) - 1) AS DOUBLE)
                          / (n10 + n01) > 3.841459
                     THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
    FROM c
    """,
)
def q_mcnemar(spark, sf_dir):
    """McNemar's test on the q_cohens_kappa labeler pair ('big order'
    by value vs 'urgent' by priority): does one weak labeler
    systematically fire where the other doesn't? Only the DISCORDANT
    counts matter — χ² = (n10−n01)²/(n10+n01) plus the Edwards
    continuity-corrected form, both exact-integer numerators over one
    IEEE division; the rejection flag at α=0.05 (χ²₁ = 3.841459) is a
    pure integer-derived comparison, so the driver hash certifies the
    DECISION, not just the statistic. One fact pass, two aggregate
    cells — the cheapest test in the suite."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.when(
            F.round(F.col("o_totalprice") * 100).cast("long") > 15_000_000, 1
        )
        .otherwise(0)
        .alias("r1"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("r2"),
    )
    c = s.agg(
        F.sum(F.col("r1") * (1 - F.col("r2"))).cast("long").alias("n10"),
        F.sum((1 - F.col("r1")) * F.col("r2")).cast("long").alias("n01"),
    )
    diff = F.col("n10") - F.col("n01")
    tot = F.col("n10") + F.col("n01")
    cc = (F.abs(diff) - 1) * (F.abs(diff) - 1)
    return c.select(
        "n10",
        "n01",
        F.round((diff * diff).cast("double") / tot, 6).alias("chi2"),
        F.round(cc.cast("double") / tot, 6).alias("chi2_cc"),
        F.when(cc.cast("double") / tot > 3.841459, 1)
        .otherwise(0)
        .cast("long")
        .alias("reject_5pct"),
    )


# ---------------------------------------------------------------------------
# q_jarque_bera: moment-based normality test per return flag
# ---------------------------------------------------------------------------


@query(
    "q_jarque_bera",
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
    ), m AS (
      SELECT flag, n,
             (s3 / n - 3 * (s1 / n) * (s2 / n)
              + 2 * (s1 / n) * (s1 / n) * (s1 / n))
             / ((s2 / n - (s1 / n) * (s1 / n))
                * sqrt(s2 / n - (s1 / n) * (s1 / n))) AS sk,
             (s4 / n - 4 * (s1 / n) * (s3 / n)
              + 6 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / ((s2 / n - (s1 / n) * (s1 / n))
                * (s2 / n - (s1 / n) * (s1 / n))) - 3 AS ku
      FROM sums
    )
    SELECT flag, n,
           ROUND(CAST(n AS DOUBLE) / 6.0 * (sk * sk + ku * ku / 4.0), 6)
             AS jb_stat,
           CAST(CASE WHEN CAST(n AS DOUBLE) / 6.0
                          * (sk * sk + ku * ku / 4.0) > 5.991465
                     THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
    FROM m ORDER BY flag
    """,
)
def q_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality test per return flag — JB = n/6·(S² +
    K²/4) on the exact power-sum moments of q_moments (Σx..Σx⁴ ride
    DECIMAL(38,0), one decimal→double conversion per sum, then a fixed
    scalar dag — x^1.5 spelled m2·√m2, never pow). The distributional
    gate a feature pipeline runs before assuming Gaussian-ish inputs;
    heavy-tailed price data should reject, and the α=0.05 decision
    (χ²₂ = 5.991465) rides the hash row alongside the statistic. One
    hash aggregate over the fact table, nothing else."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_extendedprice") * 100).cast("long")
    xd = F.col("x").cast("decimal(38,0)")
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
    m3 = (
        F.col("s3") / n
        - F.lit(3) * mean * (F.col("s2") / n)
        + F.lit(2) * mean * mean * mean
    )
    m4 = (
        F.col("s4") / n
        - F.lit(4) * mean * (F.col("s3") / n)
        + F.lit(6) * mean * mean * (F.col("s2") / n)
        - F.lit(3) * mean * mean * mean * mean
    )
    sk = m3 / (m2 * F.sqrt(m2))
    ku = m4 / (m2 * m2) - F.lit(3.0)
    jb = n.cast("double") / F.lit(6.0) * (
        sk * sk + ku * ku / F.lit(4.0)
    )
    return sums.select(
        "flag",
        "n",
        F.round(jb, 6).alias("jb_stat"),
        F.when(jb > 5.991465, 1).otherwise(0).cast("long").alias(
            "reject_5pct"
        ),
    ).orderBy("flag")


# ---------------------------------------------------------------------------
# q_cluster_agreement: ARI / Fowlkes-Mallows / purity between two
# independent label assignments
# ---------------------------------------------------------------------------


@query(
    "q_cluster_agreement",
    """
    WITH u AS (
      SELECT c.c_mktsegment AS a, r.r_name AS b
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ), ct AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nij FROM u GROUP BY 1, 2
    ), pa AS (
      SELECT CAST(SUM(ai * (ai - 1) / 2) AS BIGINT) AS pa FROM (
        SELECT CAST(SUM(nij) AS BIGINT) AS ai FROM ct GROUP BY a)
    ), pb AS (
      SELECT CAST(SUM(bj * (bj - 1) / 2) AS BIGINT) AS pb FROM (
        SELECT CAST(SUM(nij) AS BIGINT) AS bj FROM ct GROUP BY b)
    ), pp AS (
      SELECT CAST(SUM(nij * (nij - 1) / 2) AS BIGINT) AS p,
             CAST(SUM(nij) AS BIGINT) AS n
      FROM ct
    ), pur AS (
      SELECT CAST(SUM(mx) AS BIGINT) AS s FROM (
        SELECT MAX(nij) AS mx FROM ct GROUP BY a)
    )
    SELECT pp.n AS n_units, pp.p AS n_pair_agree,
           ROUND((CAST(pp.p AS DOUBLE)
                  - CAST(pa.pa AS DOUBLE) * pb.pb
                    / (CAST(pp.n AS DOUBLE) * (pp.n - 1) / 2.0))
                 / ((CAST(pa.pa AS DOUBLE) + pb.pb) / 2.0
                    - CAST(pa.pa AS DOUBLE) * pb.pb
                      / (CAST(pp.n AS DOUBLE) * (pp.n - 1) / 2.0)),
                 6) AS ari,
           ROUND(CAST(pp.p AS DOUBLE)
                 / sqrt(CAST(pa.pa AS DOUBLE) * pb.pb), 6)
             AS fowlkes_mallows,
           ROUND(CAST(pur.s AS DOUBLE) / pp.n, 6) AS purity
    FROM pp, pa, pb, pur
    """,
)
def q_cluster_agreement(spark, sf_dir):
    """Pair-counting agreement between two independent customer
    partitionings (market segment vs home region): adjusted Rand
    index, Fowlkes-Mallows, and purity — the label-free clustering
    scorecard (compare q_kmeans_exact's labels against any reference
    partition with the same frame). Everything reduces to the k×k
    CONTINGENCY table: one grouped count over the dim join, then
    Σ C(nij,2) and the two marginal pair sums as exact BIGINTs; ARI's
    expected-index product Pa·Pb rides doubles (it exceeds int64 near
    n≈10⁶ — the one deliberate float, exact to 53 bits and identical
    in both engines). Dims broadcast; the contingency table is
    k_a × k_b rows — driver-safe at any scale. The four scalar facets
    merge via a sparse unionByName + MAX (no 1-row nested-loop join
    chain — the plan-census ≤2-BNLJ rule)."""
    customer, nation, region = load_tables(
        spark, sf_dir, "customer", "nation", "region"
    )
    u = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    ct = (
        u.select(
            F.col("c_mktsegment").alias("a"), F.col("r_name").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        .localCheckpoint(eager=False)  # 25-row frame, 4 consumers
    )
    c2 = lambda c: (c * (c - 1) / 2).cast("long")  # noqa: E731
    pa = ct.groupBy("a").agg(F.sum("nij").alias("ai")).agg(
        F.sum(c2(F.col("ai"))).cast("long").alias("pa")
    )
    pb = ct.groupBy("b").agg(F.sum("nij").alias("bj")).agg(
        F.sum(c2(F.col("bj"))).cast("long").alias("pb")
    )
    pp = ct.agg(
        F.sum(c2(F.col("nij"))).cast("long").alias("p"),
        F.sum("nij").cast("long").alias("n"),
    )
    pur = ct.groupBy("a").agg(F.max("nij").alias("mx")).agg(
        F.sum("mx").cast("long").alias("s")
    )
    j = (
        pp.unionByName(pa, allowMissingColumns=True)
        .unionByName(pb, allowMissingColumns=True)
        .unionByName(pur, allowMissingColumns=True)
        .agg(
            F.max("p").alias("p"),
            F.max("n").alias("n"),
            F.max("pa").alias("pa"),
            F.max("pb").alias("pb"),
            F.max("s").alias("s"),
        )
    )
    nd = F.col("n").cast("double")
    c2n = nd * (F.col("n") - 1) / F.lit(2.0)
    exp = F.col("pa").cast("double") * F.col("pb") / c2n
    return j.select(
        F.col("n").alias("n_units"),
        F.col("p").alias("n_pair_agree"),
        F.round(
            (F.col("p").cast("double") - exp)
            / ((F.col("pa").cast("double") + F.col("pb")) / F.lit(2.0) - exp),
            6,
        ).alias("ari"),
        F.round(
            F.col("p").cast("double")
            / F.sqrt(F.col("pa").cast("double") * F.col("pb")),
            6,
        ).alias("fowlkes_mallows"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("purity"),
    )


# ---------------------------------------------------------------------------
# q_brier_decomp: Brier score + Murphy decomposition over fixed bins
# ---------------------------------------------------------------------------


@query(
    "q_brier_decomp",
    """
    WITH s AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS sc,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), mm AS (
      SELECT MIN(sc) AS mn, MAX(sc) AS mx FROM s
    ), e AS (
      SELECT sc - mm.mn AS s0, y,
             mm.mx - mm.mn AS span,
             CAST(((sc - mm.mn) * 10) // (mm.mx - mm.mn + 1) AS INTEGER)
               AS bin
      FROM s, mm
    ), b AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS nk,
             CAST(SUM(y) AS BIGINT) AS ek,
             CAST(SUM(s0) AS BIGINT) AS ssk,
             SUM(CAST(s0 AS DECIMAL(38,0)) * s0) AS ssq,
             CAST(SUM(s0 * y) AS BIGINT) AS spyk,
             CAST(MAX(span) AS BIGINT) AS span
      FROM e GROUP BY 1
    ), g AS (
      SELECT CAST(SUM(ssq) AS DOUBLE) AS ss2,
             CAST(SUM(spyk) AS BIGINT) AS spy,
             CAST(SUM(ek) AS BIGINT) AS sy,
             CAST(SUM(nk) AS BIGINT) AS n,
             CAST(MAX(span) AS BIGINT) AS span
      FROM b
    ), dec AS (
      SELECT CAST(SUM(CAST(ROUND(
               nk * (CAST(ssk AS DOUBLE) / (nk * g.span)
                     - CAST(ek AS DOUBLE) / nk)
                  * (CAST(ssk AS DOUBLE) / (nk * g.span)
                     - CAST(ek AS DOUBLE) / nk), 6)
               AS DECIMAL(38,6))) AS DOUBLE) AS rel_n,
             CAST(SUM(CAST(ROUND(
               nk * (CAST(ek AS DOUBLE) / nk
                     - CAST(g.sy AS DOUBLE) / g.n)
                  * (CAST(ek AS DOUBLE) / nk
                     - CAST(g.sy AS DOUBLE) / g.n), 6)
               AS DECIMAL(38,6))) AS DOUBLE) AS res_n
      FROM b, g
    )
    SELECT g.n AS n_orders,
           ROUND((g.ss2 / (CAST(g.span AS DOUBLE) * g.span)
                  - 2.0 * g.spy / g.span + g.sy) / g.n, 6) AS brier,
           ROUND(dec.rel_n / g.n, 6) AS reliability,
           ROUND(dec.res_n / g.n, 6) AS resolution,
           ROUND(CAST(g.sy AS DOUBLE) / g.n
                 * (1.0 - CAST(g.sy AS DOUBLE) / g.n), 6) AS uncertainty
    FROM g, dec
    """,
)
def q_brier_decomp(spark, sf_dir):
    """Brier score of the q_ece probability proxy (min-max-normalized
    order value predicting status='F') plus the Murphy decomposition
    over the same ten fixed bins: reliability (calibration), resolution
    (discrimination), uncertainty (base-rate variance). The score
    itself NEVER sums per-row floats: Σ(p−y)² = Σs0²/span² − 2Σs0·y/
    span + Σy with Σs0² on DECIMAL(38,0) and the y-cross-terms exact
    BIGINTs — three exact sums, one fixed dag. The decomposition terms
    are one IEEE dag per BIN (ten of them), 6dp-rounded and
    decimal-summed, the q_anova_f discipline. ONE fact pass total: the
    ten-row bin frame carries every sum (lazily checkpointed), the
    global frame folds from it, and the two scalar cross-joins stay
    within the plan-census ≤2-BNLJ budget."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("sc"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    mm = s.agg(F.min("sc").alias("mn"), F.max("sc").alias("mx"))
    e = s.join(F.broadcast(mm)).select(
        (F.col("sc") - F.col("mn")).alias("s0"),
        "y",
        (F.col("mx") - F.col("mn")).alias("span"),
        F.expr("CAST(((sc - mn) * 10) div (mx - mn + 1) AS INT)").alias(
            "bin"
        ),
    )
    b = (
        e.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nk"),
            F.sum("y").cast("long").alias("ek"),
            F.sum("s0").cast("long").alias("ssk"),
            F.sum(F.col("s0").cast("decimal(38,0)") * F.col("s0")).alias(
                "ssq"
            ),
            F.sum(F.col("s0") * F.col("y")).cast("long").alias("spyk"),
            F.max("span").cast("long").alias("span"),
        )
        .localCheckpoint(eager=False)  # ten rows, three consumers
    )
    g = b.agg(
        F.sum("ssq").cast("double").alias("ss2"),
        F.sum("spyk").cast("long").alias("spy"),
        F.sum("ek").cast("long").alias("sy"),
        F.sum("nk").cast("long").alias("n"),
        F.max("span").cast("long").alias("span"),
    )
    bg = b.join(F.broadcast(g.drop("span")))  # 10 rows × 1 row
    conf = F.col("ssk").cast("double") / (F.col("nk") * F.col("span"))
    acc = F.col("ek").cast("double") / F.col("nk")
    ybar = F.col("sy").cast("double") / F.col("n")
    dec = bg.agg(
        F.sum(
            F.round(F.col("nk") * (conf - acc) * (conf - acc), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("rel_n"),
        F.sum(
            F.round(F.col("nk") * (acc - ybar) * (acc - ybar), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("res_n"),
    )
    j = g.join(F.broadcast(dec))
    nd = F.col("n").cast("double")
    ybar_g = F.col("sy").cast("double") / F.col("n")
    brier = (
        F.col("ss2") / (F.col("span").cast("double") * F.col("span"))
        - F.lit(2.0) * F.col("spy") / F.col("span")
        + F.col("sy")
    ) / F.col("n")
    return j.select(
        F.col("n").alias("n_orders"),
        F.round(brier, 6).alias("brier"),
        F.round(F.col("rel_n") / nd, 6).alias("reliability"),
        F.round(F.col("res_n") / nd, 6).alias("resolution"),
        F.round(ybar_g * (F.lit(1.0) - ybar_g), 6).alias("uncertainty"),
    )


# ---------------------------------------------------------------------------
# q_permutation_test: md5-deterministic re-randomization inference
# ---------------------------------------------------------------------------

_PERM_K = 60


@query(
    "q_permutation_test",
    f"""
    WITH u AS (
      SELECT c.c_custkey AS cust,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS ia,
             CAST(COALESCE(SUM(
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
               AS BIGINT) AS v
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY 1, 2
    ), t AS (
      SELECT CAST(SUM(ia) AS BIGINT) AS n1,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ia * v) AS BIGINT) AS sa,
             CAST(SUM(v) AS BIGINT) AS st
      FROM u
    ), perm AS (
      SELECT s.seed, u.v,
             ROW_NUMBER() OVER (
               PARTITION BY s.seed
               ORDER BY md5(CAST(s.seed AS VARCHAR) || ':'
                            || CAST(u.cust AS VARCHAR)), u.cust) AS rn
      FROM u, (SELECT seed FROM range(1, {_PERM_K + 1}) r(seed)) s
    ), ps AS (
      SELECT seed,
             CAST(SUM(CASE WHEN rn <= (SELECT n1 FROM t)
                           THEN v ELSE 0 END) AS BIGINT) AS sa_s
      FROM perm GROUP BY 1
    ), d AS (
      SELECT ps.seed,
             CAST(ps.sa_s AS DOUBLE) / t.n1
               - CAST(t.st - ps.sa_s AS DOUBLE) / (t.n - t.n1) AS diff_s,
             CAST(t.sa AS DOUBLE) / t.n1
               - CAST(t.st - t.sa AS DOUBLE) / (t.n - t.n1) AS obs
      FROM ps, t
    )
    SELECT (SELECT n FROM t) AS n_units,
           ROUND(MAX(obs), 6) AS obs_diff_cents,
           CAST(COUNT(*) AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN ABS(diff_s) >= ABS(obs)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           ROUND((1.0 + SUM(CASE WHEN ABS(diff_s) >= ABS(obs)
                                 THEN 1 ELSE 0 END))
                 / (COUNT(*) + 1.0), 6) AS p_value
    FROM d
    """,
)
def q_permutation_test(spark, sf_dir):
    """Distributed permutation test (re-randomization inference) for
    the BUILDING-vs-MACHINERY mean per-customer spend difference — the
    assumption-free alternative to q_ab_test's normal z. 60 label
    permutations are minted by the PORTABLE md5 order (seed:custkey),
    the q_random_walk discipline: each seed re-ranks the units and the
    first n₁ form the pseudo-treatment arm, so both engines replay the
    IDENTICAL 'random' reassignments and the p-value itself is
    hash-certified — a property no RNG-based engine test has. Shapes:
    the unit frame is the per-customer rollup (bounded, one grouped
    fact pass with honest LEFT-join zeros), the seed fan-out is a
    broadcast nested-loop over 60 rows, and each permutation's rank
    pass partitions by seed (parallel across seeds, |units| per
    partition — at larger unit counts raise K's cost bound by sampling
    units first, never by ranking the fact table). All sums exact
    BIGINTs; each mean difference is two IEEE divisions, identical in
    both engines, so the >= extremeness comparisons agree bit for
    bit. p = (1 + #extreme)/(K+1), the add-one permutation rule
    (K = _PERM_K = 60).
    """
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    u = (
        customer.filter(
            F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
        )
        .join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy(
            F.col("c_custkey").alias("cust"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("ia"),
        )
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("v")
        )
        .localCheckpoint(eager=False)  # reused by t and the seed fan-out
    )
    t = u.agg(
        F.sum("ia").cast("long").alias("n1"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("ia") * F.col("v")).cast("long").alias("sa"),
        F.sum("v").cast("long").alias("st"),
    )
    seeds = spark.range(1, _PERM_K + 1).select(F.col("id").alias("seed"))
    h = F.md5(
        F.concat(
            F.col("seed").cast("string"),
            F.lit(":"),
            F.col("cust").cast("string"),
        )
    )
    w = Window.partitionBy("seed").orderBy(h.asc(), F.col("cust").asc())
    # t joins the ranked frame ONCE (before the per-seed rollup) and its
    # scalars ride the groupBy as MAX — with the seed fan-out that makes
    # exactly two 1-row/60-row nested loops (the plan-census budget)
    d = (
        u.join(F.broadcast(seeds))
        .withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(t))
        .groupBy("seed")
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("n1"), F.col("v")).otherwise(0))
            .cast("long")
            .alias("sa_s"),
            F.max("n1").alias("n1"),
            F.max("n").alias("n"),
            F.max("sa").alias("sa"),
            F.max("st").alias("st"),
        )
    )
    n1d = F.col("n1").cast("double")
    n0d = (F.col("n") - F.col("n1")).cast("double")
    diff_s = F.col("sa_s").cast("double") / n1d - (
        F.col("st") - F.col("sa_s")
    ).cast("double") / n0d
    obs = F.col("sa").cast("double") / n1d - (
        F.col("st") - F.col("sa")
    ).cast("double") / n0d
    ext = F.when(F.abs(diff_s) >= F.abs(obs), 1).otherwise(0)
    return d.agg(
        F.max("n").cast("long").alias("n_units"),
        F.round(F.max(obs), 6).alias("obs_diff_cents"),
        F.count(F.lit(1)).cast("long").alias("n_perms"),
        F.sum(ext).cast("long").alias("n_extreme"),
        F.round(
            (F.lit(1.0) + F.sum(ext)) / (F.count(F.lit(1)) + F.lit(1.0)), 6
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# phase 50: multi-rater reliability + internal consistency
# ---------------------------------------------------------------------------

_R1 = "CAST(ROUND(o_totalprice * 100) AS BIGINT) > 15000000"
_R2 = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
_R3 = "o_orderstatus = 'F'"


@query(
    "q_fleiss_kappa",
    f"""
    WITH s AS (
      SELECT (CASE WHEN {_R1} THEN 1 ELSE 0 END
              + CASE WHEN {_R2} THEN 1 ELSE 0 END
              + CASE WHEN {_R3} THEN 1 ELSE 0 END) AS k
      FROM orders
    ), h AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1
    ), agg AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(k * c) AS BIGINT) AS sk,
             CAST(SUM((k * k + (3 - k) * (3 - k)) * c) AS BIGINT) AS sq
      FROM h
    )
    SELECT n AS n_subjects,
           ROUND((CAST(sq AS DOUBLE) - 3.0 * n) / (n * 6.0), 6)
             AS p_bar,
           ROUND((CAST(sk AS DOUBLE) / (3.0 * n))
                 * (CAST(sk AS DOUBLE) / (3.0 * n))
                 + (1.0 - CAST(sk AS DOUBLE) / (3.0 * n))
                 * (1.0 - CAST(sk AS DOUBLE) / (3.0 * n)), 6) AS p_exp,
           ROUND(((CAST(sq AS DOUBLE) - 3.0 * n) / (n * 6.0)
                  - ((CAST(sk AS DOUBLE) / (3.0 * n))
                     * (CAST(sk AS DOUBLE) / (3.0 * n))
                     + (1.0 - CAST(sk AS DOUBLE) / (3.0 * n))
                     * (1.0 - CAST(sk AS DOUBLE) / (3.0 * n))))
                 / (1.0 - ((CAST(sk AS DOUBLE) / (3.0 * n))
                           * (CAST(sk AS DOUBLE) / (3.0 * n))
                           + (1.0 - CAST(sk AS DOUBLE) / (3.0 * n))
                           * (1.0 - CAST(sk AS DOUBLE) / (3.0 * n)))),
                 6) AS kappa
    FROM agg
    """,
)
def q_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa for THREE weak binary labelers per order (value,
    priority, status — q_cohens_kappa's pair plus one) — the
    multi-rater agreement gate a labeling pipeline needs once it has
    more than two annotators. The whole statistic collapses onto the
    4-bucket histogram of k = #raters-voting-1 per subject: P̄ =
    (Σ(k²+(3−k)²) − 3N)/(6N) and P̄e = p₁² + p₀² with p₁ = Σk/3N, all
    exact BIGINTs until three final IEEE divisions. One fact pass to
    the histogram (map-side combined, ≤4 rows), driver sees one row."""
    orders = load_table(spark, sf_dir, "orders")
    k = (
        F.when(
            F.round(F.col("o_totalprice") * 100).cast("long") > 15_000_000, 1
        )
        .otherwise(0)
        + F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        + F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    )
    h = orders.select(k.alias("k")).groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    agg = h.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("k") * F.col("c")).cast("long").alias("sk"),
        F.sum(
            (
                F.col("k") * F.col("k")
                + (3 - F.col("k")) * (3 - F.col("k"))
            )
            * F.col("c")
        )
        .cast("long")
        .alias("sq"),
    )
    n = F.col("n")
    p_bar = (F.col("sq").cast("double") - F.lit(3.0) * n) / (
        n * F.lit(6.0)
    )
    p1 = F.col("sk").cast("double") / (F.lit(3.0) * n)
    p_exp = p1 * p1 + (F.lit(1.0) - p1) * (F.lit(1.0) - p1)
    return agg.select(
        n.alias("n_subjects"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_exp, 6).alias("p_exp"),
        F.round((p_bar - p_exp) / (F.lit(1.0) - p_exp), 6).alias("kappa"),
    )


@query(
    "q_cochran_q",
    f"""
    WITH s AS (
      SELECT CASE WHEN {_R1} THEN 1 ELSE 0 END AS r1,
             CASE WHEN {_R2} THEN 1 ELSE 0 END AS r2,
             CASE WHEN {_R3} THEN 1 ELSE 0 END AS r3
      FROM orders
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r1) AS BIGINT) AS c1,
             CAST(SUM(r2) AS BIGINT) AS c2,
             CAST(SUM(r3) AS BIGINT) AS c3,
             CAST(SUM(r1 + r2 + r3) AS BIGINT) AS sr,
             CAST(SUM((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS sr2
      FROM s
    )
    SELECT n AS n_subjects, c1, c2, c3,
           ROUND(2.0 * (3.0 * (CAST(c1 AS DOUBLE) * c1
                               + CAST(c2 AS DOUBLE) * c2
                               + CAST(c3 AS DOUBLE) * c3)
                        - CAST(sr AS DOUBLE) * sr)
                 / (3.0 * sr - sr2), 6) AS q_stat,
           CAST(CASE WHEN 2.0 * (3.0 * (CAST(c1 AS DOUBLE) * c1
                                        + CAST(c2 AS DOUBLE) * c2
                                        + CAST(c3 AS DOUBLE) * c3)
                                 - CAST(sr AS DOUBLE) * sr)
                          / (3.0 * sr - sr2) > 5.991465
                     THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
    FROM agg
    """,
)
def q_cochran_q(spark, sf_dir):
    """Cochran's Q across the three binary labelers (the k-treatment
    generalization of q_mcnemar): do the raters fire at the same RATE?
    Q = (m−1)(m·ΣC_j² − (ΣC_j)²)/(m·ΣR_i − ΣR_i²) with m=3; the
    column totals C_j and the per-subject row-sum moments ΣR, ΣR² are
    all exact BIGINTs out of ONE fact aggregate (C_j² rides doubles —
    exact to 2⁵³, identical both engines), and the χ²₂ rejection at
    α=0.05 rides the hash row. The cheapest multi-treatment test in
    the suite: one pass, one row."""
    orders = load_table(spark, sf_dir, "orders")
    r1 = F.when(
        F.round(F.col("o_totalprice") * 100).cast("long") > 15_000_000, 1
    ).otherwise(0)
    r2 = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    r3 = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    s = orders.select(r1.alias("r1"), r2.alias("r2"), r3.alias("r3"))
    rsum = F.col("r1") + F.col("r2") + F.col("r3")
    agg = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r1").cast("long").alias("c1"),
        F.sum("r2").cast("long").alias("c2"),
        F.sum("r3").cast("long").alias("c3"),
        F.sum(rsum).cast("long").alias("sr"),
        F.sum(rsum * rsum).cast("long").alias("sr2"),
    )
    csq = (
        F.col("c1").cast("double") * F.col("c1")
        + F.col("c2").cast("double") * F.col("c2")
        + F.col("c3").cast("double") * F.col("c3")
    )
    q = (
        F.lit(2.0)
        * (F.lit(3.0) * csq - F.col("sr").cast("double") * F.col("sr"))
        / (F.lit(3.0) * F.col("sr") - F.col("sr2"))
    )
    return agg.select(
        F.col("n").alias("n_subjects"),
        "c1",
        "c2",
        "c3",
        F.round(q, 6).alias("q_stat"),
        F.when(q > 5.991465, 1).otherwise(0).cast("long").alias(
            "reject_5pct"
        ),
    )


@query(
    "q_cronbach_alpha",
    """
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1994
                           THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS i1,
             CAST(SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1995
                           THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS i2,
             CAST(SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
                           THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS i3
      FROM orders GROUP BY 1
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(i1) AS BIGINT) AS s1,
             CAST(SUM(i2) AS BIGINT) AS s2,
             CAST(SUM(i3) AS BIGINT) AS s3,
             CAST(SUM(CAST(i1 AS DECIMAL(38,0)) * i1) AS DOUBLE) AS q1,
             CAST(SUM(CAST(i2 AS DECIMAL(38,0)) * i2) AS DOUBLE) AS q2,
             CAST(SUM(CAST(i3 AS DECIMAL(38,0)) * i3) AS DOUBLE) AS q3,
             CAST(SUM(CAST(i1 + i2 + i3 AS DECIMAL(38,0))
                      * (i1 + i2 + i3)) AS DOUBLE) AS qt
      FROM per
    ), v AS (
      SELECT n,
             (q1 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS v1,
             (q2 - CAST(s2 AS DOUBLE) * s2 / n) / (n - 1) AS v2,
             (q3 - CAST(s3 AS DOUBLE) * s3 / n) / (n - 1) AS v3,
             (qt - CAST(s1 + s2 + s3 AS DOUBLE) * (s1 + s2 + s3) / n)
               / (n - 1) AS vt
      FROM agg
    )
    SELECT n AS n_units,
           ROUND((v1 + v2 + v3) / vt, 6) AS item_var_ratio,
           ROUND(1.5 * (1.0 - (v1 + v2 + v3) / vt), 6) AS alpha
    FROM v
    """,
)
def q_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha over three per-customer 'items' (1994/1995/1996
    spend in cents) — the internal-consistency coefficient a metric
    pipeline reports before averaging correlated signals into a score:
    α = k/(k−1)·(1 − Σvar_item/var_total), k=3. Item sums are exact
    BIGINTs out of one conditional fact rollup; squares ride
    DECIMAL(38,0); each sample variance is the classic Σx² − (Σx)²/n
    contrast as ONE double expression — identical in both engines. One
    grouped pass + one aggregate, one output row."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    yr = F.year(F.col("o_orderdate"))
    per = orders.groupBy("o_custkey").agg(
        *[
            F.sum(F.when(yr == y, cents).otherwise(0))
            .cast("long")
            .alias(f"i{j}")
            for j, y in enumerate((1994, 1995, 1996), start=1)
        ]
    )
    tot = F.col("i1") + F.col("i2") + F.col("i3")
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("i1").cast("long").alias("s1"),
        F.sum("i2").cast("long").alias("s2"),
        F.sum("i3").cast("long").alias("s3"),
        F.sum(F.col("i1").cast("decimal(38,0)") * F.col("i1"))
        .cast("double")
        .alias("q1"),
        F.sum(F.col("i2").cast("decimal(38,0)") * F.col("i2"))
        .cast("double")
        .alias("q2"),
        F.sum(F.col("i3").cast("decimal(38,0)") * F.col("i3"))
        .cast("double")
        .alias("q3"),
        F.sum(tot.cast("decimal(38,0)") * tot).cast("double").alias("qt"),
    )
    n = F.col("n")
    var = lambda q, s: (  # noqa: E731
        F.col(q) - F.col(s).cast("double") * F.col(s) / n
    ) / (n - 1)
    st = F.col("s1") + F.col("s2") + F.col("s3")
    vt = (F.col("qt") - st.cast("double") * st / n) / (n - 1)
    ratio = (var("q1", "s1") + var("q2", "s2") + var("q3", "s3")) / vt
    return agg.select(
        n.alias("n_units"),
        F.round(ratio, 6).alias("item_var_ratio"),
        F.round(F.lit(1.5) * (F.lit(1.0) - ratio), 6).alias("alpha"),
    )


@query(
    "q_icc",
    """
    WITH y AS (
      SELECT c.c_nationkey AS g, CAST(COUNT(o.o_orderkey) AS BIGINT) AS y
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_nationkey
    ), grp AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(y) AS BIGINT) AS s_g,
             CAST(SUM(y * y) AS BIGINT) AS q_g
      FROM y GROUP BY 1
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gk,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS st,
             CAST(SUM(q_g) AS BIGINT) AS qt,
             CAST(SUM(n_g * n_g) AS BIGINT) AS sn2,
             CAST(SUM(CAST(ROUND(
               CAST(CAST(s_g AS DECIMAL(38,0)) * s_g AS DOUBLE) / n_g, 6)
               AS DECIMAL(38,6))) AS DOUBLE) AS sgb
      FROM grp
    ), ms AS (
      SELECT gk, n,
             (sgb - CAST(CAST(st AS DECIMAL(38,0)) * st AS DOUBLE) / n)
               / (gk - 1) AS msb,
             (CAST(qt AS DOUBLE) - sgb) / (n - gk) AS msw,
             (CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE) / n) / (gk - 1)
               AS k0
      FROM agg
    )
    SELECT gk AS n_groups, n AS n_units,
           ROUND(k0, 6) AS k0,
           ROUND((msb - msw) / (msb + (k0 - 1.0) * msw), 6) AS icc1
    FROM ms
    """,
)
def q_icc(spark, sf_dir):
    """Intraclass correlation ICC(1) of per-customer order counts
    within nations — 'how much of the variance is BETWEEN groups', the
    clustered-data diagnostic that decides whether q_ab_test-style
    iid inference is even valid (high ICC ⇒ cluster-robust methods).
    One-way random-effects ANOVA on exact integer sums: per-group
    n/Σy/Σy² BIGINTs, between-group terms S_g²/n_g 6dp-rounded and
    decimal-summed (the q_anova_f discipline), the unequal-group-size
    correction k₀ = (N − Σn_g²/N)/(G−1) exact to one division. Two
    grouped passes (unit rollup, group rollup), no window, no join
    after the dims."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    yf = (
        customer.join(
            orders, orders.o_custkey == customer.c_custkey, "left"
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.count("o_orderkey").cast("long").alias("y"))
        .select(F.col("c_nationkey").alias("g"), "y")
    )
    grp = yf.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("y").cast("long").alias("s_g"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("q_g"),
    )
    term = F.round(
        (F.col("s_g").cast("decimal(38,0)") * F.col("s_g")).cast("double")
        / F.col("n_g"),
        6,
    ).cast("decimal(38,6)")
    agg = grp.agg(
        F.count(F.lit(1)).cast("long").alias("gk"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("st"),
        F.sum("q_g").cast("long").alias("qt"),
        F.sum(F.col("n_g") * F.col("n_g")).cast("long").alias("sn2"),
        F.sum(term).cast("double").alias("sgb"),
    )
    gk, n = F.col("gk"), F.col("n")
    msb = (
        F.col("sgb")
        - (F.col("st").cast("decimal(38,0)") * F.col("st")).cast("double")
        / n
    ) / (gk - 1)
    msw = (F.col("qt").cast("double") - F.col("sgb")) / (n - gk)
    k0 = (n.cast("double") - F.col("sn2").cast("double") / n) / (gk - 1)
    return agg.select(
        gk.alias("n_groups"),
        n.alias("n_units"),
        F.round(k0, 6).alias("k0"),
        F.round((msb - msw) / (msb + (k0 - F.lit(1.0)) * msw), 6).alias(
            "icc1"
        ),
    )


# ---------------------------------------------------------------------------
# phase 51: time-series diagnostics + robust trend + table integrity
# ---------------------------------------------------------------------------

_LB_LAGS = 6
_LB_CHI2_6 = 12.591587  # chi-square 0.95 quantile, df=6


def _sql_ljung_box(lags: int) -> str:
    lag_cols = ",\n             ".join(
        f"LAG(x, {k}) OVER (ORDER BY d) AS l{k}" for k in range(1, lags + 1)
    )
    per_lag_sums = ",\n             ".join(
        f"CAST(SUM(CAST(x AS DECIMAL(38,0)) * l{k}) AS DOUBLE) AS p{k},\n"
        f"             CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN x END)"
        f" AS DOUBLE) AS h{k},\n"
        f"             CAST(SUM(l{k}) AS DOUBLE) AS t{k}"
        for k in range(1, lags + 1)
    )
    rho = lambda k: (  # noqa: E731
        f"((nd * nd * p{k} - nd * sd * (h{k} + t{k})"
        f" + (nd - {k}) * sd * sd)"
        f" / (nd * nd * qd - nd * sd * sd))"
    )
    terms = " + ".join(
        f"CAST(ROUND({rho(k)} * {rho(k)} / (nd - {k}), 12)"
        f" AS DECIMAL(28,12))"
        for k in range(1, lags + 1)
    )
    return f"""
    WITH day AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), l AS (
      SELECT x,
             {lag_cols}
      FROM day
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sd,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS qd,
             {per_lag_sums}
      FROM l
    ), r AS (
      SELECT n, CAST(n AS DOUBLE) AS nd, sd, qd,
             {", ".join(f"p{k}, h{k}, t{k}" for k in range(1, lags + 1))}
      FROM s
    )
    SELECT n AS n_days,
           ROUND(CAST(n AS DOUBLE) * (n + 2)
                 * CAST({terms} AS DOUBLE), 6) AS q_stat,
           CAST(CASE WHEN CAST(n AS DOUBLE) * (n + 2)
                          * CAST({terms} AS DOUBLE) > {_LB_CHI2_6}
                     THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
    FROM r
    """


@query("q_ljung_box", _sql_ljung_box(_LB_LAGS))
def q_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau test on daily revenue (lags 1-6): is the
    series white noise, or is there autocorrelation worth modeling —
    the gate before trusting q_ab_test-style independence on temporal
    data (the ICC diagnostic's time-series twin). Each ρ_k comes out
    of EXACT sums over the calendar-bounded day frame: numerator and
    denominator multiplied through by n² so every building block is a
    decimal-exact Σx, Σx², Σx_t·x_{t−k} converted to double ONCE
    (correctly rounded, engine-identical), then one fixed IEEE dag per
    lag, ρ²/(n−k) rounded to 12dp and decimal-summed (the q_psi
    precedent at higher scale because the terms are ~1e-6). One
    grouped fact pass; all six lags ride ONE window pass over the
    bounded day frame; χ²₆ decision on the hash row."""
    orders = load_table(spark, sf_dir, "orders")
    day = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    w = Window.orderBy("d")
    lagged = day.select(
        "x",
        *[F.lag("x", k).over(w).alias(f"l{k}") for k in range(1, _LB_LAGS + 1)],
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("sd"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("double")
        .alias("qd"),
    ]
    for k in range(1, _LB_LAGS + 1):
        aggs += [
            F.sum(F.col("x").cast("decimal(38,0)") * F.col(f"l{k}"))
            .cast("double")
            .alias(f"p{k}"),
            F.sum(F.when(F.col(f"l{k}").isNotNull(), F.col("x")))
            .cast("double")
            .alias(f"h{k}"),
            F.sum(f"l{k}").cast("double").alias(f"t{k}"),
        ]
    s = lagged.agg(*aggs)
    nd = F.col("n").cast("double")
    sd, qd = F.col("sd"), F.col("qd")

    def rho(k: int):
        num = (
            nd * nd * F.col(f"p{k}")
            - nd * sd * (F.col(f"h{k}") + F.col(f"t{k}"))
            + (nd - k) * sd * sd
        )
        return num / (nd * nd * qd - nd * sd * sd)

    term_sum = None
    for k in range(1, _LB_LAGS + 1):
        t = F.round(rho(k) * rho(k) / (nd - k), 12).cast("decimal(28,12)")
        term_sum = t if term_sum is None else term_sum + t
    q = nd * (F.col("n") + 2) * term_sum.cast("double")
    return s.select(
        F.col("n").alias("n_days"),
        F.round(q, 6).alias("q_stat"),
        F.when(q > _LB_CHI2_6, 1).otherwise(0).cast("long").alias(
            "reject_5pct"
        ),
    )


@query(
    "q_durbin_watson",
    """
    WITH day AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), ty AS (
      SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, d
      FROM day
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(t AS DECIMAL(38,0)) * y) AS DOUBLE) AS sty,
             CAST(SUM(t * t) AS BIGINT) AS stt
      FROM ty
    ), ab AS (
      SELECT n,
             (CAST(n AS DOUBLE) * sty
              - CAST(st AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS b,
             (CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st))
                * st) / n AS a
      FROM s
    ), e AS (
      SELECT ty.d, CAST(ty.y AS DOUBLE) - ab.a - ab.b * ty.t AS e
      FROM ty, ab
    ), le AS (
      SELECT e, LAG(e) OVER (ORDER BY d) AS ep FROM e
    ), sums AS (
      SELECT CAST(SUM(CAST(ROUND((e - ep) * (e - ep), 6)
                           AS DECIMAL(38,6))) AS DOUBLE) AS num,
             CAST(SUM(CAST(ROUND(e * e, 6)
                           AS DECIMAL(38,6))) AS DOUBLE) AS den,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM le
    )
    SELECT n AS n_days,
           ROUND(num / den, 6) AS dw_stat,
           ROUND(1.0 - num / den / 2.0, 6) AS rho_hat
    FROM sums
    """,
)
def q_durbin_watson(spark, sf_dir):
    """Durbin-Watson first-order autocorrelation test on the residuals
    of the daily-revenue-vs-time OLS line — the regression-residual
    sibling of q_ljung_box (DW≈2 ⇒ independent residuals; <2 ⇒
    positive serial correlation). The OLS slope/intercept come from
    exact integer sums (Σt, Σy BIGINT; Σt·y DECIMAL(38,0)) via single
    IEEE divisions; every residual e_t is then the same double in both
    engines, and the two quadratic sums Σ(e_t−e_{t−1})², Σe_t² use the
    rounded-term decimal discipline so parallel summation order can't
    move a bit. One fact pass, two window passes over the bounded day
    frame, one 1-row broadcast for (a, b)."""
    orders = load_table(spark, sf_dir, "orders")
    day = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    wd = Window.orderBy("d")
    ty = day.select(
        "d", "y", F.row_number().over(wd).cast("long").alias("t")
    )
    s = ty.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("sty"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
    )
    nd = F.col("n").cast("double")
    b = (nd * F.col("sty") - F.col("st").cast("double") * F.col("sy")) / (
        nd * F.col("stt") - F.col("st").cast("double") * F.col("st")
    )
    ab = s.select(
        F.col("n"), b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("st")) / F.col("n")).alias(
            "a"
        ),
    )
    e = ty.join(F.broadcast(ab)).select(
        "d", (F.col("y").cast("double") - F.col("a") - F.col("b") * F.col("t")).alias("e")
    )
    le = e.select("e", F.lag("e").over(wd.orderBy("d")).alias("ep"))
    sums = le.agg(
        F.sum(
            F.round((F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")), 6)
            .cast("decimal(38,6)")
        )
        .cast("double")
        .alias("num"),
        F.sum(F.round(F.col("e") * F.col("e"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("den"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dw = F.col("num") / F.col("den")
    return sums.select(
        F.col("n").alias("n_days"),
        F.round(dw, 6).alias("dw_stat"),
        F.round(F.lit(1.0) - dw / F.lit(2.0), 6).alias("rho_hat"),
    )


@query(
    "q_theil_sen",
    """
    WITH mo AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
                  + EXTRACT(month FROM o_orderdate) AS BIGINT) AS t,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), pairs AS (
      SELECT CAST(b.y - a.y AS DOUBLE) / (b.t - a.t) AS slope
      FROM mo a JOIN mo b ON a.t < b.t
    ), rk AS (
      SELECT slope,
             ROW_NUMBER() OVER (ORDER BY slope) AS rn,
             COUNT(*) OVER () AS m
      FROM pairs
    ), med AS (
      SELECT AVG(slope) AS slope_med, MAX(m) AS m FROM rk
      WHERE rn IN ((m + 1) // 2, m // 2 + 1)
    ), ic AS (
      SELECT CAST(mo.y AS DOUBLE) - med.slope_med * mo.t AS r
      FROM mo, med
    ), icr AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn,
             COUNT(*) OVER () AS n
      FROM ic
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM mo) AS n_months,
           (SELECT CAST(MAX(m) AS BIGINT) FROM med) AS n_pairs,
           ROUND((SELECT slope_med FROM med), 6) AS slope_cents_per_month,
           ROUND(AVG(r), 6) AS intercept_cents
    FROM icr
    WHERE rn IN ((n + 1) // 2, n // 2 + 1)
    """,
)
def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend of monthly revenue: the MEDIAN of all
    pairwise slopes (84 months ⇒ ~3.5k pairs) plus the median-residual
    intercept — the outlier-proof alternative to the OLS line
    q_durbin_watson residualizes against (up to ~29% contamination).
    The pair fan-out is month×month — bounded by the CALENDAR, never
    the fact table, so the nested-loop inequality join is a constant
    at any data scale. Medians are exact order statistics (avg of the
    two middle ROW_NUMBERs, no interpolating percentile — those differ
    across engines); every slope is one IEEE division of exact cent
    BIGINTs, identical in both engines. One grouped fact pass; two
    window passes over bounded frames."""
    orders = load_table(spark, sf_dir, "orders")
    mo = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("t")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    ).localCheckpoint(eager=False)  # ~84 rows, reused 3×
    a = mo.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    bm = mo.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    pairs = a.join(bm, F.col("ta") < F.col("tb")).select(
        (
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("tb") - F.col("ta"))
        ).alias("slope")
    )
    wslope = Window.orderBy("slope")
    wall = Window.partitionBy()
    rk = pairs.select(
        "slope",
        F.row_number().over(wslope).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    med = rk.filter(
        (F.col("rn") == F.expr("(m + 1) div 2"))
        | (F.col("rn") == F.expr("m div 2 + 1"))
    ).agg(
        F.avg("slope").alias("slope_med"),
        F.max("m").cast("long").alias("m"),
    )
    ic = mo.join(F.broadcast(med)).select(
        (F.col("y").cast("double") - F.col("slope_med") * F.col("t")).alias(
            "r"
        ),
        "slope_med",
        "m",
    )
    wr = Window.orderBy("r")
    icr = ic.select(
        "r",
        "slope_med",
        "m",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    return icr.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("n div 2 + 1"))
    ).agg(
        F.max("n").cast("long").alias("n_months"),
        F.max("m").cast("long").alias("n_pairs"),
        F.round(F.max("slope_med"), 6).alias("slope_cents_per_month"),
        F.round(F.avg("r"), 6).alias("intercept_cents"),
    )


# ---------------------------------------------------------------------------
# q_table_fingerprint: order-independent bucketed content hash
# ---------------------------------------------------------------------------

from ..operators.sketches import _fold8, _sql_fold8  # noqa: E402

_FP_BUCKETS = 64
_FP_ROW_SQL = (
    "concat_ws('|', o_orderkey, o_custkey, "
    "CAST(ROUND(o_totalprice * 100) AS BIGINT), o_orderstatus, "
    "CAST(CAST(o_orderdate AS DATE) AS VARCHAR))"
)


@query(
    "q_table_fingerprint",
    f"""
    WITH rh AS (
      SELECT CAST(o_orderkey % {_FP_BUCKETS} AS BIGINT) AS bucket,
             {_sql_fold8(f"md5({_FP_ROW_SQL})")} AS h
      FROM orders
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h) AS BIGINT) AS hash_sum,
           CAST(bit_xor(h) AS BIGINT) AS hash_xor,
           CAST(MIN(h) AS BIGINT) AS hash_min,
           CAST(MAX(h) AS BIGINT) AS hash_max
    FROM rh GROUP BY 1 ORDER BY 1
    """,
)
def q_table_fingerprint(spark, sf_dir):
    """Order-independent bucketed content fingerprint of the orders
    table — the replica-verification primitive: run the same query on
    two copies of a 100 TB table (different clusters, different file
    layouts, different row orders) and diff 64 rows instead of 10¹¹.
    Every row folds to a portable 32-bit hash (md5 of a canonical
    '|'-joined projection, the kmv _fold8 discipline), buckets by key
    so a mismatch LOCALIZES to 1/64th of the keyspace, and each bucket
    summarizes with four ORDER-INDEPENDENT aggregates (count, sum, xor,
    min/max) — commutative, so shuffle order and parallelism can't
    change a digit, and any single-row change flips sum AND xor. One
    fact pass, map-side combined, 64-row result. Re-run per bucket
    with a finer modulus to binary-search a discrepancy down to rows."""
    orders = load_table(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long"),
        F.col("o_orderstatus"),
        F.col("o_orderdate").cast("date").cast("string"),
    )
    rh = orders.select(
        (F.col("o_orderkey") % _FP_BUCKETS).cast("long").alias("bucket"),
        _fold8(F.md5(row_str)).alias("h"),
    )
    return (
        rh.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("h").cast("long").alias("hash_sum"),
            F.bit_xor("h").cast("long").alias("hash_xor"),
            F.min("h").cast("long").alias("hash_min"),
            F.max("h").cast("long").alias("hash_max"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q_stream_state_census: state-store size certificate (rows-only)
# ---------------------------------------------------------------------------


_STATE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def _state_stats(progress) -> tuple[int, int, int]:
    """(stateful micro-batches, final state rows, final state-memory
    bytes) from a stream's ``recentProgress``."""
    state_rows = mem_bytes = n_batches = 0
    for p in progress:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        n_batches += 1
        state_rows = int(ops[0].get("numRowsTotal", 0))
        mem_bytes = int(ops[0].get("memoryUsedBytes", 0))
    return n_batches, state_rows, mem_bytes


@query("q_stream_state_census")  # runs real availableNow streams
def q_stream_state_census(spark, sf_dir):
    """State-store SIZE certificate for a windowed streaming aggregate,
    measured under BOTH state-store providers (VERDICT r10 #7 — the
    default HDFS-backed store AND RocksDB, the actual 100 TB state
    path): run hourly-window × event-type counts across 4 time-ordered
    micro-batches per provider and read the LAST micro-batch's
    stateOperators metrics. The certificate: each provider's
    ``numRowsTotal`` must EQUAL the batch-side distinct
    (hour, event_type) group count — one state row per open group, no
    leak, no loss, REGARDLESS of backend — and the two providers'
    update-mode outputs must be row-identical (``providers_agree``).
    The memory columns are measured footprints (machine-dependent →
    rows-only by design); bytes/row is the sizing number a deployment
    extrapolates when choosing RocksDB (pays off once rows × bytes/row
    exceeds executor heap; the r6 measurement showed it ~10% slower
    below that, and RocksDB's memoryUsedBytes reports its block-cache
    accounting, not JVM heap — the two columns are deliberately not
    comparable to each other, each is comparable to ITS backend's
    budget)."""
    from ..io import load_table
    from ..streaming.census import CENSUS_STREAM_CONFS, StreamCensus

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    with StreamCensus(spark, "q_stream_state_census") as census:
        path, schema = census.land(events.repartitionByRange(4, "ts"))
        stats: dict[str, tuple[int, int, int]] = {}
        outs = {}
        for prov, cls in _STATE_PROVIDERS.items():
            agg = census.stream(path, schema).groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            ).agg(F.count(F.lit(1)).alias("n"))
            outs[prov], progress = census.run(
                agg, "update", {prov_key: cls, **CENSUS_STREAM_CONFS}
            )
            stats[prov] = _state_stats(progress)

        n_groups = (
            spark.read.schema(schema)
            .json(path)
            .select(F.date_trunc("hour", "ts").alias("h"), "event_type")
            .distinct()
            .count()
        )
        out_h, out_r = outs["hdfs"], outs["rocksdb"]
        providers_agree = int(
            stats["hdfs"][1] == stats["rocksdb"][1]
            and out_h.exceptAll(out_r).count() == 0
            and out_r.exceptAll(out_h).count() == 0
        )
    nb_h, rows_h, mem_h = stats["hdfs"]
    nb_r, rows_r, mem_r = stats["rocksdb"]
    return spark.createDataFrame(
        [
            (
                int(nb_h),
                int(rows_h),
                int(n_groups),
                int(rows_h == n_groups and rows_r == n_groups),
                int(mem_h),
                int(mem_h // rows_h) if rows_h else 0,
                int(mem_r),
                int(mem_r // rows_r) if rows_r else 0,
                providers_agree,
            )
        ],
        "n_microbatches long, state_rows_final long, n_groups_batch"
        " long, rows_match long, hdfs_memory_bytes long,"
        " hdfs_bytes_per_row long, rocksdb_memory_bytes long,"
        " rocksdb_bytes_per_row long, providers_agree long",
    )


# ---------------------------------------------------------------------------
# phase 52: trend tests, changepoint localization, regression influence
# ---------------------------------------------------------------------------


@query(
    "q_mann_kendall",
    """
    WITH mo AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
                  + EXTRACT(month FROM o_orderdate) AS BIGINT) AS t,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM mo a JOIN mo b ON a.t < b.t
    ), tt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT y, COUNT(*) AS c FROM mo GROUP BY 1)
    )
    SELECT tt.n AS n_months, s.s AS s_stat,
           ROUND((CAST(tt.n AS DOUBLE) * (tt.n - 1) * (2 * tt.n + 5)
                  - tt.tie_term) / 18.0, 6) AS var_s,
           ROUND(CASE WHEN s.s > 0 THEN (s.s - 1.0) ELSE
                      CASE WHEN s.s < 0 THEN (s.s + 1.0)
                           ELSE 0.0 END END
                 / sqrt((CAST(tt.n AS DOUBLE) * (tt.n - 1) * (2 * tt.n + 5)
                         - tt.tie_term) / 18.0), 6) AS z_score
    FROM s, tt
    """,
)
def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotone-trend test on monthly revenue — the
    nonparametric significance test that pairs with q_theil_sen's
    slope (sign-based, so outliers can't fake a trend). S = Σ sign
    differences over all month pairs is an exact BIGINT off the
    calendar-bounded pair fan-out (~3.5k pairs regardless of data
    scale); the tie-corrected variance and the ±1 continuity-corrected
    z are one fixed dag each. One grouped fact pass; the pair join is
    month×month, a constant."""
    orders = load_table(spark, sf_dir, "orders")
    mo = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("t")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    ).localCheckpoint(eager=False)  # bounded; pair join + tie frame
    a = mo.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = mo.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    s = a.join(b, F.col("ta") < F.col("tb")).agg(
        F.sum(
            F.when(F.col("yb") > F.col("ya"), 1)
            .when(F.col("yb") < F.col("ya"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s")
    )
    tt = (
        mo.groupBy("y")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term"),
        )
    )
    j = s.join(F.broadcast(tt))
    nd = F.col("n").cast("double")
    var_s = (nd * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")) / F.lit(18.0)
    sc = F.col("s")
    z = (
        F.when(sc > 0, sc - F.lit(1.0))
        .when(sc < 0, sc + F.lit(1.0))
        .otherwise(F.lit(0.0))
    ) / F.sqrt(var_s)
    return j.select(
        F.col("n").alias("n_months"),
        sc.alias("s_stat"),
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z_score"),
    )


@query(
    "q_binseg_changepoint",
    """
    WITH day AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), pre AS (
      SELECT d,
             CAST(SUM(y) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS sp,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
             CAST(SUM(y) OVER () AS BIGINT) AS st,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM day
    ), gain AS (
      SELECT d, t, n, sp, st,
             ROUND(CAST(CAST(sp AS DECIMAL(38,0)) * sp AS DOUBLE) / t
                   + CAST(CAST(st - sp AS DECIMAL(38,0)) * (st - sp)
                          AS DOUBLE) / (n - t)
                   - CAST(CAST(st AS DECIMAL(38,0)) * st AS DOUBLE) / n,
                   4) AS g
      FROM pre WHERE t < n
    ), best AS (
      SELECT d, t, n, sp, st, g,
             ROW_NUMBER() OVER (ORDER BY g DESC, d) AS rn
      FROM gain
    )
    SELECT n AS n_days, d AS split_day, t AS split_index,
           ROUND(g / 1e8, 6) AS gain_dollars_sq,
           ROUND(CAST(sp AS DOUBLE) / t / 100.0, 2) AS mean_before_dollars,
           ROUND(CAST(st - sp AS DOUBLE) / (n - t) / 100.0, 2)
             AS mean_after_dollars
    FROM best WHERE rn = 1
    """,
)
def q_binseg_changepoint(spark, sf_dir):
    """Single-split binary-segmentation changepoint on daily revenue:
    the split t* maximizing the between-segment sum-of-squares gain
    S_t²/t + (S−S_t)²/(n−t) − S²/n — the offline EXACT localizer that
    complements the sequential detectors (q_cusum tracks a known mean,
    q_page_hinkley the running mean; binseg pinpoints the single best
    break in hindsight, and recursing on each side segments the whole
    series). Every candidate split's gain comes from the prefix sum
    (exact BIGINT via one window pass over the calendar-bounded day
    frame) squared on DECIMAL(38,0) — one fixed IEEE dag per day,
    4dp-rounded so the cross-engine argmax ordering is stable; the
    argmax is a ROW_NUMBER pick with a date tie-break, never a
    driver-side loop."""
    orders = load_table(spark, sf_dir, "orders")
    day = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    wd = Window.orderBy("d")
    wall = Window.partitionBy()
    pre = day.select(
        "d",
        F.sum("y").over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("sp"),
        F.row_number().over(wd).cast("long").alias("t"),
        F.sum("y").over(wall).cast("long").alias("st"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
    )
    spd = F.col("sp").cast("decimal(38,0)")
    rest = (F.col("st") - F.col("sp")).cast("decimal(38,0)")
    std = F.col("st").cast("decimal(38,0)")
    g = F.round(
        (spd * F.col("sp")).cast("double") / F.col("t")
        + (rest * (F.col("st") - F.col("sp"))).cast("double")
        / (F.col("n") - F.col("t"))
        - (std * F.col("st")).cast("double") / F.col("n"),
        4,
    )
    gain = pre.filter(F.col("t") < F.col("n")).withColumn("g", g)
    best = gain.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("g"), F.asc("d")))
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("n").alias("n_days"),
        F.col("d").alias("split_day"),
        F.col("t").alias("split_index"),
        F.round(F.col("g") / F.lit(1e8), 6).alias("gain_dollars_sq"),
        F.round(F.col("sp").cast("double") / F.col("t") / F.lit(100.0), 2)
        .alias("mean_before_dollars"),
        F.round(
            (F.col("st") - F.col("sp")).cast("double")
            / (F.col("n") - F.col("t"))
            / F.lit(100.0),
            2,
        ).alias("mean_after_dollars"),
    )


@query(
    "q_ols_influence",
    """
    WITH day AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), ty AS (
      SELECT d, y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
      FROM day
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(t AS DECIMAL(38,0)) * y) AS DOUBLE) AS sty,
             CAST(SUM(t * t) AS BIGINT) AS stt
      FROM ty
    ), ab AS (
      SELECT n, st, stt,
             (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS b,
             (CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st))
                * st) / n AS a
      FROM s
    ), e AS (
      SELECT ty.d, ty.t, ab.n,
             CAST(ty.y AS DOUBLE) - ab.a - ab.b * ty.t AS e,
             1.0 / ab.n
               + (ty.t - CAST(ab.st AS DOUBLE) / ab.n)
                 * (ty.t - CAST(ab.st AS DOUBLE) / ab.n)
                 / (ab.stt - CAST(ab.st AS DOUBLE) * ab.st / ab.n) AS h
      FROM ty, ab
    ), s2 AS (
      SELECT CAST(SUM(CAST(ROUND(e * e, 6) AS DECIMAL(38,6)))
                  AS DOUBLE) / (MAX(n) - 2) AS s2
      FROM e
    )
    SELECT d AS day, ROUND(cook, 6) AS cook_d, ROUND(sr, 6) AS std_resid
    FROM (
      SELECT e.d,
             e.e * e.e / (2.0 * s2.s2) * e.h / ((1.0 - e.h) * (1.0 - e.h))
               AS cook,
             e.e / sqrt(s2.s2 * (1.0 - e.h)) AS sr
      FROM e, s2
    )
    ORDER BY cook DESC, day LIMIT 10
    """,
)
def q_ols_influence(spark, sf_dir):
    """Top-10 most influential days of the daily-revenue OLS fit by
    Cook's distance (with studentized residuals) — the regression
    diagnostic that names WHICH observations drive q_durbin_watson's
    line: D_t = e²/(2s²)·h/(1−h)² with leverage h = 1/n + (t−t̄)²/Sxx.
    Slope/intercept/leverage come from the same exact integer sums as
    q_durbin_watson; s² uses the rounded-term decimal discipline; each
    day's D is one fixed IEEE dag, and the top-10 is a TakeOrdered
    over the bounded day frame with a date tie-break. One fact pass,
    one window pass, two 1-row broadcasts."""
    orders = load_table(spark, sf_dir, "orders")
    day = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    wd = Window.orderBy("d")
    ty = day.select(
        "d", "y", F.row_number().over(wd).cast("long").alias("t")
    )
    s = ty.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("sty"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
    )
    nd = F.col("n").cast("double")
    b = (nd * F.col("sty") - F.col("st").cast("double") * F.col("sy")) / (
        nd * F.col("stt") - F.col("st").cast("double") * F.col("st")
    )
    ab = s.select(
        "n",
        "st",
        "stt",
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("st")) / F.col("n")).alias(
            "a"
        ),
    )
    e = ty.join(F.broadcast(ab)).select(
        "d",
        "t",
        "n",
        (F.col("y").cast("double") - F.col("a") - F.col("b") * F.col("t"))
        .alias("e"),
        (
            F.lit(1.0) / F.col("n")
            + (F.col("t") - F.col("st").cast("double") / F.col("n"))
            * (F.col("t") - F.col("st").cast("double") / F.col("n"))
            / (
                F.col("stt")
                - F.col("st").cast("double") * F.col("st") / F.col("n")
            )
        ).alias("h"),
    ).localCheckpoint(eager=False)  # bounded day frame; s2 + scoring reuse
    s2 = e.agg(
        (
            F.sum(F.round(F.col("e") * F.col("e"), 6).cast("decimal(38,6)"))
            .cast("double")
            / (F.max("n") - 2)
        ).alias("s2")
    )
    scored = e.join(F.broadcast(s2)).select(
        F.col("d").alias("day"),
        (
            F.col("e")
            * F.col("e")
            / (F.lit(2.0) * F.col("s2"))
            * F.col("h")
            / ((F.lit(1.0) - F.col("h")) * (F.lit(1.0) - F.col("h")))
        ).alias("cook"),
        (F.col("e") / F.sqrt(F.col("s2") * (F.lit(1.0) - F.col("h"))))
        .alias("sr"),
    )
    return (
        scored.select(
            "day",
            F.round("cook", 6).alias("cook_d"),
            F.round("sr", 6).alias("std_resid"),
        )
        .orderBy(F.desc("cook_d"), "day")
        .limit(10)
    )


@query(
    "q_grubbs",
    """
    WITH day AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS qy
      FROM day
    ), g AS (
      SELECT day.d, day.y, s.n,
             ABS(CAST(day.y AS DOUBLE) - CAST(s.sy AS DOUBLE) / s.n)
               / sqrt((s.qy - CAST(s.sy AS DOUBLE) * s.sy / s.n)
                      / (s.n - 1)) AS z
      FROM day, s
    )
    SELECT n AS n_days, d AS outlier_day,
           CAST(y AS BIGINT) AS outlier_cents,
           ROUND(z, 6) AS g_stat
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY z DESC, d) AS rn FROM g)
    WHERE rn = 1
    """,
)
def q_grubbs(spark, sf_dir):
    """Grubbs-style maximum-deviation screen on daily revenue: the day
    with the largest |y − ȳ|/s plus the statistic itself — the
    single-outlier localizer that complements the population screens
    (q_zscore_outliers counts, q_mad_outliers robustifies; Grubbs
    NAMES the worst point for the incident report). Mean and sample
    SD come from exact integer sums (Σy BIGINT, Σy² DECIMAL(38,0));
    each day's z is one fixed IEEE dag; the argmax is a ROW_NUMBER
    pick with a date tie-break over the bounded day frame."""
    orders = load_table(spark, sf_dir, "orders")
    day = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    s = day.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("qy"),
    )
    g = day.join(F.broadcast(s)).select(
        "d",
        "y",
        "n",
        (
            F.abs(
                F.col("y").cast("double")
                - F.col("sy").cast("double") / F.col("n")
            )
            / F.sqrt(
                (
                    F.col("qy")
                    - F.col("sy").cast("double") * F.col("sy") / F.col("n")
                )
                / (F.col("n") - 1)
            )
        ).alias("z"),
    )
    return (
        g.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("z"), F.asc("d")))
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("n").alias("n_days"),
            F.col("d").alias("outlier_day"),
            F.col("y").cast("long").alias("outlier_cents"),
            F.round(F.col("z"), 6).alias("g_stat"),
        )
    )


# ---------------------------------------------------------------------------
# phase 53: survey sampling, inequality, ordinal agreement, econometrics
# ---------------------------------------------------------------------------


@query(
    "q_neyman_allocation",
    """
    WITH s AS (
      SELECT c.c_mktsegment AS seg,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), g AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(v) AS BIGINT) AS s1,
             CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DOUBLE) AS s2
      FROM s GROUP BY 1
    ), w AS (
      SELECT seg, n_h,
             n_h * sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n_h)
                        / (n_h - 1)) AS nhsh
      FROM g
    ), t AS (
      SELECT CAST(SUM(CAST(ROUND(nhsh, 6) AS DECIMAL(38,6)))
                  AS DOUBLE) AS tot
      FROM w
    )
    SELECT w.seg, w.n_h AS stratum_size,
           ROUND(w.nhsh / t.tot, 6) AS alloc_share,
           CAST(ROUND(1000.0 * w.nhsh / t.tot, 0) AS BIGINT)
             AS alloc_n_of_1000
    FROM w, t ORDER BY w.seg
    """,
)
def q_neyman_allocation(spark, sf_dir):
    """Neyman optimal allocation of a 1000-unit audit sample across the
    five market-segment strata: n_h ∝ N_h·S_h (big AND volatile strata
    get more samples — the variance-minimizing refinement of
    q_stratified_sample's proportional shares, and the design step
    before q_monetary_unit_sample's execution step). Per-stratum SDs
    come from exact cent sums (Σv BIGINT, Σv² DECIMAL(38,0)), each
    N_h·S_h is one IEEE dag 6dp-rounded and decimal-summed for the
    normalizer, and the rounded per-stratum counts are hash-stable.
    One fact pass, dims broadcast."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    s = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    g = s.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("double")
        .alias("s2"),
    )
    nhsh = F.col("n_h") * F.sqrt(
        (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_h"))
        / (F.col("n_h") - 1)
    )
    w = g.select("seg", "n_h", nhsh.alias("nhsh"))
    t = w.agg(
        F.sum(F.round(F.col("nhsh"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("tot")
    )
    return (
        w.join(F.broadcast(t))
        .select(
            "seg",
            F.col("n_h").alias("stratum_size"),
            F.round(F.col("nhsh") / F.col("tot"), 6).alias("alloc_share"),
            F.round(F.lit(1000.0) * F.col("nhsh") / F.col("tot"), 0)
            .cast("long")
            .alias("alloc_n_of_1000"),
        )
        .orderBy("seg")
    )


@query(
    "q_atkinson",
    """
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS v
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS sv,
             CAST(SUM(CAST(ROUND(ln(CAST(v AS DOUBLE)), 9)
                           AS DECIMAL(28,12))) AS DOUBLE) AS slnv
      FROM per
    )
    SELECT n AS n_customers,
           ROUND(CAST(sv AS DOUBLE) / n / 100.0, 2) AS mean_dollars,
           ROUND(exp(slnv / n) / 100.0, 2) AS geomean_dollars,
           ROUND(1.0 - exp(slnv / n) / (CAST(sv AS DOUBLE) / n), 6)
             AS atkinson_eps1
    FROM s
    """,
)
def q_atkinson(spark, sf_dir):
    """Atkinson inequality index (ε=1) of per-customer spend: 1 −
    geomean/mean — the welfare-theoretic member of the inequality
    family (q_gini ranks, q_theil_index decomposes, q_hhi
    concentrates; Atkinson prices inequality aversion). ε=1 makes the
    'equally-distributed equivalent' the GEOMETRIC mean, so the whole
    index reduces to Σln(v): each ln term is one IEEE op rounded to
    9dp and decimal-summed (the q_zipf_fit discipline), the mean from
    an exact BIGINT sum, one exp at the end. Customers with orders
    only (v>0 — ln is defined); one grouped pass + one aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("v")
    )
    s = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(
            F.round(F.log(F.col("v").cast("double")), 9).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("slnv"),
    )
    mean = F.col("sv").cast("double") / F.col("n")
    geo = F.exp(F.col("slnv") / F.col("n"))
    return s.select(
        F.col("n").alias("n_customers"),
        F.round(mean / F.lit(100.0), 2).alias("mean_dollars"),
        F.round(geo / F.lit(100.0), 2).alias("geomean_dollars"),
        F.round(F.lit(1.0) - geo / mean, 6).alias("atkinson_eps1"),
    )


@query(
    "q_weighted_kappa",
    """
    WITH s AS (
      SELECT CASE WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       > 25000000 THEN 2
                  WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       > 10000000 THEN 1 ELSE 0 END AS r1,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 2
                  WHEN o_orderpriority = '3-MEDIUM' THEN 1
                  ELSE 0 END AS r2
      FROM orders
    ), ct AS (
      SELECT r1, r2, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY 1, 2
    ), m AS (
      SELECT a.r1, b.r2,
             CAST(a.rn AS BIGINT) AS rn, CAST(b.cn AS BIGINT) AS cn,
             COALESCE(ct.n, 0) AS n
      FROM (SELECT r1, SUM(n) AS rn FROM ct GROUP BY 1) a
      CROSS JOIN (SELECT r2, SUM(n) AS cn FROM ct GROUP BY 1) b
      LEFT JOIN ct ON ct.r1 = a.r1 AND ct.r2 = b.r2
    ), agg AS (
      SELECT CAST(SUM(ABS(r1 - r2) * n) AS BIGINT) AS wo,
             CAST(SUM(CAST(ABS(r1 - r2) AS DECIMAL(38,0)) * rn * cn)
                  AS DOUBLE) AS we,
             CAST(SUM(n) AS BIGINT) AS nt
      FROM m
    )
    SELECT nt AS n_orders, wo AS disagree_weight,
           ROUND(1.0 - CAST(wo AS DOUBLE) * nt / we, 6) AS kappa_w
    FROM agg
    """,
)
def q_weighted_kappa(spark, sf_dir):
    """Linear-weighted Cohen's kappa between two ORDINAL labelers
    (value terciles vs priority levels, 0<1<2) — the agreement
    statistic when near-misses should count less than opposite calls
    (q_cohens_kappa treats both as equal disagreement). κ_w = 1 −
    Σw·O/(Σw·E/N) over the 3×3 contingency: observed disagreement
    weight Σ|i−j|·n_ij is an exact BIGINT, the chance term Σ|i−j|·
    row_i·col_j rides DECIMAL→double (one conversion), one final
    division. The marginal cross join is 3×3 — constant at any scale;
    one fact pass to the contingency table."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    s = orders.select(
        F.when(cents > 25_000_000, 2)
        .when(cents > 10_000_000, 1)
        .otherwise(0)
        .alias("r1"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 1)
        .otherwise(0)
        .alias("r2"),
    )
    ct = s.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=False)  # ≤9 rows, three consumers
    rm = ct.groupBy("r1").agg(F.sum("n").cast("long").alias("rn"))
    cm = ct.groupBy("r2").agg(F.sum("n").cast("long").alias("cn"))
    m = (
        rm.join(F.broadcast(cm))
        .join(F.broadcast(ct), ["r1", "r2"], "left")
        .select(
            "r1",
            "r2",
            "rn",
            "cn",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )
    agg = m.agg(
        F.sum(F.abs(F.col("r1") - F.col("r2")) * F.col("n"))
        .cast("long")
        .alias("wo"),
        F.sum(
            F.abs(F.col("r1") - F.col("r2")).cast("decimal(38,0)")
            * F.col("rn")
            * F.col("cn")
        )
        .cast("double")
        .alias("we"),
        F.sum("n").cast("long").alias("nt"),
    )
    return agg.select(
        F.col("nt").alias("n_orders"),
        F.col("wo").alias("disagree_weight"),
        F.round(
            F.lit(1.0)
            - F.col("wo").cast("double") * F.col("nt") / F.col("we"),
            6,
        ).alias("kappa_w"),
    )



@query(
    "q_somers_d",
    """
    WITH s AS (
      SELECT CASE WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       > 25000000 THEN 2
                  WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       > 10000000 THEN 1 ELSE 0 END AS x,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 2
                  WHEN o_orderpriority = '3-MEDIUM' THEN 1
                  ELSE 0 END AS y
      FROM orders
    ), ct AS (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY 1, 2
    ), pairs AS (
      SELECT CAST(SUM(CASE WHEN b.x > a.x AND b.y > a.y
                           THEN a.n * b.n ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN b.x > a.x AND b.y < a.y
                           THEN a.n * b.n ELSE 0 END) AS BIGINT) AS d
      FROM ct a CROSS JOIN ct b
    ), marg AS (
      SELECT CAST(SUM(rn) AS BIGINT) AS nt,
             CAST(SUM(rn * (rn - 1) / 2) AS BIGINT) AS tx
      FROM (SELECT x, SUM(n) AS rn FROM ct GROUP BY 1) rm
    )
    SELECT marg.nt AS n_orders, pairs.c AS concordant,
           pairs.d AS discordant,
           ROUND(CAST(pairs.c - pairs.d AS DOUBLE)
                 / (pairs.c + pairs.d), 6) AS gamma,
           ROUND(CAST(pairs.c - pairs.d AS DOUBLE)
                 / (CAST(marg.nt AS DOUBLE) * (marg.nt - 1) / 2.0
                    - marg.tx), 6) AS somers_d_yx
    FROM pairs, marg
    """,
)
def q_somers_d(spark, sf_dir):
    """Somers' D_yx and Goodman-Kruskal gamma for the ordinal labeler
    pair (value terciles → priority levels) — the asymmetric ordinal-
    association statistics that complete the agreement family
    (q_kendall_tau is the symmetric cousin; D_yx conditions on the
    predictor's non-ties, the right read for 'does value PREDICT
    priority'). Concordant/discordant pair counts come from the 3×3
    contingency crossed with itself (81 constant rows, exact BIGINT
    products); ties-on-x from the row marginals; two final divisions.
    At n≈10⁸⁺ promote the pair products to DECIMAL(38,0) (the shape
    holds). One fact pass to the contingency table."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    s = orders.select(
        F.when(cents > 25_000_000, 2)
        .when(cents > 10_000_000, 1)
        .otherwise(0)
        .alias("x"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 1)
        .otherwise(0)
        .alias("y"),
    )
    ct = s.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=False)  # ≤9 rows, pair cross + marginals
    a = ct.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("n").alias("na")
    )
    b = ct.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("n").alias("nb")
    )
    pairs = a.join(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("xb") > F.col("xa")) & (F.col("yb") > F.col("ya")),
                F.col("na") * F.col("nb"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.when(
                (F.col("xb") > F.col("xa")) & (F.col("yb") < F.col("ya")),
                F.col("na") * F.col("nb"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("d"),
    )
    marg = (
        ct.groupBy("x")
        .agg(F.sum("n").alias("rn"))
        .agg(
            F.sum("rn").cast("long").alias("nt"),
            F.sum(F.col("rn") * (F.col("rn") - 1) / 2)
            .cast("long")
            .alias("tx"),
        )
    )
    j = pairs.join(F.broadcast(marg))
    cd = (F.col("c") - F.col("d")).cast("double")
    return j.select(
        F.col("nt").alias("n_orders"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.round(cd / (F.col("c") + F.col("d")), 6).alias("gamma"),
        F.round(
            cd
            / (
                F.col("nt").cast("double") * (F.col("nt") - 1) / F.lit(2.0)
                - F.col("tx")
            ),
            6,
        ).alias("somers_d_yx"),
    )


# ---------------------------------------------------------------------------
# phase 54: greedy selection operators for training-data curation
# ---------------------------------------------------------------------------

from ..functions.vectors import cosine, sql_cosine  # noqa: E402

_MMR_K = 5  # picks
_MMR_CANDS = 20  # candidate pool
_MMR_LAMBDA = 0.7


def _sql_mmr() -> str:
    cos_pq = sql_cosine("e.embedding", "p.embedding")
    cos_ab = sql_cosine("ea.embedding", "eb.embedding")
    ctes = [
        "probe AS (SELECT embedding FROM embeddings WHERE vec_id = 0)",
        f"""cand AS (
      SELECT e.vec_id, ROUND({cos_pq}, 9) AS rel
      FROM embeddings e, probe p
      WHERE e.vec_id <> 0
      ORDER BY rel DESC, e.vec_id LIMIT {_MMR_CANDS})""",
        f"""sims AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             ROUND({cos_ab}, 9) AS sim
      FROM cand a JOIN embeddings ea ON a.vec_id = ea.vec_id
      JOIN cand b ON a.vec_id <> b.vec_id
      JOIN embeddings eb ON b.vec_id = eb.vec_id)""",
        """sel1 AS (
      SELECT vec_id, rel, CAST(1 AS BIGINT) AS pick FROM cand
      ORDER BY rel DESC, vec_id LIMIT 1)""",
        "all1 AS (SELECT * FROM sel1)",
    ]
    for k in range(2, _MMR_K + 1):
        ctes.append(f"""sel{k} AS (
      SELECT c.vec_id, c.rel, CAST({k} AS BIGINT) AS pick
      FROM cand c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM all{k - 1})
      ORDER BY ROUND({_MMR_LAMBDA} * c.rel
                     - {round(1 - _MMR_LAMBDA, 6)}
                       * (SELECT MAX(s.sim) FROM sims s
                          JOIN all{k - 1} p ON s.vb = p.vec_id
                          WHERE s.va = c.vec_id), 9) DESC,
               c.vec_id
      LIMIT 1)""")
        ctes.append(
            f"all{k} AS (SELECT * FROM all{k - 1}"
            f" UNION ALL SELECT * FROM sel{k})"
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT pick, vec_id, rel FROM all{_MMR_K} ORDER BY pick
    """


@query("q_mmr_select", _sql_mmr())
def q_mmr_select(spark, sf_dir):
    """Maximal-marginal-relevance selection: pick 5 of the top-20
    most-probe-relevant embeddings, each round trading relevance
    against redundancy (λ·rel − (1−λ)·max-sim-to-selected, λ=0.7) —
    the diversity-aware retrieval/curation operator a RAG context
    builder or few-shot sampler runs after ANN (q_cosine_topk ranks,
    MMR de-clumps). Greedy rounds are the q_random_walk fixed-round
    discipline over BOUNDED frames: the candidate pool is a top-20
    TakeOrdered off one fact pass, the 20×19 pairwise-cosine table is
    computed once, and each round is an anti-join + argmax over ≤20
    rows with every score 9dp-rounded and vec_id tie-broken, so both
    engines replay identical picks. Nothing beyond the first top-k
    ever touches the full table — at 100 TB the pool size, not the
    corpus, bounds the loop."""
    from ..io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("pe")
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe))
        .select(
            "vec_id",
            "embedding",
            F.round(cosine(F.col("embedding"), F.col("pe")), 9).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_CANDS)
        .localCheckpoint(eager=False)  # 20 rows: sims + every round
    )
    ca = cand.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    cb = cand.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    sims = (
        ca.join(F.broadcast(cb), F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            F.round(cosine(F.col("ea"), F.col("eb")), 9).alias("sim"),
        )
        .localCheckpoint(eager=False)  # 380 rows
    )
    csl = cand.select("vec_id", "rel")
    sel = (
        csl.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .withColumn("pick", F.lit(1).cast("long"))
        .localCheckpoint(eager=True)
    )
    for k in range(2, _MMR_K + 1):
        rem = csl.join(sel.select("vec_id"), "vec_id", "left_anti")
        mx = (
            sims.join(
                F.broadcast(sel.select(F.col("vec_id").alias("vb"))), "vb"
            )
            .groupBy("va")
            .agg(F.max("sim").alias("ms"))
        )
        score = F.round(
            F.lit(_MMR_LAMBDA) * F.col("rel")
            - F.lit(round(1 - _MMR_LAMBDA, 6)) * F.col("ms"),
            9,
        )
        pick = (
            rem.join(mx, rem.vec_id == mx.va)
            .select("vec_id", "rel", score.alias("s"))
            .orderBy(F.desc("s"), F.asc("vec_id"))
            .limit(1)
            .select("vec_id", "rel", F.lit(k).cast("long").alias("pick"))
        )
        sel = checkpoint_round(sel.unionByName(pick), replaces=sel)
    return sel.select("pick", "vec_id", "rel").orderBy("pick")


_COV_K = 5  # picks
_COV_DOCS = 30  # candidate pool (largest docs)


def _sql_coverage() -> str:
    ctes = [
        f"""pool AS (
      SELECT doc_id FROM documents
      ORDER BY n_chars DESC, doc_id LIMIT {_COV_DOCS})""",
        """dt AS (
      SELECT DISTINCT d.doc_id, t.tok
      FROM documents d
      JOIN pool USING (doc_id),
      LATERAL unnest(list_transform(
        generate_series(1, len(string_split(lower(d.text), ' ')) - 1),
        i -> string_split(lower(d.text), ' ')[i] || ' '
             || string_split(lower(d.text), ' ')[i + 1])) AS t(tok))""",
        """sel1 AS (
      SELECT doc_id, CAST(1 AS BIGINT) AS pick,
             CAST(gain AS BIGINT) AS gain
      FROM (SELECT doc_id, COUNT(*) AS gain FROM dt GROUP BY 1) g
      ORDER BY gain DESC, doc_id LIMIT 1)""",
        "all1 AS (SELECT * FROM sel1)",
    ]
    for k in range(2, _COV_K + 1):
        ctes.append(f"""sel{k} AS (
      SELECT c.doc_id, CAST({k} AS BIGINT) AS pick,
             CAST(COUNT(*) AS BIGINT) AS gain
      FROM dt c
      WHERE c.doc_id NOT IN (SELECT doc_id FROM all{k - 1})
        AND NOT EXISTS (
          SELECT 1 FROM dt s JOIN all{k - 1} a ON s.doc_id = a.doc_id
          WHERE s.tok = c.tok)
      GROUP BY c.doc_id
      ORDER BY gain DESC, c.doc_id LIMIT 1)""")
        ctes.append(
            f"all{k} AS (SELECT * FROM all{k - 1}"
            f" UNION ALL SELECT * FROM sel{k})"
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT pick, doc_id, gain AS new_tokens FROM all{_COV_K} ORDER BY pick
    """


@query("q_greedy_coverage", _sql_coverage())
def q_greedy_coverage(spark, sf_dir):
    """Greedy maximum-coverage selection: pick 5 documents (from the
    30 largest) that together cover the most distinct BIGRAMS — the
    submodular data-selection primitive behind 'choose the most
    informative K examples' in training-corpus curation (the 1−1/e
    greedy guarantee; bigrams, because the fixtures' unigram
    vocabulary is so small one document covers it — a degenerate
    universe). Each round adds the document with the largest count of
    bigrams NOT yet covered: marginal gains are exact BIGINT counts
    off one (doc, bigram)-distinct frame (built once, checkpointed),
    each round is an anti-join on covered bigrams plus an argmax with
    a doc_id tie-break — the q_random_walk fixed-round chained-CTE
    oracle replays it exactly. A round whose best marginal gain is
    ZERO selects nothing and the chain stops early (both engines
    agree — full coverage reached). The pool bound (not the corpus)
    drives the loop cost at any scale."""
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    pool = (
        docs.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(_COV_DOCS)
        .select("doc_id", "text")
    )
    dt = (
        pool.withColumn("arr", F.split(F.lower(F.col("text")), " "))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("arr") >= 2,
                    F.expr(
                        "transform(sequence(1, size(arr) - 1),"
                        " i -> concat(element_at(arr, i), ' ',"
                        " element_at(arr, i + 1)))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("tok"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # bounded: 30 docs × bigram vocab
    )
    g1 = dt.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("gain"))
    sel = (
        g1.orderBy(F.desc("gain"), F.asc("doc_id"))
        .limit(1)
        .select("doc_id", F.lit(1).cast("long").alias("pick"), "gain")
        .localCheckpoint(eager=True)
    )
    for k in range(2, _COV_K + 1):
        covered = dt.join(
            sel.select("doc_id"), "doc_id", "left_semi"
        ).select("tok").distinct()
        rem = dt.join(sel.select("doc_id"), "doc_id", "left_anti")
        gains = (
            rem.join(covered, "tok", "left_anti")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("gain"))
        )
        pick = (
            gains.orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
            .select("doc_id", F.lit(k).cast("long").alias("pick"), "gain")
        )
        sel = checkpoint_round(sel.unionByName(pick), replaces=sel)
    return sel.select(
        "pick", "doc_id", F.col("gain").alias("new_tokens")
    ).orderBy("pick")


# ---------------------------------------------------------------------------
# phase 55: probability-model evaluation + dataset profile card
# ---------------------------------------------------------------------------


@query(
    "q_hosmer_lemeshow",
    """
    WITH s AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS sc,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), mm AS (
      SELECT MIN(sc) AS mn, MAX(sc) AS mx FROM s
    ), e AS (
      SELECT sc - mm.mn AS s0, y,
             mm.mx - mm.mn AS span,
             CAST(((sc - mm.mn) * 10) // (mm.mx - mm.mn + 1) AS INTEGER)
               AS bin
      FROM s, mm
    ), b AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS nk,
             CAST(SUM(y) AS BIGINT) AS ok,
             CAST(SUM(s0) AS BIGINT) AS ssk,
             CAST(MAX(span) AS BIGINT) AS span
      FROM e GROUP BY 1
    ), terms AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS g,
             CAST(SUM(CAST(ROUND(
               (ok - CAST(ssk AS DOUBLE) / span)
               * (ok - CAST(ssk AS DOUBLE) / span)
               / ((CAST(ssk AS DOUBLE) / span)
                  * (1.0 - CAST(ssk AS DOUBLE) / (nk * span))), 6)
               AS DECIMAL(38,6))) AS DOUBLE) AS h
      FROM b
    )
    SELECT g AS n_bins, ROUND(h, 6) AS hl_stat,
           CAST(CASE WHEN h > 15.507313 THEN 1 ELSE 0 END AS BIGINT)
             AS reject_5pct
    FROM terms
    """,
)
def q_hosmer_lemeshow(spark, sf_dir):
    """Hosmer-Lemeshow goodness-of-fit for the q_ece probability proxy
    over the same ten fixed bins: Ĥ = Σ (O_k − E_k)²/(E_k(1 − p̄_k)) —
    the calibration TEST that complements the q_ece magnitude and the
    q_brier_decomp decomposition (χ²₈ at α=0.05 = 15.507313; the
    decision rides the hash row). E_k = Σp over the bin is exact up to
    one division (Σs0/span), each bin's term is one IEEE dag
    6dp-rounded and decimal-summed. One fact pass to the bin frame —
    the q_ece shape exactly."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("sc"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    mm = s.agg(F.min("sc").alias("mn"), F.max("sc").alias("mx"))
    e = s.join(F.broadcast(mm)).select(
        (F.col("sc") - F.col("mn")).alias("s0"),
        "y",
        (F.col("mx") - F.col("mn")).alias("span"),
        F.expr("CAST(((sc - mn) * 10) div (mx - mn + 1) AS INT)").alias(
            "bin"
        ),
    )
    b = e.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum("y").cast("long").alias("ok"),
        F.sum("s0").cast("long").alias("ssk"),
        F.max("span").cast("long").alias("span"),
    )
    ek = F.col("ssk").cast("double") / F.col("span")
    pbar = F.col("ssk").cast("double") / (F.col("nk") * F.col("span"))
    term = F.round(
        (F.col("ok") - ek) * (F.col("ok") - ek) / (ek * (F.lit(1.0) - pbar)),
        6,
    ).cast("decimal(38,6)")
    terms = b.agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum(term).cast("double").alias("h"),
    )
    return terms.select(
        F.col("g").alias("n_bins"),
        F.round(F.col("h"), 6).alias("hl_stat"),
        F.when(F.col("h") > 15.507313, 1)
        .otherwise(0)
        .cast("long")
        .alias("reject_5pct"),
    )


@query(
    "q_gains_lift",
    """
    WITH s AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS sc,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), mm AS (
      SELECT MIN(sc) AS mn, MAX(sc) AS mx FROM s
    ), e AS (
      SELECT CAST(((sc - mm.mn) * 10) // (mm.mx - mm.mn + 1) AS INTEGER)
               AS bin, y
      FROM s, mm
    ), b AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS e
      FROM e GROUP BY 1
    ), c AS (
      SELECT bin, n, e,
             CAST(SUM(n) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cn,
             CAST(SUM(e) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ce,
             CAST(SUM(n) OVER () AS BIGINT) AS nt,
             CAST(SUM(e) OVER () AS BIGINT) AS et
      FROM b
    )
    SELECT bin AS score_bin, n AS n_rows, e AS n_events,
           ROUND(CAST(ce AS DOUBLE) / et, 6) AS cum_capture,
           ROUND(CAST(ce AS DOUBLE) / cn
                 / (CAST(et AS DOUBLE) / nt), 6) AS cum_lift
    FROM c ORDER BY bin DESC
    """,
)
def q_gains_lift(spark, sf_dir):
    """Cumulative gains and lift by descending score bin — THE model
    triage table ('contacting the top 20% captures X% of events at
    Y× lift') that q_auc summarizes to one number and this query
    unrolls for the campaign planner. Event capture and lift come
    from exact per-bin BIGINT counts with a prefix window over the
    TEN-row bin frame (descending score order); each output cell is
    one IEEE division. One fact pass, map-side combined."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("sc"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    mm = s.agg(F.min("sc").alias("mn"), F.max("sc").alias("mx"))
    e = s.join(F.broadcast(mm)).select(
        F.expr("CAST(((sc - mn) * 10) div (mx - mn + 1) AS INT)").alias(
            "bin"
        ),
        "y",
    )
    b = e.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("e"),
    )
    wdesc = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    c = b.select(
        "bin",
        "n",
        "e",
        F.sum("n").over(wdesc).cast("long").alias("cn"),
        F.sum("e").over(wdesc).cast("long").alias("ce"),
        F.sum("n").over(wall).cast("long").alias("nt"),
        F.sum("e").over(wall).cast("long").alias("et"),
    )
    return c.select(
        F.col("bin").alias("score_bin"),
        F.col("n").alias("n_rows"),
        F.col("e").alias("n_events"),
        F.round(F.col("ce").cast("double") / F.col("et"), 6).alias(
            "cum_capture"
        ),
        F.round(
            F.col("ce").cast("double")
            / F.col("cn")
            / (F.col("et").cast("double") / F.col("nt")),
            6,
        ).alias("cum_lift"),
    ).orderBy(F.desc("score_bin"))



# ---------------------------------------------------------------------------
# phase 56: experiment-design completions
# ---------------------------------------------------------------------------

_CONV_SQL = """conv AS (
      SELECT user_id, user_id % 2 AS grp,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS c
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(SUM(CASE WHEN grp = 0 THEN c ELSE 0 END) AS BIGINT)
               AS conv_a,
             CAST(SUM(CASE WHEN grp = 1 THEN c ELSE 0 END) AS BIGINT)
               AS conv_b
      FROM conv
    )"""

_TOST_MARGIN = 0.05  # equivalence margin on the conversion-rate scale


@query(
    "q_tost_equivalence",
    f"""
    WITH {_CONV_SQL}
    SELECT n_a, n_b,
           ROUND(CAST(conv_a AS DOUBLE) / n_a
                 - CAST(conv_b AS DOUBLE) / n_b, 6) AS diff,
           ROUND((CAST(conv_a AS DOUBLE) / n_a
                  - CAST(conv_b AS DOUBLE) / n_b + {_TOST_MARGIN})
                 / sqrt((CAST(conv_a AS DOUBLE) / n_a)
                        * (1 - CAST(conv_a AS DOUBLE) / n_a) / n_a
                        + (CAST(conv_b AS DOUBLE) / n_b)
                        * (1 - CAST(conv_b AS DOUBLE) / n_b) / n_b),
                 6) AS z_lower,
           ROUND((CAST(conv_a AS DOUBLE) / n_a
                  - CAST(conv_b AS DOUBLE) / n_b - {_TOST_MARGIN})
                 / sqrt((CAST(conv_a AS DOUBLE) / n_a)
                        * (1 - CAST(conv_a AS DOUBLE) / n_a) / n_a
                        + (CAST(conv_b AS DOUBLE) / n_b)
                        * (1 - CAST(conv_b AS DOUBLE) / n_b) / n_b),
                 6) AS z_upper,
           CAST(CASE WHEN
                  (CAST(conv_a AS DOUBLE) / n_a
                   - CAST(conv_b AS DOUBLE) / n_b + {_TOST_MARGIN})
                  / sqrt((CAST(conv_a AS DOUBLE) / n_a)
                         * (1 - CAST(conv_a AS DOUBLE) / n_a) / n_a
                         + (CAST(conv_b AS DOUBLE) / n_b)
                         * (1 - CAST(conv_b AS DOUBLE) / n_b) / n_b)
                  > 1.644854
                  AND
                  (CAST(conv_a AS DOUBLE) / n_a
                   - CAST(conv_b AS DOUBLE) / n_b - {_TOST_MARGIN})
                  / sqrt((CAST(conv_a AS DOUBLE) / n_a)
                         * (1 - CAST(conv_a AS DOUBLE) / n_a) / n_a
                         + (CAST(conv_b AS DOUBLE) / n_b)
                         * (1 - CAST(conv_b AS DOUBLE) / n_b) / n_b)
                  < -1.644854
                THEN 1 ELSE 0 END AS BIGINT) AS equivalent_5pct
    FROM s
    """,
)
def q_tost_equivalence(spark, sf_dir):
    """TOST equivalence test (two one-sided z-tests, margin ±5pp) on
    q_ab_test's conversion arms — the NON-INFERIORITY gate: q_ab_test
    asks 'is there a difference?', TOST asks 'can we CERTIFY there is
    no difference that matters?' (absence of significance is not
    equivalence). Both one-sided z's use unpooled variances from exact
    BIGINT conversion counts; equivalence holds iff z_lower > +1.645
    AND z_upper < −1.645, and that DECISION rides the hash row. One
    grouped fact pass, one aggregate — the q_ab_test shape."""
    from ..io import load_table

    events = load_table(spark, sf_dir, "events")
    conv = events.groupBy(
        "user_id", (F.col("user_id") % 2).alias("grp")
    ).agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("c")
    )
    s = conv.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("grp") == 0, F.col("c")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    pa = F.col("conv_a").cast("double") / F.col("n_a")
    pb = F.col("conv_b").cast("double") / F.col("n_b")
    se = F.sqrt(
        pa * (1 - pa) / F.col("n_a") + pb * (1 - pb) / F.col("n_b")
    )
    zl = (pa - pb + _TOST_MARGIN) / se
    zu = (pa - pb - _TOST_MARGIN) / se
    return s.select(
        "n_a",
        "n_b",
        F.round(pa - pb, 6).alias("diff"),
        F.round(zl, 6).alias("z_lower"),
        F.round(zu, 6).alias("z_upper"),
        F.when((zl > 1.644854) & (zu < -1.644854), 1)
        .otherwise(0)
        .cast("long")
        .alias("equivalent_5pct"),
    )


@query(
    "q_power_sample_size",
    f"""
    WITH {_CONV_SQL}
    SELECT ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS p_a,
           ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS p_b,
           CAST(CEIL(
             (1.959964 + 0.841621) * (1.959964 + 0.841621)
             * ((CAST(conv_a AS DOUBLE) / n_a)
                * (1 - CAST(conv_a AS DOUBLE) / n_a)
                + (CAST(conv_b AS DOUBLE) / n_b)
                * (1 - CAST(conv_b AS DOUBLE) / n_b))
             / (0.02 * 0.02)) AS BIGINT) AS n_per_arm_2pp,
           CAST(CEIL(
             (1.959964 + 0.841621) * (1.959964 + 0.841621)
             * ((CAST(conv_a AS DOUBLE) / n_a)
                * (1 - CAST(conv_a AS DOUBLE) / n_a)
                + (CAST(conv_b AS DOUBLE) / n_b)
                * (1 - CAST(conv_b AS DOUBLE) / n_b))
             / (0.05 * 0.05)) AS BIGINT) AS n_per_arm_5pp
    FROM s
    """,
)
def q_power_sample_size(spark, sf_dir):
    """Analytic sample-size planner for the next experiment on
    q_ab_test's metric: n per arm = (z_{{α/2}} + z_β)²(p_a q_a +
    p_b q_b)/δ² at 80% power / α=0.05 two-sided (z constants
    1.959964, 0.841621 — fixed literals, no CDF inversion at query
    time), for minimum detectable effects of 2pp and 5pp. Baseline
    rates come from exact conversion counts; the planner's output is
    the number every experiment review asks first ('how long must
    this run?'). One grouped fact pass, one row."""
    from ..io import load_table

    events = load_table(spark, sf_dir, "events")
    conv = events.groupBy(
        "user_id", (F.col("user_id") % 2).alias("grp")
    ).agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("c")
    )
    s = conv.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("grp") == 0, F.col("c")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    pa = F.col("conv_a").cast("double") / F.col("n_a")
    pb = F.col("conv_b").cast("double") / F.col("n_b")
    zsum2 = (1.959964 + 0.841621) ** 2
    var = pa * (1 - pa) + pb * (1 - pb)
    return s.select(
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.ceil(F.lit(zsum2) * var / F.lit(0.02 * 0.02))
        .cast("long")
        .alias("n_per_arm_2pp"),
        F.ceil(F.lit(zsum2) * var / F.lit(0.05 * 0.05))
        .cast("long")
        .alias("n_per_arm_5pp"),
    )


@query(
    "q_cramers_v",
    """
    WITH ct AS (
      SELECT c.c_mktsegment AS a, n.n_name AS b,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), rm AS (SELECT a, CAST(SUM(n) AS BIGINT) AS rn FROM ct GROUP BY 1),
    cm AS (SELECT b, CAST(SUM(n) AS BIGINT) AS cn FROM ct GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
                   CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
                   CAST(COUNT(DISTINCT b) AS BIGINT) AS c
            FROM ct),
    chi AS (
      SELECT CAST(SUM(CAST(ROUND(
               (COALESCE(ct.n, 0)
                - CAST(rm.rn AS DOUBLE) * cm.cn / tot.nt)
               * (COALESCE(ct.n, 0)
                  - CAST(rm.rn AS DOUBLE) * cm.cn / tot.nt)
               / (CAST(rm.rn AS DOUBLE) * cm.cn / tot.nt), 6)
               AS DECIMAL(38,6))) AS DOUBLE) AS chi2
      FROM rm CROSS JOIN cm
      LEFT JOIN ct ON ct.a = rm.a AND ct.b = cm.b
      CROSS JOIN tot
    )
    SELECT tot.nt AS n_customers, tot.r AS n_rows_cat,
           tot.c AS n_cols_cat,
           ROUND(chi.chi2, 6) AS chi2,
           ROUND(sqrt(chi.chi2 / (tot.nt
                 * CAST(LEAST(tot.r - 1, tot.c - 1) AS DOUBLE))), 6)
             AS cramers_v
    FROM chi, tot
    """,
)
def q_cramers_v(spark, sf_dir):
    """Cramér's V effect size for the segment × nation association —
    the normalized companion to q_chi_square (χ² grows with N; V ∈
    [0,1] answers 'is the association MATERIAL?'). The full r×c
    expected grid comes from the marginal cross join (5×25 constant
    rows); each cell's (O−E)²/E term is one IEEE dag 6dp-rounded and
    decimal-summed; V = √(χ²/(N·min(r−1,c−1))). One fact pass to the
    contingency table, dims broadcast."""
    customer, nation = load_tables(spark, sf_dir, "customer", "nation")
    ct = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .groupBy(
            F.col("c_mktsegment").alias("a"), F.col("n_name").alias("b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)  # ≤125 rows, four consumers
    )
    rm = ct.groupBy("a").agg(F.sum("n").cast("long").alias("rn"))
    cm = ct.groupBy("b").agg(F.sum("n").cast("long").alias("cn"))
    tot = ct.agg(
        F.sum("n").cast("long").alias("nt"),
        F.countDistinct("a").cast("long").alias("r"),
        F.countDistinct("b").cast("long").alias("c"),
    )
    grid = (
        rm.join(F.broadcast(cm))
        .join(F.broadcast(ct), ["a", "b"], "left")
        .join(F.broadcast(tot))
    )
    exp = F.col("rn").cast("double") * F.col("cn") / F.col("nt")
    obs = F.coalesce(F.col("n"), F.lit(0))
    term = F.round((obs - exp) * (obs - exp) / exp, 6).cast(
        "decimal(38,6)"
    )
    chi = grid.agg(
        F.sum(term).cast("double").alias("chi2"),
        F.max("nt").alias("nt"),
        F.max("r").alias("r"),
        F.max("c").alias("c"),
    )
    return chi.select(
        F.col("nt").alias("n_customers"),
        F.col("r").alias("n_rows_cat"),
        F.col("c").alias("n_cols_cat"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("nt")
                    * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# phase 57: effect sizes + interval estimation
# ---------------------------------------------------------------------------


@query(
    "q_hedges_g",
    """
    WITH s AS (
      SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS a,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), g AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n1,
             CAST(SUM(1 - a) AS BIGINT) AS n2,
             CAST(SUM(a * v) AS BIGINT) AS s1,
             CAST(SUM((1 - a) * v) AS BIGINT) AS s2,
             CAST(SUM(a * CAST(v AS DECIMAL(38,0)) * v) AS DOUBLE) AS q1,
             CAST(SUM((1 - a) * CAST(v AS DECIMAL(38,0)) * v) AS DOUBLE)
               AS q2
      FROM s
    )
    SELECT n1 AS n_building, n2 AS n_machinery,
           ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / sqrt(((q1 - CAST(s1 AS DOUBLE) * s1 / n1)
                         + (q2 - CAST(s2 AS DOUBLE) * s2 / n2))
                        / (n1 + n2 - 2)), 6) AS cohens_d,
           ROUND(((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                  / sqrt(((q1 - CAST(s1 AS DOUBLE) * s1 / n1)
                          + (q2 - CAST(s2 AS DOUBLE) * s2 / n2))
                         / (n1 + n2 - 2)))
                 * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) AS hedges_g
    FROM g
    """,
)
def q_hedges_g(spark, sf_dir):
    """Cohen's d with the Hedges small-sample correction for the
    BUILDING-vs-MACHINERY order-value contrast — the standardized
    effect size that belongs next to every significance test in the
    suite (q_mann_whitney says WHETHER, g says HOW MUCH in SD units;
    q_smd_balance is the per-stratum sibling). Pooled SD from exact
    cent sums (Σv BIGINT, Σv² DECIMAL(38,0)); the J correction
    1 − 3/(4N−9) is a fixed dag. One fact pass, one row."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    s = (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("a"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    vd = F.col("v").cast("decimal(38,0)")
    g = s.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum(1 - F.col("a")).cast("long").alias("n2"),
        F.sum(F.col("a") * F.col("v")).cast("long").alias("s1"),
        F.sum((1 - F.col("a")) * F.col("v")).cast("long").alias("s2"),
        F.sum(F.col("a") * vd * F.col("v")).cast("double").alias("q1"),
        F.sum((1 - F.col("a")) * vd * F.col("v"))
        .cast("double")
        .alias("q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    md = F.col("s1").cast("double") / n1 - F.col("s2").cast("double") / n2
    sp = F.sqrt(
        (
            (F.col("q1") - F.col("s1").cast("double") * F.col("s1") / n1)
            + (F.col("q2") - F.col("s2").cast("double") * F.col("s2") / n2)
        )
        / (n1 + n2 - 2)
    )
    d = md / sp
    j = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (n1 + n2) - 9)
    return g.select(
        n1.alias("n_building"),
        n2.alias("n_machinery"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * j, 6).alias("hedges_g"),
    )


@query(
    "q_corr_ci",
    """
    WITH per AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy
      FROM per
    ), r AS (
      SELECT n,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy
                       - CAST(sy AS DOUBLE) * sy)) AS r
      FROM s
    )
    SELECT n AS n_customers, ROUND(r, 6) AS pearson_r,
           ROUND(0.5 * ln((1.0 + r) / (1.0 - r)), 6) AS fisher_z,
           ROUND((exp(2.0 * (0.5 * ln((1.0 + r) / (1.0 - r))
                             - 1.959964 / sqrt(n - 3.0))) - 1.0)
                 / (exp(2.0 * (0.5 * ln((1.0 + r) / (1.0 - r))
                               - 1.959964 / sqrt(n - 3.0))) + 1.0),
                 6) AS ci_lo,
           ROUND((exp(2.0 * (0.5 * ln((1.0 + r) / (1.0 - r))
                             + 1.959964 / sqrt(n - 3.0))) - 1.0)
                 / (exp(2.0 * (0.5 * ln((1.0 + r) / (1.0 - r))
                               + 1.959964 / sqrt(n - 3.0))) + 1.0),
                 6) AS ci_hi
    FROM r
    """,
)
def q_corr_ci(spark, sf_dir):
    """Pearson correlation between per-customer order count and total
    spend WITH its Fisher-z 95% confidence interval — the inference
    the point estimates in q_corr_matrix/q_rolling_corr never give
    (is r=0.3 on this slice distinguishable from 0?). r comes from
    exact integer moments (cross-products on DECIMAL(38,0)); atanh is
    spelled ½·ln((1+r)/(1−r)) and the back-transform tanh as
    (e²ˣ−1)/(e²ˣ+1) — ln/exp as fixed single dags (the established
    transcendental discipline), z constant 1.959964 a literal. One
    grouped pass + one aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y"),
    )
    s = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("syy"),
    )
    nd = F.col("n").cast("double")
    r = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        F.sqrt(
            (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
            * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
        )
    )
    z = F.lit(0.5) * F.log((F.lit(1.0) + r) / (F.lit(1.0) - r))
    half = F.lit(1.959964) / F.sqrt(nd - 3)

    def back(zz):
        e = F.exp(F.lit(2.0) * zz)
        return (e - 1) / (e + 1)

    return s.select(
        F.col("n").alias("n_customers"),
        F.round(r, 6).alias("pearson_r"),
        F.round(z, 6).alias("fisher_z"),
        F.round(back(z - half), 6).alias("ci_lo"),
        F.round(back(z + half), 6).alias("ci_hi"),
    )


@query(
    "q_wilson_ci",
    """
    WITH conv AS (
      SELECT user_id,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS c
      FROM events GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS k
      FROM conv
    )
    SELECT n AS n_users, k AS n_converted,
           ROUND(CAST(k AS DOUBLE) / n, 6) AS p_hat,
           ROUND((CAST(k AS DOUBLE) / n
                  + 1.959964 * 1.959964 / (2.0 * n)
                  - 1.959964 * sqrt((CAST(k AS DOUBLE) / n)
                      * (1 - CAST(k AS DOUBLE) / n) / n
                      + 1.959964 * 1.959964 / (4.0 * n * n)))
                 / (1.0 + 1.959964 * 1.959964 / n), 6) AS wilson_lo,
           ROUND((CAST(k AS DOUBLE) / n
                  + 1.959964 * 1.959964 / (2.0 * n)
                  + 1.959964 * sqrt((CAST(k AS DOUBLE) / n)
                      * (1 - CAST(k AS DOUBLE) / n) / n
                      + 1.959964 * 1.959964 / (4.0 * n * n)))
                 / (1.0 + 1.959964 * 1.959964 / n), 6) AS wilson_hi
    FROM s
    """,
)
def q_wilson_ci(spark, sf_dir):
    """Wilson score 95% interval for the heavy-buyer conversion rate —
    the CORRECT small-n proportion CI (the Wald interval q_ab_test's z
    implies collapses to zero width at p̂∈{0,1} and undercovers at the
    fixture's n; Wilson never leaves [0,1] and keeps coverage). Closed
    form over two exact BIGINTs (n, k) with the fixed z literal; one
    grouped fact pass, one row."""
    from ..io import load_table

    events = load_table(spark, sf_dir, "events")
    conv = events.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("c")
    )
    s = conv.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("k"),
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    z = 1.959964
    z2 = z * z
    center = p + F.lit(z2) / (2 * nd)
    half = F.lit(z) * F.sqrt(
        p * (1 - p) / nd + F.lit(z2) / (4 * nd * nd)
    )
    denom = F.lit(1.0) + F.lit(z2) / nd
    return s.select(
        F.col("n").alias("n_users"),
        F.col("k").alias("n_converted"),
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )
