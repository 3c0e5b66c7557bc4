"""Round-8 phase-44 queries: coverage widening across evaluation
(confusion matrix, MAP/MRR), curation (temperature-scaled mixture,
lexical diversity), inequality (Theil), time-series symbolization
(SAX motifs), graph centrality reuse (harmonic/eccentricity on the
bitmask multi-source BFS), and per-group modal values.

Reference parity note: the reference (patrick95350/
legislative-bills-database, 5 R scripts / 737 LoC) has none of this
surface — phase 44 belongs to the training-pipeline superset SURVEY.md
§2 mandates alongside dedup/ANN/text analysis. Closest analogs: the
reference's grepl keyword search feeding per-legislator counts
(legiscan_main.R:213-235, legislator_bill_counts_run.R:97-126) is the
same shape as the relevance labels the rank metrics grade here.

Engine-parity notes (the accumulated round-1..7 discipline):
- every oracle COUNT/SUM over integers is CAST AS BIGINT (DuckDB
  HUGEINT → pandas float64 hash mismatch);
- money is summed in integer cents, divisions happen once at the end
  (single IEEE divisions of exact integers are correctly rounded and
  engine-identical; parallel FLOAT sums are not);
- where a sum of floating terms is unavoidable (Theil's Σ(x/μ)ln(x/μ),
  AP@10's Σ prec@k), each term is computed with identical IEEE ops in
  both engines, ROUNDed to a fixed scale, cast to DECIMAL, and summed
  EXACTLY — associativity-proof (the q_behavior_entropy / q_psi
  precedent for ln());
- sqrt/ln are acceptable at query time (IEEE-deterministic /
  established precedent), POWER with fractional exponents is not;
- integer division is ``//`` in DuckDB and ``DIV`` in Spark.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import load_table, load_tables
from .registry import query

# ---------------------------------------------------------------------------
# q_group_mode: exact per-group modal value, deterministic tie-break
# ---------------------------------------------------------------------------


@query(
    "q_group_mode",
    """
    SELECT n_name, l_returnflag AS mode_returnflag,
           CAST(n_items AS BIGINT) AS n_items
    FROM (
      SELECT n.n_name, l.l_returnflag, COUNT(*) AS n_items,
             ROW_NUMBER() OVER (
               PARTITION BY n.n_name
               ORDER BY COUNT(*) DESC, l.l_returnflag) AS rk
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY 1, 2)
    WHERE rk = 1
    ORDER BY n_name
    """,
)
def q_group_mode(spark, sf_dir):
    """Exact per-group MODE (modal lineitem return flag per supplier
    nation) with a total tie-break (count DESC, value ASC) — the
    most-frequent-value profile column every dataset card needs, done
    as one grouped count + one tiny per-group window (the window input
    is |groups| × |distinct values|, already aggregated — never the
    fact table). Dims broadcast; the only fact shuffle is the grouped
    count, partial-aggregated map-side."""
    lineitem, supplier, nation = load_tables(
        spark, sf_dir, "lineitem", "supplier", "nation"
    )
    counts = (
        lineitem.join(
            F.broadcast(supplier),
            lineitem.l_suppkey == supplier.s_suppkey,
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("n_items").desc(), F.col("l_returnflag").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "n_name",
            F.col("l_returnflag").alias("mode_returnflag"),
            F.col("n_items").cast("long").alias("n_items"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q_confusion_matrix: thresholded classifier → exact confusion counts
# ---------------------------------------------------------------------------

_CM_THRESHOLD_CENTS = 15_000_000  # $150,000.00


@query(
    "q_confusion_matrix",
    f"""
    WITH s AS (
      SELECT CASE WHEN CAST(o_totalprice * 100 AS BIGINT)
                       > {_CM_THRESHOLD_CENTS} THEN 1 ELSE 0 END AS pred,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders
    ), c AS (
      SELECT CAST(SUM(pred * y) AS BIGINT) AS tp,
             CAST(SUM(pred * (1 - y)) AS BIGINT) AS fp,
             CAST(SUM((1 - pred) * y) AS BIGINT) AS fn,
             CAST(SUM((1 - pred) * (1 - y)) AS BIGINT) AS tn
      FROM s
    )
    SELECT tp, fp, fn, tn,
           ROUND(CAST(tp AS DOUBLE) / GREATEST(tp + fp, 1), 6) AS precision,
           ROUND(CAST(tp AS DOUBLE) / GREATEST(tp + fn, 1), 6) AS recall,
           ROUND(CAST(2 * tp AS DOUBLE)
                 / GREATEST(2 * tp + fp + fn, 1), 6) AS f1
    FROM c
    """,
)
def q_confusion_matrix(spark, sf_dir):
    """Exact confusion matrix + precision/recall/F1 of the threshold
    classifier 'order is URGENT iff total > $150k' — the evaluation
    twin of q_auc (which ranks the same signal thresholdless). All four
    cells are one map-side-combined aggregate over the fact scan; the
    three metrics are single IEEE divisions of exact integers
    (f1 = 2tp/(2tp+fp+fn) — computed from counts, not from the rounded
    precision/recall, so no double-rounding drift)."""
    orders = load_table(spark, sf_dir, "orders")
    pred = (
        (F.col("o_totalprice") * 100).cast("long") > _CM_THRESHOLD_CENTS
    ).cast("long")
    y = (F.col("o_orderpriority") == "1-URGENT").cast("long")
    c = orders.select(pred.alias("pred"), y.alias("y")).agg(
        F.sum(F.col("pred") * F.col("y")).cast("long").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("y"))).cast("long").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("y")).cast("long").alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("y"))).cast("long").alias("tn"),
    )
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            F.col("tp").cast("double")
            / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)),
            6,
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double")
            / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)),
            6,
        ).alias("recall"),
        F.round(
            (2 * F.col("tp")).cast("double")
            / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1)),
            6,
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# q_temperature_mixture: τ-scaled source sampling weights (τ = 0.5)
# ---------------------------------------------------------------------------


@query(
    "q_temperature_mixture",
    """
    WITH n AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY 1
    ), p AS (
      SELECT source, n_docs,
             CAST(SUM(n_docs) OVER () AS BIGINT) AS total,
             CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)
                             / SUM(n_docs) OVER ()), 12)
                  AS DECIMAL(18,12)) AS s
      FROM n
    )
    SELECT source, n_docs,
           ROUND(CAST(n_docs AS DOUBLE) / total, 6) AS p_raw,
           ROUND(CAST(s AS DOUBLE) / CAST(SUM(s) OVER () AS DOUBLE), 6)
             AS w_tau,
           ROUND(ROUND(CAST(s AS DOUBLE) / CAST(SUM(s) OVER () AS DOUBLE), 6)
                 / (CAST(n_docs AS DOUBLE) / total), 4) AS boost
    FROM p
    ORDER BY source
    """,
)
def q_temperature_mixture(spark, sf_dir):
    """Temperature-scaled source mixture weights, τ = 0.5 — the
    multilingual/multi-source sampling scheme (w_i ∝ p_i^τ) that
    up-weights small sources for training without flattening the
    mixture entirely. τ = 0.5 makes the scaling an IEEE sqrt (correctly
    rounded, engine-identical — fractional POWER would not be); each
    sqrt term is rounded to 12 places and summed as EXACT decimal, so
    the normalizer is associativity-proof. ``boost`` = w_tau/p shows
    the up/down-weighting factor per source. Everything after the one
    grouped count runs over ≤|sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    wall = Window.partitionBy()
    p = n.select(
        "source",
        "n_docs",
        F.sum("n_docs").over(wall).cast("long").alias("total"),
        F.round(
            F.sqrt(
                F.col("n_docs").cast("double") / F.sum("n_docs").over(wall)
            ),
            12,
        )
        .cast("decimal(18,12)")
        .alias("s"),
    )
    w_tau = F.round(
        F.col("s").cast("double") / F.sum("s").over(wall).cast("double"), 6
    )
    return p.select(
        "source",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.col("total"), 6).alias(
            "p_raw"
        ),
        w_tau.alias("w_tau"),
        F.round(
            w_tau / (F.col("n_docs").cast("double") / F.col("total")), 4
        ).alias("boost"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q_lexical_diversity: per-doc type-token ratio, bucketed corpus profile
# ---------------------------------------------------------------------------


@query(
    "q_lexical_diversity",
    """
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(string_split(lower(text), ' ')))
                  AS BIGINT) AS n_types
      FROM documents
    ), b AS (
      SELECT CAST(LEAST((n_types * 10) // GREATEST(n_tok, 1), 9)
                  AS BIGINT) AS ttr_bucket,
             n_tok, n_types
      FROM t
    )
    SELECT ttr_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(n_types) AS DOUBLE) / SUM(n_tok), 6)
             AS pooled_ttr
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def q_lexical_diversity(spark, sf_dir):
    """Type-token-ratio profile of the corpus: per-document TTR
    (distinct / total whitespace tokens) bucketed to deciles, with the
    pooled TTR per bucket — the lexical-diversity screen that separates
    template/boilerplate docs (low TTR) from natural text before
    training. The bucket index is INTEGER arithmetic ((types·10) //
    tokens, clamped) so bucket edges can't drift between engines; only
    the pooled ratio is a (single, final) division. One narrow
    projection → per-row array ops → one grouped aggregate; nothing
    shuffles except the ≤10-row bucket census."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    t = docs.select(
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_types"),
    )
    b = t.select(
        F.least(
            F.expr("(n_types * 10) DIV GREATEST(n_tok, 1)"), F.lit(9)
        )
        .cast("long")
        .alias("ttr_bucket"),
        "n_tok",
        "n_types",
    )
    return (
        b.groupBy("ttr_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.round(
                F.sum("n_types").cast("double") / F.sum("n_tok"), 6
            ).alias("pooled_ttr"),
        )
        .orderBy("ttr_bucket")
    )


# ---------------------------------------------------------------------------
# q_theil_index: per-nation Theil T inequality of customer spend
# ---------------------------------------------------------------------------


@query(
    "q_theil_index",
    """
    WITH spend AS (
      SELECT c.c_nationkey,
             CAST(SUM(CAST(o.o_totalprice * 100 AS BIGINT)) AS BIGINT) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, o.o_custkey
    ), stats AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS total
      FROM spend GROUP BY 1
    ), terms AS (
      SELECT s.c_nationkey, st.n,
             CAST(ROUND((CAST(s.x AS DOUBLE) * st.n / st.total)
                        * ln(CAST(s.x AS DOUBLE) * st.n / st.total), 9)
                  AS DECIMAL(38,12)) AS term
      FROM spend s JOIN stats st ON s.c_nationkey = st.c_nationkey
    )
    SELECT n.n_name, t.n AS n_customers,
           ROUND(CAST(SUM(t.term) AS DOUBLE) / t.n, 6) AS theil
    FROM terms t JOIN nation n ON t.c_nationkey = n.n_nationkey
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def q_theil_index(spark, sf_dir):
    """Per-nation Theil T inequality index of customer spend — the
    decomposable inequality measure that complements q_gini (Gini) and
    q_hhi (concentration): T = (1/n)·Σ (x/μ)·ln(x/μ). Spend is exact
    integer cents; x/μ is computed as x·n/total (two IEEE ops on exact
    integers), each term is ln()-scaled, rounded to 9 places and summed
    as EXACT decimal (the q_psi/q_behavior_entropy ln() discipline), so
    the parallel sum cannot drift. Shuffles: one orders⋈customer join
    keyed o_custkey, one per-customer aggregate, one ≤25-row nation
    aggregate — the nation dim rides broadcast."""
    orders, customer, nation = load_tables(
        spark, sf_dir, "orders", "customer", "nation"
    )
    spend = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    stats = spend.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("total"),
    )
    ratio = F.col("x").cast("double") * F.col("n") / F.col("total")
    terms = spend.join(stats, "c_nationkey").select(
        "c_nationkey",
        "n",
        F.round(ratio * F.log(ratio), 9).cast("decimal(38,12)").alias("term"),
    )
    return (
        terms.join(
            F.broadcast(nation),
            terms.c_nationkey == nation.n_nationkey,
        )
        .groupBy("n_name", "n")
        .agg(
            F.round(F.sum("term").cast("double") / F.col("n"), 6).alias(
                "theil"
            )
        )
        .select(
            "n_name", F.col("n").alias("n_customers"), "theil"
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q_sax_symbols: symbolic aggregate approximation motifs per region
# ---------------------------------------------------------------------------


@query(
    "q_sax_symbols",
    """
    WITH daily AS (
      SELECT r.r_name, o.o_orderdate AS d,
             CAST(SUM(CAST(o.o_totalprice * 100 AS BIGINT)) AS BIGINT) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ), sym AS (
      SELECT r_name, d,
             CASE NTILE(3) OVER (PARTITION BY r_name ORDER BY rev, d)
               WHEN 1 THEN 'a' WHEN 2 THEN 'b' ELSE 'c' END AS s
      FROM daily
    ), words AS (
      SELECT r_name,
             s || LEAD(s, 1) OVER w || LEAD(s, 2) OVER w AS word
      FROM sym
      WINDOW w AS (PARTITION BY r_name ORDER BY d)
    )
    SELECT r_name, word, CAST(n AS BIGINT) AS n
    FROM (
      SELECT r_name, word, COUNT(*) AS n,
             ROW_NUMBER() OVER (
               PARTITION BY r_name ORDER BY COUNT(*) DESC, word) AS rk
      FROM words WHERE word IS NOT NULL
      GROUP BY 1, 2)
    WHERE rk <= 3
    ORDER BY r_name, n DESC, word
    """,
)
def q_sax_symbols(spark, sf_dir):
    """SAX (symbolic aggregate approximation) motif mining over the
    per-region daily revenue series: each day becomes a tercile symbol
    a/b/c (NTILE over the region's own revenue distribution — a
    deterministic integer bucketing, no float breakpoints to drift),
    consecutive symbols form 3-day words, and the top-3 words per
    region are the region's dominant revenue motifs ('ccc' = sustained
    high, 'aca' = oscillating…). The symbolization windows partition by
    region (5 concurrent series, each a few thousand days — bounded
    per-task sort, never a global one); the fact table's only shuffle
    is the daily grouped sum, dims broadcast."""
    orders, customer, nation, region = load_tables(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    daily = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", F.col("o_orderdate").alias("d"))
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev")
        )
    )
    wrank = Window.partitionBy("r_name").orderBy("rev", "d")
    sym = daily.select(
        "r_name",
        "d",
        F.when(F.ntile(3).over(wrank) == 1, "a")
        .when(F.ntile(3).over(wrank) == 2, "b")
        .otherwise("c")
        .alias("s"),
    )
    wseq = Window.partitionBy("r_name").orderBy("d")
    words = sym.select(
        "r_name",
        F.concat(
            F.col("s"), F.lead("s", 1).over(wseq), F.lead("s", 2).over(wseq)
        ).alias("word"),
    ).filter(F.col("word").isNotNull())
    counts = words.groupBy("r_name", "word").agg(
        F.count(F.lit(1)).alias("n")
    )
    wtop = Window.partitionBy("r_name").orderBy(
        F.col("n").desc(), F.col("word").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= 3)
        .select("r_name", "word", F.col("n").cast("long").alias("n"))
        .orderBy("r_name", F.col("n").desc(), "word")
    )


# ---------------------------------------------------------------------------
# q_rank_metrics: MAP@10 + MRR of a spend ranking retrieving urgent
# customers
# ---------------------------------------------------------------------------


@query(
    "q_rank_metrics",
    """
    WITH rel AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT)
               AS spend,
             MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
               AS is_rel
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT c.c_nationkey, r.is_rel,
             ROW_NUMBER() OVER (
               PARTITION BY c.c_nationkey
               ORDER BY r.spend DESC, r.o_custkey) AS rk
      FROM rel r JOIN customer c ON r.o_custkey = c.c_custkey
    ), nrel AS (
      SELECT c_nationkey, CAST(SUM(is_rel) AS BIGINT) AS n_relevant
      FROM ranked GROUP BY 1
    ), top AS (
      SELECT c_nationkey, rk, is_rel,
             SUM(is_rel) OVER (
               PARTITION BY c_nationkey ORDER BY rk) AS hits
      FROM ranked WHERE rk <= 10
    ), ap AS (
      SELECT t.c_nationkey,
             CAST(SUM(CASE WHEN t.is_rel = 1 THEN
               CAST(CAST(t.hits AS DOUBLE) / t.rk AS DECIMAL(18,12))
               ELSE CAST(0 AS DECIMAL(18,12)) END) AS DECIMAL(18,12))
               AS ap_num,
             MIN(CASE WHEN t.is_rel = 1 THEN t.rk END) AS first_rel
      FROM top t GROUP BY 1
    )
    SELECT n.n_name, nr.n_relevant,
           ROUND(CAST(a.ap_num AS DOUBLE)
                 / GREATEST(LEAST(nr.n_relevant, 10), 1), 6) AS ap10,
           ROUND(CASE WHEN a.first_rel IS NULL THEN 0.0
                 ELSE 1.0 / a.first_rel END, 6) AS rr
    FROM ap a
    JOIN nrel nr ON a.c_nationkey = nr.c_nationkey
    JOIN nation n ON a.c_nationkey = n.n_nationkey
    ORDER BY n.n_name
    """,
)
def q_rank_metrics(spark, sf_dir):
    """MAP@10 and MRR per nation of the ranking 'customers by total
    spend' retrieving the relevance set 'customers with ≥1 urgent
    order' — the retrieval-evaluation pair that complements q_ndcg
    (graded gains) and q_auc (thresholdless): AP@10 = Σ_rel prec@k /
    min(R, 10), RR = 1/rank of the first relevant hit. Every prec@k
    term is one IEEE division of exact integers, cast to DECIMAL and
    summed exactly (≤10 terms — but exactness by construction, not by
    term count). The ranking windows partition by nation (bounded
    per-task sort); the per-customer rollup is the only fact
    shuffle."""
    orders, customer, nation = load_tables(
        spark, sf_dir, "orders", "customer", "nation"
    )
    rel = orders.groupBy("o_custkey").agg(
        F.sum((F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("spend"),
        F.max((F.col("o_orderpriority") == "1-URGENT").cast("long")).alias(
            "is_rel"
        ),
    )
    ranked = rel.join(
        customer, rel.o_custkey == customer.c_custkey
    ).select(
        "c_nationkey",
        "is_rel",
        F.row_number()
        .over(
            Window.partitionBy("c_nationkey").orderBy(
                F.col("spend").desc(), F.col("o_custkey").asc()
            )
        )
        .alias("rk"),
    )
    nrel = ranked.groupBy("c_nationkey").agg(
        F.sum("is_rel").cast("long").alias("n_relevant")
    )
    top = ranked.filter(F.col("rk") <= 10).withColumn(
        "hits",
        F.sum("is_rel").over(
            Window.partitionBy("c_nationkey")
            .orderBy("rk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    term = F.when(
        F.col("is_rel") == 1,
        (F.col("hits").cast("double") / F.col("rk")).cast("decimal(18,12)"),
    ).otherwise(F.lit(0).cast("decimal(18,12)"))
    ap = top.groupBy("c_nationkey").agg(
        F.sum(term).cast("decimal(18,12)").alias("ap_num"),
        F.min(F.when(F.col("is_rel") == 1, F.col("rk"))).alias("first_rel"),
    )
    return (
        ap.join(nrel, "c_nationkey")
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == nation.n_nationkey,
        )
        .select(
            "n_name",
            "n_relevant",
            F.round(
                F.col("ap_num").cast("double")
                / F.greatest(
                    F.least(F.col("n_relevant"), F.lit(10)), F.lit(1)
                ),
                6,
            ).alias("ap10"),
            F.round(
                F.when(F.col("first_rel").isNull(), F.lit(0.0)).otherwise(
                    F.lit(1.0) / F.col("first_rel")
                ),
                6,
            ).alias("rr"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q_harmonic_centrality: harmonic + eccentricity on the bitmask BFS
# ---------------------------------------------------------------------------


@query(
    "q_harmonic_centrality",
    """
    WITH RECURSIVE e AS (
      SELECT DISTINCT concat('c', o_custkey) AS src,
                      concat('s', l_suppkey) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), sym AS (
      SELECT src, dst FROM e UNION SELECT dst, src FROM e
    ), bfs AS (
      SELECT seed, seed AS node, 0 AS dist
      FROM (VALUES ('s1'), ('s2'), ('s3'), ('s4')) AS seeds(seed)
      UNION
      SELECT b.seed, s.dst, b.dist + 1
      FROM bfs b JOIN sym s ON b.node = s.src
      WHERE b.dist < 6
    ), md AS (
      SELECT seed, node, MIN(dist) AS dist FROM bfs GROUP BY 1, 2
    )
    SELECT seed,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
           CAST(SUM(CASE WHEN dist > 0 THEN 1000000 // dist ELSE 0 END)
                AS BIGINT) AS harmonic_ppm,
           CAST(MAX(dist) AS BIGINT) AS eccentricity
    FROM md GROUP BY 1 ORDER BY seed
    """,
)
def q_harmonic_centrality(spark, sf_dir):
    """Harmonic centrality (Σ 1/d, the closeness variant that handles
    disconnected graphs gracefully) AND hop-bounded eccentricity
    (max d) for the four landmark suppliers, from ONE bitmask
    multi-source BFS pass (operators/graph.multi_source_bfs — the same
    frontier loop q_closeness rides; the three centralities differ only
    in the final per-seed aggregate). The reciprocal sum is EXACT
    integer micro-units (1 000 000 DIV d per node — no float
    accumulation), so the whole iterative computation remains
    value-hash-certified by the recursive-CTE oracle. The symmetrized
    graph layout is the shared per-(app, sf_dir) memo
    (advanced_queries._purchase_sym) — one build per session for this
    query AND q_closeness."""
    from ..operators.graph import multi_source_bfs
    from .advanced_queries import _purchase_sym

    sym = _purchase_sym(spark, sf_dir)
    seeds = spark.createDataFrame(
        [("s1",), ("s2",), ("s3",), ("s4",)], "seed string"
    )
    dists = multi_source_bfs(sym, seeds, max_hops=6, sym_layout=sym)
    return (
        dists.groupBy("seed")
        .agg(
            (F.count(F.lit(1)) - 1).cast("long").alias("n_reached"),
            F.sum(
                F.when(
                    F.col("dist") > 0,
                    F.expr("1000000 DIV dist"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("harmonic_ppm"),
            F.max("dist").cast("long").alias("eccentricity"),
        )
        .orderBy("seed")
    )


# ---------------------------------------------------------------------------
# q_edit_distance_join: blocked Levenshtein similarity join (entity
# resolution blocking)
# ---------------------------------------------------------------------------


@query(
    "q_edit_distance_join",
    """
    WITH pairs AS (
      SELECT a.p_partkey AS k1, b.p_partkey AS k2,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
       AND abs(length(a.p_name) - length(b.p_name)) <= 6
    )
    SELECT k1, k2, dist FROM pairs
    ORDER BY dist, k1, k2 LIMIT 15
    """,
)
def q_edit_distance_join(spark, sf_dir):
    """Blocked edit-distance similarity join over part names — the
    entity-resolution primitive (find near-identical records) done the
    way it survives scale: NEVER all-pairs. Candidate pairs come from
    an equality join on the blocking key (brand, size) — a plain
    co-partitioned hash join, |block|²/2 Levenshtein evaluations per
    block instead of |parts|²/2 total (20k parts → ~1.2k blocks of ~16
    → ~3·10⁵ evals vs 2·10⁸ unblocked) — plus a length-band predicate
    that skips evaluations the threshold could never accept (|len
    diff| ≤ 6 bounds achievable distance from below). Top-15 closest
    pairs, fully deterministic tie-break. Levenshtein itself is an
    exact integer in both engines."""
    part = load_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("k1"),
        F.col("p_name").alias("n1"),
        "p_brand",
        "p_size",
    )
    b = part.select(
        F.col("p_partkey").alias("k2"),
        F.col("p_name").alias("n2"),
        F.col("p_brand").alias("b2"),
        F.col("p_size").alias("s2"),
    )
    pairs = a.join(
        b,
        (F.col("p_brand") == F.col("b2"))
        & (F.col("p_size") == F.col("s2"))
        & (F.col("k1") < F.col("k2"))
        & (
            F.abs(F.length("n1") - F.length("n2")) <= 6
        ),
    ).select(
        "k1",
        "k2",
        F.levenshtein("n1", "n2").cast("long").alias("dist"),
    )
    return pairs.orderBy("dist", "k1", "k2").limit(15)


# ---------------------------------------------------------------------------
# q_weighted_jaccard: quantity-weighted neighborhood similarity
# ---------------------------------------------------------------------------


@query(
    "q_weighted_jaccard",
    """
    WITH w AS (
      SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT supp, CAST(SUM(qty) AS BIGINT) AS t FROM w GROUP BY 1
    ), inter AS (
      SELECT a.supp AS s1, b.supp AS s2,
             CAST(SUM(LEAST(a.qty, b.qty)) AS BIGINT) AS minsum,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM w a JOIN w b ON a.cust = b.cust AND a.supp < b.supp
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT i.s1, i.s2, i.n_shared,
           ROUND(CAST(i.minsum AS DOUBLE)
                 / (t1.t + t2.t - i.minsum), 6) AS wjaccard
    FROM inter i
    JOIN tot t1 ON i.s1 = t1.supp
    JOIN tot t2 ON i.s2 = t2.supp
    ORDER BY wjaccard DESC, i.s1, i.s2
    LIMIT 50
    """,
)
def q_weighted_jaccard(spark, sf_dir):
    """Quantity-WEIGHTED neighborhood Jaccard between suppliers —
    q_graph_jaccard's graded sibling: WJ = Σ min(w_a, w_b) / Σ max over
    the customer union, where Σ max folds to tot_a + tot_b − Σ min, so
    only the SHARED-customer pair join is ever evaluated (the union
    never materializes). Weights are exact integer quantities; one
    division per surviving pair. Same scale posture as the unweighted
    plan: the pair self-join co-partitions on the customer key with
    map-side-combined min-sums, and the hot-key d²/2 story (and its
    degree-capped escape hatch, operators/basket.degree_capped_edges)
    carries over unchanged."""
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    w = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.col("l_suppkey").alias("supp"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty")
        )
        .localCheckpoint(eager=False)
    )
    # VERDICT r10 #5: the volume interlock the unweighted twin gets via
    # cooccurrence_pairs — refuse the exact quadratic plan outright when
    # the predicted pair output is cluster-hostile (the probe also
    # materializes the lazy checkpoint the main plan reuses)
    from ..operators.basket import MAX_EXACT_PAIRS, refuse_excess_fanout

    refuse_excess_fanout(
        w,
        "cust",
        MAX_EXACT_PAIRS,
        "q_weighted_jaccard_approx (recall-certified by "
        "q_weighted_jaccard_recall)",
    )
    tot = w.groupBy("supp").agg(F.sum("qty").cast("long").alias("t"))
    a = w.select(
        F.col("cust").alias("ca"), F.col("supp").alias("s1"),
        F.col("qty").alias("qa"),
    )
    b = w.select(
        F.col("cust").alias("cb"), F.col("supp").alias("s2"),
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
        inter.join(t1, "s1")
        .join(t2, "s2")
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


# ---------------------------------------------------------------------------
# q_clustering_coeff: local clustering coefficient on the similarity
# graph
# ---------------------------------------------------------------------------

from ..functions.vectors import sql_cosine as _sql_cosine  # noqa: E402

_CC_COS = _sql_cosine("a.embedding", "b.embedding")


@query(
    "q_clustering_coeff",
    f"""
    WITH e AS (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM embeddings a, embeddings b
      WHERE a.vec_id < 500 AND b.vec_id < 500 AND a.vec_id < b.vec_id
        AND {_CC_COS} >= 0.3
    ), deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1
    ), tri AS (
      SELECT ab.a AS x, ab.b AS y, bc.b AS z
      FROM e ab JOIN e bc ON ab.b = bc.a
      JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    ), pt AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS t FROM (
        SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri) GROUP BY 1
    )
    SELECT d.n AS node, d.d AS degree,
           CAST(COALESCE(pt.t, 0) AS BIGINT) AS n_triangles,
           ROUND(CAST(2 * COALESCE(pt.t, 0) AS DOUBLE)
                 / (d.d * (d.d - 1)), 6) AS lcc
    FROM deg d LEFT JOIN pt ON d.n = pt.n
    WHERE d.d >= 2
    ORDER BY lcc DESC, node LIMIT 20
    """,
)
def q_clustering_coeff(spark, sf_dir):
    """Per-node local clustering coefficient of the embedding
    similarity graph (q_triangle_count's graph): lcc(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)) — the transitivity profile that tells a dedup
    pipeline WHICH neighborhoods are dense near-duplicate families vs
    chains of borderline matches. Triangles enumerate once through the
    canonical a<b wedge join (three hash joins, no theta join) and then
    unpivot to per-corner counts; degrees and the final ratio are exact
    integers to one division. Same sparse-by-construction graph bound
    as q_triangle_count (the co-occurrence-graph wedge explosion is the
    documented counterexample)."""
    from ..operators.dedup import embedding_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    e = (
        embedding_neardup_pairs(emb, "vec_id", "embedding", min_cosine=0.3)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        # r14: eager — the pair generator feeds deg (2 legs) + all three
        # wedge-join sides; a lazy checkpoint is recomputed concurrently
        # by AQE's parallel stage materialization before the cache fills
        # (the minhash_lsh_pairs lesson)
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .union(e.select("b"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    ac = e.select(F.col("a").alias("x2"), F.col("b").alias("z2"))
    tri = (
        ab.join(bc, "y")
        .join(
            ac,
            (F.col("x") == F.col("x2")) & (F.col("z") == F.col("z2")),
        )
        .select("x", "y", "z")
    )
    pt = (
        tri.select(F.col("x").alias("n"))
        .union(tri.select("y"))
        .union(tri.select("z"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    return (
        deg.join(pt, "n", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("n").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                (2 * F.coalesce("t", F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("lcc"),
        )
        .orderBy(F.col("lcc").desc(), "node")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q_bloom_fpr_cert: portable relational Bloom filter with MEASURED FPR
# ---------------------------------------------------------------------------

_BLOOM_M = 16384  # bits
_BLOOM_K = 3  # hash functions


def _sql_bloom_pos(key_expr: str, i_expr: str) -> str:
    from ..operators.sketches import _sql_fold8

    return (
        "("
        + _sql_fold8(
            f"md5(CAST({key_expr} AS VARCHAR) || ':' "
            f"|| CAST({i_expr} AS VARCHAR))"
        )
        + f") % {_BLOOM_M}"
    )


@query(
    "q_bloom_fpr_cert",
    f"""
    WITH members AS (
      SELECT c_custkey AS k FROM customer WHERE c_nationkey = 7
    ), probes AS (
      SELECT c_custkey AS k FROM customer WHERE c_nationkey = 12
    ), hs AS (SELECT unnest(range({_BLOOM_K})) AS i),
    bits AS (
      SELECT DISTINCT {_sql_bloom_pos("m.k", "h.i")} AS pos
      FROM members m, hs h
    ), phits AS (
      SELECT p.k,
             CAST(SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits
      FROM probes p CROSS JOIN hs h
      LEFT JOIN bits b ON {_sql_bloom_pos("p.k", "h.i")} = b.pos
      GROUP BY 1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
           (SELECT CAST(COUNT(*) * 1000000 // {_BLOOM_M} AS BIGINT)
              FROM bits) AS occupancy_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN hits = {_BLOOM_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           ROUND(CAST(SUM(CASE WHEN hits = {_BLOOM_K} THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS fpr
    FROM phits
    """,
)
def q_bloom_fpr_cert(spark, sf_dir):
    """Fully RELATIONAL Bloom filter with a measured false-positive
    rate — the certified twin of q_bloom_join (whose JVM
    BloomFilterImpl no other engine can replay): k=3 portable md5-fold
    bit positions in an m=16384-bit space, membership = nation-7
    customer keys, probes = nation-12 keys (DISJOINT by construction,
    so every probe hit IS a false positive — the FPR needs no labeled
    ground truth). Output: bit occupancy (exact integer ppm) and the
    measured FPR. Scale shape: the bit set is ≤m rows however large the
    member set gets, the probe side joins it by position (broadcast-
    sized), and both sides are one narrow scan + explode(k)."""
    from ..operators.sketches import _fold8

    customer = load_table(spark, sf_dir, "customer")
    hs = F.explode(
        F.array(*[F.lit(i) for i in range(_BLOOM_K)])
    ).alias("i")

    def positions(df, keycol):
        return df.select(
            F.col(keycol).alias("k"), hs
        ).select(
            "k",
            (
                _fold8(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("k").cast("string"),
                            F.col("i").cast("string"),
                        )
                    )
                )
                % _BLOOM_M
            ).alias("pos"),
        )

    members = customer.filter(F.col("c_nationkey") == 7)
    probes = customer.filter(F.col("c_nationkey") == 12)
    bits = positions(members, "c_custkey").select("pos").distinct()
    n_members = members.count()
    n_bits = bits.count()
    ph = (
        positions(probes, "c_custkey")
        .join(F.broadcast(bits.withColumnRenamed("pos", "bpos")),
              F.col("pos") == F.col("bpos"), "left")
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("bpos").isNotNull(), 1).otherwise(0)
            ).alias("hits")
        )
    )
    return ph.agg(
        F.lit(n_members).cast("long").alias("n_members"),
        F.lit(n_bits).cast("long").alias("n_bits_set"),
        F.lit(n_bits * 1_000_000 // _BLOOM_M).cast("long").alias(
            "occupancy_ppm"
        ),
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(F.when(F.col("hits") == _BLOOM_K, 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
        F.round(
            F.sum(
                F.when(F.col("hits") == _BLOOM_K, 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("fpr"),
    )


# ---------------------------------------------------------------------------
# q_random_walk: deterministic md5-guided graph walks
# ---------------------------------------------------------------------------

_RW_STEPS = 4

_SQL_RW_BASE = """e AS (
      SELECT DISTINCT concat('c', o_custkey) AS src,
                      concat('s', l_suppkey) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), sym AS (
      SELECT src, dst FROM e UNION SELECT dst, src FROM e
    ), w0 AS (
      SELECT seed, seed AS node
      FROM (VALUES ('s1'), ('s2'), ('s3'), ('s4')) AS seeds(seed)
    )"""


def _sql_rw(steps: int) -> str:
    ctes = []
    for t in range(1, steps + 1):
        ctes.append(f"""w{t} AS (
      SELECT seed, node FROM (
        SELECT w.seed, s.dst AS node,
               ROW_NUMBER() OVER (
                 PARTITION BY w.seed
                 ORDER BY md5(w.seed || ':{t}:' || s.dst), s.dst) AS rn
        FROM w{t - 1} w JOIN sym s ON w.node = s.src)
      WHERE rn = 1
    )""")
    body = ",\n    ".join(ctes)
    selects = " UNION ALL ".join(
        f"SELECT seed, {t} AS step, node FROM w{t}" for t in range(steps + 1)
    )
    return f"""{body}
    SELECT seed, CAST(step AS BIGINT) AS step, node FROM ({selects})
    ORDER BY seed, step"""


@query(
    "q_random_walk",
    f"""
    WITH {_SQL_RW_BASE},
    {_sql_rw(_RW_STEPS)}
    """,
)
def q_random_walk(spark, sf_dir):
    """Deterministic 'random' walks over the purchase graph — the
    node2vec/DeepWalk sampling primitive that turns a graph into
    training sequences: from each landmark seed, 4 steps where the next
    hop is the neighbor minimizing md5(seed:step:neighbor). The md5
    choice is uniform-ish over neighbors yet PORTABLE, so the entire
    stochastic-looking computation is value-hash-replayed by the
    oracle (the q_dp_counts randomness discipline applied to walks —
    the walk is random in distribution, deterministic in execution).
    Per step: one join of the ≤|seeds|-row frontier against the
    src-partitioned edge layout + a per-seed min window over the
    neighbor fan-out — the hot-node cost is one window sort, never a
    pair blowup. At corpus scale you'd run thousands of walks per
    node: same plan, wider frontier, the per-(walk, step) argmin stays
    one combined window pass.

    r14 optimization (guide §2.4/§3.1): each step's frontier is
    localCheckpoint(eager=False)-ed — without it the step-t union leg
    AND the step-t+1 join each replay the whole t-step join chain
    (measured: 62 Exchanges / 178 operators in the final plan, the
    census's worst row), vs computed-once frontiers (plan drops to one
    window exchange per step). The ≤|seeds|-row frontier is explicitly
    broadcast into the edge join — size estimates on an ExistingRDD
    leaf made Catalyst pick a SortMergeJoin that shuffled the FULL
    edge layout every step."""
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    edges = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    sym = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    cur = spark.createDataFrame(
        [("s1",), ("s2",), ("s3",), ("s4",)], "seed string"
    ).select("seed", F.col("seed").alias("node"))
    out = cur.select("seed", F.lit(0).cast("long").alias("step"), "node")
    for t in range(1, _RW_STEPS + 1):
        h = F.md5(
            F.concat(F.col("seed"), F.lit(f":{t}:"), F.col("dst"))
        )
        w = Window.partitionBy("seed").orderBy(h.asc(), F.col("dst").asc())
        cur = (
            F.broadcast(cur)
            .join(sym, cur.node == sym.src)
            .select("seed", "dst")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("seed", F.col("dst").alias("node"))
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(
            cur.select("seed", F.lit(t).cast("long").alias("step"), "node")
        )
    return out.orderBy("seed", "step")


# ---------------------------------------------------------------------------
# q_hits_scores: fixed-round integer-certified HITS authorities
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 4
_HITS_SCALE = 1_000_000

_SQL_HITS_BASE = """ce AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), h0 AS (
      SELECT DISTINCT cust, CAST(1000000 AS BIGINT) AS h FROM ce
    )"""


def _sql_hits(rounds: int) -> str:
    ctes = []
    prev_h = "h0"
    for r in range(1, rounds + 1):
        ctes.append(f"""ar{r} AS MATERIALIZED (
      SELECT e.supp, CAST(SUM(h.h) AS BIGINT) AS a
      FROM ce e JOIN {prev_h} h ON e.cust = h.cust
      GROUP BY 1
    ), aq{r} AS MATERIALIZED (
      SELECT supp,
             CAST(a * {_HITS_SCALE} // (SELECT MAX(a) FROM ar{r})
                  AS BIGINT) AS a
      FROM ar{r}
    ), hr{r} AS MATERIALIZED (
      SELECT e.cust, CAST(SUM(a.a) AS BIGINT) AS h
      FROM ce e JOIN aq{r} a ON e.supp = a.supp
      GROUP BY 1
    ), h{r} AS MATERIALIZED (
      SELECT cust,
             CAST(h * {_HITS_SCALE} // (SELECT MAX(h) FROM hr{r})
                  AS BIGINT) AS h
      FROM hr{r}
    )""")
        prev_h = f"h{r}"
    body = ",\n    ".join(ctes)
    return f"""{body}
    SELECT supp, a AS auth_ppm FROM aq{rounds}
    ORDER BY auth_ppm DESC, supp LIMIT 15"""


@query(
    "q_hits_scores",
    f"""
    WITH {_SQL_HITS_BASE},
    {_sql_hits(_HITS_ROUNDS)}
    """,
)
def q_hits_scores(spark, sf_dir):
    """Hash-certified HITS (Kleinberg hubs-and-authorities) on the
    customer→supplier purchase graph — the q_pagerank_exact discipline
    applied to the two-sided mutual-reinforcement iteration: exactly 4
    fixed rounds of a(s) = Σ h(c), h(c) = Σ a(s), each side re-scaled
    by x·10⁶ // max in INTEGER arithmetic (floor-divided fixed point —
    floating normalization could never hash-match across engines). Top
    15 authorities in ppm of the round-4 maximum. Per round: two joins
    against the persisted distinct edge list, each co-partitioned on
    its key, two map-side-combined sums, and two 1-row max aggregates
    that ride broadcast — the loop is O(diameter-free), always 4
    rounds, so the chained-CTE oracle replays it verbatim."""
    from ..session import checkpoint_round
    from .roundseven_queries import _cs_edges

    ce = _cs_edges(spark, sf_dir)
    h = (
        ce.select("cust")
        .distinct()
        .select("cust", F.lit(_HITS_SCALE).cast("long").alias("h"))
    )
    aq = None
    for _r in range(_HITS_ROUNDS):
        ar = (
            ce.join(h, "cust")
            .groupBy("supp")
            .agg(F.sum("h").cast("long").alias("a"))
        )
        amax = ar.agg(F.max("a").alias("am"))
        aq = checkpoint_round(  # only the last aq survives
            ar.crossJoin(F.broadcast(amax)).select(
                "supp",
                F.expr(f"CAST(a * {_HITS_SCALE} DIV am AS LONG)").alias("a"),
            ),
            replaces=aq,
        )
        hr = (
            ce.join(aq, "supp")
            .groupBy("cust")
            .agg(F.sum("a").cast("long").alias("h"))
        )
        hmax = hr.agg(F.max("h").alias("hm"))
        # round 1 replaces the lazy start vector: nothing to release
        h = checkpoint_round(
            hr.crossJoin(F.broadcast(hmax)).select(
                "cust",
                F.expr(f"CAST(h * {_HITS_SCALE} DIV hm AS LONG)").alias("h"),
            ),
            replaces=h,
        )
    return (
        aq.select("supp", F.col("a").alias("auth_ppm"))
        .orderBy(F.col("auth_ppm").desc(), "supp")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Phase 45: corpus statistics + robustness screens
# ---------------------------------------------------------------------------


@query(
    "q_zipf_fit",
    """
    WITH freq AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
      GROUP BY 1 ORDER BY c DESC, w LIMIT 200
    ), ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r FROM freq
    ), terms AS (
      SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(28,12)) AS x,
             CAST(ROUND(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(28,12)) AS y,
             CAST(ROUND(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE)), 9)
                  AS DECIMAL(28,12)) AS xy,
             CAST(ROUND(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)), 9)
                  AS DECIMAL(28,12)) AS xx
      FROM ranked
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
           ROUND((COUNT(*) * CAST(SUM(xy) AS DOUBLE)
                  - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
                 / (COUNT(*) * CAST(SUM(xx) AS DOUBLE)
                    - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)),
                 6) AS zipf_slope,
           ROUND((CAST(SUM(y) AS DOUBLE)
                  - ((COUNT(*) * CAST(SUM(xy) AS DOUBLE)
                      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
                     / (COUNT(*) * CAST(SUM(xx) AS DOUBLE)
                        - CAST(SUM(x) AS DOUBLE)
                          * CAST(SUM(x) AS DOUBLE)))
                    * CAST(SUM(x) AS DOUBLE)) / COUNT(*), 6) AS intercept
    FROM terms
    """,
)
def q_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency slope of the corpus vocabulary: OLS of
    ln(freq) on ln(rank) over the top-200 tokens (≈ −1 for natural
    language; far-off slopes flag synthetic/templated corpora — the
    token-domain sibling of q_powerlaw_fit's degree-domain fit). The
    regression terms are ln() products rounded to 9 places and summed
    as EXACT decimals (the Theil/PSI discipline), so the parallel sums
    can't drift; the closed-form slope/intercept are a handful of
    deterministic double ops on those exact sums. The token count is
    vocabulary-bounded; the top-200 cut is a TakeOrdered (never a
    global sort), and the rank window runs over exactly 200 rows."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(200)
    )
    # 200-row frame: the unpartitioned rank window is bounded by the
    # LIMIT above, never by corpus size
    ranked = freq.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy(F.col("c").desc(), F.col("w").asc())
        ),
    )
    lx = F.log(F.col("r").cast("double"))
    ly = F.log(F.col("c").cast("double"))
    terms = ranked.select(
        F.round(lx, 9).cast("decimal(28,12)").alias("x"),
        F.round(ly, 9).cast("decimal(28,12)").alias("y"),
        F.round(lx * ly, 9).cast("decimal(28,12)").alias("xy"),
        F.round(lx * lx, 9).cast("decimal(28,12)").alias("xx"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        F.col("n").alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("intercept"),
    )


@query(
    "q_ngram_entropy_rate",
    """
    WITH toks AS (
      SELECT source, string_split(lower(text), ' ') AS l FROM documents
    ), big AS (
      SELECT source,
             unnest([l[i] FOR i IN generate_series(1, len(l) - 1)]) AS w1,
             unnest([l[i + 1] FOR i IN generate_series(1, len(l) - 1)]) AS w2
      FROM toks WHERE len(l) >= 2
    ), c2 AS (
      SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS c
      FROM big GROUP BY 1, 2, 3
    ), c1 AS (
      SELECT source, w1, CAST(SUM(c) AS BIGINT) AS cw1
      FROM c2 GROUP BY 1, 2
    ), n AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS nb FROM c2 GROUP BY 1
    ), terms AS (
      SELECT c2.source,
             CAST(ROUND((CAST(c2.c AS DOUBLE) / n.nb)
                        * ln(CAST(c2.c AS DOUBLE) / c1.cw1), 9)
                  AS DECIMAL(28,12)) AS t
      FROM c2
      JOIN c1 ON c2.source = c1.source AND c2.w1 = c1.w1
      JOIN n ON c2.source = n.source
    )
    SELECT t.source, n.nb AS n_bigrams,
           ROUND(-CAST(SUM(t.t) AS DOUBLE), 6) AS entropy_rate
    FROM terms t JOIN n ON t.source = n.source
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def q_ngram_entropy_rate(spark, sf_dir):
    """Bigram conditional entropy rate H(w₂|w₁) per source — the
    language-model-flavored predictability screen (low rate =
    templated/repetitive text; complements q_char_entropy's unigram
    character entropy and q_repetition's exact-span detector):
    H = −Σ p(w₁,w₂)·ln p(w₂|w₁) with p(w₂|w₁) = c₂/c₁ straight from
    the bigram table (so the conditioning marginal is consistent by
    construction). Each term is identical IEEE ops in both engines,
    rounded to 9 and decimal-summed exactly. The bigram counts
    partial-aggregate map-side; c₁ folds FROM c₂ (no second corpus
    pass); everything after the counts is vocabulary-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    base = docs.select("source", toks.alias("l")).filter(F.size("l") >= 2)
    big = base.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("l") - 1),
                lambda i: F.struct(
                    F.element_at("l", i).alias("w1"),
                    F.element_at("l", i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("source", "bg.w1", "bg.w2")
    c2 = big.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    c1 = c2.groupBy("source", "w1").agg(
        F.sum("c").cast("long").alias("cw1")
    )
    n = c2.groupBy("source").agg(F.sum("c").cast("long").alias("nb"))
    term = F.round(
        (F.col("c").cast("double") / F.col("nb"))
        * F.log(F.col("c").cast("double") / F.col("cw1")),
        9,
    ).cast("decimal(28,12)")
    terms = (
        c2.join(c1, ["source", "w1"])
        .join(F.broadcast(n), "source")
        .select("source", term.alias("t"))
    )
    return (
        terms.join(F.broadcast(n), "source")
        .groupBy("source", "nb")
        .agg(F.round(-F.sum("t").cast("double"), 6).alias("entropy_rate"))
        .select(
            "source", F.col("nb").alias("n_bigrams"), "entropy_rate"
        )
        .orderBy("source")
    )


@query(
    "q_minmax_scale",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             MIN(value) AS vmin, MAX(value) AS vmax
      FROM events GROUP BY 1
    ), scaled AS (
      SELECT e.event_type, s.n, s.vmin, s.vmax,
             CAST(ROUND(CASE WHEN s.vmax = s.vmin THEN 0.5
                   ELSE (e.value - s.vmin) / (s.vmax - s.vmin) END, 9)
                  AS DECIMAL(28,12)) AS sv
      FROM events e JOIN stats s ON e.event_type = s.event_type
    )
    SELECT event_type, n,
           ROUND(vmin, 6) AS vmin, ROUND(vmax, 6) AS vmax,
           ROUND(CAST(SUM(sv) AS DOUBLE) / n, 6) AS mean_scaled
    FROM scaled GROUP BY 1, 2, 3, 4 ORDER BY 1
    """,
)
def q_minmax_scale(spark, sf_dir):
    """Per-group min-max feature scaling with a drift-proof mean: the
    [0,1] normalization every feature pipeline applies before training
    (q_quantile_normalize's simpler linear sibling). min/max of doubles
    are exact element picks, each scaled value is identical IEEE ops in
    both engines, and the scaled MEAN is a rounded-term exact-decimal
    sum — a naive SUM(double)/n over a parallel scan is order-dependent
    in the last ulp and can never hash-match (the repo-wide float-sum
    rule). Two shuffles on the group key (stats + the final census);
    the stats side is |groups| rows and broadcasts back onto the
    scan."""
    events = load_table(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    sv = F.round(
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0.5)).otherwise(
            (F.col("value") - F.col("vmin"))
            / (F.col("vmax") - F.col("vmin"))
        ),
        9,
    ).cast("decimal(28,12)")
    scaled = events.join(F.broadcast(stats), "event_type").select(
        "event_type", "n", "vmin", "vmax", sv.alias("sv")
    )
    return (
        scaled.groupBy("event_type", "n", "vmin", "vmax")
        .agg(
            F.round(F.sum("sv").cast("double") / F.col("n"), 6).alias(
                "mean_scaled"
            )
        )
        .select(
            "event_type",
            "n",
            F.round("vmin", 6).alias("vmin"),
            F.round("vmax", 6).alias("vmax"),
            "mean_scaled",
        )
        .orderBy("event_type")
    )


@query(
    "q_simpson_check",
    f"""
    WITH s AS (
      SELECT c.c_nationkey,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a,
             CASE WHEN CAST(o.o_totalprice * 100 AS BIGINT)
                       > {_CM_THRESHOLD_CENTS} THEN 1 ELSE 0 END AS b
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), pern AS (
      SELECT c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a) AS BIGINT) AS na,
             CAST(SUM(b) AS BIGINT) AS nb,
             CAST(SUM(a * b) AS BIGINT) AS nab
      FROM s GROUP BY 1
    ), dirs AS (
      SELECT CASE
               WHEN nab * n > na * nb THEN 1
               WHEN nab * n < na * nb THEN -1
               ELSE 0 END AS dir
      FROM pern WHERE na > 0 AND nb > 0
    ), pooled AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(na) AS BIGINT) AS na,
             CAST(SUM(nb) AS BIGINT) AS nb, CAST(SUM(nab) AS BIGINT) AS nab
      FROM pern
    )
    SELECT ROUND(CAST(p.nab AS DOUBLE) * p.n
                 / GREATEST(p.na * p.nb, 1), 6) AS pooled_lift,
           (SELECT CAST(SUM(CASE WHEN dir = 1 THEN 1 ELSE 0 END) AS BIGINT)
              FROM dirs) AS n_groups_up,
           (SELECT CAST(SUM(CASE WHEN dir = -1 THEN 1 ELSE 0 END) AS BIGINT)
              FROM dirs) AS n_groups_down,
           CAST(CASE
             WHEN p.nab * p.n > p.na * p.nb
                  AND (SELECT SUM(CASE WHEN dir = -1 THEN 1 ELSE 0 END)
                       FROM dirs)
                      > (SELECT SUM(CASE WHEN dir = 1 THEN 1 ELSE 0 END)
                         FROM dirs) THEN 1
             WHEN p.nab * p.n < p.na * p.nb
                  AND (SELECT SUM(CASE WHEN dir = 1 THEN 1 ELSE 0 END)
                       FROM dirs)
                      > (SELECT SUM(CASE WHEN dir = -1 THEN 1 ELSE 0 END)
                         FROM dirs) THEN 1
             ELSE 0 END AS BIGINT) AS simpson_flag
    FROM pooled p
    """,
)
def q_simpson_check(spark, sf_dir):
    """Simpson's-paradox screen: does the pooled association between
    'urgent' and 'high-value' orders point the SAME way as the
    per-nation majority? Association direction is the sign of
    nab·n − na·nb (lift vs 1 cross-multiplied — pure INTEGER compares,
    no division until the one reported pooled lift), so the verdict
    can't float-drift. A set flag means any pooled-level conclusion
    about the pair inverts within groups — the classic aggregation
    trap every analytics layer should surface, and the categorical
    sibling of q_did's confound control. One fact join + one grouped
    census; everything downstream is ≤|nations| rows."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    s = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(
        "c_nationkey",
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("a"),
        (
            (F.col("o_totalprice") * 100).cast("long") > _CM_THRESHOLD_CENTS
        )
        .cast("long")
        .alias("b"),
    )
    pern = s.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("na"),
        F.sum("b").cast("long").alias("nb"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("nab"),
    )
    lhs = F.col("nab") * F.col("n")
    rhs = F.col("na") * F.col("nb")
    dirs = pern.filter((F.col("na") > 0) & (F.col("nb") > 0)).select(
        F.when(lhs > rhs, 1).when(lhs < rhs, -1).otherwise(0).alias("dir")
    )
    dcount = dirs.agg(
        F.sum(F.when(F.col("dir") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_groups_up"),
        F.sum(F.when(F.col("dir") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_groups_down"),
    )
    pooled = pern.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("na").cast("long").alias("na"),
        F.sum("nb").cast("long").alias("nb"),
        F.sum("nab").cast("long").alias("nab"),
    )
    j = pooled.crossJoin(F.broadcast(dcount))
    plhs = F.col("nab") * F.col("n")
    prhs = F.col("na") * F.col("nb")
    return j.select(
        F.round(
            F.col("nab").cast("double")
            * F.col("n")
            / F.greatest(F.col("na") * F.col("nb"), F.lit(1)),
            6,
        ).alias("pooled_lift"),
        "n_groups_up",
        "n_groups_down",
        F.when(
            (plhs > prhs) & (F.col("n_groups_down") > F.col("n_groups_up")),
            1,
        )
        .when(
            (plhs < prhs) & (F.col("n_groups_up") > F.col("n_groups_down")),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("simpson_flag"),
    )


# ---------------------------------------------------------------------------
# phase 46: classical nonparametric / variance-decomposition tests
# ---------------------------------------------------------------------------


@query(
    "q_mann_whitney",
    """
    WITH s AS (
      SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS a,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), cnt AS (
      SELECT v, CAST(SUM(a) AS BIGINT) AS ca, CAST(COUNT(*) AS BIGINT) AS t
      FROM s GROUP BY 1
    ), cum AS (
      SELECT v, ca, t,
             COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cb
      FROM cnt
    ), agg AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(t - ca) AS BIGINT) AS nb,
             CAST(SUM(ca * (2 * cb + t + 1)) AS BIGINT) AS r2a,
             CAST(SUM(t * t * t - t) AS BIGINT) AS ties
      FROM cum
    )
    SELECT na AS n_a, nb AS n_b,
           CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 AS u_stat,
           ROUND((CAST(r2a - na * (na + 1) AS DOUBLE) - CAST(na * nb AS DOUBLE))
                 / (2.0 * sqrt((CAST(na * nb AS DOUBLE) / 12.0)
                    * (CAST(na + nb + 1 AS DOUBLE)
                       - CAST(ties AS DOUBLE)
                         / CAST((na + nb) * (na + nb - 1) AS DOUBLE)))),
                 6) AS z_score,
           ROUND(CAST(r2a - na * (na + 1) AS DOUBLE)
                 / CAST(na * nb AS DOUBLE) - 1.0, 6) AS rank_biserial
    FROM agg
    """,
)
def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test (BUILDING vs MACHINERY order
    totals) with the exact tie correction — the nonparametric sibling
    of q_ab_test's mean-difference z. NO per-row ranking anywhere:
    rank sums come from the per-distinct-value count frame via
    2·R_A = Σ_v ca(v)·(2·cum_before(v) + t(v) + 1), so every quantity
    up to the final z is an exact BIGINT (2·R_A, 2·U, Σt³−t) and the
    engines can't drift. The one ordered prefix-scan runs on the
    DISTINCT-VALUE frame (bounded by the price domain in cents, never
    by row count — at 100 TB quantize first if the domain is truly
    unbounded); the fact table itself only sees one grouped count with
    map-side partial aggregation, dims broadcast. z uses the normal
    approximation with tie-corrected variance; rank_biserial = 2U/
    (n_a·n_b) − 1 is the effect size."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    s = (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
        )
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("a"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    cnt = s.groupBy("v").agg(
        F.sum("a").cast("long").alias("ca"),
        F.count(F.lit(1)).cast("long").alias("t"),
    )
    # prefix scan over the distinct-value frame only (see docstring)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = cnt.withColumn("cb", F.coalesce(F.sum("t").over(w), F.lit(0)))
    agg = cum.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum(F.col("t") - F.col("ca")).cast("long").alias("nb"),
        F.sum(
            F.col("ca") * (2 * F.col("cb") + F.col("t") + 1)
        )
        .cast("long")
        .alias("r2a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("ties"),
    )
    na, nb = F.col("na"), F.col("nb")
    u2 = (F.col("r2a") - na * (na + 1)).cast("double")
    prod = (na * nb).cast("double")
    n_tot = na + nb
    var = (prod / F.lit(12.0)) * (
        (n_tot + 1).cast("double")
        - F.col("ties").cast("double") / (n_tot * (n_tot - 1)).cast("double")
    )
    return agg.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        (u2 / F.lit(2.0)).alias("u_stat"),
        F.round((u2 - prod) / (F.lit(2.0) * F.sqrt(var)), 6).alias(
            "z_score"
        ),
        F.round(u2 / prod - F.lit(1.0), 6).alias("rank_biserial"),
    )


@query(
    "q_anova_f",
    """
    WITH s AS (
      SELECT c.c_mktsegment AS seg,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), g AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS sx,
             SUM(CAST(v AS DECIMAL(38,0)) * v) AS sxx
      FROM s GROUP BY 1
    ), t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(sx) AS BIGINT) AS sxt,
             CAST(SUM(sxx) AS DOUBLE) AS sxxt,
             CAST(SUM(CAST(ROUND(
               CAST(CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) / n, 6)
               AS DECIMAL(38,6))) AS DOUBLE) AS sgb
      FROM g
    )
    SELECT k AS k_groups, nt AS n_total,
           ROUND((sgb - CAST(CAST(sxt AS DECIMAL(38,0)) * sxt AS DOUBLE) / nt)
                 / (k - 1)
                 / ((sxxt - sgb) / (nt - k)), 6) AS f_stat,
           ROUND((sgb - CAST(CAST(sxt AS DECIMAL(38,0)) * sxt AS DOUBLE) / nt)
                 / ((sgb - CAST(CAST(sxt AS DECIMAL(38,0)) * sxt AS DOUBLE) / nt)
                    + (sxxt - sgb)), 6) AS eta_sq,
           ROUND(CAST(sxt AS DOUBLE) / nt, 6) AS grand_mean_cents
    FROM t
    """,
)
def q_anova_f(spark, sf_dir):
    """One-way ANOVA F across the five market segments on order totals
    — the k-group generalization of q_ab_test (2-group z) and the
    numeric sibling of q_chi_square (categorical). Decomposition via
    the sums identity: SSB = Σ_g (Σx_g)²/n_g − (Σx)²/N and
    SSW = Σx² − Σ_g (Σx_g)²/n_g, where Σx is an exact BIGINT in cents,
    Σx² an exact DECIMAL(38,0) (cents² overflows BIGINT at sf≥0.1),
    and each (Σx_g)²/n_g is a SINGLE IEEE division of exact integers
    (correctly rounded, engine-identical) rounded to 6dp and summed as
    exact decimals — the Theil/PSI associativity-proof discipline. One
    fact-table pass, map-side partial aggregation, dims broadcast; the
    group frame is k=5 rows, so every post-aggregation op is scalar.
    F = (SSB/(k−1))/(SSW/(N−k)); eta_sq = SSB/(SSB+SSW)."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    s = (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    g = s.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sx"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("sxx"),
    )
    gterm = (
        (F.col("sx").cast("decimal(38,0)") * F.col("sx")).cast("double")
        / F.col("n")
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("sx").cast("long").alias("sxt"),
        F.sum("sxx").cast("double").alias("sxxt"),
        F.sum(F.round(gterm, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sgb"),
    )
    grand = (
        F.col("sxt").cast("decimal(38,0)") * F.col("sxt")
    ).cast("double") / F.col("nt")
    ssb = F.col("sgb") - grand
    ssw = F.col("sxxt") - F.col("sgb")
    return t.select(
        F.col("k").alias("k_groups"),
        F.col("nt").alias("n_total"),
        F.round(
            ssb / (F.col("k") - 1) / (ssw / (F.col("nt") - F.col("k"))), 6
        ).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 6).alias("eta_sq"),
        F.round(F.col("sxt").cast("double") / F.col("nt"), 6).alias(
            "grand_mean_cents"
        ),
    )


# ---------------------------------------------------------------------------
# phase 47: rank correlation, agreement, variance homogeneity, runs,
#           jackknife, and audit sampling
# ---------------------------------------------------------------------------


@query(
    "q_kendall_tau",
    """
    WITH yr AS (
      SELECT n.n_name,
             EXTRACT(year FROM o.o_orderdate) AS y,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), p AS (
      SELECT a.n_name,
             CASE WHEN (a.x - b.x) * (a.rev - b.rev) > 0 THEN 1 ELSE 0 END AS con,
             CASE WHEN (a.x - b.x) * (a.rev - b.rev) < 0 THEN 1 ELSE 0 END AS dis,
             CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.rev = b.rev THEN 1 ELSE 0 END AS ty
      FROM yr a JOIN yr b ON a.n_name = b.n_name AND a.y < b.y
    ), n AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS ny FROM yr GROUP BY 1
    )
    SELECT n.n_name, n.ny AS n_years,
           CAST(SUM(p.con) AS BIGINT) AS concordant,
           CAST(SUM(p.dis) AS BIGINT) AS discordant,
           ROUND(CAST(SUM(p.con) - SUM(p.dis) AS DOUBLE)
                 / sqrt(CAST((n.ny * (n.ny - 1) / 2 - SUM(p.tx))
                        * (n.ny * (n.ny - 1) / 2 - SUM(p.ty)) AS DOUBLE)),
                 6) AS tau_b
    FROM p JOIN n ON p.n_name = n.n_name
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def q_kendall_tau(spark, sf_dir):
    """Kendall tau-b rank correlation between yearly order volume and
    yearly revenue, per nation — the concordance-based sibling of
    q_spearman (which ranks globally) and q_rolling_corr (Pearson).
    The pairwise concordance join runs on the per-(nation, year)
    AGGREGATE frame (≤ |nations|·|years| rows — series length is
    calendar-bounded, so C(n,2) per group is a constant ~21, never a
    function of fact rows). Concordant/discordant/tie counts are exact
    BIGINTs; tau_b = (C−D)/√((n₀−tx)(n₀−ty)) is two exact integer
    products, one sqrt, one division. One fact shuffle (the yearly
    rollup, map-side combined); dims broadcast."""
    orders, customer, nation = load_tables(
        spark, sf_dir, "orders", "customer", "nation"
    )
    yr = (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name", F.year("o_orderdate").cast("long").alias("y")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev"),
        )
    )
    a, b = yr.alias("a"), yr.alias("b")
    dx = F.col("a.x") - F.col("b.x")
    dy = F.col("a.rev") - F.col("b.rev")
    p = a.join(
        b,
        (F.col("a.n_name") == F.col("b.n_name")) & (F.col("a.y") < F.col("b.y")),
    ).select(
        F.col("a.n_name").alias("n_name"),
        F.when(dx * dy > 0, 1).otherwise(0).alias("con"),
        F.when(dx * dy < 0, 1).otherwise(0).alias("dis"),
        F.when(F.col("a.x") == F.col("b.x"), 1).otherwise(0).alias("tx"),
        F.when(F.col("a.rev") == F.col("b.rev"), 1).otherwise(0).alias("ty"),
    )
    n = yr.groupBy("n_name").agg(F.count(F.lit(1)).cast("long").alias("ny"))
    agg = (
        p.join(n, "n_name")
        .groupBy("n_name", "ny")
        .agg(
            F.sum("con").cast("long").alias("concordant"),
            F.sum("dis").cast("long").alias("discordant"),
            F.sum("tx").cast("long").alias("stx"),
            F.sum("ty").cast("long").alias("sty"),
        )
    )
    n0 = F.col("ny") * (F.col("ny") - 1) / 2  # exact: ny(ny−1) is even
    return agg.select(
        "n_name",
        F.col("ny").alias("n_years"),
        "concordant",
        "discordant",
        F.round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.sqrt(
                ((n0 - F.col("stx")) * (n0 - F.col("sty"))).cast("double")
            ),
            6,
        ).alias("tau_b"),
    ).orderBy("n_name")


@query(
    "q_cohens_kappa",
    """
    WITH s AS (
      SELECT CASE WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       > 15000000 THEN 1 ELSE 0 END AS r1,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS r2
      FROM orders
    ), c AS (
      SELECT CAST(SUM(r1 * r2) AS BIGINT) AS n11,
             CAST(SUM(r1 * (1 - r2)) AS BIGINT) AS n10,
             CAST(SUM((1 - r1) * r2) AS BIGINT) AS n01,
             CAST(SUM((1 - r1) * (1 - r2)) AS BIGINT) AS n00
      FROM s
    )
    SELECT n11, n10, n01, n00,
           ROUND(CAST((n11 + n10 + n01 + n00) * (n11 + n00)
                      - ((n11 + n10) * (n11 + n01)
                         + (n01 + n00) * (n10 + n00)) AS DOUBLE)
                 / CAST((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
                        - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00)) AS DOUBLE),
                 6) AS kappa
    FROM c
    """,
)
def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa agreement between two cheap heuristic labelers
    ('big order' by value vs 'urgent-or-high' by priority) — the
    inter-annotator-agreement statistic every labeling pipeline reports
    before trusting weak labels. One fact pass to the four exact
    confusion counts (same frame as q_confusion_matrix, different
    second rater), then kappa = (N·agree − Σ row·col) / (N² − Σ
    row·col): numerator and denominator are exact BIGINT products, one
    final IEEE division — engine drift impossible."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.when(
            F.round(F.col("o_totalprice") * 100).cast("long") > 15_000_000, 1
        )
        .otherwise(0)
        .alias("r1"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("r2"),
    )
    c = s.agg(
        F.sum(F.col("r1") * F.col("r2")).cast("long").alias("n11"),
        F.sum(F.col("r1") * (1 - F.col("r2"))).cast("long").alias("n10"),
        F.sum((1 - F.col("r1")) * F.col("r2")).cast("long").alias("n01"),
        F.sum((1 - F.col("r1")) * (1 - F.col("r2")))
        .cast("long")
        .alias("n00"),
    )
    n = F.col("n11") + F.col("n10") + F.col("n01") + F.col("n00")
    chance = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    return c.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(
            (n * (F.col("n11") + F.col("n00")) - chance).cast("double")
            / (n * n - chance).cast("double"),
            6,
        ).alias("kappa"),
    )


@query(
    "q_levene_test",
    """
    WITH s AS (
      SELECT c.c_mktsegment AS seg,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), cnt AS (
      SELECT seg, v, CAST(COUNT(*) AS BIGINT) AS t FROM s GROUP BY 1, 2
    ), cum AS (
      SELECT seg, v, t,
             SUM(t) OVER (PARTITION BY seg ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ci,
             SUM(t) OVER (PARTITION BY seg) AS n
      FROM cnt
    ), med AS (
      SELECT seg, MIN(v) AS m FROM cum
      WHERE ci >= (n + 1) // 2 GROUP BY 1
    ), z AS (
      SELECT s.seg, ABS(s.v - med.m) AS zv
      FROM s JOIN med ON s.seg = med.seg
    ), g AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(zv) AS BIGINT) AS sz,
             SUM(CAST(zv AS DECIMAL(38,0)) * zv) AS szz
      FROM z GROUP BY 1
    ), t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(sz) AS BIGINT) AS szt,
             CAST(SUM(szz) AS DOUBLE) AS szzt,
             CAST(SUM(CAST(ROUND(
               CAST(CAST(sz AS DECIMAL(38,0)) * sz AS DOUBLE) / n, 6)
               AS DECIMAL(38,6))) AS DOUBLE) AS sgb
      FROM g
    )
    SELECT k AS k_groups, nt AS n_total,
           ROUND((sgb - CAST(CAST(szt AS DECIMAL(38,0)) * szt AS DOUBLE) / nt)
                 / (k - 1)
                 / ((szzt - sgb) / (nt - k)), 6) AS f_bf
    FROM t
    """,
)
def q_levene_test(spark, sf_dir):
    """Brown-Forsythe (median-centered Levene) test of variance
    homogeneity across the five market segments — the robust
    prerequisite check for q_anova_f's equal-variance assumption. The
    per-group MEDIAN is the exact lower median picked off the
    per-(segment, value) count frame with a PARTITIONED prefix scan
    (parallel across segments, bounded by the price domain — the fact
    table is never sorted); absolute deviations are exact BIGINTs, and
    the ANOVA-on-deviations F reuses q_anova_f's discipline: cents²
    sums in DECIMAL(38,0), one single-division group term rounded and
    decimal-summed. Two fact passes (median, deviations) — the
    unavoidable cost of an exact median-centered statistic."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    s = (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    cnt = s.groupBy("seg", "v").agg(F.count(F.lit(1)).cast("long").alias("t"))
    wci = (
        Window.partitionBy("seg")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # r14 optimization (guide §2.4): per-segment totals come from a
    # 5-row aggregate broadcast back, not a second whole-partition
    # Window (which buffers every partition's rows a second time in
    # WindowExec); the running sum keeps the one seg-sorted pass.
    n_by_seg = cnt.groupBy("seg").agg(F.sum("t").alias("n"))
    cum = cnt.select(
        "seg",
        "v",
        F.sum("t").over(wci).alias("ci"),
    ).join(F.broadcast(n_by_seg), "seg")
    med = (
        cum.filter(F.col("ci") >= F.expr("(n + 1) DIV 2"))
        .groupBy("seg")
        .agg(F.min("v").alias("m"))
    )
    z = s.join(F.broadcast(med), "seg").select(
        "seg", F.abs(F.col("v") - F.col("m")).alias("zv")
    )
    g = z.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("zv").cast("long").alias("sz"),
        F.sum(F.col("zv").cast("decimal(38,0)") * F.col("zv")).alias("szz"),
    )
    gterm = (
        (F.col("sz").cast("decimal(38,0)") * F.col("sz")).cast("double")
        / F.col("n")
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("sz").cast("long").alias("szt"),
        F.sum("szz").cast("double").alias("szzt"),
        F.sum(F.round(gterm, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sgb"),
    )
    grand = (
        F.col("szt").cast("decimal(38,0)") * F.col("szt")
    ).cast("double") / F.col("nt")
    ssb = F.col("sgb") - grand
    ssw = F.col("szzt") - F.col("sgb")
    return t.select(
        F.col("k").alias("k_groups"),
        F.col("nt").alias("n_total"),
        F.round(
            ssb / (F.col("k") - 1) / (ssw / (F.col("nt") - F.col("k"))), 6
        ).alias("f_bf"),
    )


@query(
    "q_runs_test",
    """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ), dl AS (
      SELECT d, rev - LAG(rev) OVER (ORDER BY d) AS delta FROM d
    ), sg AS (
      SELECT d, CASE WHEN delta > 0 THEN 1 ELSE -1 END AS s
      FROM dl WHERE delta IS NOT NULL AND delta <> 0
    ), r AS (
      SELECT s, CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL
                       OR s <> LAG(s) OVER (ORDER BY d)
                     THEN 1 ELSE 0 END AS newrun
      FROM sg
    ), agg AS (
      SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(newrun) AS BIGINT) AS runs
      FROM r
    )
    SELECT n1 AS n_pos, n2 AS n_neg, runs AS n_runs,
           ROUND((CAST(runs AS DOUBLE)
                  - (CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) + 1.0))
                 / sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) AS DOUBLE)
                        / (CAST((n1 + n2) * (n1 + n2) AS DOUBLE)
                           * (n1 + n2 - 1))), 6) AS z_score
    FROM agg
    """,
)
def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test on the sign of day-over-day revenue
    change — detects serial dependence the mean-based drift queries
    miss (a trending series has too few runs, an oscillating one too
    many). All windows run on the DAILY aggregate frame (bounded by
    the calendar, never by fact rows — the one fact pass is the daily
    rollup). Run count, n⁺, n⁻ are exact integers; the z-score's
    2n₁n₂ products stay in BIGINT (≤ ~10¹³ for a century of days)
    with single IEEE divisions at the end."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    wd = Window.orderBy("d")
    sg = (
        d.select(
            "d", (F.col("rev") - F.lag("rev").over(wd)).alias("delta")
        )
        .filter(F.col("delta").isNotNull() & (F.col("delta") != 0))
        .select("d", F.when(F.col("delta") > 0, 1).otherwise(-1).alias("s"))
    )
    r = sg.select(
        "s",
        F.when(
            F.lag("s").over(wd).isNull() | (F.col("s") != F.lag("s").over(wd)),
            1,
        )
        .otherwise(0)
        .alias("newrun"),
    )
    agg = r.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum("newrun").cast("long").alias("runs"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    two = 2 * n1 * n2
    mu = two.cast("double") / n + F.lit(1.0)
    var = (two * (two - n1 - n2)).cast("double") / (
        (n * n).cast("double") * (n - 1)
    )
    return agg.select(
        n1.alias("n_pos"),
        n2.alias("n_neg"),
        F.col("runs").alias("n_runs"),
        F.round((F.col("runs").cast("double") - mu) / F.sqrt(var), 6).alias(
            "z_score"
        ),
    )


@query(
    "q_jackknife_ratio",
    """
    WITH s AS (
      SELECT n.n_name AS g,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), g AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sx
      FROM s GROUP BY 1
    ), t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(sx) AS BIGINT) AS sxt
      FROM g
    ), ps AS (
      SELECT CAST(ROUND(
               CAST(t.k AS DOUBLE) * (CAST(t.sxt AS DOUBLE) / t.nt)
               - CAST(t.k - 1 AS DOUBLE)
                 * (CAST(t.sxt - g.sx AS DOUBLE) / (t.nt - g.n)),
               9) AS DECIMAL(28,12)) AS p
      FROM g CROSS JOIN t
    ), m AS (
      SELECT CAST(SUM(p) AS DOUBLE) AS sp FROM ps
    ), v AS (
      SELECT CAST(SUM(CAST(ROUND(
               (CAST(ps.p AS DOUBLE) - m.sp / t.k)
               * (CAST(ps.p AS DOUBLE) - m.sp / t.k), 6)
               AS DECIMAL(38,6))) AS DOUBLE) AS sv
      FROM ps CROSS JOIN m CROSS JOIN t
    )
    SELECT t.k AS k_groups,
           ROUND(CAST(t.sxt AS DOUBLE) / t.nt, 6) AS theta_mean_cents,
           ROUND(sqrt(v.sv / CAST(t.k * (t.k - 1) AS DOUBLE)), 6)
             AS jk_se_cents
    FROM t CROSS JOIN v
    """,
)
def q_jackknife_ratio(spark, sf_dir):
    """Delete-one-group jackknife standard error of the mean order
    value — the resampling-free uncertainty estimate for any ratio
    metric (q_bootstrap_ci's deterministic sibling: no replicate
    randomness, k exact leave-one-out recomputations from GROUP SUMS
    alone). Each pseudovalue k·θ − (k−1)·θ₍g₎ is two single IEEE
    divisions of exact BIGINTs, rounded to 9dp and decimal-summed
    (PSI discipline); the deviation squares round to 6dp and decimal-
    sum the same way. The fact table is read once (the per-nation
    rollup); everything after runs as whole-frame WINDOW aggregates
    over the k-row group frame — no 1-row crossJoins, so the plan has
    zero nested-loop joins (plan-census rule) and stays one linear
    pipeline."""
    orders, customer, nation = load_tables(
        spark, sf_dir, "orders", "customer", "nation"
    )
    s = (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("g"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    g = s.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sx"),
    )
    # whole-frame window over the 25-row group frame: every total
    # (k, nt, sxt, later sp) rides along as a column — no 1-row
    # crossJoins, no nested-loop joins in the plan
    wall = Window.partitionBy()
    g2 = g.select(
        "n",
        "sx",
        F.count(F.lit(1)).over(wall).cast("long").alias("k"),
        F.sum("n").over(wall).cast("long").alias("nt"),
        F.sum("sx").over(wall).cast("long").alias("sxt"),
    )
    ps = g2.select(
        "k",
        "nt",
        "sxt",
        F.round(
            F.col("k").cast("double")
            * (F.col("sxt").cast("double") / F.col("nt"))
            - (F.col("k") - 1).cast("double")
            * (
                (F.col("sxt") - F.col("sx")).cast("double")
                / (F.col("nt") - F.col("n"))
            ),
            9,
        )
        .cast("decimal(28,12)")
        .alias("p"),
    )
    ps2 = ps.withColumn("sp", F.sum("p").over(wall).cast("double"))
    dev = F.col("p").cast("double") - F.col("sp") / F.col("k")
    agg = ps2.agg(
        F.max("k").alias("k"),
        F.max("nt").alias("nt"),
        F.max("sxt").alias("sxt"),
        F.sum(F.round(dev * dev, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sv"),
    )
    return agg.select(
        F.col("k").alias("k_groups"),
        F.round(F.col("sxt").cast("double") / F.col("nt"), 6).alias(
            "theta_mean_cents"
        ),
        F.round(
            F.sqrt(
                F.col("sv") / (F.col("k") * (F.col("k") - 1)).cast("double")
            ),
            6,
        ).alias("jk_se_cents"),
    )


@query(
    "q_monetary_unit_sample",
    """
    WITH s AS (
      SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    ), c AS (
      SELECT k, v,
             SUM(v) OVER (ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM s
    ), t AS (
      SELECT GREATEST(CAST(SUM(v) AS BIGINT) // 400, 1) AS iv FROM s
    ), p AS (
      SELECT c.k, c.v, c.cum, t.iv, t.iv // 2 AS off
      FROM c CROSS JOIN t
    ), sel AS (
      SELECT k, v, iv,
             CASE WHEN (cum - 1 - off + 2 * iv) // iv
                       > (cum - v - 1 - off + 2 * iv) // iv
                  THEN 1 ELSE 0 END AS hit
      FROM p
    )
    SELECT CAST(SUM(hit) AS BIGINT) AS n_sampled,
           CAST(SUM(hit * v) AS BIGINT) AS sampled_cents,
           CAST(SUM(CASE WHEN v >= iv THEN 1 ELSE 0 END) AS BIGINT)
             AS n_certainty,
           CAST(SUM(CASE WHEN v >= iv AND hit = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_certainty_missed,
           CAST(MIN(iv) AS BIGINT) AS interval_cents
    FROM sel
    """,
)
def q_monetary_unit_sample(spark, sf_dir):
    """Monetary-unit (PPS systematic) audit sampling: one sampling
    point every total/400 cents of cumulative value, deterministic
    offset = interval/2 — selection probability proportional to order
    value, and every order ≥ one interval is selected with CERTAINTY
    (n_certainty_missed is a structural zero the oracle re-proves).
    The global running sum comes from operators/ordering.
    global_running_sum — range-partition + per-partition sums +
    broadcast offsets, the same two-level scan as q_global_index, so
    NO single-partition window ever sees the fact table. Selection is
    pure integer arithmetic: hit ⇔ the cumulative interval index
    (floor-div, args kept positive so Spark DIV == DuckDB //) jumps
    across the row."""
    from ..operators.ordering import global_running_sum

    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    c = global_running_sum(s, [F.asc("k")], "v", "cum")
    t = s.agg(
        F.greatest(F.expr("sum(v) DIV 400"), F.lit(1))
        .cast("long")
        .alias("iv")
    )
    p = c.crossJoin(F.broadcast(t)).withColumn(
        "off", F.expr("iv DIV 2")
    )
    sel = p.withColumn(
        "hit",
        F.when(
            F.expr(
                "(cum - 1 - off + 2 * iv) DIV iv"
                " > (cum - v - 1 - off + 2 * iv) DIV iv"
            ),
            1,
        ).otherwise(0),
    )
    return sel.agg(
        F.sum("hit").cast("long").alias("n_sampled"),
        F.sum(F.col("hit") * F.col("v")).cast("long").alias("sampled_cents"),
        F.sum(F.when(F.col("v") >= F.col("iv"), 1).otherwise(0))
        .cast("long")
        .alias("n_certainty"),
        F.sum(
            F.when((F.col("v") >= F.col("iv")) & (F.col("hit") == 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_certainty_missed"),
        F.min("iv").cast("long").alias("interval_cents"),
    )


# ---------------------------------------------------------------------------
# phase 48: experimentation + sequential drift + corpus compressibility
# ---------------------------------------------------------------------------


@query(
    "q_cuped",
    """
    WITH per AS (
      SELECT c.c_custkey,
             CAST(SUM(CASE WHEN o.o_orderdate < TIMESTAMP '1996-01-01'
                           THEN CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN o.o_orderdate >= TIMESTAMP '1996-01-01'
                           THEN CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
      FROM per
    )
    SELECT n AS n_units,
           ROUND(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                 / CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE),
                 6) AS theta,
           ROUND((CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                  / sqrt(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx
                              AS DOUBLE)
                         * CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy
                                AS DOUBLE)))
                 * (CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                    / sqrt(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx
                                AS DOUBLE)
                           * CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy
                                  AS DOUBLE)))
                 * 100.0, 6) AS var_reduction_pct
    FROM s
    """,
)
def q_cuped(spark, sf_dir):
    """CUPED covariate adjustment for experiments: θ = cov(pre, post)/
    var(pre) over per-customer pre-1996 vs post-1996 spend, plus the
    variance-reduction percentage ρ²·100 the adjustment buys — the
    modern A/B prerequisite alongside q_ab_test / q_ab_srm_check /
    q_did. One fact pass builds the per-unit (x, y) rollup (LEFT join
    keeps order-less customers as honest zeros); cross-moments Σxy,
    Σx², Σy² accumulate as exact DECIMAL(38,0) so the shuffle order
    can't move a bit, and n·Σxy − Σx·Σy style contrasts stay exact
    until one final cast-to-double + division. No per-unit data ever
    reaches the driver."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    cut = F.lit("1996-01-01").cast("timestamp")
    per = (
        customer.join(
            orders, orders.o_custkey == customer.c_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(
            F.sum(
                F.when(
                    F.col("o_orderdate") < cut,
                    F.round(F.col("o_totalprice") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    F.col("o_orderdate") >= cut,
                    F.round(F.col("o_totalprice") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    s = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    cov = (n * F.col("sxy") - F.col("sx").cast("decimal(38,0)") * F.col("sy")).cast(
        "double"
    )
    vx = (n * F.col("sxx") - F.col("sx").cast("decimal(38,0)") * F.col("sx")).cast(
        "double"
    )
    vy = (n * F.col("syy") - F.col("sy").cast("decimal(38,0)") * F.col("sy")).cast(
        "double"
    )
    rho = cov / F.sqrt(vx * vy)
    return s.select(
        n.alias("n_units"),
        F.round(cov / vx, 6).alias("theta"),
        F.round(rho * rho * F.lit(100.0), 6).alias("var_reduction_pct"),
    )


_PH_DELTA_MICRO = 1_000 * 1_000_000  # δ = 1000 cents, in micro-cents
_PH_LAMBDA_MICRO = 500_000 * 1_000_000  # λ = 500k cents, in micro-cents


@query(
    "q_page_hinkley",
    f"""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ), x AS (
      SELECT d, (rev * 1000000) // c AS xu FROM d
    ), pm AS (
      SELECT d, xu,
             SUM(xu) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pxu,
             ROW_NUMBER() OVER (ORDER BY d) AS t
      FROM x
    ), term AS (
      SELECT d, xu - (pxu // t) - {_PH_DELTA_MICRO} AS tu FROM pm
    ), m AS (
      SELECT d,
             SUM(tu) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
      FROM term
    ), ph AS (
      SELECT d,
             mt - MIN(mt) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dt
      FROM m
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(dt) AS BIGINT) AS ph_stat_micro,
           CAST(CASE WHEN MAX(dt) > {_PH_LAMBDA_MICRO}
                     THEN 1 ELSE 0 END AS BIGINT) AS alarm,
           MIN(CASE WHEN dt = (SELECT MAX(dt) FROM ph) THEN d END)
             AS peak_day
    FROM ph
    """,
)
def q_page_hinkley(spark, sf_dir):
    """Page-Hinkley sequential change detector on the daily mean order
    value — the online CUSUM-family alarm (q_cusum tracks a known
    reference mean; PH tracks the RUNNING mean, so it needs no
    baseline). The r9 driver red-celled the old double/decimal-mixed
    form (ROUND(…,6) on a ~1e8 value rounds past portable double
    precision, and DuckDB's wide-decimal→double cast is not correctly
    rounded), so the statistic now never leaves the integer domain —
    the q_cusum discipline: daily mean in micro-cents by BIGINT floor
    division (operands nonnegative, so Spark's truncating `div` equals
    DuckDB's flooring `//`), exact BIGINT prefix sums for the running
    mean and for m_t, and the alarm max(m_t − min m) emitted as
    ph_stat_micro BIGINT. Worst-case magnitude ~1e14 micro-cents ×
    ~2.4k days ≈ 2.4e17 < 2^63 — no overflow at any test SF. All
    windows run over the calendar-bounded daily frame; the fact table
    sees exactly one grouped pass."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev"),
    )
    x = d.select("d", F.expr("(rev * 1000000) div c").alias("xu"))
    wd = Window.orderBy("d")
    wcum = wd.rowsBetween(Window.unboundedPreceding, 0)
    pm = x.select(
        "d",
        "xu",
        F.sum("xu").over(wcum).alias("pxu"),
        F.row_number().over(wd).alias("t"),
    )
    term = pm.select(
        "d",
        (
            F.col("xu")
            - F.expr("pxu div t")
            - F.lit(_PH_DELTA_MICRO)
        ).alias("tu"),
    )
    m = term.select("d", F.sum("tu").over(wcum).alias("mt"))
    ph = m.select(
        "d",
        (F.col("mt") - F.min("mt").over(wcum)).alias("dt"),
    )
    mx = ph.agg(F.max("dt").alias("mx"))
    return (
        ph.join(F.broadcast(mx))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.max("dt").cast("long").alias("ph_stat_micro"),
            F.max(
                F.when(
                    F.col("dt") > F.lit(_PH_LAMBDA_MICRO), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("alarm"),
            F.min(
                F.when(F.col("dt") == F.col("mx"), F.col("d"))
            ).alias("peak_day"),
        )
    )


@query(
    "q_smd_balance",
    """
    WITH oc AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS ocnt
      FROM orders GROUP BY 1
    ), u AS (
      SELECT n.n_name,
             CASE WHEN c.c_acctbal > 0 THEN 1 ELSE 0 END AS tr,
             COALESCE(oc.ocnt, 0) AS x
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      LEFT JOIN oc ON oc.o_custkey = c.c_custkey
    ), g AS (
      SELECT n_name,
             CAST(SUM(tr) AS BIGINT) AS n1,
             CAST(SUM(1 - tr) AS BIGINT) AS n0,
             CAST(SUM(tr * x) AS BIGINT) AS s1,
             CAST(SUM((1 - tr) * x) AS BIGINT) AS s0,
             CAST(SUM(tr * x * x) AS BIGINT) AS q1,
             CAST(SUM((1 - tr) * x * x) AS BIGINT) AS q0
      FROM u GROUP BY 1
    )
    SELECT n_name, n1 AS n_treat, n0 AS n_ctrl,
           ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
                 / sqrt((CAST(n1 * q1 - s1 * s1 AS DOUBLE)
                           / CAST(n1 * (n1 - 1) AS DOUBLE)
                         + CAST(n0 * q0 - s0 * s0 AS DOUBLE)
                           / CAST(n0 * (n0 - 1) AS DOUBLE)) / 2.0),
                 6) AS smd_orders
    FROM g
    WHERE n1 >= 2 AND n0 >= 2
    ORDER BY n_name
    """,
)
def q_smd_balance(spark, sf_dir):
    """Standardized mean difference (Cohen's d with pooled SD) of
    order counts between positive- and negative-balance customers,
    per nation stratum — the covariate-balance audit run before any
    observational comparison (the diagnostics half of propensity
    matching; |SMD| > 0.1 flags imbalance). One conditional-sum pass
    per stratum gives exact n/Σx/Σx² per arm (order counts are small
    integers — BIGINT throughout); mean and variance come out as
    single IEEE divisions of those exact sums. Strata with an arm
    below 2 units are excluded on BOTH sides (variance undefined) —
    deterministic, no NULL-vs-NaN edge."""
    orders, customer, nation = load_tables(
        spark, sf_dir, "orders", "customer", "nation"
    )
    oc = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("ocnt")
    )
    u = (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .join(oc, oc.o_custkey == customer.c_custkey, "left")
        .select(
            "n_name",
            F.when(F.col("c_acctbal") > 0, 1).otherwise(0).alias("tr"),
            F.coalesce(F.col("ocnt"), F.lit(0)).alias("x"),
        )
    )
    g = u.groupBy("n_name").agg(
        F.sum("tr").cast("long").alias("n1"),
        F.sum(1 - F.col("tr")).cast("long").alias("n0"),
        F.sum(F.col("tr") * F.col("x")).cast("long").alias("s1"),
        F.sum((1 - F.col("tr")) * F.col("x")).cast("long").alias("s0"),
        F.sum(F.col("tr") * F.col("x") * F.col("x"))
        .cast("long")
        .alias("q1"),
        F.sum((1 - F.col("tr")) * F.col("x") * F.col("x"))
        .cast("long")
        .alias("q0"),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    v1 = (n1 * F.col("q1") - F.col("s1") * F.col("s1")).cast("double") / (
        n1 * (n1 - 1)
    ).cast("double")
    v0 = (n0 * F.col("q0") - F.col("s0") * F.col("s0")).cast("double") / (
        n0 * (n0 - 1)
    ).cast("double")
    smd = (
        F.col("s1").cast("double") / n1 - F.col("s0").cast("double") / n0
    ) / F.sqrt((v1 + v0) / F.lit(2.0))
    return (
        g.filter((n1 >= 2) & (n0 >= 2))
        .select(
            "n_name",
            n1.alias("n_treat"),
            n0.alias("n_ctrl"),
            F.round(smd, 6).alias("smd_orders"),
        )
        .orderBy("n_name")
    )


@query("q_gzip_ratio")
def q_gzip_ratio(spark, sf_dir):
    """Per-source zlib compressibility census of the document corpus
    (operators/quality.compression_ratio): mean compression ratio plus
    both curation tails — near-1 ratios (high-entropy junk) and low
    ratios (templated/repetitive boilerplate, the q_repetition signal
    seen through DEFLATE's eyes). Arrow-batched pandas_udf computes
    compressed lengths executor-side; only the per-source aggregate
    reaches the driver. Rows-only by design (DuckDB cannot deflate);
    engine-vs-zlib parity is pinned exactly in pytest."""
    from ..operators.quality import compression_ratio

    docs = load_table(spark, sf_dir, "documents")
    r = compression_ratio(docs, "text").withColumn(
        "ratio",
        F.col("gzip_bytes").cast("double")
        / F.greatest(F.col("raw_bytes"), F.lit(1)).cast("double"),
    )
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("ratio"), 6).alias("mean_ratio"),
            F.sum(F.when(F.col("ratio") > 0.9, 1).otherwise(0))
            .cast("long")
            .alias("n_incompressible"),
            F.sum(F.when(F.col("ratio") < 0.3, 1).otherwise(0))
            .cast("long")
            .alias("n_boilerplate"),
        )
        .orderBy("source")
    )
