"""Round-6 phase-29 queries: hash-certified fixed-point PageRank, and
the corpus-governance ops a training-data
pipeline publishes with every dataset release — the datasheet
(dataset card), term-scrub accounting, cross-source shingle
contamination, vocabulary growth, n-gram coverage — plus the
customer-LTV cohort rollup warehouse classic.

Engine-parity notes carried from earlier phases: every oracle SUM over
integers is CAST AS BIGINT (DuckDB HUGEINT → pandas float64 mismatch),
integer division is ``//`` in DuckDB / ``div`` in Spark with explicit
parens so associativity matches, and the PageRank iterate follows the
q_markov_stationary fixed-point pattern (ppm-quantized BIGINT
arithmetic — floating-point power iteration can never hash-match across
engines because parallel double sums drift in the last ulp).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.compat import exact_sum, sql_exact_sum
from ..io import load_table, load_tables, scratch_dir
from ..session import checkpoint_round
from .registry import query
from .roundfive_queries import _COPURCHASE_EDGES, _copurchase_edges

# ---------------------------------------------------------------------------
# Fixed-point integer PageRank (hash-certified iteration)
# ---------------------------------------------------------------------------

_PR_TOTAL = 100_000_000
_PR_DAMP_PPM = 850_000  # 0.85 in parts-per-million
_PR_ROUNDS = 8


def _sql_int_pagerank(seed: str, col: str, where: str = "") -> str:
    """DuckDB chained-CTE twin of :func:`_int_pagerank`: restart mass
    goes to the nodes where the SQL predicate ``seed`` holds (a format
    string over ``{node}``); the output columns are ``{col}_scaled`` and
    ``{col}``, and ``where`` filters the last round."""
    steps = [
        f"""
    r0 AS (
      SELECT node,
             CAST(CASE WHEN {seed.format(node="node")}
                  THEN (SELECT v FROM seedv) ELSE 0 END AS BIGINT) AS v
      FROM nodes
    )"""
    ]
    for i in range(1, _PR_ROUNDS + 1):
        steps.append(f"""
    r{i} AS (
      SELECT n.node,
             CAST(CASE WHEN {seed.format(node="n.node")}
                  THEN (SELECT b FROM seedv) ELSE 0 END
                  + COALESCE(SUM(((r.v * {_PR_DAMP_PPM}) // 1000000)
                                 // w.deg), 0) AS BIGINT) AS v
      FROM nodes n
      LEFT JOIN ws w ON w.dst = n.node
      LEFT JOIN r{i - 1} r ON r.node = w.src
      GROUP BY 1
    )""")
    return f"""
    WITH {_COPURCHASE_EDGES},
    edges AS (SELECT DISTINCT src, dst FROM sym),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nseed AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
      WHERE {seed.format(node="node")}
    ),
    seedv AS (
      SELECT {_PR_TOTAL} // n AS v,
             (({_PR_TOTAL} // n) * 150000) // 1000000 AS b
      FROM nseed
    ),
    outdeg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1
    ),
    ws AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN outdeg d USING (src)),
    {",".join(steps)}
    SELECT node, v AS {col}_scaled,
           ROUND(CAST(v AS DOUBLE) / (SELECT SUM(v) FROM r{_PR_ROUNDS}), 6)
             AS {col}
    FROM r{_PR_ROUNDS}{where}
    """


def _int_pagerank(spark, sf_dir, is_seed):
    """(node, v): the integer power iteration behind q_pagerank_exact and
    q_ppr over the symmetric co-purchase graph. Rank mass is quantized
    to 1e8 BIGINTs, the damping factor to ppm, and each of the
    ``_PR_ROUNDS`` sweeps is a floor-divided gather, so every round is
    bit-identical in any engine and summation order. The start vector
    and the restart term (0.15 of the mass) go to the nodes where the
    boolean column ``is_seed`` holds, split evenly; with every node a
    seed this is plain PageRank. The graph has no dangling nodes, so
    mass leaks only through floor division.

    Physical shape: the (src, dst, deg) edge list and the node set are
    eager checkpoints computed once (a lazy node distinct re-ran an
    edge-grain shuffle inside every round's job; a
    ``repartition("src").persist()`` layout measured 2.3× slower on
    this loop, OPTIMIZATION_r14), and each round is one key-join of the
    rank vector against the edge list plus a sum, checked in with
    ``checkpoint_round`` so lineage stays flat."""
    canon = _copurchase_edges(spark, sf_dir).select("src", "dst")
    # _copurchase_edges is canonical a<b; the walk runs over BOTH
    # directions (the oracle's sym CTE)
    edges = canon.unionByName(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    outdeg = edges.groupBy("src").agg(
        F.count("*").cast("long").alias("deg")
    )
    ws = edges.join(outdeg, "src").localCheckpoint(eager=True)
    nodes = (
        ws.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_seeds = nodes.filter(is_seed).count()  # bounded: |sampled parts|
    seed_v = _PR_TOTAL // n_seeds
    seed_base = (seed_v * 150_000) // 1_000_000
    v = nodes.select(
        "node",
        F.when(is_seed, F.lit(seed_v)).otherwise(0).cast("long").alias("v"),
    ).localCheckpoint(eager=True)
    for _ in range(_PR_ROUNDS):
        contrib = (
            v.join(ws, v.node == ws.src)
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"((v * {_PR_DAMP_PPM}) div 1000000) div deg"
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("cs"))
        )
        v = checkpoint_round(
            nodes.join(contrib, "node", "left").select(
                "node",
                (
                    F.when(is_seed, F.lit(seed_base)).otherwise(0)
                    + F.coalesce(F.col("cs"), F.lit(0))
                )
                .cast("long")
                .alias("v"),
            ),
            replaces=v,
        )
    return v


@query("q_pagerank_exact", _sql_int_pagerank("TRUE", "pr"))
def q_pagerank_exact(spark, sf_dir):
    """Hash-certified twin of the rows-only floating-point q_pagerank
    (analytics_queries.py): PageRank over the co-purchase part graph by
    EIGHT fixed-point power sweeps (:func:`_int_pagerank` with every
    node a seed), every round certified against the DuckDB chained-CTE
    twin (the q_markov_stationary proof pattern applied to the damped
    web-graph recurrence). The symmetric co-purchase graph has no
    dangling nodes, so the teleport term is the constant
    (0.15 · total/N) per node."""
    v = _int_pagerank(spark, sf_dir, F.lit(True))
    tot = v.agg(F.sum("v").alias("tv"))
    return v.join(F.broadcast(tot)).select(
        "node",
        F.col("v").alias("pr_scaled"),
        F.round(F.col("v").cast("double") / F.col("tv"), 6).alias("pr"),
    )


# ---------------------------------------------------------------------------
# Dataset card (corpus datasheet)
# ---------------------------------------------------------------------------


@query(
    "q_dataset_card",
    """
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
             AS total_tokens,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 2) AS avg_chars,
           ROUND(quantile_cont(n_chars, 0.5), 1) AS med_chars
    FROM documents GROUP BY 1, 2
    """,
)
def q_dataset_card(spark, sf_dir):
    """Per-(source, lang) corpus datasheet — the summary table every
    dataset release ships (doc counts, char/token volumes, central
    tendency): one map-side-combined aggregation pass, token counts as
    JVM split+size expressions (no Python). Median is the exact
    interpolated percentile (matches quantile_cont — the
    q_rolling_median parity precedent)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.size(T.tokens("text"))).cast("long").alias("total_tokens"),
        F.round(
            F.sum("n_chars").cast("double") / F.count("*"), 2
        ).alias("avg_chars"),
        F.round(F.percentile("n_chars", 0.5), 1).alias("med_chars"),
    )


# ---------------------------------------------------------------------------
# Term-scrub accounting (the PII-redaction pipeline shape)
# ---------------------------------------------------------------------------

_SCRUB_TERMS = ("key", "hash", "value")  # stand-in sensitive-term list
_MASK_LEN = 6  # len('[TERM]')


@query(
    "q_pii_scrub",
    f"""
    WITH per_doc AS (
      SELECT source,
             {" + ".join(
                 f"len(list_filter(string_split(text, ' '),"
                 f" t -> t = '{w}'))" for w in _SCRUB_TERMS
             )} AS hits,
             {" + ".join(
                 f"len(list_filter(string_split(text, ' '),"
                 f" t -> t = '{w}')) * {len(w)}" for w in _SCRUB_TERMS
             )} AS hit_chars,
             n_chars
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_hits,
           CAST(SUM(hits) AS BIGINT) AS total_hits,
           CAST(SUM(n_chars - hit_chars + hits * {_MASK_LEN}) AS BIGINT)
             AS masked_chars
    FROM per_doc GROUP BY 1
    """,
)
def q_pii_scrub(spark, sf_dir):
    """Sensitive-term scrub ACCOUNTING per source — the audit row a
    redaction pipeline emits before committing a masked corpus (how
    many documents were touched, how many tokens masked, what the
    masked corpus size will be). The fixture term list stands in for a
    real PII lexicon; the op shape (token-membership hit counts folded
    into size deltas, all JVM array expressions) is what scales —
    counting via token filters rather than regex keeps the arithmetic
    engine-exact and sidesteps regex-dialect drift."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")

    def term_eq(w):
        # NOT `lambda t, w=w: ...` — F.filter dispatches on lambda
        # ARITY, so a default arg makes it pass (element, index) and
        # the index lands in w
        return lambda t: t == w

    hits = None
    hit_chars = None
    for w in _SCRUB_TERMS:
        h = F.size(F.filter(toks, term_eq(w)))
        hits = h if hits is None else hits + h
        hc = F.size(F.filter(toks, term_eq(w))) * len(w)
        hit_chars = hc if hit_chars is None else hit_chars + hc
    per_doc = docs.select(
        "source",
        hits.alias("hits"),
        hit_chars.alias("hit_chars"),
        "n_chars",
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_with_hits"),
        F.sum("hits").cast("long").alias("total_hits"),
        F.sum(
            F.col("n_chars") - F.col("hit_chars")
            + F.col("hits") * _MASK_LEN
        )
        .cast("long")
        .alias("masked_chars"),
    )


# ---------------------------------------------------------------------------
# Cross-source shingle contamination
# ---------------------------------------------------------------------------


@query(
    "q_cross_source_overlap",
    f"""
    WITH docs AS (
      SELECT source, {T.sql_shingles("string_split(text, ' ')", 3)} AS sh
      FROM documents WHERE doc_id < 1000
    ), e AS (
      SELECT DISTINCT source, unnest(sh) AS s FROM docs
    ), sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM e a JOIN e b ON a.s = b.s AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_common,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
    """,
)
def q_cross_source_overlap(spark, sf_dir):
    """Pairwise 3-gram shingle Jaccard BETWEEN SOURCES — the
    split-contamination matrix (is source A's content leaking into
    source B?) that decontamination pipelines compute before assigning
    train/eval splits by source. Same inverted-index join shape as
    q_ngram_jaccard but at source grain: the distinct (source, shingle)
    edge list is the only shuffled payload, per-shingle fan-out is
    bounded by |sources| (≤ C(|sources|,2) pairs per shingle), and
    degrees broadcast back onto the pair counts."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 1000
    )
    e = (
        docs.select(
            "source", F.explode(T.shingles(T.tokens("text"), 3)).alias("s")
        )
        .distinct()
        .localCheckpoint(eager=False)  # reused by sizes + both join sides
    )
    sizes = e.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = e.select(F.col("source").alias("src_a"), "s")
    b = e.select(F.col("source").alias("src_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary growth (type-token ratio per source)
# ---------------------------------------------------------------------------


@query(
    "q_vocab_growth",
    """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT t) AS BIGINT) AS n_types,
           ROUND(CAST(COUNT(DISTINCT t) AS DOUBLE) / COUNT(*), 6) AS ttr
    FROM toks GROUP BY 1
    """,
)
def q_vocab_growth(spark, sf_dir):
    """Vocabulary size vs token volume per source (type-token ratio —
    the Heaps'-law scatter a corpus-quality report plots; a source
    whose TTR collapses is template/boilerplate-heavy and a dedup
    candidate). Distinct-within-group runs as the standard two-phase
    aggregate: partial per-partition (source, token) dedup before the
    one exchange, then count — token strings cross the wire once per
    distinct (source, token), not once per occurrence."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(T.tokens("text")).alias("t")
    )
    return toks.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.countDistinct("t").cast("long").alias("n_types"),
        F.round(
            F.countDistinct("t").cast("double") / F.count("*"), 6
        ).alias("ttr"),
    )


# ---------------------------------------------------------------------------
# n-gram coverage curve
# ---------------------------------------------------------------------------


@query(
    "q_ngram_coverage",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks
    ), cnt AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1
    ), top AS (
      SELECT t, c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rk
      FROM cnt QUALIFY rk <= 100
    ), buckets AS (
      SELECT CAST((rk + 9) // 10 AS BIGINT) AS bucket,
             CAST(SUM(c) AS BIGINT) AS bucket_occ
      FROM top GROUP BY 1
    )
    SELECT bucket, bucket_occ,
           CAST(SUM(bucket_occ) OVER (ORDER BY bucket) AS BIGINT)
             AS cum_occ,
           ROUND(CAST(SUM(bucket_occ) OVER (ORDER BY bucket) AS DOUBLE)
                 / (SELECT n FROM tot), 6) AS cum_share
    FROM buckets
    """,
)
def q_ngram_coverage(spark, sf_dir):
    """Coverage curve of the top-100 unigrams in rank-decile buckets:
    what share of ALL token occurrences the k most frequent types
    cover — the curve that sizes a tokenizer vocabulary or a stopword
    list. Scale shape: one token-count aggregate (map-side combined),
    a top-100 TakeOrdered (never a global sort of the vocabulary), and
    the 10-row bucket frame finishes on whatever single task — the
    heavy lifting is all in the first aggregate. Deterministic
    tie-break (count DESC, token) keeps rank assignment engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokens("text")).alias("t"))
    toks = toks.localCheckpoint(eager=False)  # reused: total + counts
    tot = toks.agg(F.count("*").cast("long").alias("n"))
    cnt = toks.groupBy("t").agg(F.count("*").cast("long").alias("c"))
    top = (
        cnt.orderBy(F.col("c").desc(), "t")
        .limit(100)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), "t")
            ),
        )
    )
    buckets = top.groupBy(
        F.expr("(rk + 9) div 10").cast("long").alias("bucket")
    ).agg(F.sum("c").cast("long").alias("bucket_occ"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return buckets.join(F.broadcast(tot)).select(
        "bucket",
        "bucket_occ",
        F.sum("bucket_occ").over(w).cast("long").alias("cum_occ"),
        F.round(
            F.sum("bucket_occ").over(w).cast("double") / F.col("n"), 6
        ).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# Customer LTV cohort rollup
# ---------------------------------------------------------------------------


@query(
    "q_customer_ltv",
    f"""
    WITH first_order AS (
      SELECT o_custkey AS cust,
             CAST(MIN(EXTRACT(year FROM o_orderdate)) AS BIGINT)
               AS cohort_yr
      FROM orders GROUP BY 1
    ), rev AS (
      SELECT o_custkey AS cust,
             {sql_exact_sum("o_totalprice")} AS ltv
      FROM orders GROUP BY 1
    )
    SELECT f.cohort_yr, c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CAST(r.ltv AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS total_rev,
           ROUND(CAST(SUM(CAST(r.ltv AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 2) AS avg_ltv
    FROM first_order f
    JOIN rev r ON f.cust = r.cust
    JOIN customer c ON c.c_custkey = f.cust
    GROUP BY 1, 2
    """,
)
def q_customer_ltv(spark, sf_dir):
    """Customer lifetime value by acquisition cohort × market segment —
    the retention-economics rollup (which cohorts/segments pay back).
    One orders pass produces BOTH the cohort year and the per-customer
    revenue (same groupBy key — Catalyst collapses the two CTE aggs
    into one when expressed as a single agg here), then the slim
    per-customer frame joins the customer dim. Decimal-exact revenue
    sums keep cross-engine cents identical (the exact_sum discipline)."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.min(F.year("o_orderdate")).cast("long").alias("cohort_yr"),
        exact_sum("o_totalprice").alias("ltv"),
    )
    return (
        per_cust.join(
            customer, per_cust.cust == customer.c_custkey
        )
        .groupBy("cohort_yr", F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(
                exact_sum(F.col("ltv")), 2
            ).alias("total_rev"),
            F.round(
                exact_sum(F.col("ltv")) / F.count("*"), 2
            ).alias("avg_ltv"),
        )
    )


# ---------------------------------------------------------------------------
# Phase 30: SCD2 point-in-time enrichment, portable reservoir sampling,
# key-skew audit, right-to-be-forgotten audit, embedding-norm audit
# ---------------------------------------------------------------------------


@query(
    "q_scd2_asof_enrich",
    f"""
    WITH dim AS (
      SELECT c_custkey AS cust, c_mktsegment AS seg, 1 AS version,
             CAST('1900-01-01' AS DATE) AS valid_from,
             CAST('1994-01-01' AS DATE)
               + (c_custkey % 1461) * INTERVAL 1 DAY AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, c_mktsegment || '+', 2,
             CAST('1994-01-01' AS DATE)
               + (c_custkey % 1461) * INTERVAL 1 DAY,
             CAST('9999-12-31' AS DATE)
      FROM customer
    )
    SELECT d.version,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND({sql_exact_sum("o.o_totalprice")}, 2) AS revenue
    FROM orders o
    JOIN dim d ON d.cust = o.o_custkey
              AND CAST(o.o_orderdate AS DATE) >= d.valid_from
              AND CAST(o.o_orderdate AS DATE) < d.valid_to
    GROUP BY 1, 2
    """,
)
def q_scd2_asof_enrich(spark, sf_dir):
    """Point-in-time (as-of) enrichment against an SCD2 dimension: each
    order picks the dimension VERSION that was valid on its order date
    — the join every warehouse does against q_scd2_merge's output, and
    the one naive equi-joins silently get wrong (joining current-state
    attributes onto historical facts). The two-version dim is derived
    deterministically from customer (version flip at a per-key date),
    so the oracle certifies the interval-membership join row-for-row.
    Physical posture: the dim (2 rows/key) BROADCASTS; the interval
    predicate rides the broadcast-hash-join condition as a residual
    filter on the key-matched candidates (2 per probe row — never a
    range-explosion), so the fact side streams map-side only."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    split = F.date_add(
        F.lit("1994-01-01").cast("date"),
        (F.col("c_custkey") % 1461).cast("int"),
    )
    v1 = customer.select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(1).alias("version"),
        F.lit("1900-01-01").cast("date").alias("valid_from"),
        split.alias("valid_to"),
    )
    v2 = customer.select(
        F.col("c_custkey").alias("cust"),
        F.concat(F.col("c_mktsegment"), F.lit("+")).alias("seg"),
        F.lit(2).alias("version"),
        split.alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    od = F.to_date("o_orderdate")
    enriched = orders.join(
        F.broadcast(dim),
        (orders.o_custkey == dim.cust)
        & (od >= dim.valid_from)
        & (od < dim.valid_to),
    )
    return enriched.groupBy(
        "version", F.year("o_orderdate").cast("long").alias("yr")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(exact_sum("o_totalprice"), 2).alias("revenue"),
    )


_RES_KEY_SQL = (
    "md5(l_orderkey || '-' || l_linenumber || '-' || l_partkey || '-' "
    "|| l_suppkey || '-' || CAST(l_quantity AS BIGINT))"
)


@query(
    "q_reservoir_sample",
    f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY {_RES_KEY_SQL}) AS BIGINT)
             AS rk,
           l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           l_quantity
    FROM lineitem
    ORDER BY {_RES_KEY_SQL}
    LIMIT 256
    """,
)
def q_reservoir_sample(spark, sf_dir):
    """Fixed-size uniform sample as a PORTABLE bottom-k by md5 rank —
    the distributed equivalent of reservoir sampling (mergeable: the
    bottom-256 of a union is the bottom-256 of each shard's bottom-256,
    so shards sample independently and a tiny merge finishes — exactly
    how a 100 TB table yields a 256-row sample without a global
    shuffle). Spark's plan is a TakeOrderedAndProject on the hash rank:
    per-partition top-k heaps + one driver merge, never a full sort.
    md5 keying makes the sample deterministic and engine-portable — the
    sampled ROWS hash-match the oracle, not just the sample size."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    # the hash key covers enough fields to be UNIQUE per row:
    # (l_orderkey, l_linenumber) alone has fixture duplicates, and md5
    # ties make the rank/boundary selection engine-ambiguous
    keyed = lineitem.select(
        F.md5(
            F.concat_ws(
                "-",
                F.col("l_orderkey"),
                F.col("l_linenumber"),
                F.col("l_partkey"),
                F.col("l_suppkey"),
                F.col("l_quantity").cast("long"),
            )
        ).alias("hx"),
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "l_quantity",
    )
    w = Window.orderBy("hx")
    return (
        keyed.orderBy("hx")
        .limit(256)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .select("rk", "l_orderkey", "l_linenumber", "l_quantity")
    )


def _sql_skew_branch(table: str, key: str) -> str:
    return f"""
    SELECT '{key}' AS keyspace,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_freq,
           ROUND(quantile_cont(c, 0.5), 1) AS p50_freq,
           ROUND(CAST(MAX(c) AS DOUBLE) / quantile_cont(c, 0.5), 2)
             AS skew_ratio,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_share
    FROM (SELECT {key}, CAST(COUNT(*) AS BIGINT) AS c
          FROM {table} GROUP BY 1)
    """


@query(
    "q_key_skew_audit",
    " UNION ALL ".join(
        _sql_skew_branch(t, k)
        for t, k in (
            ("orders", "o_custkey"),
            ("lineitem", "l_partkey"),
            ("events", "user_id"),
        )
    ),
)
def q_key_skew_audit(spark, sf_dir):
    """Join-key skew audit across the three hot key families — the
    measurement behind every salting / AQE-skew-join decision (max
    key frequency, its ratio to the median, and the hottest key's
    share of all rows). Each branch is one map-side-combined count
    aggregate over a single column (column pruning reaches the scan)
    plus a tiny stats pass over the per-key counts; the three branches
    union as independent jobs. This is q_partition_skew's logical-key
    sibling: that one censuses PHYSICAL partitions rows-only, this one
    is the engine-portable logical audit the planner actually needs."""

    def branch(table, key):
        df = load_table(spark, sf_dir, table)
        cnt = df.groupBy(key).agg(F.count("*").cast("long").alias("c"))
        return cnt.agg(
            F.lit(key).alias("keyspace"),
            F.count("*").cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_freq"),
            F.round(F.percentile("c", 0.5), 1).alias("p50_freq"),
            F.round(
                F.max("c").cast("double") / F.percentile("c", 0.5), 2
            ).alias("skew_ratio"),
            F.round(
                F.max("c").cast("double") / F.sum("c"), 6
            ).alias("top_share"),
        )

    return (
        branch("orders", "o_custkey")
        .unionByName(branch("lineitem", "l_partkey"))
        .unionByName(branch("events", "user_id"))
    )


@query(
    "q_gdpr_delete_audit",
    """
    WITH subjects AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 997 = 0
    ), del_orders AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM subjects)
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM subjects) AS n_subjects,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM del_orders) AS n_orders,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
       WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
        AS n_lineitems,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM events
       WHERE user_id IN (SELECT c_custkey FROM subjects)) AS n_events
    """,
)
def q_gdpr_delete_audit(spark, sf_dir):
    """Right-to-be-forgotten blast-radius audit: given a deletion list
    of data subjects, count every row that a purge must touch across
    the fact tables (orders → their lineitems via the key chain, plus
    the event stream) — the dry-run report a compliance pipeline emits
    before executing deletes. Physical posture: the subject list and
    the derived order-key list BROADCAST into left-semi joins, so each
    fact table is scanned once with the semi filter applied map-side —
    the same plan a real purge's anti-join (keep side) runs."""
    customer, orders, lineitem, events = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "events"
    )
    subjects = customer.filter(F.col("c_custkey") % 997 == 0).select(
        "c_custkey"
    )
    del_orders = orders.join(
        F.broadcast(subjects),
        orders.o_custkey == subjects.c_custkey,
        "left_semi",
    ).select("o_orderkey")
    li_hit = lineitem.join(
        F.broadcast(del_orders),
        lineitem.l_orderkey == del_orders.o_orderkey,
        "left_semi",
    )
    ev_hit = events.join(
        F.broadcast(subjects),
        events.user_id == subjects.c_custkey,
        "left_semi",
    )
    # single-row assembly WITHOUT scalar cross-joins (which plan as
    # BroadcastNestedLoopJoins): union the four tagged 1-row counts and
    # fold them with conditional MAX — zero join operators
    counts = (
        subjects.agg(F.lit("s").alias("m"), F.count("*").alias("v"))
        .unionByName(
            del_orders.agg(F.lit("o").alias("m"), F.count("*").alias("v"))
        )
        .unionByName(
            li_hit.agg(F.lit("l").alias("m"), F.count("*").alias("v"))
        )
        .unionByName(
            ev_hit.agg(F.lit("e").alias("m"), F.count("*").alias("v"))
        )
    )
    return counts.agg(
        F.max(F.when(F.col("m") == "s", F.col("v")))
        .cast("long")
        .alias("n_subjects"),
        F.max(F.when(F.col("m") == "o", F.col("v")))
        .cast("long")
        .alias("n_orders"),
        F.max(F.when(F.col("m") == "l", F.col("v")))
        .cast("long")
        .alias("n_lineitems"),
        F.max(F.when(F.col("m") == "e", F.col("v")))
        .cast("long")
        .alias("n_events"),
    )


from ..functions.vectors import l2_norm, sql_norm2  # noqa: E402


@query(
    "q_embedding_norm_audit",
    f"""
    WITH norms AS (
      SELECT label, sqrt({sql_norm2("embedding")}) AS nrm
      FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_norm,
           ROUND(MIN(nrm), 4) AS min_norm,
           ROUND(MAX(nrm), 4) AS max_norm
    FROM norms GROUP BY 1
    """,
)
def q_embedding_norm_audit(spark, sf_dir):
    """Embedding-quality gate per label: L2-norm distribution (count,
    exact-decimal mean, min, max) — the audit run before cosine ANN,
    where zero/degenerate-norm vectors poison similarity and un-normed
    corpora need an explicit normalize pass. Norms are sequential
    double folds over the float array (functions/vectors.l2_norm —
    identical element order in both engines), and the group mean sums
    decimal-quantized norms so it is summation-order-insensitive (the
    exact_sum discipline applied to a derived measure)."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        F.col("label").cast("long").alias("label"),
        l2_norm("embedding").alias("nrm"),
    )
    return norms.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(
            F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            4,
        ).alias("avg_norm"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
    )


# ---------------------------------------------------------------------------
# Phase 31: hash-certified incremental-rollup merge, hash-uniformity
# gate, recommendation coverage
# ---------------------------------------------------------------------------


@query(
    "q_shard_rollup_merge",
    f"""
    SELECT o_orderstatus AS status, o_orderpriority AS prio,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND({sql_exact_sum("o_totalprice")}, 2) AS rev
    FROM orders GROUP BY 1, 2
    """,
)
def q_shard_rollup_merge(spark, sf_dir):
    """Incremental-rollup MERGEABILITY, hash-certified: three disjoint
    shard partials (orders split by key mod 3) folded pairwise through
    operators/aggregates.merge_rollup must equal the direct full
    aggregate bit-for-bit — the nightly-ingest maintenance path proven
    against the recompute, which is exactly the invariant an
    incremental warehouse depends on. Partial revenue stays DECIMAL
    through every merge (summing double partials would re-introduce
    order-sensitivity); only the final projection casts out. The
    fact table is scanned once per shard (in production each shard is
    one arriving partition — history is never re-read)."""
    from ..operators.aggregates import merge_rollup

    orders = load_table(spark, sf_dir, "orders")

    def partial(shard):
        return shard.groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("prio"),
        ).agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias(
                "rev_dec"
            ),
        )

    shards = [
        partial(orders.filter(F.col("o_orderkey") % 3 == i))
        for i in range(3)
    ]
    merged = merge_rollup(
        merge_rollup(
            shards[0], shards[1], ["status", "prio"],
            {"n": "sum", "rev_dec": "sum"},
        ),
        shards[2],
        ["status", "prio"],
        {"n": "sum", "rev_dec": "sum"},
    )
    return merged.select(
        "status", "prio",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("rev_dec").cast("double"), 2).alias("rev"),
    )


def _sql_nibble_fold(expr: str, nibbles: int = 8) -> str:
    """Portable BIGINT fold of the first md5 hex nibbles (the KMV
    pattern: seed as BIGINT — 8 nibbles reach 2^32, past INT32)."""

    def nib(pos: int) -> str:
        c = f"ascii(substring(md5(CAST({expr} AS VARCHAR)), {pos}, 1))"
        return f"({c} - CASE WHEN {c} >= 97 THEN 87 ELSE 48 END)"

    num = f"CAST({nib(1)} AS BIGINT)"
    for p in range(2, nibbles + 1):
        num = f"({num} * 16 + {nib(p)})"
    return num


@query(
    "q_hash_uniformity",
    f"""
    WITH b AS (
      SELECT {_sql_nibble_fold("o_orderkey")} % 64 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM b)
    SELECT (SELECT n FROM tot) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MIN(c) AS BIGINT) AS min_c,
           CAST(MAX(c) AS BIGINT) AS max_c,
           ROUND(CAST(SUM((64 * c - (SELECT n FROM tot))
                          * (64 * c - (SELECT n FROM tot))) AS DOUBLE)
                 / (64.0 * (SELECT n FROM tot)), 4) AS chi2
    FROM b
    """,
)
def q_hash_uniformity(spark, sf_dir):
    """Uniformity gate for the engine's PORTABLE randomness primitive
    (the md5 nibble-fold behind sampling/bootstrap/DP queries):
    64-bucket occupancy chi-square, computed in INTEGERS — Σ(64·o−n)²
    / (64n) ≡ Σ(o−e)²/e with e = n/64 — so the statistic itself
    hash-matches the oracle (a float expected-count formulation could
    not). Under uniformity chi2 ~ χ²(63): the gate a pipeline checks
    before trusting hash-salted sampling. One count aggregate, one
    63-row stats pass."""
    orders = load_table(spark, sf_dir, "orders")

    def nib(pos):
        a = F.ascii(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), pos, 1)
        )
        return (
            a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))
        ).cast("long")

    num = nib(1)
    for p in range(2, 9):
        num = num * 16 + nib(p)
    b = orders.groupBy((num % 64).alias("bucket")).agg(
        F.count("*").cast("long").alias("c")
    )
    dev = 64 * F.col("c") - F.col("n")
    return (
        b.join(F.broadcast(b.agg(F.sum("c").cast("long").alias("n"))))
        .agg(
            F.max("n").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_buckets"),
            F.min("c").cast("long").alias("min_c"),
            F.max("c").cast("long").alias("max_c"),
            F.round(
                F.sum(dev * dev).cast("double")
                / (64.0 * F.max("n")),
                4,
            ).alias("chi2"),
        )
    )


@query(
    "q_rec_coverage",
    f"""
    WITH {_COPURCHASE_EDGES},
    covered AS (
      SELECT DISTINCT src AS part FROM sym
    )
    SELECT p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN c.part IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           ROUND(CAST(SUM(CASE WHEN c.part IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS coverage
    FROM part p LEFT JOIN covered c ON p.p_partkey = c.part
    GROUP BY 1
    """,
)
def q_rec_coverage(spark, sf_dir):
    """Cold-start coverage of the co-purchase recommender per brand:
    which share of the catalog even APPEARS in the co-purchase graph
    q_item_cf_recs/q_graph_jaccard mine — uncovered items get no
    collaborative signal and need a content-based fallback; the
    coverage table is the report that sizes that fallback. The covered
    set (graph endpoints, bounded by the sampled edge list) broadcasts
    into a left join against the part dim; one aggregate per brand."""
    part = load_table(spark, sf_dir, "part")
    canon = _copurchase_edges(spark, sf_dir).select("src", "dst")
    covered = (
        canon.select(F.col("src").alias("part"))
        .unionByName(canon.select(F.col("dst").alias("part")))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    j = part.join(
        F.broadcast(covered), part.p_partkey == covered.part, "left"
    )
    return j.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
        .cast("long")
        .alias("n_covered"),
        F.round(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
            / F.count("*"),
            6,
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# Phase 32: price elasticity (exact-decimal OLS), duplicate-payment
# audit, cohort LTV curve, shipping-latency percentiles
# ---------------------------------------------------------------------------


@query(
    "q_price_elasticity",
    """
    WITH pts AS (
      SELECT p.p_brand AS brand,
             CAST(l.l_discount AS DECIMAL(18,6)) AS x,
             CAST(l.l_quantity AS DECIMAL(18,6)) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), s AS (
      SELECT brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts GROUP BY 1
    )
    SELECT brand, n,
           ROUND(CAST((n * sxy - sx * sy) AS DOUBLE)
                 / CAST((n * sxx - sx * sx) AS DOUBLE), 6) AS slope
    FROM s WHERE n * sxx - sx * sx <> 0
    """,
)
def q_price_elasticity(spark, sf_dir):
    """Per-brand OLS slope of quantity on discount — the demand-
    elasticity readout pricing teams pull from the fact table. The
    closed-form slope is computed from EXACT DECIMAL moment sums
    (Σx, Σy, Σxy, Σx²) so the statistic is summation-order-insensitive
    and hash-matches the oracle — regr_slope()'s double accumulators
    could never guarantee that across engines. One join + one
    map-side-combined moment aggregate; the final 25-row arithmetic is
    free."""
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    pts = lineitem.join(
        part, lineitem.l_partkey == part.p_partkey
    ).select(
        F.col("p_brand").alias("brand"),
        F.col("l_discount").cast("decimal(18,6)").alias("x"),
        F.col("l_quantity").cast("decimal(18,6)").alias("y"),
    )
    s = pts.groupBy("brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.filter(den != 0).select(
        "brand",
        "n",
        F.round(num.cast("double") / den.cast("double"), 6).alias(
            "slope"
        ),
    )


@query(
    "q_duplicate_payments",
    """
    WITH cand AS (
      SELECT a.o_orderkey AS k1, b.o_orderkey AS k2,
             CAST(EXTRACT(year FROM a.o_orderdate) AS BIGINT) AS yr
      FROM orders a
      JOIN orders b ON a.o_custkey = b.o_custkey
                   AND a.o_totalprice = b.o_totalprice
                   AND a.o_orderkey < b.o_orderkey
      WHERE ABS(CAST(a.o_orderdate AS DATE) - CAST(b.o_orderdate AS DATE))
            <= 30
    )
    SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT k1) + COUNT(DISTINCT k2) AS BIGINT)
             AS n_flagged
    FROM cand GROUP BY 1
    """,
)
def q_duplicate_payments(spark, sf_dir):
    """Duplicate-payment audit: same customer, identical order total,
    within 30 days — the classic AP-fraud / double-charge rule. The
    self-join keys on (custkey, totalprice) EQUALITY (price equality is
    the rule's point), so it is a hash join whose per-key fan-out is
    the count of equal-priced orders per customer — tiny — with the
    date proximity as a residual predicate, never a date-range theta
    join. Flag counts roll up per order year of the earlier order."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderkey").alias("k1"),
        F.to_date("o_orderdate").alias("d1"),
    )
    b = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderkey").alias("k2"),
        F.to_date("o_orderdate").alias("d2"),
    )
    cand = (
        a.join(b, ["cust", "price"])
        .filter(
            (F.col("k1") < F.col("k2"))
            & (F.abs(F.datediff("d1", "d2")) <= 30)
        )
        .select(
            "k1", "k2", F.year("d1").cast("long").alias("yr")
        )
    )
    return cand.groupBy("yr").agg(
        F.count("*").cast("long").alias("n_pairs"),
        (F.countDistinct("k1") + F.countDistinct("k2"))
        .cast("long")
        .alias("n_flagged"),
    )


@query(
    "q_cohort_ltv_curve",
    f"""
    WITH first_order AS (
      SELECT o_custkey AS cust, MIN(CAST(o_orderdate AS DATE)) AS d0
      FROM orders GROUP BY 1
    ), offs AS (
      SELECT CAST(EXTRACT(year FROM f.d0) AS BIGINT) AS cohort_yr,
             CAST(LEAST((CAST(o.o_orderdate AS DATE) - f.d0) // 90, 7)
                  AS BIGINT) AS qtr_off,
             o.o_totalprice AS p
      FROM orders o JOIN first_order f ON o.o_custkey = f.cust
    ), per AS (
      SELECT cohort_yr, qtr_off,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {sql_exact_sum("p")} AS rev
      FROM offs GROUP BY 1, 2
    )
    SELECT cohort_yr, qtr_off, n_orders,
           ROUND(rev, 2) AS rev,
           ROUND(CAST(SUM(CAST(rev AS DECIMAL(18,6))) OVER (
             PARTITION BY cohort_yr ORDER BY qtr_off) AS DOUBLE), 2)
             AS cum_rev
    FROM per
    """,
)
def q_cohort_ltv_curve(spark, sf_dir):
    """Cumulative revenue CURVE per acquisition cohort in quarters-
    since-first-order (capped at 7+) — the payback plot behind
    q_customer_ltv's end-state totals. The per-(cohort, offset) rollup
    happens BEFORE the running window, so the cumulative sum runs over
    |cohorts|×8 rows, never raw orders; decimal arithmetic end to end
    keeps the curve engine-exact. first-order dates broadcast back
    onto orders for the offset computation."""
    orders = load_table(spark, sf_dir, "orders")
    first = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.min(F.to_date("o_orderdate")).alias("d0")
    )
    offs = orders.join(
        F.broadcast(first), orders.o_custkey == first.cust
    ).select(
        F.year("d0").cast("long").alias("cohort_yr"),
        F.least(
            F.expr("datediff(to_date(o_orderdate), d0) div 90"),
            F.lit(7),
        )
        .cast("long")
        .alias("qtr_off"),
        F.col("o_totalprice").alias("p"),
    )
    per = offs.groupBy("cohort_yr", "qtr_off").agg(
        F.count("*").cast("long").alias("n_orders"),
        exact_sum("p").alias("rev"),
    )
    w = (
        Window.partitionBy("cohort_yr")
        .orderBy("qtr_off")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "cohort_yr",
        "qtr_off",
        "n_orders",
        F.round(F.col("rev"), 2).alias("rev"),
        F.round(
            F.sum(F.col("rev").cast("decimal(18,6)"))
            .over(w)
            .cast("double"),
            2,
        ).alias("cum_rev"),
    )


@query(
    "q_ship_latency",
    """
    WITH lags AS (
      SELECT o.o_orderpriority AS prio,
             CAST(CAST(l.l_shipdate AS DATE)
                  - CAST(o.o_orderdate AS DATE) AS BIGINT) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT prio,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(MIN(lag_days) AS BIGINT) AS min_lag,
           ROUND(quantile_cont(lag_days, 0.5), 1) AS p50_lag,
           ROUND(quantile_cont(lag_days, 0.9), 1) AS p90_lag,
           CAST(MAX(lag_days) AS BIGINT) AS max_lag
    FROM lags GROUP BY 1
    """,
)
def q_ship_latency(spark, sf_dir):
    """Order-to-ship latency distribution per priority class (exact
    interpolated p50/p90) — the fulfillment-SLA table ops reviews
    weekly. The orderkey join is the natural co-partitioned fact join
    (bucketed twin proven exchange-free in q_bucketed_join); exact
    percentiles run per priority group over integer day-lags, so the
    stats hash-match quantile_cont."""
    lineitem, orders = load_tables(spark, sf_dir, "lineitem", "orders")
    lags = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("lag_days"),
    )
    return lags.groupBy("prio").agg(
        F.count("*").cast("long").alias("n_items"),
        F.min("lag_days").cast("long").alias("min_lag"),
        F.round(F.percentile("lag_days", 0.5), 1).alias("p50_lag"),
        F.round(F.percentile("lag_days", 0.9), 1).alias("p90_lag"),
        F.max("lag_days").cast("long").alias("max_lag"),
    )


# ---------------------------------------------------------------------------
# Phase 33: z-order layout stats, multi-format federation
# ---------------------------------------------------------------------------


def _sql_morton16(x: str, y: str) -> str:
    """Portable 32-bit Morton interleave of two 16-bit ints (bit i of x
    → bit 2i, bit i of y → bit 2i+1). Pure shifts/masks — identical
    BIGINT arithmetic in both engines."""
    terms = []
    for i in range(16):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


@query(
    "q_zorder_stats",
    f"""
    WITH pts AS (
      SELECT (o_custkey % 65536) AS x,
             ((CAST(o_orderdate AS DATE) - CAST('1970-01-01' AS DATE))
              % 65536) AS y
      FROM orders
    ), coded AS (
      SELECT x, y, {_sql_morton16("x", "y")} >> 26 AS bucket FROM pts
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(x) - MIN(x) AS BIGINT) AS x_span,
           CAST(MAX(y) - MIN(y) AS BIGINT) AS y_span
    FROM coded GROUP BY 1
    """,
)
def q_zorder_stats(spark, sf_dir):
    """Z-order (Morton-curve) layout census: interleave (custkey, day)
    into a 32-bit space-filling code, split the curve into 64 file-
    sized buckets, and report each bucket's per-dimension value span —
    the locality evidence behind lakehouse OPTIMIZE ZORDER decisions
    (bounded spans per file ⇒ min/max file skipping works for BOTH
    predicates; a single-column sort gives one tight span and one
    full-range span). The interleave is 32 shift/mask terms of BIGINT
    arithmetic inside codegen; one aggregate per bucket."""
    orders = load_table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 65536).alias("x")
    y = (
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        % 65536
    ).alias("y")
    pts = orders.select(x, y)
    code = None
    for i in range(16):
        tx = F.call_function(
            "shiftleft",
            F.call_function("shiftright", F.col("x"), F.lit(i))
            .bitwiseAND(F.lit(1)),
            F.lit(2 * i),
        )
        ty = F.call_function(
            "shiftleft",
            F.call_function("shiftright", F.col("y"), F.lit(i))
            .bitwiseAND(F.lit(1)),
            F.lit(2 * i + 1),
        )
        t = tx.bitwiseOR(ty)
        code = t if code is None else code.bitwiseOR(t)
    coded = pts.select(
        "x", "y",
        F.call_function("shiftright", code, F.lit(26)).alias("bucket"),
    )
    return coded.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").cast("long").alias("n_rows"),
        (F.max("x") - F.min("x")).cast("long").alias("x_span"),
        (F.max("y") - F.min("y")).cast("long").alias("y_span"),
    )


@query(
    "q_format_federation",
    """
    SELECT n_regionkey,
           CAST(3 * COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_per_format
    FROM nation GROUP BY 1
    """,
)
def q_format_federation(spark, sf_dir):
    """One logical table federated across THREE physical formats:
    the nation dim re-landed as CSV, JSON, and ORC, read back with one
    EXPLICIT schema each, unioned, and aggregated — the polyglot-
    landing-zone reality (the reference itself juggles JSON payloads,
    CSV reports, and HTML/PDF docs) certified by an oracle that knows
    the union must be exactly 3x the source per key. Explicit schemas
    keep every reader a zero-inference scan; unionByName guarantees
    column alignment across the format readers."""
    base = scratch_dir("fed")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    schema = "n_nationkey long, n_name string, n_regionkey long"
    nation.write.mode("overwrite").option("header", True).csv(
        f"{base}/csv"
    )
    nation.write.mode("overwrite").json(f"{base}/json")
    nation.write.mode("overwrite").orc(f"{base}/orc")
    csv = (
        spark.read.schema(schema)
        .option("header", True)
        .csv(f"{base}/csv")
    )
    js = spark.read.schema(schema).json(f"{base}/json")
    orc = spark.read.schema(schema).orc(f"{base}/orc")
    fed = csv.unionByName(js).unionByName(orc)
    return fed.groupBy("n_regionkey").agg(
        F.count("*").cast("long").alias("n_rows"),
        (F.count("*") / 3).cast("long").alias("n_per_format"),
    )
