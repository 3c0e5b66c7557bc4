"""Analytics extension queries: time-series regularization, inverted-index
search, information-theoretic text stats, and graph centrality.

Round-3 additions to the north-star surface (BASELINE.json): the ops a
metrics/curation pipeline runs over event streams and document corpora
that none of the earlier families cover — dense calendar grids with LOCF,
EWMA recurrences, posting-list search (the scale answer to the
reference's full-scan regex search, legiscan_search_all_bills.R:88-92),
character-entropy quality scoring, and PageRank source authority.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.compat import exact_sum, sql_exact_sum
from ..functions.vectors import sql_cosine
from ..io import load_table, load_tables
from ..operators.bpe import bpe_encode, bpe_train
from ..operators.graph import pagerank, triangle_count
from ..operators.index import inverted_index, phrase_search
from ..operators.scd import fk_orphan_audit, scd2_merge
from ..operators.timeseries import ewma_last, gap_fill_daily, rolling_time_avg
from .registry import query


# ---------------------------------------------------------------------------
# Time series
# ---------------------------------------------------------------------------

@query(
    "q_gap_fill",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 4) AS daily_value
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ), grid AS (
      SELECT user_id,
             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                         CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    )
    SELECT g.user_id, g.day, d.daily_value,
           last_value(d.daily_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value,
           d.daily_value IS NOT NULL AS observed
    FROM grid g
    LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    """,
)
def q_gap_fill(spark, sf_dir):
    """Dense per-user daily grid over events with LOCF forward-fill:
    sequence()+explode calendar generated next to the data (no driver
    loop, no global-calendar cross join), one join + one window."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "value", F.round("value", 10)
    )
    filled = gap_fill_daily(events, "user_id", "ts", "value")
    # round the float sums on BOTH sides: Spark and DuckDB may reduce a
    # (user, day) group in different orders
    daily_r = F.round("daily_value", 4)
    return filled.select(
        "user_id",
        "day",
        daily_r.alias("daily_value"),
        F.round("filled_value", 4).alias("filled_value"),
        "observed",
    )


@query(
    "q_ewma",
    """
    WITH s AS (
      SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n_obs,
           ROUND(CASE WHEN len(vals) = 1 THEN vals[1]
                      ELSE list_reduce(vals, (a, b) -> a * 0.7 + b * 0.3)
                 END, 4) AS ewma
    FROM s
    """,
)
def q_ewma(spark, sf_dir):
    """Per-user EWMA (α=0.3) of event values in (ts, event_id) order — a
    sequential recurrence no window frame expresses, folded JVM-side with
    the aggregate() higher-order function (zero Python in the loop). The
    oracle is DuckDB's list_reduce over the identically-ordered list, so
    the IEEE operation sequence matches fold-step for fold-step."""
    events = load_table(spark, sf_dir, "events")
    out = ewma_last(events, "user_id", "ts", "value", "event_id", alpha=0.3)
    return out.select(
        "user_id", F.col("n_obs").cast("bigint").alias("n_obs"), "ewma"
    )


@query(
    "q_ewma_chunked",
    """
    WITH s AS (
      SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n_obs,
           ROUND(CASE WHEN len(vals) = 1 THEN vals[1]
                      ELSE list_reduce(vals, (a, b) -> a * 0.7 + b * 0.3)
                 END, 4) AS ewma
    FROM s
    """,
)
def q_ewma_chunked(spark, sf_dir):
    """Unbounded-history EWMA: the affine recurrence composed over
    fixed-size chunks (each chunk collapses to acc → β^n·acc + b, chunks
    reduce associatively in order) — per-key memory O(chunk + n/chunk)
    instead of the full-series array ewma_last gathers. chunk_size=16
    here forces multi-chunk composition on every sf; the oracle is the
    SEQUENTIAL DuckDB list_reduce, so a green hash is a driver-visible
    proof that chunked composition equals the one-pass fold."""
    from ..operators.timeseries import ewma_last_chunked

    events = load_table(spark, sf_dir, "events")
    return ewma_last_chunked(
        events, "user_id", "ts", "value", "event_id", alpha=0.3, chunk_size=16
    )


@query(
    "q_hopping_window_batch",
    """
    WITH w AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, value
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
             event_type, value
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           COUNT(*) AS n, """
    + sql_exact_sum("value")
    + """ AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def q_hopping_window_batch(spark, sf_dir):
    """Hopping (sliding) 1-hour/30-minute window aggregate (SURVEY
    §2.8): each event lands in exactly 2 overlapping windows (window()
    explodes executor-side, then one partial-agg shuffle). Oracle: UNION ALL of the two epoch-aligned
    30-minute truncations — the same window-membership algebra."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n"), exact_sum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Inverted index / phrase search
# ---------------------------------------------------------------------------

_POSTINGS_CTE = """
    WITH posts AS (
      SELECT d.doc_id, t.tok AS term, t.pos
      FROM documents d,
           LATERAL (SELECT unnest(string_split(lower(d.text), ' ')) AS tok,
                           generate_subscripts(string_split(lower(d.text), ' '), 1) AS pos) t
      WHERE t.tok <> ''
    )
"""


@query(
    "q_inverted_index",
    _POSTINGS_CTE
    + """
    SELECT term, COUNT(DISTINCT doc_id) AS doc_count,
           COUNT(*) AS total_tf, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM posts GROUP BY term HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def q_inverted_index(spark, sf_dir):
    """Term dictionary with posting-list stats — the build side of the
    index that replaces the reference's per-term corpus scans. One
    explode + one shuffle on term; at scale the postings are staged
    bucketed by term for co-located query joins."""
    docs = load_table(spark, sf_dir, "documents")
    return inverted_index(docs, "doc_id", "text", min_doc_count=2)


@query(
    "q_phrase_search",
    _POSTINGS_CTE
    + """
    SELECT a.doc_id, COUNT(*) AS n_matches
    FROM posts a JOIN posts b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.term = 'table' AND b.term = 'scan'
    GROUP BY a.doc_id
    """,
)
def q_phrase_search(spark, sf_dir):
    """Positional phrase search ('table scan') via posting-list self-join
    on (doc, pos+1): exact-token adjacency, each join input pre-filtered
    to one term's postings — work scales with the posting lists touched,
    not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, "table scan", "doc_id", "text")


# ---------------------------------------------------------------------------
# Information-theoretic text stats
# ---------------------------------------------------------------------------

@query(
    "q_char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ), freq AS (
      SELECT doc_id, ch, COUNT(*) AS n FROM chars WHERE ch <> '' GROUP BY 1, 2
    ), tot AS (
      SELECT doc_id, SUM(n) AS total, COUNT(*) AS distinct_chars FROM freq GROUP BY 1
    )
    SELECT f.doc_id, CAST(t.total AS BIGINT) AS n_chars,
           CAST(t.distinct_chars AS BIGINT) AS distinct_chars,
           ROUND(-SUM((n / CAST(total AS DOUBLE))
                      * ln(n / CAST(total AS DOUBLE))), 4) AS entropy
    FROM freq f JOIN tot t USING (doc_id)
    GROUP BY f.doc_id, t.total, t.distinct_chars
    """,
)
def q_char_entropy(spark, sf_dir):
    """Shannon character entropy per document — the gibberish/boilerplate
    detector (low entropy = repeated filler, high = random noise). Two
    partial-aggregated groupBys ((doc, char) counts → per-doc -Σ p·ln p),
    all JVM expressions, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    p = F.col("n") / F.col("total")
    return (
        freq.withColumn("total", F.expr("sum(n) OVER (PARTITION BY doc_id)"))
        .groupBy("doc_id")
        .agg(
            F.max("total").cast("bigint").alias("n_chars"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_chars"),
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy"),
        )
    )


@query("q_hll_merge")  # DataSketches binary sketches → rows-only
def q_hll_merge(spark, sf_dir):
    """Mergeable HLL distinct-count rollup: per-source doc_id sketches
    union-merged WITHOUT rescanning (the shard-incremental COUNT
    DISTINCT pattern), reported against the direct sketch and the exact
    count so the sketch error is driver-visible. lgConfigK=14 — at 12
    the union leaves sparse-exact mode and under-counts (measured,
    pinned in tests/test_sketches.py)."""
    from ..operators.sketches import hll_merge_report

    docs = load_table(spark, sf_dir, "documents")
    return hll_merge_report(docs, "source", "doc_id", lg_config_k=14)


# ---------------------------------------------------------------------------
# Embedding dimensionality reduction
# ---------------------------------------------------------------------------

@query("q_random_projection")  # numpy-seeded matrix → rows-only by contract
def q_random_projection(spark, sf_dir):
    """JL random projection 64→16 dims: scan-shaped Arrow-batched matmul,
    zero shuffle — the 4× shuffle/index shrink pre-pass for every
    downstream similarity op. Scalar outputs (dim + rounded norm) keep
    the row driver-hashable (the r2 multimodal lesson: never emit raw
    arrays to the driver's canonicalizer)."""
    from ..functions.vectors import l2_norm
    from ..operators.projection import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    proj = random_projection(emb, "vec_id", "embedding", in_dim=64, out_dim=16)
    return proj.select(
        "vec_id",
        F.size("projected").cast("long").alias("out_dim"),
        F.round(l2_norm(F.col("projected")), 3).alias("l2_norm"),
    )


@query("q_projection_distortion")  # numpy-seeded projection → rows-only
def q_projection_distortion(spark, sf_dir):
    """JL quality, driver-visible: squared-distance distortion of the
    64→16 projection over a deterministic pair sample (vec_id a paired
    with a+101), as one (method, n_pairs, mean_ratio, p_low, p_high)
    row. NOTE: top-k *ranking* recall is the wrong gate at these dims —
    JL distortion ε≈√(ln n / k)≈0.6 swamps the fixture's 0.05 cosine gap
    between planted and noise neighbors, so ranks scramble even though
    distances are preserved in ratio (measured: mean ratio ≈1, pinned
    ∈(0.8, 1.2) in tests/test_projection.py)."""
    from ..operators.projection import random_projection

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    proj = random_projection(emb, "vec_id", "embedding", in_dim=64, out_dim=16)
    both = emb.select("vec_id", "embedding").join(proj, "vec_id")
    a = both.select(
        F.col("vec_id").alias("aid"),
        F.col("embedding").alias("ae"),
        F.col("projected").alias("ap"),
    )
    b = both.select(
        (F.col("vec_id") - 101).alias("bid"),
        F.col("embedding").alias("be"),
        F.col("projected").alias("bp"),
    )
    sq = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    pairs = a.join(b, a.aid == b.bid).select(
        (sq(F.col("ap"), F.col("bp")) / sq(F.col("ae"), F.col("be"))).alias("ratio")
    )
    return pairs.agg(
        F.lit("jl_64_to_16").alias("method"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("ratio"), 3).alias("mean_ratio"),
        F.round(F.min("ratio"), 3).alias("p_low"),
        F.round(F.max("ratio"), 3).alias("p_high"),
    )


# ---------------------------------------------------------------------------
# Learned tokenization (BPE)
# ---------------------------------------------------------------------------

@query("q_bpe_vocab")  # greedy sequential merges — not SQL-expressible
def q_bpe_vocab(spark, sf_dir):
    """BPE tokenizer training: one corpus pass builds the vocabulary-
    bounded word-frequency table, the greedy merge loop runs driver-side
    on it (the IVF bounded-fit precedent — fit input is O(vocab), not
    O(corpus)); deterministic (count, pair) tie-break. Returns the merge
    table; hand-computed merges pinned in tests/test_bpe.py."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, "text", n_merges=30, max_words=50_000)


@query("q_bpe_encode")  # pandas-UDF tokenize — rows-only by contract
def q_bpe_encode(spark, sf_dir):
    """Tokenize the corpus with the learned merges: broadcast rank map
    into an Arrow-batched scan-shaped mapInPandas (greedy per-word
    merging has no relational form — the documented slow-path
    justification). Round-trip/monotonicity properties pinned in
    tests/test_bpe.py."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=30, max_words=50_000)
    return bpe_encode(docs, merges, "doc_id", "text")


# ---------------------------------------------------------------------------
# Dimension maintenance / data quality
# ---------------------------------------------------------------------------

@query(
    "q_scd2_merge",
    """
    WITH upd AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority,
             o_orderdate AS eff
      FROM orders
    ), dedup AS (
      SELECT *, lag(priority) OVER (
        PARTITION BY custkey ORDER BY eff, priority) AS prev
      FROM upd
    ), versions AS (
      SELECT custkey, priority, eff FROM dedup
      WHERE prev IS NULL OR prev <> priority
    )
    SELECT custkey, priority, eff AS valid_from,
           lead(eff) OVER (PARTITION BY custkey ORDER BY eff, priority)
             AS valid_to,
           lead(eff) OVER (PARTITION BY custkey ORDER BY eff, priority)
             IS NULL AS is_current
    FROM versions
    """,
)
def q_scd2_merge(spark, sf_dir):
    """SCD type-2 dimension build: each order is an 'update' to its
    customer's priority attribute; consecutive no-op updates collapse,
    real changes close the old version and open a new one (valid_from/
    valid_to/is_current). One shuffle on the business key — the
    production form of the reference's keep-latest dedup
    (legislator_bill_counts_run.R:63-67), with history instead of
    discard. Incremental == from-scratch equality pinned in pytest."""
    orders = load_table(spark, sf_dir, "orders")
    updates = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("effective_ts"),
    )
    empty = spark.createDataFrame(
        [],
        "custkey long, priority string, valid_from timestamp_ntz, "
        "valid_to timestamp_ntz, is_current boolean",
    )
    out = scd2_merge(empty, updates, "custkey", ["priority"], "effective_ts")
    return out


@query(
    "q_fk_orphans",
    """
    SELECT 'orders.custkey' AS relationship, COUNT(*) AS child_rows,
           CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_fk,
           CAST(SUM(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem.orderkey', COUNT(*),
           CAST(SUM(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(SUM(CASE WHEN l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem.suppkey', COUNT(*),
           CAST(SUM(CASE WHEN l.l_suppkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(SUM(CASE WHEN l.l_suppkey IS NOT NULL AND s.s_suppkey IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    UNION ALL
    SELECT 'customer.nationkey', COUNT(*),
           CAST(SUM(CASE WHEN c.c_nationkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(SUM(CASE WHEN c.c_nationkey IS NOT NULL AND n.n_nationkey IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def q_fk_orphans(spark, sf_dir):
    """Referential-integrity audit across the star schema's four FK
    relationships: one census row each (child_rows, null_fk, orphans),
    all four left-join+aggregate branches in a SINGLE lazy plan (no
    per-relationship driver actions) — the pre-flight data-quality gate
    a 100 TB ingest runs before publishing a snapshot."""
    orders, customer, lineitem, supplier, nation = load_tables(
        spark, sf_dir, "orders", "customer", "lineitem", "supplier", "nation"
    )
    return fk_orphan_audit(
        [
            ("orders.custkey", orders, "o_custkey", customer, "c_custkey"),
            ("lineitem.orderkey", lineitem, "l_orderkey", orders, "o_orderkey"),
            ("lineitem.suppkey", lineitem, "l_suppkey", supplier, "s_suppkey"),
            ("customer.nationkey", customer, "c_nationkey", nation, "n_nationkey"),
        ]
    )


@query(
    "q_dq_constraints",
    """
    SELECT 'orderkey_not_null' AS constraint, COUNT(*) AS checked,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS violations
    FROM orders
    UNION ALL
    SELECT 'orderkey_unique', CAST(SUM(n) AS BIGINT),
           CAST(SUM(n - 1) AS BIGINT) FROM (
      SELECT COUNT(*) AS n FROM orders WHERE o_orderkey IS NOT NULL
      GROUP BY o_orderkey)
    UNION ALL
    SELECT 'totalprice_range', COUNT(*),
           CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
                      OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'status_allowed', COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
                AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'custkey_fk', COUNT(*),
           CAST(SUM(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_dq_constraints(spark, sf_dir):
    """Declarative data-quality gate: a 5-constraint suite (not-null,
    unique, range, allowed-values, foreign-key) over orders evaluated as
    ONE lazy plan of unioned single-row aggregates — the publish gate
    run before swapping a snapshot, zero per-constraint driver actions
    (operators/quality.dq_check)."""
    from ..operators.quality import dq_check

    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    return dq_check(
        orders,
        [
            ("orderkey_not_null", "not_null", "o_orderkey"),
            ("orderkey_unique", "unique", "o_orderkey"),
            ("totalprice_range", "range", "o_totalprice", 0, 1_000_000),
            ("status_allowed", "allowed", "o_orderstatus", ["O", "F", "P"]),
            ("custkey_fk", "foreign_key", "o_custkey", customer, "c_custkey"),
        ],
    )


@query(
    "q_snapshot_diff",
    """
    WITH old AS (
      SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
    ), new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 97 <> 0
      UNION ALL
      SELECT c_custkey + 10000000, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 101 = 0
    ), j AS (
      SELECT o.c_custkey AS ok, n.c_custkey AS nk,
             o.c_acctbal AS oa, n.c_acctbal AS na,
             o.c_mktsegment AS om, n.c_mktsegment AS nm
      FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    )
    SELECT CASE WHEN ok IS NULL THEN 'added'
                WHEN nk IS NULL THEN 'removed'
                WHEN oa <> na OR om <> nm THEN 'changed'
                ELSE 'unchanged' END AS status,
           COUNT(*) AS n
    FROM j GROUP BY 1
    """,
)
def q_snapshot_diff(spark, sf_dir):
    """Snapshot regression report: key-level delta census between two
    table versions (a deterministically perturbed customer snapshot:
    %97 keys removed, %13 balances changed, %101 keys re-added under new
    ids) — one full-outer join + struct compare + 4-row census, the diff
    a pipeline checks before publishing (operators/quality.snapshot_diff)."""
    from ..operators.quality import snapshot_diff

    customer = load_table(spark, sf_dir, "customer")
    old = customer.select("c_custkey", "c_acctbal", "c_mktsegment")
    new = (
        old.filter(F.col("c_custkey") % 97 != 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 100.0
            ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionByName(
            old.filter(F.col("c_custkey") % 101 == 0).select(
                (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
                "c_acctbal",
                "c_mktsegment",
            )
        )
    )
    return snapshot_diff(old, new, "c_custkey", ["c_acctbal", "c_mktsegment"])


# ---------------------------------------------------------------------------
# Graph centrality
# ---------------------------------------------------------------------------

_TRI_COS = sql_cosine("a.embedding", "b.embedding")

@query(
    "q_triangle_count",
    f"""
    WITH e AS (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM embeddings a, embeddings b
      WHERE a.vec_id < 500 AND b.vec_id < 500 AND a.vec_id < b.vec_id
        AND {_TRI_COS} >= 0.3
    )
    SELECT (SELECT COUNT(DISTINCT n) FROM (
              SELECT a AS n FROM e UNION ALL SELECT b FROM e)) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM e ab
              JOIN e bc ON ab.b = bc.a
              JOIN e ac ON ac.a = ab.a AND ac.b = bc.b) AS n_triangles
    """,
)
def q_triangle_count(spark, sf_dir):
    """Exact triangle count of the embedding similarity graph (vectors
    adjacent iff cosine ≥ 0.3 on the bounded slice) — triangle density
    IS the transitivity of near-duplication, the structural sanity check
    on a dedup pair set before trusting its connected components.
    Canonical a<b orientation counts each triangle once: wedge join +
    closing semi-join, three hash joins, no theta join. NOTE a
    co-occurrence graph over a low-cardinality key (e.g. supplier
    co-supply) goes near-complete and wedges explode quadratically —
    measured 70 s at sf0.1 before switching to this sparse-by-
    construction similarity graph; degree-ordered orientation is the
    documented refinement for power-law graphs."""
    from ..operators.dedup import embedding_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    pairs = embedding_neardup_pairs(emb, "vec_id", "embedding", min_cosine=0.3)
    return triangle_count(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )


@query(
    "q_zscore_outliers",
    """
    WITH stats AS (
      SELECT event_id, event_type, value,
             avg(value) OVER (PARTITION BY event_type) AS mu,
             stddev_samp(value) OVER (PARTITION BY event_type) AS sigma
      FROM events
    )
    SELECT event_id, event_type,
           ROUND((value - mu) / sigma, 3) AS z
    FROM stats
    WHERE sigma > 0 AND abs((value - mu) / sigma) > 2
    """,
)
def q_zscore_outliers(spark, sf_dir):
    """Per-group anomaly flags: events whose value sits >2σ from its
    event_type's mean. One window shuffle on the group key computes
    mean+stddev in a single pass over the partition (no separate agg +
    join-back); at scale the window costs the same single exchange a
    groupBy would pay."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    mu = F.avg("value").over(w)
    sigma = F.stddev_samp("value").over(w)
    z = (F.col("value") - mu) / sigma
    return (
        events.select(
            "event_id", "event_type", F.round(z, 3).alias("z"), sigma.alias("__s"), z.alias("__z")
        )
        .filter((F.col("__s") > 0) & (F.abs("__z") > 2))
        .drop("__s", "__z")
    )


@query(
    "q_cohort_retention",
    """
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_trunc('week', e.ts) AS act_week
      FROM events e JOIN first_seen f USING (user_id)
    )
    SELECT CAST(cohort_week AS DATE) AS cohort_week,
           CAST(date_diff('day', cohort_week, act_week) / 7 AS INT)
             AS age_weeks,
           COUNT(*) AS n_users
    FROM activity
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark, sf_dir):
    """Cohort retention: users bucketed by first-seen week, counted per
    (cohort_week, age_weeks) activity cell — the growth-accounting
    matrix. Two shuffles total (per-user min; distinct per-user-week
    activity), the cohort table joins back user-keyed so the big event
    scan shuffles once."""
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        events.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).alias("act_week"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.col("cohort_week").cast("date").alias("cohort_week"),
        (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("age_weeks"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


@query("q_pagerank")  # iterative power iteration → rows-only by contract
def q_pagerank(spark, sf_dir):
    """PageRank over the customer→supplier purchase graph (orders ⋈
    lineitem), 10 fixed power iterations with per-iteration
    localCheckpoint (bounded lineage — the CC lesson). Top 50 nodes by
    rank; numpy-pinned convergence in tests/test_graph_timeseries.py."""
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
    )
    ranks = pagerank(edges, "src", "dst", n_iter=10, damping=0.85)
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(50)
    )


@query("q_stream_parity")  # runs a real availableNow stream → rows-only
def q_stream_parity(spark, sf_dir):
    """Driver-visible stream==batch census (VERDICT r3 item 7): the
    tumbling-window aggregation run as a bounded availableNow micro-batch
    stream (file source → memory sink) AND as the identical batch plan,
    diffed with distributed exceptAll anti-joins. One row
    (n_batch, n_stream, n_mismatch, equal); equal=true is the streaming
    family's correctness contract, previously pinned only in pytest."""
    from ..streaming.events import stream_batch_parity_report

    return stream_batch_parity_report(spark, sf_dir)


@query("q_stream_sessions")  # runs a real availableNow stream → rows-only
def q_stream_sessions(spark, sf_dir):
    """Driver-visible session_window stream==batch census — the gap-based
    sessionizer is the stateful operator whose streaming window-merge
    state machine diverges most easily from batch semantics, so it gets
    the same availableNow parity contract as q_stream_parity: one row
    (n_batch, n_stream, n_mismatch, equal)
    (streaming/events.session_parity_report)."""
    from ..streaming.events import session_parity_report

    return session_parity_report(spark, sf_dir)


@query(
    "q_cdc_apply",
    """
    WITH base AS (
      SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
    ), chg AS (
      SELECT c_custkey, c_acctbal + 50 AS c_acctbal, c_mktsegment,
             'U' AS op, 1 AS seq
      FROM base WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, c_acctbal, c_mktsegment, 'D', 2
      FROM base WHERE c_custkey % 11 = 0
      UNION ALL
      SELECT c_custkey + 10000000, c_acctbal, 'NEW', 'I', 1
      FROM base WHERE c_custkey % 13 = 0
    ), latest AS (
      SELECT * FROM chg
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY c_custkey ORDER BY seq DESC, op) = 1
    )
    SELECT b.c_custkey, b.c_acctbal, b.c_mktsegment FROM base b
    WHERE NOT EXISTS (
      SELECT 1 FROM latest l WHERE l.c_custkey = b.c_custkey)
    UNION ALL
    SELECT c_custkey, c_acctbal, c_mktsegment FROM latest WHERE op <> 'D'
    """,
)
def q_cdc_apply(spark, sf_dir):
    """CDC changelog apply (operators/scd.cdc_apply): a deterministic
    I/U/D changelog (updates for %7 keys, deletes for %11 — seq 2 beats
    the update on %77 overlaps — inserts under new ids for %13) folds
    into the customer snapshot with Delta-MERGE semantics: latest change
    per key wins, one key-window shuffle + anti-join + union, no per-row
    merge."""
    from ..operators.scd import cdc_apply

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    k = F.col("c_custkey")
    chg = (
        base.filter(k % 7 == 0)
        .select(
            k.alias("c_custkey"),
            (F.col("c_acctbal") + 50).alias("c_acctbal"),
            "c_mktsegment",
            F.lit("U").alias("op"),
            F.lit(1).alias("seq"),
        )
        .unionByName(
            base.filter(k % 11 == 0).select(
                "c_custkey",
                "c_acctbal",
                "c_mktsegment",
                F.lit("D").alias("op"),
                F.lit(2).alias("seq"),
            )
        )
        .unionByName(
            base.filter(k % 13 == 0).select(
                (k + 10_000_000).alias("c_custkey"),
                "c_acctbal",
                F.lit("NEW").alias("c_mktsegment"),
                F.lit("I").alias("op"),
                F.lit(1).alias("seq"),
            )
        )
    )
    return cdc_apply(base, chg, "c_custkey", ["c_acctbal", "c_mktsegment"])


@query(
    "q_max_concurrency",
    """
    WITH iv AS (
      SELECT o.o_orderkey, MIN(o.o_orderdate) AS s, MAX(l.l_shipdate) AS e
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
    ), d AS (
      SELECT s AS ts, 1 AS delta FROM iv
      UNION ALL
      SELECT e, -1 FROM iv
    ), r AS (
      SELECT ts, SUM(delta) OVER (
        ORDER BY ts, delta ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS c FROM d
    )
    SELECT CAST((SELECT MAX(c) FROM r) AS BIGINT) AS peak_concurrency,
           (SELECT MIN(ts) FROM r WHERE c = (SELECT MAX(c) FROM r))
             AS peak_start
    """,
)
def q_max_concurrency(spark, sf_dir):
    """Peak concurrently-open orders (order date → last shipment): the
    classic +1/−1 sweep with the running sum computed DISTRIBUTED —
    range-partition by (ts, delta), per-partition cumsums,
    O(#partitions) prefix offsets broadcast back — instead of one
    unpartitioned window task dragging every delta
    (operators/temporal.max_concurrency); 1 row
    (peak_concurrency, peak_start)."""
    from ..operators.temporal import max_concurrency

    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    intervals = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.min("o_orderdate").alias("s"),
            F.max("l_shipdate").alias("e"),
        )
    )
    return max_concurrency(intervals, "s", "e")


@query("q_kcore")  # iterative peel → rows-only by contract
def q_kcore(spark, sf_dir):
    """3-core census of the customer↔supplier purchase graph (the
    PageRank graph): iteratively peel degree<3 nodes to the maximal
    subgraph where everyone keeps ≥3 partners — the density filter run
    before centrality so tendrils don't waste cycles. Per-round
    checkpoint + release (CC hygiene); 1 row
    (k, n_core_nodes, min_core_degree)."""
    from ..operators.graph import k_core

    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
    )
    core = k_core(edges, k=3)
    return core.agg(
        F.lit(3).alias("k"),
        F.count("*").cast("long").alias("n_core_nodes"),
        F.coalesce(F.min("degree"), F.lit(0)).cast("long").alias(
            "min_core_degree"
        ),
    )


@query(
    "q_rolling_range",
    """
    SELECT event_id, user_id, ts, value,
           ROUND(AVG(value) OVER w, 4) AS rolling_avg,
           CAST(COUNT(*) OVER w AS BIGINT) AS rolling_n
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts
      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
    )
    """,
)
def q_rolling_range(spark, sf_dir):
    """Trailing 1-hour event-time moving average per user — the RANGE
    window the tumbling/hopping aggregates can't express (every event
    gets its own trailing frame, not a bucketed one). The frame rides
    ``unix_micros(ts)`` so it is microsecond-exact and peer-safe; one
    user shuffle, one sorted pass, state bounded by wall-clock span
    (operators/timeseries.rolling_time_avg)."""
    events = load_table(spark, sf_dir, "events")
    return rolling_time_avg(
        events.select("event_id", "user_id", "ts", "value"),
        window_seconds=3600,
    )


@query(
    "q_mad_outliers",
    """
    WITH med AS (
      SELECT o_orderpriority, median(o_totalprice) AS med
      FROM orders GROUP BY 1
    ), dev AS (
      SELECT o.o_orderpriority, o.o_totalprice, m.med,
             ABS(o.o_totalprice - m.med) AS adev
      FROM orders o JOIN med m USING (o_orderpriority)
    ), mad AS (
      SELECT o_orderpriority, median(adev) AS mad FROM dev GROUP BY 1
    )
    SELECT d.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN d.adev > 3.5 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(ANY_VALUE(d.med), 4) AS med,
           ROUND(ANY_VALUE(m.mad), 4) AS mad
    FROM dev d JOIN mad m USING (o_orderpriority)
    GROUP BY 1
    """,
)
def q_mad_outliers(spark, sf_dir):
    """Robust outlier census per order priority via median absolute
    deviation — the skew-immune alternative to the z-score flags
    (q_zscore_outliers): a single whale order can drag a mean+stddev
    fence but not a median+MAD one. Two exact-percentile aggregates
    (5-row results, broadcast back — the detail table is scanned, never
    re-shuffled on a fact key) and a final census; cutoff is the
    conventional 3.5 on the 1.4826-normalized robust z
    (operators/profile.mad_outlier_census)."""
    from ..operators.profile import mad_outlier_census

    orders = load_table(spark, sf_dir, "orders")
    return mad_outlier_census(
        orders, "o_orderpriority", "o_totalprice"
    ).withColumnRenamed("grp", "o_orderpriority")


@query(
    "q_histogram",
    """
    WITH bounds AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ), binned AS (
      SELECT LEAST(CAST(FLOOR((o_totalprice - b.lo)
                              / ((b.hi - b.lo) / 20)) AS BIGINT),
                   19) AS bin,
             b.lo, b.hi
      FROM orders, bounds b
    )
    SELECT bin,
           ROUND(ANY_VALUE(lo) + bin * ((ANY_VALUE(hi) - ANY_VALUE(lo)) / 20),
                 4) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM binned GROUP BY bin
    """,
)
def q_histogram(spark, sf_dir):
    """Equi-width 20-bin histogram of order totals: global (min, max)
    as a 1-row broadcast, bin id by pure floor arithmetic (bit-exact in
    both engines — no approximate percentile in the bucketing), top edge
    clamped into the last bin. The detail scan aggregates map-side to
    ≤20 rows; nothing wide ever shuffles."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 20
    binned = orders.join(F.broadcast(bounds)).select(
        F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("long"),
            F.lit(19),
        ).alias("bin"),
        "lo",
        "hi",
    )
    return binned.groupBy("bin").agg(
        F.round(
            F.first("lo") + F.col("bin") * ((F.first("hi") - F.first("lo")) / 20),
            4,
        ).alias("bin_lo"),
        F.count("*").cast("long").alias("n"),
    )


@query(
    "q_group_trend",
    """
    WITH x0 AS (SELECT MIN(epoch_us(ts)) AS t0 FROM events),
    pts AS (
      SELECT event_type, value,
             CAST(epoch_us(ts) - x0.t0 AS DOUBLE) / 1000000.0 AS x
      FROM events, x0
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(value, x) * 86400, 6) AS slope_per_day,
           ROUND(regr_intercept(value, x), 4) AS intercept,
           ROUND(corr(value, x), 6) AS time_corr
    FROM pts GROUP BY 1
    """,
)
def q_group_trend(spark, sf_dir):
    """Per-event-type linear trend of value over time: least-squares
    slope (rescaled to per-day), intercept, and Pearson correlation via
    the SQL regression aggregates — one map-side-combined pass, |types|
    output rows. The time axis is centered on the corpus start (a 1-row
    broadcast min) before the moment sums, so the covariance never
    cancels 10¹⁸-scale epoch products — the difference between a stable
    slope and floating-point noise at 100 TB row counts."""
    events = load_table(spark, sf_dir, "events").select(
        "event_type", "value", F.unix_micros("ts").alias("us")
    )
    t0 = events.agg(F.min("us").alias("t0"))
    pts = events.join(F.broadcast(t0)).select(
        "event_type",
        "value",
        ((F.col("us") - F.col("t0")).cast("double") / 1e6).alias("x"),
    )
    return pts.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.regr_slope("value", "x") * 86400, 6).alias("slope_per_day"),
        F.round(F.regr_intercept("value", "x"), 4).alias("intercept"),
        F.round(F.corr("value", "x"), 6).alias("time_corr"),
    )


@query(
    "q_percent_rank",
    """
    SELECT event_id, event_type, value,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr,
           ROUND(CUME_DIST() OVER w, 6) AS cd
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value)
    """,
)
def q_percent_rank(spark, sf_dir):
    """Per-type percentile normalization of event values — the rank
    transform feature pipelines apply before mixing heterogeneous
    scales (percent_rank) and the empirical CDF (cume_dist). NOT the
    naive row-grain window (which drags every row of a low-cardinality
    key through ONE sorted task — a single-task column sort at 100 TB):
    ranks are computed on the deduplicated (key, value) distribution
    and joined back, with exact SQL tie semantics
    (operators/stats.percent_rank_by_key — hash-equality with the
    window-function oracle is the proof)."""
    from ..operators.stats import percent_rank_by_key

    events = load_table(spark, sf_dir, "events")
    return percent_rank_by_key(
        events.select("event_id", "event_type", "value"),
        "event_type",
        "value",
    ).select("event_id", "event_type", "value", "pr", "cd")


@query(
    "q_window_distinct",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY 1
    """,
)
def q_window_distinct(spark, sf_dir):
    """Distinct actors per tumbling hour — the audience-size census
    (DAU/HAU shape) next to q_tumbling_window_batch's volume census.
    Exact multi-distinct: Catalyst plans one EXPAND pass (rows ×
    distinct-aggs of slim key tuples) — one shuffle, no per-distinct
    rescan; the 100 TB swap is approx_count_distinct (HLL, fixed
    state), same plan shape, pinned via q_approx_distinct/q_hll_merge."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("n_users"),
            F.count_distinct("event_type").alias("n_types"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
            "n_users",
            "n_types",
        )
    )


@query(
    "q_event_trigrams",
    """
    WITH seq AS (
      SELECT event_type AS t1,
             LEAD(event_type) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1, t2, t3, COUNT(*) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, t1, t2, t3
    LIMIT 20
    """,
)
def q_event_trigrams(spark, sf_dir):
    """Top-20 consecutive event-type trigrams across per-user journeys —
    the order-3 sequence-mining step past q_transition_matrix's pairs
    (the difference between "view→cart" and "view→cart→abandon").
    Both leads ride ONE user-partitioned window sort; the trigram
    groupBy is ≤|types|³ rows and the deterministic (n DESC, triple)
    top-20 plans TakeOrderedAndProject, never a global sort."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type").over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .filter(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(20)
    )


@query(
    "q_bfs_hops",
    """
    WITH RECURSIVE e AS (
      SELECT DISTINCT concat('c', o_custkey) AS src,
                      concat('s', l_suppkey) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), sym AS (
      SELECT src, dst FROM e UNION SELECT dst, src FROM e
    ), bfs AS (
      SELECT 'c1' AS node, 0 AS dist
      UNION
      SELECT s.dst, b.dist + 1 FROM bfs b JOIN sym s ON b.node = s.src
      WHERE b.dist < 7
    )
    SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM bfs GROUP BY 1
    """,
)
def q_bfs_hops(spark, sf_dir):
    """Hop distance from customer c1 to every reachable node of the
    customer↔supplier purchase graph (frontier-expansion BFS,
    operators/graph.bfs_hops) — the first ITERATIVE graph operator with
    a full value-hash oracle: DuckDB's recursive CTE computes the same
    minimum distances, so a green hash certifies the whole loop
    (symmetrize → expand → anti-join visited → converge), not just row
    counts. Per-round checkpoint+release, frontier-only joins against
    the persisted co-partitioned edge layout.

    r15: the layout is the shared per-(app, sf_dir) memo
    (advanced_queries._purchase_sym) — bfs_hops' in-operator build
    (edges ∪ reversed, self-loop filter, distinct, repartition("src"))
    is set-identical to it on this self-loop-free bipartite graph, so
    one build per session serves this query, q_closeness,
    q_harmonic_centrality and q_betweenness_sample."""
    from ..operators.graph import bfs_hops
    from .advanced_queries import _purchase_sym

    sym = _purchase_sym(spark, sf_dir)
    seeds = spark.createDataFrame([("c1",)], "node string")
    return bfs_hops(sym, seeds, max_hops=7, sym_layout=sym)


@query(
    "q_trending",
    """
    WITH hourly AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY window_start ORDER BY n DESC, event_type
           ) AS INTEGER) AS rnk
    FROM hourly QUALIFY rnk <= 3
    """,
)
def q_trending(spark, sf_dir):
    """Top-3 trending event types per tumbling hour — the 'what's hot
    right now' window-top-k every dashboard runs. The rank window rides
    the ALREADY-AGGREGATED hourly counts (|windows|×|types| rows), not
    the event stream, so the second shuffle is tiny; deterministic
    (n DESC, type) tie-break."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("window.start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        hourly.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "rnk",
        )
    )


@query(
    "q_chi_square",
    """
    WITH obs AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2
    ), r AS (SELECT lang, SUM(o) AS rt FROM obs GROUP BY 1),
    c AS (SELECT source, SUM(o) AS ct FROM obs GROUP BY 1),
    t AS (SELECT SUM(o) AS n FROM obs),
    grid AS (
      SELECT r.lang, c.source, r.rt, c.ct, t.n,
             COALESCE(obs.o, 0) AS o,
             CAST(r.rt AS DOUBLE) * c.ct / t.n AS e
      FROM r CROSS JOIN c CROSS JOIN t
      LEFT JOIN obs USING (lang, source)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((COUNT(DISTINCT lang) - 1)
                * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof,
           ROUND(SUM((o - e) * (o - e) / e), 4) AS chi2
    FROM grid
    """,
)
def q_chi_square(spark, sf_dir):
    """Chi-square independence test of language × source over the
    corpus — the drift/bias detector ('does this source skew toward a
    language?') run before mixing domains. The contingency grid is the
    CROSS JOIN of the two marginal tables (5×20 rows, both broadcast-
    sized — the full grid matters because zero-observed cells still
    contribute their expectation), left-joined with observed counts;
    the detail table is scanned once for the (lang, source) aggregate
    and never again."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    r = obs.groupBy("lang").agg(F.sum("o").alias("rt"))
    c = obs.groupBy("source").agg(F.sum("o").alias("ct"))
    t = obs.agg(F.sum("o").alias("n"))
    grid = (
        r.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(t))
        .join(obs, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            (F.col("rt").cast("double") * F.col("ct") / F.col("n")).alias("e"),
        )
    )
    diff = F.col("o") - F.col("e")
    return grid.agg(
        F.count("*").cast("long").alias("n_cells"),
        (
            (F.count_distinct("lang") - 1)
            * (F.count_distinct("source") - 1)
        )
        .cast("long")
        .alias("dof"),
        F.round(F.sum(diff * diff / F.col("e")), 4).alias("chi2"),
    )


@query(
    "q_psi",
    """
    WITH bounds AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ), binned AS (
      SELECT LEAST(CAST(FLOOR((o_totalprice - b.lo)
                              / ((b.hi - b.lo) / 10)) AS BIGINT), 9) AS bin,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END AS is_a
      FROM orders, bounds b
    ), counts AS (
      SELECT bin,
             CAST(SUM(is_a) AS BIGINT) AS n_a,
             CAST(SUM(1 - is_a) AS BIGINT) AS n_b
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT bin, n_a, n_b,
             SUM(n_a) OVER () AS ta, SUM(n_b) OVER () AS tb
      FROM counts
    )
    SELECT bin, n_a, n_b,
           ROUND(
             ((n_a + 0.5) / (ta + 5.0) - (n_b + 0.5) / (tb + 5.0))
             * ln(((n_a + 0.5) / (ta + 5.0)) / ((n_b + 0.5) / (tb + 5.0))),
             6) AS psi_term
    FROM tot
    """,
)
def q_psi(spark, sf_dir):
    """Population stability index of the order-total distribution,
    pre-1998 vs after — THE drift gate between a training snapshot and
    fresh data (PSI > 0.2 = retrain). Equi-width bins from a 1-row
    global bounds broadcast (bit-exact floor bucketing, as
    q_histogram); per-bin counts for both populations in ONE side-
    tagged aggregate pass; +0.5/bin Laplace smoothing keeps empty bins
    finite deterministically. The totals window runs over the ≤10-row
    bin aggregate, never the detail."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 10
    binned = orders.join(F.broadcast(bounds)).select(
        F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("long"),
            F.lit(9),
        ).alias("bin"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("is_a"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum("is_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("n_b"),
    )
    wt = Window.partitionBy()
    pa = (F.col("n_a") + 0.5) / (F.sum("n_a").over(wt) + 5.0)
    pb = (F.col("n_b") + 0.5) / (F.sum("n_b").over(wt) + 5.0)
    return counts.select(
        "bin",
        "n_a",
        "n_b",
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
    )


@query(
    "q_geo_rollup",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation, """
    + sql_exact_sum("o.o_totalprice")
    + """ AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, revenue,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY region), 6)
             AS share_of_region,
           ROUND(revenue / SUM(revenue) OVER (), 6) AS share_of_total
    FROM rev
    """,
)
def q_geo_rollup(spark, sf_dir):
    """Revenue share at two hierarchy levels — each nation's share of
    its region and of the world — the drill-path census every
    geo dashboard opens with. The dimension chain
    customer→nation→region broadcasts onto ONE fact scan (three
    broadcast hash joins, zero fact shuffles before the group-by);
    both share windows ride the |nations|-row aggregate; exact-decimal
    revenue so shares are bit-identical cross-engine."""
    orders, customer, nation, region = load_tables(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    rev = (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(exact_sum("o_totalprice").alias("revenue"))
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        "revenue",
        F.round(
            F.col("revenue") / F.sum("revenue").over(w_region), 6
        ).alias("share_of_region"),
        F.round(F.col("revenue") / F.sum("revenue").over(w_all), 6).alias(
            "share_of_total"
        ),
    )


@query(
    "q_sourcing_depth",
    """
    WITH ps AS (
      SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_suppliers, """
    + sql_exact_sum("l_extendedprice * (1 - l_discount)")
    + """ AS spend
      FROM lineitem GROUP BY 1
    ), t AS (
      SELECT SUM(spend) AS total,
             quantile_cont(CAST(n_suppliers AS DOUBLE), 0.5) AS med
      FROM ps
    )
    SELECT CASE WHEN n_suppliers < t.med THEN 'below_median'
                ELSE 'at_or_above' END AS sourcing,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(MIN(n_suppliers) AS BIGINT) AS min_suppliers,
           ROUND(CAST(SUM(CAST(spend AS DECIMAL(18,6))) AS DOUBLE)
                 / ANY_VALUE(t.total), 6) AS spend_share
    FROM ps, t GROUP BY 1
    """,
)
def q_sourcing_depth(spark, sf_dir):
    """Supply-chain concentration risk, data-relative: how much spend
    flows through parts sourced from FEWER suppliers than the median
    part — the 'thin-supply tail' procurement census (absolute
    thresholds are meaningless across corpus scales; the median splits
    any universe). One part-grain aggregate (distinct suppliers +
    exact-decimal spend), one 2-value broadcast (total, exact median),
    two-bucket census."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    ps = lineitem.groupBy("l_partkey").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        exact_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("spend"),
    )
    t = ps.agg(
        F.sum("spend").alias("total"),
        F.expr("percentile(CAST(n_suppliers AS DOUBLE), 0.5)").alias("med"),
    )
    bucket = F.when(
        F.col("n_suppliers") < F.col("med"), "below_median"
    ).otherwise("at_or_above")
    return (
        ps.crossJoin(F.broadcast(t))
        .groupBy(bucket.alias("sourcing"))
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.min("n_suppliers").cast("long").alias("min_suppliers"),
            F.round(
                F.sum(F.col("spend").cast("decimal(18,6)")).cast("double")
                / F.first("total"),
                6,
            ).alias("spend_share"),
        )
    )


@query(
    "q_behavior_entropy",
    """
    WITH ut AS (
      SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT user_id, SUM(c) AS n FROM ut GROUP BY 1
    )
    SELECT ut.user_id,
           CAST(ANY_VALUE(tot.n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(-SUM((CAST(ut.c AS DOUBLE) / tot.n)
                      * ln(CAST(ut.c AS DOUBLE) / tot.n)), 6) AS entropy
    FROM ut JOIN tot USING (user_id) GROUP BY ut.user_id
    """,
)
def q_behavior_entropy(spark, sf_dir):
    """Per-user behavioral diversity: Shannon entropy (nats) of each
    user's event-type distribution — 0 = one-note bots, ln(5) ≈ 1.609
    = perfectly mixed usage; the engagement-diversity feature churn
    models lean on. Two aggregates over the same (user, type) grain —
    the totals join back co-partitioned on the user key, nothing
    re-scans the event table."""
    events = load_table(spark, sf_dir, "events")
    ut = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("c")
    )
    tot = ut.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        ut.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("n").cast("long").alias("n_events"),
            F.count("*").cast("long").alias("n_types"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
    )


@query(
    "q_abc_classification",
    """
    WITH rev AS (
      SELECT l_suppkey, """
    + sql_exact_sum("l_extendedprice * (1 - l_discount)")
    + """ AS r
      FROM lineitem GROUP BY 1
    ), ranked AS (
      SELECT l_suppkey, r,
             SUM(r) OVER (ORDER BY r DESC, l_suppkey
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(r) OVER () AS total
      FROM rev
    ), classed AS (
      SELECT CASE WHEN cum <= 0.8 * total THEN 'A'
                  WHEN cum <= 0.95 * total THEN 'B'
                  ELSE 'C' END AS class,
             r, total
      FROM ranked
    )
    SELECT class, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE)
                 / ANY_VALUE(total), 6) AS revenue_share
    FROM classed GROUP BY 1
    """,
)
def q_abc_classification(spark, sf_dir):
    """Pareto/ABC supplier classification: descending-revenue running
    share cut at 80%/95% — the 'which 20% carries 80%' inventory-
    policy census. The ranking windows run over the SUPPLIER-grain
    aggregate (a bounded dimension — ~10⁶ rows even at 100 TB facts;
    the prefix-offset pattern is the swap if the ranked dimension ever
    stops being bounded); exact-decimal revenue makes the cum/total
    comparisons bit-identical cross-engine."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = lineitem.groupBy("l_suppkey").agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "r"
        )
    )
    w_cum = Window.orderBy(F.col("r").desc(), "l_suppkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    ranked = rev.select(
        "r",
        F.sum("r").over(w_cum).alias("cum"),
        F.sum("r").over(w_all).alias("total"),
    )
    classed = ranked.select(
        F.when(F.col("cum") <= 0.8 * F.col("total"), "A")
        .when(F.col("cum") <= 0.95 * F.col("total"), "B")
        .otherwise("C")
        .alias("class"),
        "r",
        "total",
    )
    return classed.groupBy("class").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.round(
            F.sum(F.col("r").cast("decimal(18,6)")).cast("double")
            / F.first("total"),
            6,
        ).alias("revenue_share"),
    )


@query(
    "q_conversion_paths",
    """
    WITH lagged AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events
    ), marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM lagged
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ), paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sess GROUP BY 1, 2
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM paths WHERE path LIKE '%purchase'
    GROUP BY path ORDER BY n DESC, path LIMIT 15
    """,
)
def q_conversion_paths(spark, sf_dir):
    """Top-15 session paths ending in a purchase — 'which journeys
    convert', the path-analysis layer over the sessionizer (same
    30-minute gap rule, operators/sessionize.sessionize). The ordered
    path assembles per session via array_sort(collect_list(struct)) —
    rows never leave their session partition a second time — and only
    the |distinct paths| aggregate shuffles again; top-15 plans
    TakeOrderedAndProject."""
    from ..operators.sessionize import sessionize

    events = load_table(spark, sf_dir, "events")
    sess = sessionize(events)
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
        .filter(F.col("path").endswith("purchase"))
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(15)
    )


@query(
    "q_attribution",
    """
    WITH seq AS (
      SELECT user_id, event_type, value, ts, event_id,
             FIRST_VALUE(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS first_touch,
             LAG(CASE WHEN event_type <> 'purchase' THEN event_type END
                 IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS last_touch
      FROM events
    )
    SELECT first_touch, COALESCE(last_touch, 'none') AS last_touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases, """
    + sql_exact_sum("value")
    + """ AS revenue
    FROM seq WHERE event_type = 'purchase' GROUP BY 1, 2
    """,
)
def q_attribution(spark, sf_dir):
    """First-touch × last-touch purchase attribution: every purchase
    credits the channel that ACQUIRED the user (their first event type
    ever) and the channel that CONVERTED them (most recent non-purchase
    action before the sale) — the two-model comparison marketing
    analytics runs to settle budget fights. Both attributions ride ONE
    user-partitioned window sort (first_value + ignore-nulls lag);
    revenue sums are exact-decimal."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        "value",
        F.first("event_type").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("first_touch"),
        # Spark's lag() has no IGNORE NULLS: "most recent non-null
        # strictly before this row" is last(..., ignorenulls) over a
        # frame ending at the previous row
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("last_touch"),
    ).filter(F.col("event_type") == "purchase")
    return seq.groupBy(
        "first_touch",
        F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
    ).agg(
        F.count("*").cast("long").alias("n_purchases"),
        exact_sum("value").alias("revenue"),
    )


@query(
    "q_rfm_segments",
    """
    WITH mx AS (SELECT MAX(o_orderdate) AS m FROM orders),
    cust AS (
      SELECT o_custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       CAST(mx.m AS DATE)) AS recency,
             COUNT(*) AS frequency, """
    + sql_exact_sum("o_totalprice")
    + """ AS monetary
      FROM orders, mx GROUP BY o_custkey, mx.m
    ), scored AS (
      SELECT NTILE(3) OVER (ORDER BY recency DESC, o_custkey) AS r,
             NTILE(3) OVER (ORDER BY frequency, o_custkey) AS f,
             NTILE(3) OVER (ORDER BY monetary, o_custkey) AS m
      FROM cust
    )
    SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY 1, 2, 3
    """,
)
def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation census: every customer scored 1–3 on
    recency (days since last order, recent = high), frequency, and
    monetary (exact-decimal spend), then counted per (r, f, m) cell —
    the classic '333 = champions, 111 = lost' grid. Tie-breaks pin
    NTILE determinism (custkey total order). The ntile windows run over
    the CUSTOMER-grain aggregate, not the order table; at 100 TB swap
    ntile for percentile-threshold joins (the q_curriculum_buckets
    pattern) — same contract, no single-partition sort."""
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("m"))
    cust = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.to_date(F.first("m")), F.to_date(F.max("o_orderdate"))
            ).alias("recency"),
            F.count("*").alias("frequency"),
            exact_sum("o_totalprice").alias("monetary"),
        )
    )
    scored = cust.select(
        F.ntile(3)
        .over(Window.orderBy(F.col("recency").desc(), "o_custkey"))
        .alias("r"),
        F.ntile(3).over(Window.orderBy("frequency", "o_custkey")).alias("f"),
        F.ntile(3).over(Window.orderBy("monetary", "o_custkey")).alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").cast("long").alias("n_customers")
    )


@query(
    "q_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
           l_quantity AS value
    FROM lineitem WHERE l_orderkey < 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey < 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey < 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def q_unpivot(spark, sf_dir):
    """Wide→long reshape (melt) of the lineitem measures — the inverse
    of the pivot family (q_pivot_count) and the shape feature stores
    and metric tables want: one (entity, metric, value) row per
    measure. Spark's native ``unpivot`` plans an EXPAND (rows ×
    measures of slim tuples) in a single scan — the oracle's UNION ALL
    of four scans is the relational spec, not the plan."""
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 1000
    )
    return lineitem.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    ).withColumn("metric", F.regexp_replace("metric", "^l_", ""))


@query(
    "q_target_encode",
    """
    WITH g AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, """
    + sql_exact_sum("o_totalprice")
    + """ AS s
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           ROUND(CASE WHEN g.n > 1
                      THEN (g.s - o.o_totalprice) / (g.n - 1) END, 4)
             AS te_loo
    FROM orders o JOIN g USING (o_orderpriority)
    """,
)
def q_target_encode(spark, sf_dir):
    """Leave-one-out target encoding of order priority by mean total —
    the feature-engineering primitive whose WHOLE point is the leakage
    subtlety: each row's encoding excludes its own target, computed
    closed-form as (group_sum − x)/(n−1) so no per-row re-aggregation
    ever runs. Group sums are exact-decimal (bit-identical
    cross-engine); the category table broadcasts back onto one detail
    scan. Singleton groups encode NULL (no leave-one-out exists)."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        exact_sum("o_totalprice").alias("s"),
    )
    return orders.join(F.broadcast(g), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(
            F.when(
                F.col("n") > 1,
                (F.col("s") - F.col("o_totalprice")) / (F.col("n") - 1),
            ),
            4,
        ).alias("te_loo"),
    )


@query(
    "q_growth_accounting",
    """
    WITH uw AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ), tagged AS (
      SELECT user_id, wk,
             LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
      FROM uw
    ), weekly AS (
      SELECT wk,
             CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(SUM(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN prev_wk = wk - 7 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN prev_wk IS NOT NULL AND prev_wk < wk - 7
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM tagged GROUP BY 1
    )
    SELECT wk, n_active, n_new, n_retained, n_resurrected,
           CAST(COALESCE(LAG(n_active) OVER (ORDER BY wk), 0) - n_retained
                AS BIGINT) AS n_churned
    FROM weekly
    """,
)
def q_growth_accounting(spark, sf_dir):
    """Weekly growth accounting — every active user classified as
    new / retained / resurrected, plus churn derived as
    last-week-active − this-week-retained: the standard DAU/WAU
    decomposition behind 'is growth new users or resurrection'. One
    (user, week) dedup shuffle, one user-partitioned lag, one weekly
    aggregate; the churn lag window rides the |weeks|-row table."""
    events = load_table(spark, sf_dir, "events")
    uw = events.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    wu = Window.partitionBy("user_id").orderBy("wk")
    tagged = uw.withColumn("prev_wk", F.lag("wk").over(wu))
    weekly = tagged.groupBy("wk").agg(
        F.count("*").cast("long").alias("n_active"),
        F.sum(F.when(F.col("prev_wk").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(
            F.when(F.col("prev_wk") == F.date_sub("wk", 7), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_wk").isNotNull()
                & (F.col("prev_wk") < F.date_sub("wk", 7)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
    )
    ww = Window.orderBy("wk")
    return weekly.select(
        "wk",
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        (
            F.coalesce(F.lag("n_active").over(ww), F.lit(0))
            - F.col("n_retained")
        )
        .cast("long")
        .alias("n_churned"),
    )


@query(
    "q_label_centroids",
    """
    WITH flat AS (
      SELECT label, unnest(embedding) AS x,
             unnest(range(1, len(embedding) + 1)) AS i
      FROM embeddings
    ), dims AS (
      SELECT label, i, AVG(x) AS c FROM flat GROUP BY 1, 2
    ), norms AS (
      SELECT label, sqrt(SUM(c * c)) AS nrm FROM dims GROUP BY 1
    )
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(SUM(a.c * b.c) / (ANY_VALUE(na.nrm) * ANY_VALUE(nb.nrm)),
                 4) AS cosine
    FROM dims a
    JOIN dims b ON a.i = b.i AND a.label < b.label
    JOIN norms na ON na.label = a.label
    JOIN norms nb ON nb.label = b.label
    GROUP BY 1, 2
    """,
)
def q_label_centroids(spark, sf_dir):
    """Inter-label centroid cosine matrix over the embedding table —
    'which classes live near each other in embedding space', the
    cluster-quality / taxonomy-collapse diagnostic. Pure relational:
    posexplode to (label, dim, value), per-(label, dim) means, then a
    centroid self-join on the dim key — |labels|²·dim work on
    |labels|·dim rows, never touching the raw vectors twice. The
    centroid frame is broadcast-sized by construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).alias("i"))
        .agg(F.avg("x").alias("c"))
    )
    norms = dims.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = dims.select(F.col("label").alias("label_a"), "i", F.col("c").alias("ca"))
    b = dims.select(F.col("label").alias("label_b"), "i", F.col("c").alias("cb"))
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
    return (
        a.join(b, "i")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
        .join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias(
                "cosine"
            ),
        )
    )


@query(
    "q_forecast_backtest",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, day, n,
             LAG(n, 1) OVER w AS f_naive,
             LAG(n, 7) OVER w AS f_snaive
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(ABS(CAST(n - f_naive AS DOUBLE))), 4) AS mae_naive,
           ROUND(AVG(ABS(CAST(n - f_snaive AS DOUBLE))), 4) AS mae_snaive
    FROM lagged WHERE f_snaive IS NOT NULL GROUP BY 1
    """,
)
def q_forecast_backtest(spark, sf_dir):
    """Forecast-model backtest per event type: MAE of the naive
    (yesterday) vs seasonal-naive (same weekday last week) predictors
    of daily volume — the baseline pair every forecasting effort must
    beat, and the shape of any rolling-origin evaluation. One daily
    aggregate, one type-partitioned lag window over observed days,
    |types| output rows; integer counts keep the MAEs exact."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "n",
        F.lag("n", 1).over(w).alias("f_naive"),
        F.lag("n", 7).over(w).alias("f_snaive"),
    ).filter(F.col("f_snaive").isNotNull())
    return lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(
            F.avg(F.abs((F.col("n") - F.col("f_naive")).cast("double"))), 4
        ).alias("mae_naive"),
        F.round(
            F.avg(F.abs((F.col("n") - F.col("f_snaive")).cast("double"))), 4
        ).alias("mae_snaive"),
    )


@query(
    "q_seasonality",
    """
    WITH cells AS (
      SELECT dayofweek(ts) + 1 AS dow, EXTRACT(hour FROM ts) AS hod,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT dow, CAST(hod AS BIGINT) AS hod, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY dow), 6) AS share_of_day
    FROM cells
    """,
)
def q_seasonality(spark, sf_dir):
    """Hour-of-day × day-of-week activity heat grid with within-day
    shares — the seasonality profile batch jobs schedule around and
    anomaly baselines normalize by. One map-side-combined aggregate to
    ≤168 cells; the share window rides that tiny grid. (Week-day
    numbering pinned to Spark's 1=Sunday convention; the oracle
    offsets DuckDB's 0-based dayofweek to match.)"""
    events = load_table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").cast("long").alias("hod")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("dow")
    return cells.select(
        "dow",
        "hod",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("share_of_day"),
    )


@query(
    "q_survival",
    """
    WITH mn AS (SELECT MIN(ts) + INTERVAL 5 DAY AS horizon FROM events),
    raw AS (
      SELECT user_id, MIN(ts) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM events GROUP BY 1
    ), u AS (
      SELECT user_id,
             CASE WHEN tp IS NOT NULL AND tp < mn.horizon THEN 1 ELSE 0 END
               AS death,
             CASE WHEN tp IS NOT NULL AND tp < mn.horizon
                  THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
                  ELSE date_diff('day', CAST(t0 AS DATE),
                                 CAST(mn.horizon AS DATE))
             END AS t
      FROM raw, mn WHERE t0 < mn.horizon
    ), per_t AS (
      SELECT t, CAST(SUM(death) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leave_n
      FROM u GROUP BY t
    ), risk AS (
      SELECT t, d,
             CAST(SUM(leave_n) OVER () AS BIGINT)
               - CAST(COALESCE(SUM(leave_n) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      FROM per_t
    )
    SELECT t, n_risk, d,
           ROUND(EXP(SUM(CASE WHEN d > 0 AND d < n_risk
                              THEN ln(1 - CAST(d AS DOUBLE) / n_risk)
                              ELSE 0 END) OVER (
                   ORDER BY t ROWS UNBOUNDED PRECEDING)), 6) AS s
    FROM risk WHERE d > 0
    """,
)
def q_survival(spark, sf_dir):
    """Kaplan–Meier product-limit curve of time-to-first-purchase with
    a 5-day administrative horizon: users who have not purchased by
    the horizon are CENSORED at it, not counted as never-converting —
    the estimator naive conversion averages get wrong precisely
    because of that censoring. Per-user aggregate (one shuffle), then
    every window runs over the per-duration table, whose size is
    bounded by the horizon in days — never the user table; S(t) is
    exp(Σ ln(1−d/n)), the log-domain form both engines evaluate
    identically to 6 dp. Censoring math pinned on a hand-built cohort
    in tests/test_drift.py."""
    events = load_table(spark, sf_dir, "events")
    mn = events.agg(
        (F.min("ts") + F.expr("INTERVAL 5 DAY")).alias("horizon")
    )
    raw = events.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
    )
    dead = F.col("tp").isNotNull() & (F.col("tp") < F.col("horizon"))
    u = (
        raw.crossJoin(F.broadcast(mn))
        .filter(F.col("t0") < F.col("horizon"))
        .select(
            "user_id",
            F.when(dead, 1).otherwise(0).alias("death"),
            F.when(
                dead, F.datediff(F.to_date("tp"), F.to_date("t0"))
            )
            .otherwise(F.datediff(F.to_date("horizon"), F.to_date("t0")))
            .alias("t"),
        )
    )
    per_t = u.groupBy("t").agg(
        F.sum("death").cast("long").alias("d"),
        F.count("*").cast("long").alias("leave_n"),
    )
    w_prev = (
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # total enrolled = full-frame sum over the same ≤horizon-row table —
    # a second reference to `u` (count + crossJoin back) would replay
    # the user aggregate AND duplicate the 1-row horizon broadcast in
    # the plan (the whole-repo BNLJ invariant caught exactly that)
    w_all = Window.partitionBy()
    risk = per_t.select(
        "t",
        "d",
        (
            F.sum("leave_n").over(w_all)
            - F.coalesce(F.sum("leave_n").over(w_prev), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.log(1 - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(0.0)
    return (
        risk.select(
            "t", "n_risk", "d", F.round(F.exp(F.sum(term).over(w_cum)), 6).alias("s")
        )
        .filter(F.col("d") > 0)
    )


@query(
    "q_ab_test",
    """
    WITH conv AS (
      SELECT user_id, user_id % 2 AS grp,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS c
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN grp = 0 THEN c ELSE 0 END) AS BIGINT)
               AS conv_a,
             CAST(SUM(CASE WHEN grp = 1 THEN c ELSE 0 END) AS BIGINT)
               AS conv_b
      FROM conv
    )
    SELECT n_a, n_b, conv_a, conv_b,
           ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS p_a,
           ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS p_b,
           ROUND((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 4) AS z
    FROM s
    """,
)
def q_ab_test(spark, sf_dir):
    """Two-proportion z-test of heavy-buyer conversion (≥14 purchases
    — the fixture's median, so neither arm is degenerate), users split
    by id parity — the experimentation primitive (pooled-variance z;
    |z| > 1.96 = significant at 5%). One user-grain aggregate then a
    1-row census; every step is integer counts, exact divisions, and
    one sqrt — bit-identical cross-engine, no tolerance needed."""
    events = load_table(spark, sf_dir, "events")
    conv = events.groupBy(
        "user_id", (F.col("user_id") % 2).alias("grp")
    ).agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14
        )
        .cast("int")
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
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (pa - pb) / F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return s.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.round(z, 4).alias("z"),
    )


@query(
    "q_hhi",
    """
    WITH rev AS (
      SELECT l_suppkey, """
    + sql_exact_sum("l_extendedprice * (1 - l_discount)")
    + """ AS r
      FROM lineitem GROUP BY 1
    ), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers,
                    SUM(r) AS total FROM rev)
    SELECT t.n_suppliers,
           ROUND(SUM((rev.r / t.total) * (rev.r / t.total)) * 10000, 4)
             AS hhi
    FROM rev, t GROUP BY t.n_suppliers
    """,
)
def q_hhi(spark, sf_dir):
    """Herfindahl–Hirschman concentration of supplier revenue (×10⁴,
    the antitrust scaling: <1500 unconcentrated, >2500 concentrated) —
    the 'is this corpus/market dominated by a few sources' census.
    One supplier aggregate (exact-decimal revenue sums so shares are
    bit-identical cross-engine) + a 1-row broadcast total."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = lineitem.groupBy("l_suppkey").agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "r"
        )
    )
    t = rev.agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.sum("r").alias("total"),
    )
    share = F.col("r") / F.col("total")
    return (
        rev.crossJoin(F.broadcast(t))
        .groupBy("n_suppliers")
        .agg(F.round(F.sum(share * share) * 10000, 4).alias("hhi"))
        .select("n_suppliers", "hhi")
    )


@query(
    "q_gini",
    """
    WITH spend AS (
      SELECT o_custkey, """
    + sql_exact_sum("o_totalprice")
    + """ AS x
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS rn FROM spend
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(
             (2 * CAST(SUM(CAST(rn * x AS DECIMAL(18,6))) AS DOUBLE)
              - (COUNT(*) + 1) * CAST(SUM(CAST(x AS DECIMAL(18,6)))
                                      AS DOUBLE))
             / (COUNT(*) * CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)),
             6) AS gini
    FROM ranked
    """,
)
def q_gini(spark, sf_dir):
    """Gini coefficient of per-customer spend — the inequality measure
    behind 'how skewed is engagement/revenue/corpus mass'. Needs a
    GLOBAL rank of every customer by spend: that is exactly
    operators/ordering.global_sort_index (range-partitioned sort +
    O(#partitions) broadcast offsets), so no single-task unpartitioned
    window ever runs. Spends and both rank-weighted sums are
    exact-decimal, making the statistic bit-identical cross-engine."""
    from ..operators.ordering import global_sort_index

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        exact_sum("o_totalprice").alias("x")
    )
    ranked = global_sort_index(
        spend, [F.col("x"), F.col("o_custkey")], index_col="i"
    ).withColumn("rn", F.col("i") + 1)
    n = F.count("*")
    sx = F.sum(F.col("x").cast("decimal(18,6)")).cast("double")
    srx = F.sum((F.col("rn") * F.col("x")).cast("decimal(18,6)")).cast(
        "double"
    )
    return ranked.agg(
        n.cast("long").alias("n_customers"),
        F.round((2 * srx - (n + 1) * sx) / (n * sx), 6).alias("gini"),
    )


@query(
    "q_ks_test",
    """
    WITH s AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END AS ia
      FROM orders WHERE o_totalprice IS NOT NULL
    ), pv AS (
      SELECT v, SUM(ia) AS a_n, SUM(1 - ia) AS b_n FROM s GROUP BY v
    ), t AS (
      SELECT CAST(SUM(a_n) AS DOUBLE) AS na, CAST(SUM(b_n) AS DOUBLE) AS nb
      FROM pv
    ), r AS (
      SELECT v,
             ABS(CAST(SUM(a_n) OVER w AS DOUBLE) / t.na
                 - CAST(SUM(b_n) OVER w AS DOUBLE) / t.nb) AS d
      FROM pv, t
      WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    ), peak AS (SELECT MAX(d) AS dmax FROM r)
    SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
           ROUND(peak.dmax, 6) AS ks, MIN(r.v) AS ks_at
    FROM r, peak, t WHERE r.d = peak.dmax GROUP BY t.na, t.nb, peak.dmax
    """,
)
def q_ks_test(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov statistic, pre-1998 order
    totals vs after — the binning-free drift test next to q_psi (no
    bucket choices to defend; D is the max CDF gap over EVERY distinct
    value). Distributed: per-value pre-aggregation, then the prefix-
    offset running-count pattern (range partition + per-partition
    cumsums + O(#partitions) broadcast offsets) — never an
    unpartitioned one-task window. Integer counts and single IEEE
    divisions make D and its argmin bit-identical cross-engine, so the
    oracle hash-checks the EXACT statistic
    (operators/stats.ks_statistic)."""
    from ..operators.stats import ks_statistic

    orders = load_table(spark, sf_dir, "orders")
    tagged = orders.select(
        "o_totalprice",
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("is_a"),
    )
    return ks_statistic(tagged, "o_totalprice", "is_a")


@query(
    "q_mutual_info",
    """
    WITH obs AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2
    ), r AS (SELECT lang, SUM(o) AS rt FROM obs GROUP BY 1),
    c AS (SELECT source, SUM(o) AS ct FROM obs GROUP BY 1),
    t AS (SELECT CAST(SUM(o) AS DOUBLE) AS n FROM obs)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(SUM((obs.o / t.n)
                     * ln(obs.o * t.n / (r.rt * CAST(c.ct AS DOUBLE)))), 6)
             AS mi_nats
    FROM obs JOIN r USING (lang) JOIN c USING (source), t
    """,
)
def q_mutual_info(spark, sf_dir):
    """Mutual information I(lang; source) in nats — chi-square's
    sibling that MEASURES the dependence strength instead of testing
    it (0 = independent; the feature-selection score for 'does source
    predict language'). Only observed cells contribute (o·ln(o…) → 0
    as o → 0), so no grid completion is needed: the marginals join
    back as broadcasts onto the |cells| aggregate — one detail scan."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    r = obs.groupBy("lang").agg(F.sum("o").alias("rt"))
    c = obs.groupBy("source").agg(F.sum("o").alias("ct"))
    t = obs.agg(F.sum("o").cast("double").alias("n"))
    cells = (
        obs.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(t))
    )
    term = (F.col("o") / F.col("n")) * F.log(
        F.col("o") * F.col("n") / (F.col("rt") * F.col("ct").cast("double"))
    )
    return cells.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.round(F.sum(term), 6).alias("mi_nats"),
    )


@query(
    "q_interarrival",
    """
    WITH gaps AS (
      SELECT event_type,
             CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS DOUBLE) / 1000000.0 AS gap_s
      FROM events
    )
    SELECT event_type,
           COUNT(gap_s) AS n_gaps,
           ROUND(quantile_cont(gap_s, 0.5), 4) AS p50_gap_s,
           ROUND(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s
    FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1
    """,
)
def q_interarrival(spark, sf_dir):
    """Inter-arrival gap distribution per event type: the engagement-
    cadence statistic behind session-gap tuning (the 30-minute
    sessionizer cutoff should sit in this distribution's tail) and
    churn models. Gaps attribute to the LATER event's type; one
    user-partitioned lag window (the sessionizer's shuffle), then a
    |types|-row exact-percentile aggregate — swap percentile_approx at
    100 TB, same plan shape."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = events.select(
        "event_type",
        ((us - F.lag(us).over(w)).cast("double") / 1e6).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        F.round(F.percentile("gap_s", 0.5), 4).alias("p50_gap_s"),
        F.round(F.percentile("gap_s", 0.9), 4).alias("p90_gap_s"),
    )


@query("q_stream_dedup")  # runs a real availableNow stream → rows-only
def q_stream_dedup(spark, sf_dir):
    """Driver-visible exactly-once ingestion census: 20% planted
    duplicates land in RANDOM files (copies arrive in different
    micro-batches), and dropDuplicatesWithinWatermark must drop them
    from cross-batch state — the dedup guarantee q_incremental_dedup
    makes for batch, certified for the streaming path. One row
    (n_landed, n_stream, n_batch, equal)
    (streaming/events.dedup_parity_report)."""
    from ..streaming.events import dedup_parity_report

    return dedup_parity_report(spark, sf_dir)


@query("q_cm_sketch")  # xxhash64 bucketing → not DuckDB-expressible; rows-only
def q_cm_sketch(spark, sf_dir):
    """Count-Min point-frequency sketch over part keys with the error
    driver-visible: (key, exact_n, cm_est, overcount) for the 20
    hottest parts — overcount is ≥ 0 by construction (one-sided error)
    and ≤ e·N/width in expectation. The sketch is relational (explode +
    groupBy to depth×width integer rows) and LINEAR, so sharded
    ingestion merges by plain SUM — the frequency member of the
    mergeable-sketch family next to q_hll_merge (distinct) and
    q_approx_quantiles (quantiles) (operators/sketches.cm_sketch_report)."""
    from ..operators.sketches import cm_sketch_report

    lineitem = load_table(spark, sf_dir, "lineitem")
    return cm_sketch_report(lineitem, "l_partkey", depth=4, width=256)


@query("q_label_prop")  # iterative vote loop → rows-only by contract
def q_label_prop(spark, sf_dir):
    """Top-10 communities of the customer↔supplier purchase graph by
    label propagation (operators/graph.label_propagation): closed-
    neighborhood voting with min-label tie-break, 5 fixed rounds —
    deterministic, reproducible community structure where CC sees one
    blob and k-core only thresholds density. The graph keeps only
    STRONG ties (≥3 distinct co-orders) — on the raw graph every node
    touches every region and LPA correctly reports one blob; the
    thresholded graph is where community structure lives. Emits
    (label, n_nodes) for the 10 largest communities, (size DESC, label)
    ordered — TakeOrderedAndProject, no global sort."""
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
    labels = label_propagation(edges, n_iter=5)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy(F.col("n_nodes").desc(), "label")
        .limit(10)
    )


@query(
    "q_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 4)
             AS p
    FROM pairs
    """,
)
def q_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) from consecutive pairs in
    (ts, event_id) order — the behavioral model behind next-action
    prediction and funnel diagnostics. One user-partitioned lead()
    window (same shuffle the sessionizer uses), then a pair groupBy
    whose output is |types|² rows — the normalizing per-from_type sum
    rides a window over that tiny aggregate, never the event stream."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt), 4).alias("p"),
    )
