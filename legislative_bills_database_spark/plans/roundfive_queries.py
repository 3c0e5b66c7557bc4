"""Round-5 phase-19 queries: star-schema rollup, portable KMV distinct
sketch, interval-union coverage, hash-certified connected components and
weighted shortest paths, MDM survivorship, embedding drift, and the
hashing-trick vectorizer.

Two themes: (a) close the gap between "iterative graph op exists" and
"iterative graph op is VALUE-HASH-PROVEN" (q_cc_labels / q_sssp follow
q_bfs_hops / q_closeness: every label-propagation round and Bellman-Ford
sweep is certified by a DuckDB twin, not just row-counted), and (b) the
warehouse classics a reference user reaches for daily — the multiway
star join the R scripts approximate with chained merge() calls
(legiscan_main.R's bill↔person↔session merges), duplicate-record
survivorship, and union-of-intervals time accounting.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.compat import exact_sum, sql_exact_sum
from ..io import load_table, load_tables, scratch_dir
from ..session import checkpoint_round, memo, scoped_conf
from .registry import query


# ---------------------------------------------------------------------------
# Star-schema rollup (TPC-H Q5 shape)
# ---------------------------------------------------------------------------


@query(
    "q_star_join",
    f"""
    SELECT n.n_name,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND({sql_exact_sum("l.l_extendedprice * (1 - l.l_discount)")}, 2)
             AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY 1, 2
    """,
)
def q_star_join(spark, sf_dir):
    """Local-supplier revenue by nation and year for one region — the
    TPC-H Q5 star shape, and the engine analog of the reference's
    chained merge() pipelines (legiscan_main.R joins bills→people→
    sessions one merge at a time). Physical posture: every dimension
    (region→nation→customer chain, supplier) is broadcast — at bench SF
    AQE broadcasts every join and the only hash exchange left is the
    final per-(nation, year) aggregation; at cluster scale the one wide
    exchange is the orders⋈lineitem orderkey join, which co-located
    bucketing removes (q_bucketed_join demonstrates exactly that), and
    the aggregation ships map-side partials only. The s_nationkey =
    c_nationkey local-supplier predicate rides the broadcast join
    condition, not a post-join filter."""
    region, nation, customer, supplier, orders, lineitem = load_tables(
        spark, sf_dir, "region", "nation", "customer", "supplier",
        "orders", "lineitem",
    )
    dim = (
        region.filter(F.col("r_name") == "ASIA")
        .join(nation, nation.n_regionkey == region.r_regionkey)
        .join(customer, customer.c_nationkey == nation.n_nationkey)
        .select("n_name", "n_nationkey", "c_custkey")
    )
    facts = (
        orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supplier),
            (supplier.s_suppkey == lineitem.l_suppkey)
            & (supplier.s_nationkey == F.col("n_nationkey")),
        )
    )
    return facts.groupBy(
        "n_name", F.year("o_orderdate").cast("long").alias("yr")
    ).agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            2,
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# KMV distinct sketch (engine-portable, estimate itself hash-checked)
# ---------------------------------------------------------------------------

from ..operators.sketches import kmv_distinct_report, sql_kmv_distinct  # noqa: E402


@query("q_kmv_distinct", sql_kmv_distinct("lineitem", "l_partkey", k=256))
def q_kmv_distinct(spark, sf_dir):
    """K-minimum-values distinct-count sketch over l_partkey
    (operators/sketches.kmv_distinct_report): md5-ranked bottom-k, so
    the ESTIMATE — not just a row count — hash-matches the DuckDB twin,
    which the xxhash64-register HLL pair (q_hll_merge, q_approx_distinct)
    structurally cannot. The bottom-k selection is a TakeOrdered
    (per-partition top-k then O(k) merge), the mergeable shape that
    unions per-shard sketches without rescanning; rel_err lands ~1/√k
    (≈6% at k=256), emitted as a column so the driver sees the
    accuracy, not only the estimate."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return kmv_distinct_report(lineitem, "l_partkey", k=256)


# ---------------------------------------------------------------------------
# Interval-union coverage
# ---------------------------------------------------------------------------

from ..operators.temporal import interval_union_length  # noqa: E402


@query(
    "q_interval_coverage",
    """
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + 300000000 AS e
      FROM events
    ), marked AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1
                  WHEN MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL THEN 1
                  ELSE 0 END AS new_island
      FROM iv
    ), runs AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    ), islands AS (
      SELECT user_id, island, COUNT(*) AS n_iv,
             MIN(s) AS island_s, MAX(e) AS island_e
      FROM runs GROUP BY 1, 2
    )
    SELECT user_id AS key,
           CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(island_e - island_s) AS BIGINT) AS covered
    FROM islands GROUP BY 1
    """,
)
def q_interval_coverage(spark, sf_dir):
    """Per-user active time as the UNION of 5-minute activity intervals
    (operators/temporal.interval_union_length): overlapping sessions
    merge before summing, so concurrent events never double-bill —
    the gaps-and-islands merge in one exchange (both windows and both
    aggregates share the user_id partitioning), versus the naive
    per-minute explode that costs O(duration) rows per interval."""
    events = load_table(spark, sf_dir, "events")
    iv = events.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + 300_000_000).alias("e"),
    )
    return interval_union_length(iv, "user_id", "s", "e")


# ---------------------------------------------------------------------------
# Hash-certified connected components + weighted shortest paths over the
# sampled co-purchase graph
# ---------------------------------------------------------------------------

_COPURCHASE_EDGES = """
    e AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst,
             CAST(MIN(CAST(a.l_quantity + b.l_quantity AS BIGINT)) AS BIGINT)
               AS w
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 97 = 0
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT src, dst, w FROM e
      UNION ALL
      SELECT dst, src, w FROM e
    )
"""


def _copurchase_edges(spark, sf_dir):
    """(src, dst, w) canonical a<b co-purchase edges over the %97 order
    sample: parts bought together in one sampled order, weight = min
    total quantity over linking orders. The a<b self-join is an
    equi-join on l_orderkey (shuffle-hash, never a theta join); the %97
    sample bounds the clique fan-out the way any real co-occurrence
    pipeline bounds baskets.

    Session-memoized as an EAGER checkpoint: ~19 call sites across the
    graph-query family (SSSP, CC, label prop, PPR, MIS, Borůvka,
    critical path, random walk, Markov …) share it, and several
    reference the frame from multiple union legs in one action (the r14
    multi-consumer rule wants eager). The edge frame is
    %97-sample-bounded (≈6 k rows at sf0.1)."""

    def build():
        li = load_table(spark, sf_dir, "lineitem").filter(
            F.col("l_orderkey") % 97 == 0
        )
        a = li.select("l_orderkey", F.col("l_partkey").alias("src"),
                      F.col("l_quantity").alias("qa"))
        b = li.select("l_orderkey", F.col("l_partkey").alias("dst"),
                      F.col("l_quantity").alias("qb"))
        return (
            a.join(b, "l_orderkey")
            .filter(F.col("src") < F.col("dst"))
            .groupBy("src", "dst")
            .agg(
                F.min((F.col("qa") + F.col("qb")).cast("long")).alias("w")
            )
        ).localCheckpoint(eager=True)

    return memo(spark, sf_dir, "copurchase_edges", build)


@query(
    "q_cc_labels",
    f"""
    WITH RECURSIVE {_COPURCHASE_EDGES},
    nodes AS (
      SELECT DISTINCT src AS node FROM sym
    ),
    r AS (
      SELECT node, node AS label FROM nodes
      UNION
      SELECT s.dst, r.label FROM r JOIN sym s ON r.node = s.src
    ),
    lab AS (SELECT node, MIN(label) AS label FROM r GROUP BY 1)
    SELECT CAST(label AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM lab GROUP BY 1
    """,
)
def q_cc_labels(spark, sf_dir):
    """Connected-component census of the co-purchase graph with a FULL
    value-hash proof: every (node → min-label) assignment from
    operators/dedup.connected_components (union-find fast path under
    the 2M-edge bound, checkpointed pointer-jumping loop above it) must
    agree with the DuckDB recursive min-label fixpoint. q_near_dedup_
    corpus exercises the same operator rows-only on LSH pairs; this
    query pins its SEMANTICS, component for component, so a labeling
    bug (e.g. a split component) fails the driver hash, not just a
    pytest invariant."""
    from ..operators.dedup import connected_components

    edges = _copurchase_edges(spark, sf_dir)
    pairs = edges.select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    ids = (
        pairs.select(F.col("id_a").alias("node"))
        .union(pairs.select("id_b"))
        .distinct()
    )
    labels = connected_components(pairs, ids, id_col="node")
    return labels.groupBy(
        F.col("component").cast("long").alias("component")
    ).agg(F.count("*").cast("long").alias("n_parts"))


def _sql_sssp(rounds: int) -> str:
    steps = [
        """
    r0 AS (
      SELECT (SELECT MIN(src) FROM sym) AS node, CAST(0 AS BIGINT) AS dist
    )"""
    ]
    for i in range(1, rounds + 1):
        steps.append(f"""
    r{i} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM r{i - 1}
        UNION ALL
        SELECT s.dst AS node, p.dist + s.w AS dist
        FROM r{i - 1} p JOIN sym s ON p.node = s.src
      ) GROUP BY 1
    )""")
    return f"""
    WITH {_COPURCHASE_EDGES},
    {",".join(steps)}
    SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist
    FROM r{rounds}
    """


@query("q_sssp", _sql_sssp(6))
def q_sssp(spark, sf_dir):
    """Weighted shortest paths from the smallest co-purchase node, hop-
    bounded at 6 relaxation sweeps (operators/graph.shortest_paths).
    Third hash-proven iterative operator after q_bfs_hops/q_closeness —
    here the oracle chains six explicit min-merge CTE sweeps, so the
    value hash certifies each Bellman-Ford round's join + min-merge,
    with integral weights keeping min-costs exact in both engines.
    Physical shape per sweep: one join against the src-partitioned
    persisted edge list + one groupBy(node) min, distance frame
    localCheckpoint-ed so plan depth stays O(1)."""
    from ..operators.graph import shortest_paths

    edges = _copurchase_edges(spark, sf_dir)
    sym = edges.unionByName(
        edges.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "w",
        )
    )
    seeds = sym.agg(F.min("src").alias("node"))
    return shortest_paths(sym, seeds, rounds=6)


# ---------------------------------------------------------------------------
# Survivorship (MDM golden record)
# ---------------------------------------------------------------------------


@query(
    "q_survivorship",
    """
    WITH g AS (
      SELECT o_custkey,
             strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS dup_date,
             o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
             CAST(COUNT(*) OVER (
               PARTITION BY o_custkey, CAST(o_orderdate AS DATE))
               AS BIGINT) AS n_dups,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
               PARTITION BY o_custkey, CAST(o_orderdate AS DATE))
               AS DOUBLE) AS merged_total
      FROM orders
    )
    SELECT o_custkey, dup_date,
           o_orderkey AS survivor_orderkey,
           n_dups,
           ROUND(o_totalprice, 2) AS kept_price,
           ROUND(merged_total, 2) AS merged_price
    FROM g WHERE rn = 1 AND n_dups >= 2
    """,
)
def q_survivorship(spark, sf_dir):
    """Duplicate-record survivorship: orders by the same customer on
    the same day are a duplicate group; the golden record is the
    highest-value order (orderkey as the deterministic tiebreak), with
    the group's merged total carried alongside — the master-data-
    management step after any dedup pass, here in ONE window shuffle
    (rank, census, and merged sum all share the (custkey, day)
    partitioning; no self-join back to the group)."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.date_format("o_orderdate", "yyyy-MM-dd")
    w = Window.partitionBy("o_custkey", day)
    w_rank = w.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    g = orders.select(
        "o_custkey",
        day.alias("dup_date"),
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w).cast("long").alias("n_dups"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("merged_total"),
    )
    return g.filter((F.col("rn") == 1) & (F.col("n_dups") >= 2)).select(
        "o_custkey",
        "dup_date",
        F.col("o_orderkey").alias("survivor_orderkey"),
        "n_dups",
        F.round("o_totalprice", 2).alias("kept_price"),
        F.round("merged_total", 2).alias("merged_price"),
    )


# ---------------------------------------------------------------------------
# Embedding drift
# ---------------------------------------------------------------------------


@query(
    "q_embedding_drift",
    """
    WITH x AS (
      SELECT vec_id % 2 AS grp,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), agg AS (
      SELECT CAST(dim AS BIGINT) AS dim,
             ROUND(CAST(SUM(CASE WHEN grp = 0
                       THEN CAST(v AS DECIMAL(18,6)) END) AS DOUBLE)
                   / COUNT(CASE WHEN grp = 0 THEN 1 END), 6) AS mean_a,
             ROUND(CAST(SUM(CASE WHEN grp = 1
                       THEN CAST(v AS DECIMAL(18,6)) END) AS DOUBLE)
                   / COUNT(CASE WHEN grp = 1 THEN 1 END), 6) AS mean_b
      FROM x GROUP BY 1
    ), ranked AS (
      SELECT dim, mean_a, mean_b,
             ROUND(mean_b - mean_a, 6) AS shift,
             ROW_NUMBER() OVER (
               ORDER BY ABS(ROUND(mean_b - mean_a, 6)) DESC, dim ASC)
               AS rk
      FROM agg
    )
    SELECT dim, mean_a, mean_b, shift FROM ranked WHERE rk <= 5
    """,
)
def q_embedding_drift(spark, sf_dir):
    """Per-dimension embedding centroid drift between two populations
    (even/odd vec_id standing in for yesterday/today): top-5 dimensions
    by |mean shift| — the distribution-drift monitor a feature store
    runs on every embedding refresh. Slim (grp, dim, v) triples are the
    only shuffled rows (posexplode at the scan, never the full array);
    per-dim conditional decimal sums give order-insensitive means, so
    the drift ranking is exact and engine-portable. The final top-5 is
    a 1-task TakeOrdered over |dims| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        (F.col("vec_id") % 2).alias("grp"),
        F.posexplode("embedding").alias("dim", "v"),
    ).select("grp", "dim", F.col("v").cast("double").alias("v"))
    dec = F.col("v").cast("decimal(18,6)")
    agg = x.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.round(
            F.sum(F.when(F.col("grp") == 0, dec)).cast("double")
            / F.count(F.when(F.col("grp") == 0, F.lit(1))),
            6,
        ).alias("mean_a"),
        F.round(
            F.sum(F.when(F.col("grp") == 1, dec)).cast("double")
            / F.count(F.when(F.col("grp") == 1, F.lit(1))),
            6,
        ).alias("mean_b"),
    )
    ranked = agg.select(
        "dim", "mean_a", "mean_b",
        F.round(F.col("mean_b") - F.col("mean_a"), 6).alias("shift"),
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(
                F.abs(F.col("shift")).desc(), F.col("dim").asc()
            )
        ),
    )
    return ranked.filter(F.col("rk") <= 5).drop("rk")


# ---------------------------------------------------------------------------
# Hashing-trick vectorizer
# ---------------------------------------------------------------------------


def _sql_feature_bucket(tok_expr: str) -> str:
    def nib(pos: int) -> str:
        c = f"ascii(substring(md5({tok_expr}), {pos}, 1))"
        return f"({c} - CASE WHEN {c} >= 97 THEN 87 ELSE 48 END)"

    return f"(({nib(1)} * 16 + {nib(2)}) * 16 + {nib(3)})"


@query(
    "q_feature_hash",
    f"""
    WITH tok AS (
      SELECT doc_id, lower(unnest(string_split(text, ' '))) AS tok
      FROM documents
    ), b AS (
      SELECT doc_id, {_sql_feature_bucket("tok")} AS bucket
      FROM tok WHERE tok <> ''
    ), agg AS (
      SELECT CAST(bucket AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM b GROUP BY 1
    ), ranked AS (
      SELECT bucket, n_tokens, n_docs,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, bucket ASC) AS rk
      FROM agg
    )
    SELECT bucket, n_tokens, n_docs FROM ranked WHERE rk <= 20
    """,
)
def q_feature_hash(spark, sf_dir):
    """Hashing-trick (feature-hashing) vectorizer census: tokens map to
    a fixed 4096-bucket space via three engine-portable md5 nibbles —
    the unbounded-vocabulary answer (no dictionary to build, broadcast,
    or version) used by every large-scale linear/CTR featurizer. Top-20
    buckets by token mass, with per-bucket document frequency. Zero
    Python: explode → nibble arithmetic → one (bucket) aggregation;
    the doc-frequency COUNT(DISTINCT doc_id) rides the same shuffle as
    the token count (partial-distinct map-side), and the top-20 is a
    TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split("text", " ")).alias("raw"),
    ).select("doc_id", F.lower("raw").alias("tok")).filter(
        F.col("tok") != ""
    )
    h = F.md5("tok")

    def nib(pos: int):
        a = F.ascii(F.substring(h, pos, 1))
        return a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))

    bucket = ((nib(1) * 16 + nib(2)) * 16 + nib(3)).cast("long")
    agg = tok.select(bucket.alias("bucket"), "doc_id").groupBy(
        "bucket"
    ).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    ranked = agg.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("n_tokens").desc(), F.col("bucket").asc())
        ),
    )
    return ranked.filter(F.col("rk") <= 20).drop("rk")


# ---------------------------------------------------------------------------
# Phase 20: fuzzy decontamination, QQ deciles, autocorrelation,
# categorical drift
# ---------------------------------------------------------------------------

from ..functions import text as T  # noqa: E402


@query(
    "q_fuzzy_decontaminate",
    f"""
    WITH bsh AS (
      SELECT doc_id AS bid,
             unnest(list_distinct({T.sql_shingles("string_split(text, ' ')", 3)}))
               AS s
      FROM documents WHERE doc_id % 97 = 0
    ), tsh AS (
      SELECT doc_id AS tid,
             unnest(list_distinct({T.sql_shingles("string_split(text, ' ')", 3)}))
               AS s
      FROM documents WHERE doc_id % 97 <> 0
    ), bdeg AS (
      SELECT bid, CAST(COUNT(*) AS BIGINT) AS db FROM bsh GROUP BY 1
    ), tdeg AS (
      SELECT tid, CAST(COUNT(*) AS BIGINT) AS dt FROM tsh GROUP BY 1
    ), inter AS (
      SELECT t.tid, b.bid, CAST(COUNT(*) AS BIGINT) AS ni
      FROM tsh t JOIN bsh b USING (s) GROUP BY 1, 2
    ), j AS (
      SELECT i.tid, i.bid,
             ROUND(CAST(i.ni AS DOUBLE) / (td.dt + bd.db - i.ni), 6)
               AS jaccard
      FROM inter i
      JOIN tdeg td ON i.tid = td.tid
      JOIN bdeg bd ON i.bid = bd.bid
    )
    SELECT tid AS doc_id, bid AS bench_id, jaccard
    FROM j WHERE jaccard >= 0.2
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY tid ORDER BY jaccard DESC, bid ASC) = 1
    """,
)
def q_fuzzy_decontaminate(spark, sf_dir):
    """FUZZY benchmark decontamination: where q_decontaminate kills on
    ANY shared 5-gram (exact containment), this flags training docs
    whose 3-gram Jaccard against some benchmark doc clears 0.2 — the
    paraphrase/partial-overlap contamination the exact rule misses, with
    the best-matching benchmark doc as evidence. Physical shape: the
    benchmark shingle set is bounded by contract and BROADCASTS; the
    training side is one explode + broadcast join aggregated to slim
    (tid, bid, ni) triples — intersection counts, never shingle lists,
    are the only shuffled rows; per-doc degrees re-join at count grain.
    At 100 TB the 0-match training majority never leaves its scan."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.text import shingles, tokens

    sh = lambda side: F.explode(  # noqa: E731
        F.array_distinct(shingles(tokens(F.col("text")), 3))
    ).alias("s")
    bsh = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bid"), sh("b")
    )
    tsh = docs.filter(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("tid"), sh("t")
    )
    bdeg = bsh.groupBy("bid").agg(F.count("*").cast("long").alias("db"))
    tdeg = tsh.groupBy("tid").agg(F.count("*").cast("long").alias("dt"))
    inter = (
        tsh.join(F.broadcast(bsh), "s")
        .groupBy("tid", "bid")
        .agg(F.count("*").cast("long").alias("ni"))
    )
    j = (
        inter.join(tdeg, "tid")
        .join(F.broadcast(bdeg), "bid")
        .select(
            "tid", "bid",
            F.round(
                F.col("ni").cast("double")
                / (F.col("dt") + F.col("db") - F.col("ni")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )
    best = Window.partitionBy("tid").orderBy(
        F.col("jaccard").desc(), F.col("bid").asc()
    )
    return (
        j.withColumn("rk", F.row_number().over(best))
        .filter(F.col("rk") == 1)
        .select(
            F.col("tid").alias("doc_id"),
            F.col("bid").alias("bench_id"),
            "jaccard",
        )
    )


@query(
    "q_qq_deciles",
    """
    WITH qa AS (
      SELECT quantile_cont(CAST(o_totalprice AS DOUBLE),
                           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
    ), qb AS (
      SELECT quantile_cont(CAST(o_totalprice AS DOUBLE),
                           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'MACHINERY'
    )
    SELECT CAST(i AS BIGINT) AS decile,
           ROUND(qa.qs[i], 4) AS v_building,
           ROUND(qb.qs[i], 4) AS v_machinery,
           ROUND(qb.qs[i] - qa.qs[i], 4) AS gap
    FROM qa CROSS JOIN qb
    CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS i) g
    """,
)
def q_qq_deciles(spark, sf_dir):
    """Quantile-quantile comparison of order value across two market
    segments — the distribution-shift diagnostic that says WHERE two
    populations diverge (tails vs body), where q_ks_test says only by
    how much overall. Each side reduces to ONE 9-value percentile row
    (exact linear-interpolation percentiles, matching quantile_cont);
    the pairing is a 1-row × 1-row broadcast zip + posexplode — no
    fact-side join at any point."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    qs = [i / 10 for i in range(1, 10)]

    def side(segment, name):
        return (
            orders.join(
                F.broadcast(
                    customer.filter(F.col("c_mktsegment") == segment)
                ),
                orders.o_custkey == customer.c_custkey,
            )
            .agg(F.percentile("o_totalprice", qs).alias(name))
        )
    a = side("BUILDING", "qa")
    b = side("MACHINERY", "qb")
    zipped = a.join(b).select(
        F.posexplode(F.zip_with("qa", "qb", lambda x, y: F.struct(
            x.alias("va"), y.alias("vb")
        ))).alias("pos", "v")
    )
    return zipped.select(
        (F.col("pos") + 1).cast("long").alias("decile"),
        F.round(F.col("v.va"), 4).alias("v_building"),
        F.round(F.col("v.vb"), 4).alias("v_machinery"),
        F.round(F.col("v.vb") - F.col("v.va"), 4).alias("gap"),
    )


@query(
    "q_autocorrelation",
    """
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - CAST('1970-01-01' AS DATE) AS BIGINT)
               AS dn,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(n) AS BIGINT) AS sx,
             CAST(SUM(n * n) AS BIGINT) AS sxx
      FROM daily
    ), lags AS (
      SELECT unnest(generate_series(1, 7)) AS lag
    ), pairs AS (
      SELECT l.lag,
             CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(a.n * b.n) AS BIGINT) AS sab,
             CAST(SUM(a.n) AS BIGINT) AS sa,
             CAST(SUM(b.n) AS BIGINT) AS sb
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.dn = a.dn + l.lag
      GROUP BY 1
    )
    SELECT CAST(p.lag AS BIGINT) AS lag, p.np AS n_pairs,
           ROUND(
             (CAST(p.sab AS DOUBLE)
              - (CAST(s.sx AS DOUBLE) / s.nd) * (p.sa + p.sb)
              + p.np * (CAST(s.sx AS DOUBLE) / s.nd)
                     * (CAST(s.sx AS DOUBLE) / s.nd))
             / (CAST(s.sxx AS DOUBLE)
                - CAST(s.sx AS DOUBLE) * s.sx / s.nd),
             6) AS acf
    FROM pairs p CROSS JOIN stats s
    """,
)
def q_autocorrelation(spark, sf_dir):
    """Autocorrelation of the daily event count at lags 1..7 — the
    seasonality detector behind q_seasonality/q_stl_decompose, computed
    the scale-safe way: the fact table reduces to a |days|-row integer
    aggregate FIRST; lagged pairing is an equi-join on day-number + lag
    (never a window over raw events, never a theta join); and every
    moment (Σx, Σx², Σxᵃxᵇ) is an exact BIGINT sum, so the assembled
    double is order-insensitive and engine-portable — products of
    centered doubles would hash-drift under parallel summation."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("dn")
    ).agg(F.count("*").cast("long").alias("n"))
    stats = daily.agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("n").cast("long").alias("sx"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sxx"),
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = daily.select(F.col("dn").alias("da"), F.col("n").alias("na"))
    b = daily.select(F.col("dn").alias("db"), F.col("n").alias("nb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("np"),
            F.sum(F.col("na") * F.col("nb")).cast("long").alias("sab"),
            F.sum("na").cast("long").alias("sa"),
            F.sum("nb").cast("long").alias("sb"),
        )
    )
    mu = F.col("sx").cast("double") / F.col("nd")
    out = pairs.join(F.broadcast(stats)).select(
        F.col("lag").cast("long").alias("lag"),
        F.col("np").alias("n_pairs"),
        F.round(
            (
                F.col("sab").cast("double")
                - mu * (F.col("sa") + F.col("sb"))
                + F.col("np") * mu * mu
            )
            / (
                F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx") / F.col("nd")
            ),
            6,
        ).alias("acf"),
    )
    return out


@query(
    "q_category_drift",
    """
    WITH a AS (
      SELECT o_orderpriority AS v, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01'
      GROUP BY 1
    ), b AS (
      SELECT o_orderpriority AS v, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      GROUP BY 1
    ), ta AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM a),
    tb AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM b)
    SELECT COALESCE(a.v, b.v) AS value,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_before,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS n_after,
           ROUND(CAST(COALESCE(a.n, 0) AS DOUBLE) / ta.t, 6) AS share_before,
           ROUND(CAST(COALESCE(b.n, 0) AS DOUBLE) / tb.t, 6) AS share_after,
           ROUND(ABS(CAST(COALESCE(b.n, 0) AS DOUBLE) / tb.t
                     - CAST(COALESCE(a.n, 0) AS DOUBLE) / ta.t), 6) AS drift
    FROM a FULL OUTER JOIN b ON a.v = b.v
    CROSS JOIN ta CROSS JOIN tb
    """,
)
def q_category_drift(spark, sf_dir):
    """Categorical distribution drift across a time split — per-value
    share shift (the total-variation-distance decomposition), the
    data-quality monitor for enum/categorical columns where q_psi's
    numeric binning doesn't apply. Both snapshots reduce to value-grain
    counts before the FULL OUTER reconciliation (values appearing on
    only one side surface with share 0, the case a naive inner join
    silently drops); totals ride as 1-row broadcasts."""
    orders = load_table(spark, sf_dir, "orders")
    split = F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp")
    a = (
        orders.filter(split)
        .groupBy(F.col("o_orderpriority").alias("v"))
        .agg(F.count("*").cast("long").alias("na"))
    )
    b = (
        orders.filter(~split)
        .groupBy(F.col("o_orderpriority").alias("v"))
        .agg(F.count("*").cast("long").alias("nb"))
    )
    ta = a.agg(F.sum("na").cast("long").alias("t_a"))
    tb = b.agg(F.sum("nb").cast("long").alias("t_b"))
    merged = (
        a.join(b, "v", "full_outer")
        .select(
            F.col("v").alias("value"),
            F.coalesce("na", F.lit(0)).cast("long").alias("n_before"),
            F.coalesce("nb", F.lit(0)).cast("long").alias("n_after"),
        )
        .join(F.broadcast(ta))
        .join(F.broadcast(tb))
    )
    share_a = F.col("n_before").cast("double") / F.col("t_a")
    share_b = F.col("n_after").cast("double") / F.col("t_b")
    return merged.select(
        "value", "n_before", "n_after",
        F.round(share_a, 6).alias("share_before"),
        F.round(share_b, 6).alias("share_after"),
        F.round(F.abs(share_b - share_a), 6).alias("drift"),
    )


# ---------------------------------------------------------------------------
# Phase 21: XML source layer (Spark 4 native spark-xml)
# ---------------------------------------------------------------------------


@query(
    "q_xml_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_xml_roundtrip(spark, sf_dir):
    """XML source/sink roundtrip via Spark 4's NATIVE xml format — the
    third file format after parquet/ORC, and the one the reference's
    domain actually ships data in (LegiScan datasets are base64'd
    JSON/XML payloads, legiscan_data_pull.R:61). The dimension is
    written rowTag-per-record, read back with an EXPLICIT schema
    (schema inference on XML costs a full extra pass at scale — never
    infer on 100 TB), and content-verified against the parquet-backed
    oracle."""
    path = scratch_dir("xml") + "/nation"
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    (
        nation.write.format("xml")
        .mode("overwrite")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(path)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey long, n_name string, n_regionkey long")
        .load(path)
    )


@query(
    "q_from_xml",
    """
    SELECT o_orderkey,
           o_custkey AS cust,
           o_orderpriority AS prio
    FROM orders WHERE o_orderkey % 191 = 0
    """,
)
def q_from_xml(spark, sf_dir):
    """Embedded-XML field extraction with ``from_xml`` — the in-row
    sibling of the q_json_scan props parse, for feeds that deliver XML
    payload columns (the LegiScan bill-text shape). A deterministic
    XML fragment is synthesized per sampled order, then parsed back
    through the real from_xml expression path with an explicit struct
    schema; the oracle checks the extracted fields against the source
    columns, proving parse-extract identity. Pure codegen expression —
    no UDF, no driver round-trip."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 191 == 0
    )
    xml = F.concat(
        F.lit("<order><cust>"),
        F.col("o_custkey"),
        F.lit("</cust><prio>"),
        F.col("o_orderpriority"),
        F.lit("</prio></order>"),
    )
    parsed = orders.select(
        "o_orderkey",
        F.from_xml(xml, "cust long, prio string").alias("x"),
    )
    return parsed.select(
        "o_orderkey",
        F.col("x.cust").alias("cust"),
        F.col("x.prio").alias("prio"),
    )


# ---------------------------------------------------------------------------
# Phase 22: interval-overlap join, per-domain contribution cap,
# percent-of-parent rollup
# ---------------------------------------------------------------------------


@query(
    "q_interval_join",
    """
    WITH a AS (
      SELECT event_id AS aid, user_id,
             epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e
      FROM events WHERE event_id % 7 = 0
    ), b AS (
      SELECT event_id AS bid, user_id,
             epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e
      FROM events WHERE event_id % 7 = 1
    )
    SELECT a.aid, b.bid,
           CAST(LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS BIGINT)
             AS overlap_us
    FROM a JOIN b ON a.user_id = b.user_id
                 AND a.s < b.e AND b.s < a.e
    """,
)
def q_interval_join(spark, sf_dir):
    """INTERVAL-OVERLAP join (two interval sets, same user): which
    activity windows from stream A overlap which from stream B — the
    temporal-join sibling of q_asof_join (nearest-past point) and
    q_range_join (point-in-interval). Scale strategy: each interval
    explodes to its covering fixed-width buckets (width = interval
    length ⇒ ≤2 buckets/row), the join is a hash equi-join on
    (user, bucket) — never the theta join the BETWEEN predicate would
    plan — duplicate bucket-pair hits collapse with a distinct at pair
    grain, and the exact overlap predicate re-verifies after the
    bucket recall stage. Oracle = the quadratic overlap theta-join."""
    events = load_table(spark, sf_dir, "events")
    width = 600_000_000  # bucket = interval width → ≤2 buckets per row

    def side(mod, idc):
        return events.filter(F.col("event_id") % 7 == mod).select(
            F.col("event_id").alias(idc),
            F.col("user_id").alias(f"u_{idc}"),
            F.unix_micros("ts").alias(f"s_{idc}"),
            (F.unix_micros("ts") + width).alias(f"e_{idc}"),
        )

    a, b = side(0, "aid"), side(1, "bid")
    buckets = lambda s, e: F.sequence(  # noqa: E731
        F.floor(F.col(s) / width), F.floor((F.col(e) - 1) / width)
    )
    ax = a.withColumn("bk", F.explode(buckets("s_aid", "e_aid")))
    bx = b.withColumn("bk", F.explode(buckets("s_bid", "e_bid")))
    pairs = (
        ax.join(
            bx,
            (ax.u_aid == bx.u_bid) & (ax.bk == bx.bk),
        )
        .filter(
            (F.col("s_aid") < F.col("e_bid"))
            & (F.col("s_bid") < F.col("e_aid"))
        )
        .select(
            "aid", "bid",
            (
                F.least("e_aid", "e_bid") - F.greatest("s_aid", "s_bid")
            ).cast("long").alias("overlap_us"),
        )
        .distinct()  # a pair can meet in two adjacent buckets
    )
    return pairs


@query(
    "q_domain_cap",
    """
    WITH ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN rk <= 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rk <= 50 THEN doc_id ELSE 0 END) AS BIGINT)
             AS kept_id_sum
    FROM ranked GROUP BY 1
    """,
)
def q_domain_cap(spark, sf_dir):
    """Per-domain contribution cap — at most 50 docs per source, chosen
    by engine-portable md5(doc_id) order (a deterministic uniform
    shuffle, so the cap samples the domain rather than keeping its
    first-ingested prefix — the mixture-control step that stops one
    crawl domain from dominating a training corpus; q_data_mixture
    reweights, this HARD-caps). The census carries kept_id_sum so the
    oracle certifies the EXACT selected set, not just its size. One
    window shuffle at (source) grain; the rank never leaves the
    executor."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select(
        "source", "doc_id", F.row_number().over(w).alias("rk")
    )
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(F.col("rk") <= 50, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("rk") <= 50, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("kept_id_sum"),
    )


@query(
    "q_share_of_parent",
    f"""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             {sql_exact_sum("o.o_totalprice")} AS revenue
      FROM region r
      JOIN nation n ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), reg AS (
      SELECT region, CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE)
               AS reg_rev
      FROM (SELECT region, ROUND(revenue, 2) AS revenue FROM nat)
      GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(CAST(reg_rev AS DECIMAL(18,2))) AS DOUBLE) AS t
      FROM reg
    )
    SELECT nat.region, nat.nation,
           ROUND(nat.revenue, 2) AS revenue,
           ROUND(ROUND(nat.revenue, 2) / reg.reg_rev, 6)
             AS share_of_region,
           ROUND(reg.reg_rev / tot.t, 6) AS region_share
    FROM nat JOIN reg USING (region) CROSS JOIN tot
    """,
)
def q_share_of_parent(spark, sf_dir):
    """Percent-of-parent hierarchical rollup: nation revenue as a share
    of its region, region as a share of the total — the drill-down
    ratio every BI layer needs and naive window-over-raw-facts plans
    recompute at fact grain. Here shares are computed at AGGREGATE
    grain only: facts reduce once to |nations| rows, the region and
    grand totals derive from that tiny frame (broadcast back), so the
    fact table is scanned exactly once. Revenue is rounded to cents
    BEFORE the parent sums, keeping every ratio a pure function of
    already-hashed outputs (engine-portable)."""
    region, nation, customer, orders = load_tables(
        spark, sf_dir, "region", "nation", "customer", "orders"
    )
    dim = (
        region.join(nation, nation.n_regionkey == region.r_regionkey)
        .join(customer, customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "c_custkey",
        )
    )
    nat = (
        orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey)
        .groupBy("region", "nation")
        .agg(F.round(exact_sum("o_totalprice"), 2).alias("revenue"))
    )
    reg = nat.groupBy("region").agg(
        F.sum(F.col("revenue").cast("decimal(18,2)"))
        .cast("double")
        .alias("reg_rev")
    )
    tot = reg.agg(
        F.sum(F.col("reg_rev").cast("decimal(18,2)"))
        .cast("double")
        .alias("t")
    )
    return (
        nat.join(F.broadcast(reg), "region")
        .join(F.broadcast(tot))
        .select(
            "region", "nation", "revenue",
            F.round(F.col("revenue") / F.col("reg_rev"), 6).alias(
                "share_of_region"
            ),
            F.round(F.col("reg_rev") / F.col("t"), 6).alias(
                "region_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Phase 23: sketch algebra (join-cardinality estimate), bitmap day-set
# rollup, integer-exact Markov stationary distribution
# ---------------------------------------------------------------------------

_KMV_K = 256


def _sql_kmv_est(cte: str) -> str:
    """(k-1)/frac estimate over a one-column hash CTE, exact below k."""

    def nib(pos: int) -> str:
        c = f"ascii(substring(hx, {pos}, 1))"
        return f"({c} - CASE WHEN {c} >= 97 THEN 87 ELSE 48 END)"

    num = f"CAST({nib(1)} AS BIGINT)"
    for p in range(2, 9):
        num = f"({num} * 16 + {nib(p)})"
    return f"""(
      SELECT CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE {float(_KMV_K - 1)}
                       / (GREATEST(MAX(CAST({num} AS DOUBLE)), 1.0)
                          / {float(1 << 32)})
             END
      FROM (SELECT hx FROM {cte} ORDER BY hx LIMIT {_KMV_K})
    )"""


@query(
    "q_join_card_est",
    f"""
    WITH ha AS (
      SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS hx FROM orders
    ), hb AS (
      SELECT DISTINCT md5(CAST(c_custkey AS VARCHAR)) AS hx
      FROM customer WHERE c_acctbal > 0
    ), hu AS (
      SELECT hx FROM ha UNION SELECT hx FROM hb
    ), est AS (
      SELECT ROUND({_sql_kmv_est("ha")}, 2) AS est_a,
             ROUND({_sql_kmv_est("hb")}, 2) AS est_b,
             ROUND({_sql_kmv_est("hu")}, 2) AS est_union
    )
    SELECT est_a, est_b, est_union,
           ROUND(est_a + est_b - est_union, 2) AS est_inter,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ha JOIN hb USING (hx))
             AS exact_inter
    FROM est
    """,
)
def q_join_card_est(spark, sf_dir):
    """Pre-join cardinality ESTIMATION from KMV sketch algebra: distinct
    active customers ∩ positive-balance customers via inclusion-
    exclusion over three bottom-k sketches (A, B, and their union —
    KMV's union is just bottom-k of the merged hash stream, the
    mergeability q_kmv_distinct establishes). Where q_join_fanout
    answers the planning question exactly by scanning both sides at
    count grain, this answers it from k-row sketches that could have
    been computed YESTERDAY per shard — the sketch-algebra tradeoff,
    with the exact intersection alongside so the error is driver-
    visible. All hashes md5-portable, so even the estimates hash-match
    the oracle."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")

    def hashes(df, col):
        return (
            df.select(F.col(col).cast("string").alias("s"))
            .distinct()
            .select(F.md5("s").alias("hx"))
        )

    ha = hashes(orders, "o_custkey").persist()
    hb = hashes(
        customer.filter(F.col("c_acctbal") > 0), "c_custkey"
    ).persist()
    hu = ha.union(hb).distinct()

    def nib(pos):
        a = F.ascii(F.substring(F.col("hx"), pos, 1))
        return (
            a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))
        ).cast("long")

    num = nib(1)
    for p in range(2, 9):
        num = num * 16 + nib(p)

    def est(df, name):
        return (
            df.orderBy("hx")
            .limit(_KMV_K)
            .select(num.cast("double").alias("num"))
            .agg(
                F.round(
                    F.when(
                        F.count("*") < _KMV_K,
                        F.count("*").cast("double"),
                    ).otherwise(
                        F.lit(float(_KMV_K - 1))
                        / (F.greatest(F.max("num"), F.lit(1.0))
                           / F.lit(float(1 << 32)))
                    ),
                    2,
                ).alias(name)
            )
        )

    exact = ha.join(hb, "hx").agg(
        F.count("*").cast("long").alias("exact_inter")
    )
    out = (
        est(ha, "est_a")
        .join(est(hb, "est_b"))
        .join(est(hu, "est_union"))
        .join(exact)
        .select(
            "est_a", "est_b", "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 2
            ).alias("est_inter"),
            "exact_inter",
        )
    ).localCheckpoint(eager=True)
    ha.unpersist()
    hb.unpersist()
    return out


@query(
    "q_bitmap_rollup",
    """
    WITH base AS (
      SELECT o_orderstatus AS st,
             CAST(CAST(o_orderdate AS DATE)
                  - CAST('1970-01-01' AS DATE) AS BIGINT) AS dn
      FROM orders
    ), lo AS (
      SELECT MIN(dn) AS d0 FROM base
    ), bits AS (
      SELECT st, (dn - d0) // 62 AS word,
             BIT_OR(CAST(1 AS BIGINT) << CAST((dn - d0) % 62 AS INTEGER))
               AS w
      FROM base CROSS JOIN lo GROUP BY 1, 2
    ), pairs AS (
      SELECT a.st AS st_a, b.st AS st_b,
             CAST(SUM(bit_count(a.w)) AS BIGINT) AS words_a_bits,
             CAST(SUM(bit_count(b.w)) AS BIGINT) AS words_b_bits,
             CAST(SUM(bit_count(a.w & b.w)) AS BIGINT) AS days_both
      FROM bits a JOIN bits b ON a.word = b.word AND a.st < b.st
      GROUP BY 1, 2
    ), days AS (
      SELECT st, CAST(COUNT(DISTINCT dn) AS BIGINT) AS days_total
      FROM base GROUP BY 1
    )
    SELECT p.st_a, p.st_b, da.days_total AS days_a,
           db.days_total AS days_b, p.days_both
    FROM pairs p
    JOIN days da ON p.st_a = da.st
    JOIN days db ON p.st_b = db.st
    """,
)
def q_bitmap_rollup(spark, sf_dir):
    """Bitmap-index set algebra: each order status's active-day SET
    folds into 62-day bitset words via BIT_OR aggregation (62, not 64:
    bit 63 is the sign bit and DuckDB's checked BIGINT refuses 1<<63 —
    the roaring-bitmap pattern, sign-safe in every engine); co-active
    days between statuses are then
    SUM(bit_count(a & b)) over word-aligned joins — set intersection
    WITHOUT touching row grain again. The same shape answers audience-
    overlap / retention-set questions at 100 TB: bitmaps are built
    map-side (≤ days/64 longs per group), move once, and every set
    operation afterwards is word-wise AND/OR on kilobyte frames."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderstatus").alias("st"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("dn"),
    )
    lo = base.agg(F.min("dn").alias("d0"))
    off = F.col("dn") - F.col("d0")
    bits = (
        base.join(F.broadcast(lo))
        .select(
            "st",
            F.floor(off / 62).cast("long").alias("word"),
            # F.shiftleft only takes a literal shift — call the SQL
            # function directly for a column shift (bloom.py precedent)
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (off % 62).cast("int")
            ).alias("m"),
        )
        .groupBy("st", "word")
        .agg(F.bit_or("m").alias("w"))
    )
    a = bits.select(
        F.col("st").alias("st_a"), "word", F.col("w").alias("wa")
    )
    b = bits.select(
        F.col("st").alias("st_b"), "word", F.col("w").alias("wb")
    )
    pairs = (
        a.join(b, "word")
        .filter(F.col("st_a") < F.col("st_b"))
        .groupBy("st_a", "st_b")
        .agg(
            F.sum(F.bit_count(F.col("wa").bitwiseAND(F.col("wb"))))
            .cast("long")
            .alias("days_both")
        )
    )
    days = base.groupBy("st").agg(
        F.countDistinct("dn").cast("long").alias("days_total")
    )
    return (
        pairs.join(
            F.broadcast(days.select(F.col("st").alias("st_a"),
                                    F.col("days_total").alias("days_a"))),
            "st_a",
        )
        .join(
            F.broadcast(days.select(F.col("st").alias("st_b"),
                                    F.col("days_total").alias("days_b"))),
            "st_b",
        )
        .select("st_a", "st_b", "days_a", "days_b", "days_both")
    )


def _sql_markov(rounds: int, scale: int = 100_000_000) -> str:
    steps = [f"""
    r0 AS (
      SELECT st AS state, CAST({scale} // (SELECT n FROM ns) AS BIGINT) AS v
      FROM states
    )"""]
    for i in range(1, rounds + 1):
        steps.append(f"""
    r{i} AS (
      SELECT p.to_type AS state,
             CAST(SUM((r.v * p.pi) // 1000000) AS BIGINT) AS v
      FROM r{i - 1} r JOIN pint p ON r.state = p.from_type
      GROUP BY 1
    )""")
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ), cnt AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ), tot AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY 1
    ), pint AS (
      SELECT c.from_type, c.to_type,
             CAST((c.n * 1000000) // t.t AS BIGINT) AS pi
      FROM cnt c JOIN tot t USING (from_type)
    ), states AS (
      SELECT DISTINCT from_type AS st FROM cnt
    ), ns AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM states
    ),
    {",".join(steps)}
    SELECT state, v AS v_scaled,
           ROUND(CAST(v AS DOUBLE)
                 / (SELECT SUM(v) FROM r{rounds}), 6) AS stationary_p
    FROM r{rounds}
    """


@query("q_markov_stationary", _sql_markov(10))
def q_markov_stationary(spark, sf_dir):
    """Stationary distribution of the q_transition_matrix chain by TEN
    power-iteration sweeps in FIXED-POINT integer arithmetic: transition
    probabilities quantized to parts-per-million BIGINTs, the state
    vector to 1e8, every sweep a floor-divided integer mat-vec — so the
    iterate is bit-identical in any engine and summation order, and the
    DuckDB twin (ten chained CTE sweeps) certifies every round, which a
    floating-point power iteration could never guarantee (parallel
    double sums drift in the last ulp). Mirrors q_sssp's proof pattern
    for linear-algebra iteration; the |types|²-row quantized matrix
    broadcasts, each sweep is a tiny join + integer aggregate."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cnt = (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = cnt.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("t")
    )
    pint = (
        cnt.join(tot, "from_type")
        .select(
            "from_type", "to_type",
            F.expr("n * 1000000 div t").cast("long").alias("pi"),
        )
        .localCheckpoint(eager=True)  # bounded |types|^2 frame, reused 10x
    )
    states = pint.select(
        F.col("from_type").alias("state")
    ).distinct()
    n_states = states.count()  # bounded: |event types|
    v = states.select(
        "state",
        F.lit(100_000_000 // n_states).cast("long").alias("v"),
    ).localCheckpoint(eager=True)
    for _ in range(10):
        v = checkpoint_round(
            v.join(pint, v.state == pint.from_type)
            .select(
                F.col("to_type").alias("state"),
                F.expr("v * pi div 1000000").alias("vv"),
            )
            .groupBy("state")
            .agg(F.sum("vv").cast("long").alias("v")),
            replaces=v,
        )
    tot_v = v.agg(F.sum("v").alias("tv"))
    return v.join(F.broadcast(tot_v)).select(
        "state",
        F.col("v").alias("v_scaled"),
        F.round(F.col("v").cast("double") / F.col("tv"), 6).alias(
            "stationary_p"
        ),
    )


# ---------------------------------------------------------------------------
# Phase 24: hierarchical tree rollup, differentially-private counts
# ---------------------------------------------------------------------------


@query(
    "q_tree_rollup",
    f"""
    WITH anc AS (
      SELECT unnest(list_distinct(list_filter(
               [o_custkey, o_custkey // 10, o_custkey // 100,
                o_custkey // 1000, o_custkey // 10000],
               x -> x > 0))) AS node,
             o_totalprice AS price
      FROM orders
    )
    SELECT node,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND({sql_exact_sum("price")}, 2) AS subtree_rev
    FROM anc WHERE node < 100 GROUP BY 1
    """,
)
def q_tree_rollup(spark, sf_dir):
    """Hierarchical subtree rollup over an implicit digit-prefix tree
    (node c's parent is c/10 — the org-chart/category-tree/BOM shape):
    every order contributes to ALL its ancestors' subtree totals. The
    scale insight: no recursion and NO JOINS — each fact row explodes
    to its ≤5-node ancestor path (closed-form arithmetic in the scan
    stage), then one map-side-combined aggregate; a recursive-CTE or
    iterative-join formulation would pay one pass per tree level. For
    explicit parent-pointer tables the same shape applies after a
    bounded path-materialization. Output bounded to the top two tree
    levels (node < 100)."""
    orders = load_table(spark, sf_dir, "orders")
    c = F.col("o_custkey")
    anc = orders.select(
        F.explode(
            F.array_distinct(
                F.filter(
                    F.array(
                        c,
                        (c / 10).cast("long"),
                        (c / 100).cast("long"),
                        (c / 1000).cast("long"),
                        (c / 10000).cast("long"),
                    ),
                    lambda x: x > 0,
                )
            )
        ).alias("node"),
        F.col("o_totalprice").alias("price"),
    )
    return (
        anc.filter(F.col("node") < 100)
        .groupBy("node")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(exact_sum("price"), 2).alias("subtree_rev"),
        )
    )


# Discrete-Laplace (two-sided geometric) CDF thresholds for eps=0.5,
# support clipped to ±12 (tail mass < 1e-3). Computed ONCE in Python and
# embedded as literals in BOTH engines, so sampling needs no
# transcendental function at query time — ln()'s last-ulp differences
# across math libraries would break hash parity.
_DP_THRESHOLDS = [
    (-12, 0.000608231), (-11, 0.001611035), (-10, 0.003264378),
    (-9, 0.005990281), (-8, 0.010484534), (-7, 0.017894305),
    (-6, 0.030110953), (-5, 0.0502528), (-4, 0.083461091),
    (-3, 0.138212307), (-2, 0.228481801), (-1, 0.377311037),
    (0, 0.622688963), (1, 0.771518199), (2, 0.861787693),
    (3, 0.916538909), (4, 0.9497472), (5, 0.969889047),
    (6, 0.982105695), (7, 0.989515466), (8, 0.994009719),
    (9, 0.996735622), (10, 0.998388965), (11, 0.999391769),
    (12, 1.0),
]


def _sql_u01(col_expr: str) -> str:
    """Uniform (0,1) from the first 8 md5 nibbles — portable."""

    def nib(pos: int) -> str:
        c = f"ascii(substring(md5({col_expr}), {pos}, 1))"
        return f"({c} - CASE WHEN {c} >= 97 THEN 87 ELSE 48 END)"

    num = f"CAST({nib(1)} AS BIGINT)"
    for p in range(2, 9):
        num = f"({num} * 16 + {nib(p)})"
    return f"(CAST({num} AS DOUBLE) / 4294967296.0)"


def _sql_dp_noise(u_expr: str) -> str:
    expr = "12"
    for k, t in reversed(_DP_THRESHOLDS[:-1]):
        expr = f"CASE WHEN {u_expr} < {t} THEN {k} ELSE {expr} END"
    return expr


@query(
    "q_dp_counts",
    f"""
    WITH cnt AS (
      SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM customer GROUP BY 1
    )
    SELECT segment, n_true,
           CAST({_sql_dp_noise(_sql_u01("segment || ':dp1'"))} AS BIGINT)
             AS noise,
           n_true + CAST({_sql_dp_noise(_sql_u01("segment || ':dp1'"))}
                         AS BIGINT) AS n_noisy
    FROM cnt
    """,
)
def q_dp_counts(spark, sf_dir):
    """Differentially-private histogram: per-segment customer counts
    with discrete-Laplace (two-sided geometric, ε=0.5) noise — the
    geometric mechanism, the integer-exact DP release for counting
    queries (k_anonymity suppresses small groups; this perturbs all of
    them with a privacy budget). Noise is sampled by inverse-CDF over
    thresholds PRECOMPUTED in Python and embedded as literals in both
    engines, from a portable md5 uniform seeded per (segment, release
    tag) — deterministic for the test harness (true counts and noise
    are emitted ONLY for verification; a production release drops
    them), no ln() at query time whose last-ulp math-library drift
    would break cross-engine parity. One |segments|-row aggregate; the
    noise attaches at aggregate grain, never at fact grain."""
    customer = load_table(spark, sf_dir, "customer")
    cnt = customer.groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(F.count("*").cast("long").alias("n_true"))
    h = F.md5(F.concat(F.col("segment"), F.lit(":dp1")))

    def nib(pos):
        a = F.ascii(F.substring(h, pos, 1))
        return (
            a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))
        ).cast("long")

    num = nib(1)
    for p in range(2, 9):
        num = num * 16 + nib(p)
    u = num.cast("double") / F.lit(4294967296.0)
    noise = F.lit(12)
    for k, t in reversed(_DP_THRESHOLDS[:-1]):
        noise = F.when(u < t, F.lit(k)).otherwise(noise)
    return cnt.select(
        "segment",
        "n_true",
        noise.cast("long").alias("noise"),
        (F.col("n_true") + noise).cast("long").alias("n_noisy"),
    )


# ---------------------------------------------------------------------------
# Phase 25: ordered string aggregation, multi-measure pivot, rolling
# median
# ---------------------------------------------------------------------------


@query(
    "q_string_agg",
    """
    WITH top3 AS (
      SELECT c_nationkey, c_name, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM customer
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_top,
           string_agg(c_name, ',' ORDER BY c_name) AS top_names
    FROM top3 WHERE rk <= 3 GROUP BY 1
    """,
)
def q_string_agg(spark, sf_dir):
    """ORDERED string aggregation (string_agg / listagg): the top-3
    account holders per nation assembled into one deterministic CSV
    cell — the report/document-assembly op. Spark has no ordered
    string_agg aggregate; the portable form is collect_list →
    array_sort → concat_ws, which pins an explicit total order instead
    of inheriting arrival order (the nondeterminism that makes naive
    listagg results unhashable anywhere). Top-3 bound keeps every
    assembled cell O(k); the rank and the aggregation share the
    nationkey partitioning."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    top3 = customer.select(
        "c_nationkey", "c_name", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 3)
    return top3.groupBy(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).agg(
        F.count("*").cast("long").alias("n_top"),
        F.concat_ws(",", F.array_sort(F.collect_list("c_name"))).alias(
            "top_names"
        ),
    )


@query(
    "q_pivot_multi_agg",
    f"""
    SELECT o_orderpriority AS prio,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS f_n,
           ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'F'
                     THEN CAST(o_totalprice AS DECIMAL(18,6)) ELSE 0 END)
                AS DOUBLE), 2) AS f_rev,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS o_n,
           ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'O'
                     THEN CAST(o_totalprice AS DECIMAL(18,6)) ELSE 0 END)
                AS DOUBLE), 2) AS o_rev,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                AS BIGINT) AS p_n,
           ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'P'
                     THEN CAST(o_totalprice AS DECIMAL(18,6)) ELSE 0 END)
                AS DOUBLE), 2) AS p_rev
    FROM orders GROUP BY 1
    """,
)
def q_pivot_multi_agg(spark, sf_dir):
    """Multi-MEASURE pivot: count AND revenue per pivoted status column
    in one pass — q_pivot_count widens one measure; real report tables
    want several, and the wrong plan runs one aggregation per measure.
    Spark's pivot(values).agg(m1, m2) emits every (value × measure)
    cell from a single map-side-combined aggregate; pivot values are
    DECLARED (['F','O','P']) so no discovery pre-pass scans the fact
    table, and decimal partials keep the revenue cells
    order-insensitive."""
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy(F.col("o_orderpriority").alias("prio"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            # count(lit(1)): Pivot rejects the star expansion count(*)
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(exact_sum("o_totalprice"), 2).alias("rev"),
        )
    )
    # coalesce every pivoted cell: Spark emits NULL for an absent
    # (priority, status) cell while the oracle's CASE ... ELSE 0 emits
    # 0 — parity must not depend on every cell being populated at the
    # tested SFs (ADVICE r5)
    def cell(src_name, out_name, zero):
        return F.coalesce(F.col(src_name), zero).alias(out_name)

    zl, zd = F.lit(0).cast("long"), F.lit(0.0)
    return piv.select(
        "prio",
        cell("F_n", "f_n", zl), cell("F_rev", "f_rev", zd),
        cell("O_n", "o_n", zl), cell("O_rev", "o_rev", zd),
        cell("P_n", "p_n", zl), cell("P_rev", "p_rev", zd),
    )


@query(
    "q_rolling_median",
    """
    WITH daily AS (
      SELECT o_orderstatus AS st,
             CAST(CAST(o_orderdate AS DATE)
                  - CAST('1970-01-01' AS DATE) AS BIGINT) AS dn,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT st, dn,
           ROUND(quantile_cont(rev, 0.5) OVER (
             PARTITION BY st ORDER BY dn
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS med7
    FROM daily
    """,
)
def q_rolling_median(spark, sf_dir):
    """Rolling 7-day MEDIAN of daily revenue per status — the robust
    trend line where q_rolling_range's moving min/max and mean-based
    smoothing are outlier-hostage. Median needs the frame's values, so
    the scale discipline is to aggregate FIRST: the window runs over
    the |status × days| daily frame (thousands of rows), never raw
    orders, and both the daily rollup and the window share the status
    partitioning. Exact interpolated median (percentile 0.5) matches
    quantile_cont; daily revenue is decimal-summed before the double
    conversion so the frame contents are engine-identical."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderstatus").alias("st"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("dn"),
    ).agg(exact_sum("o_totalprice").alias("rev"))
    w = Window.partitionBy("st").orderBy("dn").rowsBetween(-6, 0)
    return daily.select(
        "st", "dn",
        F.round(F.percentile("rev", 0.5).over(w), 2).alias("med7"),
    )


# ---------------------------------------------------------------------------
# Phase 26: training-epoch reshuffle, rare-category merge, join-strategy
# census
# ---------------------------------------------------------------------------


@query(
    "q_epoch_shuffle",
    """
    WITH keyed AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':epoch1') AS k1,
             md5(CAST(doc_id AS VARCHAR) || ':epoch2') AS k2
      FROM documents
    ), r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY k1, doc_id) AS pos_e1,
             ROW_NUMBER() OVER (ORDER BY k2, doc_id) AS pos_e2
      FROM keyed
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN pos_e1 = pos_e2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fixed_points,
           CAST(SUM(CASE WHEN pos_e1 <= 10 THEN doc_id ELSE 0 END)
                AS BIGINT) AS head10_e1_idsum,
           CAST(SUM(CASE WHEN pos_e2 <= 10 THEN doc_id ELSE 0 END)
                AS BIGINT) AS head10_e2_idsum
    FROM r
    """,
)
def q_epoch_shuffle(spark, sf_dir):
    """Deterministic training-epoch reshuffle: each epoch's global
    sample order is rank-by-md5(doc_id:epoch) — reproducible across
    reruns and engines (the property torch-style RNG shuffles can't
    give a distributed reader), different BETWEEN epochs (fixed-point
    census ≈ 0 pins that), with the head-of-epoch id-sums certifying
    the exact orders. Scale posture: the rank itself would be a global
    sort, but a SHARDED loader never needs it — epoch key ranges split
    by prefix give each worker its slice (q_global_index holds the
    general sorted-index recipe); this census reduces to two window
    ranks over the slim (doc_id, k1, k2) frame."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch1")))
        .alias("k1"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch2")))
        .alias("k2"),
    )
    r = keyed.select(
        "doc_id",
        F.row_number().over(Window.orderBy("k1", "doc_id")).alias("pos_e1"),
        F.row_number().over(Window.orderBy("k2", "doc_id")).alias("pos_e2"),
    )
    return r.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("pos_e1") == F.col("pos_e2"), 1).otherwise(0))
        .cast("long")
        .alias("n_fixed_points"),
        F.sum(F.when(F.col("pos_e1") <= 10, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("head10_e1_idsum"),
        F.sum(F.when(F.col("pos_e2") <= 10, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("head10_e2_idsum"),
    )


@query(
    "q_rare_category_merge",
    """
    WITH cnt AS (
      SELECT o_orderpriority AS v, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS t FROM cnt
    ), mapped AS (
      SELECT CASE WHEN n * 20 >= t THEN v ELSE 'OTHER' END AS category, n
      FROM cnt CROSS JOIN tot
    )
    SELECT category,
           CAST(SUM(n) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_source_values
    FROM mapped GROUP BY 1
    """,
)
def q_rare_category_merge(spark, sf_dir):
    """Rare-category consolidation: values under a 5% share collapse
    into 'OTHER' — the cardinality-control step before one-hot/target
    encoding (q_target_encode) and the long-tail guard for q_category_
    drift. The share test uses INTEGER cross-multiplication
    (n*20 >= t), not a float share, so the cut is exact at the
    boundary in both engines; everything happens at value grain (the
    fact table reduces once), the total rides as a 1-row broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    cnt = orders.groupBy(F.col("o_orderpriority").alias("v")).agg(
        F.count("*").cast("long").alias("n")
    )
    tot = cnt.agg(F.sum("n").cast("long").alias("t"))
    mapped = cnt.join(F.broadcast(tot)).select(
        F.when(F.col("n") * 20 >= F.col("t"), F.col("v"))
        .otherwise(F.lit("OTHER"))
        .alias("category"),
        "n",
    )
    return mapped.groupBy("category").agg(
        F.sum("n").cast("long").alias("n_orders"),
        F.count("*").cast("long").alias("n_source_values"),
    )


@query("q_join_strategy_census")  # engine-physical — rows-only by design
def q_join_strategy_census(spark, sf_dir):
    """Physical join-strategy census (the q_partition_skew sibling for
    joins): the same orders⋈customer equi-join planned under (a) the
    session default and (b) broadcast disabled, reporting which
    operator Catalyst actually chose and the configured threshold. The
    observability row an engine owes its operators: q_join_fanout says
    what the join WILL produce, this says HOW the planner will run it
    — the first thing to check when a 100 TB join picks a
    sort-merge where a broadcast was expected (threshold too low,
    stats missing, AQE off)."""
    orders, customer = load_tables(spark, sf_dir, "orders", "customer")

    def strategy(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for op in ("BroadcastHashJoin", "SortMergeJoin",
                   "ShuffledHashJoin", "BroadcastNestedLoopJoin"):
            if op in plan:
                return op
        return "unknown"

    joined = orders.join(customer, orders.o_custkey == customer.c_custkey)
    default_strategy = strategy(joined)
    # default when unset is 10 MiB
    thr = spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10485760b"
    )
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        forced = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        no_bcast_strategy = strategy(forced)
    return spark.createDataFrame(
        [(default_strategy, no_bcast_strategy, str(thr))],
        "default_strategy string, no_broadcast_strategy string, "
        "broadcast_threshold string",
    )


# ---------------------------------------------------------------------------
# Phase 27: A/B sample-ratio-mismatch gate, funnel time-to-convert
# ---------------------------------------------------------------------------


@query(
    "q_ab_srm_check",
    f"""
    WITH assigned AS (
      SELECT CASE WHEN {_sql_u01("CAST(user_id AS VARCHAR) || ':srm'")}
                  < 0.5 THEN 'A' ELSE 'B' END AS arm
      FROM (SELECT DISTINCT user_id FROM events)
    ), cnt AS (
      SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM assigned
    )
    SELECT n_a, n_b,
           ROUND(POWER(n_a - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
                 + POWER(n_b - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0),
                 4) AS chi2,
           CAST(CASE WHEN
             POWER(n_a - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
             + POWER(n_b - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
             > 3.841 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM cnt
    """,
)
def q_ab_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch gate — the FIRST check on any experiment
    readout (a 50/50 assignment that lands 52/48 invalidates q_ab_test's
    effect estimate before anyone reads it): users assigned to arms by
    the portable md5 uniform, observed counts chi-squared against the
    declared ratio, flag raised at the 0.05 critical value (3.841, 1
    dof — a LITERAL, no chi-square CDF at query time). One distinct +
    one 1-row aggregate; the arm assignment never materializes at event
    grain."""
    events = load_table(spark, sf_dir, "events")
    users = events.select("user_id").distinct()
    h = F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":srm")))

    def nib(pos):
        a = F.ascii(F.substring(h, pos, 1))
        return (
            a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))
        ).cast("long")

    num = nib(1)
    for p in range(2, 9):
        num = num * 16 + nib(p)
    u = num.cast("double") / F.lit(4294967296.0)
    cnt = users.select(
        F.when(u < 0.5, F.lit("A")).otherwise(F.lit("B")).alias("arm")
    ).agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    exp = (F.col("n_a") + F.col("n_b")) / 2.0
    chi2 = (
        F.pow(F.col("n_a") - exp, 2) / exp
        + F.pow(F.col("n_b") - exp, 2) / exp
    )
    return cnt.select(
        "n_a", "n_b",
        F.round(chi2, 4).alias("chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("long").alias("srm_flag"),
    )


@query(
    "q_funnel_latency",
    """
    WITH stage AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               AS t_view,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS t_buy
      FROM events GROUP BY 1
    ), conv AS (
      SELECT (t_buy - t_view) / 1000000.0 AS secs
      FROM stage WHERE t_view IS NOT NULL AND t_buy IS NOT NULL
                   AND t_buy >= t_view
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(secs, 0.5), 2) AS p50_secs,
           ROUND(quantile_cont(secs, 0.9), 2) AS p90_secs,
           ROUND(quantile_cont(secs, 0.99), 2) AS p99_secs
    FROM conv
    """,
)
def q_funnel_latency(spark, sf_dir):
    """Time-to-convert distribution: view→purchase latency percentiles
    over first-touch pairs — q_funnel/q_timed_funnel count WHO
    converts; this says HOW LONG conversion takes, the SLA-shaped
    readout. The event stream reduces to one conditional-min row per
    user in a single map-side-combined pass (never a per-user event
    sort); exact interpolated percentiles run over the |converted|-row
    frame. Integer-microsecond mins make the latency inputs
    engine-identical before the single double division."""
    events = load_table(spark, sf_dir, "events")
    stage = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_micros("ts"))
        ).alias("t_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("t_buy"),
    )
    conv = stage.filter(
        F.col("t_view").isNotNull()
        & F.col("t_buy").isNotNull()
        & (F.col("t_buy") >= F.col("t_view"))
    ).select(
        ((F.col("t_buy") - F.col("t_view")) / 1_000_000.0).alias("secs")
    )
    return conv.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.round(F.percentile("secs", 0.5), 2).alias("p50_secs"),
        F.round(F.percentile("secs", 0.9), 2).alias("p90_secs"),
        F.round(F.percentile("secs", 0.99), 2).alias("p99_secs"),
    )


# ---------------------------------------------------------------------------
# Phase 28: revenue bridge (price/volume decomposition), calendar heatmap
# ---------------------------------------------------------------------------


@query(
    "q_revenue_bridge",
    """
    WITH yr AS (
      SELECT l.l_partkey % 25 AS grp,
             EXTRACT(year FROM o.o_orderdate) AS y,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6)))
                  AS DOUBLE) AS rev
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE EXTRACT(year FROM o.o_orderdate) IN (1996, 1997)
      GROUP BY 1, 2
    ), w AS (
      SELECT a.grp,
             a.qty AS qty0, b.qty AS qty1,
             a.rev AS rev0, b.rev AS rev1,
             a.rev / a.qty AS p0, b.rev / b.qty AS p1
      FROM yr a JOIN yr b ON a.grp = b.grp AND a.y = 1996 AND b.y = 1997
    )
    SELECT CAST(grp AS BIGINT) AS grp,
           ROUND(rev1 - rev0, 2) + 0 AS delta_rev,
           ROUND((qty1 - qty0) * p0, 2) + 0 AS volume_effect,
           ROUND((p1 - p0) * qty1, 2) + 0 AS price_effect,
           ROUND(rev1 - rev0 - ((qty1 - qty0) * p0 + (p1 - p0) * qty1),
                 2) + 0 AS residual
    FROM w
    """,
)
def q_revenue_bridge(spark, sf_dir):
    """Period-over-period revenue BRIDGE: Δrevenue split into a volume
    effect ((q1−q0)·p0) and a price effect ((p1−p0)·q1) per part group
    — the FP&A decomposition behind every "why did revenue move"
    readout (residual ≡ 0 under this two-term split; emitted as the
    machine check). Both periods reduce to group-grain integer qty +
    exact-decimal revenue in ONE scan of the fact join (year filter
    pushed to the scan); the bridge arithmetic runs on the tiny
    group×year frame after a self-join at aggregate grain."""
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    yr = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            (F.col("l_partkey") % 25).alias("grp"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("rev"),
        )
    )
    a = yr.filter(F.col("y") == 1996).select(
        "grp", F.col("qty").alias("qty0"), F.col("rev").alias("rev0")
    )
    b = yr.filter(F.col("y") == 1997).select(
        "grp", F.col("qty").alias("qty1"), F.col("rev").alias("rev1")
    )
    w = a.join(b, "grp")
    p0 = F.col("rev0") / F.col("qty0")
    p1 = F.col("rev1") / F.col("qty1")
    vol = (F.col("qty1") - F.col("qty0")) * p0
    price = (p1 - p0) * F.col("qty1")
    # + 0.0 after every round: IEEE -0 + +0 = +0, so a rounded -0.0
    # (e.g. a residual that is exactly zero approached from below)
    # canonicalizes identically in both engines instead of hash-
    # mismatching on the sign of zero
    z = F.lit(0.0)
    return w.select(
        F.col("grp").cast("long").alias("grp"),
        (F.round(F.col("rev1") - F.col("rev0"), 2) + z).alias("delta_rev"),
        (F.round(vol, 2) + z).alias("volume_effect"),
        (F.round(price, 2) + z).alias("price_effect"),
        (
            F.round(F.col("rev1") - F.col("rev0") - (vol + price), 2) + z
        ).alias("residual"),
    )


@query(
    "q_calendar_heatmap",
    """
    WITH x AS (
      SELECT (CAST(CAST(ts AS DATE) - CAST('1970-01-01' AS DATE)
                   AS BIGINT) + 4) % 7 AS dow,
             EXTRACT(hour FROM ts) AS hod,
             value
      FROM events
    )
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS total_value
    FROM x GROUP BY 1, 2
    """,
)
def q_calendar_heatmap(spark, sf_dir):
    """Day-of-week × hour-of-day activity matrix — the calendar heatmap
    feed. Day-of-week comes from EXPLICIT epoch-day arithmetic
    ((days_since_1970 + 4) % 7, Thursday anchor) because the builtin
    disagrees across engines (Spark dayofweek: 1=Sunday; DuckDB
    dayofweek: 0=Sunday) — the kind of silent convention skew that
    poisons cross-system reports. One map-side-combined aggregate to a
    ≤168-row frame; the timestamp arithmetic is scan-stage codegen."""
    events = load_table(spark, sf_dir, "events")
    dn = F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
    return events.groupBy(
        ((dn + 4) % 7).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
        ).alias("total_value"),
    )
