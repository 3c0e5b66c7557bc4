"""Round-14 phases 113+: the entity-resolution endgame (Fellegi-Sunter
match pairs → connected components → survivorship golden records),
SAX motif discovery, and the round's scale escapes.

VERDICT r13 "Next round" items 2-3 and 6-8. Discipline as everywhere:
exact-integer arithmetic wherever a value crosses engines, blocked /
bucketed candidate generation (never all-pairs), one data-sized
shuffle per query, quadratic-capable plans behind measured-refusal
interlocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..session import scoped_conf
from .registry import query
from .roundsix_queries import _int_pagerank, _sql_int_pagerank
from .roundthirteen_queries import (
    _FS_MATCH,
    _FS_SCORE_DUCK,
    _FS_WA,
    _FS_WD,
    _FSB_BAND_A,
    _FSB_BAND_B,
)

# ---------------------------------------------------------------------------
# phase 113: entity-resolution clusters (FS matches -> CC -> survivorship)
# ---------------------------------------------------------------------------


def _fs_match_pairs(cust: DataFrame) -> DataFrame:
    """(id_a, id_b) customer pairs the fine-blocked Fellegi-Sunter
    scorer classifies as matches (score ≥ _FS_MATCH) — the candidate
    generator of q_fellegi_blocked (roundthirteen_queries.py) re-emitted
    at PAIR grain instead of score-histogram grain. Same blocking
    (nation × segment × $1000 band), same four-field integer weights,
    so the pair set is exactly the one the blocked scorer's pinned
    histogram counts.

    Scale interlock (the basket.MAX_EXACT_PAIRS discipline): ANY
    fixed-cardinality block key leaves pair growth quadratic in |C|
    with a smaller constant — measured 30.9× for the whole ER
    composition at sf1 (BENCH_SF1) on top of q_fellegi_blocked's own
    12.6×. Blocking finer on any single FS field is NOT a valid
    escape here: the weights are such that a pair disagreeing on one
    field still clears the match threshold, so a finer single-field
    block provably loses real matches. Past the pair cliff the
    documented route is a candidate generator whose key count grows
    with the data — the banded-MinHash machinery (operators/dedup)
    with FS as the scorer — and this helper REFUSES rather than run
    the quadratic, naming that route."""
    from ..operators.basket import MAX_EXACT_PAIRS, refuse_excess_fanout

    refuse_excess_fanout(
        cust.select(
            F.concat_ws(
                "|",
                F.col("c_nationkey").cast("string"),
                F.col("c_mktsegment"),
                (
                    (
                        F.round(F.col("c_acctbal") * 100).cast("long")
                        - F.round(F.col("c_acctbal") * 100).cast("long")
                        % F.lit(100_000).cast("long")
                    )
                    / F.lit(100_000).cast("long")
                )
                .cast("long")
                .cast("string"),
            ).alias("__blk")
        ),
        "__blk",
        MAX_EXACT_PAIRS,
        "LSH-blocked candidate generation (operators/dedup banded "
        "MinHash) scored by the same FS weights",
    )
    a = cust.alias("a")
    b = cust.alias("b")
    pa = F.round(F.col("a.c_acctbal") * 100).cast("long")
    pb = F.round(F.col("b.c_acctbal") * 100).cast("long")
    den = F.lit(100_000).cast("long")
    band_a = ((pa - pa % den) / den).cast("long")
    band_b = ((pb - pb % den) / den).cast("long")
    agree = [
        band_a == band_b,  # constant True inside a fine block
        pa % F.lit(100).cast("long") == pb % F.lit(100).cast("long"),
        F.expr("right(a.c_name, 3)") == F.expr("right(b.c_name, 3)"),
        (F.col("a.c_acctbal") >= 0) == (F.col("b.c_acctbal") >= 0),
    ]
    score = None
    for cond, wa, wd in zip(agree, _FS_WA, _FS_WD):
        term = F.when(cond, F.lit(wa).cast("long")).otherwise(
            F.lit(wd).cast("long")
        )
        score = term if score is None else score + term
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (band_a == band_b)
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("id_a"),
            F.col("b.c_custkey").alias("id_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= _FS_MATCH)
        .select("id_a", "id_b")
    )


@query(
    "q_er_clusters",
    f"""
    WITH RECURSIVE mp AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_mktsegment = b.c_mktsegment
       AND {_FSB_BAND_A} = {_FSB_BAND_B}
       AND a.c_custkey < b.c_custkey
      WHERE {_FS_SCORE_DUCK} >= {_FS_MATCH}
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM mp
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM mp
    ), cc AS (
      SELECT src AS node, src AS lbl FROM edges
      UNION
      SELECT e.dst AS node, cc.lbl AS lbl
      FROM cc JOIN edges e ON e.src = cc.node
    ), lab AS (
      SELECT node, MIN(lbl) AS cluster_id FROM cc GROUP BY node
    ), mem AS (
      SELECT l.cluster_id, c.c_custkey, c.c_name, c.c_acctbal,
             ROW_NUMBER() OVER (
               PARTITION BY l.cluster_id
               ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY l.cluster_id)
                  AS BIGINT) AS n_members,
             CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) OVER (
                  PARTITION BY l.cluster_id) AS BIGINT) AS total_cents
      FROM lab l JOIN customer c ON c.c_custkey = l.node
    )
    SELECT cluster_id, n_members,
           c_custkey AS canon_custkey,
           c_name AS canon_name,
           ROUND(c_acctbal, 2) AS canon_acctbal,
           total_cents
    FROM mem WHERE rn = 1
    """,
)
def q_er_clusters(spark, sf_dir):
    """Entity-resolution clusters — the ER endgame the Fellegi-Sunter
    scorer exists for (its match verdicts are pair-grain; an MDM system
    needs ENTITY grain): fine-blocked FS match pairs
    (q_fellegi_blocked's exact pair set) → connected components
    (operators/dedup.connected_components — min-label propagation with
    pointer jumping, the MinHash-CC machinery reused on linkage edges)
    → survivorship golden record per cluster (q_survivorship's
    discipline: highest acctbal wins, custkey the deterministic
    tiebreak), with the cluster census (n_members, exact integer cents
    total) riding the same window shuffle.

    Hash-certified against a DuckDB RECURSIVE-CTE transitive closure:
    the oracle enumerates (node, reachable-label) pairs and takes
    MIN(label) per node — literally the definition of the min-label
    component — so the certificate is algorithm-independent: Spark's
    pointer-jumping loop and the oracle's naive closure must land on
    the IDENTICAL clustering. A pytest pin additionally replays
    union-find over the collected match pairs and checks membership +
    size histogram.

    Scale shape: pair generation is blocking-bounded (the measured
    q_fellegi_blocked escape — never all-pairs), CC is the distributed
    O(log diameter) loop with the ≤2M-edge driver fast path, and
    survivorship is ONE window shuffle at member grain. Matched-node
    count ≪ |customers| (only pair-participating ids enter CC), so
    every post-blocking frame is match-set-sized — at 100 TB the big
    surfaces are one blocked self-join plus a member-grain window.
    """
    cust = load_table(spark, sf_dir, "customer")
    pairs = _fs_match_pairs(cust).persist()
    from ..operators.dedup import connected_components

    nodes = (
        pairs.select(F.col("id_a").alias("node"))
        .unionByName(pairs.select(F.col("id_b").alias("node")))
        .distinct()
    )
    labels = connected_components(
        pairs, nodes, id_col="node", label_col="cluster_id"
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    w = Window.partitionBy("cluster_id")
    w_rank = w.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    mem = (
        labels.join(cust, labels["node"] == cust["c_custkey"])
        .select(
            "cluster_id",
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w).cast("long").alias("n_members"),
            F.sum(cents).over(w).cast("long").alias("total_cents"),
        )
    )
    return mem.filter(F.col("rn") == 1).select(
        "cluster_id",
        "n_members",
        F.col("c_custkey").alias("canon_custkey"),
        F.col("c_name").alias("canon_name"),
        F.round("c_acctbal", 2).alias("canon_acctbal"),
        "total_cents",
    )


# ---------------------------------------------------------------------------
# phase 114: SAX motif discovery (exact-integer symbolization)
# ---------------------------------------------------------------------------

_SAX_W = 7   # PAA window: days per segment
_SAX_L = 3   # motif word length in segments


@query(
    "q_sax_motifs",
    f"""
    WITH daily AS (
      SELECT n.n_name, o.o_orderdate AS d,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), pos AS (
      SELECT n_name, rev,
             ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY d) - 1 AS p
      FROM daily
    ), paa AS (
      SELECT n_name, p // {_SAX_W} AS win_id,
             CAST(SUM(rev) AS BIGINT) AS v
      FROM pos GROUP BY 1, 2 HAVING COUNT(*) = {_SAX_W}
    ), ranked AS (
      SELECT n_name, win_id, v,
             ROW_NUMBER() OVER (
               PARTITION BY n_name ORDER BY v, win_id) - 1 AS rn
      FROM paa
    ), nw AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_windows FROM paa
      GROUP BY 1
    ), bp AS (
      SELECT nw.n_name, k.k,
             4 * lo.v + (((nw.n_windows - 1) * k.k) % 4)
                 * (COALESCE(hi.v, lo.v) - lo.v) AS bp4
      FROM nw
      CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS k) k
      JOIN ranked lo ON lo.n_name = nw.n_name
       AND lo.rn = ((nw.n_windows - 1) * k.k) // 4
      LEFT JOIN ranked hi ON hi.n_name = nw.n_name
       AND hi.rn = ((nw.n_windows - 1) * k.k) // 4 + 1
    ), bps AS (
      SELECT n_name,
             MAX(CASE WHEN k = 1 THEN bp4 END) AS b1,
             MAX(CASE WHEN k = 2 THEN bp4 END) AS b2,
             MAX(CASE WHEN k = 3 THEN bp4 END) AS b3
      FROM bp GROUP BY 1
    ), sym AS (
      SELECT p.n_name, p.win_id,
             CASE WHEN 4 * p.v <= b.b1 THEN 'a'
                  WHEN 4 * p.v <= b.b2 THEN 'b'
                  WHEN 4 * p.v <= b.b3 THEN 'c'
                  ELSE 'd' END AS s
      FROM paa p JOIN bps b ON p.n_name = b.n_name
    ), words AS (
      SELECT n_name,
             s || LEAD(s, 1) OVER w || LEAD(s, 2) OVER w AS word
      FROM sym WINDOW w AS (PARTITION BY n_name ORDER BY win_id)
    ), cnt AS (
      SELECT n_name, word, CAST(COUNT(*) AS BIGINT) AS n_occur,
             ROW_NUMBER() OVER (
               PARTITION BY n_name
               ORDER BY COUNT(*) DESC, word) AS rk
      FROM words WHERE word IS NOT NULL GROUP BY 1, 2
    )
    SELECT c.n_name, c.word AS motif, c.n_occur, nw.n_windows
    FROM cnt c JOIN nw ON c.n_name = nw.n_name
    WHERE c.rk = 1
    """,
)
def q_sax_motifs(spark, sf_dir):
    """SAX motif discovery (Lin et al. 2003) over the per-nation daily
    revenue series — the classic series-mining pipeline (z-normalize →
    PAA → symbolize → most-frequent word) that q_sax_symbols'
    tercile-NTILE sketch gestured at, now with the REAL structure:
    fixed-width PAA segments ({_SAX_W} days), alphabet-4 symbolization
    against per-series linear-interpolated quartile breakpoints (the
    q_quantiles order-statistics machinery), and the motif = each
    series' most frequent {_SAX_L}-segment word.

    Engine-parity design (the documented blocker this query waited
    on): classic SAX z-normalizes then cuts at Gaussian breakpoints —
    both float. Equi-depth (quantile) breakpoints make z-normalization
    a PROVABLE no-op: z is a per-series monotone affine map, quantiles
    are equivariant and comparisons invariant under it, and PAA means
    over equal-width windows order like window SUMS — so the symbol
    sequence of the z-normed, PAA-meaned series equals that of the raw
    integer-cents window sums, and the plan computes the latter.
    Breakpoints stay exact by 4×-scaling the interpolation: at
    fractional position (n−1)k/4 the interpolated quantile is
    v_lo + frac·(v_hi − v_lo) with frac ∈ {{0, ¼, ½, ¾}}, so
    4·bp = 4·v_lo + ((n−1)k mod 4)·(v_hi − v_lo) is BIGINT and the
    symbol test is 4·v ≤ 4·bp — no float EVER materializes, both
    engines run the identical integer pipeline, and the oracle
    hash-certifies symbolization, words, and motif together.

    Scale shape: one fact-table shuffle (the daily grouped sum, dims
    broadcast), then everything is window/agg work partitioned by
    series key — per-task state bounded by series length, series
    parallelism unbounded. The breakpoint frames are series-grain
    (3 rows per series) and broadcast back; order statistics come from
    a per-series ranking window, not a global sort."""
    from ..io import load_tables

    orders, customer, nation = load_tables(
        spark, sf_dir, "orders", "customer", "nation"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.col("o_orderdate").alias("d"))
        .agg(F.sum(cents).cast("long").alias("rev"))
    )
    wpos = Window.partitionBy("n_name").orderBy("d")
    pos = daily.select(
        "n_name",
        "rev",
        (F.row_number().over(wpos) - 1).cast("long").alias("p"),
    )
    paa = (
        pos.groupBy("n_name", F.expr(f"p div {_SAX_W}").alias("win_id"))
        .agg(
            F.sum("rev").cast("long").alias("v"),
            F.count(F.lit(1)).alias("c"),
        )
        .filter(F.col("c") == _SAX_W)
        .select("n_name", "win_id", "v")
        # reused by ranked / nw / sym: truncate lineage so the fact
        # scan + window subtree executes once, not three times
        .localCheckpoint(eager=False)
    )
    wrank = Window.partitionBy("n_name").orderBy("v", "win_id")
    ranked = paa.select(
        "n_name",
        "v",
        (F.row_number().over(wrank) - 1).cast("long").alias("rn"),
    ).localCheckpoint(eager=False)  # probed twice (lo + hi)
    nw = paa.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows")
    )
    ks = (
        nw.select(
            "n_name",
            "n_windows",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        )
        .withColumn("lo_idx", F.expr("((n_windows - 1) * k) div 4"))
        .withColumn("frac4", F.expr("((n_windows - 1) * k) % 4"))
    )
    lo = ranked.select(
        F.col("n_name").alias("lo_name"),
        F.col("rn").alias("lo_rn"),
        F.col("v").alias("v_lo"),
    )
    hi = ranked.select(
        F.col("n_name").alias("hi_name"),
        F.col("rn").alias("hi_rn"),
        F.col("v").alias("v_hi"),
    )
    bp = (
        ks.join(
            lo,
            (F.col("n_name") == F.col("lo_name"))
            & (F.col("lo_rn") == F.col("lo_idx")),
        )
        .join(
            hi,
            (F.col("n_name") == F.col("hi_name"))
            & (F.col("hi_rn") == F.col("lo_idx") + 1),
            "left",
        )
        .select(
            "n_name",
            "k",
            (
                4 * F.col("v_lo")
                + F.col("frac4")
                * (F.coalesce(F.col("v_hi"), F.col("v_lo")) - F.col("v_lo"))
            ).alias("bp4"),
        )
    )
    bps = bp.groupBy("n_name").agg(
        F.max(F.when(F.col("k") == 1, F.col("bp4"))).alias("b1"),
        F.max(F.when(F.col("k") == 2, F.col("bp4"))).alias("b2"),
        F.max(F.when(F.col("k") == 3, F.col("bp4"))).alias("b3"),
    )
    sym = paa.join(F.broadcast(bps), "n_name").select(
        "n_name",
        "win_id",
        F.when(4 * F.col("v") <= F.col("b1"), "a")
        .when(4 * F.col("v") <= F.col("b2"), "b")
        .when(4 * F.col("v") <= F.col("b3"), "c")
        .otherwise("d")
        .alias("s"),
    )
    wseq = Window.partitionBy("n_name").orderBy("win_id")
    words = sym.select(
        "n_name",
        F.concat(
            F.col("s"), F.lead("s", 1).over(wseq), F.lead("s", 2).over(wseq)
        ).alias("word"),
    ).filter(F.col("word").isNotNull())
    cnt = words.groupBy("n_name", "word").agg(
        F.count(F.lit(1)).cast("long").alias("n_occur")
    )
    wtop = Window.partitionBy("n_name").orderBy(
        F.col("n_occur").desc(), F.col("word").asc()
    )
    return (
        cnt.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") == 1)
        .join(F.broadcast(nw), "n_name")
        .select(
            "n_name", F.col("word").alias("motif"), "n_occur", "n_windows"
        )
    )


# ---------------------------------------------------------------------------
# phase 115: cell-capped DBSCAN (the density cliff's escape hatch)
# ---------------------------------------------------------------------------

from .roundthirteen_queries import (  # noqa: E402
    _DB_EPS,
    _DB_EPS2,
    _DB_MINNB,
    _DB_OFF,
)

_DBC_CAP = 32  # max points per eps-cell entering the stencil join

_SQL_DB_POINTS = """p AS (
      SELECT vec_id,
             CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
               AS x,
             CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT)
               AS y
      FROM embeddings
    )"""


def _sql_db_pipe(src: str, t: str) -> str:
    """Brute-force DBSCAN role CTE chain over ``src`` (vec_id, x, y):
    emits nb{t}/core{t}/ce{t}/r{t}/lab{t}/border{t}/rolled{t} — the
    q_dbscan oracle's pipeline parameterized so the capped twin and the
    recall twin can run it over different point sets in one query."""
    d2 = "(a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)"
    return f"""nb{t} AS (
      SELECT a.vec_id, count(*) AS n_nb
      FROM {src} a JOIN {src} b
        ON a.vec_id != b.vec_id AND {d2} <= {_DB_EPS2}
      GROUP BY 1
    ), core{t} AS (
      SELECT vec_id FROM nb{t} WHERE n_nb >= {_DB_MINNB}
    ), ce{t} AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM {src} a JOIN {src} b
        ON a.vec_id != b.vec_id AND {d2} <= {_DB_EPS2}
      WHERE a.vec_id IN (SELECT vec_id FROM core{t})
        AND b.vec_id IN (SELECT vec_id FROM core{t})
    ), r{t} AS (
      SELECT vec_id AS node, vec_id AS label FROM core{t}
      UNION
      SELECT ce{t}.dst, r{t}.label
      FROM r{t} JOIN ce{t} ON r{t}.node = ce{t}.src
    ), lab{t} AS (
      SELECT node, MIN(label) AS label FROM r{t} GROUP BY 1
    ), border{t} AS (
      SELECT a.vec_id, MIN(l.label) AS label
      FROM {src} a
      JOIN {src} b ON a.vec_id != b.vec_id AND {d2} <= {_DB_EPS2}
      JOIN lab{t} l ON l.node = b.vec_id
      WHERE a.vec_id NOT IN (SELECT vec_id FROM core{t})
      GROUP BY 1
    ), rolled{t} AS (
      SELECT vec_id, 'core' AS role, CAST(label AS BIGINT) AS cluster
      FROM lab{t} JOIN core{t} ON node = vec_id
      UNION ALL
      SELECT vec_id, 'border', CAST(label AS BIGINT) FROM border{t}
      UNION ALL
      SELECT vec_id, 'noise', CAST(NULL AS BIGINT)
      FROM {src}
      WHERE vec_id NOT IN (SELECT node FROM lab{t})
        AND vec_id NOT IN (SELECT vec_id FROM border{t})
    )"""


_CX = f"((x + {_DB_OFF}) // {_DB_EPS})"
_CY = f"((y + {_DB_OFF}) // {_DB_EPS})"

_SQL_DB_CAPPED_BASE = f"""rkc AS (
      SELECT vec_id, x, y,
             ROW_NUMBER() OVER (
               PARTITION BY {_CX}, {_CY}
               ORDER BY md5(CAST({_CX} AS VARCHAR) || ':' ||
                            CAST({_CY} AS VARCHAR) || ':' ||
                            CAST(vec_id AS VARCHAR)), vec_id) AS rk
      FROM p
    ), kept AS (
      SELECT vec_id, x, y FROM rkc WHERE rk <= {_DBC_CAP}
    ), drp AS (
      SELECT vec_id, x, y FROM rkc WHERE rk > {_DBC_CAP}
    ), {_sql_db_pipe('kept', 'c')}, att AS (
      SELECT d.vec_id, MIN(l.label) AS label
      FROM drp d JOIN kept k
        ON (d.x - k.x) * (d.x - k.x) + (d.y - k.y) * (d.y - k.y)
           <= {_DB_EPS2}
      JOIN labc l ON l.node = k.vec_id
      GROUP BY 1
    ), capped AS (
      SELECT vec_id, role, cluster FROM rolledc
      UNION ALL
      SELECT vec_id, 'border' AS role, CAST(label AS BIGINT) AS cluster
      FROM att
      UNION ALL
      SELECT vec_id, 'noise' AS role, CAST(NULL AS BIGINT) AS cluster
      FROM drp WHERE vec_id NOT IN (SELECT vec_id FROM att)
    )"""


def _dbscan_capped_df(spark, sf_dir):
    from ..operators.density import (
        cell_cap_split,
        grid_dbscan,
        stencil_join,
        with_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.round(F.element_at("embedding", 1).cast("double") * 1000)
        .cast("long")
        .alias("x"),
        F.round(F.element_at("embedding", 2).cast("double") * 1000)
        .cast("long")
        .alias("y"),
    )
    kept, dropped = cell_cap_split(pts, _DB_EPS, _DB_OFF, _DBC_CAP)
    kept = kept.localCheckpoint(eager=True)  # base + attach build side
    # (eager: multi-consumer, the r14 rule — see operators/density.py)
    base = grid_dbscan(
        kept, _DB_EPS, _DB_EPS2, _DB_MINNB, _DB_OFF, max_candidates=None
    ).localCheckpoint(eager=True)  # output + attach labels
    core_xy = (
        base.filter(F.col("role") == "core")
        .select("vec_id", "cluster")
        .join(kept, "vec_id")
    )
    att = (
        stencil_join(
            with_cells(dropped, _DB_EPS, _DB_OFF),
            with_cells(
                core_xy.select("vec_id", "x", "y"), _DB_EPS, _DB_OFF
            ),
            _DB_EPS2,
        )
        .join(
            core_xy.select(
                F.col("vec_id").alias("b_id"),
                F.col("cluster").alias("bcl"),
            ),
            "b_id",
        )
        .groupBy("a_id")
        .agg(F.min("bcl").alias("cluster"))
        .select(
            F.col("a_id").alias("vec_id"),
            F.lit("border").alias("role"),
            "cluster",
        )
    )
    drop_noise = (
        dropped.join(att.select("vec_id"), "vec_id", "left_anti")
        .select(
            "vec_id",
            F.lit("noise").alias("role"),
            F.lit(None).cast("long").alias("cluster"),
        )
    )
    return base.unionByName(att).unionByName(drop_noise)


@query(
    "q_dbscan_capped",
    f"""
    WITH RECURSIVE {_SQL_DB_POINTS}, {_SQL_DB_CAPPED_BASE}
    SELECT vec_id, role, cluster FROM capped
    """,
)
def q_dbscan_capped(spark, sf_dir):
    """q_dbscan's DENSITY escape (VERDICT r13 #6) — the eps-parameterized
    12.8× sf1 growth and the degenerate all-points-one-cell quadratic
    are both occupancy cliffs, so the cap goes where the cliff lives:
    at most {_DBC_CAP} points per eps-cell enter the stencil join
    (portable md5('cx:cy:vec_id') rank — the degree_capped_edges
    sampling discipline), bounding candidates by 9·cap·n REGARDLESS of
    density. Dropped points are then ATTACHED in one bounded stencil
    pass against the kept cores: within eps of a kept core → border
    with that core's min cluster label (classic DBSCAN border
    semantics), else noise — every input point still gets a row, same
    schema as q_dbscan.

    Approximation surface (honest): a dropped point that would have
    been core can only come back as border/noise, and neighbor counts
    see the subsample, so borderline cores may demote; clusters can
    split only if ALL ≥cap cross-edge witnesses in a cell were dropped
    (cap ≥ minPts makes same-cell density itself survive). When no
    cell exceeds the cap the plan IS q_dbscan — pinned exactly in
    pytest; quality at fixture grain is driver-visible via
    q_dbscan_recall.

    Scale: cap²-bounded hot cells, one extra rank window + one
    bounded attach join over the exact plan; refusal-free by
    construction (grid_dbscan runs with max_candidates=None because
    occupancy is pre-bounded)."""
    return _dbscan_capped_df(spark, sf_dir)


@query(
    "q_dbscan_recall",
    f"""
    WITH RECURSIVE {_SQL_DB_POINTS}, {_sql_db_pipe('p', 'e')},
    {_SQL_DB_CAPPED_BASE}
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           CAST(SUM(CASE WHEN e.role = c.role
                     AND e.cluster IS NOT DISTINCT FROM c.cluster
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           ROUND(CAST(SUM(CASE WHEN e.role = c.role
                     AND e.cluster IS NOT DISTINCT FROM c.cluster
                    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
             AS recall
    FROM rollede e JOIN capped c USING (vec_id)
    """,
)
def q_dbscan_recall(spark, sf_dir):
    """Driver-visible quality certificate for q_dbscan_capped (the
    q_edit_distance_recall discipline): one (n_points, n_agree,
    recall) row where agreement means IDENTICAL (role, cluster) between
    the exact and cell-capped pipelines — stricter than set recall; a
    silent cap regression flips a driver hash instead of hiding. On
    fixtures where the cap never binds, recall is exactly 1.0 (the
    pytest pin); under the dense bench fixture the measured trade is
    recorded in BENCH_TEXTSKEW.json / ESCAPES.md."""
    from ..operators.density import grid_dbscan

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.round(F.element_at("embedding", 1).cast("double") * 1000)
        .cast("long")
        .alias("x"),
        F.round(F.element_at("embedding", 2).cast("double") * 1000)
        .cast("long")
        .alias("y"),
    )
    exact = grid_dbscan(
        pts, _DB_EPS, _DB_EPS2, _DB_MINNB, _DB_OFF, max_candidates=None
    ).select(
        "vec_id",
        F.col("role").alias("e_role"),
        F.col("cluster").alias("e_cluster"),
    )
    capped = _dbscan_capped_df(spark, sf_dir).select(
        "vec_id",
        F.col("role").alias("c_role"),
        F.col("cluster").alias("c_cluster"),
    )
    agree = F.when(
        (F.col("e_role") == F.col("c_role"))
        & F.col("e_cluster").eqNullSafe(F.col("c_cluster")),
        1,
    ).otherwise(0)
    return (
        exact.join(capped, "vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(agree).cast("long").alias("n_agree"),
            F.round(
                F.sum(agree).cast("double") / F.count(F.lit(1)), 6
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# phase 116: lexicographically-first MIS (Luby rounds vs sequential greedy)
# ---------------------------------------------------------------------------


@query(
    "q_luby_mis",
    """
    WITH RECURSIVE e AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 97 = 0 GROUP BY 1, 2
    ), sym AS (
      SELECT src, dst FROM e UNION SELECT dst, src FROM e
    ), nodes AS (
      SELECT DISTINCT src AS node FROM sym
    ), ranked AS (
      SELECT node,
             CAST(ROW_NUMBER() OVER (
               ORDER BY md5('mis:' || CAST(node AS VARCHAR))
                        || lpad(CAST(node AS VARCHAR), 12, '0'))
               AS BIGINT) AS rk
      FROM nodes
    ), adj AS (
      SELECT r.rk, list(s.dst) AS nbrs
      FROM ranked r JOIN sym s ON s.src = r.node
      GROUP BY r.rk
    ), arrs AS (
      SELECT list(r.node ORDER BY r.rk) AS rn,
             list(COALESCE(a.nbrs, CAST([] AS BIGINT[]))
                  ORDER BY r.rk) AS radj,
             CAST(count(*) AS BIGINT) AS nn
      FROM ranked r LEFT JOIN adj a ON a.rk = r.rk
    ), it AS (
      SELECT 0 AS k, arrs.rn, arrs.radj, arrs.nn,
             CAST([] AS BIGINT[]) AS blocked,
             CAST([] AS BIGINT[]) AS picked
      FROM arrs
      UNION ALL
      SELECT it.k + 1, it.rn, it.radj, it.nn,
             CASE WHEN NOT list_contains(it.blocked, it.rn[it.k + 1])
                  THEN list_concat(it.blocked, it.radj[it.k + 1])
                  ELSE it.blocked END AS blocked,
             CASE WHEN NOT list_contains(it.blocked, it.rn[it.k + 1])
                  THEN list_append(it.picked, it.rn[it.k + 1])
                  ELSE it.picked END AS picked
      FROM it WHERE it.k < it.nn
    )
    SELECT n.node,
           CAST(CASE WHEN list_contains(it.picked, n.node)
                THEN 1 ELSE 0 END AS INTEGER) AS in_mis
    FROM it, nodes n WHERE it.k = it.nn
    """,
)
def q_luby_mis(spark, sf_dir):
    """Maximal independent set of the co-purchase graph via
    locally-minimal priority rounds (operators/graph.luby_mis) — the
    NODE analog of q_greedy_matching's edge certificate, completing
    the parallel-vs-sequential pair: MIS is the primitive behind
    conflict-free scheduling (pick a set of non-adjacent jobs),
    coordinate-descent batching, and graph-coloring seeds.

    Certification is the repo's third two-algorithm certificate: the
    Luby-style parallel rounds (select every node whose portable
    md5-priority is smaller than all active neighbors') provably
    produce the IDENTICAL set to the SEQUENTIAL greedy scan in
    priority order, which the DuckDB twin runs as a list-state
    recursive-CTE fold (blocked-neighbor list + picked list, one node
    per iteration). Node-grain (node, in_mis) output — independence
    and maximality are additionally pinned in pytest.

    Scale shape: expected O(log n) rounds, each one neighbor-grain
    min aggregate + two anti-joins on the SHRINKING active set,
    checkpointed and released per round; the twin is O(n) sequential —
    the same asymmetry that makes the parallel side the 100 TB plan."""
    from ..operators.graph import luby_mis

    from .roundfive_queries import _copurchase_edges

    return luby_mis(_copurchase_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# phase 117: lagged cross-correlation matrix (the q_lead_lag matrix form)
# ---------------------------------------------------------------------------

_XC_LAGS = (-3, -2, -1, 0, 1, 2, 3)


@query(
    "q_xcorr_matrix",
    f"""
    WITH ev AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - CAST('1970-01-01' AS DATE)
                  AS BIGINT) AS dn
      FROM events
    ), daily AS (
      SELECT event_type, dn, CAST(count(*) AS BIGINT) AS c
      FROM ev GROUP BY 1, 2
    ), bounds AS (
      SELECT MIN(dn) AS d0, MAX(dn) AS d1 FROM ev
    ), spine AS (
      SELECT t.event_type, g.dn
      FROM (SELECT DISTINCT event_type FROM ev) t
      CROSS JOIN (SELECT UNNEST(generate_series(d0, d1)) AS dn
                  FROM bounds) g
    ), dense AS (
      SELECT s.event_type, s.dn, COALESCE(d.c, 0) AS c
      FROM spine s LEFT JOIN daily d
        ON d.event_type = s.event_type AND d.dn = s.dn
    ), al AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             l.lag, a.c AS ca, b.c AS cb
      FROM dense a
      CROSS JOIN (SELECT UNNEST([{", ".join(map(str, _XC_LAGS))}])
                  AS lag) l
      JOIN dense b ON b.event_type > a.event_type
                  AND b.dn = a.dn + l.lag
    ), agg AS (
      SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(ca) AS BIGINT) AS sa,
             CAST(SUM(cb) AS BIGINT) AS sb,
             CAST(SUM(ca * cb) AS BIGINT) AS sab,
             CAST(SUM(ca * ca) AS BIGINT) AS saa,
             CAST(SUM(cb * cb) AS BIGINT) AS sbb
      FROM al GROUP BY 1, 2, 3
    )
    SELECT type_a, type_b, lag, n,
           ROUND(CAST(n * sab - sa * sb AS DOUBLE)
                 / NULLIF(sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                          * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)), 0),
                 6) AS xcorr
    FROM agg
    """,
)
def q_xcorr_matrix(spark, sf_dir):
    """Lagged cross-correlation MATRIX between per-type daily event
    series — the matrix form q_lead_lag's single pair gestured at
    (VERDICT r13 #8): every unordered type pair × lags −3..+3, Pearson
    r between count(a, day d) and count(b, day d+ℓ) over the dense
    calendar spine (absent days count 0 — real co-movement, not
    presence correlation). The lead-lag sign convention: positive r at
    positive ℓ means type_a leads type_b by ℓ days.

    Engine parity: all five sufficient statistics (Σa, Σb, Σab, Σa²,
    Σb², n) are BIGINT-exact daily counts; only the final normalized
    quotient is float, computed by the textually identical
    two-sqrt expression in both engines and ROUND(6)-ed — the
    established exact-sums/float-tail discipline. NULLIF guards the
    constant-series zero variance.

    Scale shape: ONE fact-table shuffle (the (type, day) grouped
    count); the spine/alignment/aggregation all run at series grain
    (types × days), and the lag fan-out multiplies the SERIES frame,
    never the event stream. Series-key partitioning carries the
    window-free alignment joins."""
    events = load_table(spark, sf_dir, "events")
    dn = F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
    ev = events.select("event_type", dn.alias("dn"))
    daily = ev.groupBy("event_type", "dn").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    bounds = ev.agg(F.min("dn").alias("d0"), F.max("dn").alias("d1"))
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("dn"),
    )
    dense = (
        spine.join(daily, ["event_type", "dn"], "left")
        .select(
            "event_type", "dn", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
        .localCheckpoint(eager=False)  # both sides of the lag join
    )
    lags = F.explode(
        F.array(*[F.lit(v).cast("long") for v in _XC_LAGS])
    ).alias("lag")
    a = dense.select(
        F.col("event_type").alias("type_a"),
        F.col("dn").alias("da"),
        F.col("c").alias("ca"),
        lags,
    )
    b = dense.select(
        F.col("event_type").alias("type_b"),
        F.col("dn").alias("db"),
        F.col("c").alias("cb"),
    )
    al = a.join(
        b,
        (F.col("type_b") > F.col("type_a"))
        & (F.col("db") == F.col("da") + F.col("lag")),
    )
    agg = al.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ca").cast("long").alias("sa"),
        F.sum("cb").cast("long").alias("sb"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("sab"),
        F.sum(F.col("ca") * F.col("ca")).cast("long").alias("saa"),
        F.sum(F.col("cb") * F.col("cb")).cast("long").alias("sbb"),
    )
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast(
        "double"
    )
    den = F.nullif(
        F.sqrt(
            (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast(
                "double"
            )
        )
        * F.sqrt(
            (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast(
                "double"
            )
        ),
        F.lit(0.0),
    )
    return agg.select(
        "type_a",
        "type_b",
        "lag",
        "n",
        F.round(num / den, 6).alias("xcorr"),
    )


# ---------------------------------------------------------------------------
# phase 118: KMV resemblance (direct Jaccard sketch for set operations)
# ---------------------------------------------------------------------------

_KR_K = 256
_KR_A = "click"
_KR_B = "view"


def _sql_kr() -> str:
    from ..operators.sketches import _sql_fold8

    num = _sql_fold8("hx")
    return f"""
    WITH ua AS (
      SELECT DISTINCT md5(CAST(user_id AS VARCHAR) || ':' ||
               CAST(CAST(ts AS DATE) - CAST('1970-01-01' AS DATE)
                    AS VARCHAR)) AS hx
      FROM events WHERE event_type = '{_KR_A}'
    ), ub AS (
      SELECT DISTINCT md5(CAST(user_id AS VARCHAR) || ':' ||
               CAST(CAST(ts AS DATE) - CAST('1970-01-01' AS DATE)
                    AS VARCHAR)) AS hx
      FROM events WHERE event_type = '{_KR_B}'
    ), hu AS (
      SELECT hx FROM ua UNION SELECT hx FROM ub
    ), bk AS (
      SELECT hx FROM hu ORDER BY hx LIMIT {_KR_K}
    ), flags AS (
      SELECT b.hx,
             CASE WHEN b.hx IN (SELECT hx FROM ua)
                   AND b.hx IN (SELECT hx FROM ub)
                  THEN 1 ELSE 0 END AS both_f,
             CAST({num} AS DOUBLE) AS numv
      FROM bk b
    ), sk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
             CAST(SUM(both_f) AS BIGINT) AS k_both,
             MAX(numv) AS kth_num
      FROM flags
    ), ex AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM hu) AS exact_union,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM ua JOIN ub USING (hx)) AS exact_inter
    ), est AS (
      SELECT s.k_used, s.k_both,
             CASE WHEN s.k_used < {_KR_K}
                  THEN CAST(s.k_used AS DOUBLE)
                  ELSE {float(_KR_K - 1)}
                       / (GREATEST(s.kth_num, 1.0) / {float(1 << 32)})
             END AS union_est,
             e.exact_union, e.exact_inter
      FROM sk s CROSS JOIN ex e
    )
    SELECT k_used, k_both,
           ROUND(CAST(k_both AS DOUBLE) / k_used, 6) AS jaccard_est,
           ROUND(union_est, 2) AS union_est,
           ROUND(union_est * k_both / k_used, 2) AS inter_est,
           exact_union, exact_inter,
           ROUND(CAST(exact_inter AS DOUBLE) / exact_union, 6)
             AS jaccard_exact,
           ROUND(1.0 / sqrt(CAST(k_used AS DOUBLE)), 6) AS err_bound
    FROM est
    """


@query("q_kmv_resemblance", _sql_kr())
def q_kmv_resemblance(spark, sf_dir):
    """Direct KMV resemblance estimator for sketch SET OPERATIONS
    (VERDICT r13 #8's set-ops lead): the bottom-k sketch of A∪B is
    bottom-k of the merged hash stream (KMV mergeability), and the
    fraction of those k minima that belong to BOTH sets is an unbiased
    Jaccard estimate (Broder's min-hash resemblance at sketch grain) —
    intersection ≈ Ĵ · |A∪B|̂, difference by subtraction. This
    complements q_join_card_est's inclusion-exclusion route, whose
    error is ABSOLUTE in the set sizes (catastrophic for small
    intersections); the resemblance route's error is relative to the
    union (±1/√k, emitted as err_bound) — the estimator a sketch
    catalog should reach for first.

    Everything is md5-portable and deterministic: both engines rank
    identical lowercase-hex digests, so the ESTIMATES (not just the
    exact reference columns computed alongside) hash-match the oracle —
    the q_kmv_distinct discipline extended to the two-set algebra.

    Scale shape: two distinct pre-passes at key grain (the only
    data-sized shuffles), bottom-k via TakeOrdered (per-partition
    top-k, O(k) to one reducer), membership flags as two broadcast-k
    semi-join probes; per-shard sketches union without rescanning."""
    from ..operators.sketches import _fold8

    events = load_table(spark, sf_dir, "events")

    def hset(t):
        # (user, active-day) grain: user-grain sets saturate on the
        # fixture (every user hits every type), so the sketch compares
        # ACTIVITY sets — users' click-days vs view-days overlap
        # partially and the resemblance estimate is non-degenerate
        dn = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        return (
            events.filter(F.col("event_type") == t)
            .select(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit(":"),
                    dn.cast("string"),
                ).alias("s")
            )
            .distinct()
            .select(F.md5("s").alias("hx"))
        )

    ua = hset(_KR_A).persist()
    ub = hset(_KR_B).persist()
    hu = ua.unionByName(ub).distinct().persist()
    bk = hu.orderBy("hx").limit(_KR_K)
    flags = (
        bk.join(ua.select("hx", F.lit(1).alias("ia")), "hx", "left")
        .join(ub.select("hx", F.lit(1).alias("ib")), "hx", "left")
        .select(
            "hx",
            F.when(
                F.col("ia").isNotNull() & F.col("ib").isNotNull(), 1
            )
            .otherwise(0)
            .alias("both_f"),
            _fold8(F.col("hx")).cast("double").alias("numv"),
        )
    )
    sk = flags.agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.sum("both_f").cast("long").alias("k_both"),
        F.max("numv").alias("kth_num"),
    )
    ex = hu.agg(F.count(F.lit(1)).cast("long").alias("exact_union")).crossJoin(
        ua.join(ub, "hx")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    union_est = F.when(
        F.col("k_used") < _KR_K, F.col("k_used").cast("double")
    ).otherwise(
        F.lit(float(_KR_K - 1))
        / (F.greatest(F.col("kth_num"), F.lit(1.0)) / F.lit(float(1 << 32)))
    )
    return (
        sk.crossJoin(ex)  # two 1-row aggregates
        .select(
            "k_used",
            "k_both",
            F.round(
                F.col("k_both").cast("double") / F.col("k_used"), 6
            ).alias("jaccard_est"),
            F.round(union_est, 2).alias("union_est"),
            F.round(
                union_est * F.col("k_both") / F.col("k_used"), 2
            ).alias("inter_est"),
            "exact_union",
            "exact_inter",
            F.round(
                F.col("exact_inter").cast("double") / F.col("exact_union"),
                6,
            ).alias("jaccard_exact"),
            F.round(
                F.lit(1.0) / F.sqrt(F.col("k_used").cast("double")), 6
            ).alias("err_bound"),
        )
    )


# ---------------------------------------------------------------------------
# phase 119: file-source rate-limit census (maxFilesPerTrigger backpressure)
# ---------------------------------------------------------------------------

_RL_FILES = 12


@query("q_stream_rate_limit")  # runs real availableNow streams → rows-only
def q_stream_rate_limit(spark, sf_dir):
    """File-source RATE-LIMIT certificate (VERDICT r13 #8's
    backpressure lead): lands the event stream as exactly 12 files,
    then drives the SAME aggregation through availableNow with
    maxFilesPerTrigger 1, 4, and unlimited, reading the micro-batch
    ledger from query progress. The certificate: batch count obeys
    ceil(files / limit) — 12/1 → 12 batches, 12/4 → 3, unlimited →
    1 — and every configuration lands the IDENTICAL result rows
    (rate limiting must change scheduling, never semantics).

    Why it matters at 100 TB: availableNow + maxFilesPerTrigger is the
    knob that turns a catch-up backlog (a weekend of landed files)
    into bounded micro-batches instead of one executor-OOM mega-batch;
    this census proves the engine honors the bound and that state
    survives across the induced batch boundaries (the final counts
    aggregate rows from EVERY batch).

    Wall time is micro-batch overhead by nature → rows-only with
    pytest pins (the stream-census discipline)."""
    from ..streaming.census import StreamCensus

    events = load_table(spark, sf_dir, "events")
    results = {}
    with StreamCensus(spark, "q_stream_rate_limit") as census:
        landed = events.select("event_id", "ts", "event_type")
        path, schema = census.land(landed.repartition(_RL_FILES))
        for label, mft in (("mft1", 1), ("mft4", 4), ("nolimit", None)):
            agg = census.stream(path, schema, mft).groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n")
            )
            table, progress = census.run(agg, "complete")
            n_batches = sum(
                1 for p in progress if int(p.get("numInputRows", 0) or 0) > 0
            )
            rows = {r["event_type"]: r["n"] for r in table.collect()}
            results[label] = (n_batches, rows)

    nb1, r1 = results["mft1"]
    nb4, r4 = results["mft4"]
    nbu, ru = results["nolimit"]
    rows_total = sum(r1.values())
    return spark.createDataFrame(
        [
            (
                _RL_FILES,
                int(nb1),
                int(nb4),
                int(nbu),
                int(rows_total),
                int(r1 == r4 == ru),
                int(
                    nb1 == _RL_FILES
                    and nb4 == (_RL_FILES + 3) // 4
                    and nbu == 1
                ),
            )
        ],
        "n_files int, n_batches_mft1 int, n_batches_mft4 int,"
        " n_batches_nolimit int, rows_total long,"
        " results_agree int, backpressure_holds int",
    )


# ---------------------------------------------------------------------------
# phase 120: banded matrix profile (exact subsequence motifs + discords)
# ---------------------------------------------------------------------------

_MP_M = 4    # subsequence length (days)
_MP_B = 90   # band: candidate neighbors within this many positions


@query(
    "q_matrix_profile",
    f"""
    WITH daily AS (
      SELECT n.n_name, o.o_orderdate AS d,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) // 100 AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), pos AS (
      SELECT n_name, rev,
             ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY d) - 1 AS p
      FROM daily
    ), sub AS (
      SELECT n_name, p,
             rev AS r0,
             LEAD(rev, 1) OVER w AS r1,
             LEAD(rev, 2) OVER w AS r2,
             LEAD(rev, 3) OVER w AS r3
      FROM pos
      WINDOW w AS (PARTITION BY n_name ORDER BY p)
      QUALIFY LEAD(rev, {_MP_M - 1}) OVER w IS NOT NULL
    ), pairs AS (
      SELECT a.n_name, a.p AS i, b.p AS j,
             (a.r0 - b.r0) * (a.r0 - b.r0)
           + (a.r1 - b.r1) * (a.r1 - b.r1)
           + (a.r2 - b.r2) * (a.r2 - b.r2)
           + (a.r3 - b.r3) * (a.r3 - b.r3) AS d2
      FROM sub a JOIN sub b
        ON a.n_name = b.n_name
       AND b.p BETWEEN a.p + {_MP_M} AND a.p + {_MP_B}
    ), bidir AS (
      SELECT n_name, i, j, d2 FROM pairs
      UNION ALL
      SELECT n_name, j AS i, i AS j, d2 FROM pairs
    ), prof AS (
      SELECT n_name, i, j AS nn, d2
      FROM (SELECT n_name, i, j, d2,
                   ROW_NUMBER() OVER (PARTITION BY n_name, i
                                      ORDER BY d2, j) AS rn
            FROM bidir)
      WHERE rn = 1
    ), motif AS (
      SELECT n_name, i AS motif_i, nn AS motif_nn, d2 AS motif_d2
      FROM (SELECT n_name, i, nn, d2,
                   ROW_NUMBER() OVER (PARTITION BY n_name
                                      ORDER BY d2, i, nn) AS rn
            FROM prof)
      WHERE rn = 1
    ), discord AS (
      SELECT n_name, i AS discord_i, nn AS discord_nn,
             d2 AS discord_d2
      FROM (SELECT n_name, i, nn, d2,
                   ROW_NUMBER() OVER (PARTITION BY n_name
                                      ORDER BY d2 DESC, i, nn) AS rn
            FROM prof)
      WHERE rn = 1
    ), nsub AS (
      SELECT n_name, CAST(count(*) AS BIGINT) AS n_sub FROM sub
      GROUP BY 1
    )
    SELECT n.n_name, n.n_sub,
           m.motif_i, m.motif_nn, m.motif_d2,
           d.discord_i, d.discord_nn, d.discord_d2
    FROM nsub n
    JOIN motif m ON m.n_name = n.n_name
    JOIN discord d ON d.n_name = n.n_name
    """,
)
def q_matrix_profile(spark, sf_dir):
    """Banded MATRIX PROFILE (Yeh et al. 2016) over the per-nation
    daily revenue series — the exact-distance completion of the motif
    family q_sax_motifs opened with symbols: for every length-4
    subsequence, the nearest other subsequence within a ±90-position
    band (exclusion zone |i−j| ≥ m kills trivial self-matches), then
    per series the MOTIF (globally closest pair — the recurring shape)
    and the DISCORD (the subsequence FARTHEST from its own nearest
    neighbor — the classic series anomaly).

    Engine parity: integer-cents subsequence vectors, BIGINT squared
    euclidean (non-normalized profile over whole-DOLLAR daily sums —
    absolute-shape motifs; dollars bound the 4-term diff² sum by
    ~2.6e14 at sf1 where cents overflowed BIGINT on the clustered
    replication fixture), and every min/argmin is a
    deterministic ROW_NUMBER tie-break, so the whole profile
    hash-matches the DuckDB twin.

    Scale shape (why BANDED): the full profile is O(n²) per series —
    the all-pairs cliff every exact family here refuses. The band
    bounds candidates at 2·90 per position (O(n·90) pairs, one
    series-partitioned self-join with a range predicate on the ALREADY
    co-partitioned position key), the standard banded-MP trade:
    motifs/discords are certified within a 90-day recurrence horizon,
    and the band widens linearly, never quadratically. Series
    parallelism is unbounded; per-task state is band-window rows."""
    from ..io import load_tables

    orders, customer, nation = load_tables(
        spark, sf_dir, "orders", "customer", "nation"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.col("o_orderdate").alias("d"))
        # distance arithmetic runs on whole DOLLARS (exact floor-div of
        # the non-negative cents sum, identical in both engines): at
        # cents grain a replicated/clustered fixture can push the
        # 4-term diff² sum past 2^63 (measured: ARITHMETIC_OVERFLOW at
        # sf1) — dollars bound diff²·4 by ~2.6e14 at sf1, four orders
        # of magnitude of headroom
        .agg(F.expr("CAST(sum(CAST(ROUND(o_totalprice * 100) AS LONG))"
                    " AS LONG) div 100").alias("rev"))
    )
    wpos = Window.partitionBy("n_name").orderBy("d")
    pos = daily.select(
        "n_name",
        "rev",
        (F.row_number().over(wpos) - 1).cast("long").alias("p"),
    )
    wseq = Window.partitionBy("n_name").orderBy("p")
    sub = (
        pos.select(
            "n_name",
            "p",
            F.col("rev").alias("r0"),
            F.lead("rev", 1).over(wseq).alias("r1"),
            F.lead("rev", 2).over(wseq).alias("r2"),
            F.lead("rev", 3).over(wseq).alias("r3"),
        )
        .filter(F.col(f"r{_MP_M - 1}").isNotNull())
        .localCheckpoint(eager=False)  # both sides of the band join
    )
    # Bucketed band join: equi-joining on n_name alone would cross
    # each series against itself (n² candidates per series — 144M at
    # sf0.1) and filter the band afterwards. Bucketing positions at
    # band width B makes it an EQUI join on (series, bucket): j ∈
    # [i+m, i+B] implies bucket(j) ∈ {bucket(i), bucket(i)+1}, so the
    # probe side explodes two bucket keys and candidates drop to
    # O(n·B) — the range_join binning discipline.
    a = sub.select(
        "n_name",
        F.col("p").alias("i"),
        F.explode(
            F.array(
                F.expr(f"p div {_MP_B}"),
                F.expr(f"p div {_MP_B} + 1"),
            )
        ).alias("kb"),
        *[F.col(f"r{k}").alias(f"a{k}") for k in range(_MP_M)],
    )
    b = sub.select(
        F.col("n_name").alias("nb"),
        F.col("p").alias("j"),
        F.expr(f"p div {_MP_B}").alias("jb"),
        *[F.col(f"r{k}").alias(f"b{k}") for k in range(_MP_M)],
    )
    d2 = None
    for k in range(_MP_M):
        t = (F.col(f"a{k}") - F.col(f"b{k}")) * (
            F.col(f"a{k}") - F.col(f"b{k}")
        )
        d2 = t if d2 is None else d2 + t
    pairs = (
        a.join(
            b,
            (F.col("n_name") == F.col("nb"))
            & (F.col("kb") == F.col("jb"))
            & (F.col("j") >= F.col("i") + _MP_M)
            & (F.col("j") <= F.col("i") + _MP_B),
        )
        .select("n_name", "i", "j", d2.alias("d2"))
        # both union legs read this — Spark replays the band join per
        # leg otherwise (no common-subplan reuse across union inputs)
        .localCheckpoint(eager=False)
    )
    bidir = pairs.unionByName(
        pairs.select(
            "n_name",
            F.col("j").alias("i"),
            F.col("i").alias("j"),
            "d2",
        )
    )
    # per-position nearest neighbor as a min-STRUCT aggregate (map-side
    # partial combine over the O(n·band) pair stream) — the lexicographic
    # (d2, j) minimum is exactly the ROW_NUMBER(ORDER BY d2, j) = 1 pick
    # the DuckDB twin makes, without sorting the pair frame in a window
    prof = (
        bidir.groupBy("n_name", "i")
        .agg(F.min(F.struct("d2", "j")).alias("m"))
        .select(
            "n_name",
            "i",
            F.col("m.j").alias("nn"),
            F.col("m.d2").alias("d2"),
        )
        .localCheckpoint(eager=False)  # motif + discord heads
    )
    wmot = Window.partitionBy("n_name").orderBy("d2", "i", "nn")
    motif = (
        prof.withColumn("rn", F.row_number().over(wmot))
        .filter(F.col("rn") == 1)
        .select(
            "n_name",
            F.col("i").alias("motif_i"),
            F.col("nn").alias("motif_nn"),
            F.col("d2").alias("motif_d2"),
        )
    )
    wdis = Window.partitionBy("n_name").orderBy(
        F.col("d2").desc(), F.col("i"), F.col("nn")
    )
    discord = (
        prof.withColumn("rn", F.row_number().over(wdis))
        .filter(F.col("rn") == 1)
        .select(
            "n_name",
            F.col("i").alias("discord_i"),
            F.col("nn").alias("discord_nn"),
            F.col("d2").alias("discord_d2"),
        )
    )
    nsub = sub.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_sub")
    )
    return (
        nsub.join(motif, "n_name")
        .join(discord, "n_name")
        .select(
            "n_name", "n_sub",
            "motif_i", "motif_nn", "motif_d2",
            "discord_i", "discord_nn", "discord_d2",
        )
    )


# ---------------------------------------------------------------------------
# phase 121: incremental aggregate maintenance with retractions (IVM agg)
# ---------------------------------------------------------------------------

_IVM_SPLIT = "1997-01-01"  # base = orders before; inserts = orders from


@query(
    "q_ivm_agg",
    f"""
    WITH base AS (
      SELECT o_custkey % 25 AS grp,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey
      FROM orders WHERE o_orderdate < DATE '{_IVM_SPLIT}'
    ), base_agg AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM base GROUP BY 1
    ), delta AS (
      SELECT o_custkey % 25 AS grp,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(1 AS BIGINT) AS sgn
      FROM orders WHERE o_orderdate >= DATE '{_IVM_SPLIT}'
      UNION ALL
      SELECT grp, cents, CAST(-1 AS BIGINT) AS sgn
      FROM base WHERE o_orderkey % 10 = 0
    ), delta_agg AS (
      SELECT grp, CAST(SUM(sgn) AS BIGINT) AS dn,
             CAST(SUM(sgn * cents) AS BIGINT) AS ds
      FROM delta GROUP BY 1
    ), maint AS (
      SELECT COALESCE(b.grp, d.grp) AS grp,
             COALESCE(b.n, 0) + COALESCE(d.dn, 0) AS n_maint,
             COALESCE(b.s, 0) + COALESCE(d.ds, 0) AS s_maint
      FROM base_agg b FULL OUTER JOIN delta_agg d ON b.grp = d.grp
    ), recompute AS (
      SELECT o_custkey % 25 AS grp,
             CAST(count(*) AS BIGINT) AS n_rec,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS s_rec
      FROM orders
      WHERE NOT (o_orderdate < DATE '{_IVM_SPLIT}'
                 AND o_orderkey % 10 = 0)
      GROUP BY 1
    )
    SELECT m.grp, m.n_maint, m.s_maint, r.n_rec, r.s_rec,
           CAST(CASE WHEN m.n_maint = r.n_rec AND m.s_maint = r.s_rec
                THEN 1 ELSE 0 END AS INTEGER) AS agree
    FROM maint m JOIN recompute r ON m.grp = r.grp
    WHERE m.n_maint > 0
    """,
)
def q_ivm_agg(spark, sf_dir):
    """Incremental view maintenance for AGGREGATES with RETRACTIONS —
    the signed-delta algebra q_ivm_join certified for joins, completed
    at aggregate grain: a maintained group-by view absorbs a delta
    stream of inserts (+1: the post-split orders) AND deletes (−1: a
    deterministic 10% retraction of the base — cancellations/GDPR
    erasure), merging count and sum as SIGNED partial aggregates in a
    group-grain FULL OUTER join, groups whose count hits zero dropping
    out. The certificate recomputes the view from scratch over the
    equivalent row set and emits an agree bit per group — maintained ≡
    recomputed, hash-certified (counts and exact integer cents).

    Why it matters at 100 TB: recomputing a corpus-wide aggregate on
    every ingest batch is a full scan; the maintained path touches
    ONLY the delta (one group-grain merge join against the stored
    view) — this is the algebra every streaming-warehouse sum/count
    view runs on, proven equal to recompute under deletes, the hard
    half (insert-only maintenance is trivial; retractions are where
    sign errors hide).

    Scale shape: delta side is delta-sized end to end; the recompute
    side exists only as this query's certificate and carries the cost
    the maintained path avoids — the asymmetry IS the measurement."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    grp = (F.col("o_custkey") % 25).alias("grp")
    split = F.lit(_IVM_SPLIT).cast("date")
    base = orders.filter(F.col("o_orderdate") < split).select(
        grp, cents.alias("cents"), "o_orderkey"
    )
    base_agg = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    inserts = orders.filter(F.col("o_orderdate") >= split).select(
        grp, cents.alias("cents"), F.lit(1).cast("long").alias("sgn")
    )
    deletes = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "grp", "cents", F.lit(-1).cast("long").alias("sgn")
    )
    delta_agg = (
        inserts.unionByName(deletes)
        .groupBy("grp")
        .agg(
            F.sum("sgn").cast("long").alias("dn"),
            F.sum(F.col("sgn") * F.col("cents")).cast("long").alias("ds"),
        )
    )
    maint = (
        base_agg.join(delta_agg, "grp", "full_outer")
        .select(
            "grp",
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            ).alias("n_maint"),
            (
                F.coalesce(F.col("s"), F.lit(0))
                + F.coalesce(F.col("ds"), F.lit(0))
            ).alias("s_maint"),
        )
    )
    recompute = (
        orders.filter(
            ~(
                (F.col("o_orderdate") < split)
                & (F.col("o_orderkey") % 10 == 0)
            )
        )
        .groupBy(grp)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rec"),
            F.sum(cents).cast("long").alias("s_rec"),
        )
    )
    return (
        maint.join(recompute, "grp")
        .filter(F.col("n_maint") > 0)
        .select(
            "grp",
            "n_maint",
            "s_maint",
            "n_rec",
            "s_rec",
            F.when(
                (F.col("n_maint") == F.col("n_rec"))
                & (F.col("s_maint") == F.col("s_rec")),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("agree"),
        )
    )


# ---------------------------------------------------------------------------
# phase 122: runtime bloom-filter join census (InjectRuntimeFilter)
# ---------------------------------------------------------------------------


@query("q_runtime_filter_census")  # engine-physical → rows-only
def q_runtime_filter_census(spark, sf_dir):
    """Runtime FILTER certificate (SPARK-32268 InjectRuntimeFilter) —
    the fourth rung of the shuffle-reduction ladder (WindowGroupLimit,
    exchange reuse, agg pushdown, THIS): when a shuffle join's build
    side is small and selective, Spark plans a bloom filter OVER the
    build side's join keys and injects might_contain on the probe side
    BEFORE its exchange, so non-matching fact rows never cross the
    wire. Selective dim (one p_size class of part) ⋈ lineitem, forced
    to a shuffle join (broadcast thresholds −1, scoped + restored —
    broadcast joins already hand the probe side an exact filter; the
    bloom matters precisely when the build side is too big to
    broadcast but its KEY SET still fits a sketch).

    Per mode (bloom on / off): total shuffleRecordsWritten read from
    the EXECUTED plan (collect first, then walk that plan's metrics —
    the r13 discipline), might_contain node count, result rows, exact
    cents (value parity: a runtime filter is an execution strategy,
    never semantics). applicationSideScanSizeThreshold is scoped to 0
    because the default (10 GB) correctly refuses to spend a bloom on
    a bench-sized probe — the census certifies the MECHANISM the 100 TB
    plan relies on, where the probe side is the whole fact table and
    this filter is the difference between shuffling matching rows and
    shuffling everything. Engine-physical → rows-only; asymmetry and
    parity pinned in pytest."""
    from ..io import load_tables

    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    dim = part.filter(F.col("p_size") == 1).select("p_partkey")
    fact = lineitem.select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )

    def measure():
        j = fact.join(dim, fact.l_partkey == dim.p_partkey)
        got = j.agg(
            F.count(F.lit(1)).alias("nr"),
            F.coalesce(F.sum("cents"), F.lit(0)).alias("c"),
        )
        row = got.collect()[0]
        ep = got._jdf.queryExecution().executedPlan()
        shuffled = 0

        def walk(node):
            nonlocal shuffled
            name = node.nodeName()
            if "AdaptiveSparkPlan" in name:
                walk(node.executedPlan())
                return
            if "QueryStage" in name:
                walk(node.plan())
                return
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "shuffleRecordsWritten":
                    shuffled += int(kv._2().value())
            for i in range(node.children().size()):
                walk(node.children().apply(i))

        walk(ep)
        n_bloom = ep.toString().count("might_contain")
        return shuffled, n_bloom, int(row.nr), int(row.c)

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    rows = []
    for mode, on in (("bloom-on", "true"), ("bloom-off", "false")):
        with scoped_conf(spark, {**confs, key: on}):
            rows.append((mode, *map(int, measure())))
    return spark.createDataFrame(
        rows,
        "mode string, shuffle_records long, n_bloom_nodes long,"
        " result_rows long, cents long",
    )


# ---------------------------------------------------------------------------
# phase 123: uplift deciles + Qini curve (experimentation completion)
# ---------------------------------------------------------------------------


def _sql_uplift() -> str:
    nib = "ascii(substring(md5('uplift:' || CAST(c_custkey AS VARCHAR)), 1, 1))"
    treat = f"({nib} - CASE WHEN {nib} >= 97 THEN 87 ELSE 48 END) % 2"
    return f"""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN o_orderdate < DATE '1996-01-01'
                      THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS pre_cents,
             MAX(CASE WHEN o_orderdate >= DATE '1996-01-01'
                  AND o_orderpriority = '1-URGENT'
                 THEN 1 ELSE 0 END) AS converted
      FROM orders GROUP BY 1
    ), pop AS (
      SELECT c.c_custkey, CAST({treat} AS BIGINT) AS t,
             COALESCE(s.pre_cents, 0) AS score,
             COALESCE(s.converted, 0) AS y
      FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
    ), dec AS (
      SELECT t, y,
             CAST(NTILE(10) OVER (ORDER BY score DESC, c_custkey)
                  AS BIGINT) AS decile
      FROM pop
    ), agg AS (
      SELECT decile,
             CAST(SUM(t) AS BIGINT) AS n_t,
             CAST(SUM(t * y) AS BIGINT) AS conv_t,
             CAST(SUM(1 - t) AS BIGINT) AS n_c,
             CAST(SUM((1 - t) * y) AS BIGINT) AS conv_c
      FROM dec GROUP BY 1
    ), cum AS (
      SELECT decile, n_t, conv_t, n_c, conv_c,
             SUM(n_t) OVER w AS cnt, SUM(conv_t) OVER w AS cct,
             SUM(n_c) OVER w AS cnc, SUM(conv_c) OVER w AS ccc
      FROM agg WINDOW w AS (ORDER BY decile
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)
    )
    SELECT decile, n_t, conv_t, n_c, conv_c,
           ROUND(CAST(conv_t AS DOUBLE) / NULLIF(n_t, 0)
                 - CAST(conv_c AS DOUBLE) / NULLIF(n_c, 0), 6) AS uplift,
           ROUND(CAST(cct AS DOUBLE)
                 - CAST(ccc AS DOUBLE) * cnt / NULLIF(cnc, 0), 6)
             AS qini_cum
    FROM cum
    """


@query("q_uplift_qini", _sql_uplift())
def q_uplift_qini(spark, sf_dir):
    """Uplift-by-decile + Qini curve — the experimentation family's
    missing targeting readout (q_ab_test says DID the treatment work;
    THIS says WHO to treat): customers ranked by a targeting score
    (pre-period spend), cut into NTILE deciles, per-decile incremental
    conversion (treated rate − control rate) and the cumulative Qini
    value cum_conv_t − cum_conv_c · cum_n_t/cum_n_c — the area under
    this curve is the standard uplift-model comparison metric; a
    useless score gives a straight line to the corner.

    Treatment assignment is the portable md5-parity coin
    (q_ab_srm_check's discipline — no RNG at query time), outcome =
    an urgent post-period order, so every count is BIGINT-exact and
    both engines produce the identical decile table; only the two
    final rate expressions are float (identical shape, ROUND 6,
    NULLIF-guarded).

    Scale shape: one orders scan folded to customer grain (conditional
    aggregates, map-side combined), one broadcast-dim left join, ONE
    global NTILE window over the customer frame (the decile cut is
    customer-grain, never event-grain), then decile-grain windows."""
    from ..io import load_tables

    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    split = F.lit("1996-01-01").cast("date")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(
            F.when(F.col("o_orderdate") < split, cents).otherwise(0)
        )
        .cast("long")
        .alias("pre_cents"),
        F.max(
            F.when(
                (F.col("o_orderdate") >= split)
                & (F.col("o_orderpriority") == "1-URGENT"),
                1,
            ).otherwise(0)
        ).alias("converted"),
    )
    a = F.ascii(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("uplift:"), F.col("c_custkey").cast("string")
                )
            ),
            1,
            1,
        )
    )
    treat = (
        (a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))) % 2
    ).cast("long")
    pop = customer.join(
        spend, customer.c_custkey == spend.o_custkey, "left"
    ).select(
        "c_custkey",
        treat.alias("t"),
        F.coalesce(F.col("pre_cents"), F.lit(0)).alias("score"),
        F.coalesce(F.col("converted"), F.lit(0)).alias("y"),
    )
    wd = Window.orderBy(F.col("score").desc(), F.col("c_custkey"))
    dec = pop.select(
        "t", "y", F.ntile(10).over(wd).cast("long").alias("decile")
    )
    agg = dec.groupBy("decile").agg(
        F.sum("t").cast("long").alias("n_t"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("conv_t"),
        F.sum(F.lit(1) - F.col("t")).cast("long").alias("n_c"),
        F.sum((F.lit(1) - F.col("t")) * F.col("y"))
        .cast("long")
        .alias("conv_c"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = agg.select(
        "decile", "n_t", "conv_t", "n_c", "conv_c",
        F.sum("n_t").over(wc).alias("cnt"),
        F.sum("conv_t").over(wc).alias("cct"),
        F.sum("n_c").over(wc).alias("cnc"),
        F.sum("conv_c").over(wc).alias("ccc"),
    )
    return cum.select(
        "decile", "n_t", "conv_t", "n_c", "conv_c",
        F.round(
            F.col("conv_t").cast("double") / F.nullif(F.col("n_t"), F.lit(0))
            - F.col("conv_c").cast("double")
            / F.nullif(F.col("n_c"), F.lit(0)),
            6,
        ).alias("uplift"),
        F.round(
            F.col("cct").cast("double")
            - F.col("ccc").cast("double")
            * F.col("cnt")
            / F.nullif(F.col("cnc"), F.lit(0)),
            6,
        ).alias("qini_cum"),
    )


# ---------------------------------------------------------------------------
# phase 124: mergeable quantile summaries (per-shard sketch -> global)
# ---------------------------------------------------------------------------

_QM_SHARDS = 8
_QM_S = 32              # summary points per shard
_QM_PS = (50, 90, 99)   # percentiles certified


def _sql_qmerge() -> str:
    ps = ", ".join(map(str, _QM_PS))
    return f"""
    WITH vals AS (
      SELECT o_orderkey % {_QM_SHARDS} AS shard,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
             o_orderkey AS k
      FROM orders
    ), nper AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_s FROM vals GROUP BY 1
    ), ranked AS (
      SELECT shard, v,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY v, k) - 1
               AS r
      FROM vals
    ), pos AS (
      SELECT DISTINCT n.shard, n.n_s,
             ((n.n_s - 1) * j.j) // {_QM_S - 1} AS p
      FROM nper n
      CROSS JOIN (SELECT UNNEST(generate_series(0, {_QM_S - 1})) AS j) j
    ), summ AS (
      SELECT p.shard, r.v, p.n_s AS w, p.p
      FROM pos p JOIN ranked r ON r.shard = p.shard AND r.r = p.p
    ), cum AS (
      SELECT v, shard, w,
             SUM(w) OVER (ORDER BY v, shard, p
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cumw
      FROM summ
    ), tot AS (
      SELECT CAST(SUM(n_s) AS BIGINT) AS n,
             CAST(SUM(n_s) * {_QM_S} AS BIGINT) AS w_tot
      FROM nper
    ), targets AS (
      SELECT pq.p, t.n, t.w_tot,
             (pq.p * (t.w_tot - 1)) // 100 AS t_w,
             (pq.p * (t.n - 1)) // 100 AS t_n
      FROM (SELECT UNNEST([{ps}]) AS p) pq CROSS JOIN tot t
    ), est AS (
      SELECT tg.p, MIN(c.v) AS est_cents
      FROM targets tg JOIN cum c ON c.cumw >= tg.t_w + 1
      GROUP BY 1
    ), gre AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v, shard, k) - 1 AS gr
      FROM vals
    ), exact AS (
      SELECT tg.p, g.v AS exact_cents
      FROM targets tg JOIN gre g ON g.gr = tg.t_n
    ), rerr AS (
      SELECT e.p,
             CAST((SELECT count(*) FROM vals x WHERE x.v < e.est_cents)
                  AS BIGINT) AS below
      FROM est e
    )
    SELECT CAST(tg.p AS BIGINT) AS p, tg.n AS n_total,
           e.est_cents, x.exact_cents,
           CAST(ABS(r.below - tg.t_n) AS BIGINT) AS rank_err,
           CAST(tg.n // {_QM_S - 1} + {_QM_SHARDS} AS BIGINT) AS bound
    FROM targets tg
    JOIN est e ON e.p = tg.p
    JOIN exact x ON x.p = tg.p
    JOIN rerr r ON r.p = tg.p
    """


@query("q_quantile_merge", _sql_qmerge())
def q_quantile_merge(spark, sf_dir):
    """Mergeable quantile-summary certificate — the sketch-algebra
    story (q_kmv_distinct, q_hll_merge, q_join_card_est) extended to
    QUANTILES, the aggregate approx_percentile answers but whose
    sketch no other engine reproduces: each shard keeps only its
    32-point equi-spaced order-statistic summary (the classic
    mergeable reduction — per-shard rank error ≤ n_s/(32−1)), the
    summaries merge by weighted concatenation (point weight = its
    shard's row count, all ×32-scaled so weights stay BIGINT), and
    global p50/p90/p99 come off the merged cumulative-weight walk with
    a deterministic first-point-past-target rule. Alongside: the exact
    global order statistic, the MEASURED rank error of the estimate,
    and the theoretical bound N/(32−1)+shards it must stay under
    (pinned) — everything integer, so the whole certificate
    hash-matches the oracle.

    100 TB shape: per-shard summaries are computed where the data
    lives (one shard-partitioned rank window), and only shards×32
    points ever merge — the pattern that answers percentile questions
    over yesterday's shards without rescanning them; the exact side
    exists purely as this query's reference."""
    orders = load_table(spark, sf_dir, "orders")
    vals = orders.select(
        (F.col("o_orderkey") % _QM_SHARDS).alias("shard"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.col("o_orderkey").alias("k"),
    ).localCheckpoint(eager=False)  # ranked + global rank + rank_err scans
    nper = vals.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    )
    wsh = Window.partitionBy("shard").orderBy("v", "k")
    ranked = vals.select(
        "shard", "v",
        (F.row_number().over(wsh) - 1).cast("long").alias("r"),
    )
    pos = (
        nper.select(
            "shard",
            "n_s",
            F.explode(F.sequence(F.lit(0), F.lit(_QM_S - 1))).alias("j"),
        )
        .select(
            "shard",
            "n_s",
            F.expr(f"((n_s - 1) * j) div {_QM_S - 1}").alias("p"),
        )
        .distinct()
    )
    summ = pos.join(
        ranked, (pos.shard == ranked.shard) & (pos.p == ranked.r)
    ).select(pos.shard.alias("shard"), "v", F.col("n_s").alias("w"), "p")
    wcum = Window.orderBy("v", "shard", "p").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = summ.select("v", F.sum("w").over(wcum).alias("cumw"))
    tot = nper.agg(
        F.sum("n_s").cast("long").alias("n"),
        (F.sum("n_s") * _QM_S).cast("long").alias("w_tot"),
    )
    targets = (
        tot.select(
            "n",
            "w_tot",
            F.explode(
                F.array(*[F.lit(p).cast("long") for p in _QM_PS])
            ).alias("p"),
        )
        .select(
            "p",
            "n",
            F.expr("(p * (w_tot - 1)) div 100").alias("t_w"),
            F.expr("(p * (n - 1)) div 100").alias("t_n"),
        )
        .localCheckpoint(eager=False)  # est + exact + final joins
    )
    est = (
        cum.join(F.broadcast(targets), F.col("cumw") >= F.col("t_w") + 1)
        .groupBy("p")
        .agg(F.min("v").alias("est_cents"))
        # EAGER: est feeds both the output row and the rank_err probe —
        # a lazy checkpoint leaves the non-equi subtree duplicated in
        # the composed plan (3 BNLJ, breaching the ≤2 census rule);
        # materializing the 3-row frame here keeps one BNLJ per probe
        .localCheckpoint(eager=True)
    )
    wgl = Window.orderBy("v", "shard", "k")
    gre = vals.select(
        "v", (F.row_number().over(wgl) - 1).cast("long").alias("gr")
    )
    exact = gre.join(
        F.broadcast(targets), F.col("gr") == F.col("t_n")
    ).select("p", F.col("v").alias("exact_cents"))
    below = (
        vals.crossJoin(F.broadcast(est))
        .filter(F.col("v") < F.col("est_cents"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("below"))
    )
    return (
        targets.join(est, "p")
        .join(exact, "p")
        .join(below, "p")
        .select(
            "p",
            F.col("n").alias("n_total"),
            "est_cents",
            "exact_cents",
            F.abs(F.col("below") - F.col("t_n"))
            .cast("long")
            .alias("rank_err"),
            (
                F.expr(f"n div {_QM_S - 1}") + F.lit(_QM_SHARDS)
            )
            .cast("long")
            .alias("bound"),
        )
    )


# ---------------------------------------------------------------------------
# phase 125: bitemporal as-of reconstruction (valid time x transaction time)
# ---------------------------------------------------------------------------

_BT_T1 = "1996-07-01"
_BT_T2 = "1998-12-31"


@query(
    "q_bitemporal_asof",
    f"""
    WITH v AS (
      SELECT o_orderkey AS k, o_orderdate AS vd,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderdate AS tx_from, 1 AS ver
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) + 500,
             o_orderdate + INTERVAL 30 DAY, 2
      FROM orders WHERE o_orderkey % 7 = 0
    ), t AS (
      SELECT UNNEST([DATE '{_BT_T1}', DATE '{_BT_T2}']) AS asof_d
    ), vis AS (
      SELECT t.asof_d, v.k, v.vd, v.cents, v.ver,
             ROW_NUMBER() OVER (PARTITION BY t.asof_d, v.k
                                ORDER BY v.tx_from DESC, v.ver DESC)
               AS rn
      FROM t JOIN v ON v.tx_from <= t.asof_d
    )
    SELECT strftime(asof_d, '%Y-%m-%d') AS asof_date,
           CAST(EXTRACT(year FROM vd) AS BIGINT) AS order_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(SUM(CASE WHEN ver = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrected
    FROM vis WHERE rn = 1
    GROUP BY 1, 2
    """,
)
def q_bitemporal_asof(spark, sf_dir):
    """Bitemporal as-of reconstruction — the two-axis warehouse classic
    q_scd2_asof_enrich (one time axis) builds toward: facts carry
    VALID time (when the order happened) and TRANSACTION time (when
    the warehouse learned each version — here every 7th order receives
    a +$5 correction landing 30 days after the fact), and a report
    "as known at T" must pick, per key, the latest version whose
    tx_from ≤ T while excluding facts not yet recorded at T. Two
    reconstruction instants (1996-07-01: mid-history, corrections still in
    flight; 1998-12-31: everything known) roll up to valid-YEAR grain with
    an n_corrected audit column — restated-revenue reporting,
    hash-certified end to end (exact integer cents; the version pick
    is a deterministic tx-desc ROW_NUMBER).

    The restatement property pinned in pytest: at 1998-12-31 every %7 order
    reports its corrected value (total = base + 500·n_corrected), at
    1996-07-01 only corrections whose tx landed by then do, and that
    frame contains NO order dated after it.

    Scale shape: the version union is fact-sized, the as-of fan-out
    is ×|instants| (2), and both the version pick and the rollup ride
    ONE (asof, key)-partitioned window + one grouped aggregate; at
    100 TB the tx filter prunes version files before the window when
    versions land tx-partitioned."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    v1 = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("vd"),
        cents.alias("cents"),
        F.col("o_orderdate").alias("tx_from"),
        F.lit(1).alias("ver"),
    )
    v2 = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("vd"),
        (cents + 500).alias("cents"),
        F.date_add(F.col("o_orderdate"), 30).alias("tx_from"),
        F.lit(2).alias("ver"),
    )
    v = v1.unionByName(v2)
    ts = F.explode(
        F.array(
            F.lit(_BT_T1).cast("date"), F.lit(_BT_T2).cast("date")
        )
    ).alias("asof_d")
    vis = (
        v.select("k", "vd", "cents", "tx_from", "ver", ts)
        .filter(F.col("tx_from") <= F.col("asof_d"))
    )
    wpick = Window.partitionBy("asof_d", "k").orderBy(
        F.col("tx_from").desc(), F.col("ver").desc()
    )
    return (
        vis.withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .groupBy(
            F.date_format("asof_d", "yyyy-MM-dd").alias("asof_date"),
            F.year("vd").cast("long").alias("order_year"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.sum(F.when(F.col("ver") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_corrected"),
        )
    )


# ---------------------------------------------------------------------------
# phase 126: personalized PageRank (seed-restart fixed-point, exact)
# ---------------------------------------------------------------------------

_PPR_SEED_MOD = 10  # seeds: node % 10 == 0


@query(
    "q_ppr",
    _sql_int_pagerank(f"{{node}} % {_PPR_SEED_MOD} = 0", "ppr", " WHERE v > 0"),
)
def q_ppr(spark, sf_dir):
    """Personalized PageRank (seed-restart random walk) over the
    co-purchase graph — q_pagerank_exact's recommendation-flavored
    sibling: teleport mass returns ONLY to a seed set (every 10th
    part), so the fixed point measures proximity TO THE SEEDS — the
    "customers who bought these also gravitate to…" primitive behind
    graph-based recommendation and local community scoring, where
    global PageRank measures overall centrality.

    Same loop as q_pagerank_exact (:func:`_int_pagerank`, the restart
    term on the seeds only) and the same hash certification against a
    chained-CTE DuckDB twin. The symmetric graph has no dangling nodes,
    so walk mass only leaks through floor-division and the restart term
    re-concentrates on seeds; nodes never reached (v = 0 — unreachable
    from every seed under 8 sweeps) drop from the output in both
    engines. Seed count scales with the graph, the walk frontier with
    the seeds."""
    v = _int_pagerank(spark, sf_dir, F.col("node") % _PPR_SEED_MOD == 0)
    v = v.filter(F.col("v") > 0)
    tot = v.agg(F.sum("v").alias("tv"))
    return v.join(F.broadcast(tot)).select(
        "node",
        F.col("v").alias("ppr_scaled"),
        F.round(F.col("v").cast("double") / F.col("tv"), 6).alias("ppr"),
    )
