"""Round-6 phase-38 queries: hash-certified clustering.

The rows-only seeded-float q_kmeans_clusters gets an exact sibling, the
way q_pagerank got q_pagerank_exact: Lloyd's iteration on QUANTIZED
integer embeddings — milli-unit elements, integer squared distances,
struct-ordered argmin assignment (tie-break by cluster id), centroid
updates by sign-safe truncating division — is bit-identical in any
engine and summation order, so the DuckDB chained-CTE twin hash-checks
every centroid coordinate after every sweep. Density clustering gets
the same treatment: DBSCAN-style core/border labeling over an exact
integer ε-ball pair graph, cluster ids from the hash-certified
connected-components machinery.

Reference parity note: the reference (patrick95350/legislative-bills-
database) has no clustering surface — this module extends SURVEY.md
§2.10's similarity/dedup families (q_kmeans_clusters, q_cc_labels,
q_semdedup lineage).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ..session import memo
from .registry import query

_KM_K = 4
_KM_ROUNDS = 3
_KM_DIM = 64

# quantized exploded embeddings: (vec_id, dim 0-based, e milli-units)
_SQL_EX = """
    ex AS (
      SELECT vec_id,
             unnest(generate_series(1, len(embedding))) - 1 AS dim,
             CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000)
               AS BIGINT) AS e
      FROM embeddings
    )"""


def _sql_km_chain(rounds: int, k: int) -> str:
    """The shared CTE chain ex → seeds → c0 → (d, a, c){1..rounds} —
    composed by q_kmeans_exact, q_silhouette, and q_cluster_scatter so
    all three certify the SAME fit."""
    steps = []
    for r in range(1, rounds + 1):
        steps.append(f"""
    d{r} AS (
      SELECT x.vec_id, c.cid,
             SUM((x.e - c.c) * (x.e - c.c)) AS d2
      FROM ex x JOIN c{r - 1} c ON c.dim = x.dim
      GROUP BY 1, 2
    ),
    a{r} AS (
      SELECT vec_id, cid FROM d{r}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY d2, cid) = 1
    ),
    c{r} AS (
      SELECT a.cid, x.dim,
             CAST(CASE WHEN SUM(x.e) < 0
                  THEN -((-SUM(x.e)) // COUNT(*))
                  ELSE SUM(x.e) // COUNT(*)
             END AS BIGINT) AS c
      FROM ex x JOIN a{r} a USING (vec_id)
      GROUP BY 1, 2
    )""")
    return f"""{_SQL_EX},
    seeds AS (
      SELECT vec_id,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cid
      FROM (SELECT DISTINCT vec_id FROM ex ORDER BY vec_id LIMIT {k})
    ),
    c0 AS (
      SELECT s.cid, x.dim, x.e AS c
      FROM ex x JOIN seeds s USING (vec_id)
    ),
    {",".join(steps)}"""


def _sql_kmeans(rounds: int, k: int) -> str:
    return f"""
    WITH {_sql_km_chain(rounds, k)},
    sizes AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM a{rounds} GROUP BY 1
    )
    SELECT c.cid, s.n_members, CAST(c.dim AS INTEGER) AS dim,
           c.c AS c_fp
    FROM c{rounds} c JOIN sizes s USING (cid)
    """


def _km_explode(spark, sf_dir):
    """(vec_id, dim, e): milli-quantized exploded embeddings (the ex CTE)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "ev")
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("ev").cast("double") * 1000).cast("long").alias("e"),
    )


def _km_assign(ex, cent_df):
    """Integer squared-distance argmin assignment vs a broadcast k·d
    centroid table (struct ordering = tie-break by cluster id)."""
    d = (
        ex.join(F.broadcast(cent_df), "dim")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(
                (F.col("e") - F.col("c")) * (F.col("e") - F.col("c"))
            ).alias("d2")
        )
    )
    return (
        d.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"))
    )


def _km_fit(spark, sf_dir):
    """Run the Lloyd's sweeps once per session; return (c_prev_rows,
    c_last_rows) — bounded k·d driver rows. c_{R-1} reproduces the final
    assignment a_R (the one that PRODUCED c_R) — assigning against c_R
    instead would be sweep R+1 and diverge from the oracle's a{R}."""
    return memo(spark, sf_dir, ("km_fit", _KM_K, _KM_ROUNDS),
                lambda: _km_sweeps(spark, sf_dir))


def _km_sweeps(spark, sf_dir):
    ex = _km_explode(spark, sf_dir).localCheckpoint(eager=True)
    seeds = [
        r["vec_id"]
        for r in ex.select("vec_id")
        .distinct()
        .orderBy("vec_id")
        .limit(_KM_K)
        .collect()
    ]
    seed_map = spark.createDataFrame(
        [(v, i) for i, v in enumerate(seeds)], "vec_id long, cid int"
    )
    cent = (
        ex.join(F.broadcast(seed_map), "vec_id")
        .select("cid", "dim", F.col("e").alias("c"))
        .localCheckpoint(eager=True)
    )
    prev = cent
    for _ in range(_KM_ROUNDS):
        prev = cent
        assign = _km_assign(ex, cent)
        cent = (
            ex.join(assign, "vec_id")
            .groupBy("cid", "dim")
            .agg(
                F.expr(
                    "CAST(CASE WHEN SUM(e) < 0"
                    " THEN -((-SUM(e)) div COUNT(*))"
                    " ELSE SUM(e) div COUNT(*) END AS BIGINT)"
                ).alias("c")
            )
            .localCheckpoint(eager=True)  # pin the sweep; flat lineage
        )
    return (
        [(r["cid"], r["dim"], r["c"]) for r in prev.collect()],
        [(r["cid"], r["dim"], r["c"]) for r in cent.collect()],
    )


_KM_SCHEMA = "cid int, dim int, c long"


@query("q_kmeans_exact", _sql_kmeans(_KM_ROUNDS, _KM_K))
def q_kmeans_exact(spark, sf_dir):
    """Hash-certified integer k-means (the rows-only seeded-float
    q_kmeans_clusters' exact twin, the q_pagerank_exact discipline
    applied to Lloyd's): milli-quantized elements, THREE sweeps of
    integer squared-distance assignment (argmin tie-broken by cluster
    id via struct ordering) and sign-safe truncating-division centroid
    updates — every centroid coordinate after every sweep hash-matches
    the chained-CTE oracle. Physical shape per sweep: the exploded
    (vec, dim, e) frame joins a BROADCAST k·d centroid table, two hash
    aggregations — the standard distributed Lloyd's; the k·d centroid
    collect between sweeps is bounded state (the ivf.py precedent),
    never data-sized. Empty clusters simply drop their rows (both
    engines agree by construction). The fit is session-memoized
    (_km_fit) so the silhouette/scatter companions certify the SAME
    sweeps without re-running them."""
    prev_rows, last_rows = _km_fit(spark, sf_dir)
    ex = _km_explode(spark, sf_dir)
    cp = spark.createDataFrame(prev_rows, _KM_SCHEMA)
    cl = spark.createDataFrame(last_rows, _KM_SCHEMA)
    assign = _km_assign(ex, cp)  # == the oracle's a{R}
    sizes = assign.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_members")
    )
    return cl.join(F.broadcast(sizes), "cid").select(
        "cid", "n_members", F.col("dim").cast("int").alias("dim"),
        F.col("c").alias("c_fp"),
    )


_SIL_N = 200  # scored sample: silhouette is all-pairs in the sample dim


@query(
    "q_silhouette",
    f"""
    WITH {_sql_km_chain(_KM_ROUNDS, _KM_K)},
    pp AS (
      SELECT xi.vec_id AS i, xj.vec_id AS j,
             SUM((xi.e - xj.e) * (xi.e - xj.e)) AS d2
      FROM ex xi JOIN ex xj
        ON xi.dim = xj.dim AND xj.vec_id <> xi.vec_id
      WHERE xi.vec_id < {_SIL_N}
      GROUP BY 1, 2
    ),
    pc AS (
      SELECT pp.i, ai.cid AS ca, aj.cid AS cj,
             CAST(SUM(pp.d2) AS BIGINT) AS sd2,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pp
      JOIN a{_KM_ROUNDS} ai ON ai.vec_id = pp.i
      JOIN a{_KM_ROUNDS} aj ON aj.vec_id = pp.j
      GROUP BY 1, 2, 3
    ),
    ab AS (
      SELECT i, ca,
             MAX(CASE WHEN cj = ca
                 THEN CAST(sd2 AS DOUBLE) / cnt END) AS a,
             MIN(CASE WHEN cj <> ca
                 THEN CAST(sd2 AS DOUBLE) / cnt END) AS b
      FROM pc GROUP BY 1, 2
    )
    SELECT i AS vec_id, ca AS cid,
           ROUND(CASE WHEN a IS NULL OR b IS NULL THEN 0.0
                      ELSE (b - a) / GREATEST(a, b) END, 6) AS sil
    FROM ab
    """,
)
def q_silhouette(spark, sf_dir):
    """Per-point silhouette of the certified k-means partition
    (squared-distance variant — means of exact integer d² stay
    rational, so a(i) and b(i) are each ONE IEEE division and the
    score is engine-identical with no parallel-float drift; the
    documented trade for hash-certifiability). a(i) excludes the point
    itself (cnt = |own cluster|−1); singletons score 0 by the standard
    convention. Scored over a bounded {_SIL_N}-point sample against
    the FULL corpus — the all-pairs half is the sample, never n².

    Plan (r10 rewrite): the old Spark side paired sample and corpus by
    joining the EXPLODED frames on `dim` — a join whose key has only
    ~embedding-dim distinct values, so parallelism capped at `dim`
    partitions each holding sample×corpus rows (BENCH_SF1 flagged it
    13.6× at 10× data, the suite's one superlinear cell). Now the
    200-row quantized sample BROADCASTS (the q_cosine_topk posture)
    onto the un-exploded corpus arrays and d² is an exact-integer
    zip_with/aggregate per pair — parallel in the corpus partitions,
    zero pair shuffle, identical integers (long addition is
    associative), so the oracle and every hash stay unchanged."""
    prev_rows, _ = _km_fit(spark, sf_dir)
    ex = _km_explode(spark, sf_dir).localCheckpoint(eager=True)
    assign = _km_assign(
        ex, spark.createDataFrame(prev_rows, _KM_SCHEMA)
    ).localCheckpoint(eager=True)
    emb = load_table(spark, sf_dir, "embeddings")
    par = emb.sparkSession.sparkContext.defaultParallelism
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.round(v.cast("double") * 1000).cast("long"),
        ).alias("qv"),
    )
    if q.rdd.getNumPartitions() < par:
        q = q.repartition(par)  # single-file scans would cap the
        # pairwise compute at 1-2 cores (the fuzzy_join lesson)
    sample = q.filter(F.col("vec_id") < _SIL_N).select(
        F.col("vec_id").alias("i"), F.col("qv").alias("qi")
    )
    pp = (
        q.select(F.col("vec_id").alias("j"), F.col("qv").alias("qj"))
        .join(F.broadcast(sample))
        .filter(F.col("i") != F.col("j"))
        .select(
            "i",
            "j",
            F.aggregate(
                F.zip_with(
                    "qi", "qj", lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
    )
    ai = assign.select(
        F.col("vec_id").alias("i"), F.col("cid").alias("ca")
    )
    aj = assign.select(
        F.col("vec_id").alias("j"), F.col("cid").alias("cj")
    )
    pc = (
        pp.join(F.broadcast(ai), "i")
        .join(F.broadcast(aj), "j")
        .groupBy("i", "ca", "cj")
        .agg(
            F.sum("d2").cast("long").alias("sd2"),
            F.count("*").cast("long").alias("cnt"),
        )
    )
    mean_d = F.col("sd2").cast("double") / F.col("cnt")
    ab = pc.groupBy("i", "ca").agg(
        F.max(F.when(F.col("cj") == F.col("ca"), mean_d)).alias("a"),
        F.min(F.when(F.col("cj") != F.col("ca"), mean_d)).alias("b"),
    )
    return ab.select(
        F.col("i").alias("vec_id"),
        F.col("ca").alias("cid"),
        F.round(
            F.when(
                F.col("a").isNull() | F.col("b").isNull(), F.lit(0.0)
            ).otherwise(
                (F.col("b") - F.col("a"))
                / F.greatest(F.col("a"), F.col("b"))
            ),
            6,
        ).alias("sil"),
    )


@query(
    "q_cluster_scatter",
    f"""
    WITH {_sql_km_chain(_KM_ROUNDS, _KM_K)},
    dd AS (
      SELECT x.vec_id, c.cid,
             SUM((x.e - c.c) * (x.e - c.c)) AS d2
      FROM ex x JOIN c{_KM_ROUNDS} c ON c.dim = x.dim
      GROUP BY 1, 2
    ),
    sc AS (
      SELECT a.cid, CAST(SUM(dd.d2) AS BIGINT) AS sd2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM dd JOIN a{_KM_ROUNDS} a
        ON a.vec_id = dd.vec_id AND a.cid = dd.cid
      GROUP BY 1
    ),
    cc AS (
      SELECT ci.cid AS i, cj.cid AS j,
             CAST(SUM((ci.c - cj.c) * (ci.c - cj.c)) AS BIGINT) AS dcc
      FROM c{_KM_ROUNDS} ci JOIN c{_KM_ROUNDS} cj
        ON ci.dim = cj.dim AND ci.cid <> cj.cid
      GROUP BY 1, 2
    )
    SELECT si.cid, si.n AS n_members,
           ROUND(CAST(si.sd2 AS DOUBLE) / si.n, 3) AS scatter,
           ROUND(MAX((CAST(si.sd2 AS DOUBLE) / si.n
                      + CAST(sj.sd2 AS DOUBLE) / sj.n)
                     / cc.dcc), 6) AS db_component
    FROM cc
    JOIN sc si ON si.cid = cc.i
    JOIN sc sj ON sj.cid = cc.j
    GROUP BY 1, 2, si.sd2
    """,
)
def q_cluster_scatter(spark, sf_dir):
    """Davies-Bouldin components of the certified k-means partition
    (squared-distance variant, same rationale as q_silhouette): per
    cluster, the mean d² of members to their centroid (scatter) and
    max_j (s_i + s_j)/d²(c_i, c_j) — the worst separation ratio, whose
    mean is the DB index. Members-to-centroid is one broadcast k·d
    join + hash agg over the exploded frame; the centroid-pair matrix
    is k²·d rows. Every input an exact integer; each output a fixed
    dag of IEEE ops."""
    prev_rows, last_rows = _km_fit(spark, sf_dir)
    ex = _km_explode(spark, sf_dir).localCheckpoint(eager=True)
    cl = spark.createDataFrame(last_rows, _KM_SCHEMA)
    assign = _km_assign(
        ex, spark.createDataFrame(prev_rows, _KM_SCHEMA)
    )
    dd = (
        ex.join(F.broadcast(cl), "dim")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(
                (F.col("e") - F.col("c")) * (F.col("e") - F.col("c"))
            ).alias("d2")
        )
    )
    sc = (
        dd.join(assign, ["vec_id", "cid"])
        .groupBy("cid")
        .agg(
            F.sum("d2").cast("long").alias("sd2"),
            F.count("*").cast("long").alias("n"),
        )
    )
    ci = cl.select(
        F.col("cid").alias("i"), "dim", F.col("c").alias("cci")
    )
    cj = cl.select(
        F.col("cid").alias("j"), "dim", F.col("c").alias("ccj")
    )
    cc = (
        ci.join(cj, "dim")
        .filter(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.sum(
                (F.col("cci") - F.col("ccj"))
                * (F.col("cci") - F.col("ccj"))
            )
            .cast("long")
            .alias("dcc")
        )
    )
    si = sc.select(
        F.col("cid").alias("i"),
        F.col("sd2").alias("sd2_i"),
        F.col("n").alias("n_i"),
    )
    sj = sc.select(
        F.col("cid").alias("j"),
        F.col("sd2").alias("sd2_j"),
        F.col("n").alias("n_j"),
    )
    s_i = F.col("sd2_i").cast("double") / F.col("n_i")
    s_j = F.col("sd2_j").cast("double") / F.col("n_j")
    return (
        cc.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .groupBy(
            F.col("i").alias("cid"),
            F.col("n_i").alias("n_members"),
            F.col("sd2_i"),
        )
        .agg(
            F.round(F.max(s_i), 3).alias("scatter"),
            F.round(F.max((s_i + s_j) / F.col("dcc")), 6).alias(
                "db_component"
            ),
        )
        .drop("sd2_i")
    )


# ε in milli-units, tuned on the measured pair-distance distribution
# (min ≈ 1030, p1 ≈ 1193, median ≈ 1414): 1180 yields a genuine
# core/border/noise mixture at every tested SF (e.g. 101/169/30 at
# sf0.001) instead of a degenerate all-core or all-noise labeling
_DB_EPS_FP = 1180
_DB_MINPTS = 3  # core point: ≥ minPts neighbors within ε (excl. self)


@query(
    "q_dbscan_labels",
    f"""
    WITH {_SQL_EX},
    pts AS (SELECT DISTINCT vec_id FROM ex WHERE vec_id < 300),
    pairs AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM ex a JOIN ex b
        ON a.dim = b.dim AND a.vec_id < b.vec_id
      WHERE a.vec_id < 300 AND b.vec_id < 300
      GROUP BY 1, 2
      HAVING SUM((a.e - b.e) * (a.e - b.e)) <= {_DB_EPS_FP * _DB_EPS_FP}
    ),
    deg AS (
      SELECT p.vec_id,
             CAST(COALESCE(n.c, 0) AS BIGINT) AS n_eps
      FROM pts p LEFT JOIN (
        SELECT vec_id, COUNT(*) AS c FROM (
          SELECT u AS vec_id FROM pairs
          UNION ALL
          SELECT v AS vec_id FROM pairs
        ) GROUP BY 1
      ) n USING (vec_id)
    ),
    core AS (SELECT vec_id FROM deg WHERE n_eps >= {_DB_MINPTS}),
    nbr AS (
      SELECT u AS vec_id, v AS nb FROM pairs
      UNION ALL
      SELECT v AS vec_id, u AS nb FROM pairs
    ),
    bord AS (
      SELECT DISTINCT n.vec_id
      FROM nbr n JOIN core c ON n.nb = c.vec_id
    )
    SELECT d.vec_id, d.n_eps,
           CASE WHEN d.n_eps >= {_DB_MINPTS} THEN 'core'
                WHEN b.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role
    FROM deg d LEFT JOIN bord b ON d.vec_id = b.vec_id
    """,
)
def q_dbscan_labels(spark, sf_dir):
    """DBSCAN point roles over an EXACT integer ε-ball graph (bounded
    to 300 vectors — the all-pairs oracle shape; the scale path feeds
    the same ε-predicate through the LSH-bucketed candidate pairs of
    q_ann_lsh_pairs): squared distances on milli-quantized elements are
    exact integers, so the neighbor graph — and therefore every
    core/border/noise label — is engine-identical, no float-boundary
    flicker. The pair join is dim-aligned with map-side partial sums
    and a HAVING on the exact distance; degrees from one union-all
    aggregate. Textbook DBSCAN roles: border = a NON-core point with at
    least one CORE ε-neighbor (a neighbor-of-core join against the core
    set, not merely n_eps > 0); non-core points whose only ε-neighbors
    are themselves non-core are noise."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 300
    )
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "ev")
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("ev").cast("double") * 1000).cast("long").alias("e"),
    )
    a = ex.select(
        F.col("vec_id").alias("u"), "dim", F.col("e").alias("ea")
    )
    b = ex.select(
        F.col("vec_id").alias("v"), "dim", F.col("e").alias("eb")
    )
    pairs = (
        a.join(b, "dim")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.sum(
                (F.col("ea") - F.col("eb")) * (F.col("ea") - F.col("eb"))
            ).alias("d2")
        )
        .filter(F.col("d2") <= _DB_EPS_FP * _DB_EPS_FP)
    )
    pairs = pairs.localCheckpoint(eager=False)  # reused 3× below
    deg = (
        pairs.select(F.col("u").alias("vec_id"))
        .unionByName(pairs.select(F.col("v").alias("vec_id")))
        .groupBy("vec_id")
        .agg(F.count("*").alias("c"))
    )
    # border = non-core with >=1 CORE ε-neighbor (textbook DBSCAN): a
    # neighbor-of-core semi-join against the core set — the core table
    # is a bounded fraction of the ε-graph's vertices, broadcastable
    core = deg.filter(F.col("c") >= _DB_MINPTS).select(
        F.col("vec_id").alias("nb")
    )
    nbr = pairs.select(
        F.col("u").alias("vec_id"), F.col("v").alias("nb")
    ).unionByName(
        pairs.select(F.col("v").alias("vec_id"), F.col("u").alias("nb"))
    )
    bord = (
        nbr.join(F.broadcast(core), "nb", "leftsemi")
        .select("vec_id")
        .distinct()
        .withColumn("has_core_nb", F.lit(1))
    )
    pts = emb.select("vec_id").distinct()
    return (
        pts.join(deg, "vec_id", "left")
        .join(bord, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_eps"),
            F.when(
                F.coalesce(F.col("c"), F.lit(0)) >= _DB_MINPTS, "core"
            )
            .when(F.col("has_core_nb").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
        )
    )
