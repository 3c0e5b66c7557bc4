"""Round-12 phases 88+: banded global alignment (Needleman-Wunsch),
HMM forward probabilities, row-group-skipping layout certificate,
composite approximate inclusion dependencies.

VERDICT r11 "Next round" items 2-4, 6 and 8: the wavefront template
q_dtw introduced (anti-diagonal DP as a transform-inside-aggregate
fold) instantiated for symbol alignment; the sum-product sibling of
q_viterbi's max-plus decode; the rowgroup-grain sibling of
q_partition_pruning_census; and the tolerance tier over the phase-74
composite-IND domain.

Discipline as everywhere: exact-integer arithmetic wherever a value
crosses engines, bounded per-key arrays (the 30-day event window
bounds daily grids at any SF), one data-sized shuffle per query with
small frames broadcast back.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ..session import scoped_conf
from .registry import query

# ---------------------------------------------------------------------------
# banded Needleman-Wunsch global alignment (anti-diagonal wavefront)
# ---------------------------------------------------------------------------

_NW_NEG = -(1 << 50)  # out-of-band sentinel; real scores are |.| ≤ ~200
_NW_MATCH = 3
_NW_MISMATCH = -1
_NW_GAP = -2

# modal event type with deterministic lexicographic tiebreak, spelled
# once: min over (-count, type) struct picks max count, then min type
_NW_MODAL_DUCK = "(min({'a': -cnt, 'b': event_type})).b"


def _modal_alignment_base(spark, sf_dir):
    """Per-user daily modal-event-type sequence x vs the fleet modal
    sequence r, with the Sakoe-Chiba band width w = |n−m|+3 — the
    shared front half of q_needleman / q_smith_waterman. One (user,
    day, type) count aggregate feeds both sides (lazy localCheckpoint
    so the 1-row broadcast reference does not replay the subtree —
    the plan-census ≤2-BNLJ rule); modal tiebreak is the
    (−count, type) struct-min in both engines."""
    events = load_table(spark, sf_dir, "events")
    dayc = (
        events.groupBy(
            "user_id",
            F.dayofmonth("ts").cast("long").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)  # xs + ref share it
    )
    modal = F.min(
        F.struct(
            (-F.col("cnt")).alias("a"), F.col("event_type").alias("b")
        )
    )["b"].alias("ty")
    umod = dayc.groupBy("user_id", "day").agg(modal)
    xs = (
        umod.groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "ty"))),
                lambda s: s["ty"],
            ).alias("x")
        )
        .withColumn("n", F.size("x").cast("long"))
    )
    ref = (
        dayc.groupBy("day", "event_type")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .groupBy("day")
        .agg(modal)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "ty"))),
                lambda s: s["ty"],
            ).alias("r")
        )
        .withColumn("m", F.size("r").cast("long"))
    )
    return xs.crossJoin(F.broadcast(ref)).withColumn(
        "w", F.abs(F.col("n") - F.col("m")) + 3
    )


# the modal-sequence CTE prefix both alignment queries share: per-user
# daily modal-type sequence x (n symbols) vs the fleet modal sequence r
# (m symbols), band w = |n-m|+3
_NW_SEQ_CTES = f"""dayc AS (
      SELECT user_id, CAST(date_part('day', ts) AS BIGINT) AS day,
             event_type, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2, 3
    ), umod AS (
      SELECT user_id, day, {_NW_MODAL_DUCK} AS ty
      FROM dayc GROUP BY 1, 2
    ), xs AS (
      SELECT user_id, list(ty ORDER BY day) AS x,
             CAST(len(list(ty ORDER BY day)) AS BIGINT) AS n
      FROM umod GROUP BY 1
    ), gmod AS (
      SELECT day, {_NW_MODAL_DUCK} AS ty
      FROM (SELECT day, event_type, CAST(SUM(cnt) AS BIGINT) AS cnt
            FROM dayc GROUP BY 1, 2)
      GROUP BY 1
    ), ref AS (
      SELECT list(ty ORDER BY day) AS r,
             CAST(count(*) AS BIGINT) AS m
      FROM gmod
    ), base AS (
      SELECT x.user_id, x.x, x.n, ref.r, ref.m,
             ABS(x.n - ref.m) + 3 AS w
      FROM xs x CROSS JOIN ref
    )"""


@query(
    "q_needleman",
    f"""
    WITH RECURSIVE {_NW_SEQ_CTES}, it AS (
      SELECT user_id, x, n, r, m, w, 0 AS d,
             [CASE WHEN i = 0 THEN 0 ELSE {_NW_NEG} END
              FOR i IN generate_series(0, n)] AS prev,
             [{_NW_NEG} FOR i IN generate_series(0, n)] AS prev2
      FROM base
      UNION ALL
      SELECT user_id, x, n, r, m, w, d + 1,
             [CASE
                WHEN d + 1 - i < 0 OR d + 1 - i > m
                     OR ABS(i - (d + 1 - i)) > w THEN {_NW_NEG}
                WHEN i = 0 THEN {_NW_GAP} * (d + 1)
                WHEN d + 1 - i = 0 THEN {_NW_GAP} * i
                ELSE GREATEST(
                  prev2[i] + CASE WHEN x[i] = r[d + 1 - i]
                                  THEN {_NW_MATCH}
                                  ELSE {_NW_MISMATCH} END,
                  prev[i] + {_NW_GAP},
                  prev[i + 1] + {_NW_GAP})
              END FOR i IN generate_series(0, n)] AS prev,
             prev AS prev2
      FROM it WHERE d < n + m
    )
    SELECT user_id, n, m, prev[n + 1] AS nw_score
    FROM it WHERE d = n + m
    """,
)
def q_needleman(spark, sf_dir):
    """Banded Needleman-Wunsch global alignment (Needleman & Wunsch
    1970, Sakoe-Chiba band) between each user's daily modal-event-type
    sequence and the fleet's daily modal sequence — the edit-script
    primitive the capped edit-distance join family approximates at
    block grain, here as an exact per-key alignment SCORE (match +3,
    mismatch −1, gap −2, band w = |n−m|+3 ≥ |n−m| so the global cell
    is always reachable). A high score means the user's day-by-day
    behaviour tracks the fleet's; gaps absorb inactive days without
    the frame-shift penalty Hamming/DTW-style measures pay.

    Same wavefront decomposition as q_dtw (the template its docstring
    promised): cells on anti-diagonal i+j = d depend only on d−1 (gap
    moves) and d−2 (the diagonal match/mismatch move), so the O(n·m)
    table is a fold over n+m wavefronts carrying two diagonals — with
    GREATEST replacing LEAST (alignment maximizes) and boundary cells
    H[0][j] = j·gap, H[i][0] = i·gap materialized per wavefront
    inside the band. All scores exact BIGINTs; out-of-band cells
    carry a −2⁵⁰ sentinel no in-band path can reach, so the driver
    hash certifies every wavefront. The modal-type tiebreak is the
    same struct-min in both engines: (−count, type) ascending.

    Scale shape: one (user, day, type) count aggregate feeding both
    the per-user sequences and the 1-row broadcast reference (shared
    via lazy localCheckpoint — the plan-census ≤2-BNLJ rule), arrays
    calendar-bounded at ≤31 symbols per key, the whole DP in JVM
    codegen (transform inside aggregate) — no UDF, no per-step
    shuffle, per key O((n+m)·n) ≈ 2k cell updates at any SF."""
    base = _modal_alignment_base(spark, sf_dir)
    NEG = F.lit(_NW_NEG).cast("long")
    GAP = F.lit(_NW_GAP).cast("long")
    x, r = F.col("x"), F.col("r")
    n, m, w = F.col("n"), F.col("m"), F.col("w")
    idx = F.sequence(F.lit(0).cast("long"), n)
    diag0 = F.transform(
        idx, lambda i: F.when(i == 0, F.lit(0).cast("long")).otherwise(NEG)
    )
    negs = F.transform(idx, lambda i: NEG)

    def step(acc, d):
        prev, prev2 = acc["p"], acc["q"]
        new = F.transform(
            idx,
            lambda i: F.when(
                (d - i < 0) | (d - i > m) | (F.abs(i - (d - i)) > w), NEG
            )
            .when(i == 0, GAP * d)
            .when(d - i == 0, GAP * i)
            .otherwise(
                F.greatest(
                    F.element_at(prev2, i.cast("int"))
                    + F.when(
                        F.element_at(x, i.cast("int"))
                        == F.element_at(r, (d - i).cast("int")),
                        F.lit(_NW_MATCH).cast("long"),
                    ).otherwise(F.lit(_NW_MISMATCH).cast("long")),
                    F.element_at(prev, i.cast("int")) + GAP,
                    F.element_at(prev, (i + 1).cast("int")) + GAP,
                )
            ),
        )
        return F.struct(new.alias("p"), prev.alias("q"))

    final = F.aggregate(
        F.sequence(F.lit(1).cast("long"), n + m),
        F.struct(diag0.alias("p"), negs.alias("q")),
        step,
    )
    return base.select(
        "user_id",
        "n",
        "m",
        F.element_at(final["p"], (n + 1).cast("int")).alias("nw_score"),
    )


# ---------------------------------------------------------------------------
# HMM forward filter (sum-product, quantized-exact Rabiner scaling)
# ---------------------------------------------------------------------------

# The SAME 2-state browse/buy-intent HMM q_viterbi decodes, here as
# PROBABILITY hundredths (q_viterbi's micro-nat log literals are the
# lns of exactly these values), so the two queries are the max-plus
# and sum-product views of one model.
_FWD_A = {(0, 0): 80, (0, 1): 20, (1, 0): 30, (1, 1): 70}
_FWD_INIT = (60, 40)
_FWD_B0 = {"view": 30, "click": 30, "signup": 15, "error": 15,
           "purchase": 10}
_FWD_B1 = {"view": 15, "click": 25, "signup": 10, "error": 10,
           "purchase": 40}
_FWD_S = 100_000  # filter-distribution quantization grid

# the un-normalized one-step predictors, spelled once (substituted
# repeatedly — the recursive term cannot reference its own lateral
# aliases safely, the q_viterbi binding hazard)
_FWD_T0 = "(it.a0 * 80 + it.a1 * 30) * it.b0[it.k + 1]"
_FWD_T1 = "(it.a0 * 20 + it.a1 * 70) * it.b1[it.k + 1]"
_FWD_A0N = f"({_FWD_T0} * 100000 // ({_FWD_T0} + {_FWD_T1}))"
_FWD_A1N = f"({_FWD_T1} * 100000 // ({_FWD_T0} + {_FWD_T1}))"


def _sql_emission_fwd(col: str, table: dict) -> str:
    cases = " ".join(
        f"WHEN {col} = '{k}' THEN {v}" for k, v in table.items()
    )
    return f"CASE {cases} END"


def _sql_hmm_forward() -> str:
    return f"""
    WITH RECURSIVE vals AS (
      SELECT user_id,
             list(event_type ORDER BY ts, event_id) AS obs,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ), emit AS (
      SELECT user_id, n,
             [{_sql_emission_fwd('o', _FWD_B0)} FOR o IN obs] AS b0,
             [{_sql_emission_fwd('o', _FWD_B1)} FOR o IN obs] AS b1
      FROM vals
    ), seeded AS (
      SELECT user_id, n, b0, b1,
             CAST({_FWD_INIT[0]} * b0[1] AS BIGINT) * {_FWD_S}
               // ({_FWD_INIT[0]} * b0[1] + {_FWD_INIT[1]} * b1[1])
               AS s0,
             CAST({_FWD_INIT[1]} * b1[1] AS BIGINT) * {_FWD_S}
               // ({_FWD_INIT[0]} * b0[1] + {_FWD_INIT[1]} * b1[1])
               AS s1
      FROM emit
    ), it AS (
      SELECT user_id, n, b0, b1, 1 AS k,
             s0 AS a0, s1 AS a1,
             CAST(CASE WHEN s1 > s0 THEN 1 ELSE 0 END AS BIGINT)
               AS cnt,
             s1 AS best, CAST(1 AS BIGINT) AS bestk
      FROM seeded
      UNION ALL
      SELECT it.user_id, it.n, it.b0, it.b1, it.k + 1,
             {_FWD_A0N} AS a0,
             {_FWD_A1N} AS a1,
             it.cnt + CASE WHEN {_FWD_A1N} > {_FWD_A0N}
                           THEN 1 ELSE 0 END AS cnt,
             CASE WHEN {_FWD_A1N} > it.best
                  THEN {_FWD_A1N} ELSE it.best END AS best,
             CASE WHEN {_FWD_A1N} > it.best
                  THEN it.k + 1 ELSE it.bestk END AS bestk
      FROM it WHERE it.k < it.n
    )
    SELECT user_id, n AS n_events, a0 AS a0_q, a1 AS a1_q,
           cnt AS intent_steps, best AS peak_a1_q,
           bestk AS peak_step
    FROM it WHERE k = n
    """


@query("q_hmm_forward", _sql_hmm_forward())
def q_hmm_forward(spark, sf_dir):
    """HMM forward filter (sum-product) over each user's event-type
    sequence — q_viterbi's other half: not the single best hidden
    path but the posterior P(state | obs so far) marginal at every
    step, the quantity online intent scoring, anomaly gating, and
    belief-state features actually consume.

    Exact log-sum-exp cannot cross engines (transcendental at query
    time) and the raw forward recursion underflows any fixed
    precision, so this runs the standard fix — Rabiner per-step
    scaling (the normalizer is re-derived each step) — with the
    normalized filter distribution FLOOR-QUANTIZED to the 10⁵ grid
    after every step (the q_pagerank_exact / q_bradley_terry
    discipline). Every step is then pure BIGINT arithmetic:
    u_j = (a0·A[0][j] + a1·A[1][j])·B[j][obs], a_j' = u_j·10⁵ div
    (u0+u1), so the whole iterative filter hash-matches a
    recursive-CTE twin, and the quantization error vs the float
    filter is bounded by the pytest pin. The fold also carries three
    trajectory functionals a final row alone couldn't certify: the
    count of steps where intent dominates (a1 > a0, strict in both
    engines), the peak intent belief, and its FIRST achieving step
    (strict > keeps the earliest). Magnitudes: u_j·10⁵ ≤ 1.1e14 —
    inside the 2⁵³ window, so the lambda-scope floor-div (subtract
    pmod, then an exactly-divisible double division; Spark has no
    `div` inside higher-order-function lambdas) is exact.

    Scale shape: identical to q_viterbi — one per-user ordered
    collect, integer emission arrays, one JVM fold, no UDF, no
    per-step shuffle; the DuckDB twin advances all users together
    one scalar step per CTE round with it.-qualified reads and the
    predictor expressions substituted textually (lateral-alias
    binding hazard, documented at q_viterbi)."""
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
        F.transform("obs", emis(_FWD_B0)).alias("b0"),
        F.transform("obs", emis(_FWD_B1)).alias("b1"),
    )
    b0, b1 = F.col("b0"), F.col("b1")
    S = F.lit(_FWD_S).cast("long")
    a = _FWD_A

    def _floordiv(num, den):
        # exact BIGINT floor-div inside a lambda: num - pmod is an
        # exact multiple <= 1.1e14 (< 2^53), so the double division
        # returns the integer quotient exactly
        return ((num - F.pmod(num, den)) / den).cast("long")

    u0s = F.lit(_FWD_INIT[0]).cast("long") * F.element_at(b0, 1)
    u1s = F.lit(_FWD_INIT[1]).cast("long") * F.element_at(b1, 1)
    s0 = _floordiv(u0s * S, u0s + u1s)
    s1 = _floordiv(u1s * S, u0s + u1s)
    seed = F.struct(
        s0.alias("a0"),
        s1.alias("a1"),
        F.when(s1 > s0, F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("cnt"),
        s1.alias("best"),
        F.lit(1).cast("long").alias("bestk"),
    )

    def step(acc, k):
        u0 = (acc["a0"] * a[(0, 0)] + acc["a1"] * a[(1, 0)]) * (
            F.element_at(b0, k.cast("int"))
        )
        u1 = (acc["a0"] * a[(0, 1)] + acc["a1"] * a[(1, 1)]) * (
            F.element_at(b1, k.cast("int"))
        )
        den = u0 + u1
        na0 = _floordiv(u0 * S, den)
        na1 = _floordiv(u1 * S, den)
        return F.struct(
            na0.alias("a0"),
            na1.alias("a1"),
            (
                acc["cnt"]
                + F.when(na1 > na0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("cnt"),
            F.when(na1 > acc["best"], na1)
            .otherwise(acc["best"])
            .alias("best"),
            F.when(na1 > acc["best"], k)
            .otherwise(acc["bestk"])
            .alias("bestk"),
        )

    # n=1 guard: sequence(2, 1) silently yields the DESCENDING [2, 1]
    # (Spark infers step -1 when start > stop), reading b0[2] out of
    # bounds — fall back to the seed struct, matching the DuckDB
    # twin's WHERE k <= n recursion bound. Latent on the fixtures
    # (min 45 events/user) but a wrong answer on sparser data.
    final = F.when(
        F.col("n") >= 2,
        F.aggregate(
            F.sequence(F.lit(2).cast("long"), F.col("n")), seed, step
        ),
    ).otherwise(seed)
    return base.select(
        "user_id",
        F.col("n").alias("n_events"),
        final["a0"].alias("a0_q"),
        final["a1"].alias("a1_q"),
        final["cnt"].alias("intent_steps"),
        final["best"].alias("peak_a1_q"),
        final["bestk"].alias("peak_step"),
    )


# ---------------------------------------------------------------------------
# parquet row-group skipping certificate (Z-order vs linear layout)
# ---------------------------------------------------------------------------

_RG_BITS = 8  # per-dimension bucket bits for the Morton code
_RG_BLOCK = 16 * 1024  # parquet.block.size: small => many row groups


def _scan_output_rows(df) -> int:
    """Sum of numOutputRows over the executed plan's parquet scan
    nodes — rows the reader actually DECODED after row-group/page
    skipping (per-row residual filtering happens in FilterExec above,
    with its own metric). Same AQE access path as
    q_partition_pruning_census._scan_metrics (QueryStage hops via
    .plan(), final plan via .executedPlan())."""
    ep = df._jdf.queryExecution().executedPlan()
    total = 0

    def walk(node):
        nonlocal total
        name = node.nodeName()
        if "AdaptiveSparkPlan" in name:
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            walk(node.plan())
            return
        if "Scan" in name:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    total += kv._2().value()
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(ep)
    return total


@query("q_rowgroup_skip_census")  # engine-physical → rows-only
def q_rowgroup_skip_census(spark, sf_dir):
    """Row-group-skipping certificate — the ROWGROUP-grain sibling of
    q_partition_pruning_census (directory grain) that closes the loop
    q_zorder_stats only evidences statistically: does the Morton
    layout actually make the parquet reader DECODE fewer rows than a
    linear sort, measured from the executed scan's numOutputRows?

    Two single-file layouts of the same (custkey, day, cents)
    projection, written with 16 KiB row groups so footer min/max
    stats exist at fine grain: 'linear' sorted by day (the layout a
    time-series table naturally has) and 'zorder' sorted by the
    8+8-bit Morton interleave of bucketed (custkey, day)
    (operators/layout.z_value — the Delta/Iceberg OPTIMIZE ZORDER
    trick). Three pushed predicates probe them: a custkey band
    (selectivity ~1/8), a one-year day band, and their box. The
    linear layout prunes day filters and reads ~100% for the custkey
    band (every row group spans the full custkey range); the Morton
    layout bounds BOTH dimensions per row group — constraining the
    custkey band's top 3 bucket bits fixes alternating z-bits, so
    only ~2^3 of the 2^5 z-contiguous row groups can intersect
    (~25% decoded for a 12.5% filter). The scan metric is the
    honest number: rows the reader materialized, not rows the query
    returned — per-row residual filtering happens above the scan.

    Per (layout × predicate) row: row groups in the file (pyarrow
    footer), total rows, scan-decoded rows, result rows and exact
    cents (the value-parity anchor: layouts must agree on WHAT, only
    HOW MUCH I/O differs). Engine-physical → rows-only; the skipping
    asymmetry and parity are pinned in pytest at sf0.01.

    100 TB shape: this is the certificate that decides whether a
    secondary-dimension point lookup costs a full-table scan or a
    handful of row groups; the write is one range shuffle, the same
    cost as any sorted write (operators/layout.zorder_write)."""
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from ..operators.layout import int_bucket, z_value

    orders = load_table(spark, sf_dir, "orders")
    base_df = orders.select(
        F.col("o_custkey").cast("long").alias("xk"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("dn"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    bounds = base_df.agg(
        F.min("xk").alias("xlo"),
        F.max("xk").alias("xhi"),
        F.min("dn").alias("dlo"),
        F.max("dn").alias("dhi"),
    ).collect()[0]
    xlo, xhi = int(bounds.xlo), int(bounds.xhi)
    dlo, dhi = int(bounds.dlo), int(bounds.dhi)
    # custkey band: lowest 1/8 of the range; day band: one middle year
    xcut = xlo + max(1, (xhi - xlo + 1) // 8) - 1
    dcut_lo = dlo + 3 * 365
    dcut_hi = min(dhi, dcut_lo + 364)
    z = z_value(
        [
            int_bucket(F.col("xk"), xlo, xhi + 1, _RG_BITS),
            int_bucket(F.col("dn"), dlo, dhi + 1, _RG_BITS),
        ],
        _RG_BITS,
    )
    tmp = tempfile.mkdtemp(prefix="q_rowgroup_skip_")
    try:
        layouts = {}
        for name, sort_col in [("linear", F.col("dn")), ("zorder", z)]:
            path = os.path.join(tmp, name)
            (
                base_df.withColumn("__s", sort_col)
                .repartition(1)
                .sortWithinPartitions("__s")
                .drop("__s")
                .write.option("parquet.block.size", _RG_BLOCK)
                .parquet(path)
            )
            part = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
            assert len(part) == 1, part
            meta = pq.ParquetFile(part[0])
            layouts[name] = (path, meta.metadata.num_row_groups,
                             meta.metadata.num_rows)
        preds = {
            "custkey_band": (F.col("xk") >= xlo) & (F.col("xk") <= xcut),
            "day_band": (F.col("dn") >= dcut_lo) & (F.col("dn") <= dcut_hi),
            "box": (F.col("xk") >= xlo)
            & (F.col("xk") <= xcut)
            & (F.col("dn") >= dcut_lo)
            & (F.col("dn") <= dcut_hi),
        }
        rows = []
        for lname, (path, n_rg, n_total) in sorted(layouts.items()):
            df = spark.read.parquet(path)
            for pname, pred in sorted(preds.items()):
                agg = df.filter(pred).agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.coalesce(F.sum("cents"), F.lit(0))
                    .cast("long")
                    .alias("c"),
                )
                out = agg.collect()[0]
                rows.append(
                    (
                        lname,
                        pname,
                        int(n_rg),
                        int(n_total),
                        int(_scan_output_rows(agg)),
                        int(out["n"]),
                        int(out["c"]),
                    )
                )
        return spark.createDataFrame(
            rows,
            "layout string, predicate string, n_rowgroups long, "
            "total_rows long, scan_rows long, rows long, sum_cents long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# approximate composite inclusion dependencies (g3-style tolerance tier)
# ---------------------------------------------------------------------------

# Bracket candidates spanning the violation spectrum at sf0.01 (the
# q_approx_fd discipline): the exact-holding phase-74 pair domain (0),
# a DIRTY-but-structurally-right near-IND (per-user hour-of-day
# coverage mostly transfers across the day-15 boundary, ~26% of pairs
# are new but the model is sound), and two wrong-model candidates
# (customer order-status mix ~54% and the random lineitem split ~86% —
# no amount of cleaning rescues either).
_AIND_TOL_STRICT = "0.01"
_AIND_TOL_LOOSE = "0.30"
_AIND_CANDIDATES = [
    (
        "events[d16-30]:(user_id,event_type) <= events[d1-15]",
        ("events", "user_id", "event_type", "day_ge_16"),
        ("events", "user_id", "event_type", "day_le_15"),
    ),
    (
        "events[d16-30]:(user_id,hour) <= events[d1-15]",
        ("events", "user_id", "__hour", "day_ge_16"),
        ("events", "user_id", "__hour", "day_le_15"),
    ),
    (
        "orders[1997+]:(o_custkey,o_orderstatus) <= orders[pre-1997]",
        ("orders", "o_custkey", "o_orderstatus", "date_ge_97"),
        ("orders", "o_custkey", "o_orderstatus", "date_lt_97"),
    ),
    (
        "lineitem[even orders]:(l_partkey,l_suppkey) <= lineitem[odd]",
        ("lineitem", "l_partkey", "l_suppkey", "even"),
        ("lineitem", "l_partkey", "l_suppkey", "odd"),
    ),
]

_AIND_SQL_FILTERS = {
    "day_ge_16": "date_part('day', ts) >= 16",
    "day_le_15": "date_part('day', ts) <= 15",
    "date_ge_97": "o_orderdate >= '1997-01-01'",
    "date_lt_97": "o_orderdate < '1997-01-01'",
    "even": "l_orderkey % 2 = 0",
    "odd": "l_orderkey % 2 = 1",
}


def _sql_aind_col(col: str) -> str:
    if col == "__hour":
        return "CAST(date_part('hour', ts) AS BIGINT)"
    return col


def _sql_aind_block(label: str, lhs, rhs) -> str:
    lt, la, lb, lf = lhs
    rt, ra, rb, rf = rhs
    return f"""
    SELECT '{label}' AS ind,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS miss_pairs,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN hit IS NULL THEN c ELSE 0 END) AS BIGINT)
             AS miss_rows,
           ROUND(CAST(SUM(CASE WHEN hit IS NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 6) AS g3_pairs,
           ROUND(CAST(SUM(CASE WHEN hit IS NULL THEN c ELSE 0 END)
                 AS DOUBLE) / SUM(c), 6) AS g3_rows,
           CAST(CASE WHEN CAST(SUM(CASE WHEN hit IS NULL THEN c ELSE 0
                 END) AS DOUBLE) / SUM(c) <= {_AIND_TOL_STRICT}
                 THEN 1 ELSE 0 END AS INTEGER) AS holds_1pct,
           CAST(CASE WHEN CAST(SUM(CASE WHEN hit IS NULL THEN c ELSE 0
                 END) AS DOUBLE) / SUM(c) <= {_AIND_TOL_LOOSE}
                 THEN 1 ELSE 0 END AS INTEGER) AS holds_30pct
    FROM (SELECT {_sql_aind_col(la)} AS k1, {_sql_aind_col(lb)} AS k2,
                 CAST(count(*) AS BIGINT) AS c
          FROM {lt} WHERE {_AIND_SQL_FILTERS[lf]} GROUP BY 1, 2) l
    LEFT JOIN (SELECT DISTINCT {_sql_aind_col(ra)} AS k1,
                      {_sql_aind_col(rb)} AS k2, 1 AS hit
               FROM {rt} WHERE {_AIND_SQL_FILTERS[rf]}) r
      USING (k1, k2)
    """


def _aind_col(df, col):
    if col == "__hour":
        return F.hour("ts").cast("long")
    return F.col(col)


def _aind_filter(df, tag):
    return {
        "day_ge_16": lambda d: d.filter(F.dayofmonth("ts") >= 16),
        "day_le_15": lambda d: d.filter(F.dayofmonth("ts") <= 15),
        "date_ge_97": lambda d: d.filter(
            F.col("o_orderdate") >= "1997-01-01"
        ),
        "date_lt_97": lambda d: d.filter(
            F.col("o_orderdate") < "1997-01-01"
        ),
        "even": lambda d: d.filter(F.col("l_orderkey") % 2 == 0),
        "odd": lambda d: d.filter(F.col("l_orderkey") % 2 == 1),
    }[tag](df)


@query(
    "q_approx_ind",
    "\nUNION ALL\n".join(_sql_aind_block(*c) for c in _AIND_CANDIDATES),
)
def q_approx_ind(spark, sf_dir):
    """Approximate composite inclusion dependencies — the tolerance
    tier over the phase-74 q_composite_ind domain, completing the
    schema-discovery ladder exact IND → approximate FD → composite
    IND → composite approximate IND. Two g3-style error measures per
    candidate: the fraction of distinct key PAIRS absent from the
    reference domain (what a profiler reports) and the fraction of
    ROW MASS those pairs carry (what cleaning actually costs — a rare
    new pair and a dominant new pair are different problems; the two
    measures diverge exactly when violations concentrate). Verdicts
    at 1% (dirty-data tolerance) and 30% (structure tolerance) give
    the three-way decision q_approx_fd established: keep the model,
    clean the data, or fix the schema. On this fixture at sf0.01 the
    four candidates land exactly one per bracket: the day-15 pair
    domain holds exactly; per-user HOUR coverage is dirty-but-sound
    (g3≈0.26 — users keep their types but visit a few new hours);
    customer status mix (≈0.55) and the random lineitem split
    (≈0.86) are wrong models.

    Scale shape per candidate: ONE aggregation of the lhs to pair
    grain carrying row counts (map-side combine; row mass never
    re-shuffles), a distinct-projected rhs, one pair-grain left join
    — distinct-tuple cardinality bounds every shuffle exactly as in
    q_composite_ind; candidates union in parallel. Exact BIGINT
    counts until the two final ROUND divisions."""
    out = None
    for label, (lt, la, lb, lf), (rt, ra, rb, rf) in _AIND_CANDIDATES:
        lhs = (
            _aind_filter(load_table(spark, sf_dir, lt), lf)
            .groupBy(
                _aind_col(None, la).alias("k1"),
                _aind_col(None, lb).alias("k2"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        rhs = (
            _aind_filter(load_table(spark, sf_dir, rt), rf)
            .select(
                _aind_col(None, ra).alias("k1"),
                _aind_col(None, rb).alias("k2"),
            )
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        joined = lhs.join(rhs, ["k1", "k2"], "left")
        n_pairs = F.count(F.lit(1)).cast("long")
        miss_pairs = F.sum(
            F.when(F.col("hit").isNull(), 1).otherwise(0)
        ).cast("long")
        n_rows = F.sum("c").cast("long")
        miss_rows = F.sum(
            F.when(F.col("hit").isNull(), F.col("c")).otherwise(0)
        ).cast("long")
        g3r = miss_rows.cast("double") / n_rows
        block = joined.agg(
            F.lit(label).alias("ind"),
            n_pairs.alias("n_pairs"),
            miss_pairs.alias("miss_pairs"),
            n_rows.alias("n_rows"),
            miss_rows.alias("miss_rows"),
            F.round(miss_pairs.cast("double") / n_pairs, 6).alias(
                "g3_pairs"
            ),
            F.round(g3r, 6).alias("g3_rows"),
            F.when(g3r <= float(_AIND_TOL_STRICT), 1)
            .otherwise(0)
            .cast("int")
            .alias("holds_1pct"),
            F.when(g3r <= float(_AIND_TOL_LOOSE), 1)
            .otherwise(0)
            .cast("int")
            .alias("holds_30pct"),
        ).select(
            "ind", "n_pairs", "miss_pairs", "n_rows", "miss_rows",
            "g3_pairs", "g3_rows", "holds_1pct", "holds_30pct",
        )
        out = block if out is None else out.unionByName(block)
    return out


# ---------------------------------------------------------------------------
# state-store cardinality sweep (bytes/state-row growth per provider)
# ---------------------------------------------------------------------------

_SSS_MULTS = (1, 10, 100)  # group-key cardinality multipliers


@query("q_stream_state_scale")  # runs real availableNow streams
def q_stream_state_scale(spark, sf_dir):
    """State-store CARDINALITY sweep — the scale axis
    q_stream_state_census fixes at one point: the same hourly-window
    aggregate run under BOTH providers (HDFS-backed heap store and
    RocksDB) at 1×, 10× and 100× group-key cardinality (the window ×
    event_type key salted with event_id % mult), reporting per
    (provider, cardinality) the final state-row count against the
    batch-side distinct-group truth, total state memory, and
    bytes/state-row — the number that actually decides a 100 TB
    streaming deployment: the HDFS store keeps every state row on the
    JVM heap (bytes/row × rows must fit in executor memory), RocksDB
    keeps them native/on-disk (its memoryUsedBytes is block-cache
    accounting), so the crossover is rows × bytes/row vs heap budget,
    and this census measures how that product grows with key space.

    Certificates riding the sweep: state rows EQUAL distinct groups
    at every cardinality under both providers (exactness does not
    degrade with state size), and the HEAP provider's measured
    footprint is strictly monotone in state rows (pinned in pytest).
    RocksDB's memoryUsedBytes is block-cache accounting and measured
    NON-monotone at census scale (868 rows → 36 952 B vs 1000 rows →
    35 232 B: a flat cache floor dominates until state dwarfs it) —
    pinned only to a sane band, and deliberately never compared to
    the heap column (see q_stream_state_census). Machine-dependent
    footprints → rows-only by design.

    Scale shape: the events fixture lands once as 4 time-ordered JSON
    files; 2 providers × 3 cardinalities = 6 real availableNow runs
    with 8 shuffle partitions (state commit overhead is per-partition
    per-trigger, see streaming.census.CENSUS_STREAM_CONFS)."""
    from ..streaming.census import CENSUS_STREAM_CONFS, StreamCensus
    from .roundnine_queries import _STATE_PROVIDERS, _state_stats

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    rows = []
    with StreamCensus(spark, "q_stream_state_scale") as census:
        path, schema = census.land(events.repartitionByRange(4, "ts"))
        batch = spark.read.schema(schema).json(path)
        for prov, cls in sorted(_STATE_PROVIDERS.items()):
            for mult in _SSS_MULTS:
                salted_key = F.concat_ws(
                    "#",
                    F.col("event_type"),
                    F.pmod(F.col("event_id"), F.lit(mult)).cast("string"),
                )
                agg = census.stream(path, schema).groupBy(
                    F.window("ts", "1 hour").alias("w"),
                    salted_key.alias("k"),
                ).agg(F.count(F.lit(1)).alias("n"))
                _, progress = census.run(
                    agg, "update", {prov_key: cls, **CENSUS_STREAM_CONFS}
                )
                n_batches, state_rows, mem_bytes = _state_stats(progress)
                n_groups = (
                    batch.select(
                        F.date_trunc("hour", "ts").alias("h"),
                        salted_key.alias("k"),
                    )
                    .distinct()
                    .count()
                )
                rows.append(
                    (
                        prov,
                        int(mult),
                        int(n_batches),
                        int(state_rows),
                        int(n_groups),
                        int(state_rows == n_groups),
                        int(mem_bytes),
                        int(mem_bytes // state_rows) if state_rows else 0,
                    )
                )
    return spark.createDataFrame(
        rows,
        "provider string, key_mult long, n_microbatches long,"
        " state_rows long, n_groups_batch long, rows_match long,"
        " memory_bytes long, bytes_per_row long",
    )


# ---------------------------------------------------------------------------
# banded Smith-Waterman local alignment (wavefront + running max)
# ---------------------------------------------------------------------------


@query(
    "q_smith_waterman",
    f"""
    WITH RECURSIVE {_NW_SEQ_CTES}, it AS (
      SELECT user_id, x, n, r, m, w, 0 AS d,
             [CAST(0 AS BIGINT) FOR i IN generate_series(0, n)] AS prev,
             [CAST(0 AS BIGINT) FOR i IN generate_series(0, n)]
               AS prev2,
             CAST(0 AS BIGINT) AS best
      FROM base
      UNION ALL
      SELECT it.user_id, it.x, it.n, it.r, it.m, it.w, it.d + 1,
             [CASE
                WHEN it.d + 1 - i < 1 OR it.d + 1 - i > it.m OR i = 0
                     OR ABS(i - (it.d + 1 - i)) > it.w
                THEN CAST(0 AS BIGINT)
                ELSE GREATEST(
                  CAST(0 AS BIGINT),
                  it.prev2[i] + CASE WHEN it.x[i] = it.r[it.d + 1 - i]
                                     THEN {_NW_MATCH}
                                     ELSE {_NW_MISMATCH} END,
                  it.prev[i] + {_NW_GAP},
                  it.prev[i + 1] + {_NW_GAP})
              END FOR i IN generate_series(0, it.n)] AS prev,
             it.prev AS prev2,
             GREATEST(it.best, list_max(it.prev)) AS best
      FROM it WHERE it.d < it.n + it.m
    )
    SELECT user_id, n, m,
           GREATEST(best, list_max(prev)) AS sw_score
    FROM it WHERE d = n + m
    """,
)
def q_smith_waterman(spark, sf_dir):
    """Banded Smith-Waterman LOCAL alignment (Smith & Waterman 1981)
    — q_needleman's local sibling on the same modal-type sequences:
    the best-scoring SUBSEQUENCE alignment between each user's daily
    behaviour and the fleet's, the primitive behind motif finding and
    partial-overlap fuzzy matching where global alignment's
    end-to-end gap charges drown the signal (a user active only one
    week can still align that week perfectly).

    Same anti-diagonal wavefront as q_needleman with the two local
    twists: every cell takes max(0, ·) — an alignment may RESTART
    anywhere, so boundary and out-of-band cells are plain 0, no
    sentinel needed (reading 0 from an out-of-band predecessor is
    semantically a restart at the band edge, identical in both
    engines) — and the answer is the RUNNING MAX over all cells, not
    the corner. The max folds lag one step (best absorbs diagonal
    d−1 while d is being built; the final SELECT folds in the last
    diagonal) so no engine ever references a freshly-built alias —
    the q_viterbi lateral-binding hazard. All scores exact BIGINTs.

    Scale shape: identical to q_needleman (shared
    _modal_alignment_base: one count aggregate, 1-row broadcast
    reference, calendar-bounded arrays, the whole DP in JVM codegen);
    the running max adds one array_max per wavefront, O(n) — nothing
    new shuffles."""
    base = _modal_alignment_base(spark, sf_dir)
    ZERO = F.lit(0).cast("long")
    GAP = F.lit(_NW_GAP).cast("long")
    x, r = F.col("x"), F.col("r")
    n, m, w = F.col("n"), F.col("m"), F.col("w")
    idx = F.sequence(F.lit(0).cast("long"), n)
    zeros = F.transform(idx, lambda i: ZERO)

    def step(acc, d):
        prev, prev2 = acc["p"], acc["q"]
        new = F.transform(
            idx,
            lambda i: F.when(
                (d - i < 1)
                | (d - i > m)
                | (i == 0)
                | (F.abs(i - (d - i)) > w),
                ZERO,
            ).otherwise(
                F.greatest(
                    ZERO,
                    F.element_at(prev2, i.cast("int"))
                    + F.when(
                        F.element_at(x, i.cast("int"))
                        == F.element_at(r, (d - i).cast("int")),
                        F.lit(_NW_MATCH).cast("long"),
                    ).otherwise(F.lit(_NW_MISMATCH).cast("long")),
                    F.element_at(prev, i.cast("int")) + GAP,
                    F.element_at(prev, (i + 1).cast("int")) + GAP,
                )
            ),
        )
        return F.struct(
            new.alias("p"),
            prev.alias("q"),
            F.greatest(acc["best"], F.array_max(prev)).alias("best"),
        )

    final = F.aggregate(
        F.sequence(F.lit(1).cast("long"), n + m),
        F.struct(zeros.alias("p"), zeros.alias("q"), ZERO.alias("best")),
        step,
    )
    return base.select(
        "user_id",
        "n",
        "m",
        F.greatest(final["best"], F.array_max(final["p"])).alias(
            "sw_score"
        ),
    )


# ---------------------------------------------------------------------------
# minimum spanning forest (distributed Borůvka, hash-certified)
# ---------------------------------------------------------------------------


@query(
    "q_boruvka_mst",
    """
    WITH RECURSIVE e AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst,
             CAST(MIN(CAST(a.l_quantity + b.l_quantity AS BIGINT))
                  AS BIGINT) AS w
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 97 = 0 GROUP BY 1, 2
    ), ranked AS (
      SELECT src, dst, w,
             CAST(ROW_NUMBER() OVER (ORDER BY w, src, dst) AS BIGINT)
               AS rk
      FROM e
    ), arrs AS (
      SELECT list(src ORDER BY rk) AS rs, list(dst ORDER BY rk) AS rd,
             CAST(count(*) AS BIGINT) AS ne
      FROM ranked
    ), nds AS (
      SELECT list(v ORDER BY v) AS nd
      FROM (SELECT DISTINCT src AS v FROM e
            UNION SELECT DISTINCT dst FROM e)
    ), it AS (
      SELECT 0 AS k, arrs.rs, arrs.rd, arrs.ne, nds.nd,
             nds.nd AS comp, CAST([] AS BIGINT[]) AS mst
      FROM arrs, nds
      UNION ALL
      SELECT it.k + 1, it.rs, it.rd, it.ne, it.nd,
             CASE WHEN it.comp[list_position(it.nd, it.rs[it.k + 1])]
                       <> it.comp[list_position(it.nd, it.rd[it.k + 1])]
                  THEN [CASE WHEN c = it.comp[list_position(it.nd,
                                               it.rs[it.k + 1])]
                             THEN it.comp[list_position(it.nd,
                                           it.rd[it.k + 1])]
                             ELSE c END FOR c IN it.comp]
                  ELSE it.comp END AS comp,
             CASE WHEN it.comp[list_position(it.nd, it.rs[it.k + 1])]
                       <> it.comp[list_position(it.nd, it.rd[it.k + 1])]
                  THEN list_append(it.mst, it.k + 1)
                  ELSE it.mst END AS mst
      FROM it WHERE it.k < it.ne
    )
    SELECT r.src, r.dst, r.w
    FROM it, unnest(it.mst) AS u(rk)
    JOIN ranked r ON r.rk = u.rk
    WHERE it.k = it.ne
    """,
)
def q_boruvka_mst(spark, sf_dir):
    """Minimum spanning forest of the co-purchase graph via
    distributed Borůvka (operators/graph.boruvka_msf) — THE classic
    parallel-MST algorithm (each component picks its minimum incident
    edge, selection clusters contract by pointer jumping, components
    at least halve per round), the backbone of single-linkage
    clustering, network-cost planning, and HDBSCAN's mutual-
    reachability forest at 100 TB scale.

    The certification exploits MSF uniqueness: under the strict total
    edge order (w, src, dst) every correct MST algorithm returns the
    SAME edge set, so the Spark side runs Borůvka (log-round
    parallel) while the DuckDB twin runs KRUSKAL as a sequential
    recursive-CTE walk — one row whose state is the node→component
    list, one ranked edge per iteration, quick-union by list rewrite
    — and the driver hash proves the two ALGORITHMS agree edge for
    edge. This is the strongest cross-check in the graph family: not
    a replay of the same computation but an independent algorithm
    meeting it at the unique answer.

    Scale shape (Spark side): per round two label joins over the edge
    list, one min-struct aggregate at component grain, and 10
    pointer-doubling self-joins on the component-sized parent frame;
    every iteration frame localCheckpoint-ed and released (O(1) plan
    depth), early exit on the first round with no cross edge (one
    1-long count per round, the k_core precedent). 20 rounds span
    components up to ~10⁶ nodes (components at least halve per round,
    unused rounds are free), and round exhaustion with cross-component
    edges remaining RAISES rather than returning a partial forest
    (ADVICE r12) — the certificate cannot silently degrade."""
    from ..operators.graph import boruvka_msf

    from .roundfive_queries import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir)
    return boruvka_msf(edges)


# ---------------------------------------------------------------------------
# HMM posterior smoothing (forward-backward, quantized-exact)
# ---------------------------------------------------------------------------

# forward step macros over LIST state (fa0/fa1 accumulate the whole
# filter trajectory; the last element drives the next step)
_FB_T0 = ("(it.fa0[it.k] * 80 + it.fa1[it.k] * 30)"
          " * it.b0[it.k + 1]")
_FB_T1 = ("(it.fa0[it.k] * 20 + it.fa1[it.k] * 70)"
          " * it.b1[it.k + 1]")
_FB_A0N = f"({_FB_T0} * 100000 // ({_FB_T0} + {_FB_T1}))"
_FB_A1N = f"({_FB_T1} * 100000 // ({_FB_T0} + {_FB_T1}))"
# backward step macros: beta_{k-1}[i] = sum_j A[i][j] B[j][o_k] b_k[j]
_FB_U0 = ("(80 * it.b0[it.k] * it.bb0[1]"
          " + 20 * it.b1[it.k] * it.bb1[1])")
_FB_U1 = ("(30 * it.b0[it.k] * it.bb0[1]"
          " + 70 * it.b1[it.k] * it.bb1[1])")
_FB_B0N = f"({_FB_U0} * 100000 // ({_FB_U0} + {_FB_U1}))"
_FB_B1N = f"({_FB_U1} * 100000 // ({_FB_U0} + {_FB_U1}))"
# posterior at step t (substituted into list comprehensions)
_FB_G1 = ("(fa1[t] * bb1[t] * 100000"
          " // (fa0[t] * bb0[t] + fa1[t] * bb1[t]))")
_FB_G0 = ("(fa0[t] * bb0[t] * 100000"
          " // (fa0[t] * bb0[t] + fa1[t] * bb1[t]))")


def _sql_hmm_posterior() -> str:
    return f"""
    WITH RECURSIVE vals AS (
      SELECT user_id,
             list(event_type ORDER BY ts, event_id) AS obs,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ), emit AS (
      SELECT user_id, n,
             [{_sql_emission_fwd('o', _FWD_B0)} FOR o IN obs] AS b0,
             [{_sql_emission_fwd('o', _FWD_B1)} FOR o IN obs] AS b1
      FROM vals
    ), seeded AS (
      SELECT user_id, n, b0, b1,
             CAST({_FWD_INIT[0]} * b0[1] AS BIGINT) * {_FWD_S}
               // ({_FWD_INIT[0]} * b0[1] + {_FWD_INIT[1]} * b1[1])
               AS s0,
             CAST({_FWD_INIT[1]} * b1[1] AS BIGINT) * {_FWD_S}
               // ({_FWD_INIT[0]} * b0[1] + {_FWD_INIT[1]} * b1[1])
               AS s1
      FROM emit
    ), fwd AS (
      SELECT user_id, n, b0, b1, 1 AS k, [s0] AS fa0, [s1] AS fa1
      FROM seeded
      UNION ALL
      SELECT it.user_id, it.n, it.b0, it.b1, it.k + 1,
             list_append(it.fa0, {_FB_A0N}),
             list_append(it.fa1, {_FB_A1N})
      FROM fwd it WHERE it.k < it.n
    ), bwd AS (
      SELECT user_id, n, b0, b1, n AS k,
             [CAST({_FWD_S // 2} AS BIGINT)] AS bb0,
             [CAST({_FWD_S // 2} AS BIGINT)] AS bb1
      FROM emit
      UNION ALL
      SELECT it.user_id, it.n, it.b0, it.b1, it.k - 1,
             list_prepend({_FB_B0N}, it.bb0),
             list_prepend({_FB_B1N}, it.bb1)
      FROM bwd it WHERE it.k > 1
    ), joined AS (
      SELECT f.user_id, f.n, f.fa0, f.fa1, b.bb0, b.bb1
      FROM (SELECT * FROM fwd WHERE k = n) f
      JOIN (SELECT * FROM bwd WHERE k = 1) b USING (user_id)
    ), post AS (
      SELECT user_id, n, fa0, fa1,
             [{_FB_G0} FOR t IN generate_series(1, n)] AS g0,
             [{_FB_G1} FOR t IN generate_series(1, n)] AS g1
      FROM joined
    )
    SELECT user_id, n AS n_events,
           CAST(list_sum([CASE WHEN g1[t] > g0[t] THEN 1 ELSE 0 END
                FOR t IN generate_series(1, n)]) AS BIGINT)
             AS smooth_steps,
           CAST(list_sum([CASE WHEN (g1[t] > g0[t])
                               <> (fa1[t] > fa0[t])
                               THEN 1 ELSE 0 END
                FOR t IN generate_series(1, n)]) AS BIGINT)
             AS n_flips,
           g1[n] AS g1_final,
           CAST(list_max(g1) AS BIGINT) AS peak_g1,
           CAST(list_position(g1, list_max(g1)) AS BIGINT)
             AS peak_step
    FROM post
    """


@query("q_hmm_posterior", _sql_hmm_posterior())
def q_hmm_posterior(spark, sf_dir):
    """HMM posterior smoothing (forward-backward / Rauch-style
    two-filter marginals) — the third face of the browse/buy-intent
    model after q_viterbi (best path) and q_hmm_forward (online
    filter): P(state_t | ALL observations), the offline label a
    training pipeline actually wants (the filter can only use the
    past; smoothing corrects it with hindsight). Both passes run the
    q_hmm_forward discipline — per-step normalization with the
    distribution floor-quantized to the 10⁵ grid — so forward filter
    trajectories, backward messages, and the per-step posterior
    γ_t ∝ ᾱ_t·β̄_t are all pure BIGINT walks, hash-certified against
    two recursive-CTE twins (fwd appends, bwd prepends; the
    engine-shared list state is the DTW idiom at sequence grain).

    The output certifies the SMOOTHING EFFECT itself: smooth_steps
    (posterior intent-dominant count) vs n_flips — the steps where
    hindsight REVERSES the online filter's call, the quantity that
    decides whether offline relabeling is worth running. Plus the
    final posterior, peak intent belief, and its first achieving
    step (list_position/array_position both return the FIRST max).

    Magnitudes: γ numerators ᾱ·β̄·10⁵ ≤ 1e15 < 2⁵³, so the
    subtract-pmod floor-div stays exact in the lambda (the
    q_hmm_forward bound, one factor tighter). Scale shape: one
    per-user ordered collect, two O(n)-state JVM folds and one O(n)
    transform — no UDF, no per-step shuffle; list state is
    calendar×activity-bounded per key."""
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
        F.transform("obs", emis(_FWD_B0)).alias("b0"),
        F.transform("obs", emis(_FWD_B1)).alias("b1"),
    )
    b0, b1 = F.col("b0"), F.col("b1")
    n = F.col("n")
    S = F.lit(_FWD_S).cast("long")
    a = _FWD_A

    def _fd(num, den):
        return ((num - F.pmod(num, den)) / den).cast("long")

    u0s = F.lit(_FWD_INIT[0]).cast("long") * F.element_at(b0, 1)
    u1s = F.lit(_FWD_INIT[1]).cast("long") * F.element_at(b1, 1)
    fseed = F.struct(
        F.array(_fd(u0s * S, u0s + u1s)).alias("fa0"),
        F.array(_fd(u1s * S, u0s + u1s)).alias("fa1"),
    )

    def fstep(acc, k):
        la0 = F.element_at(acc["fa0"], -1)
        la1 = F.element_at(acc["fa1"], -1)
        t0 = (la0 * a[(0, 0)] + la1 * a[(1, 0)]) * F.element_at(
            b0, k.cast("int")
        )
        t1 = (la0 * a[(0, 1)] + la1 * a[(1, 1)]) * F.element_at(
            b1, k.cast("int")
        )
        den = t0 + t1
        return F.struct(
            F.concat(acc["fa0"], F.array(_fd(t0 * S, den))).alias("fa0"),
            F.concat(acc["fa1"], F.array(_fd(t1 * S, den))).alias("fa1"),
        )

    # n=1 guards (both folds): sequence(2, 1) yields DESCENDING [2, 1]
    # (out-of-bounds b0[2] read), and sequence(1, 2, -1) throws
    # 'Illegal sequence boundaries' — fall back to the seed structs,
    # matching the DuckDB twins' WHERE k < n / k > 1 recursion bounds.
    fwd = F.when(
        n >= 2,
        F.aggregate(F.sequence(F.lit(2).cast("long"), n), fseed, fstep),
    ).otherwise(fseed)
    half = F.lit(_FWD_S // 2).cast("long")
    bseed = F.struct(
        F.array(half).alias("bb0"), F.array(half).alias("bb1")
    )

    def bstep(acc, k):
        # computing beta for step k-1 from beta at step k (list head)
        nb0 = F.element_at(acc["bb0"], 1)
        nb1 = F.element_at(acc["bb1"], 1)
        e0 = F.element_at(b0, k.cast("int"))
        e1 = F.element_at(b1, k.cast("int"))
        u0 = a[(0, 0)] * e0 * nb0 + a[(0, 1)] * e1 * nb1
        u1 = a[(1, 0)] * e0 * nb0 + a[(1, 1)] * e1 * nb1
        den = u0 + u1
        return F.struct(
            F.concat(F.array(_fd(u0 * S, den)), acc["bb0"]).alias("bb0"),
            F.concat(F.array(_fd(u1 * S, den)), acc["bb1"]).alias("bb1"),
        )

    bwd = F.when(
        n >= 2,
        F.aggregate(
            F.sequence(n, F.lit(2).cast("long"), F.lit(-1).cast("long")),
            bseed,
            bstep,
        ),
    ).otherwise(bseed)
    # OPTIMIZATION BARRIERS between the three projections: an
    # expression referenced inside a higher-order-function lambda is
    # inlined PER ELEMENT (codegen subexpression elimination does not
    # reach into lambda bodies), and CollapseProject would merge
    # chained selects right back into that shape — measured as a
    # single task pinned >10 min at sf0.1 (~O(n³) re-evaluation of the
    # folds). repartition(user_id) nodes between the projections stop
    # the collapse; each stage then computes its arrays ONCE per row.
    mats = base.select(
        "user_id",
        F.col("n").alias("n_events"),
        fwd["fa0"].alias("fa0"),
        fwd["fa1"].alias("fa1"),
        bwd["bb0"].alias("bb0"),
        bwd["bb1"].alias("bb1"),
    ).repartition("user_id")
    ts = F.sequence(F.lit(1).cast("long"), F.col("n_events"))

    def gamma(which):
        def g(t):
            ti = t.cast("int")
            p0 = F.element_at("fa0", ti) * F.element_at("bb0", ti)
            p1 = F.element_at("fa1", ti) * F.element_at("bb1", ti)
            num = (p1 if which == 1 else p0) * S
            return _fd(num, p0 + p1)

        return g

    out = mats.select(
        "user_id",
        "n_events",
        F.transform(ts, gamma(0)).alias("g0"),
        F.transform(ts, gamma(1)).alias("g1"),
        "fa0",
        "fa1",
    ).repartition("user_id")
    idx = F.sequence(F.lit(1).cast("long"), F.size("g1").cast("long"))
    smooth = F.size(
        F.filter(
            idx,
            lambda t: F.element_at("g1", t.cast("int"))
            > F.element_at("g0", t.cast("int")),
        )
    ).cast("long")
    flips = F.size(
        F.filter(
            idx,
            lambda t: (
                F.element_at("g1", t.cast("int"))
                > F.element_at("g0", t.cast("int"))
            )
            != (
                F.element_at("fa1", t.cast("int"))
                > F.element_at("fa0", t.cast("int"))
            ),
        )
    ).cast("long")
    return out.select(
        "user_id",
        "n_events",
        smooth.alias("smooth_steps"),
        flips.alias("n_flips"),
        F.element_at("g1", -1).alias("g1_final"),
        F.array_max("g1").alias("peak_g1"),
        F.array_position("g1", F.array_max("g1"))
        .cast("long")
        .alias("peak_step"),
    )


# ---------------------------------------------------------------------------
# quantized Goertzel spectral sweep (single-bin DFT periodicity)
# ---------------------------------------------------------------------------

# 2·cos(2π/p) on the 10³ grid for candidate periods 2..10 days — the
# SPRT no-transcendentals idiom: no engine evaluates cos at query
# time, the quantized coefficients ARE the spec. p=2 → −2000 (Nyquist),
# p=4 → 0: the sweep crosses zero and sign, so division semantics on
# NEGATIVES must match — DuckDB's // TRUNCATES toward zero, hence the
# Spark side uses (a − a % b)/b (Spark % carries the dividend sign,
# exactly DuckDB's), NOT the floor-div pmod idiom used elsewhere.
_GZ_GRID = 1000
_GZ_COEF = {2: -2000, 3: -1000, 4: 0, 5: 618, 6: 1000,
            7: 1247, 8: 1414, 9: 1532, 10: 1618}
_GZ_DAYS = 31  # dense calendar grid; absent days contribute 0

# one Goertzel step, spelled once for the oracle: s ← x·G + (C·s₁)//G − s₂
_GZ_STEP = ("(it.xs[it.t + 1] * 1000"
            " + (it.c * it.s1) // 1000 - it.s2)")


def _sql_goertzel() -> str:
    coefs = ", ".join(f"({p}, {c})" for p, c in _GZ_COEF.items())
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(date_part('day', ts) AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), ser AS (
      SELECT event_type,
             list(day ORDER BY day) AS ds,
             list(x ORDER BY day) AS raw
      FROM daily GROUP BY 1
    ), dense AS (
      SELECT event_type,
             [CASE WHEN list_position(ds, CAST(d AS BIGINT)) > 0
                   THEN raw[list_position(ds, CAST(d AS BIGINT))]
                   ELSE 0 END
              FOR d IN generate_series(1, {_GZ_DAYS})] AS xs
      FROM ser
    ), pc AS (
      SELECT p.period, p.c, dense.event_type, dense.xs
      FROM (SELECT * FROM (VALUES {coefs}) v(period, c)) p, dense
    ), it AS (
      SELECT event_type, CAST(period AS BIGINT) AS period,
             CAST(c AS BIGINT) AS c, xs, 0 AS t,
             CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2
      FROM pc
      UNION ALL
      SELECT it.event_type, it.period, it.c, it.xs, it.t + 1,
             {_GZ_STEP} AS s1, it.s1 AS s2
      FROM it WHERE it.t < {_GZ_DAYS}
    ), pw AS (
      SELECT event_type, period,
             s1 * s1 + s2 * s2 - ((c * s1) // 1000) * s2 AS power
      FROM it WHERE t = {_GZ_DAYS}
    )
    SELECT event_type, period, power,
           CAST(CASE WHEN power = MAX(power) OVER
                (PARTITION BY event_type) THEN 1 ELSE 0 END
                AS INTEGER) AS is_peak
    FROM pw
    """


@query("q_goertzel", _sql_goertzel())
def q_goertzel(spark, sf_dir):
    """Single-bin DFT power sweep via the Goertzel recurrence
    (Goertzel 1958) — periodicity DETECTION for the time-series
    family: which candidate period (2..10 days) carries the most
    spectral energy in each event type's daily count series, the
    question upstream of every seasonal model the repo already fits
    (q_holt_winters assumes its season length; this measures it).

    No engine evaluates cos at query time: the coefficients
    2·cos(2π/p) are ×10³-quantized literals (the SPRT discipline),
    and the recurrence sₜ = 10³·xₜ + (C·sₜ₋₁)//10³ − sₜ₋₂ is an exact
    BIGINT walk — hash-certified against a recursive-CTE twin that
    advances all (type, period) rows one step per round. The sweep
    crosses C = 0 and C < 0 (p=4, p∈{2,3}), so the division on
    negatives is TRUNCATING in both engines (DuckDB // truncates
    toward zero; the Spark side uses (a − a%b)/b with Spark's
    dividend-sign %, NOT the floor pmod idiom used elsewhere — the
    one-character semantics trap this query exists to pin). Power
    P = s₁² + s₂² − ((C·s₁)//10³)·s₂ ≥ 0 up to grid wobble
    (discriminant C²−4·10⁶ < 0 for all p > 2). Magnitudes: |s| ≤
    ~10³·Σx, C·s ≤ ~1e12 at sf1 — inside 2⁵³ for the exact double
    division; P ≤ ~1e18 inside BIGINT.

    Scale shape: one (type, day) count aggregate, a 31-slot dense
    grid per key (absent days are true zeros — gaps ARE signal for
    periodicity), a 9-period broadcast literal fan-out, one JVM fold
    per (type, period); no UDF, no per-step shuffle."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.dayofmonth("ts").cast("long").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    ser = daily.groupBy("event_type").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("day", "x")))
        ).alias("m")
    )
    grid = F.sequence(F.lit(1).cast("long"), F.lit(_GZ_DAYS).cast("long"))
    dense = ser.select(
        "event_type",
        F.transform(
            grid,
            lambda d: F.coalesce(
                F.try_element_at("m", d), F.lit(0).cast("long")
            ),
        ).alias("xs"),
    )
    periods = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).cast("long").alias("period"),
                    F.lit(c).cast("long").alias("c"),
                )
                for p, c in _GZ_COEF.items()
            ]
        )
    ).alias("pc")
    pc = dense.select("event_type", "xs", periods).select(
        "event_type", "xs", F.col("pc.period").alias("period"),
        F.col("pc.c").alias("c"),
    )
    G = F.lit(_GZ_GRID).cast("long")
    c, xs = F.col("c"), F.col("xs")

    def _truncdiv(num, den):
        # DuckDB // truncates toward zero; Spark % carries the
        # dividend's sign, so (num - num % den)/den matches exactly.
        # |num| stays < 2^53, so the double division is exact.
        return ((num - num % den) / den).cast("long")

    def step(acc, t):
        s1n = (
            F.element_at(xs, t.cast("int")) * G
            + _truncdiv(c * acc["s1"], G)
            - acc["s2"]
        )
        return F.struct(s1n.alias("s1"), acc["s1"].alias("s2"))

    final = F.aggregate(
        F.sequence(F.lit(1).cast("long"), F.lit(_GZ_DAYS).cast("long")),
        F.struct(
            F.lit(0).cast("long").alias("s1"),
            F.lit(0).cast("long").alias("s2"),
        ),
        step,
    )
    s1, s2 = final["s1"], final["s2"]
    pw = pc.select(
        "event_type",
        "period",
        (s1 * s1 + s2 * s2 - _truncdiv(c * s1, G) * s2).alias("power"),
    )
    from pyspark.sql import Window

    wmax = F.max("power").over(Window.partitionBy("event_type"))
    return pw.select(
        "event_type",
        "period",
        "power",
        F.when(F.col("power") == wmax, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_peak"),
    )


# ---------------------------------------------------------------------------
# AR(2) fit + one-step forecast (Yule-Walker on exact autocovariances)
# ---------------------------------------------------------------------------


@query(
    "q_ar2_forecast",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_part('day', ts) AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), ser AS (
      SELECT event_type, list(x ORDER BY day) AS xs,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s
      FROM daily GROUP BY 1
    ), cks AS (
      SELECT event_type, n, s, xs,
             CAST(list_sum([(n * xs[t] - s) * (n * xs[t] - s)
                  FOR t IN generate_series(1, n)]) AS BIGINT) AS c0,
             CAST(list_sum([(n * xs[t] - s) * (n * xs[t + 1] - s)
                  FOR t IN generate_series(1, n - 1)]) AS BIGINT) AS c1,
             CAST(list_sum([(n * xs[t] - s) * (n * xs[t + 2] - s)
                  FOR t IN generate_series(1, n - 2)]) AS BIGINT) AS c2
      FROM ser
    ), fit AS (
      SELECT event_type, n, s, xs, c0, c1, c2,
             CAST(CAST(c1 AS DECIMAL(38,0)) * (c0 - c2) AS DOUBLE)
               / CAST(CAST(c0 AS DECIMAL(38,0)) * c0
                      - CAST(c1 AS DECIMAL(38,0)) * c1 AS DOUBLE)
               AS phi1,
             CAST(CAST(c0 AS DECIMAL(38,0)) * c2
                  - CAST(c1 AS DECIMAL(38,0)) * c1 AS DOUBLE)
               / CAST(CAST(c0 AS DECIMAL(38,0)) * c0
                      - CAST(c1 AS DECIMAL(38,0)) * c1 AS DOUBLE)
               AS phi2
      FROM cks
    )
    SELECT event_type, n, c0, c1, c2,
           ROUND(phi1, 6) AS phi1,
           ROUND(phi2, 6) AS phi2,
           ROUND(CAST(s AS DOUBLE) / n
                 + phi1 * (CAST(xs[n] AS DOUBLE)
                           - CAST(s AS DOUBLE) / n)
                 + phi2 * (CAST(xs[n - 1] AS DOUBLE)
                           - CAST(s AS DOUBLE) / n), 6) AS forecast
    FROM fit
    """,
)
def q_ar2_forecast(spark, sf_dir):
    """AR(2) fit by Yule-Walker plus a one-step forecast — the step
    the correlogram suite builds toward (q_autocorrelation measures
    the ACF, q_pacf picks the order, THIS fits the model and
    forecasts): per event type, φ₁ = r₁(1−r₂)/(1−r₁²) and
    φ₂ = (r₂−r₁²)/(1−r₁²) cross-multiplied into EXACT integer form —
    φ₁ = c₁(c₀−c₂)/(c₀²−c₁²), φ₂ = (c₀c₂−c₁²)/(c₀²−c₁²) — where the
    cₖ are the q_pacf n-scaled BIGINT autocovariances (no float
    mean), the quadratic products ride DECIMAL(38,0) (the q_ridge
    normal-equation discipline, ≤ ~2e25 at sf1), and only the two
    final divisions plus the forecast line are doubles in one
    identical operation order. The exact c₀,c₁,c₂ ride the row so
    the hash anchors the integer core; the forecast is
    x̂ₙ₊₁ = μ + φ₁(xₙ−μ) + φ₂(xₙ₋₁−μ) on the raw count scale.

    Scale shape: one (type, day) count aggregate, calendar-bounded
    arrays, one list_sum per lag — identical to q_pacf; the 5-type
    output frame is driver-size by construction."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.dayofmonth("ts").cast("long").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    ser = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda r: r["x"],
        ).alias("xs"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    xs, n, s = F.col("xs"), F.col("n"), F.col("s")

    def ck(k):
        return F.aggregate(
            F.sequence(F.lit(1).cast("long"), n - k),
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + (n * F.element_at(xs, t.cast("int")) - s)
            * (n * F.element_at(xs, (t + k).cast("int")) - s),
        )

    cks = ser.select(
        "event_type", "n", "s", "xs",
        ck(0).alias("c0"), ck(1).alias("c1"), ck(2).alias("c2"),
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    den = (dec("c0") * F.col("c0") - dec("c1") * F.col("c1")).cast(
        "double"
    )
    phi1 = (dec("c1") * (F.col("c0") - F.col("c2"))).cast("double") / den
    phi2 = (
        dec("c0") * F.col("c2") - dec("c1") * F.col("c1")
    ).cast("double") / den
    fit = cks.select(
        "event_type", "n", "s", "xs", "c0", "c1", "c2",
        phi1.alias("phi1"), phi2.alias("phi2"),
    )
    mu = s.cast("double") / n
    fcast = (
        mu
        + F.col("phi1")
        * (F.element_at(xs, n.cast("int")).cast("double") - mu)
        + F.col("phi2")
        * (F.element_at(xs, (n - 1).cast("int")).cast("double") - mu)
    )
    return fit.select(
        "event_type", "n", "c0", "c1", "c2",
        F.round("phi1", 6).alias("phi1"),
        F.round("phi2", 6).alias("phi2"),
        F.round(fcast, 6).alias("forecast"),
    )


# ---------------------------------------------------------------------------
# exchange-reuse census (shared-subplan execution semantics)
# ---------------------------------------------------------------------------


def _plan_marker_counts(df) -> dict:
    p = df._jdf.queryExecution().executedPlan().toString()
    return {
        "reused": p.count("ReusedExchange"),
        "exchanges": p.count("Exchange"),
        "scans": p.count("Scan parquet"),
    }


@query("q_exchange_reuse_census")  # engine-physical → rows-only
def q_exchange_reuse_census(spark, sf_dir):
    """Exchange-reuse census — WHEN does Spark execute a shared
    subplan once vs twice? The engine-physical fact every DAG author
    needs before factoring a pipeline: reuse happens at EXCHANGE
    (shuffle) granularity only. Three probe shapes over lineitem:

    - 'selfjoin_agg': the same groupBy aggregate joined to itself —
      the second Exchange subtree is replaced by ReusedExchange, the
      aggregation runs ONCE (reuse fires).
    - 'union_agg_legs': a union whose legs both contain the same
      aggregate — again one ReusedExchange (reuse fires across union
      legs too, despite the shuffle boundary sitting under a Union).
    - 'union_map_legs': a union of map-only projections of the same
      scan — NO exchange under the legs means NOTHING to reuse: the
      scan executes twice (2 parquet scans in the plan), the measured
      fact operators/dedup.connected_components documents (its pairs
      frame is persisted precisely because of this). localCheckpoint/
      persist, not plan factoring, is the dedup tool below a shuffle
      boundary.

    Each row carries the shape's plan-marker counts (ReusedExchange /
    Exchange / parquet scans from the executed plan of THIS run) and
    a value anchor (row count + exact quantity sum) so the census is
    self-consistent. Engine-physical → rows-only; the fires/doesn't
    asymmetry is pinned in pytest.

    100 TB shape: at scale a re-executed scan leg is the difference
    between reading a table once or twice — this census is the
    decision procedure for when to persist()."""
    li = load_table(spark, sf_dir, "lineitem")
    rows = []
    # shape 1: self-join of an aggregate
    agg = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").cast("long").alias("q")
    )
    right = agg.select("l_partkey", F.col("q").alias("q2"))
    j = agg.join(right, "l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("q") + F.col("q2")).cast("long").alias("s"),
    )
    out = j.collect()[0]
    m = _plan_marker_counts(j)
    rows.append(
        ("selfjoin_agg", m["reused"], m["exchanges"], m["scans"],
         int(out["n"]), int(out["s"]))
    )
    # shape 2: union with an exchange under each leg
    u2 = (
        agg.select("l_partkey", "q")
        .unionByName(agg.select("l_partkey", "q"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("q").cast("long").alias("s"),
        )
    )
    out = u2.collect()[0]
    m = _plan_marker_counts(u2)
    rows.append(
        ("union_agg_legs", m["reused"], m["exchanges"], m["scans"],
         int(out["n"]), int(out["s"]))
    )
    # shape 3: union of map-only legs (no shuffle boundary to reuse)
    sel = li.select(
        F.col("l_partkey").alias("k"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    u3 = sel.unionByName(sel).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("s"),
    )
    out = u3.collect()[0]
    m = _plan_marker_counts(u3)
    rows.append(
        ("union_map_legs", m["reused"], m["exchanges"], m["scans"],
         int(out["n"]), int(out["s"]))
    )
    return spark.createDataFrame(
        rows,
        "shape string, n_reused_exchange long, n_exchanges long,"
        " n_scans long, rows long, anchor_sum long",
    )


# ---------------------------------------------------------------------------
# parquet aggregate-pushdown census (footer-stats answering)
# ---------------------------------------------------------------------------


@query("q_agg_pushdown_census")  # engine-physical → rows-only
def q_agg_pushdown_census(spark, sf_dir):
    """Aggregate-pushdown certificate — the scan-elimination tier
    above predicate pushdown: COUNT/MIN/MAX without GROUP BY can be
    answered from parquet FOOTER STATISTICS (one stat tuple per row
    group) instead of decoding any data page. Spark only does this
    through the DataSource V2 parquet reader with
    spark.sql.parquet.aggregatePushdown=true, so the census runs the
    same count(*)/min/max aggregate over orders three ways — V2 with
    pushdown, V2 without, and the default V1 reader — with the two
    confs scoped-and-restored (the q_stream_state_census pattern),
    and reports per mode: whether the executed plan carries a
    non-empty PushedAggregation list, the scan's numOutputRows (under
    pushdown: one pre-aggregated row per row group / partition, not
    data rows), and the answers themselves — which must be IDENTICAL
    across modes (the value anchor: pushdown is an execution
    strategy, never a semantics change).

    Engine-physical → rows-only; the fires/doesn't asymmetry, the
    orders-of-magnitude scan_rows drop, and tri-modal value parity
    are pinned in pytest.

    100 TB shape: a fleet-wide row count or freshness max(date) over
    a petabyte table becomes a footer-metadata walk — this census is
    the proof the layout actually grants that."""
    path = f"{sf_dir}/orders.parquet"
    v1_key = "spark.sql.sources.useV1SourceList"
    push_key = "spark.sql.parquet.aggregatePushdown"
    rows = []
    # v1_default leaves useV1SourceList as the session has it
    for mode, confs in [
        ("v2_pushdown", {v1_key: "", push_key: "true"}),
        ("v2_no_pushdown", {v1_key: "", push_key: "false"}),
        ("v1_default", {push_key: "true"}),
    ]:
        with scoped_conf(spark, confs):
            # long columns only: pushdown bails if ANY aggregate is
            # on an unsupported type (the fixture's timestamp column
            # silently disabled it — count(lit) likewise compiles to
            # count(1), not the COUNT(*) the V2 reader recognizes)
            df = spark.read.parquet(path).agg(
                F.count("*").cast("long").alias("n"),
                F.min("o_custkey").cast("long").alias("mn_cust"),
                F.max("o_custkey").cast("long").alias("mx_cust"),
            )
            out = df.collect()[0]
            p = df._jdf.queryExecution().executedPlan().toString()
            pushed = int(
                "PushedAggregation: [COUNT" in p
                or "PushedAggregation: [MIN" in p
            )
            rows.append(
                (
                    mode,
                    pushed,
                    int(_scan_output_rows(df)),
                    int(out["n"]),
                    int(out["mn_cust"]),
                    int(out["mx_cust"]),
                )
            )
    return spark.createDataFrame(
        rows,
        "mode string, agg_pushed long, scan_rows long, n long,"
        " mn_cust long, mx_cust long",
    )
