"""Round-13 phases 100+: dictionary-scale multi-pattern search
(Aho-Corasick vs the reference's folded-OR, head-to-head), the
quantized-exact scalar Kalman filter + RTS smoother, the
transformWithState streaming census, the sequential Page CUSUM
monitor, the AMS F2 sketch, blocked Fellegi-Sunter linkage,
grid-stencil DBSCAN, locally-dominant greedy matching, the parquet
bloom-filter census, and quantized-exact LOF.

VERDICT r12 "Next round" items 4-6 plus the density/linkage/sketch
families those opened. Discipline as everywhere:
exact-integer arithmetic wherever a value crosses engines, bounded
per-key arrays, repartition barriers between higher-order-function
projections (the r12 lambda-inlining finding), one data-sized shuffle
per query.
"""

from __future__ import annotations

import itertools
import string

from pyspark.sql import functions as F

from ..io import load_table
from ..session import scoped_conf
from .registry import query

# ---------------------------------------------------------------------------
# dictionary-scale multi-pattern search: 1000-term head-to-head
# ---------------------------------------------------------------------------

# The synthetic corpus vocabulary (TESTDATA.md documents generator).
# Used only to pick dictionary terms that actually HIT — correctness
# never depends on the hit/miss split (both engines see the same
# dictionary), so new vocabulary at other SFs is harmless.
_MT_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
)
_MT_HITS = sorted({w[i : i + 3] for w in _MT_VOCAB for i in range(len(w) - 2)})


def _mt_misses(k: int) -> list[str]:
    """First k letter-trigrams (aaa, aab, …) that are not substrings of
    any vocabulary word — deterministic dictionary padding. Letter-only
    terms can never match across word boundaries (every cross-word
    trigram contains a space), so these are guaranteed misses on the
    fixture corpus; if a larger SF ever grows the vocabulary, a miss
    turning into a hit is still engine-symmetric."""
    hits = set(_MT_HITS)
    out: list[str] = []
    for tri in ("".join(c) for c in itertools.product(string.ascii_lowercase, repeat=3)):
        if tri not in hits:
            out.append(tri)
            if len(out) == k:
                break
    return out


_MT_TERMS = sorted(_MT_HITS + _mt_misses(1000 - len(_MT_HITS)))
assert len(_MT_TERMS) == 1000 and len(set(_MT_TERMS)) == 1000
_MT_SQL_LIST = ", ".join(f"'{t}'" for t in _MT_TERMS)
# one predicate string, parsed ONCE by each engine (building 1000
# Column.contains calls costs ~2000 py4j round-trips; F.expr is one)
_MT_FOLDED_PRED = " OR ".join(
    f"lower(text) LIKE '%{t}%'" for t in _MT_TERMS
)


@query(
    "q_multiterm_scale",
    f"""
    WITH terms(t) AS (SELECT unnest([{_MT_SQL_LIST}])),
    grams AS (
      SELECT doc_id,
             unnest([substr(lower(text), p, 3)
                     FOR p IN generate_series(
                       1, CAST(length(text) AS INT) - 2)]) AS tri
      FROM documents WHERE length(text) >= 3
    ), occ AS (
      SELECT doc_id, tri FROM grams JOIN terms ON tri = t
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           CAST(count(DISTINCT tri) AS BIGINT) AS n_terms,
           min(tri) AS first_term, max(tri) AS last_term
    FROM occ GROUP BY doc_id
    """,
)
def q_multiterm_scale(spark, sf_dir):
    """The reference's multi-term search workload
    (legiscan_search_all_bills.R:52,88-93: substring stems ORed over
    bill text) at DICTIONARY scale — 1000 terms in ONE Aho-Corasick
    pass per document (operators/search.ahocorasick_hit_census,
    Arrow-batched mapInPandas, automaton built once per worker).

    Folded-OR (q_multiterm_or_filter's shape, q_multiterm_folded here)
    is O(terms × chars) per row; this is O(chars + matches) regardless
    of dictionary size. Measured head-to-head at sf0.1 (5000 docs,
    1000 terms, min-of-3): AC 0.92 s vs folded-OR 1.73 s — and the two
    rejected single-pass JVM alternatives are slower than BOTH
    (lookahead-alternation regex 1.73 s: Java regex backtracks
    alternations, still O(terms)/position; literal-map trigram probe
    5.3 s: GetMapValue on a CreateMap literal is a LINEAR scan). Both
    queries sit in bench.py so the crossover stays measured per round.

    Hash-certified: the DuckDB twin enumerates every text position and
    equi-joins 3-grams against the dictionary — a different algorithm
    agreeing on every (doc, n_hits, n_terms, first, last) row,
    including OVERLAPPING occurrences (the uniform 3-char dictionary
    makes the twin's substr join exact; the AC side needs no such
    restriction — variable-length parity vs folded-OR is pinned in
    tests/test_phase101.py on the reference's own 15 stems)."""
    from ..operators.search import ahocorasick_hit_census

    docs = load_table(spark, sf_dir, "documents")
    return ahocorasick_hit_census(docs, "doc_id", "text", _MT_TERMS)


@query(
    "q_multiterm_folded",
    f"SELECT doc_id FROM documents WHERE {_MT_FOLDED_PRED}",
)
def q_multiterm_folded(spark, sf_dir):
    """The SAME 1000-term search as q_multiterm_scale in the
    reference's own folded-OR shape (legiscan_search_all_bills.R:88-93
    scaled up) — the head-to-head baseline bench.py times against the
    AC pass every round. One F.expr parse (not 1000 Column calls)
    gives one 1000-way OR predicate at the scan. Whole-stage codegen
    cannot hold it: at sf0.01 Janino fails every execution with "Code
    grows beyond 64 KB" for ``processNext()``, and
    ``WholeStageCodegenExec`` falls back to the non-whole-stage plan
    for that stage. The failed compile plus the non-whole-stage run are
    part of the baseline that bench.py weighs against Aho-Corasick; the
    plan stays as it is because it is the reference's shape."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.expr(_MT_FOLDED_PRED)).select("doc_id")


# ---------------------------------------------------------------------------
# quantized-exact scalar Kalman filter + RTS smoother
# ---------------------------------------------------------------------------

_KAL_G = 100_000  # gain/smoother-coefficient quantization grid
_KAL_Q = 100      # process-noise variance (cents²)
_KAL_R = 400      # observation-noise variance (cents²)
_KAL_P1 = 400     # posterior variance after the first observation

# the quantized gain and smoother coefficient, spelled once for the
# twin (textual substitution — the lateral-alias hazard)
_KAL_KG = "((fp[-1] + 100) * 100000 // (fp[-1] + 100 + 400))"
_KAL_CQ = "((fp[k - 1] * 100000) // (fp[k - 1] + 100))"


def _sql_kalman() -> str:
    return f"""
    WITH RECURSIVE vals AS (
      SELECT user_id,
             [CAST(ROUND(v * 100) AS BIGINT)
              FOR v IN list(value ORDER BY ts, event_id)] AS zs,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ), fwd AS (
      SELECT user_id, zs, n, CAST(1 AS BIGINT) AS k,
             [zs[1]] AS fm, [CAST({_KAL_P1} AS BIGINT)] AS fp
      FROM vals
      UNION ALL
      SELECT user_id, zs, n, k + 1,
             list_append(fm, fm[-1]
               + ({_KAL_KG} * (zs[CAST(k AS INT) + 1] - fm[-1])) // 100000),
             list_append(fp,
               ((100000 - {_KAL_KG}) * (fp[-1] + 100)) // 100000)
      FROM fwd WHERE k < n
    ), mats AS (
      SELECT user_id, n, fm, fp FROM fwd WHERE k = n
    ), bwd AS (
      SELECT user_id, n, fm, fp, n AS k, [fm[-1]] AS ms
      FROM mats
      UNION ALL
      SELECT user_id, n, fm, fp, k - 1,
             list_prepend(fm[CAST(k AS INT) - 1]
               + ({_KAL_CQ} * (ms[1] - fm[CAST(k AS INT) - 1])) // 100000,
               ms)
      FROM bwd WHERE k > 1
    )
    SELECT user_id, n AS n_events,
           fm[-1] AS m_final, fp[-1] AS p_final, ms[1] AS ms_first,
           CAST(len(list_filter(
             [ms[t] - fm[t] FOR t IN generate_series(1, CAST(n AS INT))],
             d -> d != 0)) AS BIGINT) AS n_moves,
           CAST(list_max(
             [abs(ms[t] - fm[t])
              FOR t IN generate_series(1, CAST(n AS INT))])
             AS BIGINT) AS max_abs_adj
    FROM bwd WHERE k = 1
    """


@query("q_kalman", _sql_kalman())
def q_kalman(spark, sf_dir):
    """Scalar Kalman filter + Rauch-Tung-Striebel smoother over each
    user's event-value series (local-level model: x_t = x_{t-1} + w,
    z_t = x_t + v) — the general-state-space rung of the chunked-affine
    ladder (EWMA scalar → Holt 2×2 → Holt-Winters (m+2)² →
    state-space), fused with the HMM quantization discipline
    (roundtwelve_queries.py:307): every division that would break
    BIGINT exactness is floor-/trunc-quantized to the 10⁵ grid, so the
    whole two-pass recursion hash-matches a recursive-CTE twin.

    Per step (all BIGINT, cents): Ppred = P + Q; gain Kq = (Ppred·10⁵)
    div (Ppred + R); m' = m + (Kq·(z − m)) div 10⁵; P' = ((10⁵ −
    Kq)·Ppred) div 10⁵. Backward (RTS, A = 1): Cq = (P_k·10⁵) div
    (P_k + Q); ms_k = m_k + (Cq·(ms_{{k+1}} − m_k)) div 10⁵. The m/ms
    updates have SIGNED numerators, so div is the portable TRUNC-div —
    (a − a%b)/b with Spark's dividend-sign %, matching DuckDB's //
    exactly (the q_goertzel pin); gains/variances are positive, where
    trunc == floor. Magnitudes: P ≤ 500, Kq·(z−m) ≤ 10⁵·5·10⁴ = 5·10⁹
    — far inside the 2⁵³ exact-double window for the lambda-scope
    division. P's recursion is data-independent (converges to the
    steady-state Riccati fixed point in ~6 steps) but is carried in
    the fold so the certificate covers it.

    Trajectory functionals ride the fold: n_moves (steps where
    hindsight moved the estimate) and max_abs_adj (the largest
    smoothing correction, in cents) — the quantities a training-data
    pipeline reads to decide whether online estimates suffice.

    Scale shape: one per-user ordered collect, two JVM folds, no UDF,
    no per-step shuffle; repartition(user_id) barriers between the
    fold projections (the r12 lambda-inlining finding — without them
    CollapseProject merges fm/fp INTO the backward lambda and the
    forward pass re-runs per backward element). n=1 guards on both
    folds (sequence(2,1) is DESCENDING; sequence(0,1,-1) throws)."""
    events = load_table(spark, sf_dir, "events")
    base = (
        events.groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "value"))
                ),
                lambda s: F.round(s["value"] * 100).cast("long"),
            ).alias("zs")
        )
        .withColumn("n", F.size("zs").cast("long"))
    )
    zs, n = F.col("zs"), F.col("n")
    G = F.lit(_KAL_G).cast("long")
    Q = F.lit(_KAL_Q).cast("long")
    R = F.lit(_KAL_R).cast("long")

    def _tdiv(num, den):
        # trunc toward zero == DuckDB //; exact: |num| < 2^53
        return ((num - num % den) / den).cast("long")

    fseed = F.struct(
        F.array(F.element_at(zs, 1)).alias("fm"),
        F.array(F.lit(_KAL_P1).cast("long")).alias("fp"),
    )

    def fstep(acc, k):
        m = F.element_at(acc["fm"], -1)
        p = F.element_at(acc["fp"], -1)
        ppred = p + Q
        kq = _tdiv(ppred * G, ppred + R)
        mn = m + _tdiv(kq * (F.element_at(zs, k.cast("int")) - m), G)
        pn = _tdiv((G - kq) * ppred, G)
        return F.struct(
            F.concat(acc["fm"], F.array(mn)).alias("fm"),
            F.concat(acc["fp"], F.array(pn)).alias("fp"),
        )

    fwd = F.when(
        n >= 2,
        F.aggregate(F.sequence(F.lit(2).cast("long"), n), fseed, fstep),
    ).otherwise(fseed)
    mats = base.select(
        "user_id",
        F.col("n").alias("n_events"),
        fwd["fm"].alias("fm"),
        fwd["fp"].alias("fp"),
    ).repartition("user_id")

    fm, fp = F.col("fm"), F.col("fp")
    ne = F.col("n_events")
    bseed = F.struct(F.array(F.element_at(fm, -1)).alias("ms"))

    def bstep(acc, k):
        mk = F.element_at(fm, k.cast("int"))
        pk = F.element_at(fp, k.cast("int"))
        cq = _tdiv(pk * G, pk + Q)
        msk = mk + _tdiv(cq * (F.element_at(acc["ms"], 1) - mk), G)
        return F.struct(F.concat(F.array(msk), acc["ms"]).alias("ms"))

    bwd = F.when(
        ne >= 2,
        F.aggregate(
            F.sequence(
                ne - 1, F.lit(1).cast("long"), F.lit(-1).cast("long")
            ),
            bseed,
            bstep,
        ),
    ).otherwise(bseed)
    smoothed = mats.select(
        "user_id", "n_events", "fm", "fp", bwd["ms"].alias("ms")
    ).repartition("user_id")

    idx = F.sequence(F.lit(1).cast("long"), F.col("n_events"))
    diffs = F.transform(
        idx,
        lambda t: F.element_at("ms", t.cast("int"))
        - F.element_at("fm", t.cast("int")),
    )
    return smoothed.select(
        "user_id",
        "n_events",
        F.element_at("fm", -1).alias("m_final"),
        F.element_at("fp", -1).alias("p_final"),
        F.element_at("ms", 1).alias("ms_first"),
        F.size(F.filter(diffs, lambda d: d != 0)).cast("long").alias(
            "n_moves"
        ),
        F.array_max(F.transform(diffs, F.abs)).alias("max_abs_adj"),
    )


# ---------------------------------------------------------------------------
# transformWithState census (Spark 4 arbitrary-state API)
# ---------------------------------------------------------------------------

_TWS_PROVIDERS = {
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "hdfs-heap": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
}


@query("q_stream_tws_totals")  # runs real availableNow streams → rows-only
def q_stream_tws_totals(spark, sf_dir):
    """API-migration census for transformWithStateInPandas (Spark 4's
    arbitrary-state successor to applyInPandasWithState, SPARK-46815):
    the same per-user running-totals processor
    (streaming/stateful.running_user_totals_tws) attempted under BOTH
    state-store providers, next to the legacy-API run that anchors the
    fixture — one row per (api, provider) with the batch-diff verdict
    or the classified refusal.

    Engine facts this census records (measured, not assumed):
    - transformWithState supports ONLY the RocksDB provider; the heap
      provider is refused. In THIS environment both attempts fail
      earlier: the API routes state through a PYTHON DRIVER WORKER
      speaking a protobuf protocol, and `google.protobuf` is not
      installed — the worker crashes at init
      (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). The census
      probes importability directly and classifies the refusal as
      `python-worker-protobuf-missing`, so the moment the environment
      gains protobuf the rows upgrade to real batch-diff verdicts
      (rocksdb) and the provider rejection (hdfs-heap) with NO code
      change — the pytest pin (tests/test_phase101.py) flips to
      remind. The legacy applyInPandasWithState path needs no
      protobuf (state rides the Arrow channel) and stays green under
      RocksDB here, proving fixture + diff logic sound.
    """
    import importlib.util
    import shutil
    import tempfile
    import uuid as _uuid

    from ..streaming.events import CENSUS_STREAM_CONFS
    from ..streaming.stateful import (
        running_user_totals,
        running_user_totals_tws,
    )

    events = load_table(spark, sf_dir, "events")
    try:  # find_spec raises if even the parent 'google' pkg is absent
        have_protobuf = (
            importlib.util.find_spec("google.protobuf") is not None
        )
    except ModuleNotFoundError:
        have_protobuf = False
    tmp = tempfile.mkdtemp(prefix="q_stream_tws_")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    try:
        json_dir = f"{tmp}/events_json"
        events.select(
            "event_id", "ts", "user_id", "event_type", "value"
        ).repartitionByRange(4, "ts").write.json(json_dir)
        landed_schema = (
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        )
        batch_df = (
            spark.read.schema(landed_schema)
            .json(json_dir)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
        )
        n_batch_users = batch_df.count()

        def run_one(api: str, provider: str):
            op = (
                running_user_totals_tws
                if api == "transformWithStateInPandas"
                else running_user_totals
            )
            stream_df = (
                spark.readStream.format("json")
                .schema(landed_schema)
                .option("maxFilesPerTrigger", 1)
                .load(json_dir)
            )
            name = "tws_census_" + _uuid.uuid4().hex[:8]
            confs = {prov_key: _TWS_PROVIDERS[provider], **CENSUS_STREAM_CONFS}
            q = None
            try:
                with scoped_conf(spark, confs):
                    q = (
                        op(stream_df)
                        .writeStream.format("memory")
                        .queryName(name)
                        .outputMode("update")
                        .trigger(availableNow=True)
                        .option(
                            "checkpointLocation",
                            f"{tmp}/cp_{name}",
                        )
                        .start()
                    )
                    if not q.awaitTermination(150):
                        q.stop()
                        raise RuntimeError(
                            f"tws census: {api}/{provider} did not "
                            f"drain in 150s"
                        )
            except Exception as ex:  # classified refusal is the DATA
                if q is not None:
                    try:
                        q.stop()
                    except Exception:
                        pass
                s = str(ex)
                if "exited unexpectedly" in s and not have_protobuf:
                    failure = "python-worker-protobuf-missing"
                elif (
                    "STATE_STORE" in s
                    or "RocksDB" in s.replace(
                        _TWS_PROVIDERS["rocksdb"], ""
                    )
                    or "provider" in s.lower()
                ):
                    failure = "provider-rejected"
                else:
                    failure = s.splitlines()[0][:80]
                return (api, provider, False, failure, None, None)
            streamed = (
                spark.table(name)
                .groupBy("user_id")
                .agg(
                    F.max(F.struct("n_events", "total_value")).alias("s")
                )
                .select(
                    "user_id",
                    F.col("s.n_events").alias("n_events"),
                    F.round(F.col("s.total_value"), 4).alias(
                        "total_value"
                    ),
                )
            )
            n_stream_users = streamed.count()
            n_mismatch = (
                streamed.exceptAll(batch_df).count()
                + batch_df.exceptAll(streamed).count()
            )
            spark.catalog.dropTempView(name)
            equal = bool(
                n_mismatch == 0 and n_stream_users == n_batch_users
            )
            return (api, provider, True, None, equal, n_stream_users)

        rows = [
            run_one("applyInPandasWithState", "rocksdb"),
            run_one("transformWithStateInPandas", "rocksdb"),
            run_one("transformWithStateInPandas", "hdfs-heap"),
        ]
        return spark.createDataFrame(
            rows,
            "api string, provider string, ran boolean,"
            " failure string, batch_equal boolean, n_users long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# CUSUM change-point detection (two-sided, per-mille normalized)
# ---------------------------------------------------------------------------

_CU_DAYS = 30     # dense grid over the fixture month (days 1..30;
                  # a 31st slot would always read 0 and fire a
                  # phantom collapse alarm on every type)
_CU_BASE_D = 7    # baseline window: days 1..7
_CU_SLACK = 50    # per-mille allowance per day (k ≈ 0.5σ)
_CU_H = 400       # alarm threshold (cumulative per-mille·days)

# one normalized deviation, spelled once for the twin: per-mille of the
# 7-day baseline mean — 7000·x_t // base − 1000 (x_t ≥ 0, base > 0, so
# // == floor == trunc in both engines)
_CU_DEV = "((7000 * it.xs[it.k + 1]) // it.base - 1000)"
_CU_SP = f"GREATEST(0, it.sp + {_CU_DEV} - {_CU_SLACK})"
_CU_SN = f"GREATEST(0, it.sn - {_CU_DEV} - {_CU_SLACK})"


def _sql_cusum() -> str:
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
              FOR d IN generate_series(1, {_CU_DAYS})] AS xs
      FROM ser
    ), based AS (
      SELECT event_type, xs,
             CAST(list_sum(xs[1:{_CU_BASE_D}]) AS BIGINT) AS base
      FROM dense
    ), it AS (
      SELECT event_type, xs, base, CAST({_CU_BASE_D} AS BIGINT) AS k,
             CAST(0 AS BIGINT) AS sp, CAST(0 AS BIGINT) AS sn,
             CAST(0 AS BIGINT) AS max_sp, CAST(0 AS BIGINT) AS max_sn,
             CAST(0 AS BIGINT) AS first_up, CAST(0 AS BIGINT) AS first_dn,
             CAST(0 AS BIGINT) AS n_alarm
      FROM based WHERE base > 0
      UNION ALL
      SELECT it.event_type, it.xs, it.base, it.k + 1,
             {_CU_SP} AS sp, {_CU_SN} AS sn,
             GREATEST(it.max_sp, {_CU_SP}),
             GREATEST(it.max_sn, {_CU_SN}),
             CASE WHEN it.first_up = 0 AND {_CU_SP} > {_CU_H}
                  THEN it.k + 1 ELSE it.first_up END,
             CASE WHEN it.first_dn = 0 AND {_CU_SN} > {_CU_H}
                  THEN it.k + 1 ELSE it.first_dn END,
             it.n_alarm + CASE WHEN {_CU_SP} > {_CU_H}
                                 OR {_CU_SN} > {_CU_H}
                          THEN 1 ELSE 0 END
      FROM it WHERE it.k < {_CU_DAYS}
    )
    SELECT event_type, base, max_sp, max_sn, first_up, first_dn, n_alarm
    FROM it WHERE k = {_CU_DAYS}
    """


@query("q_page_cusum", _sql_cusum())
def q_page_cusum(spark, sf_dir):
    """Two-sided SEQUENTIAL CUSUM monitor (Page 1954) over each
    event type's daily count series — the ONLINE sibling of q_cusum
    (advanced_queries.py:899, the retrospective argmax change-point
    LOCATOR): that one answers "where did the level most likely
    shift, in hindsight"; this one accumulates evidence day by day and
    timestamps when a persistent shift became undeniable (the
    mixture-drift alarm a training-data pipeline wires to its intake).

    Scale-invariant by construction: deviations are normalized to
    PER-MILLE of the 7-day baseline mean (d_t = 7000·x_t div base −
    1000), so thresholds carry across SFs; the numerator is
    non-negative, making floor/trunc division identical in both
    engines. The recursion S⁺ = max(0, S⁺ + d_t − 50), S⁻ = max(0, S⁻
    − d_t − 50) is pure BIGINT, hash-certified against a recursive-CTE
    twin; trajectory functionals ride the fold (first alarm day each
    direction, running maxima, alarm-day count). Types absent in the
    baseline week are excluded symmetrically (base > 0).

    Scale shape: one (type, day) count aggregate, a 30-slot dense grid
    per key (absent days are true zeros — a vanished feed IS a
    downward change), one JVM fold; no UDF, no per-step shuffle."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.dayofmonth("ts").cast("long").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    ser = daily.groupBy("event_type").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("day", "x")))
        ).alias("m")
    )
    grid = F.sequence(F.lit(1).cast("long"), F.lit(_CU_DAYS).cast("long"))
    dense = ser.select(
        "event_type",
        F.transform(
            grid,
            lambda d: F.coalesce(
                F.try_element_at("m", d), F.lit(0).cast("long")
            ),
        ).alias("xs"),
    ).withColumn(
        "base",
        F.aggregate(
            F.slice("xs", 1, _CU_BASE_D),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    ).filter(F.col("base") > 0).repartition("event_type")

    xs, base = F.col("xs"), F.col("base")
    slack = F.lit(_CU_SLACK).cast("long")
    h = F.lit(_CU_H).cast("long")
    zero = F.lit(0).cast("long")

    def _fd(num, den):  # non-negative numerators only here
        return ((num - F.pmod(num, den)) / den).cast("long")

    seed = F.struct(
        zero.alias("sp"), zero.alias("sn"),
        zero.alias("max_sp"), zero.alias("max_sn"),
        zero.alias("first_up"), zero.alias("first_dn"),
        zero.alias("n_alarm"),
    )

    def step(acc, k):
        d = _fd(
            F.lit(7000).cast("long") * F.element_at(xs, k.cast("int")),
            base,
        ) - F.lit(1000).cast("long")
        sp = F.greatest(zero, acc["sp"] + d - slack)
        sn = F.greatest(zero, acc["sn"] - d - slack)
        return F.struct(
            sp.alias("sp"),
            sn.alias("sn"),
            F.greatest(acc["max_sp"], sp).alias("max_sp"),
            F.greatest(acc["max_sn"], sn).alias("max_sn"),
            F.when((acc["first_up"] == 0) & (sp > h), k)
            .otherwise(acc["first_up"])
            .alias("first_up"),
            F.when((acc["first_dn"] == 0) & (sn > h), k)
            .otherwise(acc["first_dn"])
            .alias("first_dn"),
            (
                acc["n_alarm"]
                + F.when((sp > h) | (sn > h), F.lit(1).cast("long"))
                .otherwise(zero)
            ).alias("n_alarm"),
        )

    final = F.aggregate(
        F.sequence(
            F.lit(_CU_BASE_D + 1).cast("long"),
            F.lit(_CU_DAYS).cast("long"),
        ),
        seed,
        step,
    )
    return dense.select(
        "event_type",
        "base",
        final["max_sp"].alias("max_sp"),
        final["max_sn"].alias("max_sn"),
        final["first_up"].alias("first_up"),
        final["first_dn"].alias("first_dn"),
        final["n_alarm"].alias("n_alarm"),
    )


# ---------------------------------------------------------------------------
# AMS tug-of-war F2 sketch (second frequency moment)
# ---------------------------------------------------------------------------

_F2_EST = 16  # independent ±1 estimators


def _sql_f2() -> str:
    def nib(expr: str) -> str:
        c = f"ascii(substring(md5({expr}), 1, 1))"
        return f"({c} - CASE WHEN {c} >= 97 THEN 87 ELSE 48 END)"

    key = "k || '_' || i"
    sign = f"(1 - 2 * ({nib(key)} % 2))"
    return f"""
    WITH f AS (
      SELECT CAST(user_id AS VARCHAR) AS k,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), exact AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS f2 FROM f
    ), z AS (
      SELECT i, CAST(SUM({sign} * c) AS BIGINT) AS zi
      FROM f, (SELECT CAST(unnest(generate_series(0, {_F2_EST - 1}))
                      AS VARCHAR) AS i)
      GROUP BY i
    ), est AS (
      SELECT CAST(SUM(zi * zi) AS BIGINT) AS s FROM z
    )
    SELECT f2 AS f2_exact, s AS f2_est_sum,
           CAST({_F2_EST} AS BIGINT) AS n_estimators,
           (ABS({_F2_EST} * f2 - s) * 1000000)
             // ({_F2_EST} * f2) AS rel_err_ppm
    FROM exact, est
    """


@query("q_f2_sketch", _sql_f2())
def q_f2_sketch(spark, sf_dir):
    """AMS tug-of-war sketch (Alon-Matias-Szegedy 1996) for the second
    frequency moment F₂ = Σ f_k² of the per-user event counts — the
    sketch behind join-size estimation, self-join cardinality and
    repeat-skew scoring, completing the sketch family (HLL counts
    distincts = F₀, count-min approximates point frequencies, THIS
    estimates the square mass). One pass, O(estimators) state.

    Fully hash-certified, unlike typical seeded sketches: the ±1
    Rademacher hashes come from the engine-portable md5-nibble parity
    (importance.token_bucket discipline), so Spark and DuckDB compute
    the IDENTICAL sketch, estimator by estimator — the oracle certifies
    the algorithm, and the pytest pin bounds the estimation error the
    algorithm's variance analysis promises (Var[X] ≤ 2F₂²/n). All
    BIGINT: |Z_i| ≤ Σf_k = |events|, Z_i² ≤ 2.5e11 at sf1.

    Scale shape: one count aggregate at key grain, a 16× fan-out of
    the COUNT frame (never the event stream), one sum per estimator —
    map-side partial aggregation everywhere; the exact F₂ rides the
    same count frame for the certificate."""
    events = load_table(spark, sf_dir, "events")
    f = events.groupBy(
        F.col("user_id").cast("string").alias("k")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    exact = f.agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("f2")
    )
    ests = F.explode(
        F.array(*[F.lit(str(i)) for i in range(_F2_EST)])
    ).alias("i")
    from ..operators.importance import _nibble

    sign = (
        F.lit(1).cast("long")
        - 2 * F.pmod(
            _nibble(
                F.substring(
                    F.md5(F.concat(F.col("k"), F.lit("_"), F.col("i"))),
                    1, 1,
                )
            ).cast("long"),
            F.lit(2).cast("long"),
        )
    )
    z = (
        f.select("k", "c", ests)
        .groupBy("i")
        .agg(F.sum(sign * F.col("c")).cast("long").alias("zi"))
    )
    est = z.agg(
        F.sum(F.col("zi") * F.col("zi")).cast("long").alias("s")
    )
    ne = F.lit(_F2_EST).cast("long")

    # rel_err_ppm numerator |16·F2 − s|·10⁶ can reach ~1e17-1e18 at
    # sf1 — inside BIGINT but ABOVE 2^53, where the (num − pmod)/den
    # double-division idiom can round one below the exact quotient
    # (r13 ADVICE). Spark SQL's `div` is exact BIGINT truncating
    # division; operands are non-negative so trunc == DuckDB's
    # floor `//`.
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            F.col("f2").alias("f2_exact"),
            F.col("s").alias("f2_est_sum"),
            ne.alias("n_estimators"),
            (
                F.abs(ne * F.col("f2") - F.col("s"))
                * F.lit(1_000_000).cast("long")
            ).alias("_num"),
            (ne * F.col("f2")).alias("_den"),
        )
        .select(
            "f2_exact",
            "f2_est_sum",
            "n_estimators",
            F.expr("_num div _den").alias("rel_err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (blocked, integer weights)
# ---------------------------------------------------------------------------

# field agreement weights ×1000 (log₂ m/u as LITERALS — the SPRT
# no-transcendentals discipline; m/u chosen for the fixture's field
# cardinalities): acctbal $1000-band, phone last-4, name last-3 digits,
# comment length decile
_FS_WA = (2000, 3000, 2500, 1500)
_FS_WD = (-800, -300, -500, -400)
_FS_MATCH = 4000   # score ≥ → match
_FS_POSSIBLE = 0   # score ≥ → possible; below → non-match

# fixture customer columns: custkey, name, nationkey, acctbal,
# mktsegment (nation+segment are the BLOCK key) — four comparison
# fields derived from name + balance: $1000 band (trunc-div, signed),
# sub-dollar cents (both engines' % carries the dividend sign), name
# last-3 digits, balance sign
_FS_FIELDS_DUCK = (
    "(CAST(ROUND(a.c_acctbal * 100) AS BIGINT) // 100000"
    " = CAST(ROUND(b.c_acctbal * 100) AS BIGINT) // 100000)",
    "(CAST(ROUND(a.c_acctbal * 100) AS BIGINT) % 100"
    " = CAST(ROUND(b.c_acctbal * 100) AS BIGINT) % 100)",
    # right(s, 3) instead of substring(length-2, 3): Spark treats a
    # negative start as counting from the END while DuckDB uses the
    # PostgreSQL before-the-string semantics, so names < 3 chars
    # would silently diverge (r13 ADVICE); right() agrees in both
    # engines for any length (shorter string -> whole string).
    "(right(a.c_name, 3) = right(b.c_name, 3))",
    "((a.c_acctbal >= 0) = (b.c_acctbal >= 0))",
)
_FS_SCORE_DUCK = " + ".join(
    f"CASE WHEN {f} THEN {wa} ELSE {wd} END"
    for f, wa, wd in zip(_FS_FIELDS_DUCK, _FS_WA, _FS_WD)
)


@query(
    "q_fellegi_sunter",
    f"""
    WITH pairs AS (
      SELECT {_FS_SCORE_DUCK} AS score
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_mktsegment = b.c_mktsegment
       AND a.c_custkey < b.c_custkey
    )
    SELECT score, CAST(count(*) AS BIGINT) AS n_pairs,
           CASE WHEN score >= {_FS_MATCH} THEN 'match'
                WHEN score >= {_FS_POSSIBLE} THEN 'possible'
                ELSE 'non-match' END AS verdict
    FROM pairs GROUP BY score
    """,
)
def q_fellegi_sunter(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage (1969) — the
    entity-resolution scorer upstream of the dedup/survivorship
    family: candidate pairs from BLOCKING (equi-join on nation ×
    market segment — never all-pairs), per-field agreement weights
    log₂(m/u) as ×1000 integer LITERALS (no log at query time), the
    pair score their sum, and the classic three-way verdict
    (match / possible / non-match) from literal thresholds. Output at
    score-histogram grain: 4 binary fields → ≤16 distinct scores, each
    with its pair count and verdict — hash-certified.

    Blocking arithmetic (the skew math that decides 100 TB
    survivability): block sizes are |customers| / (25 nations × 5
    segments), so predicted pairs grow as |C|²/250 — ~8k at sf0.01,
    ~90M at sf1, and the equi-join shuffles each block to one reducer.
    Past ~1e9 predicted pairs the move is a finer blocking key (add
    the acctbal band to the join) — the q_edit_distance_join refusal
    discipline; a pytest pin asserts the fixture stays far below the
    cliff. Weights are data-independent literals, so the same plan
    serves any m/u calibration pass."""
    cust = load_table(spark, sf_dir, "customer")

    a = cust.alias("a")
    b = cust.alias("b")
    # acctbal can be negative: the $1000 band must be DuckDB-// (trunc
    # toward zero) — the portable (p - p % d)/d with dividend-sign %
    pa = F.round(F.col("a.c_acctbal") * 100).cast("long")
    pb = F.round(F.col("b.c_acctbal") * 100).cast("long")
    den = F.lit(100_000).cast("long")
    agree = [
        ((pa - pa % den) / den).cast("long")
        == ((pb - pb % den) / den).cast("long"),
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
    pairs = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(score.alias("score"))
    )
    return (
        pairs.groupBy("score")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "score",
            "n_pairs",
            F.when(F.col("score") >= _FS_MATCH, "match")
            .when(F.col("score") >= _FS_POSSIBLE, "possible")
            .otherwise("non-match")
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# grid-based distributed DBSCAN (density clustering on embeddings)
# ---------------------------------------------------------------------------

_DB_EPS = 20       # radius in ×1000-quantized embedding units
_DB_EPS2 = 400     # eps²
_DB_MINNB = 4      # core iff ≥ 4 neighbors (minPts=5 incl. self)
_DB_OFF = 1 << 20  # shift to non-negative before grid floor-div
# Density interlock (r13 VERDICT #6): refuse the exact stencil plan
# past this many predicted candidates, naming q_dbscan_capped — the
# basket.MAX_EXACT_PAIRS discipline applied to the density cliff.
_DB_MAX_CAND = 2_000_000_000


def _sql_dbscan() -> str:
    return f"""
    WITH RECURSIVE p AS (
      SELECT vec_id,
             CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
               AS x,
             CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT)
               AS y
      FROM embeddings
    ), nb AS (
      SELECT a.vec_id, count(*) AS n_nb
      FROM p a JOIN p b
        ON a.vec_id != b.vec_id
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= {_DB_EPS2}
      GROUP BY 1
    ), core AS (
      SELECT vec_id FROM nb WHERE n_nb >= {_DB_MINNB}
    ), ce AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM p a JOIN p b
        ON a.vec_id != b.vec_id
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= {_DB_EPS2}
      WHERE a.vec_id IN (SELECT vec_id FROM core)
        AND b.vec_id IN (SELECT vec_id FROM core)
    ), r AS (
      SELECT vec_id AS node, vec_id AS label FROM core
      UNION
      SELECT ce.dst, r.label FROM r JOIN ce ON r.node = ce.src
    ), lab AS (
      SELECT node, MIN(label) AS label FROM r GROUP BY 1
    ), border AS (
      SELECT a.vec_id, MIN(l.label) AS label
      FROM p a
      JOIN p b ON a.vec_id != b.vec_id
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= {_DB_EPS2}
      JOIN lab l ON l.node = b.vec_id
      WHERE a.vec_id NOT IN (SELECT vec_id FROM core)
      GROUP BY 1
    )
    SELECT vec_id, 'core' AS role, CAST(label AS BIGINT) AS cluster
    FROM lab JOIN core ON node = vec_id
    UNION ALL
    SELECT vec_id, 'border', CAST(label AS BIGINT) FROM border
    UNION ALL
    SELECT vec_id, 'noise', CAST(NULL AS BIGINT)
    FROM p
    WHERE vec_id NOT IN (SELECT node FROM lab)
      AND vec_id NOT IN (SELECT vec_id FROM border)
    """


@query("q_dbscan", _sql_dbscan())
def q_dbscan(spark, sf_dir):
    """Grid-based distributed DBSCAN (Ester et al. 1996) over the
    2D-quantized embedding head — DENSITY clustering, the family the
    engine lacked (k-means partitions everything; DBSCAN finds
    arbitrary-shape clusters and labels sparse points NOISE — the
    outlier-corpus carve-out a curation pipeline acts on). Full
    classic semantics: core (≥ minPts within eps), border (non-core
    within eps of a core), noise; clusters = connected components of
    the core-core eps-graph (labels = min vec_id, deterministic).

    The scale plan is the GRID method: points land in eps-sized cells
    (coordinates shifted non-negative, pmod floor-div — exact in both
    engines), candidate pairs come from a 9-cell stencil equi-join
    (explode of 9 literal offsets, shuffle on the cell key), and the
    exact d² ≤ eps² filter prunes the stencil — O(n · local density)
    candidate pairs, never all-pairs; the stencil is provably
    complete (any two points within eps differ by ≤ 1 cell per axis).
    Cluster labels reuse the checkpointed connected_components
    operator. The DuckDB twin is the brute-force O(n²) DBSCAN — a
    different candidate-generation strategy meeting the grid plan at
    the identical (point, role, cluster) rows, which certifies the
    stencil's completeness at every SF the oracle runs.

    Hot-cell posture (r14: the interlock is now ARMED): stencil
    fan-out is bounded by 9 · max cell occupancy; a degenerate corpus
    (all points in a handful of cells) degrades to the quadratic the
    capped families refuse. density.predicted_candidates prices the
    stencil at CELL grain before the point join and this query raises
    past _DB_MAX_CAND (2e9) naming the certified escape
    q_dbscan_capped; the pytest pin asserts the fixtures stay far
    below the cliff AND that the refusal fires on a degenerate
    fixture."""
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
    return grid_dbscan(
        pts,
        _DB_EPS,
        _DB_EPS2,
        _DB_MINNB,
        _DB_OFF,
        max_candidates=_DB_MAX_CAND,
        route_hint="q_dbscan_capped",
    )


# ---------------------------------------------------------------------------
# greedy maximal matching (locally-dominant edges, hash-certified)
# ---------------------------------------------------------------------------


@query(
    "q_greedy_matching",
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
    ), it AS (
      SELECT 0 AS k, arrs.rs, arrs.rd, arrs.ne,
             CAST([] AS BIGINT[]) AS matched,
             CAST([] AS BIGINT[]) AS picked
      FROM arrs
      UNION ALL
      SELECT it.k + 1, it.rs, it.rd, it.ne,
             CASE WHEN NOT list_contains(it.matched, it.rs[it.k + 1])
                   AND NOT list_contains(it.matched, it.rd[it.k + 1])
                  THEN list_append(
                         list_append(it.matched, it.rs[it.k + 1]),
                         it.rd[it.k + 1])
                  ELSE it.matched END AS matched,
             CASE WHEN NOT list_contains(it.matched, it.rs[it.k + 1])
                   AND NOT list_contains(it.matched, it.rd[it.k + 1])
                  THEN list_append(it.picked, it.k + 1)
                  ELSE it.picked END AS picked
      FROM it WHERE it.k < it.ne
    )
    SELECT r.src, r.dst, r.w
    FROM it, unnest(it.picked) AS u(rk)
    JOIN ranked r ON r.rk = u.rk
    WHERE it.k = it.ne
    """,
)
def q_greedy_matching(spark, sf_dir):
    """Maximal weighted matching of the co-purchase graph via
    locally-dominant edge selection (operators/graph.
    greedy_maximal_matching) — the pairing primitive behind
    record-linkage assignment (one survivor pair per entity),
    A/B-pair construction, and graph coarsening (METIS-style matching
    contraction), on the same sampled co-purchase graph as
    q_boruvka_mst.

    Certification is the q_boruvka_mst discipline a second time: the
    parallel algorithm (each round commits every edge that is the
    (w,src,dst)-minimum at BOTH endpoints — a mutually non-adjacent
    set) provably produces the IDENTICAL matching to the SEQUENTIAL
    greedy scan over the ranked edge list, which the DuckDB twin runs
    as a list-state recursive-CTE walk (matched-node list + picked-rank
    list, one edge per iteration). Two different algorithms, unique
    answer, driver hash proves edge-for-edge agreement.

    Scale shape: per round one node-grain min-struct aggregate, two
    label joins, two anti-joins, all on the shrinking edge frame
    (checkpointed + released, O(1) plan depth); expected O(log |E|)
    rounds on hash-like weights, round exhaustion with live edges
    RAISES (non-maximal = wrong, never silent). The twin is O(|E|)
    sequential — exactly the asymmetry that makes the parallel side
    the 100 TB plan."""
    from ..operators.graph import greedy_maximal_matching

    from .roundfive_queries import _copurchase_edges

    return greedy_maximal_matching(_copurchase_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# parquet bloom-filter census (row-group skipping on hash-random keys)
# ---------------------------------------------------------------------------


@query("q_parquet_bloom_census")  # engine-physical → rows-only
def q_parquet_bloom_census(spark, sf_dir):
    """Parquet BLOOM-FILTER certificate — the third rung of the
    physical-pruning ladder (q_partition_pruning_census: directory
    grain; q_rowgroup_skip_census: min/max footer stats; THIS:
    row-group blooms where min/max is USELESS). Point lookups on a
    high-cardinality key in hash-random order are the case stats
    can't prune: every row group spans ~the full key range, so a
    stats-only reader decodes the whole file for a 1-row answer. A
    bloom filter per row group answers "definitely absent" at the
    footer, and the Spark 4 vectorized reader consults it.

    Layouts: the SAME (okey, cents) projection of orders, ONE file,
    64 KiB row groups, dictionary encoding DISABLED (a dictionary
    page is itself an exact-membership filter — leaving it on would
    measure dictionaries, not blooms), rows sorted by xxhash64(okey)
    so interior key ranges are deliberately useless; 'plain' written
    as-is, 'bloom' with parquet.bloom.filter.enabled#okey. Probes
    split into the two regimes the census separates: EDGE keys
    (global min / max / beyond-max) are stats-prunable even in hash
    order — few row groups' [min,max] cover the extremes — while
    INTERIOR rank keys (q1 / median / q3) sit inside every row
    group's range, so only the bloom can prune them. Measured at
    sf0.01 (15k rows, 4 row groups): interior probes decode 15,000
    rows plain vs 4,095 (one group) bloom; the absent key decodes 0
    in BOTH (stats), and value parity holds on every row. Per
    (layout × probe) row: total rows, scan-decoded rows
    (executed-plan numOutputRows — rows MATERIALIZED, not returned),
    result rows, cents sum (the value-parity anchor).

    100 TB shape: this is the certificate for needle-in-haystack
    lookups on join keys / IDs where Z-order can't help (hash-random
    by nature); the bloom costs ~1% file size and turns a full scan
    into one row group. Engine-physical → rows-only; asymmetry and
    parity pinned in pytest."""
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").cast("long").alias("okey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ks = base.agg(
        F.min("okey").alias("lo"),
        F.max("okey").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    ranked = base.orderBy("okey")
    def _rank_key(frac):
        return int(
            ranked.limit(max(1, int(ks.n * frac)))
            .agg(F.max("okey"))
            .collect()[0][0]
        )
    absent = int(ks.hi) * 2 + 1
    probes = [
        # edge keys: min/max stats prune these EVEN in hash-random
        # order (few row groups' [min,max] cover the extremes) — the
        # contrast rows proving stats alone handle edges
        ("k_min", int(ks.lo)),
        ("k_max", int(ks.hi)),
        ("k_absent", absent),  # > global max: stats prune everything
        # interior keys: every row group's range covers them — the
        # rows only the bloom can prune
        ("k_q1", _rank_key(0.25)),
        ("k_med", _rank_key(0.50)),
        ("k_q3", _rank_key(0.75)),
    ]
    tmp = tempfile.mkdtemp(prefix="q_bloom_census_")
    try:
        shuffled = base.orderBy(F.xxhash64("okey")).coalesce(1)
        common = {
            "parquet.block.size": str(64 * 1024),
            "parquet.enable.dictionary": "false",
        }
        w = shuffled.write.mode("overwrite")
        for k, v in common.items():
            w = w.option(k, v)
        w.parquet(f"{tmp}/plain")
        w = shuffled.write.mode("overwrite")
        for k, v in common.items():
            w = w.option(k, v)
        w = w.option("parquet.bloom.filter.enabled#okey", "true").option(
            "parquet.bloom.filter.expected.ndv#okey", str(int(ks.n))
        )
        w.parquet(f"{tmp}/bloom")
        import glob as _glob

        import pyarrow.parquet as _pq

        rows = []
        for layout in ("plain", "bloom"):
            (pf,) = _glob.glob(f"{tmp}/{layout}/*.parquet")
            n_rg = _pq.ParquetFile(pf).metadata.num_row_groups
            df_all = spark.read.parquet(f"{tmp}/{layout}")
            total = df_all.count()
            for pname, key in probes:
                dagg = df_all.filter(F.col("okey") == key).agg(
                    F.count(F.lit(1)).alias("nr"),
                    F.coalesce(F.sum("cents"), F.lit(0)).alias("c"),
                )
                got = dagg.collect()[0]
                # metrics live on the plan that EXECUTED (the agg)
                scan = _scan_output_rows_13(dagg)
                rows.append(
                    (
                        layout,
                        pname,
                        int(n_rg),
                        int(total),
                        int(scan),
                        int(got.nr),
                        int(got.c),
                    )
                )
        return spark.createDataFrame(
            rows,
            "layout string, probe string, n_rowgroups long,"
            " total_rows long, scan_rows long, result_rows long,"
            " cents long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _scan_output_rows_13(df) -> int:
    """Executed-plan parquet-scan numOutputRows (the
    roundtwelve_queries._scan_output_rows access path, re-exported
    here to keep module imports acyclic)."""
    from .roundtwelve_queries import _scan_output_rows

    return _scan_output_rows(df)


# ---------------------------------------------------------------------------
# Local Outlier Factor (quantized-exact, squared metric)
# ---------------------------------------------------------------------------

_LOF_K = 5
_LOF_G = 1_000_000_000  # lrd grid (k·G div Σreach²)
_LOF_G2 = 1_000_000     # LOF grid (per-ppm)
_LOF_CAP = 1500         # exact-baseline input bound (the neardup posture)
_LOF_FLAG = 1_500_000   # lof_q ≥ 1.5 → outlier


def _sql_lof() -> str:
    return f"""
    WITH p AS (
      SELECT vec_id,
             CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
               AS x,
             CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT)
               AS y
      FROM embeddings WHERE vec_id < {_LOF_CAP}
    ), d AS (
      SELECT a.vec_id AS aid, b.vec_id AS bid,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
               AS d2
      FROM p a JOIN p b ON a.vec_id != b.vec_id
    ), nn AS (
      SELECT aid, bid, d2,
             ROW_NUMBER() OVER (PARTITION BY aid ORDER BY d2, bid)
               AS rnk
      FROM d
    ), knn AS (
      SELECT aid, bid, d2 FROM nn WHERE rnk <= {_LOF_K}
    ), kd AS (
      SELECT aid, CAST(MAX(d2) AS BIGINT) AS kdist2,
             CAST(COUNT(*) AS BIGINT) AS nk
      FROM knn GROUP BY 1
    ), lrd AS (
      SELECT k.aid,
             (kd.nk * {_LOF_G}) // GREATEST(
               SUM(GREATEST(kb.kdist2, k.d2)), 1) AS lrd_q,
             ANY_VALUE(kd.kdist2) AS kdist2,
             ANY_VALUE(kd.nk) AS nk
      FROM knn k
      JOIN kd kb ON kb.aid = k.bid
      JOIN kd ON kd.aid = k.aid
      GROUP BY k.aid, kd.nk
    )
    SELECT a.aid AS vec_id, a.nk AS n_nn, a.kdist2,
           CAST(a.lrd_q AS BIGINT) AS lrd_q,
           CAST((SUM(lb.lrd_q) * {_LOF_G2})
                // (a.nk * GREATEST(a.lrd_q, 1)) AS BIGINT) AS lof_q,
           CAST(CASE WHEN (SUM(lb.lrd_q) * {_LOF_G2})
                // (a.nk * GREATEST(a.lrd_q, 1)) >= {_LOF_FLAG}
                THEN 1 ELSE 0 END AS INTEGER) AS is_outlier
    FROM lrd a
    JOIN knn k ON k.aid = a.aid
    JOIN lrd lb ON lb.aid = k.bid
    GROUP BY a.aid, a.nk, a.kdist2, a.lrd_q
    """


@query("q_lof", _sql_lof())
def q_lof(spark, sf_dir):
    """Local Outlier Factor (Breunig et al. 2000) on the 2D-quantized
    embedding head — the GRADED density-outlier score q_dbscan's
    binary noise label builds toward: LOF ≈ 1 means "as dense as your
    neighbors", ≫ 1 means "locally sparse relative to your
    neighborhood" — the ranking a curation pipeline uses to budget
    manual review, not just carve.

    Quantized-exact on the SQUARED metric (max is monotone, so
    reach²(a,b) = max(kdist²(b), d²(a,b)) is the standard reachability
    with every value a BIGINT): lrd_q = (k·10⁹) div Σreach², lof_q =
    (Σ_b lrd_q(b) · 10⁶) div (k·lrd_q(a)) — two quantization rungs,
    the HMM/Kalman discipline, so the whole pipeline hash-matches the
    twin. kNN ties break by (d², vec_id), strict in both engines.
    Magnitudes: Σ lrd_q(b)·10⁶ ≤ 5·10⁹·10⁶ = 5·10¹⁵ < 2⁶³ (BIGINT
    multiply, division result < 2⁵³ for the exact-double lambda-free
    path — all divisions here are column-grain, not lambda-scope).

    This is the EXACT bounded baseline (vec_id < 1500 — the
    q_embedding_neardup posture; the documented scale path for kNN at
    100 TB is the IVF/LSH candidate generation the ANN family already
    certifies, with LOF's formulas unchanged on approximate
    neighborhoods). Window top-k (WindowGroupLimit) keeps the kNN
    rank partial-aggregated; the pair generator is one broadcast
    theta-join on the capped frame."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _LOF_CAP
    )
    pts = emb.select(
        "vec_id",
        F.round(F.element_at("embedding", 1).cast("double") * 1000)
        .cast("long")
        .alias("x"),
        F.round(F.element_at("embedding", 2).cast("double") * 1000)
        .cast("long")
        .alias("y"),
    )
    a = pts.select(
        F.col("vec_id").alias("aid"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
    )
    b = pts.select(
        F.col("vec_id").alias("bid"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    pairs = (
        a.join(F.broadcast(b), F.col("aid") != F.col("bid"))
        .select("aid", "bid", d2.alias("d2"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("aid").orderBy("d2", "bid")
    knn = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _LOF_K)
        .select("aid", "bid", "d2")
        .localCheckpoint(eager=False)  # feeds kd, lrd, lof joins
    )
    kd = knn.groupBy("aid").agg(
        F.max("d2").cast("long").alias("kdist2"),
        F.count(F.lit(1)).cast("long").alias("nk"),
    ).localCheckpoint(eager=False)
    G = F.lit(_LOF_G).cast("long")
    G2 = F.lit(_LOF_G2).cast("long")

    # Exact BIGINT division via Spark SQL `div` (r13 ADVICE): with ≥6
    # co-located quantized points reach² can be 0, GREATEST(sr,1)=1
    # pushes lrd_q to 5e9 and slrd·10⁶ to ~2.5e16 > 2^53, where the
    # (num − pmod)/den double idiom can truncate one below the exact
    # quotient. Operands non-negative → trunc == DuckDB floor `//`.
    kdb = kd.select(
        F.col("aid").alias("bid"), F.col("kdist2").alias("b_kdist2")
    )
    reach = knn.join(kdb, "bid").select(
        "aid", "bid", F.greatest(F.col("b_kdist2"), F.col("d2")).alias("r2")
    )
    lrd = (
        reach.groupBy("aid")
        .agg(F.sum("r2").alias("sr"))
        .join(kd, "aid")
        .select(
            "aid",
            "nk",
            "kdist2",
            (F.col("nk") * G).alias("_ln"),
            F.greatest(F.col("sr"), F.lit(1)).cast("long").alias("_ld"),
        )
        .select(
            "aid", "nk", "kdist2", F.expr("_ln div _ld").alias("lrd_q")
        )
        .localCheckpoint(eager=False)
    )
    lrd_b = lrd.select(
        F.col("aid").alias("bid"), F.col("lrd_q").alias("b_lrd")
    )
    agg = (
        knn.join(lrd_b, "bid")
        .groupBy("aid")
        .agg(F.sum("b_lrd").alias("slrd"))
        .join(lrd, "aid")
    )
    lof_q = F.expr("_fn div _fd")
    return (
        agg.select(
            F.col("aid").alias("vec_id"),
            F.col("nk").alias("n_nn"),
            "kdist2",
            "lrd_q",
            (F.col("slrd") * G2).alias("_fn"),
            (F.col("nk") * F.greatest(F.col("lrd_q"), F.lit(1)))
            .cast("long")
            .alias("_fd"),
        )
        .select(
            "vec_id",
            "n_nn",
            "kdist2",
            "lrd_q",
            lof_q.alias("lof_q"),
            F.when(lof_q >= _LOF_FLAG, 1).otherwise(0).cast("int").alias(
                "is_outlier"
            ),
        )
    )


# ---------------------------------------------------------------------------
# gappy subsequence support mining (PrefixSpan-style counting)
# ---------------------------------------------------------------------------

_SS_TYPES = ("click", "error", "purchase", "signup", "view")


def _sql_subseq() -> str:
    types = ", ".join(f"'{t}'" for t in _SS_TYPES)
    return f"""
    WITH ev AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos
      FROM events
    ), ut AS (
      SELECT user_id, event_type AS ty,
             CAST(MIN(pos) AS BIGINT) AS fmin,
             CAST(MAX(pos) AS BIGINT) AS fmax,
             list(CAST(pos AS BIGINT) ORDER BY pos) AS plist
      FROM ev GROUP BY 1, 2
    ), nu AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS total
      FROM events
    ), p2 AS (
      SELECT a.ty || '>' || b.ty AS seq,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM ut a JOIN ut b ON a.user_id = b.user_id
      WHERE a.fmin < b.fmax
      GROUP BY 1
    ), p3 AS (
      SELECT a.ty || '>' || b.ty || '>' || c.ty AS seq,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM ut a
      JOIN ut b ON a.user_id = b.user_id
      JOIN ut c ON a.user_id = c.user_id
      WHERE list_min(list_filter(b.plist, p -> p > a.fmin)) IS NOT NULL
        AND c.fmax > list_min(list_filter(b.plist, p -> p > a.fmin))
      GROUP BY 1
    ), allp AS (
      SELECT CAST(2 AS BIGINT) AS length, seq, n_users FROM p2
      UNION ALL
      SELECT CAST(3 AS BIGINT), seq, n_users FROM p3
    )
    SELECT length, seq, n_users,
           (n_users * 1000) // nu.total AS support_pm
    FROM allp, nu
    """


@query("q_subseq_support", _sql_subseq())
def q_subseq_support(spark, sf_dir):
    """GAPPY subsequence support counting (the PrefixSpan support
    primitive, Pei et al. 2001) over per-user event-type journeys —
    the sequence-mining family's missing grain: q_event_trigrams
    counts CONTIGUOUS windows, q_transition_matrix counts adjacent
    steps; THIS counts users whose journey contains a>b (and a>b>c)
    with ANY gap — the "viewed, then eventually purchased" containment
    question funnels ask with order but without adjacency.

    The plan never materializes the O(n²) per-user subsequence set:
    containment reduces to the greedy characterization — a>b exists
    iff first(a) < last(b); a>b>c exists iff the first b AFTER
    first(a) precedes last(c). Per (user, type): min/max position and
    the sorted position list (5 types → ≤5 rows/user), then two
    self-joins at (user × type × type) grain — 25/125 combos per
    user, O(n) per user regardless of journey length, all BIGINT.
    The backward-looking lambda (min of b's positions after first(a))
    references only ATTRIBUTES — no lambda-inlining hazard.

    Output at (length, seq) grain with user counts and per-mille
    support — hash-certified; monotonicity (support(a>b>c) ≤
    support(a>b) ≤ n_users(a)) and a hand-journey replay pinned in
    pytest."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = events.select(
        "user_id", "event_type", F.row_number().over(w).alias("pos")
    )
    ut = ev.groupBy("user_id", F.col("event_type").alias("ty")).agg(
        F.min("pos").cast("long").alias("fmin"),
        F.max("pos").cast("long").alias("fmax"),
        F.array_sort(F.collect_list(F.col("pos").cast("long"))).alias(
            "plist"
        ),
    ).localCheckpoint(eager=False)  # feeds three self-join legs
    total = ev.select("user_id").distinct().count()
    a = ut.select(
        "user_id", F.col("ty").alias("ta"), F.col("fmin").alias("fa")
    )
    b = ut.select(
        "user_id",
        F.col("ty").alias("tb"),
        F.col("fmax").alias("xb"),
        F.col("plist").alias("pb"),
    )
    c = ut.select(
        "user_id", F.col("ty").alias("tc"), F.col("fmax").alias("xc")
    )
    p2 = (
        a.join(b, "user_id")
        .filter(F.col("fa") < F.col("xb"))
        .groupBy(F.concat_ws(">", "ta", "tb").alias("seq"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(F.lit(2).cast("long").alias("length"), "seq", "n_users")
    )
    nb = F.array_min(
        F.filter(F.col("pb"), lambda p: p > F.col("fa"))
    )
    p3 = (
        a.join(b, "user_id")
        .join(c, "user_id")
        .filter(nb.isNotNull() & (F.col("xc") > nb))
        .groupBy(F.concat_ws(">", "ta", "tb", "tc").alias("seq"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(F.lit(3).cast("long").alias("length"), "seq", "n_users")
    )
    den = F.lit(total).cast("long")
    return p2.unionByName(p3).select(
        "length",
        "seq",
        "n_users",
        ((F.col("n_users") * 1000 - F.pmod(F.col("n_users") * 1000, den))
         / den).cast("long").alias("support_pm"),
    )


# ---------------------------------------------------------------------------
# WindowGroupLimit pushdown census (rank-limit before the shuffle)
# ---------------------------------------------------------------------------


@query("q_window_topk_census")  # engine-physical → rows-only
def q_window_topk_census(spark, sf_dir):
    """Rank-limit pushdown certificate — does Spark's WindowGroupLimit
    rewrite (SPARK-37099, the optimizer behind every top-k-per-group)
    actually cut the SHUFFLE, measured from shuffleRecordsWritten on
    the executed exchange? Top-3 orders per customer by (cents desc,
    orderkey): with the rewrite each map task emits at most 3 rows
    per group BEFORE the exchange (a partial WindowGroupLimit under
    the map-side sort); with it disabled
    (spark.sql.optimizer.windowGroupLimitThreshold = -1, scoped and
    restored) every input row crosses the wire and the rank filter
    runs only after the window.

    Per mode: shuffle records written, WindowGroupLimit node count in
    the executed plan (2 = partial+final, 0 = disabled), result rows
    and exact cents (the value-parity anchor — the rewrite is an
    execution strategy, never semantics). Measured at sf0.01: 2,558
    records shuffled with the rewrite vs 15,000 without, identical
    results. 100 TB shape: this rewrite is the difference between
    shuffling 3·|groups| rows and shuffling the whole fact table on
    every leaderboard query; the census keeps it provably ON for the
    plans this engine emits. Engine-physical → rows-only; asymmetry
    and parity pinned in pytest."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )

    def topk():
        w = Window.partitionBy("o_custkey").orderBy(
            F.desc("cents"), F.asc("o_orderkey")
        )
        return (
            base.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= 3)
            .select("o_custkey", "o_orderkey", "cents")
        )

    def measure():
        df = topk()
        got = df.agg(
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
        n_wgl = ep.toString().count("WindowGroupLimit")
        return shuffled, n_wgl, int(row.nr), int(row.c)

    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    rows = []
    for mode, threshold in (("pushdown-on", "1000"), ("pushdown-off", "-1")):
        with scoped_conf(spark, {key: threshold}):
            rows.append((mode, *map(int, measure())))
    return spark.createDataFrame(
        rows,
        "mode string, shuffle_records long, n_wgl_nodes long,"
        " result_rows long, cents long",
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter with fine blocking (the 97x cliff's escape hatch)
# ---------------------------------------------------------------------------

_FSB_BAND_A = "(CAST(ROUND(a.c_acctbal * 100) AS BIGINT) // 100000)"
_FSB_BAND_B = "(CAST(ROUND(b.c_acctbal * 100) AS BIGINT) // 100000)"


@query(
    "q_fellegi_blocked",
    f"""
    WITH pairs AS (
      SELECT {_FS_SCORE_DUCK} AS score
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_mktsegment = b.c_mktsegment
       AND {_FSB_BAND_A} = {_FSB_BAND_B}
       AND a.c_custkey < b.c_custkey
    )
    SELECT score, CAST(count(*) AS BIGINT) AS n_pairs,
           CASE WHEN score >= {_FS_MATCH} THEN 'match'
                WHEN score >= {_FS_POSSIBLE} THEN 'possible'
                ELSE 'non-match' END AS verdict
    FROM pairs GROUP BY score
    """,
)
def q_fellegi_blocked(spark, sf_dir):
    """q_fellegi_sunter's ESCAPE HATCH — measured, not hypothetical:
    the coarse (nation × segment) blocking scales pairs as |C|²/250,
    measured **97.4× at sf1 vs sf0.1** (103.7 s — the BENCH_SF1 cliff
    this query exists to cut). Adding the $1000 acctbal band to the
    block key divides every block ~11 ways: measured **20.8 s at sf1,
    ratio 12.6×** — 5× absolute and 7.7× in growth. Honest asymptotics:
    ANY fixed-cardinality block key leaves pair growth quadratic in
    |C| with a smaller constant; the documented ladder past this rung
    is (a) a high-cardinality key (name-suffix digits, u ≈ 10⁻³ —
    1000× fewer pairs, same shape), then (b) blocking whose key COUNT
    grows with the data — sorted-neighborhood windows or LSH blocks —
    which is where the repo's banded-minhash machinery (dedup.py)
    takes over as the candidate generator with FS as the scorer.

    Scoring keeps ALL FOUR fields — the band field trivially agrees
    inside a fine block (a constant +2000) — so scores remain on the
    coarse query's scale and the containment is exact: this query's
    match set == the coarse match set restricted to band-agreeing
    pairs. The retained-match fraction (the linkage 'recall' this
    trade costs — only pairs whose acctbal bands differ are lost, and
    those already carried the band disagreement penalty) is pinned in
    pytest against the coarse baseline at sf0.01."""
    cust = load_table(spark, sf_dir, "customer")
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
    pairs = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (band_a == band_b)
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(score.alias("score"))
    )
    return (
        pairs.groupBy("score")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "score",
            "n_pairs",
            F.when(F.col("score") >= _FS_MATCH, "match")
            .when(F.col("score") >= _FS_POSSIBLE, "possible")
            .otherwise("non-match")
            .alias("verdict"),
        )
    )
