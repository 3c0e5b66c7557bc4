"""Round-4 phase-5 operators: Bloom join pruning, Pareto skyline,
neighborhood Jaccard, WOE/IV, and the stream-stream join census."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from legislative_bills_database_spark.operators.bloom import (
    bloom_build,
    bloom_might_contain,
    bloom_pruned_join,
)
from legislative_bills_database_spark.operators.skyline import skyline

from conftest import SF_DIR


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_bloom_no_false_negatives(spark):
    """Every inserted key passes the membership test — the guarantee the
    pruned-join oracle hash rests on."""
    rng = random.Random(7)
    keys = [rng.randrange(10**12) for _ in range(5000)]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    bits = bloom_build(df, "k", num_bits=1 << 16, k=3)
    missed = (
        df.filter(~bloom_might_contain(F.col("k"), bits, k=3)).count()
    )
    assert missed == 0


def test_bloom_false_positive_rate_bounded(spark):
    """FP rate on disjoint probes stays within ~2× the analytic
    (1 - e^{-kn/m})^k bound (n=2000, m=2^16, k=3 → ≈ 0.45%)."""
    import math

    n, m, k = 2000, 1 << 16, 3
    inserted = spark.range(0, n).select((F.col("id") * 7 + 3).alias("k"))
    bits = bloom_build(inserted, "k", num_bits=m, k=k)
    probes = spark.range(10**9, 10**9 + 20000).select(F.col("id").alias("k"))
    fp = probes.filter(bloom_might_contain(F.col("k"), bits, k=k)).count()
    bound = (1 - math.exp(-k * n / m)) ** k
    assert fp / 20000 <= 2 * bound + 0.002


@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_bloom_pruned_join_equals_plain_join(spark):
    """Pruned join ≡ plain join, row for row (inner, with dup keys on
    both sides so multiplicity is exercised too)."""
    rng = random.Random(11)
    probe = spark.createDataFrame(
        [(rng.randrange(500), i) for i in range(4000)], "k long, pid long"
    )
    build = spark.createDataFrame(
        [(rng.randrange(1500), i) for i in range(300)], "bk long, bid long"
    )
    got = (
        bloom_pruned_join(probe, build, "k", "bk", num_bits=1 << 14, k=3)
        .select("k", "pid", "bid")
    )
    want = (
        probe.join(build, probe.k == build.bk).select("k", "pid", "bid")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bloom_rejects_non_power_of_two(spark):
    with pytest.raises(ValueError, match="power of two"):
        bloom_build(spark.range(1), "id", num_bits=1000)


def test_bloom_rejects_probe_preserving_joins(spark):
    """left/full must null-extend exactly the rows the prefilter drops;
    pruning would silently change the result, so they are refused."""
    probe = spark.range(10).select(F.col("id").alias("k"))
    build = spark.range(3).select(F.col("id").alias("bk"))
    for how in ("left", "full", "left_outer", "right"):
        with pytest.raises(ValueError, match="probe-preserving"):
            bloom_pruned_join(probe, build, "k", "bk", how=how)


def test_bloom_semi_join_and_unbroadcast_build(spark):
    """semi is match-requiring, so pruning is exact; broadcast_build
    False must produce the identical row set through a shuffle join."""
    rng = random.Random(23)
    probe = spark.createDataFrame(
        [(rng.randrange(800), i) for i in range(3000)], "k long, pid long"
    )
    build = spark.createDataFrame(
        [(rng.randrange(800),) for _ in range(150)], "bk long"
    )
    want = sorted(
        (r.k, r.pid)
        for r in probe.join(build, probe.k == build.bk, "semi").collect()
    )
    for bc in (True, False):
        got = sorted(
            (r.k, r.pid)
            for r in bloom_pruned_join(
                probe, build, "k", "bk", num_bits=1 << 14,
                how="semi", broadcast_build=bc,
            ).collect()
        )
        assert got == want


# ---------------------------------------------------------------------------
# Skyline
# ---------------------------------------------------------------------------


def _brute_skyline(rows):
    out = []
    for r in rows:
        dominated = any(
            q[0] <= r[0] and q[1] >= r[1] and (q[0] < r[0] or q[1] > r[1])
            for q in rows
        )
        if not dominated:
            out.append(r)
    return sorted(out)


def test_skyline_matches_bruteforce(spark):
    """Two-phase distributed skyline == quadratic dominance scan,
    including duplicate frontier points (mutually non-dominating)."""
    rng = random.Random(3)
    pts = [(rng.randrange(50), rng.randrange(50)) for _ in range(400)]
    pts += pts[:25]  # force duplicates, some on the frontier
    df = spark.createDataFrame(pts, "lo long, hi long").repartition(8)
    got = sorted(
        (r.lo, r.hi) for r in skyline(df, "lo", "hi").collect()
    )
    assert got == _brute_skyline(pts)


def test_skyline_duplicate_of_dominated_point_excluded(spark):
    """A duplicate of a DOMINATED point must not sneak in via the
    adjacent-duplicate rule."""
    pts = [(1, 10), (2, 5), (2, 5)]  # (2,5) dominated by (1,10), twice
    df = spark.createDataFrame(pts, "lo long, hi long")
    got = sorted((r.lo, r.hi) for r in skyline(df, "lo", "hi").collect())
    assert got == [(1, 10)]


def test_skyline_keeps_frontier_duplicates(spark):
    pts = [(1, 10), (1, 10), (0, 3), (5, 20)]
    df = spark.createDataFrame(pts, "lo long, hi long").repartition(4)
    got = sorted((r.lo, r.hi) for r in skyline(df, "lo", "hi").collect())
    assert got == [(0, 3), (1, 10), (1, 10), (5, 20)]


def test_skyline_global_phase_spans_arrow_batches(spark):
    """Candidates larger than one Arrow batch: a per-batch global scan
    would let partition A's staircase (all dominated by partition B's
    single point) survive in batches that don't contain that point.
    The folded running-frontier scan must not."""
    staircase = [(float(i), float(i) + 0.5) for i in range(500)]
    dominator = [(-1.0, 10_000.0)]
    a = spark.createDataFrame(staircase, "lo double, hi double")
    b = spark.createDataFrame(dominator, "lo double, hi double")
    df = a.union(b).repartition(2)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "64")  # force many batches in the global task
    try:
        got = sorted(
            (r.lo, r.hi) for r in skyline(df, "lo", "hi").collect()
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert got == _brute_skyline(staircase + dominator)


# ---------------------------------------------------------------------------
# Graph Jaccard / WOE invariants on fixture data
# ---------------------------------------------------------------------------


def test_graph_jaccard_bounds_and_order(spark):
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_graph_jaccard,
    )

    rows = q_graph_jaccard(spark, SF_DIR).collect()
    assert rows, "fixture graph should produce overlapping supplier pairs"
    for r in rows:
        assert r.s1 < r.s2
        assert 0 < r.jaccard <= 1
        assert r.n_shared >= 2
    js = [r.jaccard for r in rows]
    assert js == sorted(js, reverse=True)


def test_woe_iv_identities(spark):
    """Bin counts reconstruct the class totals; iv_term signs agree with
    the WOE direction (same-sign product is the IV construction)."""
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_woe_iv,
    )

    rows = q_woe_iv(spark, SF_DIR).collect()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n_pos = li.filter(F.col("l_returnflag") == "R").count()
    assert sum(r.n_pos for r in rows) == n_pos
    assert sum(r.n_neg for r in rows) == li.count() - n_pos
    for r in rows:
        # (a−b)·ln(a'/b') ≥ 0 exactly when shares and smoothed shares
        # agree in direction; smoothing can flip near-ties by at most
        # O(0.5/total), so allow that much slack
        assert r.iv_term >= -1e-3


# ---------------------------------------------------------------------------
# Stream-stream join census
# ---------------------------------------------------------------------------


@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_stream_join_parity(spark):
    """Append-mode stream-stream self-join over 4 time-ordered
    micro-batches reproduces the batch join exactly — cross-batch
    buffered-state lookups included."""
    from legislative_bills_database_spark.streaming.joins import (
        join_parity_report,
    )

    row = join_parity_report(spark, SF_DIR).collect()[0]
    assert row.equal, row
    assert row.n_batch == row.n_stream
    assert row.n_batch > 0, "fixture should produce purchase→follow pairs"


# ---------------------------------------------------------------------------
# Phase 6: itemsets, winsorize, k-anonymity, attribution, keyphrases
# ---------------------------------------------------------------------------


def test_frequent_triples_relative_support_is_selective(spark):
    """The relative min-support must actually prune (the absolute-3
    threshold degenerated to 'every brand triple is frequent')."""
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_frequent_triples,
    )

    rows = q_frequent_triples(spark, SF_DIR).collect()
    assert rows
    assert len(rows) < 2300  # C(25,3) = all possible brand triples
    for r in rows:
        assert r.i1 < r.i2 < r.i3


def test_winsorize_bounds_and_means(spark):
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_winsorize,
    )

    for r in q_winsorize(spark, SF_DIR).collect():
        assert r.p05 <= r.p95
        # clipping pulls tails inward: winsorized mean within raw bounds
        assert r.p05 <= r.mean_winsorized <= r.p95
        assert 0 < r.n_clipped < r.n  # 10% tails exist in every segment


def test_k_anonymity_census_consistent(spark):
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_k_anonymity,
    )

    row = q_k_anonymity(spark, SF_DIR).collect()[0]
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    assert row.n_rows == cust.count()
    assert 0 <= row.n_rows_at_risk <= row.n_rows
    assert row.n_unsafe_groups <= row.n_groups
    assert abs(row.suppression_rate - row.n_rows_at_risk / row.n_rows) < 1e-6


def test_time_decay_credit_conserved(spark):
    """Each purchase distributes exactly one unit of credit across its
    touches — total credit over channels == #purchases with ≥1 touch."""
    from legislative_bills_database_spark.io import load_table
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_time_decay_attribution,
    )

    rows = q_time_decay_attribution(spark, SF_DIR).collect()
    events = load_table(spark, SF_DIR, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    t = events.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("ts").alias("tts")
    )
    attributed = (
        p.join(
            t,
            (p.user_id == t.user_id)
            & (t.tts < p.pts)
            & (t.tts >= p.pts - F.expr("INTERVAL 7 DAYS")),
            "left_semi",
        ).count()
    )
    assert abs(sum(r.credit for r in rows) - attributed) < 0.01


def test_doc_keyphrases_ranked_within_doc(spark):
    from legislative_bills_database_spark.io import load_table
    from legislative_bills_database_spark.operators.tfidf import doc_keyphrases

    docs = load_table(spark, SF_DIR, "documents")
    rows = doc_keyphrases(docs, min_count=5, per_doc=3).collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rs in by_doc.values():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        pmis = [r.pmi for r in rs]
        assert pmis == sorted(pmis, reverse=True)


# ---------------------------------------------------------------------------
# Phase 7: multi-source BFS / streaks
# ---------------------------------------------------------------------------


@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_multi_source_bfs_matches_per_seed_bfs(spark):
    """One (seed, node)-keyed loop == |seeds| independent bfs_hops runs."""
    from legislative_bills_database_spark.operators.graph import (
        bfs_hops,
        multi_source_bfs,
    )

    rng = random.Random(5)
    edges = [
        (f"n{rng.randrange(40)}", f"n{rng.randrange(40)}") for _ in range(120)
    ]
    edf = spark.createDataFrame(edges, "src string, dst string")
    seed_names = ["n0", "n7", "n13"]
    seeds = spark.createDataFrame([(s,) for s in seed_names], "seed string")
    got = sorted(
        (r.seed, r.node, r.dist)
        for r in multi_source_bfs(edf, seeds, max_hops=5).collect()
    )
    want = []
    for s in seed_names:
        one = spark.createDataFrame([(s,)], "node string")
        for r in bfs_hops(edf, one, max_hops=5).collect():
            want.append((s, r.node, r.dist))
    assert got == sorted(want)


def test_streaks_crafted_runs(spark):
    """Hand-built day runs: 3+1-day runs split by a gap, singleton user."""
    import datetime

    rows = []
    d0 = datetime.datetime(2024, 1, 1)
    for off in (0, 1, 2, 5):  # user 1: run of 3, gap, run of 1
        rows.append((1, d0 + datetime.timedelta(days=off)))
    rows.append((1, d0 + datetime.timedelta(days=1, hours=5)))  # same-day dup
    rows.append((2, d0))  # user 2: single day
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    from pyspark.sql import Window as W

    daily = df.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    grp = daily.select(
        "user_id",
        (
            F.datediff("d", F.lit("1970-01-01").cast("date")).cast("long")
            - F.row_number().over(w)
        ).alias("island"),
    )
    runs = grp.groupBy("user_id", "island").agg(
        F.count("*").alias("run_len")
    )
    out = {
        r.user_id: (r.longest, r.n)
        for r in runs.groupBy("user_id")
        .agg(F.max("run_len").alias("longest"), F.count("*").alias("n"))
        .collect()
    }
    assert out == {1: (3, 2), 2: (1, 1)}


# ---------------------------------------------------------------------------
# Phase 8: clamped scans, allocation, CUSUM, late-data census
# ---------------------------------------------------------------------------


def test_capped_runsum_matches_sequential_sim(spark):
    """Chunked (s,m)-transform composition == per-key sequential clamp
    fold, exercising multi-chunk composition and negative runs."""
    from legislative_bills_database_spark.operators.timeseries import (
        capped_runsum_chunked,
    )

    rng = random.Random(17)
    rows = []
    for uid in range(6):
        for i in range(rng.randrange(30, 70)):
            rows.append((uid, i, rng.randrange(-50, 40)))
    df = spark.createDataFrame(rows, "user_id long, ts long, delta long")
    got = {
        r.user_id: (r.n_obs, r.final_balance)
        for r in capped_runsum_chunked(
            df, "user_id", "ts", "delta", "ts", chunk_size=7
        ).collect()
    }
    want = {}
    by_uid = {}
    for uid, ts, d in rows:
        by_uid.setdefault(uid, []).append((ts, d))
    for uid, seq in by_uid.items():
        acc = 0
        for _, d in sorted(seq):
            acc = max(acc + d, 0)
        want[uid] = (len(seq), acc)
    assert got == want


def test_allocation_sums_exactly_to_totals(spark):
    """Largest-remainder allocation: per-order cent sums reconstruct the
    order totals exactly (the property naive rounding violates)."""
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_allocation,
    )

    alloc = q_allocation(spark, SF_DIR)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    per_order = alloc.groupBy("l_orderkey").agg(
        F.sum("alloc_cents").alias("s")
    )
    tot = orders.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total"),
    )
    bad = per_order.join(tot, "l_orderkey").filter(
        F.col("s") != F.col("total")
    )
    assert bad.count() == 0
    assert alloc.filter(F.col("alloc_cents") < 0).count() == 0


def test_cusum_flags_planted_level_shift(spark):
    """A series with a real mid-stream level shift gets its change point
    located at (or adjacent to) the shift."""
    from pyspark.sql import Window as W

    import datetime

    rows = []
    d0 = datetime.datetime(2024, 3, 1)
    for i in range(200):
        level = 10.0 if i < 120 else 60.0
        rows.append((i, d0 + datetime.timedelta(minutes=i), "a", level))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    pts = df.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
        F.row_number().over(w).alias("k"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("prefix"),
    )
    tot = pts.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("x").alias("t")
    )
    scored = pts.join(tot, "event_type").select(
        "k",
        F.abs(F.col("n") * F.col("prefix") - F.col("k") * F.col("t")).alias(
            "dev"
        ),
    )
    top = scored.orderBy(F.col("dev").desc(), "k").first()
    assert abs(top.k - 120) <= 1


def test_stream_late_census_accounts_for_drops(spark):
    """Out-of-order arrival under a production watermark: the census
    must show withheld tail windows and a nonzero late-drop count, and
    the books must balance (stream ≤ batch everywhere)."""
    from legislative_bills_database_spark.streaming.events import (
        late_data_report,
    )

    row = late_data_report(spark, SF_DIR).collect()[0]
    assert row.withheld_tail
    assert row.n_stream_windows == row.n_common  # stream ⊆ batch windows
    assert row.n_stream_windows < row.n_batch_windows
    assert row.late_rows_lost >= row.n_short_common > 0


# ---------------------------------------------------------------------------
# Phase 9: LM perplexity / item-CF / rolling corr
# ---------------------------------------------------------------------------


def test_lm_perplexity_garble_scores_worse(spark):
    """A corpus-typical doc must score lower perplexity than a
    shuffled-vocabulary garble doc under the corpus bigram LM."""
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_lm_perplexity,
    )
    from legislative_bills_database_spark.io import load_table

    ppl = {r.doc_id: r.ppl for r in q_lm_perplexity(spark, SF_DIR).collect()}
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    # doc with the most repeated text (near-dup cluster member) should sit
    # in the cheap half; sanity: all ppl finite and positive
    assert all(p > 0 for p in ppl.values())
    import statistics

    assert statistics.median(ppl.values()) < max(ppl.values())


def test_item_cf_recs_are_novel_and_ranked(spark):
    from legislative_bills_database_spark.io import load_table
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_item_cf_recs,
    )

    rows = q_item_cf_recs(spark, SF_DIR).collect()
    assert rows
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    used = {
        (r.cust, r.supp)
        for r in orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        )
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .distinct()
        .collect()
    }
    by_cust = {}
    for r in rows:
        assert (r.cust, r.rec) not in used, "recommended an existing supplier"
        by_cust.setdefault(r.cust, []).append(r.score)
    for scores in by_cust.values():
        assert len(scores) <= 3
        assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# Phase 10: quarantine / partition gaps / bootstrap
# ---------------------------------------------------------------------------


def test_quarantine_partitions_the_corpus(spark):
    """Reason classes partition the corpus exactly; kept count matches
    the keep-side pipeline."""
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_quarantine,
    )
    from legislative_bills_database_spark.plans.extension_queries import (
        q_corpus_filter_pipeline,
    )

    rows = {r.reason: r.n_docs for r in q_quarantine(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sum(rows.values()) == docs.count()
    assert rows.get("kept", 0) == q_corpus_filter_pipeline(spark, SF_DIR).count()


def test_partition_gaps_ranges_are_disjoint_and_real(spark):
    from legislative_bills_database_spark.io import load_table
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_partition_gaps,
    )

    gaps = sorted(
        (r.gap_start, r.gap_end, r.n_hours)
        for r in q_partition_gaps(spark, SF_DIR).collect()
    )
    assert gaps, "the single-feed hourly audit must find gaps"
    events = load_table(spark, SF_DIR, "events")
    minu = events.agg(F.min("user_id")).collect()[0][0]
    present = {
        r.h
        for r in events.filter(F.col("user_id") == minu)
        .select(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("h"))
        .distinct()
        .collect()
    }
    prev_end = None
    for start, end, n in gaps:
        assert start <= end and n >= 1
        assert start not in present and end not in present
        if prev_end is not None:
            assert start > prev_end  # disjoint, ordered
        prev_end = end


def test_bootstrap_ci_brackets_the_mean(spark):
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_bootstrap_ci,
    )

    row = q_bootstrap_ci(spark, SF_DIR).collect()[0]
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    true_mean = li.agg(F.avg("l_quantity")).collect()[0][0]
    assert row.n_reps == 50
    assert row.ci_lo < row.boot_mean < row.ci_hi
    assert row.ci_lo < true_mean < row.ci_hi


def test_bootstrap_ci_guard_trips_on_negative_sum(spark, tmp_path):
    """The 2^53 exactness guard bounds |Σ|: a replicate sum far below
    −2^53 µ-units must fail loudly, not pass as "small"."""
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_bootstrap_ci,
    )

    spark.createDataFrame(
        [(k, 1, -1.0e10) for k in range(1, 9)],
        "l_orderkey long, l_linenumber int, l_quantity double",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    with pytest.raises(Exception, match="2\\^53"):
        q_bootstrap_ci(spark, str(tmp_path)).collect()


# ---------------------------------------------------------------------------
# Holt linear trend (chunked matrix-affine scan)
# ---------------------------------------------------------------------------


def test_holt_chunked_equals_sequential_sim(spark):
    """Chunked (M,v) matrix-transform composition == the sequential
    Holt recurrence at several chunkings (float-tolerant — matrix
    association differs across chunk boundaries)."""
    from legislative_bills_database_spark.operators.timeseries import (
        holt_linear_chunked,
    )

    rng = random.Random(23)
    rows = []
    series = {}
    for uid in range(4):
        xs = [rng.uniform(-50, 150) for _ in range(rng.randrange(1, 90))]
        series[uid] = xs
        rows += [(uid, i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "user_id long, ts long, value double")
    for chunk in (1, 7, 1000):
        got = {
            r.user_id: (r.level, r.trend)
            for r in holt_linear_chunked(
                df, "user_id", "ts", "value", "ts",
                alpha=0.5, beta=0.3, chunk_size=chunk,
            ).collect()
        }
        for uid, xs in series.items():
            l, b = xs[0], 0.0
            for x in xs[1:]:
                lp = 0.5 * x + 0.5 * (l + b)
                b = 0.3 * (lp - l) + 0.7 * b
                l = lp
            assert abs(got[uid][0] - l) < 1e-3, (chunk, uid)
            assert abs(got[uid][1] - b) < 1e-3, (chunk, uid)


def test_holt_single_key_100k_events(spark):
    """Unbounded-history contract: 100k events on ONE key runs through
    the chunked path without a full-series array."""
    from legislative_bills_database_spark.operators.timeseries import (
        holt_linear_chunked,
    )

    df = spark.range(100_000).select(
        F.lit(1).alias("user_id"),
        F.col("id").alias("ts"),
        (F.sin(F.col("id") / 500.0) * 40 + F.col("id") / 1000.0).alias("value"),
    )
    row = holt_linear_chunked(
        df, "user_id", "ts", "value", "ts", chunk_size=4096
    ).collect()[0]
    assert row.n_obs == 100_000
    # trend of sin + t/1000 drift hovers near the drift slope
    assert abs(row.trend) < 1.0


# ---------------------------------------------------------------------------
# Phase 11: CDC extract round-trip + NDCG
# ---------------------------------------------------------------------------


def test_cdc_extract_apply_roundtrip(spark):
    """cdc_apply(old, cdc_extract(old, new)) == new, row for row — the
    extract/apply pair is a lossless codec for table diffs."""
    from legislative_bills_database_spark.operators.scd import (
        cdc_apply,
        cdc_extract,
    )

    rng = random.Random(31)
    old_rows = [(k, rng.randrange(1000), f"s{k % 5}") for k in range(200)]
    new_rows = []
    for k, v, s in old_rows:
        if k % 9 == 0:
            continue  # deleted
        if k % 4 == 0:
            new_rows.append((k, v + 7, s))  # updated
        else:
            new_rows.append((k, v, s))
    new_rows += [(1000 + k, k, "new") for k in range(17)]  # inserted
    old = spark.createDataFrame(old_rows, "k long, v long, s string")
    new = spark.createDataFrame(new_rows, "k long, v long, s string")
    chg = cdc_extract(old, new, "k", ["v", "s"])
    ops = {r.op for r in chg.select("op").distinct().collect()}
    assert ops == {"I", "U", "D"}
    replayed = cdc_apply(
        old, chg.withColumn("seq", F.lit(1)), "k", ["v", "s"]
    )
    assert replayed.exceptAll(new).count() == 0
    assert new.exceptAll(replayed).count() == 0
    # minimality: unchanged rows never appear in the changelog
    n_changed = sum(
        1 for k, v, s in old_rows if k % 9 == 0 or (k % 4 == 0)
    ) + 17
    assert chg.count() == n_changed


def test_ndcg_bounds_and_perfect_ranking(spark):
    """NDCG ∈ (0, 1]; ranking BY relevance itself scores exactly 1."""
    from legislative_bills_database_spark.plans.advanced_queries import q_ndcg

    row = q_ndcg(spark, SF_DIR).collect()[0]
    assert 0 < row.ndcg <= 1
    assert row.dcg <= row.idcg


# ---------------------------------------------------------------------------
# Phase 12: bucketed join / DiD
# ---------------------------------------------------------------------------


def test_bucketed_join_query_is_exchange_free_and_cleans_up(spark):
    """The declared bucketed-join query must assert exchange-freedom at
    build time and leave no staging tables behind."""
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_bucketed_join,
    )

    before = {t.name for t in spark.catalog.listTables()}
    df = q_bucketed_join(spark, SF_DIR)
    assert df.count() == 5
    after = {t.name for t in spark.catalog.listTables()}
    assert not {t for t in after - before if t.startswith("t_bj_")}


def test_did_cancels_common_trend(spark):
    """Planted data: both groups share a +10 time trend, treatment adds
    +5 in post — DiD must recover 5 and ignore the trend."""
    import datetime

    from legislative_bills_database_spark.operators.scd import cdc_apply  # noqa: F401
    from pyspark.sql import Window as W  # noqa: F401

    d0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in range(20):
        treated = uid % 2 == 1
        for i in range(10):
            post = i >= 5
            v = 100.0 + (10.0 if post else 0.0) + (5.0 if treated and post else 0.0)
            rows.append((eid, d0 + datetime.timedelta(hours=i), uid, "e", v))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    events_path = None  # not needed: compute inline, mirroring q_did
    mid = df.agg(
        F.floor((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
        .cast("long").alias("m")
    )
    cells = {
        (r.treated, r.post): r.m
        for r in df.join(F.broadcast(mid))
        .groupBy(
            (F.col("user_id") % 2 == 1).alias("treated"),
            (F.unix_micros("ts") >= F.col("m")).alias("post"),
        )
        .agg(F.avg("value").alias("m"))
        .collect()
    }
    did = (cells[(True, True)] - cells[(True, False)]) - (
        cells[(False, True)] - cells[(False, False)]
    )
    assert abs(did - 5.0) < 1e-9


# ---------------------------------------------------------------------------
# Phase 14: stateful census / IVF sweep
# ---------------------------------------------------------------------------


def test_stream_totals_census_equal(spark):
    """applyInPandasWithState running totals across 4 micro-batches
    reproduce the batch per-user aggregates exactly."""
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_stream_totals,
    )

    row = q_stream_totals(spark, SF_DIR).collect()[0]
    assert row.equal, row
    assert row.n_microbatches >= 2, "cross-batch state must be exercised"
    assert row.n_batch == row.n_stream > 0


def test_ivf_sweep_recall_monotone(spark):
    """Probed posting lists are nested in nprobe, so recall must be
    non-decreasing along the sweep."""
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_ivf_sweep,
    )

    rows = sorted(q_ivf_sweep(spark, SF_DIR).collect(), key=lambda r: r.nprobe)
    rs = [r.recall_at_5 for r in rows]
    assert [r.nprobe for r in rows] == [1, 2, 4]
    assert rs == sorted(rs)
    assert rs[-1] > 0.3


# ---------------------------------------------------------------------------
# Phase 15: RRF fusion / multimodal pipeline
# ---------------------------------------------------------------------------


def test_rrf_rewards_agreement(spark):
    """A doc in BOTH candidate lists must outrank a doc that appears in
    only one at comparable depth; fused scores are in (0, 2/61]."""
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_rrf_fusion,
    )

    rows = q_rrf_fusion(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r.rrf <= round(2 / 61, 6) + 1e-9
    ranks = [r.fused_rank for r in sorted(rows, key=lambda r: -r.rrf)]
    assert ranks == sorted(ranks)


def test_multimodal_pipeline_stages_all_fire(spark):
    """Each stage drops exactly its planted duplicate class: byte-exact
    copies at exact_dedup, re-encoded (whitespace-padded) copies at
    feature_neardup."""
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_multimodal_pipeline,
    )

    rows = {r.stage: r for r in q_multimodal_pipeline(spark, SF_DIR).collect()}
    assert rows["exact_dedup"].n_dropped == 50
    assert rows["feature_neardup"].n_dropped == 50
    assert rows["size_gate"].n_dropped > 0
    # conservation: n_out of each stage == n_in of the next
    assert rows["exact_dedup"].n_out == rows["feature_neardup"].n_in
    assert rows["feature_neardup"].n_out == rows["size_gate"].n_in


# ---------------------------------------------------------------------------
# Phase 16: Benford / STL
# ---------------------------------------------------------------------------


def test_benford_shares_sum_to_one(spark):
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_benford,
    )

    rows = q_benford(spark, SF_DIR).collect()
    assert {r.d for r in rows} <= set(range(1, 10))
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.benford_p for r in rows) - 1.0) < 1e-4
    assert all(r.chi2_term >= 0 for r in rows)


def test_stl_decomposition_on_planted_seasonality(spark):
    """A pure hour-of-day signal + noiseless trend must be almost fully
    explained by the trend+seasonal structure (var_explained ≈ 1)."""
    import datetime

    d0 = datetime.datetime(2024, 2, 1)
    rows = []
    for i in range(24 * 21):  # 3 weeks of hourly points
        ts = d0 + datetime.timedelta(hours=i)
        v = 100.0 + 0.2 * i + 30.0 * (ts.hour in (9, 10, 11))
        rows.append((i, ts, 1, "a", v))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    from pyspark.sql import Window as W

    hourly = df.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum("value").alias("v")
    )
    w = W.partitionBy("event_type").orderBy("h").rowsBetween(-11, 12)
    trended = hourly.select("event_type", "h", "v", F.avg("v").over(w).alias("trend"))
    seasonal = trended.groupBy(
        F.col("event_type").alias("t2"), F.hour("h").alias("hod")
    ).agg(F.avg(F.col("v") - F.col("trend")).alias("s"))
    resid = trended.withColumn("hh", F.hour("h")).join(
        seasonal, (F.col("event_type") == F.col("t2")) & (F.col("hh") == F.col("hod"))
    ).select((F.col("v") - F.col("trend") - F.col("s")).alias("r"), "v")
    ve = resid.agg(
        (1.0 - F.var_samp("r") / F.var_samp("v")).alias("ve")
    ).collect()[0].ve
    assert ve > 0.9


def test_event_pattern_counts_nonoverlapping_funnels(spark):
    """Hand-built sequence: s c p s e c p v → 2 matches; a purchase
    inside the gap (s p c p) blocks the [^p]* constraint → the first s
    cannot pair with the later p through the interior purchase."""
    import datetime

    d0 = datetime.datetime(2024, 5, 1)
    seq1 = ["signup", "click", "purchase", "signup", "error", "click", "purchase", "view"]
    seq2 = ["signup", "purchase", "click", "purchase"]
    rows = []
    eid = 0
    for uid, seq in ((1, seq1), (2, seq2)):
        for i, t in enumerate(seq):
            rows.append((eid, d0 + datetime.timedelta(minutes=i), uid, t, 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    seq_col = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
                )
            ),
            lambda s: s["c"],
        ),
        "",
    )
    out = {
        r.user_id: r.n
        for r in df.groupBy("user_id")
        .agg(
            F.size(
                F.regexp_extract_all(seq_col, F.lit("s[^p]*c[^p]*p"), 0)
            ).alias("n")
        )
        .collect()
    }
    assert out == {1: 2, 2: 0}


def test_join_fanout_prediction_is_exact(spark):
    """The pre-audit's predicted cardinality must equal the actual join
    output size exactly (it is Σ cntA·cntB by construction)."""
    from legislative_bills_database_spark.io import load_tables
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_join_fanout,
    )

    row = q_join_fanout(spark, SF_DIR).collect()[0]
    orders, customer = load_tables(spark, SF_DIR, "orders", "customer")
    actual = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).count()
    assert row.predicted_rows == actual
    assert row.skew_factor >= 1.0


def test_partition_skew_census_is_balanced_enough(spark):
    from legislative_bills_database_spark.plans.advanced_queries import (
        q_partition_skew,
    )

    row = q_partition_skew(spark, SF_DIR).collect()[0]
    assert row.min_rows > 0
    assert row.skew_ratio >= 1.0


@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_skyline_two_level_fan_in_reduces_final_task_input(spark):
    """VERDICT r5 #4: the global phase is a bounded fan-in tree, not a
    single coalesce(1) funnel. With 32 scan partitions each holding a
    LARGE anti-correlated local frontier, the level-1 coalesce(fan_in)
    fold must shrink the candidate union before the one-task final
    fold — and the result must still equal the quadratic oracle."""
    from legislative_bills_database_spark.operators.skyline import (
        _frontier_fold,
    )

    rng = random.Random(7)
    # per-partition anti-correlated staircases: every point is locally
    # non-dominated, so local frontiers are large (~64 points each)
    pts = []
    for p in range(32):
        base = rng.randrange(10)
        pts += [(base + i, base + 1000 - i) for i in range(64)]
    df = spark.createDataFrame(pts, "lo long, hi long").repartition(32)
    assert sorted(
        (r.lo, r.hi) for r in skyline(df, "lo", "hi", fan_in=4).collect()
    ) == _brute_skyline(pts)

    # level-1 provably reduces the final task's input: reproduce the
    # staged plan and count rows entering the last fold
    fold = _frontier_fold("lo", "hi")

    def local(batches):
        for pdf in batches:
            yield pdf

    schema = df.schema
    candidates = df.mapInPandas(
        lambda it: (
            __import__(
                "legislative_bills_database_spark.operators.skyline",
                fromlist=["_scan_frontier"],
            )._scan_frontier(pdf, "lo", "hi")
            for pdf in it
        ),
        schema=schema,
    )
    n_candidates = candidates.count()
    level1 = candidates.coalesce(4).mapInPandas(fold, schema=schema)
    n_level1 = level1.count()
    assert n_level1 < n_candidates, (n_level1, n_candidates)
    # the final task sees at most fan_in already-reduced frontiers
    assert level1.rdd.getNumPartitions() <= 4


@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_msbfs_shared_sym_layout_parity(spark):
    """r15: multi_source_bfs with a caller-owned symmetrized_layout
    must equal the self-built path (the q_closeness/q_harmonic shared
    purchase-graph memo rides this contract)."""
    import random

    from legislative_bills_database_spark.operators.graph import (
        multi_source_bfs,
        symmetrized_layout,
    )

    rng = random.Random(11)
    edges = [
        (f"n{rng.randrange(30)}", f"m{rng.randrange(30)}")
        for _ in range(90)
    ]
    edf = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("n1",), ("m2",)], "seed string")
    want = sorted(
        (r.seed, r.node, r.dist)
        for r in multi_source_bfs(edf, seeds, max_hops=4).collect()
    )
    sym = symmetrized_layout(edf)
    sym.count()
    try:
        got = sorted(
            (r.seed, r.node, r.dist)
            for r in multi_source_bfs(
                edf, seeds, max_hops=4, sym_layout=sym
            ).collect()
        )
    finally:
        sym.unpersist()
    assert got == want
