"""Streaming joins: stream-stream correlation with watermark-bounded
state.

Correlating two live streams (click ↔ conversion, request ↔ response) is
the join shape every event pipeline needs beyond windowed aggregation
(events.py); a stream-static lookup is a plain ``events.join(dim, key)``
and needs no helper. Spark buffers BOTH sides in state until the
watermark says a match can no longer arrive; an explicit time-range
predicate is what lets the engine EVICT — an equi-join alone would grow
state forever. State size ≈ rate × join-window, independent of stream
lifetime: the property that makes this run for months at 100 TB/day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .census import StreamCensus


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Stream-stream inner join: match right-events to left-events with
    the same ``key`` arriving within ``[left_ts, left_ts + within]``.

    Both sides carry a watermark and the join predicate includes the
    time range — the two ingredients state eviction requires (without
    them Spark must keep every row forever waiting for a future match).
    Buffered state is bounded by ``watermark + within`` per side.
    """
    l_wm = left.withWatermark(left_ts, watermark).alias("l")
    r_wm = right.withWatermark(right_ts, watermark).alias("r")
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    return l_wm.join(
        r_wm,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rt >= lt)
        & (rt <= lt + F.expr(f"INTERVAL {within}")),
        "inner",
    )


def join_parity_report(spark, sf_dir: str):
    """Stream-stream self-join batch==stream census (``q_stream_join``).

    Purchase events join later same-user events within 30 minutes. The
    stream side is a genuine stream-stream join (two filtered branches
    of one file stream, both watermarked) run append-mode over 3
    time-ordered micro-batches — a purchase buffered in batch k's join
    state must still match a follower arriving in batch k+1, so the
    cross-batch state RETENTION path is what the census certifies (the
    aggregation censuses certify state *merge*; joins certify state
    *lookup*). Inner stream-stream joins emit on match, so with an
    effectively-unbounded watermark the append-mode result is exactly
    the batch join; eviction under a production watermark is pinned
    separately in tests/test_streaming.py (correlate_streams eviction).
    """
    from .events import _run_parity_census

    def mk(events):
        purchases = events.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        follows = events.filter(F.col("event_type") != "purchase").select(
            F.col("event_id").alias("f_id"),
            F.col("user_id").alias("f_user"),
            F.col("ts").alias("f_ts"),
        )
        return purchases, follows

    def joined(purchases, follows, watermarked: bool):
        if watermarked:
            # effectively-unbounded watermark: state never evicted, so
            # every cross-batch match is still findable — the census
            # measures retention/lookup correctness, not eviction policy
            purchases = purchases.withWatermark("p_ts", "876000 hours")
            follows = follows.withWatermark("f_ts", "876000 hours")
        cond = (
            (F.col("p_user") == F.col("f_user"))
            & (F.col("f_ts") > F.col("p_ts"))
            & (F.col("f_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 minutes"))
        )
        return (
            purchases.join(follows, cond, "inner")
            .select(
                "p_id",
                "f_id",
                F.col("p_user").alias("user_id"),
                (F.unix_micros("f_ts") - F.unix_micros("p_ts")).alias(
                    "delta_us"
                ),
            )
        )

    def stream(events):
        p, f = mk(events)
        return joined(p, f, watermarked=True)

    def batch(events):
        p, f = mk(events)
        return joined(p, f, watermarked=False)

    # deterministic 25% user slice, applied at LANDING so both sides read
    # the same smaller files: stream-stream join state buffers raw rows on
    # both sides (far heavier than aggregation state), and the census
    # certifies cross-batch state RETENTION, not throughput — the
    # full-volume run burned 45 s at sf0.1 for the same 1-row verdict
    return _run_parity_census(
        spark,
        sf_dir,
        stream,
        batch,
        "q_stream_join",
        output_mode="append",
        row_filter=F.col("user_id") % 4 == 0,
    )


def outer_join_report(spark, sf_dir: str):
    """Stream-stream LEFT OUTER join watermark-expiry census
    (``q_stream_outer_join``).

    The inner-join census (q_stream_join) certifies state retention;
    this one certifies the OTHER half of stream-stream join
    semantics, the half everyone trips over in production: a left row
    with no match emits its null row only after the watermark proves
    no match can still arrive — i.e. when p_ts + join_range falls
    below the global watermark — so an append-mode outer join is
    NEVER exactly the batch outer join while the stream is live. The
    census runs purchases LEFT OUTER follows (same-user, 30-minute
    range, 30-minute watermark both sides) over 3 time-ordered
    micro-batches and certifies the exact three-way decomposition:

    - matched rows: multiset-identical to the batch INNER join
      (matches emit on sight, watermark-independent);
    - null-emitted rows: a SUBSET of the batch outer join's unmatched
      lefts (never a phantom null for a matched row);
    - withheld rows (unmatched − null-emitted): ALL live in the
      expiry-horizon tail p_ts + range + watermark > max(ts) — the
      rows whose no-match proof the final watermark cannot yet give.

    Unlike the other censuses this one NEEDS availableNow's final
    no-data micro-batch (it advances the watermark past the last data
    batch and flushes expired left state — with it disabled the null
    side is vacuously empty), so it scopes only the shuffle width, not
    the whole of census.CENSUS_STREAM_CONFS.

    Returns ONE census row; all comparisons run distributed.
    """
    from ..io import load_table

    events = load_table(spark, sf_dir, "events")

    def split(ev):
        p = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        f = ev.filter(F.col("event_type") != "purchase").select(
            F.col("event_id").alias("f_id"),
            F.col("user_id").alias("f_user"),
            F.col("ts").alias("f_ts"),
        )
        return p, f

    cond = (
        (F.col("p_user") == F.col("f_user"))
        & (F.col("f_ts") > F.col("p_ts"))
        & (F.col("f_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 minutes"))
    )
    with StreamCensus(spark, "q_stream_outer_join") as census:
        # the three tertile files must arrive in event-time order: a
        # batch carrying the global max ts jumps the watermark and every
        # earlier row lands LATE (seen with unordered batches: 29-32/47
        # nulls, dropped matches)
        path, schema = census.land(
            events.select("event_id", "ts", "user_id", "event_type", "value")
            .filter(F.col("user_id") % 4 == 0)
            .repartitionByRange(3, "ts")
        )
        ps, fs = split(census.stream(path, schema))
        ps = ps.withWatermark("p_ts", "30 minutes")
        fs = fs.withWatermark("f_ts", "30 minutes")
        joined = ps.join(fs, cond, "left_outer").select(
            "p_id", "f_id", "p_user", "p_ts"
        )
        streamed, _ = census.run(
            joined, "append", {"spark.sql.shuffle.partitions": "8"}
        )
        streamed = streamed.localCheckpoint(eager=True)
        batch_ev = spark.read.schema(schema).json(path)
        pb, fb = split(batch_ev)
        bj = pb.join(fb, cond, "left_outer").select(
            "p_id", "f_id", "p_user", "p_ts"
        ).localCheckpoint(eager=True)

        # matched multiset parity (inner halves of both outer joins)
        sm = streamed.filter(F.col("f_id").isNotNull())
        bm = bj.filter(F.col("f_id").isNotNull())
        tagged = sm.withColumn("__s", F.lit(1)).unionByName(
            bm.withColumn("__s", F.lit(0))
        )
        match_row = (
            tagged.groupBy("p_id", "f_id")
            .agg(
                F.sum("__s").alias("ns"),
                F.sum(1 - F.col("__s")).alias("nb"),
            )
            .agg(
                F.coalesce(F.sum("nb"), F.lit(0)).alias("n_matched_batch"),
                F.coalesce(F.sum("ns"), F.lit(0)).alias(
                    "n_matched_stream"
                ),
                F.coalesce(
                    F.sum(F.abs(F.col("ns") - F.col("nb"))), F.lit(0)
                ).alias("n_matched_mismatch"),
            )
            .collect()[0]
        )
        # null decomposition
        horizon = batch_ev.agg(
            F.max("ts").alias("max_ts")
        )
        s_null = streamed.filter(F.col("f_id").isNull()).select("p_id")
        b_un = bj.filter(F.col("f_id").isNull()).select("p_id", "p_ts")
        null_row = (
            b_un.join(s_null.withColumn("emitted", F.lit(1)), "p_id", "left")
            .crossJoin(F.broadcast(horizon))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_unmatched_batch"),
                F.coalesce(
                    F.sum(F.coalesce("emitted", F.lit(0))), F.lit(0)
                )
                .cast("long")
                .alias("n_null_emitted"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("emitted").isNull()
                            & (
                                F.col("p_ts")
                                + F.expr("INTERVAL 60 minutes")
                                < F.col("max_ts")
                            ),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_withheld_outside_tail"),
            )
            .collect()[0]
        )
        n_phantom = (
            s_null.join(b_un.select("p_id"), "p_id", "left_anti").count()
        )
        matched_equal = bool(
            match_row.n_matched_mismatch == 0
            and match_row.n_matched_batch == match_row.n_matched_stream
        )
        sound = bool(
            matched_equal
            and n_phantom == 0
            and null_row.n_withheld_outside_tail == 0
            and null_row.n_null_emitted > 0
        )
        return spark.createDataFrame(
            [
                (
                    int(match_row.n_matched_batch),
                    int(match_row.n_matched_stream),
                    matched_equal,
                    int(null_row.n_unmatched_batch),
                    int(null_row.n_null_emitted),
                    int(
                        null_row.n_unmatched_batch
                        - null_row.n_null_emitted
                    ),
                    int(n_phantom),
                    int(null_row.n_withheld_outside_tail),
                    sound,
                )
            ],
            "n_matched_batch long, n_matched_stream long,"
            " matched_equal boolean, n_unmatched_batch long,"
            " n_null_emitted long, n_withheld long, n_phantom long,"
            " n_withheld_outside_tail long, sound boolean",
        )
