"""Structured Streaming over the events table shape.

Each builder takes a streaming DataFrame (``readStream``) and returns the
transformed streaming frame — identical logical plans to the batch twins
(plans/reference_queries.py::q_tumbling_window_batch,
operators/sessionize.py), so batch/stream agreement is testable with the
file source + ``Trigger.AvailableNow`` (tests/test_streaming.py).

Watermarks bound state: at 100 TB/day of events the windowed aggregation
state is per-(window, type) only, and late rows beyond the watermark are
dropped deterministically rather than growing state forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .census import StreamCensus

# events fixture shape (FIXTURES.md §B) — ts as timestamp here; the
# parquet NANOS quirk is a batch-reader concern, streaming tests feed JSON
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def stream_events_from_files(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source event stream with the declared schema (exactly-once
    ingestion of a growing directory — the streaming upgrade of the
    reference's skip-if-downloaded idempotency, SURVEY §2.8)."""
    reader = spark.readStream.format(fmt).schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window count+sum per event_type — streaming twin of
    q_tumbling_window_batch; exact decimal sum for cross-run determinism."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful exactly-once dedup: duplicates of a key arriving within
    the watermark are dropped; state is GC'd past it (bounded memory —
    the streaming analog of exact_dedup)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def _run_parity_census(
    spark: SparkSession,
    sf_dir: str,
    stream_builder,
    batch_builder,
    prefix: str,
    output_mode: str = "complete",
    row_filter=None,
) -> DataFrame:
    """Shared machinery for the stream==batch parity censuses.

    Re-lands the events table as a JSON file directory, runs
    ``stream_builder`` as a bounded ``availableNow`` stream into a memory
    sink and ``batch_builder`` as the equivalent batch plan over the same
    rows, and emits one (n_batch, n_stream, n_mismatch, equal) row. The
    mismatch count is ONE distributed job: tag sides, count each distinct
    row per side — Σ|n_s − n_b| is exactly the multiset symmetric
    difference (what exceptAll-both-ways would count, minus 2 jobs and 2
    shuffles). Only the 4-column census reaches the driver, so the
    report works at any input scale.
    """
    from ..io import load_table

    landed = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    if row_filter is not None:
        # slice BEFORE landing (not in the builders): both sides read
        # the same smaller files, so every JSON pass shrinks too
        landed = landed.filter(row_filter)
    with StreamCensus(spark, prefix) as census:
        # 3 files × one file per trigger = 3 micro-batches, so
        # windows/sessions genuinely accumulate across batches (two
        # cross-batch state merges; state semantics per extra batch are
        # identical, while each trigger costs ~0.5 s of pure micro-batch
        # machinery — r5 bench spent ~22 s on the 6 censuses). The
        # files are RANGE-partitioned on ts (file k holds the k-th time
        # tertile and land() stamps mtimes in part order, so batches
        # arrive in event-time order) — modeling a real time-ordered
        # stream. Randomly-partitioned files would make every batch
        # after the first almost entirely watermark-late: batch 1
        # contains the global max ts, the watermark jumps to max−2h,
        # and the stateful operators legitimately DROP the rest. The
        # census rows are BATCHING-INVARIANT (complete-mode over
        # time-ordered files / unbounded-watermark append joins), so the
        # file count is a pure machinery knob — verified rows-identical
        # vs the 4-file landing at sf0.001 and sf0.1. One file per
        # trigger matters: without it availableNow swallows the whole
        # directory in a single batch and the census would certify
        # batch mode twice.
        path, schema = census.land(landed.repartitionByRange(3, "ts"))
        streamed, _ = census.run(
            stream_builder(census.stream(path, schema)), output_mode
        )
        # batch twin reads the SAME landed JSON (not the parquet source):
        # Spark's JSON timestamp format is millisecond-precision, so a
        # parquet-sourced twin diverges on any microsecond-resolution
        # per-event result (session_window starts bit it; tumbling-hour
        # starts only masked it)
        batch = batch_builder(spark.read.schema(schema).json(path))
        cols = streamed.columns
        tagged = streamed.withColumn(
            "__side", F.lit(1)
        ).unionByName(batch.withColumn("__side", F.lit(0)))
        per_row = tagged.groupBy(*cols).agg(
            F.sum("__side").alias("__ns"),
            F.sum(1 - F.col("__side")).alias("__nb"),
        )
        row = per_row.agg(
            F.coalesce(F.sum("__nb"), F.lit(0)).alias("n_batch"),
            F.coalesce(F.sum("__ns"), F.lit(0)).alias("n_stream"),
            F.coalesce(
                F.sum(F.abs(F.col("__ns") - F.col("__nb"))), F.lit(0)
            ).alias("n_mismatch"),
        ).collect()[0]
    equal = bool(row.n_mismatch == 0 and row.n_batch == row.n_stream)
    return spark.createDataFrame(
        [(row.n_batch, row.n_stream, row.n_mismatch, equal)],
        "n_batch long, n_stream long, n_mismatch long, equal boolean",
    )


def stream_batch_parity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window batch==stream census (``q_stream_parity``): the
    stream/batch agreement pinned in tests/test_streaming.py since round
    2, DRIVER-VISIBLE (VERDICT r3 item 7). The batch twin repeats the
    SAME expressions (decimal-exact sum), so float results are
    bit-identical, not approximately equal."""

    def batch(events: DataFrame) -> DataFrame:
        return (
            events.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n",
                "sum_value",
            )
        )

    return _run_parity_census(
        spark, sf_dir, tumbling_counts, batch, "q_stream_parity"
    )


def session_parity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window batch==stream census (``q_stream_sessions``):
    gap-based sessionization is the stateful operator whose streaming
    state machine (merging windows as late-but-in-watermark rows extend a
    session) diverges most easily from the batch lag/cumsum form — this
    census runs the SAME session_window expression both ways, so a green
    row certifies the session merge logic end-to-end, driver-visibly."""

    def batch(events: DataFrame) -> DataFrame:
        return (
            events.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                "n_events",
            )
        )

    def stream(events: DataFrame) -> DataFrame:
        # effectively-unbounded watermark: session_window EVICTS state
        # older than the watermark in every output mode (that is the
        # watermark's job — bounding merge state), so a production-sized
        # watermark makes the complete-mode result table lose finalized
        # sessions and the census would (correctly, but uselessly)
        # report the eviction policy instead of the merge logic. The
        # census certifies cross-batch session merging EXACTLY; eviction
        # semantics are pinned separately in tests/test_streaming.py.
        return session_counts(events, watermark="876000 hours")

    return _run_parity_census(
        spark, sf_dir, stream, batch, "q_stream_sessions"
    )


def dedup_parity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark stream==batch census
    (``q_stream_dedup``): the events table plus a 20% planted-duplicate
    sample lands as 3 RANDOMLY-partitioned JSON files streamed one per
    trigger, so a duplicate's copies genuinely arrive in DIFFERENT
    micro-batches and dedup must hit cross-batch state — the case a
    single-batch availableNow run never exercises. The census watermark
    is effectively unbounded (state eviction is a separate, pinned
    behavior); the batch twin is plain dropDuplicates over the same
    landed rows. Emits (n_landed, n_stream, n_batch, equal)."""
    from ..io import load_table

    base = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # deterministic planted duplicates: every 5th event re-lands
    dups = base.filter(F.col("event_id") % 5 == 0)
    with StreamCensus(spark, "q_stream_dedup") as census:
        # 3 round-robin files ON PURPOSE: copies of a duplicate land in
        # different files, hence different triggers; with the unbounded
        # watermark the dedup result is batching-invariant (verified
        # rows-identical vs the 4-file landing)
        path, schema = census.land(base.unionAll(dups).repartition(3))
        streamed, _ = census.run(
            dedup_within_watermark(
                census.stream(path, schema),
                ["event_id"],
                watermark="876000 hours",
            ),
            "append",
        )
        landed = spark.read.schema(schema).json(path)
        n_landed = landed.count()
        n_stream = streamed.count()
        n_batch = landed.dropDuplicates(["event_id"]).count()
    return spark.createDataFrame(
        [(n_landed, n_stream, n_batch, bool(n_stream == n_batch))],
        "n_landed long, n_stream long, n_batch long, equal boolean",
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session aggregation via session_window — streaming twin
    of operators.sessionize (same 30-minute gap rule)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def late_data_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data ACCOUNTING census (``q_stream_late``).

    The parity censuses run unbounded watermarks so state is never
    evicted; this census does the opposite — a PRODUCTION 2-hour
    watermark under out-of-order arrival — and quantifies exactly what
    the watermark cost. Events land as 4 files partitioned by
    user_id % 4, so every micro-batch spans the whole time range: after
    batch 1 the watermark sits near the global max ts, making most of
    batches 2-4 legitimately late. The tumbling-hour counts run
    append-mode (windows emit only once finalized) and are diffed
    against the batch twin per window:

    - ``n_batch_windows`` / ``n_stream_windows``: totals per side;
      stream < batch = tail windows withheld (never finalized before
      availableNow terminated) — the append-mode finalization contract;
    - ``n_common``: windows emitted by both;
    - ``n_short_common`` / ``late_rows_lost``: common windows whose
      stream count is lower, and by how many rows — the rows the
      watermark DROPPED as late (state for their window already
      finalized when they arrived).

    Only the 6-number census reaches the driver.
    """
    from ..io import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    agg_cols = [F.window("ts", "1 hour").alias("window"), F.col("event_type")]
    with StreamCensus(spark, "q_stream_late") as census:
        path, schema = census.land(
            events.repartition(4, F.col("user_id") % 4)
        )
        # only the shuffle width of census.CENSUS_STREAM_CONFS (same
        # state-store overhead reasoning): the final no-data micro-batch
        # finalizes windows, which is what this census counts
        streamed, _ = census.run(
            census.stream(path, schema)
            .withWatermark("ts", "2 hours")
            .groupBy(*agg_cols)
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("ws"), "event_type", "n"),
            "append",
            {"spark.sql.shuffle.partitions": "8"},
        )
        batch = (
            spark.read.schema(schema)
            .json(path)
            .groupBy(*agg_cols)
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("ws"), "event_type", "n")
        )
        b = batch.select("ws", "event_type", F.col("n").alias("nb"))
        s = streamed.select("ws", "event_type", F.col("n").alias("ns"))
        joined = b.join(s, ["ws", "event_type"], "full_outer")
        row = joined.agg(
            F.count(F.col("nb")).alias("n_batch_windows"),
            F.count(F.col("ns")).alias("n_stream_windows"),
            F.count(F.when(F.col("nb").isNotNull() & F.col("ns").isNotNull(), 1))
            .alias("n_common"),
            F.coalesce(
                F.sum(F.when(F.col("ns") < F.col("nb"), 1).otherwise(0)),
                F.lit(0),
            ).alias("n_short_common"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ns").isNotNull() & (F.col("ns") < F.col("nb")),
                        F.col("nb") - F.col("ns"),
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("late_rows_lost"),
        ).collect()[0]
    return spark.createDataFrame(
        [
            (
                row.n_batch_windows,
                row.n_stream_windows,
                row.n_common,
                row.n_short_common,
                row.late_rows_lost,
                bool(row.n_stream_windows < row.n_batch_windows),
            )
        ],
        "n_batch_windows long, n_stream_windows long, n_common long,"
        " n_short_common long, late_rows_lost long, withheld_tail boolean",
    )
