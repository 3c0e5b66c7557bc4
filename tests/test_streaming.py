"""Batch/stream agreement tests (SURVEY §2.8): the streaming queries must
produce the same answers as their batch twins when fed the same bounded
data via the file source with Trigger.AvailableNow.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from legislative_bills_database_spark.io import load_table
from legislative_bills_database_spark.operators.sessionize import sessionize
from legislative_bills_database_spark.streaming import (
    dedup_within_watermark,
    session_counts,
    stream_events_from_files,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_json_dir(spark, tmp_path_factory) -> str:
    """The events fixture re-landed as a JSON file directory (the
    streaming file source needs files arriving in a directory)."""
    out = str(tmp_path_factory.mktemp("events_stream") / "json")
    events = load_table(spark, SF_DIR, "events")
    # two files so the source sees multiple splits
    events.repartition(2).write.json(out)
    return out


def _run_available_now(stream_df, name: str, output_mode: str):
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _canon(df, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_tumbling_window_batch_stream_agreement(spark, events_json_dir):
    stream = stream_events_from_files(spark, events_json_dir)
    got = _run_available_now(
        tumbling_counts(stream), "t_tumbling", "complete"
    )
    batch = load_table(spark, SF_DIR, "events")
    expected = (
        batch.groupBy(F.window("ts", "1 hour"), "event_type")
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
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _canon(got, cols) == _canon(expected, cols)


def test_streaming_dedup_drops_duplicates(spark, tmp_path):
    """Duplicate event_ids inside the watermark are dropped exactly-once."""
    src = str(tmp_path / "dups")
    events = load_table(spark, SF_DIR, "events").limit(50)
    events.unionByName(events).repartition(1).write.json(src)  # every id twice
    stream = stream_events_from_files(spark, src)
    got = _run_available_now(
        dedup_within_watermark(stream), "t_dedup", "append"
    )
    assert got.count() == 50
    assert got.select("event_id").distinct().count() == 50


def test_stateful_running_totals_match_batch(spark, events_json_dir):
    """applyInPandasWithState running totals: after consuming the whole
    (bounded) stream, the final per-user state equals the batch aggregate."""
    from legislative_bills_database_spark.streaming import running_user_totals

    stream = stream_events_from_files(spark, events_json_dir)
    got = _run_available_now(
        running_user_totals(stream), "t_running", "update"
    )
    # update mode emits one row per user per micro-batch — keep the last
    final = (
        got.withColumn("__idx", F.monotonically_increasing_id())
        .groupBy("user_id")
        .agg(F.max_by("n_events", "__idx").alias("n_events"),
             F.max_by("total_value", "__idx").alias("total_value"))
    )
    batch = load_table(spark, SF_DIR, "events").groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    g = {r["user_id"]: (r["n_events"], round(r["total_value"], 6))
         for r in final.collect()}
    b = {r["user_id"]: (r["n_events"], round(r["total_value"], 6))
         for r in batch.collect()}
    assert set(g) == set(b)
    assert all(g[k][0] == b[k][0] for k in b)
    # float accumulation order differs batch vs incremental → tolerance
    assert all(abs(g[k][1] - b[k][1]) < 1e-6 for k in b)


def test_session_window_agrees_with_batch_sessionize(spark, events_json_dir):
    """session_window session count per user == the batch lag/cumsum
    sessionizer's (same 30-minute gap)."""
    stream = stream_events_from_files(spark, events_json_dir)
    got = (
        _run_available_now(session_counts(stream), "t_sessions", "complete")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )
    batch = sessionize(load_table(spark, SF_DIR, "events"), "user_id", "ts", 30)
    expected = batch.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions")
    )
    cols = ["user_id", "n_sessions"]
    assert _canon(got, cols) == _canon(expected, cols)


def test_stream_stream_join_matches_batch_range_join(spark, events_json_dir):
    from legislative_bills_database_spark.streaming.joins import (
        correlate_streams,
    )

    stream = stream_events_from_files(spark, events_json_dir)
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id"), F.col("ts")
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"),
        F.col("user_id"),
        F.col("ts").alias("buy_ts"),
    )
    joined = correlate_streams(
        clicks, purchases, "user_id", left_ts="ts", right_ts="buy_ts",
        within="2 hours", watermark="4 hours",
    ).select(F.col("l.click_id"), F.col("r.buy_id"))
    got = _run_available_now(joined, "t_corr", "append")

    batch = load_table(spark, SF_DIR, "events")
    b_clicks = batch.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    b_buys = batch.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"),
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("buy_ts"),
    )
    expected = b_clicks.join(
        b_buys,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("ts"))
        & (F.col("buy_ts") <= F.col("ts") + F.expr("INTERVAL 2 hours")),
    ).select("click_id", "buy_id")
    assert len(got.collect()) > 0  # the fixture must actually join rows
    assert _canon(got, ["click_id", "buy_id"]) == _canon(
        expected, ["click_id", "buy_id"]
    )


def test_foreachbatch_sink_exactly_once_and_idempotent(
    spark, events_json_dir, tmp_path
):
    from legislative_bills_database_spark.streaming.sinks import (
        idempotent_parquet_sink,
        write_batch_overwrite,
    )

    base = str(tmp_path / "sink")
    # maxFilesPerTrigger=1 forces one micro-batch per input file →
    # deterministic multi-batch run
    stream = stream_events_from_files(
        spark, events_json_dir, max_files_per_trigger=1
    )
    q = idempotent_parquet_sink(
        stream.select("event_id", "event_type", "value"),
        base,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    out = spark.read.parquet(base)
    batch_ids = sorted(
        r["batch"] for r in out.select("batch").distinct().collect()
    )
    assert len(batch_ids) >= 2  # two input files → at least two batches
    batch = load_table(spark, SF_DIR, "events")
    assert out.count() == batch.count()
    assert (
        _canon(out, ["event_id", "event_type"])
        == _canon(batch, ["event_id", "event_type"])
    )

    # simulate the failure-retry path: re-delivering batch 0 must leave
    # the table IDENTICAL (overwrite, not append). Pin the before-state
    # eagerly: the overwrite replaces the files `out` lazily points at.
    before = _canon(out, ["event_id"])
    replay = out.filter(F.col("batch") == batch_ids[0]).select(
        "event_id", "event_type", "value"
    ).localCheckpoint()
    write_batch_overwrite(base)(replay, batch_ids[0])
    again = spark.read.parquet(base)
    assert again.count() == batch.count()
    assert _canon(again, ["event_id"]) == before


def test_stream_parity_report_census(spark):
    """q_stream_parity's one-row census: stream == batch, no mismatches."""
    from legislative_bills_database_spark.streaming.events import (
        stream_batch_parity_report,
    )

    row = stream_batch_parity_report(spark, SF_DIR).collect()[0]
    assert row.equal is True
    assert row.n_mismatch == 0
    assert row.n_batch == row.n_stream > 0


def test_session_parity_report_equal(spark):
    """The driver-visible session_window census: stream == batch over
    the same landed JSON rows (millisecond-truncated timestamps on BOTH
    sides — the parquet-sourced twin trap is pinned by this passing)."""
    from legislative_bills_database_spark.streaming.events import (
        session_parity_report,
    )
    from tests.conftest import SF_DIR

    row = session_parity_report(spark, SF_DIR).collect()[0]
    assert row.equal and row.n_mismatch == 0
    assert row.n_batch == row.n_stream > 0


def test_session_watermark_evicts_old_state(spark, tmp_path):
    """The flip side of the parity census: with a PRODUCTION watermark
    far smaller than the stream's time span, time-ordered multi-batch
    ingestion finalizes-and-evicts old session state. Pinned in APPEND
    mode: finalized sessions emit exactly once (their state is dropped
    — the state-bounding behavior that makes session_window viable at
    100 TB) and the not-yet-finalized tail is withheld, so
    0 < n_stream < n_batch deterministically. The earlier complete-mode
    pin raced the trailing no-data micro-batch: whether the final
    watermark advance pruned the re-emitted table before the read was
    timing-dependent (observed 711 vs 946 across otherwise identical
    runs)."""
    from legislative_bills_database_spark.io import load_table
    from legislative_bills_database_spark.streaming.events import (
        session_counts,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    import glob
    import time

    events = load_table(spark, SF_DIR, "events")
    jd = str(tmp_path / "ordered_json")
    # land the 4 time-quartiles as 4 SEQUENTIAL appends: one parallel
    # repartitionByRange(4) write gives the part files near-identical
    # mtimes, and FileStreamSource orders by (mtime, path) — ties broke
    # arbitrarily under load and the batches arrived out of time order
    # (observed flake: the census-style single write produced an
    # eviction-free run). Sequential writes make mtimes strictly
    # increase, so in-time-order multi-batch ingestion is guaranteed.
    bounds = events.select(
        F.percentile_approx("ts", [0.25, 0.5, 0.75]).alias("q")
    ).collect()[0]["q"]
    slim = events.select("event_id", "ts", "user_id", "event_type", "value")
    lo = None
    for hi in list(bounds) + [None]:
        part = slim
        if lo is not None:
            part = part.filter(F.col("ts") > F.lit(lo))
        if hi is not None:
            part = part.filter(F.col("ts") <= F.lit(hi))
        part.coalesce(1).write.mode("append").json(jd)
        time.sleep(0.05)
        lo = hi
    assert len(glob.glob(jd + "/part-*")) == 4
    stream = (
        spark.readStream.format("json")
        .schema(
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .load(jd)
    )
    q = (
        session_counts(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("t_evict")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2, "multi-batch ingestion required"
    n_stream = spark.table("t_evict").count()
    n_batch = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
        .count()
    )
    # early sessions finalized+emitted (state dropped), tail withheld
    assert 0 < n_stream < n_batch


def test_stream_dedup_census_equal(spark):
    """Planted duplicates spread across micro-batches are dropped from
    cross-batch state: stream dedup count == batch distinct count, and
    both are strictly below the landed count."""
    from legislative_bills_database_spark.streaming.events import (
        dedup_parity_report,
    )
    from tests.conftest import SF_DIR

    row = dedup_parity_report(spark, SF_DIR).collect()[0]
    assert row.equal
    assert row.n_stream == row.n_batch < row.n_landed
