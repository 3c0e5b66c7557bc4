"""Streaming SCD2 maintenance: stream == batch, and a replayed batch id
is idempotent (the exactly-once MERGE contract)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from legislative_bills_database_spark.operators.scd import scd2_merge
from legislative_bills_database_spark.streaming.census import drain
from legislative_bills_database_spark.streaming.scd import (
    scd2_batch_applier,
    scd2_stream,
)

SCHEMA = "k long, attr string, effective_ts timestamp"


def _d(day):
    return dt.datetime(2024, 1, day)


UPDATES = [
    (1, "gold", _d(1)),
    (2, "bronze", _d(2)),
    (1, "silver", _d(5)),
    (3, "iron", _d(3)),
    (2, "bronze", _d(7)),  # no-op
    (1, "gold", _d(9)),
]


def _dim_rows(spark, base):
    import os

    last = max(
        int(d.split("=")[1]) for d in os.listdir(base) if d.startswith("epoch=")
    )
    return sorted(
        map(tuple, spark.read.parquet(f"{base}/epoch={last}").collect())
    )


def test_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "updates")
    spark.createDataFrame(UPDATES[:3], SCHEMA).coalesce(1).write.json(src)
    spark.createDataFrame(UPDATES[3:], SCHEMA).coalesce(1).write.json(
        src, mode="append"
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .json(src)
    )
    base = str(tmp_path / "dim")
    q = scd2_stream(
        stream, spark, base, str(tmp_path / "ckpt"), "k", ["attr"]
    )
    drain(q)

    empty = spark.createDataFrame(
        [], "k long, attr string, valid_from timestamp, valid_to timestamp, "
        "is_current boolean"
    )
    batch = scd2_merge(
        empty, spark.createDataFrame(UPDATES, SCHEMA), "k", ["attr"]
    )
    assert _dim_rows(spark, base) == sorted(map(tuple, batch.collect()))


def test_replayed_batch_id_is_idempotent(spark, tmp_path):
    base = str(tmp_path / "dim")
    applier = scd2_batch_applier(spark, base, "k", ["attr"])
    b0 = spark.createDataFrame(UPDATES[:3], SCHEMA)
    b1 = spark.createDataFrame(UPDATES[3:], SCHEMA)
    applier(b0, 0)
    applier(b1, 1)
    want = _dim_rows(spark, base)
    applier(b1, 1)  # retry of the SAME batch id after a "failure"
    assert _dim_rows(spark, base) == want
