"""``io.read_parquet``'s schema cache: a table's schema is inferred once
per process, and inferred again whenever its files or the parquet confs
change."""

from __future__ import annotations

import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from conftest import SF_DIR
from legislative_bills_database_spark import io
from legislative_bills_database_spark.session import scoped_conf


def _jobs(spark, run):
    """(run()'s result, the number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"io-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema cache probe")
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _events(path, unit: str) -> None:
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_000_000_000, 2_000_000_000], pa.timestamp(unit)),
            "user_id": pa.array([7, 7], pa.int64()),
        }),
        str(path),
        version="2.6",
    )


def test_second_load_table_runs_no_job(spark, tmp_path):
    shutil.copy(io.table_path(SF_DIR, "orders"), io.table_path(tmp_path, "orders"))
    first, n_first = _jobs(spark, lambda: io.load_table(spark, str(tmp_path), "orders"))
    second, n_second = _jobs(spark, lambda: io.load_table(spark, str(tmp_path), "orders"))
    assert (n_first, n_second) == (1, 0)
    assert second.schema == first.schema
    assert second.count() == first.count() > 0


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert io.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df, n = _jobs(spark, lambda: io.read_parquet(spark, path))
    assert n == 1
    assert df.columns == ["b", "c"]
    assert df.collect()[0] == ("x", 1.5)


def test_event_ts_follows_the_parquet_confs(spark, tmp_path):
    """The confs are part of the key: an entry inferred under one conf is
    never served under another."""
    _events(io.table_path(tmp_path, "events"), "ns")
    path = io.table_path(tmp_path, "events")
    assert io.read_parquet(spark, path).schema["ts"].dataType == LongType()
    # load_table turns the long nanos into a session-TZ timestamp
    assert io.load_table(spark, str(tmp_path), "events").schema["ts"].dataType == TimestampType()
    with scoped_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "false"}):
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            io.read_parquet(spark, path)
    df, n = _jobs(spark, lambda: io.read_parquet(spark, path))
    assert (df.schema["ts"].dataType, n) == (LongType(), 0)

    # micros without a UTC flag: TIMESTAMP_NTZ unless the conf says otherwise
    _events(io.table_path(tmp_path, "micros"), "us")
    path = io.table_path(tmp_path, "micros")
    assert io.read_parquet(spark, path).schema["ts"].dataType == TimestampNTZType()
    with scoped_conf(spark, {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}):
        assert io.read_parquet(spark, path).schema["ts"].dataType == TimestampType()
    assert io.read_parquet(spark, path).schema["ts"].dataType == TimestampNTZType()


def test_unstatable_paths_are_inferred_every_time(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), str(path))
    uri = path.as_uri()  # a URI: the driver does not stat it
    for _ in range(2):
        df, n = _jobs(spark, lambda: io.read_parquet(spark, uri))
        assert (df.columns, n) == (["a"], 1)
    assert uri not in io._schemas
    missing = str(tmp_path / "missing.parquet")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        io.read_parquet(spark, missing)
    assert missing not in io._schemas


def test_schema_cache_keeps_the_most_recently_used(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(io, "SCHEMA_CACHE_ENTRIES", 2)
    paths = [str(tmp_path / f"{name}.parquet") for name in "abc"]
    for p in paths:
        pq.write_table(pa.table({"x": [1]}), p)
    for p in [*paths[:2], paths[0], paths[2]]:  # a, b, a again, c: evicts b
        io.read_parquet(spark, p)
    assert len(io._schemas) == 2
    assert list(io._schemas)[-2:] == [paths[0], paths[2]]
    assert _jobs(spark, lambda: io.read_parquet(spark, paths[0]))[1] == 0
    assert _jobs(spark, lambda: io.read_parquet(spark, paths[1]))[1] == 1
