"""Fixture-table loaders.

The driver testdata is one parquet file per table under an ``sf`` dir
(``TESTDATA.md``). At 100 TB each "table" would be a partitioned parquet
/ Delta directory; ``spark.read.parquet`` takes directories the same way,
so nothing here changes at scale — Catalyst still gets pushdown, pruning
and split planning from the parquet footers.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; one of {TABLES}")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = _normalize_event_ts(df)
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-TZ TIMESTAMP regardless of how the
    fixture was written.

    Two writer generations exist: parquet TIMESTAMP(NANOS) (rejected by
    Spark's reader; ``spark.sql.legacy.parquet.nanosAsLong`` surfaces it
    as long nanos, truncated here to µs exactly like DuckDB truncates) and
    parquet timestamp[us] with isAdjustedToUTC=false, which Spark reads as
    TIMESTAMP_NTZ — a type strict functions like ``unix_micros`` reject.
    With the session TZ pinned to UTC (session.py), casting NTZ→TIMESTAMP
    maps wall-clock to the same instants DuckDB's naive reading produces,
    so oracle comparisons line up either way."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]


# the per-process root of scratch_dir, made on first use
_scratch_root: str | None = None
_scratch_lock = threading.Lock()


def scratch_dir(prefix: str) -> str:
    """A new empty directory for files that a query writes and reads
    back (sink round trips, format federation, fixture PDFs).

    Every call gets its own directory under one root per process,
    ``lbd_<pid>_*`` in the temp directory (``TMPDIR``). The frames a
    query returns read those files lazily, so nothing is deleted while
    the process runs; the root and everything in it is removed when the
    interpreter exits."""
    global _scratch_root
    with _scratch_lock:
        if _scratch_root is None:
            _scratch_root = tempfile.mkdtemp(prefix=f"lbd_{os.getpid()}_")
            atexit.register(_remove_scratch, _scratch_root, os.getpid())
    return tempfile.mkdtemp(prefix=f"{prefix}_", dir=_scratch_root)


def _remove_scratch(root: str, owner: int) -> None:
    if os.getpid() == owner:  # a forked child does not own the root
        shutil.rmtree(root, ignore_errors=True)
