"""Fixture-table loaders and the package's parquet reader.

The driver testdata is one parquet file per table under an ``sf`` dir
(``TESTDATA.md``). At 100 TB each "table" would be a partitioned parquet
/ Delta directory; ``spark.read.parquet`` takes directories the same way,
so nothing here changes at scale — Catalyst still gets pushdown, pruning
and split planning from the parquet footers.

Schema cache (``read_parquet``): ``spark.read.parquet`` without a schema
runs a Spark job that reads a footer and infers the table's schema,
and every declared query opens its tables afresh. In a ``local[2]``
session an open of the sf0.01 ``orders`` file took 107-121 ms that way
and 18-25 ms with a known schema. ``read_parquet`` infers a table's schema
once per process and hands it to later opens of the same table
(``spark.read.schema(cached).parquet(path)``: a file listing, no job).

- Key: the table path, with the ``session.fingerprint`` of its files
  (``(path, st_size, st_mtime_ns)`` of each) and every conf that is set
  and changes parquet schema inference (each key containing
  ``parquet``, e.g. ``spark.sql.legacy.parquet.nanosAsLong``, and
  ``spark.sql.caseSensitive``). A rewritten table or another conf
  infers again and replaces the entry.
- Not cached: a path the driver cannot stat (a URI such as ``s3a://``
  or ``file:``, a missing or empty path). It is inferred on every open,
  as ``spark.read.parquet`` does, with the same errors.
- Bound: the ``SCHEMA_CACHE_ENTRIES`` most recently used tables. One
  lock guards the entries, for threads that share a session; an
  inference runs outside it.
- Scope: the process, not ``session.memo``. A schema is plain data,
  valid in any Spark application that reads the same files under the
  same confs; memo entries hold DataFrames, which die with their
  application.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import fingerprint

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


# tables whose inferred schema read_parquet keeps (see the module docstring)
SCHEMA_CACHE_ENTRIES = 64
# path -> (fingerprint and parquet confs, schema), least recently used first
_schemas: OrderedDict[str, tuple[tuple, StructType]] = OrderedDict()
_schemas_lock = threading.Lock()


def _parquet_confs(spark: SparkSession) -> tuple:
    """The set confs that change parquet schema inference, sorted.

    The conf names come back in one JVM call, and only the matching
    ones' values are fetched: ``spark.conf.getAll`` makes a py4j round
    trip per conf, 23 ms for 37 confs, more than a cached open costs."""
    jconf = spark._jsparkSession.conf().getAllAsJava()
    names = spark._jvm.java.lang.String.join("\0", jconf.keySet()).split("\0")
    return tuple(
        (k, jconf[k]) for k in sorted(names)
        if "parquet" in k or k == "spark.sql.caseSensitive"
    )


def read_parquet(spark: SparkSession, path: str, written: StructType | None = None) -> DataFrame:
    """The parquet table at ``path``, its schema inferred at most once
    per process (see the module docstring).

    ``written``: the schema of the frame just written to ``path``; the
    read takes it instead of inferring one and the cache keeps the
    result's schema."""
    path = str(path)
    fp = fingerprint(path)
    if not fp:
        return spark.read.parquet(path)
    key = (fp, _parquet_confs(spark))
    if written is None:
        with _schemas_lock:
            hit = _schemas.get(path)
            cached = hit is not None and hit[0] == key
            if cached:
                _schemas.move_to_end(path)
        if cached:
            return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path) if written is None else spark.read.schema(written).parquet(path)
    with _schemas_lock:
        _schemas[path] = (key, df.schema)
        _schemas.move_to_end(path)
        while len(_schemas) > SCHEMA_CACHE_ENTRIES:
            _schemas.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; one of {TABLES}")
    df = read_parquet(spark, table_path(sf_dir, name))
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
