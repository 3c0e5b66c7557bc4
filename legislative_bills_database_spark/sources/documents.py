"""JSON document-model ingestion: the reference's core data model.

One JSON file per bill / per person, laid out as
``data/<session title>/CA/<session_title_underscored>/{bill,people}/*.json``
(legiscan_search_all_bills.R:71-78; legislator_bill_counts_run.R:54-75).
Schemas are DECLARED (FIXTURES.md §A) — schema inference at 100 TB is a
full extra pass over the data; ``spark.read.json`` with an explicit
StructType prunes unread fields at the parser.

The directory tree IS the catalog: the session partition is recovered
from ``input_file_name()`` and the document key from the file name, which
is exactly the reference's ``list.files`` + ``gsub('.json','',...)``
catalog scan re-expressed so Catalyst sees it as ordinary columns.

Reads are rooted at the session directories, not at the files, and keep
their ``*.json`` files with ``pathGlobFilter`` (see :func:`_read_json`):
other files beside the documents are skipped, and listing costs one
directory listing per session, not a Spark job with a task per file.

Scale note: millions of tiny JSON files are an HDFS/S3 anti-pattern;
:func:`legislative_bills_database_spark.sources.cache.memo_parquet` is the
staging path — read the tree once, persist parquet, query the staging
table thereafter.
"""

from __future__ import annotations

import glob
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# FIXTURES.md §A.1 — fields the reference actually reads, with citations.
BILL_SCHEMA = StructType(
    [
        StructField(
            "bill",
            StructType(
                [
                    StructField("bill_number", StringType()),
                    StructField("bill_type", StringType()),
                    StructField("status", IntegerType()),
                    StructField("status_date", StringType()),
                    StructField("title", StringType()),
                    StructField("description", StringType()),
                    StructField(
                        "session",
                        StructType([StructField("session_name", StringType())]),
                    ),
                    StructField(
                        "texts",
                        ArrayType(
                            StructType(
                                [
                                    StructField("doc_id", LongType()),
                                    StructField("type", StringType()),
                                    StructField("state_link", StringType()),
                                ]
                            )
                        ),
                    ),
                    StructField(
                        "sponsors",
                        ArrayType(
                            StructType(
                                [
                                    StructField("people_id", LongType()),
                                    StructField("sponsor_type_id", IntegerType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        )
    ]
)

# FIXTURES.md §A.2 — legislator_bill_counts_run.R:77-81.
PERSON_SCHEMA = StructType(
    [
        StructField(
            "person",
            StructType(
                [
                    StructField("people_id", LongType()),
                    StructField("role", StringType()),
                    StructField("name", StringType()),
                    StructField("district", StringType()),
                    StructField("committee_id", IntegerType()),
                ]
            ),
        )
    ]
)


def session_title(start_year: int) -> str:
    """'2023-2024 Regular Session' — sessions start on odd years
    (legiscan_search_all_bills.R:71-73)."""
    return f"{start_year}-{start_year + 1} Regular Session"


def session_dir(data_root: str, title: str, kind: str) -> str:
    """data/<title>/CA/<title_underscored>/<kind> (legislator_bill_counts_run.R:59,74)."""
    return f"{data_root}/{title}/CA/{title.replace(' ', '_')}/{kind}"


def _session_roots(data_root: str, kind: str) -> list[str]:
    """The ``kind`` directories of every session under ``data_root``:
    listed on the driver when ``data_root`` is a plain local path, else
    (a URI) the glob ``<data_root>/*/CA/*/<kind>`` for Spark to expand.
    A local root without any raises ``FileNotFoundError``."""
    pattern = f"{data_root}/*/CA/*/{kind}"
    if urlparse(data_root).scheme:
        return [pattern]
    roots = sorted(glob.glob(pattern))
    if not roots:
        raise FileNotFoundError(f"no session directories match {pattern}")
    return roots


def _read_json(
    spark: SparkSession,
    schema: StructType,
    data_root: str,
    sessions: list[str] | None,
    kind: str,
) -> DataFrame:
    """The ``*.json`` files of the ``kind`` directories of ``sessions``
    (every session when None), with (session, doc_key) recovered from the
    file path — the reference's list.files catalog
    (legiscan_search_all_bills.R:74-75) as columns.

    The read is rooted at the session directories and keeps the JSON
    files with ``pathGlobFilter``: Spark lists each root directory, and
    lists them in parallel only past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    roots. A glob down to the files would hand Spark one root path per
    file, and past 32 files every read would launch a listing job with
    one task per file.

    A malformed file fails the read (``mode=FAILFAST``) with an error
    that names it; Spark's default would read it as a row of NULLs that
    drops out of every count and report without a trace.

    Every session of a local ``data_root`` is found on the driver
    (:func:`_session_roots`); the read gets the session directories, not
    a glob. Spark probes a lone root path for a streaming sink's
    ``_spark_metadata`` before it expands globs, and on a glob that
    probe logs a ``FileStreamSink`` warning with a
    ``FileNotFoundException`` trace.

    input_file_name() yields URL-encoded URIs ('%20' for the spaces in
    session titles) — decode before extracting."""
    if sessions is None:
        roots = _session_roots(data_root, kind)
    else:
        roots = [session_dir(data_root, s, kind) for s in sessions]
    df = (
        spark.read.schema(schema)
        .option("multiLine", True)
        .option("mode", "FAILFAST")
        .option("pathGlobFilter", "*.json")
        .json(roots)
    )
    path = F.url_decode(F.input_file_name())
    return df.withColumn(
        "session", F.regexp_extract(path, r"/([^/]+)/CA/", 1)
    ).withColumn(
        "doc_key", F.regexp_extract(path, r"/([^/]+)\.json$", 1)
    )


def read_bills(
    spark: SparkSession,
    data_root: str,
    sessions: list[str] | None = None,
) -> DataFrame:
    """Flat bill table from the JSON document tree.

    ``sessions`` restricts the read to those session directories —
    partition pruning by path, the engine twin of the reference reading
    only configured sessions (legiscan_search_all_bills.R:48,71-73).
    """
    return _read_json(spark, BILL_SCHEMA, data_root, sessions, "bill").select(
        "session",
        "doc_key",
        F.col("bill.bill_number").alias("bill_number"),
        F.col("bill.bill_type").alias("bill_type"),
        F.col("bill.status").alias("status"),
        F.col("bill.status_date").alias("status_date"),
        F.col("bill.title").alias("title"),
        F.col("bill.description").alias("description"),
        F.col("bill.session.session_name").alias("session_name"),
        F.col("bill.texts").alias("texts"),
        F.col("bill.sponsors").alias("sponsors"),
    )


def stage_document_model(
    spark: SparkSession,
    data_root: str,
    staging_dir: str,
    force: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(bills, people) from parquet staging, built from the JSON tree on
    first use (sources.cache.memo_parquet).

    This is the 100 TB entry point: the JSON tree (millions of small
    files) is read ONCE, landed as columnar parquet with footer stats,
    and every query thereafter scans the staging tables — the engine twin
    of the reference's RDS memo-cache (legiscan_data_pull.R:17-35) minus
    its stale-path bug."""
    from .cache import memo_parquet

    bills = memo_parquet(
        spark, f"{staging_dir}/bills", lambda: read_bills(spark, data_root), force
    )
    people = memo_parquet(
        spark, f"{staging_dir}/people", lambda: read_people(spark, data_root), force
    )
    return bills, people


def read_people(
    spark: SparkSession,
    data_root: str,
    sessions: list[str] | None = None,
) -> DataFrame:
    """Flat person table from the JSON document tree
    (legislator_bill_counts_run.R:72-87)."""
    return _read_json(spark, PERSON_SCHEMA, data_root, sessions, "people").select(
        "session",
        "doc_key",
        F.col("person.people_id").alias("people_id"),
        F.col("person.role").alias("role"),
        F.col("person.name").alias("name"),
        F.col("person.district").alias("district"),
        F.col("person.committee_id").alias("committee_id"),
    )
