"""Staging cache + ingestion manifest: the reference's memoization layer.

The reference memoizes with path-keyed RDS files — load-if-exists, else
compute-and-save (legiscan_data_pull.R:17-35,73) — and skips re-ingesting
sessions already on disk (legiscan_data_pull.R:43-46). The engine twins
are (a) a parquet staging cache keyed by ITS OWN path (the reference has
a bug at legiscan_data_pull.R:33 where the second guard re-checks the
dataset-LIST path — deliberately not replicated here), and (b) a
manifest anti-join for incremental ingest.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..io import read_parquet


def memo_parquet(
    spark: SparkSession,
    path: str,
    compute: Callable[[], DataFrame],
    force: bool = False,
) -> DataFrame:
    """Load the staging table at ``path`` if present, else compute, persist
    to parquet, and read back (so downstream always scans columnar storage
    with footer stats, never re-runs the expensive lineage).

    Both reads go through ``io.read_parquet``. The read-back takes the
    written frame's schema, the one inference would find, and leaves it
    in the schema cache: neither the read-back nor a later open runs an
    inference job."""
    if not force:
        try:
            return read_parquet(spark, path)
        except AnalysisException as e:
            # ONLY path-not-found means "not staged yet". A corrupt or
            # partially-written staging table must surface, not silently
            # trigger recompute-and-overwrite (which would also mask
            # transient storage failures).
            if "PATH_NOT_FOUND" not in (e.getCondition() or str(e)):
                raise
    df = compute()
    df.write.mode("overwrite").parquet(path)
    return read_parquet(spark, path, written=df.schema)


def stage_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str,
) -> DataFrame:
    """Stage a table bucketed (and sorted) by its join/group key.

    Two tables bucketed the same way on the same key equi-join WITHOUT
    any Exchange — the co-located join that matters most at 100 TB, where
    re-shuffling the fact table per query is the dominant cost. The
    staging write pays the shuffle once; every downstream join reuses the
    layout (verified by plan assertion in tests/test_bucketing.py).
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table_name)
    )
    return spark.table(table_name)


def new_against_manifest(
    candidates: DataFrame,
    manifest: DataFrame,
    key: str | list[str],
) -> DataFrame:
    """Skip-if-already-ingested as a left_anti join (SURVEY §4): rows of
    ``candidates`` whose key is NOT in the manifest. The manifest side is
    the small one at any scale that matters — Spark broadcasts it."""
    keys = [key] if isinstance(key, str) else list(key)
    return candidates.join(manifest.select(*keys), keys, "left_anti")
