"""Report sinks: run-id-named CSV outputs.

The reference writes ``output/<uuid>_<name>.csv`` per run
(legiscan_main.R:237; legiscan_search_all_bills.R:99;
legislator_bill_counts_run.R:156-157). Spark's CSV sink writes a
directory of part files; for the reference's report-sized outputs we
coalesce to one partition so each report is a single readable CSV part —
a deliberate small-output choice. A ``partition_by`` write (the per-term
report family) is not coalesced and keeps full write parallelism.
"""

from __future__ import annotations

import uuid
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def new_run_id() -> str:
    """Per-run UUID prefixing output names (legiscan_main.R:196)."""
    return str(uuid.uuid4())


def write_csv_report(
    df: DataFrame,
    out_dir: str,
    name: str,
    run_id: str | None = None,
    partition_by: list[str] | None = None,
) -> str:
    """Write ``<out_dir>/<run_id>_<name>`` as header'd CSV; returns the path.

    ``partition_by`` gives one subdirectory per key value — the scale
    analog of the reference's one-CSV-per-search-term loop
    (legiscan_main.R:237): a single distributed write instead of N jobs.
    Without it the report is coalesced to one CSV part.
    """
    run_id = run_id or new_run_id()
    path = f"{out_dir}/{run_id}_{name}"
    if partition_by:
        writer = df.write.partitionBy(*partition_by)
    else:
        writer = df.coalesce(1).write
    writer = writer.option("header", True).mode("error")
    writer.csv(path)
    return path


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_within: list[str] | None = None,
) -> str:
    """Directory-partitioned parquet sink — the table layout that makes
    100 TB reads cheap: a filter on a partition column prunes whole
    directories before any file is opened (PartitionFilters in the scan),
    and ``sort_within`` clusters rows so parquet min/max row-group stats
    prune within files.

    The repartition on the partition keys colocates each key's rows so a
    key writes ONE file instead of one-per-task (small-file control);
    for skewed keys add a salt column to ``partition_by``-adjacent
    repartitioning upstream — the layout contract is unchanged.
    """
    out = df.repartition(*[df[c] for c in partition_by])
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    out.write.mode("error").partitionBy(*partition_by).parquet(path)
    return path


def upsert_partitions(
    spark,
    base_path: str,
    updates: DataFrame,
    partition_by: list[str],
) -> str:
    """Partition-level upsert: replace exactly the partitions present in
    ``updates``, leave every other partition's files untouched — the
    idempotent reprocess/backfill primitive for a partitioned lake
    (re-ingest one day/session without rewriting 100 TB).

    Implemented with Spark's dynamic partition overwrite
    (``partitionOverwriteMode=dynamic`` + ``mode("overwrite")``): the
    writer stages the new partition directories and swaps only those, a
    metadata operation per partition. This is PARTITION-granular (hive
    semantics), not row-granular MERGE — row-level upsert composes this
    with ``dedup_keep_latest`` inside each replaced partition, which is
    how the incremental-ingest pipeline uses it.

    The mode is a write option, not a session conf, so callers'
    sessions keep their (safer) ``static`` default.
    """
    (
        updates.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(base_path)
    )
    return base_path


def shard_export(
    spark,
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str,
    digest_cols: list[str],
) -> DataFrame:
    """Export a corpus as ``n_shards`` deterministic shards plus a
    verifiable manifest — the handoff format a training job consumes
    (each data-loader rank reads shard ``rank % n_shards``; the manifest
    lets it verify integrity before burning GPU hours).

    Shard assignment is the multiplicative row hash from
    operators/sampling.unit_hash — deterministic across runs, retries,
    AND engines (so the manifest is SQL-oracle-checkable), unlike
    ``pmod(hash(...))`` whose value is engine-private. Rows land via one
    ``repartition(n_shards, shard)`` + ``partitionBy(shard)`` write:
    each shard directory is written by exactly one task, so file count
    stays O(n_shards), not O(n_shards × upstream partitions).

    Returns the manifest, computed from the WRITTEN FILES (read-back,
    not the input lineage): (shard, n_rows, content_sha) where
    ``content_sha`` is the sha256 of the shard's sorted per-row sha256
    digests over ``digest_cols`` — order-independent, so it is stable
    under task scheduling, and any lost/duplicated/corrupted row flips
    it.
    """
    from ..operators.sampling import unit_hash

    shard = F.floor(unit_hash(id_col) * n_shards).cast("int")
    (
        df.withColumn("shard", shard)
        .repartition(n_shards, F.col("shard"))
        .write.partitionBy("shard")
        .parquet(path)
    )

    row_sha = F.sha2(
        F.concat_ws("|", *[F.col(c).cast("string") for c in digest_cols]), 256
    )
    return (
        spark.read.parquet(path)
        .select(F.col("shard").cast("int").alias("shard"), row_sha.alias("__h"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            F.sha2(
                F.array_join(F.array_sort(F.collect_list("__h")), ""), 256
            ).alias("content_sha"),
        )
    )


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_rows_per_file: int,
) -> int:
    """Small-file compaction — the table-maintenance pass that keeps a
    100 TB lake scannable: re-write a directory into ⌈rows/target⌉
    evenly sized files. Listing overhead and per-file open cost, not
    bytes, are what kill scans over millions of tiny files.

    Row count comes from parquet footer metadata (a metadata-only job,
    no data read); the rewrite is one round-robin repartition — no key,
    so no skew — plus ``maxRecordsPerFile`` as the hard ceiling per
    written file. Returns the file count target.
    """
    src = spark.read.parquet(src_path)
    n_rows = src.count()  # parquet count(*) is footer-metadata only
    n_files = max(1, -(-n_rows // target_rows_per_file))
    (
        src.repartition(n_files)
        .write.mode("error")
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(dst_path)
    )
    return n_files
