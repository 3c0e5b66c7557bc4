"""The bounded-stream harness every stream census (``q_stream_*``) runs in.

A census lands rows as JSON files, reads them back as a file stream, runs
that stream once with ``Trigger.AvailableNow`` into a memory sink and
compares the result with a batch twin over the same files. The comparison
is the census's own; the run around it lives here, in :class:`StreamCensus`:

- ``land(frame)`` writes the frame as JSON under the census's scratch
  directory and stamps strictly increasing mtimes in part-file order.
  FileStreamSource takes files in mtime order, ties in listing order, and
  the part files of one write share near-identical mtimes, so without the
  stamps micro-batches can arrive out of part order (the outer-join census
  saw it as flaky out-of-order batches);
- ``run(frame, output_mode, confs)`` drains one stream into a fresh memory
  table, or stops it and raises ``TimeoutError`` naming it once
  ``STREAM_TIMEOUT_S`` has passed: a stream that has not drained is never
  read as a census row;
- leaving the ``with`` block, also by an exception, stops every query the
  census started, drops every memory table it registered and deletes the
  scratch directory (checkpoints included).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..session import scoped_conf

# the one bound within which every census stream must drain
STREAM_TIMEOUT_S = 180

# Confs for a census's availableNow run (applied with session.scoped_conf).
#
# - few shuffle partitions: stateful micro-batches pay per-partition
#   state-store snapshot/commit overhead EVERY trigger (measured
#   4.5-8.7 s/batch at 32 partitions for 25k-row batches — state
#   machinery, not data). A production deployment sizes this to state
#   volume, not the session's batch shuffle width.
# - no-data micro-batches off: availableNow appends a final no-data
#   trigger whose only job is advancing the watermark past the last
#   batch; the censuses here either run effectively-unbounded
#   watermarks (nothing to finalize) or are complete-mode over
#   time-ordered files where the watermark is already data-maximal
#   after the last data batch, so the extra ~0.5 s trigger provably
#   changes no census row (verified rows-identical at sf0.001/0.1).
#
# Measured negative result (r6): RocksDBStateStoreProvider ran the
# parity/session censuses ~10% SLOWER (3.97/4.39 s vs 3.55/4.04 s,
# min-of-2 at sf0.1) — native-store setup dominates at census-sized
# state; RocksDB pays off when state exceeds executor heap, which a
# production deployment opts into per stream, not globally.
CENSUS_STREAM_CONFS = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
}

_MTIME_BASE = 1_700_000_000  # landed file k gets mtime base + 60 k


def drain(query) -> None:
    """Wait up to ``STREAM_TIMEOUT_S`` for an availableNow ``query`` to
    finish; if it has not, stop it and raise ``TimeoutError``."""
    if not query.awaitTermination(STREAM_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"stream {query.name or query.id} did not drain in "
            f"{STREAM_TIMEOUT_S}s"
        )


class StreamCensus:
    """Context manager owning one census's scratch directory, streams
    and memory tables; ``prefix`` names all three."""

    def __init__(self, spark: SparkSession, prefix: str):
        self.spark = spark
        self.prefix = prefix
        self._queries: list = []
        self._tables: list[str] = []

    def __enter__(self) -> StreamCensus:
        self.dir = tempfile.mkdtemp(prefix=f"{self.prefix}_")
        return self

    def __exit__(self, *exc) -> None:
        try:
            for q in self._queries:
                q.stop()
            for name in self._tables:
                self.spark.catalog.dropTempView(name)
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)

    def _unique(self) -> str:
        return f"{self.prefix}_{uuid.uuid4().hex[:8]}"

    def land(self, frame: DataFrame):
        """Write ``frame`` as JSON, one file per partition, with mtimes
        increasing in part-file order; returns (path, frame.schema)."""
        path = f"{self.dir}/{self._unique()}"
        frame.write.json(path)
        for k, part in enumerate(sorted(glob.glob(f"{path}/part-*.json"))):
            os.utime(part, (_MTIME_BASE + 60 * k,) * 2)
        return path, frame.schema

    def stream(self, path: str, schema, max_files_per_trigger: int | None = 1):
        """File stream over landed JSON; one file per micro-batch by
        default, so stateful operators merge state across batches."""
        reader = self.spark.readStream.format("json").schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.load(path)

    def run(
        self,
        frame: DataFrame,
        output_mode: str,
        confs: dict[str, str] = CENSUS_STREAM_CONFS,
    ):
        """Drain ``frame`` with availableNow into a new memory table under
        ``confs``; returns (table, recentProgress)."""
        name = self._unique()
        self._tables.append(name)
        with scoped_conf(self.spark, confs):
            q = (
                frame.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", f"{self.dir}/checkpoints/{name}")
                .trigger(availableNow=True)
                .start()
            )
            self._queries.append(q)
            drain(q)
        return self.spark.table(name), q.recentProgress
