"""SparkSession factory.

Defaults chosen for correctness-vs-oracle and 100 TB posture:

- ``spark.sql.session.timeZone=UTC``: Spark timestamps are session-TZ;
  the DuckDB oracle is UTC-naive. Pinning UTC makes them comparable.
- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  — the local plan is the same plan a 1000-executor cluster would get.
- ``spark.sql.shuffle.partitions`` 32 here (``SHUFFLE_PARTITIONS``); on a real
  cluster AQE's coalescePartitions makes the static number mostly moot.
- Arrow enabled for any pandas-UDF path (vectorized batch transfer).
- A JIT profile for the driver JVM (``JIT_PROFILE``): HotSpot's four
  tier-4 (C2) compile thresholds at 10x their JDK 17 defaults (5000,
  600, 15000, 40000). The engine's jobs are short batch passes in a
  fresh JVM, and most of such a pass's CPU goes to the JIT compiler
  threads, mostly C2 compiling Spark, Catalyst and Janino-generated
  methods that the pass then barely runs. With the higher thresholds
  those lukewarm methods stay on C1 code, while the loops of long
  queries still reach C2. On 4 vCPUs this cut the cold ingest pass's
  busy CPU by about a fifth at about the same wall time; C1-only
  (``-XX:TieredStopAtLevel=1``) saved more CPU but made matrix-style
  queries up to 3.3x slower. The profile goes in
  ``spark.driver.defaultJavaOptions``, which Spark places before
  ``spark.driver.extraJavaOptions``; HotSpot keeps the last value of a
  flag, so a caller overrides any of them through ``extraJavaOptions``
  (e.g. in ``PYSPARK_SUBMIT_ARGS``). It applies only when this factory
  launches the JVM: a session built elsewhere keeps its own flags.
- One preloaded Python worker pool. Python workers fork from this
  package's daemon (``spark.python.daemon.module``, see
  ``worker_daemon``), which imports pandas, pyarrow and the Arrow
  serializers before forking and keeps each zip archive's directory
  across tasks while the archive is unchanged; with Spark's default
  daemon, those imports and a re-read of ``pyspark.zip``'s directory on
  every task were most of the Python workers' CPU in the ingest pass.
  ``simplifiedTraceback`` is off: Spark sets ``SPARK_SIMPLIFIED_TRACEBACK``
  in the environment of some Python UDF kinds and not others, and each
  distinct environment gets a daemon and worker pool of its own, so
  with it on the PDF ``mapInPandas`` and the HTML ``pandas_udf`` ran in
  two pools. The trade: a UDF error shows its full traceback, pyspark
  frames included. The workers find the daemon through the package's
  parent directory, which goes in front of any value already set for the
  executors' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``, which
  pyspark keeps in ``SparkContext.environment``); without it a session
  started from a directory outside the repository fails every Python
  UDF. The daemon is a static conf, so like the JIT profile
  it applies only when this factory creates the context.

The runtime SQL defaults live in one table, ``SQL_DEFAULTS``:
``get_spark`` builds its session with them, and ``tune_session`` sets
them on a session built elsewhere (the registry applies it to every
query call).

Conf overrides (``scoped_conf``): code that needs a different runtime
SQL conf for a while (a census forcing a join strategy, a stream run
with few shuffle partitions, a state-store provider) sets it only inside
``with scoped_conf(spark, {key: value, ...}):``. On exit, also by an
exception, each key gets back what it had: a key that was unset is unset
again, so the session never keeps an explicit setting it did not have.
Scopes nest. This is the package's only place that sets or unsets confs
on a live session besides ``tune_session``; a writer-level setting (e.g.
``partitionOverwriteMode``) goes on the writer as an ``option`` instead.

Session memo (``memo``): the one in-memory store for frames and fits
that several queries share (co-purchase edges, graph layouts, k-means
and IVF centroids, PQ codebooks, similarity chains).

- Keying: ``(sf_dir, key)``, where ``key`` names the frame and its
  parameters, e.g. ``("ivf_centroids", "lt500", 16)``.
- Fingerprint: each entry keeps the ``(path, st_size, st_mtime_ns)`` of
  every file under ``sf_dir`` at build time. A call that sees another
  fingerprint rebuilds the entry, so rewriting an input table never
  serves a stale frame. When the driver cannot stat ``sf_dir`` (e.g. a
  remote URI) the fingerprint is empty and the entry lives as long as
  the application.
- Lifetime: entries belong to one ``applicationId``. A call from
  another application drops every entry first, without calling into
  the stopped context; the store's bound is one application times one
  entry per key.
- Release: a replaced DataFrame has its checkpoint blocks released and
  is unpersisted. ``clear_memos`` drops everything, releasing the
  DataFrames while their application is still the active one.
- Materialisation stays with each caller's ``build``: the memo stores
  whatever ``build()`` returns.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# the directory holding this package: the executors' PYTHONPATH entry
# for the worker daemon (see the module docstring)
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# C2 thresholds at 10x the JDK 17 defaults (see the module docstring)
JIT_PROFILE = (
    "-XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000"
    " -XX:Tier4BackEdgeThreshold=400000"
)
# runtime SQL defaults of get_spark and tune_session (see the module docstring)
SQL_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # coalesce small shuffles below core-count parallelism too: tiny
    # exchanges (iterative-loop label/rank frames, dim-side aggs) are
    # pure scheduler overhead at 32 tasks; big shuffles still target
    # advisoryPartitionSizeInBytes. Spark's own docs recommend
    # parallelismFirst=false in production.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # fixture events.ts is parquet TIMESTAMP(NANOS) — illegal for Spark's
    # reader; read as long nanos, io.load_table converts to µs timestamps
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}
# get_spark's shuffle width unless the caller passes shuffle_partitions
SHUFFLE_PARTITIONS = 32
# spill-aware split sizing: scan partitions stay ~128 MB so a 100 TB
# table fans out to ~800k well-sized tasks rather than fewer oversized
# ones that spill; a deployment changes it with spark.conf.set
MAX_PARTITION_BYTES = "134217728"


def get_spark(
    app_name: str = "legislative-bills-engine",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config(map=SQL_DEFAULTS)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or SHUFFLE_PARTITIONS))
        .config("spark.sql.files.maxPartitionBytes", MAX_PARTITION_BYTES)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", JIT_PROFILE)
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "legislative_bills_database_spark.worker_daemon")
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
    )
    spark = builder.getOrCreate()
    env = spark.sparkContext.environment
    paths = env.get("PYTHONPATH", "").split(os.pathsep)
    if PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(p for p in [PACKAGE_PARENT, *paths] if p)
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set the runtime SQL confs ``confs`` for the body of a ``with`` and
    put each key back afterwards, also when the body raises: a key that
    was unset is unset again, any other gets its old value."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def release_checkpoint(df) -> None:
    """Best-effort release of a ``localCheckpoint(eager=True)`` frame's
    storage blocks.

    ``DataFrame.unpersist()`` only consults the cache manager and is a
    no-op for checkpointed data; the blocks belong to the RDD inside the
    plan's ``LogicalRDD`` node. Iterative operators (PageRank, connected
    components) checkpoint every round — without an explicit release,
    executor storage accumulates O(n_iter) copies of the frame for the
    duration of the call. Reaches through the JVM plan (private API), so
    failures are swallowed: worst case is the old behavior, blocks live
    until the session GCs them.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


# the session memo (see the module docstring): the application that owns
# the entries, and (sf_dir, key) -> (fingerprint, value)
_memo_app: str | None = None
_memos: dict[tuple, tuple] = {}
_memo_lock = threading.Lock()


def _fingerprint(sf_dir) -> tuple:
    """Sorted (path, st_size, st_mtime_ns) of every file under sf_dir;
    empty when the driver cannot list it."""
    out = []
    for root, dirs, files in os.walk(str(sf_dir)):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(root, name)
            try:
                st = os.stat(path)
            except OSError:
                continue
            out.append((path, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _release(value) -> None:
    if isinstance(value, DataFrame):
        release_checkpoint(value)
        value.unpersist()


def memo(spark, sf_dir, key, build):
    """``build()``'s result, memoized per (sf_dir, key) for the current
    application and rebuilt when the files under sf_dir change."""
    global _memo_app
    app = spark.sparkContext.applicationId
    slot = (str(sf_dir), key)
    fp = _fingerprint(sf_dir)
    # the lock guards the store, not build(): builds nest memo calls
    with _memo_lock:
        if app != _memo_app:
            _memos.clear()  # the old application is gone: no JVM calls
            _memo_app = app
        hit = _memos.get(slot)
        if hit is not None and hit[0] == fp:
            return hit[1]
        stale = _memos.pop(slot, None)
    if stale is not None:
        _release(stale[1])
    value = build()
    with _memo_lock:
        _memos[slot] = (fp, value)
    return value


def clear_memos() -> None:
    """Drop every memo entry (e.g. between per-plan timings)."""
    sc = SparkContext._active_spark_context
    live = sc is not None and sc.applicationId == _memo_app
    with _memo_lock:
        values = [value for _, value in _memos.values()]
        _memos.clear()
    if live:
        for value in values:
            _release(value)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply ``SQL_DEFAULTS`` to an externally-built session (the driver
    hands us one; memory/master are fixed by then)."""
    for k, v in SQL_DEFAULTS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment — keep going
    return spark


def materialize_fully(df) -> int:
    """Benchmark materializer: force evaluation of EVERY output column
    and return the exact row count.

    The old idiom — ``count(hash(*cols))`` — is silently DEFEATED on
    Spark 4.1: Catalyst rewrites count over a provably non-null
    expression into a plain row count, drops the hash entirely, and
    column-prunes the whole projection (verified: ``hash`` absent from
    the physical plan, ``ReadSchema: struct<>`` empty — a map-only
    scoring pipeline collapsed to a parquet footer count). A
    value-dependent AGGREGATE over the hash cannot be pruned: the
    bit_xor checksum changes if any cell changes, so every output
    expression must actually execute. Still collects exactly one row.
    """
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(
            F.xxhash64(*[F.col(c) for c in df.columns])
        ).alias("h"),
    ).collect()[0]["n"]
