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
- A class-data-sharing archive for the driver JVM (``jvm_archive``).
  Each launch maps ``-XX:SharedArchiveFile=<key>.jsa`` from
  ``$XDG_CACHE_HOME/legislative-bills-engine/`` (else ``~/.cache/...``),
  so about half of the ~15k classes a cold pass loads come parsed and
  verified instead of being loaded from the jars. The first launch without an archive
  builds it: a training pass in a child process, about 84 busy CPU-s and
  75 s on 4 vCPUs, 181 MB on disk. An archive is used only after a probe
  JVM of its own has mapped it (a truncated archive crashes the JVM that
  maps it). A conf directory holding only ``*.template`` files is
  swapped for an empty one around the launch (HotSpot needs an empty
  directory on the class path); one with a real file is left alone and
  the JVM runs without the archive. ``-Xshare:off`` in the caller's
  flags (``jvm_archive.caller_java_options``) turns it off. Like the JIT
  profile it applies only when this factory launches the JVM: a context
  restart in a live JVM, the session handed to ``__spark_entry__.entry``
  and a session given to ``tune_session`` get no archive.
- ``lower``/``upper`` without ICU (``spark.sql.icu.caseMappings.enabled``
  off). With Spark 4.1's default (on), the first ``lower()`` in a JVM
  initialises ``CollationAwareUTF8String``, whose static initialiser
  calls ICU's ``toTitleCase`` on all 1,114,112 code points to build a
  title-case table that ``lower`` and ``upper`` never read. A JVM with
  the JIT profile that loads only that class uses 3.9-4.6 CPU-s (2.0-2.3
  s wall), one that loads only ``UTF8String`` 0.4-0.5, and turning the
  conf off cut the peak RSS of the benchmark's cold ingest pass (1 GB heap)
  by 11-14%. Off, ``UTF8String`` maps ASCII itself and anything else
  through ``java.lang.String``. Over the 1,112,064 non-surrogate code
  points the two mappers differ on 134 Unicode 14-16 letters that JDK 17
  does not know (e.g. U+2C2F, U+A7C0, U+019B); on each of them the JVM
  mapper gives DuckDB's ``lower``/``upper`` and ICU does not. Both
  mappers case-map a non-ASCII string in the JVM's default locale (under
  tr-TR either one lowercases its ``I`` to a dotless ``ı``), so the
  driver JVM gets ``-Duser.language=en -Duser.country=US``
  (``JVM_LOCALE``) next to the JIT profile. Like the JIT profile, the
  pin applies only when this factory launches the JVM; a session built
  elsewhere (``__spark_entry__.entry``, ``tune_session``) gets the conf
  but keeps its own JVM's locale.
- The throughput collector for a small driver heap (``COLLECTOR``):
  ``-XX:+UseParallelGC`` when the heap ``get_spark`` asks for
  (``SPARK_GRAFT_DRIVER_MEM``, default ``DRIVER_MEMORY``, 8g) is at most
  ``PARALLEL_GC_MAX_HEAP_MB`` (2 GB), as for the benchmark's 1 GB
  batch passes; a larger heap keeps G1, the JDK's default. On G1, a JVM
  with a fixed heap (``-Xms`` equal to ``-Xmx``, as the benchmark's
  driver runs) grows its young generation to most of the heap, so a
  short pass touches nearly every heap page before its first
  collection, and those pages were most of its peak RSS. ParallelGC
  keeps the young generation at a third of the heap, and its write
  barrier is a plain card mark, so the JIT compiles less barrier code.
  In a GC-logged ``operator_mix`` run on the 1 GB heap, G1 let the heap
  fill to 991 MB before a collection and ParallelGC to 483 MB. Over ten
  paired benchmark runs per seed set (4 vCPUs) the peak RSS of
  ``operator_mix`` fell from about 1.76 GB to 1.24 GB (29-30%) and that
  of the ingest pass from about 1.33 GB to 0.96 GB (28%), while the
  cold passes used 5-9% less busy CPU. The heap limit: long queries on a
  large heap keep gigabytes live (cached blocks, broadcast and
  aggregation state), and ParallelGC copies and compacts all of it in
  stop-the-world pauses where G1 marks concurrently. With the default
  8 GB heap, ``scripts/solo_measure.py`` over five long sf0.1 queries
  paused 12.8-18.0 s on ParallelGC (10-11 ``Pause Full (Ergonomics)``
  while the heap grew to hold up to 2.6 GB live) against 2.3-2.5 s on
  G1, and in two of three alternating series the minimum of
  ``q_matrix_profile`` or ``q_betweenness_sample`` was 29-37% above the
  slower G1 series' minimum; at 2 GB the pauses were 8.5-9.3 s against
  2.5-2.7 s, and every minimum stayed within 15% of G1's.
  The metaspace threshold (``-XX:MetaspaceSize=256m``, under either
  collector): without it ParallelGC runs a stop-the-world
  ``Pause Full (Metadata GC Threshold)`` each time class metadata crosses
  its high-water mark, which starts at about 21 MB; an ``operator_mix``
  run paid two such pauses. A cold pass commits far less than 256 MB of
  metaspace (archived classes do not count), so it runs no
  metadata-triggered collection. A caller's collector wins: HotSpot
  refuses to start with two collectors selected (``Multiple garbage
  collectors selected``), so when the caller's flags
  (``jvm_archive.caller_java_options``, the one reader of them) name one
  (``-XX:[+-]Use...GC``), ``driver_java_options`` leaves out
  ``COLLECTOR`` and keeps the rest.
  Like the JIT profile it applies only when this factory launches the
  JVM: a session built elsewhere keeps its own collector.
- The driver JVM's flags above are one string, ``DRIVER_JAVA_OPTIONS``:
  the launch and the class-data archive's training pass use it, and the
  archive key hashes it, so a changed flag gets an archive of its own.
- A codegen cache of ``CODEGEN_CACHE_ENTRIES`` (1000) generated classes
  (``spark.sql.codegen.cache.maxEntries``, a static conf): at Spark's
  default of 100 the operator mix's first warm pass compiled 20-21 of
  its cold pass's 109 generated classes again; at 1000 it compiles none.
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

Frame lifetimes in loops (``checkpoint_round``): every iterative
operator (PageRank, connected components, k-core, BFS, the fixed-sweep
certificates) ends each round with one call that owns the round's frame.

- It checks the frame in with ``localCheckpoint(eager=True)``, so plan
  depth stays O(1) in rounds.
- Named aggregate columns passed with it (a row count, a label sum) are
  observed on that same job and returned, so a convergence test costs
  no job of its own.
- The frames it ``replaces`` have their blocks released once the new
  checkpoint exists. Without the release, executor storage holds one
  copy per round until a driver GC runs Spark's ContextCleaner.

A loop that keeps its old rounds (BFS levels read by the final union, the
previous k-means sweep) passes nothing to ``replaces`` for them. Lazy
checkpoints (``localCheckpoint(eager=False)``) that a later job
materializes are the caller's own.

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
import re
import threading
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from . import jvm_archive

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
# the driver JVM's default locale, which lower/upper of non-ASCII text
# uses without ICU (see the module docstring)
JVM_LOCALE = "-Duser.language=en -Duser.country=US"
# the throughput collector, for a driver heap of at most
# PARALLEL_GC_MAX_HEAP_MB; a larger heap keeps the JDK's G1 (see the
# module docstring)
COLLECTOR = "-XX:+UseParallelGC"
PARALLEL_GC_MAX_HEAP_MB = 2048
# the driver heap get_spark asks for
DRIVER_MEMORY = "8g"
# the flags of every driver JVM get_spark launches (besides its archive)
# and of the class-data archive's training JVM; the metaspace GC threshold
# lies above a cold pass's metaspace (see the module docstring)
DRIVER_JAVA_OPTIONS = f"{JIT_PROFILE} {JVM_LOCALE} {COLLECTOR} -XX:MetaspaceSize=256m"
# a caller's flag that selects (or deselects) a collector; HotSpot refuses
# to start with two collectors selected
_COLLECTOR_FLAG = re.compile(r"-XX:[+-]Use(?:Serial|Parallel|ParallelOld|G1|Z|Shenandoah|Epsilon|ConcMarkSweep)GC\b")
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
    # lower/upper through UTF8String, not ICU's case mapper
    "spark.sql.icu.caseMappings.enabled": "false",
}
# get_spark's shuffle width unless the caller passes shuffle_partitions
SHUFFLE_PARTITIONS = 32
# spill-aware split sizing: scan partitions stay ~128 MB so a 100 TB
# table fans out to ~800k well-sized tasks rather than fewer oversized
# ones that spill; a deployment changes it with spark.conf.set
MAX_PARTITION_BYTES = "134217728"
# generated classes kept per JVM (see the module docstring)
CODEGEN_CACHE_ENTRIES = "1000"


def session_builder(app_name: str, cpus, shuffle_partitions: int | None, java_options: str):
    """The builder of ``get_spark``'s session, with ``java_options`` as
    the driver JVM's ``defaultJavaOptions``."""
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config(map=SQL_DEFAULTS)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or SHUFFLE_PARTITIONS))
        .config("spark.sql.files.maxPartitionBytes", MAX_PARTITION_BYTES)
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.defaultJavaOptions", java_options)
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "legislative_bills_database_spark.worker_daemon")
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
    )


def driver_memory() -> str:
    """The driver heap: ``SPARK_GRAFT_DRIVER_MEM``, else ``DRIVER_MEMORY``."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEMORY)


def heap_mb(size: str) -> float:
    """A JVM memory size (``1g``, ``1536m``, ``2048``) in MiB; a bare
    number is MiB, as in ``spark.driver.memory``."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", size.strip().lower())
    if m is None:
        raise ValueError(f"not a memory size: {size!r}")
    return int(m[1]) * {"k": 1 / 1024, "": 1, "m": 1, "g": 1024, "t": 1024**2}[m[2]]


def driver_java_options() -> str:
    """``DRIVER_JAVA_OPTIONS`` without ``COLLECTOR`` when the driver heap
    is larger than ``PARALLEL_GC_MAX_HEAP_MB`` (the JVM keeps G1) or when
    the caller names a collector (the caller's collector wins)."""
    if heap_mb(driver_memory()) > PARALLEL_GC_MAX_HEAP_MB or _COLLECTOR_FLAG.search(jvm_archive.caller_java_options()):
        return DRIVER_JAVA_OPTIONS.replace(f" {COLLECTOR}", "")
    return DRIVER_JAVA_OPTIONS


def add_worker_path(spark: SparkSession) -> None:
    """Put the package's parent first on the executors' PYTHONPATH."""
    env = spark.sparkContext.environment
    paths = env.get("PYTHONPATH", "").split(os.pathsep)
    if PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(p for p in [PACKAGE_PARENT, *paths] if p)


def get_spark(
    app_name: str = "legislative-bills-engine",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    launch = SparkContext._gateway is None  # else a restart in the live JVM
    plan = jvm_archive.plan() if launch else jvm_archive.Plan(None)
    builder = session_builder(app_name, cpus, shuffle_partitions, driver_java_options() + plan.java_options)
    with jvm_archive.launch_env(plan):
        spark = builder.getOrCreate()
    if launch:
        jvm_archive.check_mapped(spark.sparkContext._gateway.proc.pid, plan)
    add_worker_path(spark)
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
    plan's ``LogicalRDD`` node. Iterative loops release the round they
    replace through ``checkpoint_round(..., replaces=...)``; call this
    directly only for a frame no later round replaces (a loop's last
    frame, a memo entry). Reaches through the JVM plan (private API), so
    failures are swallowed: worst case is the old behavior, blocks live
    until the session GCs them; a frame that is not a checkpoint (or
    ``None``) is left alone.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def checkpoint_round(df: DataFrame, *metrics: Column, replaces=None):
    """One round of an iterative loop (see "Frame lifetimes in loops" in
    the module docstring): ``df`` checked in with an eager
    ``localCheckpoint``.

    ``metrics``: named aggregate columns, e.g.
    ``F.count(F.lit(1)).alias("n")``, observed on the checkpoint's own
    job. With them the call returns ``(frame, values)``, ``values`` a
    dict by name; without them, the frame.

    ``replaces``: a frame, or a list of frames, that the new one
    replaces; each is released after the new checkpoint exists. ``None``
    entries and frames that are not checkpoints are skipped.
    """
    if metrics:
        obs = Observation()
        out = df.observe(obs, *metrics).localCheckpoint(eager=True)
        values = obs.get
    else:
        out = df.localCheckpoint(eager=True)
    for old in replaces if isinstance(replaces, (list, tuple)) else [replaces]:
        release_checkpoint(old)
    return (out, values) if metrics else out


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
