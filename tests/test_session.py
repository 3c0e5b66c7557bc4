"""The session factory's JIT profile and collector reach the driver JVM,
and a caller's ``extraJavaOptions`` (a collector among them) still win
over them; the session carries the
codegen cache size; its Python UDFs run in
one pool forked from the package's worker daemon, which re-reads a zip
archive's directory only when the archive changed. The session memo
returns the stored object on a hit, rebuilds (and releases) an entry
whose input files changed, and belongs to one application."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import zipfile
import zipimport
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import REPO, SF_DIR
from legislative_bills_database_spark import session
from legislative_bills_database_spark.plans import ORACLE, QUERIES
from legislative_bills_database_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    PACKAGE_PARENT,
    SQL_DEFAULTS,
    get_spark,
    memo,
    scoped_conf,
)
from tests.oracle_util import compare
from legislative_bills_database_spark.worker_daemon import invalidate_caches

FLAGS = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
}


def vm_options(spark, names):
    """Effective values of HotSpot flags in the session's driver JVM."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return {n: bean.getVMOption(n).getValue() for n in names}


def gc_flags(parallel: bool) -> dict:
    """The collector flags of a driver JVM on ParallelGC or on G1, with
    the metaspace GC threshold (256 MB) either way."""
    return {"UseParallelGC": str(parallel).lower(), "UseG1GC": str(not parallel).lower(),
            "MetaspaceSize": "268435456"}


def test_jit_profile_reaches_driver_jvm(spark):
    # the fixture's heap is the default 8g unless SPARK_GRAFT_DRIVER_MEM says otherwise
    parallel = session.heap_mb(session.driver_memory()) <= session.PARALLEL_GC_MAX_HEAP_MB
    want = {**FLAGS, **gc_flags(parallel)}
    assert vm_options(spark, want) == want


@pytest.mark.parametrize(("size", "parallel"), [
    ("1g", True), ("2048m", True), ("2048", True), ("2049m", False), ("8g", False),
])
def test_parallel_gc_only_up_to_a_2g_heap(monkeypatch, tmp_path, size, parallel):
    for v in ("PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS"):
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", size)
    opts = session.driver_java_options()
    assert (session.COLLECTOR in opts) == parallel
    assert "-XX:MetaspaceSize=256m" in opts


@pytest.mark.parametrize("var", ["PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "spark-defaults.conf"])
def test_a_caller_collector_replaces_the_profile_collector(monkeypatch, tmp_path, var):
    for v in ("PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS"):
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")

    def caller(options):
        if var == "spark-defaults.conf":
            (tmp_path / var).write_text(f"spark.driver.extraJavaOptions {options}\n")
        else:
            monkeypatch.setenv(var, options)

    assert session.driver_java_options() == session.DRIVER_JAVA_OPTIONS
    assert session.COLLECTOR in session.DRIVER_JAVA_OPTIONS
    caller("-Xss2m -XX:+UseSerialGC")
    opts = session.driver_java_options()
    assert session.COLLECTOR not in opts and "-XX:MetaspaceSize=256m" in opts
    assert opts == session.DRIVER_JAVA_OPTIONS.replace(f" {session.COLLECTOR}", "")
    caller("-XX:+UseGCOverheadLimit -XX:+UseAdaptiveSizePolicyWithSystemGC")
    assert session.driver_java_options() == session.DRIVER_JAVA_OPTIONS


# a fresh interpreter, so get_spark launches a JVM of its own;
# argv[1] is the repository root
_CHILD = """
import json, sys
sys.path[:0] = [sys.argv[1], sys.argv[1] + "/tests"]
from legislative_bills_database_spark.session import get_spark
from test_session import FLAGS, gc_flags, vm_options
spark = get_spark(app_name="jit-override", cpus=1)
try:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    print(json.dumps({"flags": vm_options(spark, {**FLAGS, **gc_flags(True)}),
                      "gc": sorted(b.getName() for b in beans)}))
finally:
    spark.stop()
"""


def _launch(tmp_path, extra_java_options: str = "") -> dict:
    """Flags and collector names of a JVM that get_spark launches with a
    1 GB heap and ``extra_java_options``."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    extra = f"--conf spark.driver.extraJavaOptions={extra_java_options} " if extra_java_options else ""
    env["PYSPARK_SUBMIT_ARGS"] = f"{extra}--conf spark.local.dir={tmp_path} pyspark-shell"
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(REPO)],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_small_heap_driver_jvm_runs_parallel_gc(tmp_path):
    got = _launch(tmp_path)
    assert got["flags"] == {**FLAGS, **gc_flags(True)}
    assert got["gc"] == ["PS MarkSweep", "PS Scavenge"]


@pytest.mark.slow  # launches a second JVM
def test_caller_extra_java_options_override_profile(tmp_path):
    got = _launch(tmp_path, "-XX:Tier4InvocationThreshold=7000")
    assert got["flags"] == {**FLAGS, "Tier4InvocationThreshold": "7000", **gc_flags(True)}


@pytest.mark.slow  # launches a second JVM
def test_caller_collector_overrides_profile_collector(tmp_path):
    # with both collectors selected HotSpot would not start
    got = _launch(tmp_path, "-XX:+UseG1GC")
    assert got["gc"] and all(name.startswith("G1 ") for name in got["gc"]), got["gc"]
    assert got["flags"] == {**FLAGS, **gc_flags(False)}


def test_arrow_udfs_fork_from_one_worker_daemon(spark):
    @F.pandas_udf("long")
    def parent_pid(s: pd.Series) -> pd.Series:
        return pd.Series([os.getppid()] * len(s))

    def parent_pids(batches):
        for b in batches:
            yield pd.DataFrame({"ppid": [os.getppid()] * len(b)})

    df = spark.range(0, 8, 1, 4)
    scalar = {r[0] for r in df.select(parent_pid("id")).collect()}
    mapped = {r[0] for r in df.mapInPandas(parent_pids, "ppid long").collect()}
    assert len(scalar) == 1 and scalar == mapped
    cmdline = Path(f"/proc/{scalar.pop()}/cmdline").read_bytes().split(b"\0")
    assert b"legislative_bills_database_spark.worker_daemon" in cmdline


def test_worker_pythonpath_goes_before_a_prior_value(spark):
    env = spark.sparkContext.environment
    saved = env["PYTHONPATH"]
    env["PYTHONPATH"] = "/prior"
    try:
        assert get_spark(app_name="lbd-tests", cpus=4, shuffle_partitions=8) is spark
        assert env["PYTHONPATH"] == os.pathsep.join([PACKAGE_PARENT, "/prior"])
    finally:
        env["PYTHONPATH"] = saved


def test_zip_directory_reread_only_when_archive_changes(tmp_path):
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "A = 1\n")
    importer = zipimport.zipimporter(str(archive))
    invalidate_caches(importer)  # the first call in a process reads
    files = importer._files
    invalidate_caches(importer)
    assert importer._files is files  # unchanged: not re-read
    assert importer.find_spec("b") is None

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "A = 1\n")
        z.writestr("b.py", "B = 2\n")
    invalidate_caches(importer)
    assert importer._files is not files  # rewritten: re-read
    assert importer.find_spec("b") is not None


# get_spark from a directory outside the repository, with the package on
# the driver's sys.path only; argv[1] is the repository root
_UDF_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql import functions as F
from legislative_bills_database_spark.session import get_spark

spark = get_spark(app_name="udf-outside-repo", cpus=1)
try:
    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    print(sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
finally:
    spark.stop()
"""


@pytest.mark.slow  # launches a second JVM
def test_python_udf_runs_from_outside_the_repository(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.local.dir={tmp_path} pyspark-shell"
    out = subprocess.run(
        [sys.executable, "-c", _UDF_CHILD, str(REPO)],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[1, 2, 3]"


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _checkpointed(df):
    return df.localCheckpoint(eager=True)


def _persisted(df):
    df = df.persist()
    df.count()
    return df


def test_memo_hit_returns_the_stored_object(spark, tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"x")
    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    df = memo(spark, tmp_path, "frame", build)
    assert memo(spark, tmp_path, "frame", build) is df
    arr = memo(spark, tmp_path, ("fit", 2), lambda: np.arange(2))
    assert memo(spark, tmp_path, ("fit", 2), lambda: np.zeros(2)) is arr
    assert len(builds) == 1


@pytest.mark.parametrize("materialize", [_checkpointed, _persisted])
def test_memo_rebuilds_and_releases_when_files_change(spark, tmp_path, materialize):
    table = tmp_path / "t.parquet"
    table.write_bytes(b"x")
    before = _persistent_rdds(spark)
    old = memo(spark, tmp_path, "frame", lambda: materialize(spark.range(10)))
    built = _persistent_rdds(spark)
    assert built - before
    table.write_bytes(b"xy")  # a rewritten input table
    new = memo(spark, tmp_path, "frame", lambda: spark.range(5))
    assert new is not old and new.count() == 5
    released = _persistent_rdds(spark)
    assert len(released) < len(built)
    assert not (built - before) & released


def test_memo_from_another_application_evicts_every_entry(spark, tmp_path):
    memo(spark, tmp_path, "a", lambda: 1)
    memo(spark, tmp_path, "b", lambda: 2)
    other = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="other-app"))
    assert memo(other, tmp_path, "c", lambda: 3) == 3
    assert list(session._memos) == [(str(tmp_path), "c")]
    assert memo(spark, tmp_path, "a", lambda: 4) == 4


def test_memo_survives_concurrent_callers_and_rewrites(tmp_path):
    table = tmp_path / "t.parquet"
    table.write_bytes(b"x")
    app = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="threads-app"))
    errors = []

    def call(i):
        try:
            for _ in range(200):
                assert memo(app, tmp_path, ("k", i % 4), lambda: i % 4) == i % 4
        except Exception as e:  # collected and asserted on below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for n in range(200):
            table.write_bytes(b"x" * (n + 2))
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert sorted(k for _, k in session._memos) == [("k", i) for i in range(4)]


@pytest.mark.parametrize("name", ["q_cc_labels", "q_item_cf_recs"])
def test_memoized_queries_follow_a_rewritten_table(spark, tmp_path, name):
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    for f in os.listdir(SF_DIR):
        shutil.copyfile(os.path.join(SF_DIR, f), sf_dir / f)
    assert compare(QUERIES[name](spark, str(sf_dir)), ORACLE[name], str(sf_dir)) == []
    lineitem = sf_dir / "lineitem.parquet"
    table = pq.read_table(lineitem)
    even = table.filter(pc.equal(pc.bit_wise_and(table["l_orderkey"], 1), 0))
    pq.write_table(even, lineitem)
    assert compare(QUERIES[name](spark, str(sf_dir)), ORACLE[name], str(sf_dir)) == []


UNSET_KEY = "spark.sql.optimizer.windowGroupLimitThreshold"
SET_KEY = "spark.sql.shuffle.partitions"


def test_session_carries_the_sql_defaults(spark):
    assert {k: spark.conf.get(k) for k in SQL_DEFAULTS} == SQL_DEFAULTS


def test_session_carries_the_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == CODEGEN_CACHE_ENTRIES == "1000"


def test_scoped_conf_restores_unset_and_set_keys(spark):
    before = spark.conf.getAll
    assert UNSET_KEY not in before and SET_KEY in before
    with scoped_conf(spark, {UNSET_KEY: "-1", SET_KEY: "3"}):
        assert spark.conf.get(UNSET_KEY) == "-1"
        assert spark.conf.get(SET_KEY) == "3"
    assert spark.conf.get(UNSET_KEY, None) is None
    assert spark.conf.get(SET_KEY) == before[SET_KEY]
    assert spark.conf.getAll == before


def test_scoped_conf_restores_when_the_body_raises(spark):
    before = spark.conf.getAll
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {UNSET_KEY: "-1", SET_KEY: "3"}):
            raise RuntimeError("boom")
    assert spark.conf.getAll == before


def test_scoped_conf_nests(spark):
    before = spark.conf.getAll
    with scoped_conf(spark, {UNSET_KEY: "1000", SET_KEY: "3"}):
        with scoped_conf(spark, {UNSET_KEY: "-1", SET_KEY: "5"}):
            assert spark.conf.get(UNSET_KEY) == "-1"
            assert spark.conf.get(SET_KEY) == "5"
        assert spark.conf.get(UNSET_KEY) == "1000"
        assert spark.conf.get(SET_KEY) == "3"
    assert spark.conf.getAll == before
