"""The session factory's JIT profile reaches the driver JVM, and a
caller's ``extraJavaOptions`` still win over it; its Python UDFs run in
one pool forked from the package's worker daemon, which re-reads a zip
archive's directory only when the archive changed."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import REPO
from legislative_bills_database_spark.session import PACKAGE_PARENT, get_spark
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


def test_jit_profile_reaches_driver_jvm(spark):
    assert vm_options(spark, FLAGS) == FLAGS


# a fresh interpreter, so get_spark launches a JVM of its own;
# argv[1] is the repository root
_CHILD = """
import json, sys
sys.path[:0] = [sys.argv[1], sys.argv[1] + "/tests"]
from legislative_bills_database_spark.session import get_spark
from test_session import FLAGS, vm_options
spark = get_spark(app_name="jit-override", cpus=1)
try:
    print(json.dumps(vm_options(spark, FLAGS)))
finally:
    spark.stop()
"""


@pytest.mark.slow  # launches a second JVM
def test_caller_extra_java_options_override_profile(tmp_path):
    env = dict(os.environ)
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.driver.extraJavaOptions=-XX:Tier4InvocationThreshold=7000"
        f" --conf spark.local.dir={tmp_path} pyspark-shell"
    )
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(REPO)],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {**FLAGS, "Tier4InvocationThreshold": "7000"}


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
