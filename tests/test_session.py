"""The session factory's JIT profile reaches the driver JVM, and a
caller's ``extraJavaOptions`` still win over it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from conftest import REPO

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
