"""The driver JVM's class-data archive: a dump that fails the probe is
never promoted (a truncated archive crashes the JVM that maps it, never
the caller), a class path that differs from the archive's falls back and
is reported, the key follows the jar listing, a conf directory with a
real file is never hidden, and ``os.environ`` comes back unchanged.

The default-lane tests use a toy class path (one-class jar plus an empty
directory); the ``slow`` one builds the real archive in a fresh cache."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import warnings
import zipfile
from pathlib import Path

import pytest

from conftest import REPO
from legislative_bills_database_spark import jvm_archive
from legislative_bills_database_spark.jvm_archive import (
    CACHE_NAME,
    Plan,
    archive_key,
    build_archive,
    check_mapped,
    launch_class_path,
    launch_env,
    probe,
)

JAVA = jvm_archive.java_binary()
# prints "ready"; with an argument it then waits until stdin closes
HELLO = """
public class Hello {
    public static void main(String[] args) throws Exception {
        System.out.println("ready");
        System.out.flush();
        if (args.length > 0) while (System.in.read() >= 0) {}
    }
}
"""
# the dump, then cut to half its size
TRUNCATED_DUMP = """
import os, subprocess, sys
java, cp, part = sys.argv[1:]
subprocess.run([java, "-XX:ArchiveClassesAtExit=" + part, "-cp", cp, "Hello"], check=True)
os.chmod(part, 0o644)
os.truncate(part, os.path.getsize(part) // 2)
"""


@pytest.fixture(scope="module")
def toy_cp(tmp_path_factory) -> str:
    root = tmp_path_factory.mktemp("toy")
    (root / "Hello.java").write_text(HELLO)
    javac = os.path.join(os.path.dirname(os.path.realpath(JAVA)), "javac")
    subprocess.run([javac, "-d", str(root), str(root / "Hello.java")], check=True, timeout=120)
    with zipfile.ZipFile(root / "toy.jar", "w") as z:
        z.write(root / "Hello.class", "Hello.class")
    (root / "empty").mkdir()
    return os.pathsep.join([f"{root}/empty/", str(root / "toy.jar")])


def dump(cp):
    return lambda part: [JAVA, f"-XX:ArchiveClassesAtExit={part}", "-cp", cp, "Hello"]


def test_truncated_dump_is_never_promoted(toy_cp, tmp_path):
    archive = tmp_path / "key.jsa"
    train = lambda part: [sys.executable, "-c", TRUNCATED_DUMP, JAVA, toy_cp, str(part)]  # noqa: E731
    error = build_archive(archive, train, JAVA, toy_cp)
    assert error is not None and error.startswith("probe JVM exited")
    assert sorted(p.name for p in tmp_path.iterdir()) == ["key.failed", "key.lock", "key.log"]
    assert archive.with_suffix(".failed").read_text() == error + "\n"
    # the marker stops later launches from retraining
    retrain = lambda part: pytest.fail("retrained")  # noqa: E731
    assert build_archive(archive, retrain, JAVA, toy_cp) == error + "\n"


def _mapped_by_a_launch(cp: str, p: Plan) -> tuple[bool, list[str], list[str]]:
    """check_mapped on a live toy JVM launched with ``cp`` and the plan's
    archive, the warnings it gave and what HotSpot printed first."""
    proc = subprocess.Popen(
        [JAVA, f"-XX:SharedArchiveFile={p.archive}", "-cp", cp, "Hello", "wait"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    printed = []
    try:
        for line in proc.stdout:
            if line.strip() == "ready":
                break
            printed.append(line.strip())
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = check_mapped(proc.pid, p)
    finally:
        proc.stdin.close()
        assert proc.wait(timeout=60) == 0
    return got, [str(w.message) for w in caught], printed


def test_class_path_mismatch_falls_back_and_is_reported(toy_cp, tmp_path):
    archive = tmp_path / "key.jsa"
    assert build_archive(archive, dump(toy_cp), JAVA, toy_cp) is None
    assert sorted(p.name for p in tmp_path.iterdir()) == ["key.jsa", "key.lock", "key.log"]
    p = Plan(archive, class_path=toy_cp, java=JAVA)
    assert _mapped_by_a_launch(toy_cp, p) == (True, [], [])

    jar_only = toy_cp.split(os.pathsep)[1]
    assert probe(JAVA, jar_only, archive).startswith("probe JVM exited 1")
    got, warned, printed = _mapped_by_a_launch(jar_only, p)  # the JVM runs on without it
    assert not got and "Unable to use shared archive" in printed[0]
    assert len(warned) == 1 and f"class path {jar_only} differs" in warned[0]


def test_key_changes_when_the_jar_listing_changes(tmp_path, monkeypatch):
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"a")
    cp = launch_class_path(str(tmp_path), str(tmp_path / "conf"))
    assert cp == f"{tmp_path}/conf/:{tmp_path}/jars/*"
    keys = [archive_key(JAVA, str(tmp_path), cp)]
    assert archive_key(JAVA, str(tmp_path), cp) == keys[0]
    (jars / "b.jar").write_bytes(b"b")  # a new jar
    keys.append(archive_key(JAVA, str(tmp_path), cp))
    (jars / "a.jar").write_bytes(b"aa")  # a changed size
    keys.append(archive_key(JAVA, str(tmp_path), cp))
    os.utime(jars / "a.jar", ns=(10**9, 10**9))  # a changed mtime
    keys.append(archive_key(JAVA, str(tmp_path), cp))
    (jars / "b.jar").unlink()  # a removed jar
    keys.append(archive_key(JAVA, str(tmp_path), cp))
    assert len(set(keys)) == len(keys)


@pytest.fixture
def no_build(monkeypatch, tmp_path):
    """A cache under tmp_path and a build that only records its env."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    builds = []

    def fake_build(archive, train, java, class_path, env=None):
        builds.append(env)
        archive.write_bytes(b"")
        return None

    monkeypatch.setattr(jvm_archive, "build_archive", fake_build)
    return builds


def _plan() -> tuple[Plan, list[str]]:
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        p = jvm_archive.plan()
    return p, [str(w.message) for w in caught]


def test_conf_dir_with_a_real_file_is_left_alone(no_build, tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "workers.template").write_text("")
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    before = dict(os.environ)
    p, warned = _plan()
    assert p.archive is None and p.conf_dir is None and p.java_options == ""
    assert len(warned) == 1 and "spark-defaults.conf" in warned[0]
    with launch_env(p):
        assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert dict(os.environ) == before and no_build == []


@pytest.mark.parametrize("own_conf", [False, True])
def test_template_only_conf_dir_is_swapped_only_around_the_launch(no_build, tmp_path, monkeypatch, own_conf):
    if own_conf:
        conf = tmp_path / "conf"
        conf.mkdir()
        (conf / "log4j2.properties.template").write_text("")
        monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    else:  # $SPARK_HOME/conf, which holds only templates
        monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    before = dict(os.environ)
    p, warned = _plan()
    empty = tmp_path / "cache" / CACHE_NAME / "empty-conf"
    assert warned == [] and p.archive.exists() and p.archive.parent == empty.parent
    assert p.conf_dir == str(empty) and p.class_path.startswith(f"{empty}/:")
    assert p.java_options == f" -XX:SharedArchiveFile={p.archive}"
    assert [env["SPARK_CONF_DIR"] for env in no_build] == [str(empty)]
    assert dict(os.environ) == before
    with pytest.raises(RuntimeError, match="launch failed"):
        with launch_env(p):
            assert os.environ["SPARK_CONF_DIR"] == str(empty)
            raise RuntimeError("launch failed")
    assert dict(os.environ) == before
    assert _plan() == (p, []) and len(no_build) == 1  # built once


def test_no_archive_without_a_writable_cache_or_with_xshare_off(no_build, tmp_path, monkeypatch):
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    p, warned = _plan()
    assert p.archive is None and len(warned) == 1 and "without the class-data archive" in warned[0]
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--conf spark.driver.extraJavaOptions=-Xshare:off pyspark-shell")
    assert _plan() == (Plan(None), []) and no_build == []


# get_spark in a fresh interpreter (so it launches a JVM); prints the
# .jsa files the JVM maps, whether os.environ came back unchanged and
# the warnings; argv[1] is the repository root
_LAUNCH = """
import json, os, sys, warnings
sys.path.insert(0, sys.argv[1])
from legislative_bills_database_spark.session import get_spark
before = dict(os.environ)
with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    spark = get_spark(app_name="class-archive", cpus=1)
try:
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/maps") as f:
        maps = sorted({ln.split()[-1] for ln in f if ln.rstrip().endswith(".jsa")})
    # pyspark's SparkContext exports these two itself, archive or not
    own = {"SPARK_BUFFER_SIZE", "SPARK_AUTH_SOCKET_TIMEOUT"} - set(before)
    after = {k: v for k, v in os.environ.items() if k not in own}
    print(json.dumps({"maps": maps, "environ_same": after == before,
                      "warnings": [str(w.message) for w in caught]}))
finally:
    spark.stop()
"""


@pytest.mark.slow  # a training pass and three more JVMs
def test_first_launch_builds_the_archive_and_later_launches_map_it(tmp_path):
    cache = tmp_path / "cache"
    submit = f"--conf spark.local.dir={tmp_path} pyspark-shell"

    def launch(submit_args: str) -> dict:
        env = dict(os.environ, XDG_CACHE_HOME=str(cache), PYSPARK_SUBMIT_ARGS=submit_args)
        out = subprocess.run(
            [sys.executable, "-c", _LAUNCH, str(REPO)],
            env=env, cwd=tmp_path, capture_output=True, text=True, timeout=900,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    first = launch(submit)
    archives = [str(p) for p in (cache / CACHE_NAME).glob("*.jsa")]
    assert len(archives) == 1 and not list((cache / CACHE_NAME).glob("*.part"))
    for run in (first, launch(submit)):
        assert archives[0] in run["maps"] and run["environ_same"] and run["warnings"] == []
    off = launch(f"--conf spark.driver.extraJavaOptions=-Xshare:off {submit}")
    assert off == {"maps": [], "environ_same": True, "warnings": []}
