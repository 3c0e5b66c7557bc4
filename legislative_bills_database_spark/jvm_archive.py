"""Class-data-sharing (AppCDS) archive for the driver JVM that
``session.get_spark`` launches.

A cold pass of the engine is a short batch job in a fresh JVM, and after
the JIT the next fixed cost of such a JVM is loading and verifying some
14k Spark, Catalyst, Hadoop and Parquet classes. A dynamic CDS archive
(JEP 350) holds those classes already parsed and verified; HotSpot maps
it at launch instead of loading them from the jars.

- Where: ``$XDG_CACHE_HOME/legislative-bills-engine/`` (else
  ``~/.cache/legislative-bills-engine/``), as ``<key>.jsa``. The key names
  the JDK and Spark versions and hashes the ``java`` binary, its
  ``release`` file, the launch class path as Spark's launcher builds it
  (conf directory, ``slf4j-api``, ``jars/*``, ``HADOOP_CONF_DIR``,
  ``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH``), the name, size and mtime
  of every jar and the training JVM's flags, so a new JDK, Spark, jar or
  training recipe gets an archive of its own. If the directory is not writable the JVM runs without an archive
  (one warning).
- Build: the first ``get_spark`` that launches a JVM and finds no archive
  runs a training pass first, in a child Python process (``python -m
  legislative_bills_database_spark.jvm_archive --train <part>``): it
  writes a tiny fixed LegiScan tree, runs ``stage_document_model``, the
  three pipelines and one Arrow ``toPandas`` in a JVM launched with
  ``-XX:ArchiveClassesAtExit`` and ``-Xbatch``, and exits once that JVM
  and its Python workers have. ``-Xbatch`` keeps the JIT's queue empty
  at the dump: on JDK 17 a method that is queued for compilation when
  the archive is written stays marked as queued in it, and a JVM that
  maps the archive never compiles it (measured: Hadoop's XML parser ran
  interpreted, and each ``new Configuration()`` took 26 ms instead of
  15 ms, so every context restart cost more). JVM flags are fixed at launch, so the dump cannot happen
  in the caller's JVM; the child also keeps the caller's memory and JVM
  untouched and contains a crash. Builders serialise on ``<key>.lock``
  (``flock``). A failed build leaves ``<key>.failed`` with its reason,
  and later launches run without an archive instead of retraining;
  delete that file to retry.
- Crash safety: on JDK 17 a truncated dynamic archive does not fall
  back, the JVM dies with SIGBUS while relocating it (also under
  ``-XX:+VerifySharedSpaces`` and ``-Xshare:on -version``). So the dump
  goes to ``<key>.<pid>.part``, a probe JVM of its own
  (``java -cp <class path> -XX:SharedArchiveFile=<part> -Xshare:on
  -version``) must exit 0, and only then ``os.replace`` makes it
  ``<key>.jsa``. A launch is only ever handed a promoted archive.
- The conf directory: HotSpot refuses to dump while a non-empty directory
  is on the class path, and maps an archive only if the class path at
  launch equals the one at dump, non-empty directories included. Spark
  puts its conf directory (``SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``)
  first on the class path. When every entry of that directory is a
  ``*.template`` file (which Spark never reads), the training launch and
  every real launch point ``SPARK_CONF_DIR`` at the empty directory
  ``empty-conf/`` in the cache, and put ``os.environ`` back right after
  the launch. A conf directory with any real file (``spark-defaults.conf``,
  ``log4j2.properties``, ...) is left alone, and the JVM runs without an
  archive (one warning).
- Use: the launch gets ``-XX:SharedArchiveFile=<key>.jsa`` in
  ``spark.driver.defaultJavaOptions``. Afterwards ``/proc/<pid>/maps`` of
  the JVM must list the archive; if not, one warning names the reason
  when it is known (e.g. a class path that differs from the archive's),
  and nothing is rebuilt.
- Off switch: ``-Xshare:off`` in ``spark.driver.extraJavaOptions`` (e.g. in
  ``PYSPARK_SUBMIT_ARGS``): no build, and HotSpot maps nothing.
- Only launches by ``get_spark`` get the archive. A context restart in a
  live JVM, the session handed to ``__spark_entry__.entry`` and any
  session given to ``session.tune_session`` keep the JVM they have.

Build (or check) the archive ahead of time, e.g. before paired benchmark
runs, and print its key, path, size and whether a fresh JVM maps it::

    python -m legislative_bills_database_spark.jvm_archive
"""

from __future__ import annotations

import fcntl
import glob
import hashlib
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import warnings
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

CACHE_NAME = "legislative-bills-engine"
MODULE = "legislative_bills_database_spark.jvm_archive"
# the training JVM compiles in the foreground (-Xbatch): a method still in
# the JIT's queue when HotSpot dumps the archive keeps its queued mark in
# it, and a JVM that maps the archive then never compiles that method
TRAIN_JAVA_OPTIONS = "-Xbatch"
# a training pass takes about a minute on 4 vCPUs; this bounds a hung one
TRAIN_TIMEOUT_S = 900
PROBE_TIMEOUT_S = 120

_warned: set[str] = set()


def warn_once(msg: str) -> None:
    if msg not in _warned:
        _warned.add(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=3)


def cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / CACHE_NAME


def java_binary() -> str:
    """The ``java`` that ``spark-class`` runs."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else (shutil.which("java") or "java")


def _dir_entry(path: str) -> str:
    return path if path.endswith("/") else path + "/"


def launch_class_path(spark_home: str, conf_dir: str) -> str:
    """The driver class path as Spark's launcher builds it for an
    installed distribution (``AbstractCommandBuilder.buildClassPath``)."""
    jars = os.path.join(spark_home, "jars")
    cp = [_dir_entry(conf_dir), *sorted(glob.glob(os.path.join(jars, "slf4j-api-*.jar"))), jars + "/*"]
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        if os.environ.get(var):
            cp.append(_dir_entry(os.environ[var]) if os.path.isdir(os.environ[var]) else os.environ[var])
    cp += [p for p in os.environ.get("SPARK_DIST_CLASSPATH", "").split(os.pathsep) if p]
    return os.pathsep.join(cp)


def _java_release(java: str) -> str:
    home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    try:
        return Path(home, "release").read_text()
    except OSError:
        return ""


def archive_key(java: str, spark_home: str, class_path: str) -> str:
    """``jdk<version>-spark<version>-<hash>`` for this JDK, Spark and
    launch class path (see the module docstring)."""
    import pyspark

    real = os.path.realpath(java)
    release = _java_release(java)
    version = next(
        (ln.split("=", 1)[1].strip('"') for ln in release.splitlines() if ln.startswith("JAVA_VERSION=")),
        "unknown",
    )
    h = hashlib.sha256()
    st = os.stat(real) if os.path.exists(real) else None
    h.update(repr((real, st and (st.st_size, st.st_mtime_ns), release, pyspark.__version__,
                   TRAIN_JAVA_OPTIONS)).encode())
    h.update(class_path.encode())
    for entry in class_path.split(os.pathsep):
        if entry.endswith("/*"):
            jars = sorted(glob.glob(entry[:-1] + "*.jar"))
        else:
            jars = [entry] if os.path.isfile(entry) else []
        for jar in jars:
            st = os.stat(jar)
            h.update(f"\0{os.path.basename(jar)}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return f"jdk{version}-spark{pyspark.__version__}-{h.hexdigest()[:16]}"


@dataclass
class Plan:
    """How ``get_spark`` launches the JVM: ``archive`` to map (None: run
    without), ``conf_dir`` to set as ``SPARK_CONF_DIR`` around the launch
    (None: leave it), ``class_path`` the launch class path expected."""

    archive: Path | None
    conf_dir: str | None = None
    class_path: str = ""
    java: str = ""

    @property
    def java_options(self) -> str:
        return f" -XX:SharedArchiveFile={self.archive}" if self.archive else ""


def _xshare_off() -> bool:
    return "-Xshare:off" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")


def plan() -> Plan:
    """The archive for the next JVM launch, built first if it is missing
    (see the module docstring)."""
    from pyspark.find_spark_home import _find_spark_home

    if _xshare_off():
        return Plan(None)
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        real = sorted(f for f in os.listdir(conf) if not f.endswith(".template"))
    except FileNotFoundError:
        real = []
    except OSError as e:
        real = [f"unreadable ({e})"]
    if real:
        warn_once(
            f"Spark conf directory {conf} holds {', '.join(real)}; the driver JVM runs "
            "without the class-data archive (it needs an empty conf directory)"
        )
        return Plan(None)
    cache = cache_dir()
    empty = cache / "empty-conf"
    try:
        empty.mkdir(parents=True, exist_ok=True)
        if not os.access(cache, os.W_OK | os.X_OK) or any(empty.iterdir()):
            raise PermissionError(f"{cache} is not writable or {empty} is not empty")
    except OSError as e:
        warn_once(f"the driver JVM runs without the class-data archive: {e}")
        return Plan(None)
    java = java_binary()
    class_path = launch_class_path(spark_home, str(empty))
    archive = cache / f"{archive_key(java, spark_home, class_path)}.jsa"
    out = Plan(archive, str(empty), class_path, java)
    if archive.exists():
        return out
    failed = archive.with_suffix(".failed")
    error = failed.read_text() if failed.exists() else None
    if error is None:
        from .session import PACKAGE_PARENT

        env = dict(os.environ, SPARK_CONF_DIR=str(empty))
        env["PYTHONPATH"] = os.pathsep.join(p for p in [PACKAGE_PARENT, env.get("PYTHONPATH", "")] if p)
        error = build_archive(
            archive, lambda part: [sys.executable, "-m", MODULE, "--train", str(part)],
            java, class_path, env,
        )
    if error is not None:
        warn_once(f"the driver JVM runs without the class-data archive {archive}: {error.strip()}")
        out.archive = None
    return out


def probe(java: str, class_path: str, archive: Path) -> str | None:
    """None if a JVM of its own maps ``archive`` with ``class_path``,
    else why not (a corrupt archive may crash that JVM, never this
    process)."""
    crash_log = Path(f"{archive}.crash.log")
    cmd = [java, "-cp", class_path, f"-XX:SharedArchiveFile={archive}", "-Xshare:on",
           "-XX:-CreateCoredumpOnCrash", f"-XX:ErrorFile={crash_log}", "-version"]
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=PROBE_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"probe JVM failed: {e}"
    finally:
        crash_log.unlink(missing_ok=True)
    if out.returncode == 0:
        return None
    tail = " | ".join(out.stdout.strip().splitlines()[-3:] + out.stderr.strip().splitlines()[-3:])
    return f"probe JVM exited {out.returncode}: {tail}"


def build_archive(archive: Path, train, java: str, class_path: str, env: dict | None = None) -> str | None:
    """Build ``archive`` unless it exists: run ``train(part)`` (a command
    whose JVM dumps to ``part`` at exit), probe ``part`` and promote it.
    Returns None on success, else the reason, also written to the
    ``.failed`` marker. Serialised across processes by ``.lock``."""
    failed = archive.with_suffix(".failed")
    log = archive.with_suffix(".log")
    with open(archive.with_suffix(".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # released when the file closes
        if archive.exists():
            return None
        if failed.exists():
            return failed.read_text()
        # left over from builders that died: none is running while we hold the lock
        for stale in archive.parent.glob(f"{archive.stem}.*.part"):
            stale.unlink(missing_ok=True)
        part = archive.parent / f"{archive.stem}.{os.getpid()}.part"
        t0 = time.perf_counter()
        try:
            with open(log, "w") as fh:
                # a session of its own: the child's JVM stays in its group
                child = subprocess.Popen(train(part), env=env, stdin=subprocess.DEVNULL, stdout=fh,
                                         stderr=subprocess.STDOUT, start_new_session=True)
        except OSError as e:
            error = f"training pass failed: {e}"
        else:
            try:
                rc = child.wait(timeout=TRAIN_TIMEOUT_S)
                error = None if rc == 0 else f"training pass exited {rc} (log: {log})"
            except subprocess.TimeoutExpired:
                os.killpg(child.pid, signal.SIGKILL)
                child.wait()
                error = f"training pass timed out after {TRAIN_TIMEOUT_S} s (log: {log})"
            # also after a crash of the child, its JVM dumps at exit: wait for it
            _reap_group(child.pid)
        if error is None and not part.exists():
            error = f"training pass left no archive (log: {log})"
        if error is None:
            error = probe(java, class_path, part)
        if error is None:
            os.replace(part, archive)
            with open(log, "a") as fh:
                fh.write(f"\nbuilt {archive} ({archive.stat().st_size} bytes) in "
                         f"{time.perf_counter() - t0:.1f} s\n")
            return None
        part.unlink(missing_ok=True)
        failed.write_text(error + "\n")
        return error


@contextmanager
def launch_env(p: Plan):
    """``SPARK_CONF_DIR`` as the plan says for the body, then
    ``os.environ`` as it was."""
    prev = os.environ.get("SPARK_CONF_DIR")
    if p.conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = p.conf_dir
    try:
        yield
    finally:
        if prev is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = prev


def check_mapped(pid: int, p: Plan) -> bool:
    """Whether the JVM ``pid`` maps the plan's archive; warns once with
    the reason (when known) if it does not."""
    if p.archive is None:
        return False
    try:
        with open(f"/proc/{pid}/maps") as f:
            if any(line.rstrip("\n").endswith(str(p.archive)) for line in f):
                return True
    except OSError:
        pass
    try:
        argv = Path(f"/proc/{pid}/cmdline").read_bytes().decode().split("\0")
    except OSError:
        argv = []
    if "-Xshare:off" in argv:
        return False  # the caller turned it off
    cp = argv[argv.index("-cp") + 1] if "-cp" in argv[:-1] else None
    if cp is not None and cp != p.class_path:
        why = f"the JVM's class path {cp} differs from the archive's {p.class_path}"
    else:
        why = "reason unknown; add -Xlog:cds to spark.driver.extraJavaOptions to see HotSpot's"
    warn_once(f"the driver JVM did not map the class-data archive {p.archive}: {why}")
    return False


def _processes() -> dict[int, tuple[int, int]]:
    """(ppid, process group) of every live process but zombies, by pid."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    state, ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
            except (OSError, ValueError):
                continue
            if state != "Z":
                out[int(d)] = (int(ppid), int(pgrp))
    return out


def _descendants(pid: int) -> set[int]:
    procs = _processes()
    out, todo = set(), [pid]
    while todo:
        parent = todo.pop()
        for child, (ppid, _) in procs.items():
            if ppid == parent and child not in out:
                out.add(child)
                todo.append(child)
    return out


def _wait_gone(pids, timeout: float) -> set[int]:
    """Wait up to ``timeout`` s until none of ``pids()`` is left; returns
    what is left."""
    deadline = time.monotonic() + timeout
    while (left := pids()) and time.monotonic() < deadline:
        time.sleep(0.1)
    return left


def _reap_group(pgid: int, timeout: float = 120) -> None:
    """Wait until process group ``pgid`` is gone, killing it after ``timeout`` s."""
    members = lambda: {p for p, (_, g) in _processes().items() if g == pgid}  # noqa: E731
    if _wait_gone(members, timeout):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _wait_gone(members, 30)


def _training_tree(root: Path):
    """A tiny fixed LegiScan tree: one session of bills and people JSON,
    one SBUD PDF, and an in-process ``getBillText`` transport."""
    import base64

    from .sources.documents import session_dir, session_title
    from .sources.extract import make_simple_pdf

    title = session_title(2023)
    people = {101: ("Sen", "Ada One", "SD-03"), 102: ("Rep", "Bo Two", "HD-11"), 16285: ("Sen", "Bill Dodd", "SD-03")}
    for pid, (role, name, district) in people.items():
        d = Path(session_dir(str(root / "data"), title, "people"))
        d.mkdir(parents=True, exist_ok=True)
        person = {"people_id": pid, "role": role, "name": name, "district": district, "committee_id": 0}
        (d / f"{pid}.json").write_text(json.dumps({"person": person}))
    bills = [("AB101", 4, [101], "housing budget"), ("SB2", 4, [102, 999], "transit"), ("AB3", 2, [16285], "water")]
    for i, (number, status, sponsors, words) in enumerate(bills):
        d = Path(session_dir(str(root / "data"), title, "bill"))
        d.mkdir(parents=True, exist_ok=True)
        bill = {
            "bill_number": number, "bill_type": "B", "status": status, "status_date": "2023-06-01",
            "title": f"{words} act", "description": f"relating to {words}",
            "session": {"session_name": title},
            "texts": [{"doc_id": 10 * i + 1, "type": "Introduced", "state_link": "https://x/1"},
                      {"doc_id": 10 * i + 2, "type": "Chaptered", "state_link": "https://x/2#v"}],
            "sponsors": [{"people_id": p, "sponsor_type_id": 1} for p in sponsors],
        }
        (d / f"{number}.json").write_text(json.dumps({"bill": bill}))
    (root / "pdf").mkdir()
    pdf = make_simple_pdf(["SUMMARY OF BUDGET BILLS 2023", "  AB 101  transit reserve", "Item 1000-001"])
    (root / "pdf" / "2023_SBUD.pdf").write_bytes(pdf)
    html = base64.b64encode(b"<html><body><p>budget transit reserve</p></body></html>").decode()

    def transport(url: str, params: dict) -> tuple[int, dict]:
        return 200, {"text": {"doc": html}}

    return str(root / "data"), str(root / "pdf"), transport


def train(part: str) -> None:
    """The training pass (run in a child process; see the module
    docstring): launch a JVM that dumps its classes to ``part`` at exit,
    run the pipelines on the tiny tree, then stop the JVM and wait until
    it and its Python workers have exited."""
    import tempfile

    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from . import session
    from .pipelines import budget_bill_search as bbs
    from .sources import documents, extract, rest

    # the package re-exports functions under these two module names
    lbc = importlib.import_module("legislative_bills_database_spark.pipelines.legislator_bill_counts")
    sab = importlib.import_module("legislative_bills_database_spark.pipelines.search_all_bills")

    with tempfile.TemporaryDirectory(prefix="lbe-train-") as tmp:
        os.chdir(tmp)
        data_root, pdf_dir, transport = _training_tree(Path(tmp))
        java_options = f"{session.JIT_PROFILE} {TRAIN_JAVA_OPTIONS} -XX:ArchiveClassesAtExit={part}"
        spark = session.session_builder("legislative-bills-engine-train", 2, None, java_options).getOrCreate()
        session.add_worker_path(spark)
        proc = SparkContext._gateway.proc
        out = f"{tmp}/out"
        bills, _ = documents.stage_document_model(spark, data_root, f"{tmp}/staging", force=True)
        lbc.run_legislator_bill_counts(spark, data_root, out, run_id="train")
        sab.run_search_all_bills(spark, data_root, out, ["housing", "transit"], [2023], run_id="train")
        lines = extract.read_pdf_lines(spark, f"{pdf_dir}/*.pdf").select(
            F.regexp_extract("path", r"([0-9]{4})_SBUD\.pdf$", 1).cast("int").alias("year"), "line"
        )
        client = rest.RestClient("https://api.legiscan.invalid/", "train", transport=transport,
                                 rate_limit_per_sec=1e12)
        bbs.run_budget_bill_search(spark, client, bills, lines, f"{tmp}/dl", out, ["transit"], run_id="train")
        bills.toPandas()
        workers = _descendants(proc.pid)
        spark.stop()
        SparkContext._gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway exits when its stdin closes; HotSpot dumps then
        if proc.wait(timeout=TRAIN_TIMEOUT_S) != 0:
            raise SystemExit(f"training JVM exited {proc.returncode}")
        _wait_gone(lambda: workers & set(_processes()), 60)


def main(argv: list[str]) -> int:
    if argv[:1] == ["--train"] and len(argv) == 2:
        train(argv[1])
        return 0
    if argv:
        print(f"usage: python -m {MODULE}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    p = plan()
    if p.archive is None:
        print("no class-data archive (see the warning above)")
        return 1
    print(f"key:  {p.archive.stem}\npath: {p.archive}\nsize: {p.archive.stat().st_size} bytes"
          f"\nready in {time.perf_counter() - t0:.1f} s")
    error = probe(p.java, p.class_path, p.archive)
    print(f"a fresh JVM maps it: {'yes' if error is None else 'no, ' + error}")
    return 0 if error is None else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
