"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

Pure-Python checks of the generators run in a second; each smoke test
starts one benchmark process (a JVM) on tiny inputs and takes 30-60 s.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import gen  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _digest(root: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(p for p in root.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def test_inputs_depend_only_on_the_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.legiscan_tree(tmp_path / name / "tree", seed, 2, 20, 15)
        gen.fixture_tables(tmp_path / name / "sf", seed, 0.1)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_every_mix_query_has_a_duckdb_twin():
    import mix
    from legislative_bills_database_spark.plans import ORACLE, QUERIES

    assert all(q in QUERIES and q in ORACLE for q in mix.MIX)


def _run(args: list[str], cwd: Path = ROOT, code: str | None = None) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", *args] if code is None else [sys.executable, "-c", code, *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_every_workload(workload):
    res = _result(_run(["--workload", workload, "--seed", "1", "--seconds", "1",
                        "--trace", "0", "--scale", "0.3"]))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_reports_every_per_layer_metric():
    proc = _run(["--workload", "staged_requests", "--seed", "2", "--seconds", "8",
                 "--trace", "1", "--scale", "0.3"])
    res = _result(proc)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    layers = [json.loads(line) for line in proc.stdout.splitlines() if line.startswith('{"layer"')]
    names = {line["layer"] for line in layers}
    assert {"req.search_ms", "req.sponsor_ms", "req.counts_ms", "cache.stage_hit_s"} <= names
    assert all(line["moves"] and line["on"] for line in layers)


PERTURB = """
import sys
sys.path.insert(0, "perfbench")
import expected
search_rows = expected.search_rows

def perturbed(*args, **kwargs):
    rows = search_rows(*args, **kwargs)
    rows[("no such bill",)] += 1
    return rows

expected.search_rows = perturbed
import run
sys.exit(run.main(sys.argv[1:]))
"""


def test_a_wrong_expected_value_counts_as_failed():
    res = _result(_run(["--workload", "staged_requests", "--seed", "3", "--seconds", "1",
                        "--scale", "0.3"], code=PERTURB))
    assert not res["correct"]
    assert 0 < res["failed"] <= res["attempted"]


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = _run(["--workload", "operator_mix", "--seed", "1", "--seconds", "1"], cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
