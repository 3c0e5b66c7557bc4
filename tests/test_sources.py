"""Ingestion-layer tests: REST client (fake transport, zero network),
PDF/HTML extraction, CSV sink naming, staging cache + manifest, and the
query scratch directories.
"""

from __future__ import annotations

import base64
import glob
import io
import json
import os
import subprocess
import sys
import time
import zipfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from legislative_bills_database_spark.sources.cache import (
    memo_parquet,
    new_against_manifest,
)
from legislative_bills_database_spark.sources.extract import (
    html_to_text,
    pdf_to_text,
    read_html_docs,
    read_pdf_lines,
    strip_html_expr,
)
from legislative_bills_database_spark.sources.rest import (
    RestClient,
    decode_zip_to_tree,
    fetch_bill_text_html,
    fetch_datasets,
)
from legislative_bills_database_spark.sources.sinks import write_csv_report


# ---------------------------------------------------------------------------
# REST (legiscan_data_pull.R:9-76 semantics, injectable transport)
# ---------------------------------------------------------------------------

def _zip_b64(files: dict[str, str]) -> str:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, content in files.items():
            zf.writestr(name, content)
    return base64.b64encode(buf.getvalue()).decode()


def _fake_api(calls: list):
    tree = _zip_b64(
        {"CA/2023-2024_Regular_Session/bill/AB1.json": json.dumps({"bill": {}})}
    )

    def transport(url: str, params: dict) -> tuple[int, dict]:
        calls.append((params["op"], time.monotonic()))
        if params["op"] == "getDataSetList":
            return 200, {
                "datasetlist": [
                    {
                        "session_title": "2023-2024 Regular Session",
                        "session_id": 2172,
                        "access_key": "k1",
                    }
                ]
            }
        if params["op"] == "getDataSet":
            assert params["id"] == 2172 and params["access_key"] == "k1"
            return 200, {"dataset": {"zip": tree}}
        if params["op"] == "getBillText":
            return 200, {"text": {"doc_id": params["id"],
                                  "doc": base64.b64encode(b"<html>x</html>").decode()}}
        if params["op"] == "getSessionPeople":
            assert params["id"] == 2172
            return 200, {"sessionpeople": {"session": {"session_id": 2172},
                                           "people": [
                {"people_id": 9, "name": "A. Member", "party": "D",
                 "role": "Rep", "district": "AD-01"},
                {"people_id": 10, "name": "B. Member", "party": "R",
                 "role": "Sen", "district": "SD-02"},
            ]}}
        return 404, {}

    return transport


def test_fetch_datasets_and_skip_if_exists(tmp_path):
    calls: list = []
    client = RestClient("https://api.test/", "KEY", transport=_fake_api(calls),
                        rate_limit_per_sec=10_000)
    root = tmp_path / "data"
    got = fetch_datasets(client, str(root))
    assert got == ["2023-2024 Regular Session"]
    assert (root / "2023-2024 Regular Session" / "CA"
            / "2023-2024_Regular_Session" / "bill" / "AB1.json").exists()
    # second run: session dir exists → no getDataSet call (skip-if-exists,
    # legiscan_data_pull.R:43-46)
    n_datasets_before = sum(1 for op, _ in calls if op == "getDataSet")
    assert fetch_datasets(client, str(root)) == []
    assert sum(1 for op, _ in calls if op == "getDataSet") == n_datasets_before


def test_rest_retry_then_success():
    attempts = []

    def flaky(url, params):
        attempts.append(1)
        return (503, {}) if len(attempts) < 3 else (200, {"text": {"doc": ""}})

    client = RestClient("https://api.test/", "KEY", transport=flaky,
                        max_retries=3, rate_limit_per_sec=10_000)
    client._get("getBillText", id=1)
    assert len(attempts) == 3


def test_rest_retry_exhaustion_raises():
    client = RestClient("https://api.test/", "KEY",
                        transport=lambda u, p: (500, {}),
                        max_retries=1, rate_limit_per_sec=10_000)
    with pytest.raises(RuntimeError, match="status 500"):
        client._get("getDataSetList", state="CA")


def test_rest_rate_limit_spacing():
    stamps = []
    client = RestClient("https://api.test/", "KEY",
                        transport=lambda u, p: (stamps.append(time.monotonic()), (200, {"x": 1}))[1],
                        rate_limit_per_sec=50)
    for _ in range(3):
        client._get("ping")
    gaps = [b - a for a, b in zip(stamps, stamps[1:])]
    assert all(g >= 0.02 * 0.9 for g in gaps)  # ≥ ~20ms between calls


def test_fetch_bill_text_html():
    client = RestClient("https://api.test/", "KEY", transport=_fake_api([]),
                        rate_limit_per_sec=10_000)
    assert fetch_bill_text_html(client, 23) == b"<html>x</html>"


def test_get_session_people():
    """getSessionPeople parity with the reference's commented block
    (legiscan_main.R:373-379): rows come from
    content$sessionpeople$people for the requested session id."""
    client = RestClient("https://api.test/", "KEY", transport=_fake_api([]),
                        rate_limit_per_sec=10_000)
    people = client.get_session_people(2172)
    assert [p["people_id"] for p in people] == [9, 10]
    assert people[0]["district"] == "AD-01"


def test_decode_zip_to_tree(tmp_path):
    names = decode_zip_to_tree(_zip_b64({"a/b.json": "{}"}), str(tmp_path / "out"))
    assert names == ["a/b.json"]
    assert (tmp_path / "out" / "a" / "b.json").read_text() == "{}"


# ---------------------------------------------------------------------------
# Extraction (legiscan_main.R:84-87,212 semantics)
# ---------------------------------------------------------------------------

HTML = "<html><head><style>p{x}</style></head><body><p>Budget &amp; Housing</p><script>s()</script></body></html>"


def test_html_to_text_strips_markup_and_decodes_entities():
    assert html_to_text(HTML).strip() == "Budget & Housing"


def test_strip_html_expr(spark):
    df = spark.createDataFrame([(HTML,)], "h string")
    out = df.select(strip_html_expr("h").alias("t")).collect()[0]["t"]
    assert "Budget" in out and "<p>" not in out


def test_read_html_docs(spark, tmp_path):
    (tmp_path / "2021_AB128.html").write_text(HTML)
    out = read_html_docs(spark, str(tmp_path / "*.html")).collect()
    assert len(out) == 1 and "Budget & Housing" in out[0]["text"]


def test_read_html_docs_keeps_to_the_globbed_directory(spark, tmp_path):
    """``<dir>/*.html`` reads the files in ``<dir>`` only, also when a
    ``key=value`` subdirectory (which a directory load would take for a
    partition) holds matching files."""
    (tmp_path / "2021_AB128.html").write_text(HTML)
    (tmp_path / "year=2022").mkdir()
    (tmp_path / "year=2022" / "2022_AB1.html").write_text(HTML)
    out = read_html_docs(spark, str(tmp_path / "*.html")).collect()
    assert [Path(r["path"]).name for r in out] == ["2021_AB128.html"]


from legislative_bills_database_spark.sources.extract import make_simple_pdf as _make_pdf


def test_pdf_to_text_fallback():
    pdf = _make_pdf(["AB 128  Budget Act of 2021", "Page 1"])
    text = pdf_to_text(pdf)
    assert "AB 128  Budget Act of 2021" in text and "Page 1" in text


def test_read_pdf_lines(spark, tmp_path):
    (tmp_path / "2021_Budget_Bills.pdf").write_bytes(
        _make_pdf(["  AB 128  Budget Act of 2021", "intro text"])
    )
    lines = read_pdf_lines(spark, str(tmp_path / "*.pdf"))
    vals = [r["line"] for r in lines.collect() if r["line"]]
    # leading spaces stripped (gsub('^ +','',...), legiscan_main.R:87)
    assert "AB 128  Budget Act of 2021" in vals


def test_read_pdf_lines_fails_on_a_pdf_without_text(spark, tmp_path):
    (tmp_path / "2021_Budget_Bills.pdf").write_bytes(_make_pdf(["AB 128  Budget Act of 2021"]))
    (tmp_path / "2022_Budget_Bills.pdf").write_bytes(_make_pdf([]))
    with pytest.raises(Exception, match=r"2022_Budget_Bills\.pdf: the PDF yields no text"):
        read_pdf_lines(spark, str(tmp_path / "*.pdf")).collect()


def test_read_html_docs_fails_on_a_file_that_is_not_utf8(spark, tmp_path):
    (tmp_path / "2021_AB128.html").write_text(HTML)
    (tmp_path / "2021_AB129.html").write_bytes(b"<p>caf\xe9</p>")  # latin-1, not UTF-8
    with pytest.raises(Exception, match=r"2021_AB129\.html: not valid UTF-8"):
        read_html_docs(spark, str(tmp_path / "*.html")).collect()


# ---------------------------------------------------------------------------
# Sinks + cache
# ---------------------------------------------------------------------------

def test_write_csv_report_naming(spark, tmp_path):
    df = spark.range(3).select(F.col("id"), (F.col("id") * 2).alias("v"))
    path = write_csv_report(df, str(tmp_path), "report", run_id="RID")
    assert path == f"{tmp_path}/RID_report"
    parts = glob.glob(f"{path}/part-*.csv")
    assert len(parts) == 1  # coalesced without partition_by
    body = Path(parts[0]).read_text().splitlines()
    assert body[0] == "id,v" and len(body) == 4


def test_write_csv_report_partitioned(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "term string, n int")
    path = write_csv_report(df, str(tmp_path), "by_term", run_id="RID",
                            partition_by=["term"])
    assert (Path(path) / "term=a").is_dir() and (Path(path) / "term=b").is_dir()


def test_memo_parquet_caches(spark, tmp_path):
    calls = []

    def compute():
        calls.append(1)
        return spark.range(5)

    p = str(tmp_path / "stage")
    assert memo_parquet(spark, p, compute).count() == 5
    assert memo_parquet(spark, p, compute).count() == 5
    assert len(calls) == 1  # second load hit the staging table
    memo_parquet(spark, p, compute, force=True)
    assert len(calls) == 2


def test_new_against_manifest(spark):
    cand = spark.createDataFrame([("f1",), ("f2",), ("f3",)], "path string")
    manifest = spark.createDataFrame([("f2",)], "path string")
    out = {r["path"] for r in new_against_manifest(cand, manifest, "path").collect()}
    assert out == {"f1", "f3"}


def test_memo_parquet_corrupt_staging_raises(spark, tmp_path):
    """A corrupt staging table must SURFACE, not silently trigger
    recompute-and-overwrite (round-2 advisory: only path-not-found means
    'not staged yet')."""
    import pytest as _pytest

    p = str(tmp_path / "staged")
    (tmp_path / "staged").mkdir()
    (tmp_path / "staged" / "part-00000.parquet").write_bytes(b"not a parquet")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(3)

    with _pytest.raises(Exception) as exc:
        memo_parquet(spark, p, compute).count()
    assert "PATH_NOT_FOUND" not in str(exc.value)
    assert not calls, "corrupt staging silently recomputed"


# a fresh interpreter that runs the two text-source queries twice and
# exits; argv[1] is the repository root, argv[2] the sf dir
_SCRATCH_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from legislative_bills_database_spark.plans.reference_queries import (
    q_html_text_source, q_pdf_text_source)
from legislative_bills_database_spark.session import get_spark
spark = get_spark(app_name="scratch-dirs", cpus=1)
try:
    for _ in range(2):
        print(q_pdf_text_source(spark, sys.argv[2]).count(),
              q_html_text_source(spark, sys.argv[2]).count())
finally:
    spark.stop()
"""


def test_query_scratch_dirs_are_removed_at_exit(tmp_path):
    """Queries that write and read back files get their directories from
    ``io.scratch_dir``: while the process runs they live under one
    per-process ``lbd_*`` root in TMPDIR, and none is left once it exits."""
    from conftest import REPO, SF_DIR

    env = dict(os.environ, TMPDIR=str(tmp_path))
    env["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.local.dir={tmp_path} pyspark-shell"
    out = subprocess.run(
        [sys.executable, "-c", _SCRATCH_CHILD, str(REPO), SF_DIR],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["3", "1"] * 2
    assert sorted(p.name for p in tmp_path.glob("lbd_*")) == []
