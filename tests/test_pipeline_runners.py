"""Script-level parity: each run_* function reproduces one reference
script start-to-finish (catalog → document model → pipeline → run-id CSV
on disk). The budget runner exercises the FULL chain including the REST
fetch of chaptered texts through a fake transport — zero network.
"""

from __future__ import annotations

import base64
import csv
import glob
from pathlib import Path

import pytest

from legislative_bills_database_spark.pipelines import (
    run_budget_bill_search,
    run_legislator_bill_counts,
    run_search_all_bills,
)
from legislative_bills_database_spark.sources.documents import read_bills
from legislative_bills_database_spark.sources.rest import RestClient

# reuse the synthetic document tree from the e2e pipeline tests
from tests.test_pipelines import data_root  # noqa: F401


def _csv_rows(path: str) -> list[dict]:
    [part] = glob.glob(f"{path}/part-*.csv")
    with open(part, newline="") as fh:
        return list(csv.DictReader(fh))


def _assert_sorted(rows: list[dict], *keys: str) -> None:
    order = [tuple(r[k] for k in keys) for r in rows]
    assert len(order) > 1 and order == sorted(order), order


def test_run_legislator_bill_counts(spark, data_root, tmp_path):  # noqa: F811
    counts_path, special_path = run_legislator_bill_counts(
        spark, data_root, str(tmp_path), run_id="RID"
    )
    assert counts_path.endswith("RID_all_bills_True_all_legislators")
    counts_csv = Path(glob.glob(f"{counts_path}/part-*.csv")[0]).read_text()
    assert counts_csv.splitlines()[0].startswith("Chamber,Name,District")
    assert len(counts_csv.splitlines()) == 4  # header + 3 legislators
    special_csv = Path(glob.glob(f"{special_path}/part-*.csv")[0]).read_text()
    assert "AB128" in special_csv and "AB1" in special_csv
    # single-file reports keep the reference's row order
    _assert_sorted(_csv_rows(counts_path), "Name")
    _assert_sorted(_csv_rows(special_path), "session", "bill")


def test_run_legislator_bill_counts_derives_sessions(spark, data_root, tmp_path):  # noqa: F811
    """sessions=None discovers the session dirs by the '^[0-9]{4}' pattern
    (legislator_bill_counts_run.R:54)."""
    counts_path, _ = run_legislator_bill_counts(
        spark, data_root, str(tmp_path), sessions=None, special_people_id=None,
        run_id="RID2",
    )
    header = Path(glob.glob(f"{counts_path}/part-*.csv")[0]).read_text().splitlines()[0]
    assert "2021-2022 Regular Session" in header
    assert "2023-2024 Regular Session" in header


def test_run_search_all_bills(spark, data_root, tmp_path):  # noqa: F811
    path = run_search_all_bills(
        spark, data_root, str(tmp_path), ["affordab", "budget"],
        session_years=[2021, 2023], save_name="general", run_id="RID",
    )
    csv = Path(glob.glob(f"{path}/part-*.csv")[0]).read_text()
    assert "AB1" in csv and "AB128" in csv
    assert "http://x/ab1\n" in csv or "http://x/ab1," in csv  # fragment stripped
    _assert_sorted(_csv_rows(path), "session", "bill_number")


def test_run_budget_bill_search_full_chain(spark, data_root, tmp_path):  # noqa: F811
    """PDF lines → lookup → chaptered → fake-API HTML fetch → search →
    partitioned CSV, in one call."""
    fetched = []

    def fake_api(url, params):
        assert params["op"] == "getBillText"
        fetched.append(params["id"])
        html = b"<html><body>state Budget appropriations text</body></html>"
        return 200, {"text": {"doc": base64.b64encode(html).decode()}}

    client = RestClient("https://fake/", "K", transport=fake_api,
                        rate_limit_per_sec=10_000)
    bills = read_bills(spark, data_root)
    pdf_lines = spark.createDataFrame(
        [(2021, "AB 128  Budget Act of 2021"), (2021, "intro text")],
        "year int, line string",
    )
    downloads = str(tmp_path / "chaptered")
    path = run_budget_bill_search(
        spark, client, bills, pdf_lines, downloads, str(tmp_path / "out"),
        ["budget", "transit"], run_id="RID",
    )
    assert fetched == [23]  # the LAST texts doc_id of AB128 (chaptered)
    assert (Path(downloads) / "2021_AB128.html").exists()
    # one partition dir per matched term; 'transit' does not match
    assert (Path(path) / "term=budget").is_dir()
    assert not (Path(path) / "term=transit").exists()
    csv = Path(glob.glob(f"{path}/term=budget/part-*.csv")[0]).read_text()
    assert "AB 128" in csv and "202120220AB128" in csv

    # idempotent re-run: files exist → no re-fetch (skip-if-exists)
    run_budget_bill_search(
        spark, client, bills, pdf_lines, downloads, str(tmp_path / "out2"),
        ["budget"], run_id="RID2",
    )
    assert fetched == [23]
