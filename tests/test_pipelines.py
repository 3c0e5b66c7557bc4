"""End-to-end pipeline tests on synthetic bill/person JSON trees
(SURVEY.md §5 item 3; fixture edge cases from FIXTURES.md §A.3).

The tree reproduces the reference's on-disk layout
data/<session>/CA/<session_underscored>/{bill,people}/*.json and covers:
legislator in multiple sessions (keep-latest), bill with no primary
sponsor (fallback), bill whose sponsors match no legislator (drop),
non-passed bill (filter), non-'B' type (all_bills gate), chaptered vs
non-chaptered texts, Rep/HD label cleanup, committee filter, and the
Bill Dodd side-collection.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from legislative_bills_database_spark.pipelines import (
    budget_bill_numbers,
    budget_bills_with_data,
    chaptered_doc_ids,
    legislator_bill_counts,
    run_legislator_bill_counts,
    run_search_all_bills,
    search_all_bills,
    search_html_reports,
)
from legislative_bills_database_spark.pipelines.legislator_bill_counts import (
    resolve_sponsors,
)
from legislative_bills_database_spark.sources.documents import (
    read_bills,
    read_people,
    session_dir,
)

S21 = "2021-2022 Regular Session"
S23 = "2023-2024 Regular Session"
SESSIONS = [S21, S23]


def _write(root: Path, session: str, kind: str, name: str, payload: dict) -> None:
    d = Path(session_dir(str(root), session, kind))
    d.mkdir(parents=True, exist_ok=True)
    (d / f"{name}.json").write_text(json.dumps(payload, indent=1))


def _person(pid, role, name, district, committee=0):
    return {
        "person": {
            "people_id": pid,
            "role": role,
            "name": name,
            "district": district,
            "committee_id": committee,
        }
    }


def _bill(number, btype, status, sponsors, texts, title="t", desc="d",
          session_name=None, date="2023-09-01"):
    return {
        "bill": {
            "bill_number": number,
            "bill_type": btype,
            "status": status,
            "status_date": date,
            "title": title,
            "description": desc,
            "session": {"session_name": session_name or "s"},
            "texts": [
                {"doc_id": i, "type": t, "state_link": link}
                for i, t, link in texts
            ],
            "sponsors": [
                {"people_id": p, "sponsor_type_id": st} for p, st in sponsors
            ],
        }
    }


@pytest.fixture(scope="module")
def data_root(tmp_path_factory) -> str:
    root = tmp_path_factory.mktemp("docmodel") / "data"

    # people — Alice serves both sessions (keep-latest must pick 2023 where
    # LegiScan labels her 'Rep'/'HD-09'); Carol is a committee record
    _write(root, S21, "people", "101", _person(101, "Sen", "Alice", "SD-03"))
    _write(root, S23, "people", "101", _person(101, "Rep", "Alice", "HD-09"))
    _write(root, S21, "people", "102", _person(102, "Rep", "Bob", "HD-11"))
    _write(root, S21, "people", "103", _person(103, "Sen", "Carol", "SD-05", 7))
    _write(root, S23, "people", "16285", _person(16285, "Sen", "Bill Dodd", "SD-03"))

    # bills, 2023-24 session
    _write(root, S23, "bill", "AB1", _bill(
        "AB1", "B", 4, [(101, 1), (16285, 1)],
        [(11, "Introduced", "http://x/ab1#frag"), (12, "Chaptered", "http://x/ab1c")],
        title="Affordable housing", desc="housing affordability program",
        session_name=S23))
    _write(root, S23, "bill", "AB2", _bill(
        "AB2", "B", 4, [(999, 1), (102, 2)],
        [(13, "Introduced", "http://x/ab2")], session_name=S23))  # drop: no match
    _write(root, S23, "bill", "SB3", _bill(
        "SB3", "B", 4, [(102, 2), (888, 2)],
        [(14, "Introduced", "http://x/sb3")], session_name=S23))  # fallback → Bob
    _write(root, S23, "bill", "AB4", _bill(
        "AB4", "B", 2, [(101, 1)],
        [(15, "Introduced", "http://x/ab4")], session_name=S23))  # not passed
    _write(root, S23, "bill", "SB5", _bill(
        "SB5", "R", 4, [(101, 1)],
        [(16, "Introduced", "http://x/sb5")], session_name=S23))  # type gate

    # bills, 2021-22 session
    _write(root, S21, "bill", "AB10", _bill(
        "AB10", "B", 4, [(102, 1)],
        [(21, "Introduced", "http://x/ab10")],
        title="Roads", desc="road funding", session_name=S21))
    _write(root, S21, "bill", "AB128", _bill(
        "AB128", "B", 4, [(16285, 1)],
        [(22, "Introduced", "http://x/ab128"), (23, "Chaptered", "http://x/ab128c")],
        title="Budget Act of 2021", desc="state budget", session_name=S21,
        date="2021-06-28"))
    # not a document: the readers keep only *.json
    for kind in ("bill", "people"):
        (Path(session_dir(str(root), S23, kind)) / "notes.txt").write_text("not json\n")
    return str(root)


def test_read_bills_catalog_columns(spark, data_root):
    bills = read_bills(spark, data_root)
    assert bills.count() == 7
    row = bills.filter(F.col("doc_key") == "AB128").collect()[0]
    assert row["session"] == S21 and row["bill_number"] == "AB128"
    assert [t["type"] for t in row["texts"]] == ["Introduced", "Chaptered"]
    # partition pruning by session list
    assert read_bills(spark, data_root, [S23]).count() == 5
    # every session (the directory glob) is exactly the per-session reads
    for read in (read_bills, read_people):
        per_session = [read(spark, data_root, [s]).collect() for s in SESSIONS]
        assert sorted(read(spark, data_root).collect()) == sorted(sum(per_session, []))
    assert sorted(r["doc_key"] for r in read_people(spark, data_root).collect()) == [
        "101", "101", "102", "103", "16285"
    ]


def test_read_roots_are_the_session_directories(data_root, tmp_path):
    """Every session of a local tree is listed on the driver, so Spark
    gets no glob; a URI keeps the glob, and a local tree without
    sessions fails loudly."""
    from legislative_bills_database_spark.sources.documents import _session_roots

    assert _session_roots(data_root, "bill") == [session_dir(data_root, s, "bill") for s in SESSIONS]
    assert _session_roots("s3a://b/data", "people") == ["s3a://b/data/*/CA/*/people"]
    with pytest.raises(FileNotFoundError, match="no session directories"):
        _session_roots(str(tmp_path), "bill")


_STAGE_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from legislative_bills_database_spark.session import get_spark
from legislative_bills_database_spark.sources.documents import stage_document_model
spark = get_spark(cpus=2)
bills, people = stage_document_model(spark, sys.argv[2], sys.argv[3], force=True)
print(bills.count(), people.count())
"""


def test_staging_every_session_logs_no_stream_sink_probe(data_root, tmp_path):
    """Staging the whole tree hands Spark the session directories: with
    a glob, Spark's probe for a streaming sink's metadata logged one
    ``WARN FileStreamSink`` with a ``FileNotFoundException`` per read."""
    import os
    import subprocess
    import sys

    from conftest import REPO

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _STAGE_CHILD, str(REPO), data_root, str(tmp_path / "staging")],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["7", "5"]
    assert "FileStreamSink" not in out.stderr


def test_staged_tables_seed_the_inferred_schema(spark, data_root, tmp_path):
    """The staging read-back takes the written frame's schema, runs no
    inference job and leaves exactly the schema inference finds."""
    from legislative_bills_database_spark import io
    from legislative_bills_database_spark.sources.documents import stage_document_model

    sc = spark.sparkContext
    staged = stage_document_model(spark, data_root, str(tmp_path / "staging"))
    for name, df in zip(("bills", "people"), staged):
        path = str(tmp_path / "staging" / name)
        inferred = spark.read.parquet(path).schema
        assert io._schemas[path][1] == df.schema == inferred
        sc.setJobGroup(f"reopen-{name}", "staged table re-open")
        try:
            io.read_parquet(spark, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(f"reopen-{name}") == []


def test_read_bills_lists_session_directory_on_driver(spark, tmp_path):
    """40 bill files in one session: past Spark's 32-path parallel
    listing threshold if the read were rooted at the files, which would
    launch a listing job with a task per file."""
    n = 40
    for i in range(n):
        _write(tmp_path, S23, "bill", f"AB{i}", _bill(f"AB{i}", "B", 4, [], []))
    (Path(session_dir(str(tmp_path), S23, "bill")) / "notes.txt").write_text("x\n")
    sc = spark.sparkContext
    group = "read-40-bills"
    sc.setJobGroup(group, "directory-rooted bill read")
    try:
        assert read_bills(spark, str(tmp_path), [S23]).count() == n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [
        s for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    tasks = sum(tracker.getStageInfo(s).numTasks for s in stages)
    assert 0 < tasks < n


def test_legislator_bill_counts_end_to_end(spark, data_root):
    bills = read_bills(spark, data_root)
    people = read_people(spark, data_root)
    counts, special = legislator_bill_counts(bills, people, SESSIONS)
    rows = {r["Name"]: r for r in counts.collect()}

    assert set(rows) == {"Alice", "Bob", "Bill Dodd"}  # Carol = committee
    # Alice: keep-latest picked the 2023 record → Rep→Asm, HD-→AD-
    assert rows["Alice"]["Chamber"] == "Asm"
    assert rows["Alice"]["District"] == "AD-09"
    # Alice: AB1 + SB5 in 2023 (all_bills=True), nothing in 2021
    assert (rows["Alice"][S23], rows["Alice"][S21]) == (2, 0)
    assert rows["Alice"]["Total"] == 2
    assert rows["Alice"]["Years in Data"] == 2
    assert rows["Alice"]["Bills per Year"] == 1.0
    # Bob: fallback credit for SB3 (no primary sponsor) + AB10 primary
    assert (rows["Bob"][S23], rows["Bob"][S21]) == (1, 1)
    assert rows["Bob"]["Years in Data"] == 4
    assert rows["Bob"]["Bills per Year"] == 0.5
    # Dodd: AB1 (co-primary — set semantics credits both) + AB128
    assert (rows["Bill Dodd"][S23], rows["Bill Dodd"][S21]) == (1, 1)

    dodd = {(r["session"], r["bill"]) for r in special.collect()}
    assert dodd == {(S23, "AB1"), (S21, "AB128")}


def test_empty_sponsors_bill_is_dropped(spark, tmp_path):
    """A passed bill with ``sponsors: []`` credits nobody (R's
    ``people_id[1]`` of an empty list matches no legislator) and must not
    fail the run: under ANSI mode ``element_at`` on ``[]`` raises."""
    _write(tmp_path, S23, "people", "101", _person(101, "Sen", "Alice", "SD-03"))
    _write(tmp_path, S23, "bill", "AB1", _bill(
        "AB1", "B", 4, [], [], session_name=S23))
    _write(tmp_path, S23, "bill", "AB2", _bill(
        "AB2", "B", 4, [(101, 1)], [], session_name=S23))
    _write(tmp_path, S23, "bill", "AB3", _bill(
        "AB3", "B", 4, [(101, 2)], [], session_name=S23))
    counts, special = legislator_bill_counts(
        read_bills(spark, str(tmp_path)), read_people(spark, str(tmp_path)),
        [S23], special_people_id=101,
    )
    assert [(r["Name"], r[S23]) for r in counts.collect()] == [("Alice", 2)]
    assert sorted(r["bill"] for r in special.collect()) == ["AB2", "AB3"]


def test_resolve_sponsors_scans_bills_once(spark, data_root):
    """One projection over one scan: the executed plan reads the bill tree
    once and has neither the anti-join nor the union of a fallback
    branch."""
    matches = resolve_sponsors(
        read_bills(spark, data_root), read_people(spark, data_root).select("people_id")
    )
    plan = matches._jdf.queryExecution().executedPlan().toString()
    bill_scans = [
        line for line in plan.splitlines()
        if "FileScan json" in line and "ReadSchema: struct<bill:" in line
    ]
    assert len(bill_scans) == 1, plan
    assert "LeftAnti" not in plan and "Union" not in plan, plan
    assert {(r["doc_key"], r["people_id"]) for r in matches.collect()} == {
        ("AB1", 101), ("AB1", 16285), ("SB3", 102), ("AB4", 101),
        ("SB5", 101), ("AB10", 102), ("AB128", 16285),
    }


def test_legislator_bill_counts_type_gate(spark, data_root):
    bills = read_bills(spark, data_root)
    people = read_people(spark, data_root)
    counts, _ = legislator_bill_counts(
        bills, people, SESSIONS, all_bills=False, special_people_id=None
    )
    alice = counts.filter(F.col("Name") == "Alice").collect()[0]
    assert alice[S23] == 1  # SB5 (type 'R') gated out


def test_search_all_bills_end_to_end(spark, data_root):
    bills = read_bills(spark, data_root)
    out = search_all_bills(bills, ["affordab", "budget"])
    rows = {r["bill_number"]: r for r in out.collect()}
    # AB1 matches 'affordab' in description (case-sensitive: title
    # 'Affordable' does NOT match the lowercase stem); AB128 matches
    # 'budget' in description ('Budget Act' title does not)
    assert set(rows) == {"AB1", "AB128"}
    assert rows["AB1"]["link"] == "http://x/ab1"  # '#frag' stripped
    assert rows["AB1"]["session"] == S23


def test_search_keeps_bill_without_texts(spark, tmp_path):
    """A matching bill with ``texts: []`` stays with a NULL link (R's
    ``[1]`` of an empty vector is NA) and must not fail the run: under
    ANSI mode ``element_at`` on ``[]`` raises."""
    _write(tmp_path, S23, "bill", "AB1", _bill(
        "AB1", "B", 4, [], [], desc="housing", session_name=S23))
    _write(tmp_path, S23, "bill", "AB2", _bill(
        "AB2", "B", 4, [], [(1, "Introduced", "http://x/ab2#f")],
        desc="housing", session_name=S23))
    out = search_all_bills(read_bills(spark, str(tmp_path)), ["housing"])
    assert {r["bill_number"]: r["link"] for r in out.collect()} == {
        "AB1": None, "AB2": "http://x/ab2",
    }


def test_budget_bill_pipeline_relational_core(spark, data_root):
    bills = read_bills(spark, data_root)
    pdf_lines = spark.createDataFrame(
        [
            (2021, "AB 128  Budget Act of 2021"),
            (2021, "Page 3 of 12"),           # no bill prefix
            (2021, "SCA 4  Some amendment"),  # matches but absent from data
            (2022, "AB 128  Budget Act carryover"),  # even-year parity
        ],
        "year int, line string",
    )
    numbers = budget_bill_numbers(pdf_lines)
    assert {(r["year"], r["bill"]) for r in numbers.collect()} == {
        (2021, "AB 128"), (2021, "SCA 4"), (2022, "AB 128"),
    }
    joined = budget_bills_with_data(numbers, bills)
    # 2021 (odd) and 2022 (even) both resolve to session 2021-2022; SCA 4
    # has no document → dropped by the lookup join
    assert {(r["year"], r["doc_key"]) for r in joined.collect()} == {
        (2021, "AB128"), (2022, "AB128"),
    }
    chaptered = chaptered_doc_ids(joined)
    rows = chaptered.collect()
    assert {r["doc_id"] for r in rows} == {23}  # LAST texts entry


def test_legislator_counts_golden_csv(spark, data_root, tmp_path):
    """Full run to a golden CSV (SURVEY §5 item 3): tree → staging
    parquet → pipeline → run-id CSV, byte-compared."""
    import glob
    from pathlib import Path

    from legislative_bills_database_spark.sources.documents import (
        stage_document_model,
    )
    from legislative_bills_database_spark.sources.sinks import write_csv_report

    bills, people = stage_document_model(
        spark, data_root, str(tmp_path / "staging")
    )
    counts, _ = legislator_bill_counts(bills, people, SESSIONS)
    path = write_csv_report(
        counts.orderBy("Name"), str(tmp_path), "all_legislators", run_id="RID"
    )
    got = Path(glob.glob(f"{path}/part-*.csv")[0]).read_text()
    golden = (
        "Chamber,Name,District,2021-2022 Regular Session,"
        "2023-2024 Regular Session,Total,Years in Data,Bills per Year\n"
        "Asm,Alice,AD-09,0,2,2,2,1.0\n"
        "Sen,Bill Dodd,SD-03,1,1,2,4,0.5\n"
        "Asm,Bob,AD-11,1,1,2,4,0.5\n"
    )
    assert got == golden


def test_search_html_reports(spark):
    html_docs = spark.createDataFrame(
        [
            ("/dl/2021_AB128.html", "An act about Housing Affordability."),
            ("/dl/2022_SB99.html", "Unrelated content."),
        ],
        "path string, text string",
    )
    terms = ["housing affordability", "Housing AFFORDABILITY", "transit"]
    rows = sorted(search_html_reports(html_docs, terms).collect())
    # case-insensitive match; each report row keeps its term as given
    assert [r["term"] for r in rows] == ["Housing AFFORDABILITY", "housing affordability"]
    for r in rows:
        assert r["Bill"] == "AB 128"
        assert r["fiscal_year"] == "2021-2022"
        assert r["link"].endswith("bill_id=202120220AB128")


def test_truncated_bill_file_fails_the_read(spark, tmp_path):
    """A truncated bill file raises, naming the file, in the reader and
    in both pipelines that read the tree; it is never a row of NULLs
    that drops out of the counts and reports."""
    data = tmp_path / "data"
    _write(data, S23, "people", "101", _person(101, "Sen", "Alice", "SD-03"))
    _write(data, S23, "bill", "AB1", _bill(
        "AB1", "B", 4, [(101, 1)], [], desc="housing", session_name=S23))
    _write(data, S23, "bill", "AB2", _bill(
        "AB2", "B", 4, [(101, 1)], [], desc="housing", session_name=S23))
    bad = Path(session_dir(str(data), S23, "bill")) / "AB2.json"
    bad.write_text(bad.read_text()[:40])
    runs = [
        lambda: read_bills(spark, str(data)).collect(),
        lambda: run_legislator_bill_counts(spark, str(data), str(tmp_path / "out"), run_id="T"),
        lambda: run_search_all_bills(
            spark, str(data), str(tmp_path / "out"), ["housing"], [2023], run_id="T"
        ),
    ]
    for run in runs:
        with pytest.raises(Exception, match="FAILED_READ_FILE") as err:
            run()
        assert "AB2.json" in str(err.value)
