"""Expected outputs, computed in pure Python from the generated records.

Nothing here calls the engine: each function restates the reference's
rule (legislator_bill_counts_run.R, legiscan_search_all_bills.R,
legiscan_main.R) over the Python records of :class:`perfbench.gen.Tree`,
so an engine change that alters a row is caught as a wrong answer.
"""

from __future__ import annotations

import csv
import re
from collections import Counter
from pathlib import Path

from gen import SPECIAL_PEOPLE_ID, Tree

LEGINFO_PREFIX = "https://leginfo.legislature.ca.gov/faces/billTextClient.xhtml?bill_id="


def latest_people(people: list[dict], sessions: list[str]) -> dict[int, dict]:
    """Each person's record from their newest session among ``sessions``."""
    latest: dict[int, dict] = {}
    for p in people:
        if p["session"] in sessions:
            cur = latest.get(p["people_id"])
            if cur is None or p["session"] > cur["session"]:
                latest[p["people_id"]] = p
    return latest


def resolve_sponsors(bills: list[dict], ids: set[int]) -> list[tuple[dict, int]]:
    """(bill, credited legislator): every distinct primary sponsor that is a
    legislator; else the first-listed sponsor if a legislator; else none."""
    out = []
    for b in bills:
        primary = {s["people_id"] for s in b["sponsors"] if s["sponsor_type_id"] == 1} & ids
        if primary:
            out.extend((b, pid) for pid in primary)
        elif b["sponsors"][0]["people_id"] in ids:
            out.append((b, b["sponsors"][0]["people_id"]))
    return out


def legislator_counts(tree: Tree, sessions: list[str]) -> tuple[list[str], Counter, Counter]:
    """(header, counts rows, special-bill rows) of the counts pipeline over
    ``sessions``; rows are value tuples as :func:`read_csv_rows` returns
    them (numbers parsed)."""
    legs = latest_people(tree.people, sessions)
    passed = [b for b in tree.bills if b["session"] in sessions and b["status"] == 4]
    matches = resolve_sponsors(passed, set(legs))
    per: dict[int, Counter] = {}
    for b, pid in matches:
        per.setdefault(pid, Counter())[b["session"]] += 1
    rows = Counter()
    for pid, p in legs.items():
        if p["committee_id"] != 0:
            continue
        vals = [per.get(pid, Counter())[s] for s in sessions]
        total = sum(vals)
        years = 2 * sum(v > 0 for v in vals)
        rows[(
            p["role"].replace("Rep", "Asm"), p["name"],
            p["district"].replace("HD-", "AD-"), *vals, total, years,
            total / years if years else None,
        )] += 1
    special = Counter(
        (b["session"], b["bill_number"], b["status_date"], b["title"], b["description"])
        for b, pid in matches if pid == SPECIAL_PEOPLE_ID
    )
    header = ["Chamber", "Name", "District", *sessions, "Total", "Years in Data", "Bills per Year"]
    return header, rows, special


def search_rows(tree: Tree, terms: list[str], sessions: list[str] | None = None) -> Counter:
    """Bills whose title or description contains any term (case-sensitive):
    (bill_number, session, status, link-without-fragment, title, description)."""
    out = Counter()
    for b in tree.bills:
        if sessions is not None and b["session"] not in sessions:
            continue
        if any(t in b["title"] or t in b["description"] for t in terms):
            link = re.sub(r"#.+$", "", b["texts"][0]["state_link"])
            out[(b["bill_number"], b["session_name"], b["status"], link, b["title"], b["description"])] += 1
    return out


def sponsor_rows(tree: Tree, people_id: int) -> Counter:
    """(session, doc_key) of every bill crediting ``people_id`` when sponsors
    resolve against all legislators of every session."""
    legs = latest_people(tree.people, tree.sessions)
    return Counter(
        (b["session"], b["doc_key"])
        for b, pid in resolve_sponsors(tree.bills, set(legs)) if pid == people_id
    )


def fiscal_label(year: int) -> str:
    return f"{year}-{year + 1}" if year % 2 else f"{year - 1}-{year}"


def chaptered_budget_files(tree: Tree) -> dict[str, int]:
    """'<year>_<BILLNO>.html' -> doc_id for every chaptered budget bill the
    SBUD PDFs list and the tree holds."""
    by_key = {(b["session"], b["doc_key"]): b for b in tree.bills}
    files = {}
    for year, lines in tree.budget_lines.items():
        for line in lines:
            line = line.lstrip(" ")
            m = re.match(r"^([AS][BC]A? [0-9]+).+", line)
            if not m:
                continue
            bill = by_key.get((fiscal_label(year) + " Regular Session", m.group(1).replace(" ", "")))
            if bill and any(t["type"] == "Chaptered" for t in bill["texts"]):
                files[f"{year}_{bill['doc_key']}.html"] = bill["texts"][-1]["doc_id"]
    return files


def budget_rows(tree: Tree, terms: list[str]) -> dict[str, Counter]:
    """term -> report rows (Bill, fiscal_year, type, item, amount, link,
    also_appears_in) for the chaptered budget bills whose visible text
    contains the term (case-insensitive)."""
    out: dict[str, Counter] = {}
    for name, doc_id in chaptered_budget_files(tree).items():
        year, key = int(name[:4]), name[5:-5]
        bill = re.match(r"[A-Z]+", key).group(0) + " " + re.search(r"[0-9]+$", key).group(0)
        fiscal = fiscal_label(year)
        link = re.sub(r"-|[ ]", "", LEGINFO_PREFIX + fiscal + "0" + bill)
        text = tree.html_text[doc_id].lower()
        for term in terms:
            if term.lower() in text:
                out.setdefault(term, Counter())[(bill, fiscal, "", "", "", link, "")] += 1
    return out


# ---------------------------------------------------------------------------
# Reading the engine's CSV reports back
# ---------------------------------------------------------------------------

def _num(v: str):
    if v == "":
        return None
    try:
        return int(v)
    except ValueError:
        try:
            return float(v)
        except ValueError:
            return v


def read_csv_rows(report_dir: str, numeric: range | tuple = ()) -> tuple[list[str], Counter]:
    """(header, rows) of a Spark CSV report directory; cells in the
    ``numeric`` columns are parsed as numbers (empty -> None)."""
    header: list[str] = []
    rows = Counter()
    for part in sorted(Path(report_dir).glob("part-*.csv")):
        with open(part, newline="") as f:
            reader = csv.reader(f)
            header = next(reader, header)
            for r in reader:
                rows[tuple(_num(v) if i in numeric else v for i, v in enumerate(r))] += 1
    return header, rows
