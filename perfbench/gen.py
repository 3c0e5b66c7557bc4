"""Seeded inputs for the benchmark workloads.

Everything here is pure Python (plus numpy/pyarrow for the fixture
tables): the engine under test only ever sees the files written to disk
and the in-process ``getBillText`` transport. The same seed always
yields byte-identical inputs.

Two input families:

* :func:`legiscan_tree` — a LegiScan-shaped document tree (bill/people
  JSON per session, SBUD budget PDFs, chaptered bill HTML served by a fake
  transport). The returned :class:`Tree` keeps the generated records as
  Python objects so :mod:`perfbench.expected` can compute every pipeline
  output without reading the files back.
* :func:`fixture_tables` — the ten fixture tables the declared queries
  read (same schemas as the sf fixture tables of TESTDATA.md), sized like sf0.01.
"""

from __future__ import annotations

import base64
import json
import random
from dataclasses import dataclass, field
from pathlib import Path

SPECIAL_PEOPLE_ID = 16285  # run_legislator_bill_counts' default side table

# Topic stems searched by the pipelines and the request mix. Title and
# description words are drawn Zipf-skewed from this list, so a few terms
# hit many bills and most hit few.
TOPICS = [
    "housing", "water", "budget", "transit", "wildfire", "education",
    "health", "afford", "energy", "tax", "labor", "privacy", "cannabis",
    "climate", "veteran", "tenant", "broadband", "pension", "school",
    "insurance", "Medi-Cal", "drought", "firearm", "election",
]
FILLER = [
    "act", "relating", "to", "the", "state", "program", "funding", "public",
    "county", "services", "amend", "code", "section", "district", "local",
    "agency", "report", "grant", "commission", "standards",
]
INGEST_TERMS = ["afford", "housing", "wildfire", "transit", "Medi-Cal"]
BUDGET_TERMS = ["appropriation", "transit", "Medi-Cal", "wildfire", "reserve"]
BUDGET_WORDS = [
    "appropriation", "transit", "Medi-Cal", "wildfire", "reserve", "item",
    "schedule", "general", "fund", "department", "support", "local",
    "assistance", "capital", "outlay", "program", "provision",
]
LEGINFO = "https://leginfo.legislature.ca.gov/faces/billNavClient.xhtml?bill_id="


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


@dataclass
class Tree:
    """A generated document tree and the records it was written from."""

    data_root: str
    pdf_dir: str
    sessions: list[str]  # session titles, oldest first
    start_years: list[int]
    bills: list[dict]  # flat: session, doc_key, bill_number, ... (see _bill)
    people: list[dict]  # flat: session, people_id, role, name, district, committee_id
    budget_lines: dict[int, list[str]]  # year -> PDF text lines
    html: dict[int, bytes] = field(default_factory=dict)  # doc_id -> HTML
    html_text: dict[int, str] = field(default_factory=dict)  # doc_id -> visible text
    json_files: int = 0
    pdf_files: int = 0
    input_bytes: int = 0

    def transport(self, calls: list[int]):
        """In-process ``getBillText`` endpoint; appends each doc id served
        to ``calls``."""

        def get(url: str, params: dict) -> tuple[int, dict]:
            if params.get("op") != "getBillText":
                return 404, {}
            doc_id = int(params["id"])
            calls.append(doc_id)
            doc = base64.b64encode(self.html[doc_id]).decode()
            return 200, {"text": {"doc": doc}}

        return get


def session_title(start_year: int) -> str:
    return f"{start_year}-{start_year + 1} Regular Session"


def _words(rng: random.Random, n: int, topic_share: float) -> list[str]:
    w = zipf_weights(len(TOPICS))
    out = []
    for _ in range(n):
        if rng.random() < topic_share:
            t = rng.choices(TOPICS, w)[0]
            out.append(t.capitalize() if rng.random() < 0.15 else t)
        else:
            out.append(rng.choice(FILLER))
    return out


def _deck(rng: random.Random, n: int, values: list, weights: list[float]) -> list:
    """``n`` values in the given proportions (largest remainder), shuffled:
    every seed gets the same mix and the seed only decides the order, so
    the work a tree makes does not vary with the seed."""
    total = sum(weights)
    exact = [n * w / total for w in weights]
    counts = [int(x) for x in exact]
    by_remainder = sorted(range(len(values)), key=lambda i: counts[i] - exact[i])
    for i in by_remainder[: n - sum(counts)]:
        counts[i] += 1
    deck = [v for v, c in zip(values, counts) for _ in range(c)]
    rng.shuffle(deck)
    return deck


def _write_json(path: Path, payload: dict) -> int:
    data = json.dumps(payload, indent=1).encode()
    path.write_bytes(data)
    return len(data)


def legiscan_tree(
    root: Path,
    seed: int,
    n_sessions: int = 3,
    bills_per_session: int = 400,
    legislators: int = 150,
) -> Tree:
    """Write a LegiScan-shaped tree under ``root`` and return its records.

    Layout: ``data/<title>/CA/<title_underscored>/{bill,people}/*.json``
    and ``pdf/<year>_SBUD.pdf``. Chaptered HTML is not on disk: the
    pipelines fetch it through :meth:`Tree.transport`.
    """
    rng = random.Random(seed)
    data_root = root / "data"
    pdf_dir = root / "pdf"
    pdf_dir.mkdir(parents=True)
    start_years = [2023 - 2 * i for i in range(n_sessions)][::-1]
    sessions = [session_title(y) for y in start_years]

    pool = rng.sample(range(10_000, 40_000), legislators - 1) + [SPECIAL_PEOPLE_ID]
    names = {pid: f"Member{i:03d} {rng.choice(FILLER).title()}" for i, pid in enumerate(pool)}
    outsiders = list(range(900_000, 900_040))  # sponsors who are not legislators

    tree = Tree(str(data_root), str(pdf_dir), sessions, start_years, [], [], {})
    doc_id = 1000
    for s_idx, title in enumerate(sessions):
        sdir = data_root / title / "CA" / title.replace(" ", "_")
        (sdir / "bill").mkdir(parents=True)
        (sdir / "people").mkdir(parents=True)
        members = sorted(rng.sample(pool[:-1], int(len(pool) * 0.8)))
        members.append(SPECIAL_PEOPLE_ID)
        for pid in members:
            senate = rng.random() < 0.35 or pid == SPECIAL_PEOPLE_ID
            person = {
                "session": title,
                "people_id": pid,
                "role": "Sen" if senate else "Rep",
                "name": names[pid],
                "district": f"{'SD' if senate else 'HD'}-{rng.randint(1, 80):02d}",
                "committee_id": rng.choice([3, 7, 12]) if rng.random() < 0.05 else 0,
            }
            tree.people.append(person)
            body = {k: person[k] for k in ("people_id", "role", "name", "district", "committee_id")}
            tree.input_bytes += _write_json(sdir / "people" / f"{pid}.json", {"person": body})
            tree.json_files += 1

        numbers: dict[str, int] = {"AB": 0, "SB": 0, "ACR": 0, "SCR": 0}
        prefixes = _deck(rng, bills_per_session, list(numbers), [0.55, 0.35, 0.06, 0.04])
        kinds = ["B" if p in ("AB", "SB") else "R" for p in prefixes]
        statuses, chaptered = {}, {}
        for kind in "BR":
            deck = _deck(rng, kinds.count(kind), [1, 2, 3, 4, 5, 6], [0.2, 0.2, 0.1, 0.35, 0.1, 0.05])
            statuses[kind] = iter(deck)
            chaptered[kind] = iter(_deck(rng, deck.count(4), [True, False], [0.6, 0.4]))
        for prefix, kind in zip(prefixes, kinds):
            status = next(statuses[kind])
            numbers[prefix] += rng.randint(1, 3)
            number = f"{prefix}{numbers[prefix]}"
            n_texts = rng.randint(1, 3)
            types = ["Introduced"] + ["Amended"] * (n_texts - 1)
            if status == 4 and next(chaptered[kind]):
                types.append("Chaptered")
            texts = []
            for t in types:
                doc_id += 1
                link = f"{LEGINFO}{start_years[s_idx]}0{number}"
                if rng.random() < 0.5:
                    link += f"#v{doc_id}"
                texts.append({"doc_id": doc_id, "type": t, "state_link": link})
            sponsors = []
            for _ in range(rng.randint(1, 4)):
                if rng.random() < 0.85:
                    pid = SPECIAL_PEOPLE_ID if rng.random() < 0.03 else rng.choice(members)
                else:
                    pid = rng.choice(outsiders)
                sponsors.append({"people_id": pid, "sponsor_type_id": 1 if rng.random() < 0.45 else 2})
            bill = {
                "session": title,
                "doc_key": number,
                "bill_number": number,
                "bill_type": kind,
                "status": status,
                "status_date": f"{start_years[s_idx] + rng.randint(0, 1)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
                "title": " ".join(_words(rng, rng.randint(3, 8), 0.4)),
                "description": " ".join(_words(rng, rng.randint(6, 16), 0.3)),
                "session_name": title,
                "texts": texts,
                "sponsors": sponsors,
            }
            tree.bills.append(bill)
            body = {k: bill[k] for k in ("bill_number", "bill_type", "status", "status_date", "title", "description", "texts", "sponsors")}
            body["session"] = {"session_name": title}
            tree.input_bytes += _write_json(sdir / "bill" / f"{number}.json", {"bill": body})
            tree.json_files += 1

    _budget_inputs(rng, tree)
    return tree


def _budget_inputs(rng: random.Random, tree: Tree) -> None:
    """SBUD PDFs (one per year) listing budget bills, plus the chaptered
    HTML each chaptered budget bill's last text resolves to."""
    from legislative_bills_database_spark.sources.extract import make_simple_pdf

    by_session: dict[str, list[dict]] = {}
    for b in tree.bills:
        if b["bill_type"] == "B":
            by_session.setdefault(b["session"], []).append(b)
    for start in tree.start_years:
        bills = by_session[session_title(start)]
        done = [b for b in bills if b["texts"][-1]["type"] == "Chaptered"]
        rest = [b for b in bills if b["texts"][-1]["type"] != "Chaptered"]
        for year in (start, start + 1):
            # a fixed number of chaptered bills per PDF: the downloads of a
            # pass do not vary with the seed
            listed = rng.sample(done, min(4, len(done))) + rng.sample(rest, min(8, len(rest)))
            rng.shuffle(listed)
            lines = [f"SUMMARY OF BUDGET BILLS {year}", "Senate Budget Committee", ""]
            for b in listed:
                num = b["bill_number"]
                spaced = num[:2] + " " + num[2:]
                lines.append(f"  {spaced}  {' '.join(rng.choices(BUDGET_WORDS, k=4))}")
                lines.append(f"Item {rng.randint(1000, 9999)}-001-0001 {rng.choice(BUDGET_WORDS)}")
            lines.append(f"AB {rng.randint(5000, 6000)}  not in this session")
            tree.budget_lines[year] = lines
            pdf = make_simple_pdf(lines)
            (Path(tree.pdf_dir) / f"{year}_SBUD.pdf").write_bytes(pdf)
            tree.input_bytes += len(pdf)
            tree.pdf_files += 1
    for b in tree.bills:
        last = b["texts"][-1]
        if last["type"] != "Chaptered":
            continue
        words = rng.choices(BUDGET_WORDS + FILLER, k=rng.randint(40, 120))
        visible = " ".join(words[:20]) + " R&D " + " ".join(words[20:])
        hidden = rng.choice(BUDGET_TERMS)
        html = (
            "<html><head><title>Chaptered</title>"
            f"<script>var t = '{hidden}';</script></head><body><p>"
            + " ".join(words[:20]) + " R&amp;D </p><p>" + " ".join(words[20:])
            + "</p></body></html>"
        ).encode()
        tree.html[last["doc_id"]] = html
        tree.html_text[last["doc_id"]] = "Chaptered" + visible
        tree.input_bytes += len(html)


# ---------------------------------------------------------------------------
# Fixture tables for the declared queries
# ---------------------------------------------------------------------------

DOC_VOCAB = [
    "row", "the", "query", "stream", "fast", "spark", "line", "small",
    "customer", "group", "value", "hash", "batch", "sort", "data", "big",
    "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "a",
    "merge", "window", "order", "column", "join", "vector",
]


@dataclass
class Tables:
    sf_dir: str
    input_bytes: int


def fixture_tables(sf_dir: Path, seed: int, scale: float = 1.0) -> Tables:
    """The ten fixture tables, one parquet file each, sized like sf0.01
    at ``scale`` 1 (documents/embeddings stay at 500 like the fixtures)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    sf_dir.mkdir(parents=True)
    n_cust, n_supp, n_part = int(1500 * scale), max(20, int(100 * scale)), int(2000 * scale)
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_docs = n_vec = 500 if scale >= 1 else max(60, int(500 * scale))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def stamps(start, days, n, whole_days):
        base = np.datetime64(start, "us")
        if whole_days:
            off = rng.integers(0, days, n).astype("timedelta64[D]")
        else:
            off = np.sort(rng.choice(days * 86_400_000_000, n, replace=False))
            off = rng.permutation(off).astype("timedelta64[us]")
        return pa.array(base + off, pa.timestamp("us"))

    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    tables = {
        "region": {"r_regionkey": i32(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32([i % 5 for i in range(25)])},
        "customer": {
            "c_custkey": i64(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": i64(range(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": i64(range(n_part)),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["blue", "hot", "small", "old", "red", "new", "big", "dark"], n_part),
                rng.choice(["bolt", "gear", "anvil", "ring", "widget", "rod", "nut", "pipe"], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
        },
        "orders": {
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": stamps("1995-01-01", 2404, n_ord, True),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
            "l_partkey": i64(rng.integers(0, n_part, n_li)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": stamps("1995-01-02", 2498, n_li, True),
        },
        "events": {
            "event_id": i64(range(n_ev)),
            "ts": stamps("2024-01-01", 30, n_ev, False),
            "user_id": i64(rng.integers(0, 150, n_ev)),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
            "value": money(0.01, 490, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    }

    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.04:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i > 20 and rng.random() < 0.04:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(DOC_VOCAB))
            texts.append(" ".join(words))  # near duplicate
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB, int(rng.integers(8, 100)))))
    tables["documents"] = {
        "doc_id": i64(range(n_docs)),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": i64([len(t) for t in texts]),
    }
    vec = rng.standard_normal((n_vec, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": i64(range(n_vec)),
        "embedding": pa.array(list(vec.astype("float32")), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vec)),
    }

    total = 0
    for name, cols in tables.items():
        path = sf_dir / f"{name}.parquet"
        pq.write_table(pa.table(cols), path)
        total += path.stat().st_size
    return Tables(str(sf_dir), total)
