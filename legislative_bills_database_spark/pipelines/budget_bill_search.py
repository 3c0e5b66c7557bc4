"""Pipeline 1: budget-bill full-text search.

Re-expresses /root/reference/src/legiscan_main.R:65-237 in stages:

1. :func:`budget_bill_numbers` — SBUD PDF text lines → regex-filter bill
   lines → extract bill number (:84-92).
2. :func:`budget_bills_with_data` — parity-derived session lookup-join of
   each (year, bill) to its LegiScan bill document (:101-137).
3. :func:`chaptered_doc_ids` — keep bills with a Chaptered text version,
   take the LAST doc_id (chronological order, :150-168). Fetching the
   HTML via getBillText is driver-side ingestion (sources/rest.py) — the
   chaptered-budget-bill list is bounded (dozens/year) by construction.
4. :func:`search_html_reports` — per-term case-insensitive full-text
   search over the extracted HTML texts, report projection with fiscal
   year + LegInfo link construction (:205-237). The reference's per-term
   file loop becomes a broadcast cross-join with a terms literal table;
   the per-term CSVs become one partitioned write.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.joins import session_label_for_year

BILL_LINE_RE = r"^[AS][BC]A? [0-9]"
BILL_NUMBER_RE = r"^([AS][BC]A? [0-9]+).+"
LEGINFO_PREFIX = "https://leginfo.legislature.ca.gov/faces/billTextClient.xhtml?bill_id="


def budget_bill_numbers(pdf_lines: DataFrame) -> DataFrame:
    """(year, bill) from PDF text lines (legiscan_main.R:90-92).

    ``pdf_lines``: (year int, line string) — the output of
    sources.extract.read_pdf_lines joined to its source year.
    """
    return (
        pdf_lines.filter(F.col("line").rlike(BILL_LINE_RE))
        .select(
            "year",
            F.regexp_extract(F.col("line"), BILL_NUMBER_RE, 1).alias("bill"),
        )
        .distinct()
    )


def budget_bills_with_data(budget_bills: DataFrame, bills: DataFrame) -> DataFrame:
    """Lookup-join each budget bill to its LegiScan document via the
    parity-derived session path (legiscan_main.R:107-132): odd year →
    'y-(y+1)', even → '(y-1)-y'; file key = bill number without spaces."""
    keyed = budget_bills.select(
        "year",
        "bill",
        F.concat(
            session_label_for_year(F.col("year")), F.lit(" Regular Session")
        ).alias("session"),
        F.regexp_replace(F.col("bill"), " ", "").alias("doc_key"),
    )
    return F.broadcast(keyed).join(bills, ["session", "doc_key"])


def chaptered_doc_ids(bills_joined: DataFrame) -> DataFrame:
    """Chaptered budget bills with the doc_id of their chaptered (last)
    text version (legiscan_main.R:150,167-168).

    ``element_at(..., -1)`` never meets an empty ``texts`` array (an ANSI
    error): the ``array_contains`` filter keeps only bills with a
    Chaptered entry."""
    return bills_joined.filter(
        F.array_contains(F.col("texts.type"), "Chaptered")
    ).select(
        "year",
        "bill",
        "doc_key",
        F.element_at(F.col("texts.doc_id"), -1).alias("doc_id"),
    )


def fetch_chaptered_html(client, chaptered: DataFrame, dest_dir: str) -> int:
    """Driver-side ingestion of chaptered bill texts (legiscan_main.R:163-175):
    getBillText per doc_id → base64-decoded HTML → '<year>_<BILLNO>.html',
    skipping files already on disk (the reference's don't-over-tax guard).

    The chaptered-budget-bill list is BOUNDED (dozens per year) by
    construction, so collecting (year, doc_key, doc_id) to the driver is a
    metadata transfer, not a data-scan collect — same posture as the REST
    client itself. Returns the number of files written.
    """
    from ..sources.rest import fetch_bill_text_html

    dest = Path(dest_dir)
    dest.mkdir(parents=True, exist_ok=True)
    written = 0
    for row in chaptered.select("year", "doc_key", "doc_id").collect():
        target = dest / f"{row['year']}_{row['doc_key']}.html"
        if target.exists():
            continue
        target.write_bytes(fetch_bill_text_html(client, row["doc_id"]))
        written += 1
    return written


def run_budget_bill_search(
    spark: SparkSession,
    client,
    bills: DataFrame,
    pdf_lines: DataFrame,
    downloads_dir: str,
    out_dir: str,
    terms: list[str],
    run_id: str | None = None,
) -> str:
    """The whole legiscan_main.R flow (:65-237) as one call: budget-bill
    numbers from PDF lines → parity session lookup → chaptered doc ids →
    driver-side HTML fetch (skip-if-exists) → full-text term search →
    ONE partitioned CSV write (the reference's per-term CSV loop as a
    single distributed write). Returns the report path."""
    from ..sources.extract import read_html_docs
    from ..sources.sinks import write_csv_report

    numbers = budget_bill_numbers(pdf_lines)
    joined = budget_bills_with_data(numbers, bills)
    chaptered = chaptered_doc_ids(joined)
    fetch_chaptered_html(client, chaptered, downloads_dir)
    # the search scans whatever the downloads dir holds (the reference's
    # list.files at legiscan_main.R:196-199 — prior runs' files included);
    # a fresh dir with zero chaptered bills yields an empty report, not a
    # PATH_NOT_FOUND from the binaryFile source
    if any(Path(downloads_dir).glob("*.html")):
        html_docs = read_html_docs(spark, f"{downloads_dir}/*.html")
    else:
        html_docs = spark.createDataFrame([], "path string, text string")
    report = search_html_reports(html_docs, terms)
    return write_csv_report(
        report, out_dir, "budget_bill_search", run_id=run_id,
        partition_by=["term"],
    )


def search_html_reports(html_docs: DataFrame, terms: list[str]) -> DataFrame:
    """Per-term case-insensitive search + report projection
    (legiscan_main.R:212-233).

    ``html_docs``: (path, text) where path ends '<yyyy>_<BILLNO>.html'
    (sources.extract.read_html_docs over the chaptered downloads dir).
    Returns one row per (term, matched bill): term, Bill, fiscal_year,
    type, item, amount, link, also_appears_in — the reference's report
    frame; blank audit columns preserved (:222-226).

    Each text is lowercased once, in ``base``, and each term once, in
    the broadcast table, so the join condition compares lowercased
    strings instead of lowercasing a whole text per (text, term) pair.
    The report keeps the term as given.
    """
    spark = html_docs.sparkSession
    terms_df = F.broadcast(
        spark.createDataFrame([(t,) for t in terms], "term string").withColumn(
            "term_lc", F.lower("term")
        )
    )
    base = html_docs.select(
        F.regexp_extract(F.col("path"), r"(20[0-9]{2})_[A-Z0-9]+\.html$", 1)
        .cast("int")
        .alias("year"),
        F.concat(
            F.regexp_extract(F.col("path"), r"20[0-9]{2}_([A-Z]+)[0-9]+\.html$", 1),
            F.lit(" "),
            F.regexp_extract(F.col("path"), r"20[0-9]{2}_[A-Z]+([0-9]+)\.html$", 1),
        ).alias("Bill"),
        F.lower("text").alias("text_lc"),
    )
    matched = base.join(terms_df, F.col("text_lc").contains(F.col("term_lc")))
    fiscal = session_label_for_year(F.col("year"))
    link = F.regexp_replace(
        F.concat(F.lit(LEGINFO_PREFIX), fiscal, F.lit("0"), F.col("Bill")),
        "-|[ ]",
        "",
    )
    return matched.select(
        "term",
        "Bill",
        fiscal.alias("fiscal_year"),
        F.lit("").alias("type"),
        F.lit("").alias("item"),
        F.lit("").alias("amount"),
        link.alias("link"),
        F.lit("").alias("also_appears_in"),
    )
