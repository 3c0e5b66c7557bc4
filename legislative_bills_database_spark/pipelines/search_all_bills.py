"""Pipeline 2: multi-term keyword search over all bills.

Re-expresses /root/reference/src/legiscan_search_all_bills.R:65-99:
per-session JSON scan → 6-field nested projection → boolean match matrix
over terms × (title, description) → keep any-match rows → union →
URL-fragment strip → CSV.

In Spark the per-session loop disappears: one partition-pruned read over
all configured sessions, one filter expression (Catalyst folds the
term×field OR into the scan), zero shuffles end-to-end.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_search_all_bills(
    spark,
    data_root: str,
    out_dir: str,
    terms: list[str],
    session_years: list[int],
    save_name: str = "search",
    run_id: str | None = None,
) -> str:
    """The whole legiscan_search_all_bills.R flow (:48-99) as one call:
    configured sessions (start years, odd) → partition-pruned document
    read → multi-term search → run-id CSV. Returns the report path."""
    from ..sources.documents import read_bills, session_title
    from ..sources.sinks import write_csv_report

    sessions = [session_title(y) for y in session_years]
    bills = read_bills(spark, data_root, sessions)
    result = search_all_bills(bills, terms)
    return write_csv_report(
        # one-partition report: orderBy's rows without its sampling job
        result.repartition(1).sortWithinPartitions("session", "bill_number"),
        out_dir, save_name, run_id=run_id,
    )


def search_all_bills(bills: DataFrame, terms: list[str]) -> DataFrame:
    """Bills whose title OR description contains ANY term.

    Matching is CASE-SENSITIVE substring (the reference's ``grepl``
    default, legiscan_search_all_bills.R:90-91); terms act as stems
    ('affordab', :52). The first texts.state_link is kept with its
    '#...' fragment stripped (:84,98); a bill without texts keeps a NULL
    link (R's ``[1]`` of an empty vector is NA).
    """
    proj = bills.select(
        "bill_number",
        F.col("session_name").alias("session"),
        "status",
        F.try_element_at(F.col("texts.state_link"), F.lit(1)).alias("link"),
        "title",
        "description",
    )
    any_match = reduce(
        or_,
        [
            F.col(field).contains(term)
            for term in terms
            for field in ("title", "description")
        ],
    )
    return proj.filter(any_match).withColumn(
        "link", F.regexp_replace("link", "#.+$", "")
    )
