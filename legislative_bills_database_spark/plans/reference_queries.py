"""Reference-derived query inventory (SURVEY.md §2.1–§2.8).

Each query re-expresses one operation of the reference
(patrick95350/legislative-bills-database) on the driver fixture tables,
per the FIXTURES.md §C mapping (orders=bills, customer=legislators,
year(o_orderdate)=session, lineitem-per-order=sponsors/texts arrays).
Docstrings cite the reference site implemented.

Scale notes apply throughout: dimensions (customer, supplier, literal
tables) are broadcast; facts (orders, lineitem, events) are only ever
shuffled on their group/join keys; every filter/projection is a plain
Column expression so Catalyst pushes it into the parquet scan.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.compat import exact_sum, sql_exact_sum
from ..io import load_table, scratch_dir
from ..operators.aggregates import pivot_count, row_total
from ..operators.joins import (
    SQL_SESSION_LABEL,
    fallback_join,
    lookup_join,
    semi_join,
    session_label_for_year,
)
from ..operators.search import multiterm_search
from ..operators.dedup import keep_latest
from .registry import query

# The fixture orders span 1995..2001 (TESTDATA.md, seed=42); the pivot
# declares its values explicitly — discovery-by-distinct is an extra full
# scan at 100 TB (see operators/aggregates.py). pivot_count(strict=True)
# RAISES on a year outside this list rather than silently dropping rows,
# so a fixture change fails loudly instead of corrupting row totals.
YEARS = list(range(1995, 2002))
SESSIONS = [(f"{y}-{y + 1}", i + 1) for i, y in enumerate([1995, 1997, 1999, 2001])]


def _passed_orders_with_customer(spark, sf_dir):
    """Shared core: passed bills joined to legislators ≙ 'F' orders joined
    to (broadcast) customer. Reference: legislator_bill_counts_run.R:108-124."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.filter(F.col("o_orderstatus") == "F")
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .withColumn("o_year", F.year("o_orderdate"))
    )


_PASSED_JOIN_SQL = (
    "FROM orders JOIN customer ON o_custkey = c_custkey"
    " WHERE o_orderstatus = 'F'"
)


# ---------------------------------------------------------------------------
# §2.4 aggregations — the legislator-bill-counts pivot family
# ---------------------------------------------------------------------------

@query(
    "q_pivot_count",
    "SELECT c_name, "
    + ", ".join(
        f"COUNT(CASE WHEN year(o_orderdate) = {y} THEN 1 END) AS y{y}" for y in YEARS
    )
    + f" {_PASSED_JOIN_SQL} GROUP BY c_name",
)
def q_pivot_count(spark, sf_dir):
    """Grouped count pivoted by session (legislator_bill_counts_run.R:89-124):
    passed-bill counts per legislator per session, reshaped wide."""
    df = _passed_orders_with_customer(spark, sf_dir)
    return pivot_count(df, "c_name", "o_year", YEARS, prefix="y")


@query(
    "q_rowwise_total",
    f"SELECT c_name, COUNT(*) AS total_bills {_PASSED_JOIN_SQL} GROUP BY c_name",
)
def q_rowwise_total(spark, sf_dir):
    """Horizontal rowSums over the pivot (legislator_bill_counts_run.R:141) —
    computed the reference's way (wide reshape then row-wise add) and
    verified against the equivalent plain GROUP BY count."""
    wide = q_pivot_count(spark, sf_dir)
    cols = [f"y{y}" for y in YEARS]
    return row_total(wide, cols, "total_bills").select("c_name", "total_bills")


@query(
    "q_active_sessions",
    "SELECT c_name, CAST(COUNT(DISTINCT year(o_orderdate)) * 2 AS BIGINT)"
    f" AS years_in_data {_PASSED_JOIN_SQL} GROUP BY c_name",
)
def q_active_sessions(spark, sf_dir):
    """Count of non-zero pivot groups × 2 years/session
    (legislator_bill_counts_run.R:142)."""
    df = _passed_orders_with_customer(spark, sf_dir)
    return df.groupBy("c_name").agg(
        (F.countDistinct("o_year") * 2).alias("years_in_data")
    )


@query(
    "q_ratio_aggregate",
    "SELECT c_name, ROUND(CAST(COUNT(*) AS DOUBLE)"
    " / (COUNT(DISTINCT year(o_orderdate)) * 2), 6) AS bills_per_year"
    f" {_PASSED_JOIN_SQL} GROUP BY c_name",
)
def q_ratio_aggregate(spark, sf_dir):
    """Derived ratio of aggregates: Bills per Year = Total / Years-in-Data
    (legislator_bill_counts_run.R:143)."""
    df = _passed_orders_with_customer(spark, sf_dir)
    return df.groupBy("c_name").agg(
        F.round(
            F.count("*").cast("double") / (F.countDistinct("o_year") * 2), 6
        ).alias("bills_per_year")
    )


@query(
    "q_boolean_any_agg",
    "SELECT l_orderkey AS o_orderkey, bool_or(l_returnflag = 'R') AS any_returned"
    " FROM lineitem GROUP BY l_orderkey",
)
def q_boolean_any_agg(spark, sf_dir):
    """Any-match reduction rowSums(matrix)>0 (legiscan_search_all_bills.R:93)
    as a bool_or aggregate per order."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.bool_or(F.col("l_returnflag") == "R").alias("any_returned")
    )


@query(
    "q_special_case_collect",
    "SELECT o_orderkey, c_name, o_orderstatus,"
    " CAST(o_orderdate AS DATE) AS order_date, o_totalprice"
    " FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_custkey = 42",
)
def q_special_case_collect(spark, sf_dir):
    """Side-collection of one entity's full rows during the count pass
    (Bill Dodd table, legislator_bill_counts_run.R:127-134) — expressed as
    an independent filtered projection; no special machinery."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.filter(F.col("o_custkey") == 42)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "o_orderkey",
            "c_name",
            "o_orderstatus",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
        )
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

@query(
    "q_semi_join",
    "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders"
    " WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)",
)
def q_semi_join(spark, sf_dir):
    """Sponsor-in-legislators membership semi-join
    (legislator_bill_counts_run.R:114), broadcast dimension."""
    orders = load_table(spark, sf_dir, "orders")
    dim = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return semi_join(orders, dim, "o_custkey", "c_custkey").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )


@query(
    "q_fallback_join",
    """
    WITH l1 AS (SELECT l_orderkey, l_suppkey AS fallback_key FROM lineitem
                QUALIFY row_number() OVER (PARTITION BY l_orderkey
                        ORDER BY l_linenumber, l_suppkey) = 1),
         l2 AS (SELECT l_orderkey, min(l_suppkey) AS primary_key FROM lineitem
                WHERE l_linenumber = 2 GROUP BY l_orderkey),
         legit AS (SELECT s_suppkey FROM supplier WHERE s_acctbal > 4000),
         cand AS (SELECT l1.l_orderkey AS o_orderkey, l2.primary_key, l1.fallback_key
                  FROM l1 LEFT JOIN l2 ON l1.l_orderkey = l2.l_orderkey)
    SELECT o_orderkey, COALESCE(p.s_suppkey, f.s_suppkey) AS matched_suppkey
    FROM cand
    LEFT JOIN legit p ON cand.primary_key = p.s_suppkey
    LEFT JOIN legit f ON cand.fallback_key = f.s_suppkey
    WHERE COALESCE(p.s_suppkey, f.s_suppkey) IS NOT NULL
    """,
)
def q_fallback_join(spark, sf_dir):
    """Prioritized fallback join with drop-if-neither
    (legislator_bill_counts_run.R:114-122): primary sponsor = (min)
    supplier on line 2 (absent for orders without a line 2 → NULL primary
    exercises the fallback branch), fallback = first-listed supplier,
    dimension = suppliers with s_acctbal > 4000."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    l1 = keep_latest(li, "l_orderkey", [F.asc("l_linenumber"), F.asc("l_suppkey")]).select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_suppkey").alias("fallback_key"),
    )
    l2 = (
        li.filter(F.col("l_linenumber") == 2)
        .groupBy(F.col("l_orderkey").alias("__ok2"))
        .agg(F.min("l_suppkey").alias("primary_key"))
    )
    cand = l1.join(l2, l1.o_orderkey == l2.__ok2, "left").drop("__ok2")
    legit = supplier.filter(F.col("s_acctbal") > 4000).select("s_suppkey")
    return fallback_join(
        cand, legit, "primary_key", "fallback_key", "s_suppkey", "matched_suppkey"
    ).select("o_orderkey", "matched_suppkey")


@query(
    "q_lookup_join",
    "SELECT o_orderkey, c_name, o_orderstatus, CAST(o_orderdate AS DATE) AS order_date"
    " FROM orders JOIN customer ON o_custkey = c_custkey",
)
def q_lookup_join(spark, sf_dir):
    """Key-lookup join bill-number → bill document (legiscan_main.R:126-132)
    as a broadcast equi-join."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return lookup_join(
        orders, customer, orders.o_custkey == customer.c_custkey
    ).select(
        "o_orderkey",
        "c_name",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


@query(
    "q_derived_key_join",
    "WITH sessions(session_label, session_id) AS (VALUES "
    + ", ".join(f"('{lbl}', {sid})" for lbl, sid in SESSIONS)
    + "), o AS (SELECT o_orderkey, "
    + SQL_SESSION_LABEL.format(y="year(o_orderdate)")
    + " AS session_label FROM orders)"
    " SELECT o.o_orderkey, o.session_label, CAST(s.session_id AS BIGINT) AS session_id"
    " FROM o JOIN sessions s ON o.session_label = s.session_label",
)
def q_derived_key_join(spark, sf_dir):
    """Join on a parity-derived session key (legiscan_main.R:107-123):
    odd year → 'y-(y+1)', even year → '(y-1)-y', joined to a (broadcast)
    literal session table."""
    orders = load_table(spark, sf_dir, "orders")
    sessions = spark.createDataFrame(SESSIONS, "session_label string, session_id long")
    derived = orders.select(
        "o_orderkey",
        session_label_for_year(F.year("o_orderdate")).alias("session_label"),
    )
    return lookup_join(derived, sessions, ["session_label"]).select(
        "o_orderkey", "session_label", "session_id"
    )


# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# ---------------------------------------------------------------------------

@query(
    "q_nested_projection",
    "SELECT p_partkey, p_brand AS brand, split_part(p_name, ' ', 1) AS first_word"
    " FROM part",
)
def q_nested_projection(spark, sf_dir):
    """Nested struct + array-element projection
    (legiscan_search_all_bills.R:81-86): build the document shape
    (struct + array) then flatten, as the reference does with bill JSON."""
    part = load_table(spark, sf_dir, "part")
    nested = part.select(
        "p_partkey",
        F.struct(F.col("p_brand").alias("brand"), F.col("p_type").alias("type")).alias(
            "meta"
        ),
        F.split(F.col("p_name"), " ").alias("words"),
    )
    return nested.select(
        "p_partkey",
        F.col("meta.brand").alias("brand"),
        F.element_at("words", 1).alias("first_word"),
    )


@query(
    "q_projection_rename",
    "SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment,"
    " c_nationkey AS district FROM customer",
)
def q_projection_rename(spark, sf_dir):
    """Projection + positional rename (legislator_bill_counts_run.R:77-81)."""
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("district"),
    )


@query(
    "q_drop_columns",
    "SELECT c_custkey, c_name, c_mktsegment FROM customer",
)
def q_drop_columns(spark, sf_dir):
    """Column drop before output (legislator_bill_counts_run.R:153)."""
    return load_table(spark, sf_dir, "customer").drop("c_acctbal", "c_nationkey")


@query(
    "q_regex_filter",
    "SELECT doc_id, lang FROM documents"
    " WHERE regexp_matches(text, '^(key|data|batch) ')",
)
def q_regex_filter(spark, sf_dir):
    """Regex row filter '^[AS][BC]A? [0-9]' on PDF lines (legiscan_main.R:90),
    same anchored-alternation shape on the documents corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("text").rlike("^(key|data|batch) ")).select(
        "doc_id", "lang"
    )


@query(
    "q_ci_substring_filter",
    "SELECT doc_id, n_chars FROM documents WHERE lower(text) LIKE '%spark%'",
)
def q_ci_substring_filter(spark, sf_dir):
    """Case-insensitive substring search grepl(term, ignore.case=TRUE)
    (legiscan_main.R:213)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.lower(F.col("text")).contains("spark")).select(
        "doc_id", "n_chars"
    )


_TERMS = ["red", "small", "econ"]
_TERM_FIELDS = ["p_name", "p_type"]


@query(
    "q_multiterm_or_filter",
    "SELECT p_partkey, p_name, p_type FROM part WHERE "
    + " OR ".join(
        f"lower({c}) LIKE '%{t}%'" for t in _TERMS for c in _TERM_FIELDS
    ),
)
def q_multiterm_or_filter(spark, sf_dir):
    """Multi-term OR filter over two fields with stem-like substring terms
    (legiscan_search_all_bills.R:88-93)."""
    part = load_table(spark, sf_dir, "part")
    return multiterm_search(part, _TERM_FIELDS, _TERMS).select(
        "p_partkey", "p_name", "p_type"
    )


@query(
    "q_equality_filter",
    "SELECT o_orderkey, o_custkey FROM orders"
    " WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'",
)
def q_equality_filter(spark, sf_dir):
    """Equality predicates bill_type=='B' & status==4
    (legislator_bill_counts_run.R:108-111)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT")
    ).select("o_orderkey", "o_custkey")


@query(
    "q_isin_filter",
    "SELECT c_custkey, c_nationkey FROM customer WHERE c_nationkey IN (1, 3, 5, 7)",
)
def q_isin_filter(spark, sf_dir):
    """Membership predicate %in% (legislator_bill_counts_run.R:114,127)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.filter(F.col("c_nationkey").isin(1, 3, 5, 7)).select(
        "c_custkey", "c_nationkey"
    )


@query(
    "q_array_contains",
    "SELECT l_orderkey AS o_orderkey, COUNT(*) AS n_items FROM lineitem"
    " GROUP BY l_orderkey"
    " HAVING max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = 1",
)
def q_array_contains(spark, sf_dir):
    """Existence over a nested array: 'Chaptered' %in% texts$type
    (legiscan_main.R:150) — build the per-order flag array, then
    array_contains."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.collect_list("l_returnflag").alias("flags"),
            F.count("*").alias("n_items"),
        )
        .filter(F.array_contains(F.col("flags"), "R"))
        .select("o_orderkey", "n_items")
    )


@query(
    "q_boolean_mask_filter",
    "SELECT event_id, event_type, value FROM events"
    " WHERE value > 50 AND event_type IN ('purchase', 'signup')",
)
def q_boolean_mask_filter(spark, sf_dir):
    """Filter by a computed boolean mask column
    (legiscan_main.R:213,217): materialize matched, then filter on it."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn(
            "matched",
            (F.col("value") > 50) & F.col("event_type").isin("purchase", "signup"),
        )
        .filter(F.col("matched"))
        .select("event_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# §2.1 scans / sources / sinks (SQL-checkable subset)
# ---------------------------------------------------------------------------

@query(
    "q_json_scan",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k"
    " FROM events",
)
def q_json_scan(spark, sf_dir):
    """Semi-structured JSON document parse (legiscan_search_all_bills.R:78):
    events.props JSON string → typed nested field."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id", F.from_json(F.col("props"), "k INT").getField("k").alias("prop_k")
    )


@query(
    "q_dir_catalog",
    "SELECT doc_id, CAST(regexp_extract(source, '([0-9]+)$', 1) AS INTEGER) AS src_num"
    " FROM documents WHERE regexp_matches(source, '^src[0-9]+$')",
)
def q_dir_catalog(spark, sf_dir):
    """Directory-listing catalog scan with regex name filter + key derived
    from the file name (legislator_bill_counts_run.R:54-60;
    legiscan_search_all_bills.R:74-75) — source acts as the path."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("source").rlike("^src[0-9]+$")).select(
        "doc_id",
        F.regexp_extract(F.col("source"), "([0-9]+)$", 1).cast("int").alias("src_num"),
    )


_SBUD_LINKS = [
    (y, f"https://sbud.senate.ca.gov/sites/default/files/budget_{y}.pdf")
    for y in range(2008, 2022)
]


@query(
    "q_literal_table",
    "SELECT CAST(year AS INTEGER) AS year, url FROM (VALUES "
    + ", ".join(f"({y}, '{u}')" for y, u in _SBUD_LINKS)
    + ") AS t(year, url)",
)
def q_literal_table(spark, sf_dir):
    """Static in-code config table (sbud_budget_bill_links.R:4-18)."""
    return spark.createDataFrame(_SBUD_LINKS, "year int, url string")


@query(
    "q_csv_sink",
    "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders"
    " WHERE o_orderstatus = 'F'",
)
def q_csv_sink(spark, sf_dir):
    """Run-id-named CSV sink (legiscan_main.R:237): the projection is
    WRITTEN via sources.sinks.write_csv_report (to a temp dir — the write
    itself is part of the exercised operator), then returned for the
    value check."""
    from ..sources.sinks import write_csv_report

    orders = load_table(spark, sf_dir, "orders")
    out = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    write_csv_report(out, scratch_dir("sink"), "orders_f")
    return out


_PDF_LINES = [
    "AB 128  Budget Act of 2021",
    "SB 129  Budget Act of 2021",
    "Committee on Budget and Fiscal Review",
]


@query(
    "q_pdf_text_source",
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{ln}')" for ln in _PDF_LINES)
    + ") AS t(line)",
)
def q_pdf_text_source(spark, sf_dir):
    """PDF text source (legiscan_main.R:84-87): a deterministic fixture
    PDF is written to a temp dir, scanned via the binaryFile source,
    extracted by the pandas UDF and exploded to lines — the full
    distributed extraction path, hash-verified against the known content."""
    from pathlib import Path

    from ..sources.extract import make_simple_pdf, read_pdf_lines

    d = scratch_dir("pdf")
    Path(d, "2021_Budget_Bills.pdf").write_bytes(make_simple_pdf(_PDF_LINES))
    return read_pdf_lines(spark, f"{d}/*.pdf").filter(
        F.col("line") != ""
    ).select("line")


_HTML_DOC = (
    "<html><head><style>p{x}</style></head><body>"
    "<p>Budget &amp; Housing appropriations</p>"
    "<script>ignored()</script></body></html>"
)


@query(
    "q_html_text_source",
    "SELECT 'Budget & Housing appropriations' AS text",
)
def q_html_text_source(spark, sf_dir):
    """HTML text source (legiscan_main.R:212): markup stripped, entities
    decoded, script/style dropped — binaryFile scan + pandas-UDF
    extraction, hash-verified against the known text content."""
    from pathlib import Path

    from ..sources.extract import read_html_docs

    d = scratch_dir("html")
    Path(d, "2021_AB128.html").write_text(_HTML_DOC)
    return read_html_docs(spark, f"{d}/*.html").select("text")


@query(
    "q_base64_roundtrip",
    "SELECT doc_id, base64(encode(text)) AS b64,"
    " (decode(from_base64(base64(encode(text)))) = text) AS roundtrip_ok"
    " FROM documents",
)
def q_base64_roundtrip(spark, sf_dir):
    """base64 → binary decode (legiscan_data_pull.R:61; legiscan_main.R:175)
    as expressions: encode → base64 → unbase64 → decode roundtrip.
    Spark's base64 MIME-chunks long output with CRLF every 76 chars while
    DuckDB emits one line — the compared column strips the line breaks
    (content identical); unbase64 consumes the chunked form directly."""
    docs = load_table(spark, sf_dir, "documents")
    b64 = F.base64(F.encode("text", "utf-8"))
    return docs.select(
        "doc_id",
        F.regexp_replace(b64, "\r\n", "").alias("b64"),
        (F.decode(F.unbase64(b64), "utf-8") == F.col("text")).alias("roundtrip_ok"),
    )


# ---------------------------------------------------------------------------
# §2.5 sorts / dedup / array position
# ---------------------------------------------------------------------------

@query(
    "q_sort_desc",
    "SELECT c_custkey, c_name, c_acctbal FROM customer"
    " ORDER BY c_acctbal DESC, c_custkey LIMIT 25",
)
def q_sort_desc(spark, sf_dir):
    """Descending sort (legislator_bill_counts_run.R:65) with total
    tiebreak + limit so the result set is deterministic."""
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(25)
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "q_dedup_keep_latest",
    "SELECT o_custkey, o_orderkey AS latest_orderkey,"
    " CAST(o_orderdate AS DATE) AS latest_orderdate FROM orders"
    " QUALIFY row_number() OVER (PARTITION BY o_custkey"
    " ORDER BY o_orderdate DESC, o_orderkey DESC) = 1",
)
def q_dedup_keep_latest(spark, sf_dir):
    """Sort-then-!duplicated keep-newest dedup
    (legislator_bill_counts_run.R:63-67) as a deterministic window
    row_number — NOT dropDuplicates-after-orderBy."""
    orders = load_table(spark, sf_dir, "orders")
    return keep_latest(
        orders, "o_custkey", [F.desc("o_orderdate"), F.desc("o_orderkey")]
    ).select(
        "o_custkey",
        F.col("o_orderkey").alias("latest_orderkey"),
        F.col("o_orderdate").cast("date").alias("latest_orderdate"),
    )


@query(
    "q_array_last",
    "SELECT l_orderkey AS o_orderkey, l_suppkey AS last_suppkey FROM lineitem"
    " QUALIFY row_number() OVER (PARTITION BY l_orderkey"
    " ORDER BY l_linenumber DESC, l_suppkey DESC) = 1",
)
def q_array_last(spark, sf_dir):
    """Last element of a chronologically-ordered array: texts$doc_id[-1]
    (legiscan_main.R:167-168) — per-order array built in line order,
    element_at(-1)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.element_at(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "l_suppkey"))), -1
        )["l_suppkey"].alias("last_suppkey")
    )


@query(
    "q_array_first",
    "SELECT l_orderkey AS o_orderkey, l_suppkey AS first_suppkey FROM lineitem"
    " QUALIFY row_number() OVER (PARTITION BY l_orderkey"
    " ORDER BY l_linenumber ASC, l_suppkey ASC) = 1",
)
def q_array_first(spark, sf_dir):
    """First element of array: texts$state_link[1]
    (legiscan_search_all_bills.R:84)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.element_at(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "l_suppkey"))), 1
        )["l_suppkey"].alias("first_suppkey")
    )


# ---------------------------------------------------------------------------
# §2.6 set operations
# ---------------------------------------------------------------------------

@query(
    "q_union_all",
    "SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'"
    " UNION ALL"
    " SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '2-HIGH'",
)
def q_union_all(spark, sf_dir):
    """Per-partition result append + rbind (legiscan_search_all_bills.R:93-97)
    as unionByName."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderpriority"
    )
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        "o_orderkey", "o_orderpriority"
    )
    return urgent.unionByName(high)


# ---------------------------------------------------------------------------
# §2.7 scalar functions
# ---------------------------------------------------------------------------

@query(
    "q_regexp_extract",
    "SELECT c_custkey, CAST(regexp_extract(c_name, '#([0-9]+)', 1) AS BIGINT)"
    " AS cust_num FROM customer",
)
def q_regexp_extract(spark, sf_dir):
    """Regex capture extraction (bill number from PDF line,
    legiscan_main.R:92,220-221)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.regexp_extract(F.col("c_name"), "#([0-9]+)", 1)
        .cast("bigint")
        .alias("cust_num"),
    )


@query(
    "q_regexp_replace",
    "SELECT doc_id, regexp_replace(source, '^src', 'source_') AS source_label"
    " FROM documents",
)
def q_regexp_replace(spark, sf_dir):
    """Regex substitution (strip-fragment / Rep→Asm label cleanup,
    legiscan_search_all_bills.R:98; legislator_bill_counts_run.R:146-147).
    Pattern is anchored so Spark replace-all ≡ DuckDB replace-first."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_replace(F.col("source"), "^src", "source_").alias("source_label"),
    )


@query(
    "q_split_explode",
    "SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents",
)
def q_split_explode(spark, sf_dir):
    """Line/token splitting: strsplit + unlist → one row per token
    (legiscan_main.R:84-86)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )


@query(
    "q_concat",
    "SELECT c_custkey, c_name || ' [' || c_mktsegment || ']' AS label FROM customer",
)
def q_concat(spark, sf_dir):
    """String concatenation for filenames/labels/URLs
    (legiscan_main.R:74,165,230-233)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit(" ["), F.col("c_mktsegment"), F.lit("]")).alias(
            "label"
        ),
    )


@query(
    "q_conditional_expr",
    "SELECT o_orderkey, "
    + SQL_SESSION_LABEL.format(y="year(o_orderdate)")
    + " AS fiscal_year FROM orders",
)
def q_conditional_expr(spark, sf_dir):
    """Even/odd-year → fiscal-year-string conditional
    (legiscan_main.R:228-231)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        session_label_for_year(F.year("o_orderdate")).alias("fiscal_year"),
    )


@query(
    "q_cast",
    "SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT) AS total_floor,"
    " CAST(CAST(year(o_orderdate) AS VARCHAR) AS INTEGER) AS year_roundtrip"
    " FROM orders",
)
def q_cast(spark, sf_dir):
    """String↔numeric casts (as.numeric year arithmetic,
    legiscan_main.R:107,228-231). double→int goes through FLOOR explicitly:
    bare casts disagree across engines (Spark truncates, DuckDB rounds)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice")).cast("bigint").alias("total_floor"),
        F.year("o_orderdate").cast("string").cast("int").alias("year_roundtrip"),
    )


@query("q_uuid")  # nondeterministic → rows-only check (SURVEY §2.7)
def q_uuid(spark, sf_dir):
    """Per-run UUID id (legiscan_main.R:196) — value can't hash-match, the
    driver verifies row count/schema only."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(F.expr("uuid()").alias("run_id"), "o_orderkey")


@query(
    "q_parity_math",
    "SELECT CAST(year(o_orderdate) % 2 AS INTEGER) AS parity, COUNT(*) AS n"
    " FROM orders GROUP BY 1",
)
def q_parity_math(spark, sf_dir):
    """Modulo parity arithmetic year %% 2 (legiscan_main.R:107,228)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select((F.year("o_orderdate") % 2).cast("int").alias("parity"))
        .groupBy("parity")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_fixed_replace",
    "SELECT c_custkey, replace(c_name, 'Customer#', 'C-') AS short_name FROM customer",
)
def q_fixed_replace(spark, sf_dir):
    """Fixed-string replace gsub(' ','',bill) (legiscan_main.R:131,161)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.expr("replace(c_name, 'Customer#', 'C-')").alias("short_name"),
    )


@query(
    "q_year_extract",
    "SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS order_year,"
    " CAST(month(o_orderdate) AS INTEGER) AS order_month,"
    " CAST(o_orderdate AS DATE) AS order_date FROM orders",
)
def q_year_extract(spark, sf_dir):
    """Typed date functions replacing the reference's string-year handling
    (SURVEY §2.7 date note)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


# ---------------------------------------------------------------------------
# Superset relational ops (absent from the reference — SURVEY §2.4/§2.5/§2.6
# mark them "free in Spark"; declared so the engine's surface is the full
# relational algebra a reference user would grow into)
# ---------------------------------------------------------------------------

@query(
    "q_rollup_counts",
    "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,"
    " CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,"
    " CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority"
    " FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)",
)
def q_rollup_counts(spark, sf_dir):
    """Hierarchical subtotal aggregation (ROLLUP + GROUPING flags) —
    subtotals per status, per (status, priority), and grand total in one
    pass (one shuffle; Spark expands grouping sets map-side)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
    )


@query(
    "q_set_ops",
    """
    SELECT c_custkey FROM (
      SELECT DISTINCT o_custkey AS c_custkey FROM orders
      WHERE year(o_orderdate) = 1995
      INTERSECT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """,
)
def q_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT (absent from the reference, SURVEY §2.6):
    customers active in 1995 with a finished order but never urgent."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select(
        F.col("o_custkey").alias("c_custkey")
    )
    fin = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    urg = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return y95.intersect(fin).exceptAll(urg.distinct())


@query(
    "q_window_analytics",
    "SELECT o_orderkey,"
    " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER"
    "   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)"
    "   AS running_total,"
    " CAST(datediff('day', lag(o_orderdate) OVER"
    "   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),"
    "   o_orderdate) AS INTEGER) AS days_since_prev"
    " FROM orders",
)
def q_window_analytics(spark, sf_dir):
    """Analytic window functions with explicit frames (running customer
    spend + gap-to-previous-order) — beyond the reference's row_number
    dedup (SURVEY §2.5 'absent'); exact decimal running sum for
    cross-engine determinism."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return orders.select(
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(run)
        .cast("double")
        .alias("running_total"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        )
        .cast("int")
        .alias("days_since_prev"),
    )


@query(
    "q_cube_counts",
    "SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS order_year,"
    " COUNT(*) AS n,"
    " CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,"
    " CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_year"
    " FROM orders GROUP BY CUBE (o_orderstatus, year(o_orderdate))",
)
def q_cube_counts(spark, sf_dir):
    """Full CUBE over (status, year): every subtotal combination in one
    pass — like ROLLUP, Spark expands the grouping sets map-side, so it
    stays a single shuffle regardless of how many sets the cube implies."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    return orders.cube("o_orderstatus", "order_year").agg(
        F.count("*").alias("n"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("order_year").cast("int").alias("g_year"),
    )


@query(
    "q_grouping_sets",
    "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n"
    " FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())",
)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — the general form ROLLUP/CUBE specialize:
    independent per-status and per-priority subtotals plus the grand
    total, one shuffle, no self-union of three aggregates."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(F.count("*").alias("n"))


@query(
    "q_stats_agg",
    "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,"
    " CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)"
    "   / count(*) AS DOUBLE) AS mean_price,"
    " sqrt(greatest((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))"
    "   * CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)"
    "   - CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)"
    "     * CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / count(*))"
    "   / (count(*) - 1), 0.0)) AS std_price,"
    " min(o_totalprice) AS min_price, max(o_totalprice) AS max_price"
    " FROM orders GROUP BY o_orderstatus",
)
def q_stats_agg(spark, sf_dir):
    """Distributional statistics per group (n/mean/stddev/min/max) with
    EXACT decimal partial sums — ``stddev_samp`` on doubles is shuffle-
    order-dependent; sum and sum-of-squares in decimal are associative
    and exact, so mean/std derive deterministically in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(28,6)")
    s = F.sum(dec).cast("double")
    s2 = F.sum(dec * dec).cast("double")
    n = F.count("*")
    return orders.groupBy("o_orderstatus").agg(
        n.alias("n"),
        (s / n).cast("double").alias("mean_price"),
        F.sqrt(
            F.greatest((s2 - s * s / n) / (n - 1), F.lit(0.0))
        ).alias("std_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "q_quantiles",
    "SELECT o_orderstatus,"
    " quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS p25,"
    " quantile_cont(CAST(o_totalprice AS DOUBLE), 0.50) AS p50,"
    " quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) AS p75"
    " FROM orders GROUP BY o_orderstatus",
)
def q_quantiles(spark, sf_dir):
    """Exact per-group percentiles (linear interpolation, matching
    DuckDB's ``quantile_cont``). ``percentile`` buffers each group's
    values in the aggregation state — exact answers are inherently
    memory-bound per group, which is fine for bounded-cardinality
    grouping (3 statuses here) and the reason the 100 TB default is
    ``approx_percentile`` (KLL/GK sketch, fixed-size state, mergeable
    map-side); this query pins the exact semantics the sketch
    approximates."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", 0.25).alias("p25"),
        F.percentile("o_totalprice", 0.50).alias("p50"),
        F.percentile("o_totalprice", 0.75).alias("p75"),
    )


# ---------------------------------------------------------------------------
# §2.8 streaming (batch-window twin; true streaming in streaming/events.py)
# ---------------------------------------------------------------------------

@query(
    "q_tumbling_window_batch",
    "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,"
    " event_type, COUNT(*) AS n, "
    + sql_exact_sum("value")
    + " AS sum_value FROM events GROUP BY 1, 2",
)
def q_tumbling_window_batch(spark, sf_dir):
    """Tumbling 1-hour window aggregate over the events stream table —
    batch twin of the Structured Streaming query (SURVEY §2.8)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), exact_sum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )
