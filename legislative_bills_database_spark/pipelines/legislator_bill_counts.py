"""Pipeline 3: per-legislator passed-bill counts pivoted by session.

Re-expresses /root/reference/src/legislator_bill_counts_run.R:51-157 as
one declarative plan: window-dedup people (keep newest session) → project
→ filter passed bills → sponsor resolution (primary-sponsor set match
with first-listed fallback, drop-if-neither) → pivot count with
Total / Years-in-Data / Bills-per-Year arithmetic → label cleanup →
committee filter → column drop.

Scale shape: legislators are a bounded dimension (broadcast everywhere);
bills shuffle once on the pivot group key. Zero driver-side loops — the
reference's per-bill R loop (:103-135) is one projection over one scan
of ``bills``, against the legislator ids collected into one broadcast
row (:func:`resolve_sponsors`). The keep-latest window runs only on the
side that needs the legislator attributes.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import pivot_count
from ..operators.dedup import keep_latest


def run_legislator_bill_counts(
    spark,
    data_root: str,
    out_dir: str,
    sessions: list[str] | None = None,
    all_bills: bool = True,
    special_people_id: int | None = 16285,
    run_id: str | None = None,
) -> tuple[str, str | None]:
    """The whole legislator_bill_counts_run.R flow (:51-157) as one call:
    session catalog → JSON document model → counts pipeline → two run-id
    CSVs ('all_legislators' + the special side table). ``sessions`` None
    derives the list from the data_root directory names matching
    '^[0-9]{4}' — the reference's list.files catalog (:54), a metadata
    operation. Returns (counts_path, special_path)."""
    import re
    from pathlib import Path

    from ..sources.documents import read_bills, read_people
    from ..sources.sinks import new_run_id, write_csv_report

    if sessions is None:
        sessions = sorted(
            p.name
            for p in Path(data_root).iterdir()
            if p.is_dir() and re.match(r"^[0-9]{4}", p.name)
        )
    bills = read_bills(spark, data_root, sessions)
    people = read_people(spark, data_root, sessions)
    counts, special = legislator_bill_counts(
        bills, people, sessions, all_bills, special_people_id
    )
    run_id = run_id or new_run_id()
    # one-partition reports: sorting inside the single partition gives
    # orderBy's rows without its range exchange (and its sampling job)
    counts_path = write_csv_report(
        counts.repartition(1).sortWithinPartitions("Name"), out_dir,
        f"all_bills_{all_bills}_all_legislators", run_id=run_id,
    )
    special_path = None
    if special is not None:
        special_path = write_csv_report(
            special.repartition(1).sortWithinPartitions("session", "bill"),
            out_dir,
            f"all_bills_{all_bills}_special_bills", run_id=run_id,
        )
    return counts_path, special_path


def resolve_sponsors(bills: DataFrame, legislator_ids: DataFrame) -> DataFrame:
    """(bill, matched legislator) pairs per the reference's two-step rule
    (legislator_bill_counts_run.R:114-122):

    1. every DISTINCT primary sponsor (sponsor_type_id == 1) of the bill
       that appears in the legislator table gets credit — the R code is a
       set-membership test, so one bill can credit several legislators;
    2. if NO primary sponsor matched, the first-listed sponsor gets
       credit if they are a legislator;
    3. otherwise the bill is dropped (also a bill with an empty or NULL
       ``sponsors`` array: R's ``people_id[1]`` of an empty list matches
       no legislator).

    ``legislator_ids``: one column ``people_id`` (bounded). It is folded
    into ONE broadcast row (the id set), so the rule is one projection
    over one scan of ``bills``: credited ids per bill, then explode.
    """
    ids = F.broadcast(
        legislator_ids.agg(F.collect_set("people_id").alias("__ids"))
    )
    primary = F.array_intersect(
        F.array_distinct(
            F.filter(F.col("sponsors"), lambda s: s.sponsor_type_id == 1)
            .getField("people_id")
        ),
        F.col("__ids"),
    )
    first = F.try_element_at(F.col("sponsors.people_id"), F.lit(1))
    credited = F.when(F.size(primary) > 0, primary).when(
        F.array_contains(F.col("__ids"), first), F.array(first)
    )
    return (
        bills.crossJoin(ids)
        .select(F.explode(credited).alias("people_id"), "*")
        .drop("__ids")
    )


def legislator_bill_counts(
    bills: DataFrame,
    people: DataFrame,
    sessions: list[str],
    all_bills: bool = True,
    special_people_id: int | None = 16285,
) -> tuple[DataFrame, DataFrame | None]:
    """(counts, special_bills) — the two CSVs of the reference run.

    ``sessions`` are the pivot columns (the reference gets them from the
    directory listing, :54 — a metadata operation, not a data scan; pass
    them in the same way). ``all_bills=False`` applies the bill_type=='B'
    gate (:108); ``special_people_id`` side-collects that legislator's
    bills (:127-134, Bill Dodd), ``None`` disables.
    """
    legislators = keep_latest(people, "people_id", [F.desc("session")]).select(
        F.col("people_id").alias("id"),
        F.col("role").alias("Chamber"),
        F.col("name").alias("Name"),
        F.col("district").alias("District"),
        F.col("committee_id").alias("committee"),
    )
    passed = bills.filter(F.col("status") == 4)
    if not all_bills:
        passed = passed.filter(F.col("bill_type") == "B")

    # the ids keep_latest yields are exactly people's distinct ids, so
    # the resolve side needs no window
    matches = resolve_sponsors(passed, people.select("people_id"))

    wide = pivot_count(matches, "people_id", "session", sessions)
    # legislators with zero passed bills stay in the output (the reference
    # matrix is zero-initialized for every legislator, :89)
    counts = (
        legislators.join(
            wide, legislators.id == wide.people_id, "left"
        )
        .drop("people_id")
        .na.fill(0, [str(s) for s in sessions])
    )
    total = reduce(add, [F.col(f"`{s}`") for s in sessions])
    active = reduce(
        add, [F.when(F.col(f"`{s}`") > 0, 1).otherwise(0) for s in sessions]
    )
    counts = (
        counts.withColumn("Total", total)
        .withColumn("Years in Data", (active * 2).cast("long"))
        # 0-bill legislators: R yields NaN (0/0); we emit NULL — same
        # "undefined" semantics, saner SQL type
        .withColumn(
            "Bills per Year",
            F.when(
                F.col("`Years in Data`") > 0,
                F.col("Total").cast("double") / F.col("`Years in Data`"),
            ),
        )
        # LegiScan labels Assembly as 'Rep'/'HD-' — cleanup at :146-147
        .withColumn("Chamber", F.regexp_replace("Chamber", "Rep", "Asm"))
        .withColumn("District", F.regexp_replace("District", "HD-", "AD-"))
        .filter(F.col("committee") == 0)
        .drop("id", "committee")
    )

    special = None
    if special_people_id is not None:
        special = (
            matches.filter(F.col("people_id") == special_people_id)
            .select(
                "session",
                F.col("bill_number").alias("bill"),
                F.col("status_date").alias("date"),
                "title",
                F.col("description").alias("desc"),
            )
        )
    return counts, special
