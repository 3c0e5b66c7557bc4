"""Property-based tests (SURVEY.md §5 item 4, hypothesis).

Each property pins an algebraic invariant of an operator family rather
than a fixed example: pivot row-totals equal the plain group count for
ANY data; keep_latest is deterministic and idempotent; the parity session
label round-trips its year; shingle counts follow the clamped formula.
Examples are kept small (Spark per-example overhead) — the value is in
the generated edge cases: empty groups, single rows, duplicate keys,
boundary years.
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from legislative_bills_database_spark.functions.text import shingles, tokens
from legislative_bills_database_spark.operators.aggregates import pivot_count, row_total
from legislative_bills_database_spark.operators.dedup import keep_latest
from legislative_bills_database_spark.operators.joins import session_label_for_year
from legislative_bills_database_spark.pipelines.legislator_bill_counts import (
    resolve_sponsors,
)

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

YEARS = [2000, 2001, 2002]


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.sampled_from(YEARS)),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_pivot_row_total_equals_group_count(spark, rows):
    df = spark.createDataFrame(rows, "g string, y int")
    wide = row_total(
        pivot_count(df, "g", "y", YEARS), [str(y) for y in YEARS], "total"
    )
    got = {r["g"]: r["total"] for r in wide.collect()}
    expected = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3), st.integers(0, 5), st.integers(0, 1000)
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_keep_latest_deterministic_and_idempotent(spark, rows):
    df = spark.createDataFrame(rows, "k int, v int, payload int")
    order = [F.desc("v"), F.desc("payload")]  # total order → deterministic
    once = keep_latest(df, "k", order)
    twice = keep_latest(once, "k", order)
    a = sorted(tuple(r) for r in once.collect())
    b = sorted(tuple(r) for r in twice.collect())
    assert a == b  # idempotent
    assert len(a) == df.select("k").distinct().count()  # one row per key
    # deterministic winner: max by (v, payload) per key
    best = {}
    for k, v, p in rows:
        if k not in best or (v, p) > best[k]:
            best[k] = (v, p)
    assert {(k, *vp) for k, vp in best.items()} == set(a)


@given(year=st.integers(1900, 2100))
@settings(**SETTINGS)
def test_session_label_roundtrip(spark, year):
    df = spark.createDataFrame([(year,)], "y int")
    row = df.select(
        session_label_for_year(F.col("y")).alias("label")
    ).collect()[0]
    start, end = map(int, row["label"].split("-"))
    assert end == start + 1
    assert start % 2 == 1  # sessions start on odd years
    assert year in (start, end)


@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=4), min_size=1, max_size=12
    ),
    n=st.integers(2, 4),
)
@settings(**SETTINGS)
def test_shingle_count_formula(spark, words, n):
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "t string")
    row = df.select(
        F.size(shingles(tokens(F.col("t")), n)).alias("n_shingles"),
        F.size(F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size(tokens(F.col("t"))) - (n - 1), F.lit(1)),
                ),
                lambda i: F.concat_ws(" ", F.slice(tokens(F.col("t")), i, n)),
            )
        )).alias("check"),
    ).collect()[0]
    # shingles are DISTINCT; count bounded by the clamped window count
    assert 1 <= row["n_shingles"] <= max(len(words) - n + 1, 1)
    assert row["n_shingles"] == row["check"]


@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=1,
        max_size=40,
    ),
    chunk=st.integers(min_value=1, max_value=7),
)
@settings(**SETTINGS)
@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_ewma_chunked_equals_sequential_property(spark, vals, chunk):
    """For ANY series and ANY chunk size, the chunked affine composition
    equals the one-pass fold (within float tolerance)."""
    import datetime as dt

    from legislative_bills_database_spark.operators.timeseries import (
        ewma_last,
        ewma_last_chunked,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, value double"
    )
    seq = ewma_last(df, alpha=0.3).collect()[0]
    chk = ewma_last_chunked(df, alpha=0.3, chunk_size=chunk).collect()[0]
    assert chk.n_obs == seq.n_obs == len(vals)
    assert abs(chk.ewma - seq.ewma) <= 1e-3


@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # key
            st.sampled_from(["I", "U", "D"]),
            st.integers(min_value=0, max_value=9),  # seq
            st.integers(min_value=0, max_value=99),  # payload
        ),
        min_size=0,
        max_size=20,
        unique_by=lambda t: (t[0], t[2]),  # unique (key, seq): CDC contract
    )
)
@settings(**SETTINGS)
@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_cdc_apply_matches_dict_replay(spark, ops):
    """cdc_apply == a per-key latest-op dict replay for ANY changelog
    with unique (key, seq)."""
    from legislative_bills_database_spark.operators.scd import cdc_apply

    base_rows = [(k, -1) for k in range(3)]  # keys 0..2 pre-exist
    base = spark.createDataFrame(base_rows, "k long, v long")
    if ops:
        chg = spark.createDataFrame(
            [(k, str(v), op, seq) for k, op, seq, v in ops],
            "k long, v string, op string, seq int",
        ).select("k", F.col("v").cast("long").alias("v"), "op", "seq")
        got = {r.k: r.v for r in cdc_apply(base, chg, "k", ["v"]).collect()}
    else:
        got = {r.k: r.v for r in base.collect()}
    want = dict(base_rows)
    latest: dict[int, tuple[int, str, int]] = {}
    for k, op, seq, v in ops:
        if k not in latest or seq > latest[k][0]:
            latest[k] = (seq, op, v)
    for k, (_, op, v) in latest.items():
        if op == "D":
            want.pop(k, None)
        else:
            want[k] = v
    assert got == want


@given(
    iv=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),
            st.integers(min_value=0, max_value=10),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_max_concurrency_matches_python_sweep(spark, iv):
    """Distributed +1/−1 sweep == the obvious single-threaded sweep for
    ANY interval multiset (ends close before starts at the same day)."""
    import datetime as dt

    from legislative_bills_database_spark.operators.temporal import (
        max_concurrency,
    )

    d0 = dt.date(2024, 1, 1)
    rows = [
        (d0 + dt.timedelta(days=s), d0 + dt.timedelta(days=s + dur))
        for s, dur in iv
    ]
    df = spark.createDataFrame(rows, "s date, e date")
    got = max_concurrency(df, "s", "e").collect()[0]
    deltas = sorted(
        [(s, 1) for s, _ in rows] + [(e, -1) for _, e in rows],
        key=lambda t: (t[0], t[1]),
    )
    # max over RUNNING values (zero-duration intervals can hold the peak
    # at 0 — at the instant the -1/+1 pair cancels), first ts wins
    best, cur, best_ts = float("-inf"), 0, None
    for ts, dlt in deltas:
        cur += dlt
        if cur > best:
            best, best_ts = cur, ts
    assert got.peak_concurrency == best
    assert got.peak_start == best_ts


@given(
    deltas=st.lists(
        st.tuples(
            st.integers(0, 3),          # user
            st.integers(0, 10**6),      # ts
            st.integers(-500, 400),     # delta (negative-heavy runs too)
        ),
        min_size=1,
        max_size=60,
    ),
    chunk=st.sampled_from([1, 3, 16]),
)
@settings(**SETTINGS)
@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_capped_runsum_chunked_equals_sequential(spark, deltas, chunk):
    """Any chunking of the (s,m) transform composition reproduces the
    sequential clamp fold exactly (integer arithmetic — no tolerance)."""
    from legislative_bills_database_spark.operators.timeseries import (
        capped_runsum_chunked,
    )

    # unique (user, ts) so ordering is total and the python sim agrees
    seen = set()
    rows = []
    for u, ts, d in deltas:
        if (u, ts) in seen:
            continue
        seen.add((u, ts))
        rows.append((u, ts, d))
    df = spark.createDataFrame(rows, "user_id long, ts long, delta long")
    got = {
        r.user_id: r.final_balance
        for r in capped_runsum_chunked(
            df, "user_id", "ts", "delta", "ts", chunk_size=chunk
        ).collect()
    }
    want = {}
    for u, ts, d in sorted(rows, key=lambda r: (r[0], r[1])):
        want[u] = max(want.get(u, 0) + d, 0)
    assert got == want


@given(
    items=st.lists(st.integers(1, 10**7), min_size=1, max_size=12),
    total=st.integers(0, 10**9),
)
@settings(**SETTINGS)
@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_largest_remainder_allocation_properties(spark, items, total):
    """Allocation sums exactly to the total; every part is within 1 cent
    of its unrounded proportional share (the largest-remainder
    guarantee)."""
    rows = [(1, i + 1, p) for i, p in enumerate(items)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_linenumber long, p long")
    from pyspark.sql import Window as W

    w = W.partitionBy("l_orderkey")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.lit(total).alias("total"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "p",
        "total",
        F.expr("total * p DIV sum(p) OVER (PARTITION BY l_orderkey)").alias(
            "base_cents"
        ),
        F.expr("(total * p) % sum(p) OVER (PARTITION BY l_orderkey)").alias(
            "rem"
        ),
    )
    ranked = base.select(
        "l_orderkey",
        "l_linenumber",
        "p",
        "base_cents",
        (F.col("total") - F.sum("base_cents").over(w)).alias("shortfall"),
        F.row_number()
        .over(W.partitionBy("l_orderkey").orderBy(F.col("rem").desc(), "l_linenumber"))
        .alias("rr"),
    )
    out = ranked.select(
        "p",
        (
            F.col("base_cents")
            + F.when(F.col("rr") <= F.col("shortfall"), 1).otherwise(0)
        ).alias("alloc"),
    ).collect()
    sp = sum(items)
    assert sum(r.alloc for r in out) == total
    for r in out:
        exact = total * r.p / sp
        assert exact - 1 < r.alloc < exact + 1


SPONSORS_SCHEMA = (
    "doc_key string, "
    "sponsors array<struct<people_id: bigint, sponsor_type_id: int>>"
)
# every branch of the sponsor rule, in each generated batch
SPONSOR_EDGE_BILLS = [
    ("co_primary", [(1, 1), (2, 1), (3, 2)]),
    ("dup_primary", [(1, 1), (1, 1), (9, 1)]),
    ("primary_not_legislator", [(9, 1), (2, 2)]),
    ("fallback_first", [(3, 2), (1, 2)]),
    ("null_people_id", [(None, 1), (None, 2)]),
    ("null_first_listed", [(None, 2), (1, 2)]),
    ("empty", []),
    ("null", None),
]


def _sponsor_rule(bills, ids):
    """The counts rule (legislator_bill_counts_run.R:114-122) in plain
    Python: every distinct primary sponsor that is a legislator, else the
    first-listed sponsor if a legislator, else nothing."""
    out = []
    for key, sponsors in bills:
        primary = {p for p, t in sponsors or [] if t == 1} & ids
        if primary:
            out += [(key, p) for p in primary]
        elif sponsors and sponsors[0][0] in ids:
            out.append((key, sponsors[0][0]))
    return sorted(out)


PEOPLE = st.one_of(st.none(), st.integers(1, 6), st.just(9))


@given(
    sponsors=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.tuples(PEOPLE, st.one_of(st.none(), st.integers(1, 2))),
                max_size=4,
            ),
        ),
        max_size=12,
    ),
    ids=st.lists(st.one_of(st.none(), st.integers(1, 6)), max_size=6),
)
@settings(**{**SETTINGS, "max_examples": 4})
def test_resolve_sponsors_matches_python_rule(spark, sponsors, ids):
    bills = SPONSOR_EDGE_BILLS + [(f"gen{i}", s) for i, s in enumerate(sponsors)]
    got = resolve_sponsors(
        spark.createDataFrame(bills, SPONSORS_SCHEMA),
        spark.createDataFrame([(i,) for i in [1, 2] + ids], "people_id bigint"),
    ).select("doc_key", "people_id")
    assert sorted(tuple(r) for r in got.collect()) == _sponsor_rule(
        bills, {1, 2} | {i for i in ids if i is not None}
    )
