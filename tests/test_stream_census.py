"""The bounded-stream harness (streaming/census.py) that every
``q_stream_*`` census runs in: a stream that does not drain raises and is
stopped, and whatever the census started or registered is gone after the
``with`` block, also when its body raises."""

from __future__ import annotations

import glob
import os

import pytest

from legislative_bills_database_spark.io import load_table
from legislative_bills_database_spark.plans import QUERIES
from legislative_bills_database_spark.streaming import census as census_mod
from tests.conftest import SF_DIR


def _views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


def _counts(spark, census):
    """A 4-micro-batch complete-mode count over freshly landed events."""
    events = load_table(spark, SF_DIR, "events")
    path, schema = census.land(
        events.select("event_id", "ts", "event_type").repartition(4)
    )
    return census.stream(path, schema).groupBy("event_type").count()


def test_land_stamps_increasing_mtimes_in_part_order(spark):
    events = load_table(spark, SF_DIR, "events").select("event_id", "ts")
    with census_mod.StreamCensus(spark, "t_land") as census:
        path, schema = census.land(events.repartition(4))
        parts = sorted(glob.glob(f"{path}/part-*.json"))
        mtimes = [os.path.getmtime(p) for p in parts]
        assert len(parts) == 4
        assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
        assert schema == events.schema


def test_undrained_stream_raises_naming_it_and_is_cleaned_up(
    spark, monkeypatch
):
    monkeypatch.setattr(census_mod, "STREAM_TIMEOUT_S", 0.001)
    before = _views(spark)
    with census_mod.StreamCensus(spark, "t_undrained") as census:
        counts = _counts(spark, census)
        with pytest.raises(TimeoutError, match="t_undrained_") as err:
            census.run(counts, "complete")
        name = str(err.value).split()[1]
        assert spark.streams.active == []
        scratch = census.dir
    assert name not in _views(spark) and _views(spark) == before
    assert not os.path.exists(scratch)


def test_cleanup_when_the_census_body_raises(spark, monkeypatch):
    # no wait at all: the stream is still running when the body raises
    monkeypatch.setattr(census_mod, "drain", lambda query: None)
    before = _views(spark)
    with pytest.raises(ZeroDivisionError):
        with census_mod.StreamCensus(spark, "t_body_raises") as census:
            counts = _counts(spark, census)
            census.run(counts, "complete")
            scratch = census.dir
            assert len(_views(spark) - before) == 1
            1 / 0
    assert spark.streams.active == []
    assert _views(spark) == before
    assert not os.path.exists(scratch)


@pytest.mark.parametrize("name", ["q_stream_rate_limit", "q_stream_tws_totals"])
def test_stream_census_leaves_no_view_behind(spark, name):
    before = _views(spark)
    QUERIES[name](spark, SF_DIR).collect()
    assert _views(spark) == before
    assert spark.streams.active == []
