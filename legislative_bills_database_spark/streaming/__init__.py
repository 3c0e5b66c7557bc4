"""Structured Streaming variants of the batch event operators (SURVEY §2.8).

Not in the reference (strictly batch); this is the north-star streaming
surface: the same logical windows/dedup/sessionization as the batch
queries, expressed over an unbounded source. Not DuckDB-checkable, so
the 12 ``q_stream_*`` queries are declared rows-only: each is a census
that runs a bounded stream against its batch twin and returns the
verdict as rows (``census.StreamCensus`` owns the run around it).
"""

from .events import (  # noqa: F401
    dedup_within_watermark,
    session_counts,
    stream_events_from_files,
    tumbling_counts,
)
from .scd import scd2_stream  # noqa: F401
from .stateful import running_user_totals  # noqa: F401
