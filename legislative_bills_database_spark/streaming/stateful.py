"""Custom stateful streaming operators via applyInPandasWithState.

The built-in streaming surface (streaming/events.py) covers windows,
watermark dedup and session windows; this module is the escape hatch the
built-ins can't express — arbitrary per-key state updated per
micro-batch. The example operator keeps a running per-user aggregate
(event count + value total) across batches: state lives in the state
store (checkpointed, bounded per key), Arrow batches flow per key group,
and timeouts GC idle keys.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_SCHEMA = "user_id long, n_events long, total_value double"
_STATE_SCHEMA = "n long, total double"


def _update_running_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Running per-user (count, sum) maintained across micro-batches.

    Emits the updated running totals for every user seen in each batch —
    a cumulative aggregate no built-in output mode provides (update-mode
    windowed aggs reset per window; this never resets). State per key is
    two scalars, so 10⁹ users is ~tens of GB of store, shardable across
    executors.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_running_totals,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """Running per-user (count, sum) via ``transformWithStateInPandas``
    — Spark 4's successor to applyInPandasWithState (SPARK-46815): the
    processor owns NAMED state variables (value/list/map) fetched from
    a handle at init, instead of one implicit tuple; timers replace
    timeout confs. Semantically identical to
    :func:`running_user_totals`; the q_stream_tws_totals census diffs
    both against the batch aggregate. Engine constraint certified
    there: transformWithState runs ONLY on the RocksDB state-store
    provider — the HDFS heap provider is refused at query start.
    The import + subclass stay inside this function so the module
    imports even if a future pyspark moves the experimental API."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _RunningTotalsTws(StatefulProcessor):
        def init(self, handle) -> None:  # StatefulProcessorHandle
            self._totals = handle.getValueState("totals", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            cur = self._totals.get()
            n, total = cur if cur is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotalsTws(),
        outputStructType=RUNNING_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
