"""Custom stateful streaming operator via ``applyInPandasWithState``
(north-star extension, SURVEY.md §2.9 — the reference has no streaming;
this is the escape hatch for stateful semantics that Spark's built-in
windowed aggregations cannot express).

The demonstration operator keeps **per-user running totals** across
micro-batches — cumulative event count, value sum, and last-seen event
time — the state shape of a feature-store "user profile" updated by an
event stream. State is a per-key tuple held by the streaming state
store (checkpointed, recoverable); each micro-batch's Arrow-transferred
pandas frames fold into it.

Scale posture: state is O(distinct keys), partitioned by the groupBy
hash — adding executors shards the state store linearly. The per-batch
work is vectorized pandas (sum/max over Arrow batches), not per-row
Python.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql.streaming.state import GroupState

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double, last_ts timestamp"
STATE_SCHEMA = "n long, total double, last_us long"


def _update_user_totals(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: "GroupState",
) -> Iterator[pd.DataFrame]:
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            batch_max = int(pdf["ts"].astype("int64").max())  # ns since epoch
            last_us = max(last_us, batch_max // 1000)
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "last_ts": [pd.Timestamp(last_us * 1000)],
        }
    )


def streaming_running_user_totals(stream: DataFrame) -> DataFrame:
    """Per-user cumulative (n_events, total_value, last_ts), re-emitted
    every micro-batch a user appears in. Update output mode: the memory
    or table sink keeps the latest row per user."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def batch_running_user_totals(events: DataFrame) -> DataFrame:
    """Batch twin of ``streaming_running_user_totals`` (replay
    equivalence: folding the whole bounded stream must equal one batch
    aggregation)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
        F.max("ts").alias("last_ts"),
    )
