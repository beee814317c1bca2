"""Custom stateful streaming operators (SURVEY.md §2.9; task brief:
"applyInPandasWithState for custom stateful operators").

`running_user_stats` keeps an arbitrary per-key accumulator across
micro-batches — the shape any custom sessionizer / online aggregate /
dedup-with-TTL takes. State is a tiny fixed-width tuple per key, so at
10^12 rows the state store scales with DISTINCT keys only; the shuffle is
the groupBy's hash exchange, identical to a batch aggregation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUT_SCHEMA = "user_id long, n_events long, total double, last_event_us long"
STATE_SCHEMA = "n long, total double, last_us long"


def _update_user(key, pdfs, state):
    # GroupState.get is a PROPERTY in pyspark 4.x (state.get() would call
    # the returned tuple); only reachable when a key spans micro-batches
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            last_us = max(
                last_us, int(pd.to_datetime(pdf["ts"]).astype("int64").max() // 1000)
            )
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total": [total],
            "last_event_us": [last_us],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Streaming: per-user running (count, sum, last-event time) maintained
    in the state store across micro-batches (update mode). Batch: the
    equivalent groupBy aggregation — the pair is the stream==batch test."""
    if events.isStreaming:
        from pyspark.sql.streaming.state import GroupStateTimeout

        return events.groupBy("user_id").applyInPandasWithState(
            _update_user,
            OUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("last_event_us"),
    )
