"""Custom stateful streaming operators via ``applyInPandasWithState``.

Where the built-in windows/dedup (streaming/events.py) end, arbitrary
per-key state begins: Spark hands each key's micro-batch rows to Python as
Arrow-backed pandas frames plus a ``GroupState`` handle.  This module keeps
the state tiny and fixed-width (a few scalars per key) so per-key state is
O(1) and the operator scales to any key cardinality the state store holds.

Operator: running per-user totals with a high-value anomaly flag -- the
"custom stateful operator" shape (fraud counters, rate limiters, feature
freshness) that neither windows nor dropDuplicates can express, because
state must accumulate *across* windows for the stream's lifetime.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: per-key state: fixed-width scalars only (no per-event history).
STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("max_value", DoubleType()),
        StructField("anomaly", BooleanType()),
    ]
)


def _update_user_totals(threshold: float):
    def fn(
        key: tuple[Any, ...],
        pdfs: "Iterator[pd.DataFrame]",
        state: GroupState,
    ) -> "Iterator[pd.DataFrame]":
        import pandas as pd

        n, s, mx = (
            state.get if state.exists else (0, 0.0, float("-inf"))
        )
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, s, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [round(s, 6)],
                "max_value": [mx],
                "anomaly": [mx >= threshold],
            }
        )

    return fn


def running_user_totals_stream(
    events: DataFrame, anomaly_threshold: float = 190.0
) -> DataFrame:
    """Per-user lifetime totals, one updated row per user per micro-batch.

    Output mode is ``update``; each emitted row carries the totals *after*
    the batch, so the last row per user equals the global batch aggregate --
    the property the stream/batch parity test asserts.
    """
    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _update_user_totals(anomaly_threshold),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_to_memory_sink(stream_df: DataFrame, query_name: str):
    """Drain a stateful stream (update mode) into an in-memory table."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )

