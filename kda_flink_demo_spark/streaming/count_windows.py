"""Streaming count-based (row) windows — Flink's ``countWindow`` family,
which neither Spark SQL nor Structured Streaming has natively (batch twin:
``registry_extra.count_windows_100`` builds it from row_number).

Semantics: per key, every ``size`` events (in event-time order) form a window;
a window EMITS the moment its ``size``-th event is processed — count windows
close by arrival, not by watermark, so unlike time windows no lateness wait is
involved. The trailing partial window stays in state (Flink behaves the same:
countWindow only fires on the count trigger).

The operator runs on ``applyInPandasWithState``; its state per key is
THREE scalars — (next_window_id, leftover_count, leftover_sum) —
independent of rate or window size, so the state store holds O(keys) bytes
at any scale; keys shard across executors by hash exactly like Flink's
keyBy. Per micro-batch the closing math is vectorized: one cumsum per
key-batch, window sums read off by index difference.

Batch-as-oracle: on an in-order replay the closed streaming windows equal the
batch query's full windows EXACTLY (the batch result additionally carries the
final partials) — asserted in tests/test_streaming.py.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

COUNT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("next_window_id", T.LongType()),
        T.StructField("leftover_count", T.LongType()),
        T.StructField("leftover_sum", T.DoubleType()),
    ]
)


def _output_schema(key_field: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(key_field, T.StringType()),
            T.StructField("window_id", T.LongType()),
            T.StructField("railway_class_count", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )


def count_windows_stream(
    events: DataFrame,
    key: str = "railway_class",
    ts: str = "rowtime",
    value_col: str = "value",
    size: int = 100,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """events(event_id, key, ts, value) stream → one row per CLOSED window:
    (key, window_id, count=size, det_round(sum_value, 4))."""

    def fn(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        wid, cnt, acc = state.get if state.exists else (0, 0, 0.0)
        parts = [p for p in pdfs if len(p)]
        empty = pd.DataFrame(
            {
                key: pd.Series([], dtype=object),
                "window_id": pd.Series([], dtype="int64"),
                "railway_class_count": pd.Series([], dtype="int64"),
                "sum_value": pd.Series([], dtype="float64"),
            }
        )
        if not parts:
            # count windows never expire by time — state is 3 scalars per key,
            # deliberately retained (NoTimeout) so the partial window survives
            yield empty
            return
        pdf = pd.concat(parts) if len(parts) > 1 else parts[0]
        # deterministic in-window order: same sort key as the batch row_number
        pdf = pdf.sort_values(["rowtime", "event_id"], kind="mergesort")
        vals = pdf[value_col].to_numpy(dtype="float64")
        total = cnt + len(vals)
        n_closed = total // size
        if n_closed == 0:
            state.update((int(wid), int(total), float(acc + vals.sum())))
            yield empty
            return
        csum = np.concatenate(([0.0], np.cumsum(vals)))
        ends = np.arange(1, n_closed + 1) * size - cnt  # exclusive batch index
        starts = np.maximum(ends - size, 0)
        sums = csum[ends] - csum[starts]
        if cnt > 0:
            sums[0] += acc  # first closed window absorbs the carried partial
        leftover_cnt = total - n_closed * size
        leftover_sum = float(csum[-1] - csum[ends[-1]])
        state.update((int(wid + n_closed), int(leftover_cnt), leftover_sum))
        rounded = [math.floor(s * 10000.0 + 0.5) / 10000.0 for s in sums]  # det_round(4)
        yield pd.DataFrame(
            {
                key: key_tuple[0],
                "window_id": np.arange(wid, wid + n_closed, dtype="int64"),
                "railway_class_count": np.full(n_closed, size, dtype="int64"),
                "sum_value": rounded,
            }
        )

    renamed = events.select(
        F.col("event_id"),
        F.col(key).cast("string").alias(key),
        F.col(ts).alias("rowtime"),
        F.col(value_col).alias(value_col),
    ).withWatermark("rowtime", watermark_delay)
    return renamed.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=_output_schema(key),
        stateStructType=COUNT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
