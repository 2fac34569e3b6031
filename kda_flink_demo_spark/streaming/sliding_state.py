"""Streaming sliding event-time range-OVER count (reference W5) — the one
genuinely custom stateful operator (SURVEY §4.2.1).

Reference semantics (`StreamJobSqlSliding.java:153-160`): one output row per
input event carrying COUNT(*) of same-key events in the trailing interval
(RANGE BETWEEN INTERVAL 'n' PRECEDING AND CURRENT ROW). Unbounded per-event
OVER windows are unsupported in Structured Streaming, so this implements the
operator with ``applyInPandasWithState``: per key, a sorted buffer of event
timestamps (micros), pruned below ``watermark − interval``; each batch's events
are counted against buffer + in-batch earlier events via binary search.

The batch form (`operators.over_windows.sliding_range_count`) is the
correctness oracle — on an in-order bounded replay the outputs are identical
(tests/test_streaming.py). Divergence note (SURVEY §2.3 T2): Spark watermarks
advance per micro-batch, not per record, so *which* out-of-order rows are
dropped as late can differ from Flink's per-record watermark; end-of-stream
results match on in-order replays.

Scale notes: state per key is one int64 per event in the trailing interval —
bounded by rate × interval, pruned every batch by the global watermark. Keys
shard across executors by hash (same as Flink's keyBy); skewed keys bound the
operator exactly as they do the reference.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType([T.StructField("times", T.ArrayType(T.LongType()))])


def _output_schema(key_field: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(key_field, T.StringType()),
            T.StructField("rowtime", T.TimestampType()),
            T.StructField("railway_class_count", T.LongType()),
        ]
    )


def sliding_range_count_stream(
    events: DataFrame,
    key: str = "railway_class",
    ts: str = "rowtime",
    preceding_seconds: int = 30 * 60,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """events(event_id, key, ts) stream → one row per event with the trailing
    interval count, exactly-once w.r.t. the downstream idempotent sink."""
    interval_us = preceding_seconds * 1_000_000

    def fn(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        times = (
            np.asarray(state.get[0], dtype=np.int64) if state.exists else np.empty(0, np.int64)
        )
        parts = [p for p in pdfs if len(p)]
        if not parts:
            # same prune-and-remove hygiene as the normal path: an invocation
            # with only empty chunks must still advance watermark pruning and
            # must not create/retain a never-expiring empty-key entry
            # (NoTimeout means the state store would never clean it up)
            wm_ms = state.getCurrentWatermarkMs()
            if wm_ms > 0:
                cutoff = wm_ms * 1000 - interval_us
                times = times[np.searchsorted(times, cutoff, side="left"):]
            if len(times) == 0:
                if state.exists:
                    state.remove()
            else:
                state.update((times.tolist(),))
            yield pd.DataFrame(
                {
                    "event_id": pd.Series([], dtype="int64"),
                    key: pd.Series([], dtype=object),
                    "rowtime": pd.Series([], dtype="datetime64[ns]"),
                    "railway_class_count": pd.Series([], dtype="int64"),
                }
            )
            return
        pdf = pd.concat(parts) if len(parts) > 1 else parts[0]
        # vectorized RANGE-frame count: one searchsorted pair over the merged
        # (state + batch) timestamp array — equal-timestamp peers within the
        # batch count for each other, exactly like the batch range frame
        t_us = (pdf["rowtime"].astype("int64").to_numpy() // 1000).astype(np.int64)
        merged = np.sort(np.concatenate([times, t_us]))
        hi = np.searchsorted(merged, t_us, side="right")
        lo = np.searchsorted(merged, t_us - interval_us, side="left")
        counts = (hi - lo).astype(np.int64)
        # prune below watermark − interval: no future non-late event can reach
        # back past that, so counts are unaffected
        wm_ms = state.getCurrentWatermarkMs()
        if wm_ms > 0:
            cutoff = wm_ms * 1000 - interval_us
            merged = merged[np.searchsorted(merged, cutoff, side="left"):]
        if len(merged) == 0:
            # full state hygiene: drop the key entirely once its trailing
            # buffer empties — with high key cardinality at scale, empty-key
            # entries would otherwise accumulate forever in the state store
            state.remove()
        else:
            state.update((merged.tolist(),))
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy(),
                key: key_tuple[0],
                "rowtime": pdf["rowtime"],
                "railway_class_count": counts,
            }
        )

    renamed = events.select(
        F.col("event_id"), F.col(key).cast("string").alias(key), F.col(ts).alias("rowtime")
    ).withWatermark("rowtime", watermark_delay)
    return renamed.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=_output_schema(key),
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
