"""Event-time windows (reference §2.5 W1–W4) as batch/streaming-agnostic builders.

One implementation serves all three reference spellings (Flink SQL, Table API,
DataStream API) because they compile to the same windowed aggregate
(/root/reference/.../StreamJobSqlTumbling.java:145-153, StreamJobTumbling.java:146-149,
StreamJobTumblingOffset.java:157) — exactly as Spark SQL and the DataFrame API share
one Catalyst plan.

Scale notes: a windowed count shuffles once on (window, key) with partial
aggregation map-side (HashAggregate partial→final). Key cardinality here is
(#windows × #classes) — small and uniform, no skew handling needed. In streaming
mode the same builders run incrementally with state keyed the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    df: DataFrame,
    key: str = "railway_class",
    ts: str = "rowtime",
    size: str = "1 minute",
    offset: str | None = None,
    count_alias: str = "railway_class_count",
) -> DataFrame:
    """W1/W2 tumbling (and W3 with ``offset``) windowed count.

    Output contract per /root/reference/README.MD:46-51:
    (key, count, window_start, window_end). ``offset`` maps the DataStream API's
    TumblingEventTimeWindows.of(size, offset)
    (/root/reference/.../StreamJobTumblingOffset.java:157) onto Spark's ``startTime``.
    """
    win = (
        F.window(ts, size, size, offset) if offset is not None else F.window(ts, size)
    )
    return (
        df.groupBy(win.alias("w"), F.col(key).cast("string").alias(key))
        .agg(F.count(F.lit(1)).alias(count_alias))
        .select(
            key,
            count_alias,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
    )


def hopping_counts(
    df: DataFrame,
    key: str = "railway_class",
    ts: str = "rowtime",
    size: str = "2 minutes",
    slide: str = "1 minute",
    count_alias: str = "railway_class_count",
) -> DataFrame:
    """W4 hopping window count with the reference's HOP_ROWTIME column
    (window end − 1 ms, used as RECEIVED_ON by the hopping sink,
    /root/reference/.../StreamJobSqlHopping.java:145-154).

    The reference hardcodes a degenerate slide of INTERVAL '0' SECOND (quirk,
    SURVEY §7.3); we expose slide as a real parameter.
    """
    return (
        df.groupBy(F.window(ts, size, slide).alias("w"), F.col(key).cast("string").alias(key))
        .agg(F.count(F.lit(1)).alias(count_alias))
        .select(
            key,
            count_alias,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
        .withColumn("received_on", F.col("window_end") - F.expr("INTERVAL 1 MILLISECOND"))
    )


def cumulate_counts(
    df: DataFrame,
    key: str = "railway_class",
    ts: str = "rowtime",
    step_s: int = 120,
    max_s: int = 600,
    count_alias: str = "railway_class_count",
) -> DataFrame:
    """CUMULATE windows (Flink 1.13+ windowing TVF; absent in the reference's
    Flink 1.8 but part of the modern Flink window family alongside W1–W4/W6):
    windows share a fixed start at each ``max_s`` cycle boundary and grow by
    ``step_s`` — an event at t belongs to every window
    [cycle, cycle + j·step) with cycle = floor(t/max)·max and
    cycle + j·step > t. The early-firing dashboard shape ("counts so far
    this 10-minute cycle, refreshed every 2") expressed as a BATCH windowed
    aggregate; Spark has no native TVF for it, so the window set per event
    is a closed-form sequence + explode — pure JVM.

    Scale shape: the explode fans each event out max/step× at most (5 here)
    map-side; the aggregate shuffles once on (window, key) with partial
    aggregation, the same profile as hopping windows (a hop of slide s and
    size n·s fans out identically). Integer-seconds arithmetic: window
    boundaries are whole multiples of step, so the truncating
    timestamp→long cast loses nothing (boundary events land exactly as the
    exclusive-end rule demands, and DuckDB's floor(epoch(ts)) recomputes the
    identical assignment).

    Output: (key, count, window_start, window_end)."""
    if max_s % step_s != 0 or step_s <= 0:
        raise ValueError(f"max_s must be a positive multiple of step_s: {max_s}/{step_s}")
    sec = F.col(ts).cast("long")
    cycle = sec - (sec % max_s)
    first_end = cycle + ((sec % max_s) - (sec % max_s) % step_s) + step_s
    ends = F.sequence(first_end, cycle + F.lit(max_s), F.lit(step_s))
    return (
        df.select(
            F.col(key).cast("string").alias(key),
            F.timestamp_seconds(cycle).alias("window_start"),
            F.explode(ends).alias("_end_s"),
        )
        .groupBy(key, "window_start", F.timestamp_seconds(F.col("_end_s")).alias("window_end"))
        .agg(F.count(F.lit(1)).alias(count_alias))
        .select(key, count_alias, "window_start", "window_end")
    )


def session_counts(
    df: DataFrame,
    key: str = "railway_class",
    ts: str = "rowtime",
    gap: str = "5 minutes",
    count_alias: str = "railway_class_count",
) -> DataFrame:
    """Session windows — not present in the reference (SURVEY §2.5 W6) but exposed
    for capability breadth via Spark's built-in ``session_window``.
    """
    return (
        df.groupBy(F.session_window(ts, gap).alias("w"), F.col(key).cast("string").alias(key))
        .agg(F.count(F.lit(1)).alias(count_alias))
        .select(
            key,
            count_alias,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
    )


def session_counts_dynamic_gap(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_col=None,
) -> DataFrame:
    """Session windows with a PER-EVENT gap expression (Spark's dynamic
    ``session_window``): each event extends its session by its own gap —
    e.g. purchases hold a session open longer than clicks. Windows
    [ts, ts+gap) that overlap merge; the session spans min start .. max end.

    Same one-shuffle shape as the fixed-gap session aggregate. The oracle
    formulation (registry) is the prefix-max islands identity: sorted per
    key, an event starts a NEW session iff its ts ≥ max(prev ts+gap) over all
    earlier events of the key — the global prefix max equals the
    within-session prefix max because every new session's first window end
    strictly exceeds every closed session's end (gap > 0)."""
    from pyspark.sql import functions as F

    if gap_col is None:
        gap_col = F.when(F.col("event_type") == "purchase", F.lit("10 minutes")).otherwise(
            F.lit("5 minutes")
        )
    return (
        df.groupBy(F.session_window(F.col(ts), gap_col).alias("w"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
