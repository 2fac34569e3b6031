"""Aggregation surface (reference §2.6 A1–A6) plus parity breadth.

The reference's only aggregate is COUNT — grouped, windowed, analytic, and a custom
merge-able AggregateFunction (/root/reference/.../StreamJobTumblingOffset.java:176-200)
whose partial+final contract is exactly Catalyst's HashAggregate partial→final, so
the built-ins subsume it. This module adds the standard aggregate pack a user of a
general engine expects, all thin wrappers over JVM-side functions (no Python in the
hot path).

Scale notes: every grouped agg here is map-side partial-aggregated before the
shuffle; `approx_count_distinct` (HLL) replaces exact distinct at 100 TB when a
0.5–2% error is acceptable — exact countDistinct forces a second shuffle on
(group, value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kda_flink_demo_spark.functions import det_round


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped multi-aggregate over the fact table — exercises sum/avg/count
    in one pass (single shuffle, partial aggs). Doubles are rounded so results are
    comparable across engines' summation orders.
    """
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            det_round(F.sum("l_quantity"), 2).alias("sum_qty"),
            det_round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            det_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            det_round(F.avg("l_quantity"), 4).alias("avg_qty"),
            det_round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def distinct_counts(df: DataFrame, group_key: str, value: str, alias: str = "distinct_cnt") -> DataFrame:
    """A6 breadth: exact COUNT(DISTINCT value) per group (expand + two-phase agg)."""
    return df.groupBy(group_key).agg(F.countDistinct(value).alias(alias))


def approx_distinct_report(
    df: DataFrame,
    group_key: str,
    value: str,
    rsd: float = 0.01,
    tolerance: float = 0.05,
) -> DataFrame:
    """HLL++ estimate held to its exact companion in one pass — the
    rows-only→hash-checkable conversion shape (the sketch_incremental_pack
    template): the sketch value itself is engine-specific, so the output
    carries the EXACT count (oracle-verifiable) plus a deterministic
    ``approx_ok`` boolean asserting the estimate landed within ``tolerance``
    of exact. Spark's HLL++ at fixed rsd is deterministic, so the boolean is
    stable; the oracle pins it TRUE. At 100 TB you'd drop the exact column
    and keep only the sketch — this shape exists to make the approximation
    externally checkable."""
    # dedupe to (key, value) FIRST, then aggregate: exact is a plain count and
    # the HLL sees each value once (duplicates never change a sketch — same
    # estimate). Mixing count_distinct + approx in ONE agg makes Catalyst plan
    # an Expand (data ×2 on the wire) — measured 2.5 s vs 1.1 s at sf0.1.
    ok = (
        F.abs(F.col("_approx").cast("double") - F.col("exact_distinct").cast("double"))
        <= F.lit(tolerance) * F.col("exact_distinct").cast("double")
    ).alias("approx_ok")
    return (
        df.select(group_key, value)
        .distinct()
        .groupBy(group_key)
        .agg(
            # count(value), not count(*): a NULL value survives .distinct() as
            # its own (key, NULL) row, but SQL count(DISTINCT) and the HLL both
            # ignore NULLs — counting it would overshoot the oracle by one
            F.count(F.col(value)).cast("long").alias("exact_distinct"),
            F.approx_count_distinct(value, rsd).alias("_approx"),
        )
        .select(group_key, "exact_distinct", ok)
    )


def value_histogram(
    df: DataFrame, value_col: str, width: float, min_val: float = 0.0
) -> DataFrame:
    """Fixed-width histogram: bucket index + per-bucket count/sum/min/max.

    Single groupBy on the derived bucket key — partial-aggregated, one shuffle
    whose cardinality is the bucket count (tiny), so at 100 TB this is a
    scan + constant-size exchange. Equal-width binning with a known domain
    needs no first pass; for unknown domains compose with approx quantiles to
    pick bounds."""
    from kda_flink_demo_spark.functions import det_round

    bucket = F.floor((F.col(value_col) - F.lit(min_val)) / F.lit(width)).cast("long")
    return (
        df.select(bucket.alias("bucket"), F.col(value_col).alias("v"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            det_round(F.sum("v"), 4).alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .withColumn("bucket_lo", det_round(F.col("bucket") * width + min_val, 6))
    )


def profile_columns(
    df: DataFrame, numeric_cols: list[str], string_cols: list[str]
) -> DataFrame:
    """Dataset profiling — the standard pipeline-validation primitive: one row
    per column with row/null/exact-distinct counts plus min/max (numeric
    columns as DOUBLE, string columns lexicographic; the other pair is NULL).

    Shape: ``stack`` melts the columns in ONE scan per column family, then a
    grouped aggregate keyed (column_name) with an exact DISTINCT — Spark
    expands to a two-phase (column_name, value) partial aggregate, so the
    shuffle carries distinct values only. At 100 TB swap the exact distinct
    for approx_count_distinct (same plan minus the expand); min/max/null
    counts are plain partial aggregates either way. Min/max comparisons are
    engine-portable: native numeric ordering and binary string ordering —
    never cross-type string formatting (double→VARCHAR rendering differs
    between engines).
    """
    outs = []
    if numeric_cols:
        stack_n = ", ".join(f"'{c}', CAST(`{c}` AS DOUBLE)" for c in numeric_cols)
        melted_n = df.selectExpr(
            f"stack({len(numeric_cols)}, {stack_n}) AS (column_name, v)"
        )
        outs.append(
            melted_n.groupBy("column_name").agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count("v")).alias("n_nulls"),
                F.countDistinct("v").alias("n_distinct"),
                F.min("v").alias("min_num"),
                F.max("v").alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
            )
        )
    if string_cols:
        stack_s = ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in string_cols)
        melted_s = df.selectExpr(
            f"stack({len(string_cols)}, {stack_s}) AS (column_name, v)"
        )
        outs.append(
            melted_s.groupBy("column_name").agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count("v")).alias("n_nulls"),
                F.countDistinct("v").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.min("v").alias("min_str"),
                F.max("v").alias("max_str"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def multi_resolution_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: event counts and sums at
    minute / hour / day resolution (plus the grand total) in ONE scan.

    Time-series stores (TimescaleDB continuous aggregates, Druid rollup
    segments) maintain the same measure at several resolutions; because
    minute ⊂ hour ⊂ day is a strict hierarchy, ``ROLLUP(day, hour, minute)``
    produces exactly those four levels from a single Expand + one
    partial→final hash aggregate — the coarser levels are NOT re-scans.
    ``level`` is the grouping_id bitmask (0 = minute rows, 1 = hour rows,
    3 = day rows, 7 = grand total; Spark and DuckDB/Postgres encode it
    identically). At 100 TB the shuffle carries (day, hour, minute) keys
    already combined map-side — the Expand's 4× row fan-out collapses in the
    partial aggregate, never on the wire.
    """
    from kda_flink_demo_spark.functions import det_round

    d = df.select(
        F.date_trunc("day", F.col(ts_col)).alias("day"),
        F.date_trunc("hour", F.col(ts_col)).alias("hour"),
        F.date_trunc("minute", F.col(ts_col)).alias("minute"),
        F.col(value_col),
    )
    return d.rollup("day", "hour", "minute").agg(
        F.grouping_id().cast("long").alias("level"),
        F.count(F.lit(1)).alias("cnt"),
        det_round(F.sum(value_col), 4).alias("sum_value"),
    )


def multi_resolution_rollup_oracle_sql(table: str = "events") -> str:
    from kda_flink_demo_spark.functions import det_round_sql

    s = det_round_sql("sum(value)", 4)
    # DuckDB's date_trunc('day') yields DATE where Spark yields TIMESTAMP —
    # the outer CAST aligns the types without disturbing the GROUPING() args.
    return f"""
    SELECT CAST(day AS TIMESTAMP) AS day, hour, minute, level, cnt, sum_value
    FROM (
        SELECT date_trunc('day', ts) AS day,
               date_trunc('hour', ts) AS hour,
               date_trunc('minute', ts) AS minute,
               CAST(GROUPING(date_trunc('day', ts), date_trunc('hour', ts),
                             date_trunc('minute', ts)) AS BIGINT) AS level,
               count(*) AS cnt,
               {s} AS sum_value
        FROM {table}
        GROUP BY ROLLUP(date_trunc('day', ts), date_trunc('hour', ts),
                        date_trunc('minute', ts))
    )
    """


def agg_state(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Partial aggregate state for one data slice: per (key, minute) —
    count / sum / min / max. Every measure is ALGEBRAIC (mergeable), which is
    what makes incremental view maintenance possible: avg is derived at read
    time as sum/count, never stored."""
    return df.groupBy(
        F.col(key_col), F.date_trunc("minute", F.col(ts_col)).alias("minute")
    ).agg(
        F.count(value_col).alias("cnt"),
        F.sum(value_col).alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def merge_agg_states(
    *states: DataFrame, key_cols: tuple[str, ...] | None = None
) -> DataFrame:
    """Incremental materialized-view maintenance: combine per-slice aggregate
    states into the state of the union of their inputs WITHOUT rescanning the
    old data — the nightly-ETL pattern (yesterday's state + today's
    partition), and exactly what Spark's own partial→final aggregation does
    across tasks, lifted to cross-run granularity.

    Scale shape: each day's raw scan happens ONCE ever; the merge shuffles
    only aggregate rows (keys × windows, ≪ events). Merge rules: counts and
    sums add, min/max fold — all algebraic, associative, and commutative, so
    any merge tree (daily → weekly → total) yields the same state.

    ``key_cols`` names the grouping columns explicitly (the
    ``merge_sketch_states`` convention). When omitted they are inferred as
    every non-measure column — convenient for ``agg_state`` output, but a
    state whose grouping column is itself named like a measure (``cnt`` …)
    would be silently folded as one, so callers with nonstandard schemas
    must pass ``key_cols``.
    """
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    measures = ("cnt", "sum_value", "min_value", "max_value")
    if key_cols is not None:
        keys = list(key_cols)
        clash = sorted(set(keys) & set(measures))
        if clash:
            raise ValueError(
                f"merge_agg_states: key column(s) {clash} collide with the "
                "fixed measure schema (cnt/sum_value/min_value/max_value) — "
                "rename the grouping column(s); they cannot be both grouped "
                "on and re-aggregated"
            )
    else:
        keys = [c for c in out.columns if c not in measures]
    return out.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
