"""The reference expresses the same computation three ways — Flink SQL, Table
API, DataStream API (SURVEY §3). Spark-side, the SQL spelling and the DataFrame
spelling must produce identical results (they share one Catalyst plan); these
tests pin that, plus partition-count invariance (no accidental order
dependence in any operator's results)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kda_flink_demo_spark.io.sources import file_events_stream, load_table, register_views
from kda_flink_demo_spark.operators.windows import tumbling_counts
from tests.conftest import SF_DIR, drain, sorted_rows, write_replay


def test_sql_and_dataframe_spellings_agree(spark):
    """W1 (SQL) ≡ W2 (fluent API): the reference's flagship SQL, spelled in
    Spark SQL with window(), equals the DataFrame builder row-for-row."""
    register_views(spark, SF_DIR, ["events"])
    sql_df = spark.sql(
        """
        SELECT event_type AS railway_class,
               count(*) AS railway_class_count,
               window.start AS window_start,
               window.end AS window_end
        FROM events
        GROUP BY window(ts, '1 minute'), event_type
        """
    )
    api_df = tumbling_counts(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        )
    ).select("railway_class", "railway_class_count", "window_start", "window_end")
    assert sorted_rows(sql_df) == sorted_rows(api_df)


def test_results_invariant_to_partitioning(spark):
    """Distributed-correctness property: results must not depend on the number
    of input partitions (catches order-dependent folds/aggregations)."""
    from kda_flink_demo_spark.operators.llm import dedup, text

    docs = load_table(spark, SF_DIR, "documents")
    for build in [
        lambda d: dedup.minhash_lsh_pairs(d, threshold=0.8),
        lambda d: text.doc_fingerprint(d),
        lambda d: dedup.simhash_values(d),
    ]:
        one = sorted_rows(build(docs.repartition(1)))
        many = sorted_rows(build(docs.repartition(17)))
        assert one == many


def test_cumulate_window_assignment_semantics(spark):
    """R13 CUMULATE windows: fixed cycle start, step-growing exclusive ends —
    boundary events pinned exactly (an event AT a step boundary belongs to
    the NEXT end, an event in the last step belongs to one window only, a
    new cycle restarts the window set)."""
    from datetime import datetime, timezone

    from kda_flink_demo_spark.operators.windows import cumulate_counts

    base = datetime(2024, 1, 1, 0, 0, 0, tzinfo=timezone.utc)

    def at(seconds):
        return datetime.fromtimestamp(base.timestamp() + seconds, tz=timezone.utc)

    rows = [
        ("a", at(0)),      # ends 120..600 (5 windows)
        ("a", at(119)),    # ends 120..600 (5 windows)
        ("a", at(120)),    # exclusive end: ends 240..600 (4 windows)
        ("a", at(599)),    # last step: end 600 only
        ("a", at(600)),    # next cycle: ends 720..1200 (5 windows)
    ]
    df = spark.createDataFrame(rows, "railway_class string, rowtime timestamp")
    got = {
        (int(r["window_start"].timestamp()), int(r["window_end"].timestamp())): r[
            "railway_class_count"
        ]
        for r in cumulate_counts(df).collect()
    }
    b = int(base.timestamp())
    expect = {}
    for end in (120, 240, 360, 480, 600):
        expect[(b, b + end)] = 2 + (1 if end >= 240 else 0) + (1 if end == 600 else 0)
    for end in (720, 840, 960, 1080, 1200):
        expect[(b + 600, b + end)] = 1
    assert got == expect, (got, expect)


def test_cumulate_real_stream_matches_batch(spark, tmp_path):
    """R13 streaming twin of CUMULATE: a real readStream + foreachBatch fold
    of per-batch partial counts, merged by grouped sum, must equal one-shot
    cumulate_counts over everything replayed — additive windows make the
    early-firing refresh exact no matter how events split across
    micro-batches."""
    from datetime import datetime, timezone

    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.windows import cumulate_counts
    from kda_flink_demo_spark.streaming.standing_stores import (
        cumulate_from_store,
        update_cumulate_store,
    )

    base = datetime(2024, 1, 1, 0, 0, 0, tzinfo=timezone.utc).timestamp()
    rows = [
        ("a" if i % 3 else "b", datetime.fromtimestamp(base + i * 37, tz=timezone.utc))
        for i in range(120)
    ]
    replay = write_replay(
        str(tmp_path / "replay"),
        [
            spark.createDataFrame(chunk, "railway_class string, rowtime timestamp")
            for chunk in (rows[:40], rows[40:80], rows[80:])
        ],
    )

    schema = T.StructType(
        [
            T.StructField("railway_class", T.StringType()),
            T.StructField("rowtime", T.TimestampType()),
        ]
    )
    store = str(tmp_path / "cum_store")
    drain(
        file_events_stream(spark, replay, schema),
        lambda df, bid: update_cumulate_store(df, bid, store),
        str(tmp_path / "ckpt"),
    )

    canon = lambda df: sorted(  # noqa: E731
        (r["railway_class"], r["window_start"], r["window_end"], r["railway_class_count"])
        for r in df.collect()
    )
    merged = cumulate_from_store(spark, store)
    batch_ref = cumulate_counts(
        spark.createDataFrame(rows, "railway_class string, rowtime timestamp")
    )
    assert canon(merged) == canon(batch_ref)
    assert merged.count() > 10
