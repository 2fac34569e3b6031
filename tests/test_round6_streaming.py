"""Streaming twins for SCD2 and snapshot diff:
foreachBatch folds into crash-safe standing stores, held to the batch
computation as oracle, with fault-injection and replay-idempotence coverage
— the same contract the sketch store and anomaly ring carry."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kda_flink_demo_spark.io.sources import file_events_stream, load_table
from kda_flink_demo_spark.operators.cdc import scd2_history
from kda_flink_demo_spark.streaming.standing_stores import (
    diff_snapshot_versions,
    list_snapshot_versions,
    scd2_from_store,
    update_scd2_store,
    update_snapshot_version_store,
)
from tests.conftest import SF_DIR, build_replay, drain, sorted_rows

_SCD2_ARGS = dict(
    keys=["user_id"], attr_cols=["event_type"], ts_col="ts", tie_col="event_id"
)


def _event_chunks(spark, tmp_path, n_chunks=4):
    """Time-ordered event chunks (per-key in-order arrival, the CDC
    contract), one parquet file each so maxFilesPerTrigger=1 replays them as
    separate micro-batches in order. Returns the replay glob and the
    chunks."""
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .orderBy("ts", "event_id")
    )
    out = str(tmp_path / "scd2_replay")
    return out + "/chunk=*", build_replay(spark, ev, out, n_chunks)


def _scd2_expected(spark):
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return sorted_rows(scd2_history(ev, **_SCD2_ARGS))


def test_streaming_scd2_store_matches_batch(spark, tmp_path):
    """Fold time-ordered CDC micro-batches into the standing transition log;
    the derived history must equal the one-shot batch scd2_history, and a
    checkpoint-style duplicate replay of an old batch must not change it."""
    replay, dfs = _event_chunks(spark, tmp_path)
    store = str(tmp_path / "scd2_store")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    n_batches = []
    drain(
        file_events_stream(spark, replay, schema),
        lambda df, bid: (update_scd2_store(df, store, **_SCD2_ARGS), n_batches.append(bid)),
        str(tmp_path / "ckpt"),
    )
    assert len(n_batches) >= 2  # genuinely incremental

    expected = _scd2_expected(spark)
    assert sorted_rows(scd2_from_store(spark, store, **_SCD2_ARGS)) == expected

    # replayed (already-folded) batch: kept rows dedupe, compressed rows
    # compress away again — the store must not change
    update_scd2_store(dfs[1], store, **_SCD2_ARGS)
    assert sorted_rows(scd2_from_store(spark, store, **_SCD2_ARGS)) == expected


def test_streaming_scd2_store_crash_recovery(spark, tmp_path):
    """Crash between the promote's delete and rename (store gone, complete
    .next present) must be recovered by the next fold, not treated as a
    fresh store."""
    _, dfs = _event_chunks(spark, tmp_path)
    store = str(tmp_path / "scd2_store")
    update_scd2_store(dfs[0], store, **_SCD2_ARGS)
    update_scd2_store(dfs[1], store, **_SCD2_ARGS)
    os.rename(store, store + ".next")  # simulated mid-promote crash
    for df in dfs[2:]:
        update_scd2_store(df, store, **_SCD2_ARGS)
    assert sorted_rows(scd2_from_store(spark, store, **_SCD2_ARGS)) == _scd2_expected(spark)


def test_streaming_quarantine_gate_matches_batch(spark, tmp_path):
    """Dead-letter gate: after a chunked replay, good ∪ quarantined must equal
    the input exactly, quarantined rows carry the same violation tags the
    batch split produces, and a checkpoint-style replay of a batch rewrites
    its partition instead of appending duplicates."""
    from pyspark.sql import functions as F

    from kda_flink_demo_spark.operators.validation import quarantine_split
    from kda_flink_demo_spark.streaming.standing_stores import update_quarantine_store

    rules = lambda: {  # noqa: E731 — fresh Columns per plan
        "value_in_range": F.col("value") <= 90,
        "type_known": F.col("event_type").isin("click", "view", "purchase", "scroll"),
    }
    ev = load_table(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    good_p, quar_p = str(tmp_path / "good"), str(tmp_path / "quarantine")
    chunks = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    for bid, df in enumerate(chunks):
        update_quarantine_store(df, bid, rules(), good_p, quar_p)

    got_good = spark.read.parquet(good_p)
    got_bad = spark.read.parquet(quar_p)
    # reunion equals the input
    reunion = got_good.select("event_id").unionByName(got_bad.select("event_id"))
    assert sorted_rows(reunion) == sorted_rows(ev.select("event_id"))
    # tags equal the batch split's
    _g, bad = quarantine_split(ev, rules())
    expected_bad = bad.select(
        "event_id", F.array_join("violations", ",").alias("violations")
    )
    assert sorted_rows(got_bad.select("event_id", "violations")) == sorted_rows(expected_bad)
    assert got_bad.count() > 0  # the gate actually fired on the fixture

    # replayed batch: partition overwritten, not appended
    update_quarantine_store(chunks[1], 1, rules(), good_p, quar_p)
    assert sorted_rows(
        spark.read.parquet(quar_p).select("event_id", "violations")
    ) == sorted_rows(expected_bad)


def _snapshots(spark):
    docs = load_table(spark, SF_DIR, "documents")
    v0 = docs.filter(F.col("doc_id") % 10 != 3).select("doc_id", "text")
    v1 = docs.filter(F.col("doc_id") % 10 != 7).select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 5, F.concat("text", F.lit(" [rev2]")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    v2 = docs.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 6, F.concat("text", F.lit(" [rev3]")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return [v0, v1, v2]


def test_streaming_scd2_enrichment_matches_batch_temporal_join(spark, tmp_path):
    """The full streaming feature-store loop: dimension stream folds into the
    SCD2 store, fact micro-batches enrich point-in-time against it; the union
    of enriched batches must equal the one-shot batch temporal join, and a
    replayed fact batch overwrites its partition (no duplicates)."""
    from pyspark.sql import functions as F

    from kda_flink_demo_spark.operators.cdc import scd2_history, temporal_join
    from kda_flink_demo_spark.streaming.standing_stores import (
        enrich_batch_with_scd2,
        update_scd2_store,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    dims = ev.filter(F.col("event_id") % 2 == 0)
    facts = ev.filter(F.col("event_id") % 2 == 1)
    store = str(tmp_path / "dim_store")
    update_scd2_store(dims, store, **_SCD2_ARGS)

    sink = str(tmp_path / "enriched")
    chunks = [facts.filter(F.col("event_id") % 6 == i) for i in (1, 3, 5)]
    for bid, df in enumerate(chunks):
        enrich_batch_with_scd2(
            df, bid, store, sink,
            keys=["user_id"], attr_cols=["event_type"], fact_ts="ts",
            ts_col="ts", tie_col="event_id", attr_aliases=["state_at_event"],
        )

    hist = scd2_history(dims, **_SCD2_ARGS).withColumnRenamed(
        "event_type", "state_at_event"
    )
    expected = temporal_join(
        facts, hist, keys=["user_id"], fact_ts="ts", attr_cols=("state_at_event",)
    ).select("event_id", "state_at_event")
    got = spark.read.parquet(sink).select("event_id", "state_at_event")
    assert sorted_rows(got) == sorted_rows(expected)

    # replayed fact batch: partition overwritten, not appended
    enrich_batch_with_scd2(
        chunks[1], 1, store, sink,
        keys=["user_id"], attr_cols=["event_type"], fact_ts="ts",
        ts_col="ts", tie_col="event_id", attr_aliases=["state_at_event"],
    )
    assert sorted_rows(
        spark.read.parquet(sink).select("event_id", "state_at_event")
    ) == sorted_rows(expected)


def test_snapshot_version_store_diffs_match_batch(spark, tmp_path):
    """Each folded snapshot version's pairwise diff (from retained 16-byte
    projections) must equal the batch snapshot_diff over the full frames —
    including the non-consecutive (v0, v2) pair the batch twin never sees."""
    from kda_flink_demo_spark.operators.llm.versioning import snapshot_diff

    snaps = _snapshots(spark)
    store = str(tmp_path / "snap_store")
    for bid, df in enumerate(snaps):
        update_snapshot_version_store(df, store, bid)
    assert list_snapshot_versions(spark, store) == [0, 1, 2]
    for a, b in [(0, 1), (1, 2), (0, 2)]:
        got = sorted_rows(diff_snapshot_versions(spark, store, a, b))
        assert got == sorted_rows(snapshot_diff(snaps[a], snaps[b])), (a, b)


def test_snapshot_version_store_replay_and_partial_dir(spark, tmp_path):
    """A replayed version rewrites identical content (idempotent), and a
    half-written version directory (no _SUCCESS) stays invisible to
    list_snapshot_versions until its replay commits it."""
    snaps = _snapshots(spark)
    store = str(tmp_path / "snap_store")
    for bid, df in enumerate(snaps[:2]):
        update_snapshot_version_store(df, store, bid)
    before = sorted_rows(diff_snapshot_versions(spark, store, 0, 1))
    update_snapshot_version_store(snaps[1], store, 1)  # checkpoint replay
    assert sorted_rows(diff_snapshot_versions(spark, store, 0, 1)) == before

    # simulated crash mid-write of version=5: copy of v1 with the marker gone
    shutil.copytree(f"{store}/version=1", f"{store}/version=5")
    os.remove(f"{store}/version=5/_SUCCESS")
    assert list_snapshot_versions(spark, store) == [0, 1]
    update_snapshot_version_store(snaps[2], store, 5)  # replay commits it
    assert list_snapshot_versions(spark, store) == [0, 1, 5]
