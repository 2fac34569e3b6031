"""Streaming semantics tests (SURVEY §5.2): replay the events fixture through a
file stream with a 0-second watermark and assert the sink equals the batch
computation of the same query (batch-as-oracle), including the idempotent-upsert
replay guarantee (the reference's O5 effectively-exactly-once behavior)."""

from __future__ import annotations

import contextlib
import json
import os

import pytest
from pyspark.sql import functions as F

from kda_flink_demo_spark.io.sources import file_events_stream, load_table
from kda_flink_demo_spark.jobs import REPLAY_SCHEMA
from kda_flink_demo_spark.operators.over_windows import sliding_range_count
from kda_flink_demo_spark.operators.windows import hopping_counts, tumbling_counts
from kda_flink_demo_spark.streaming import jobs
from kda_flink_demo_spark.streaming.upsert import DuckDBUpsertSink
from tests.conftest import SF_DIR, build_replay, drain, write_replay


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    """events sorted by ts, chunked into 5 time-ordered parquet files so the
    micro-batch replay sees in-order arrival (late-drop timing divergence from
    Flink's per-record watermark doesn't bite on in-order replays)."""
    out = str(tmp_path_factory.mktemp("events_replay"))
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime"))
        .orderBy("rowtime")
    )
    build_replay(spark, ev, out)
    return out


def _stream(spark, replay_dir):
    return file_events_stream(spark, replay_dir + "/chunk=*", REPLAY_SCHEMA)


@contextlib.contextmanager
def _shuffle_partitions(spark, n: int):
    """Run the block with the session's batch shuffle-partition count at
    ``n`` (other test modules share the session and may have changed it)."""
    prev = spark.conf.get(jobs.SHUFFLE_PARTITIONS)
    spark.conf.set(jobs.SHUFFLE_PARTITIONS, str(n))
    try:
        yield
    finally:
        spark.conf.set(jobs.SHUFFLE_PARTITIONS, prev)


def _recorded_conf(checkpoint: str, key: str) -> list[str]:
    """The value of session conf ``key`` a checkpoint's offset log recorded
    for each planned batch (line 2 of ``offsets/<n>`` is the batch
    metadata)."""
    out = []
    offsets = os.path.join(checkpoint, "offsets")
    for name in os.listdir(offsets):
        if name.isdigit():
            with open(os.path.join(offsets, name)) as f:
                meta = json.loads(f.read().splitlines()[1])
            out.append(meta["conf"][key])
    return out


def _state_partition_dirs(checkpoint: str) -> int:
    """State-store partitions of the query's first stateful operator."""
    return sum(1 for d in os.listdir(os.path.join(checkpoint, "state", "0")) if d.isdigit())


def test_streaming_tumbling_matches_batch(spark, replay_dir, tmp_path):
    sink = DuckDBUpsertSink(
        str(tmp_path / "sink.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    result = jobs.job_tumbling(_stream(spark, replay_dir))
    drain(result, sink, str(tmp_path / "ckpt"))

    cols, got = sink.read_all()
    batch = tumbling_counts(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        )
    )
    expected = {(r.railway_class, r.window_start, r.window_end): r.railway_class_count for r in batch.collect()}
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    # append-mode with watermark 0s: every closed window must match the batch
    # value; the final partial windows only emit if the source signals EOS, so
    # compare on the intersection and require near-complete coverage
    assert len(got_map) >= len(expected) - 10
    for k, v in got_map.items():
        assert expected[k] == v, f"window {k}: stream={v} batch={expected[k]}"


def test_upsert_sink_is_idempotent_on_replay(spark, tmp_path):
    sink = DuckDBUpsertSink(
        str(tmp_path / "sink2.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    batch = tumbling_counts(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        )
    )
    sink(batch, 0)
    _, once = sink.read_all()
    sink(batch, 0)  # replayed micro-batch, same batchId → same PKs, same values
    _, twice = sink.read_all()
    assert sorted(once) == sorted(twice)


def test_upsert_sink_holds_one_connection_until_closed(spark, tmp_path, monkeypatch):
    """Every batch and read goes through one DuckDB connection; ``close()``
    releases the file, so a read-only open (refused while this process holds
    it read-write) succeeds afterwards."""
    import duckdb

    connects = []
    real_connect = DuckDBUpsertSink._connect

    def counting(self):
        connects.append(self.db_path)
        return real_connect(self)

    monkeypatch.setattr(DuckDBUpsertSink, "_connect", counting)
    path = str(tmp_path / "held.duckdb")
    sink = DuckDBUpsertSink(path, "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA)
    batch = tumbling_counts(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        )
    )
    n = 4
    for batch_id in range(n):
        sink(batch, batch_id)
    cols, rows = sink.read_all()
    assert connects == [path]
    assert len(rows) == batch.count()
    sink.close()
    with duckdb.connect(path, read_only=True) as con:
        assert con.execute("SELECT count(*) FROM tumbling").fetchone()[0] == len(rows)
    assert sorted(sink.read_all()[1]) == sorted(rows)
    sink.close()


def test_streaming_sliding_state_matches_batch(spark, replay_dir, tmp_path):
    sink = DuckDBUpsertSink(
        str(tmp_path / "sink3.duckdb"), "sliding", jobs.SLIDING_SINK_KEYS, jobs.SLIDING_SINK_SCHEMA
    )
    events = _stream(spark, replay_dir)
    result = jobs.job_sliding(events, preceding_seconds=30 * 60)
    drain(result, sink, str(tmp_path / "ckpt3"))

    cols, got = sink.read_all()
    batch = sliding_range_count(
        load_table(spark, SF_DIR, "events").select(
            "event_id", F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        ),
        preceding_seconds=30 * 60,
    )
    expected = {
        (r.event_id, r.railway_class, r.rowtime): r.railway_class_count for r in batch.collect()
    }
    got_map = {
        (r[cols.index("event_id")], r[cols.index("railway_class")], r[cols.index("rowtime")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    assert len(got_map) == len(expected)
    mismatches = {k: (v, expected[k]) for k, v in got_map.items() if expected[k] != v}
    assert not mismatches, f"{len(mismatches)} mismatches, e.g. {list(mismatches.items())[:3]}"


@pytest.mark.parametrize(
    "job_name,batch_fn",
    [
        (
            "StreamJobTumblingOffset",
            lambda ev: tumbling_counts(ev, offset="30 seconds"),
        ),
        ("StreamJobSqlHopping", lambda ev: hopping_counts(ev)),
    ],
)
def test_streaming_windows_match_batch(spark, replay_dir, tmp_path, job_name, batch_fn):
    """W3 offset and W4 hopping streaming jobs equal their batch twins."""
    table, keys, schema_sql = jobs.JOB_SINKS[job_name]
    sink = DuckDBUpsertSink(str(tmp_path / f"{job_name}.duckdb"), table, keys, schema_sql)
    result = jobs.dispatch(job_name)(_stream(spark, replay_dir))
    drain(result, sink, str(tmp_path / f"ckpt_{job_name}"))
    cols, got = sink.read_all()
    ev = load_table(spark, SF_DIR, "events").select(
        F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
    )
    expected = {tuple(r[k] for k in keys): r.railway_class_count for r in batch_fn(ev).collect()}
    got_map = {tuple(r[cols.index(k)] for k in keys): r[cols.index("railway_class_count")] for r in got}
    assert len(got_map) >= len(expected) - 20  # trailing open windows may not emit
    for k, v in got_map.items():
        assert expected[k] == v, f"{job_name} window {k}: stream={v} batch={expected[k]}"


def test_crash_recovery_mid_stream(spark, replay_dir, tmp_path):
    """Stronger O5 check: stop the query after the first micro-batch (simulated
    crash), restart from the checkpoint, drain — final sink must equal the batch
    computation exactly (no lost or double-counted windows).

    Phase 1 is started by hand at the batch value of 32 partitions; the
    run_to_sink restart would cap a NEW query below that, but the checkpoint's
    recorded count must win (a changed count would misroute the state)."""
    import time

    sink = DuckDBUpsertSink(
        str(tmp_path / "crash.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    ckpt = str(tmp_path / "crash_ckpt")

    with _shuffle_partitions(spark, 32):
        # phase 1: continuous trigger, kill after ≥1 committed batch; started
        # by hand because it pins 32 partitions, which run_to_sink would cap
        q = (
            jobs.job_tumbling(_stream(spark, replay_dir))
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline:
            if any(p["numInputRows"] > 0 for p in (q.recentProgress or [])):
                break
            time.sleep(0.5)
        q.stop()
        _, mid = sink.read_all()
        n_batches = len(_recorded_conf(ckpt, jobs.SHUFFLE_PARTITIONS))

        # phase 2: restart from the same checkpoint, drain the rest
        q2 = jobs.run_to_sink(jobs.job_tumbling(_stream(spark, replay_dir)), sink, ckpt)
        q2.awaitTermination(300)
    cols, got = sink.read_all()

    recorded = _recorded_conf(ckpt, jobs.SHUFFLE_PARTITIONS)
    assert len(recorded) > n_batches and set(recorded) == {"32"}
    assert _state_partition_dirs(ckpt) == 32

    batch = tumbling_counts(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        )
    )
    expected = {
        (r.railway_class, r.window_start, r.window_end): r.railway_class_count
        for r in batch.collect()
    }
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    assert len(got_map) > len(mid), "restart should have made progress beyond the crash point"
    for k, v in got_map.items():
        assert expected[k] == v, f"window {k}: stream={v} batch={expected[k]}"


def test_run_to_sink_caps_state_partitions_at_task_slots(spark, replay_dir, tmp_path):
    """A NEW run_to_sink query gets min(batch partitions, defaultParallelism)
    shuffle/state partitions — recorded in its offset log and laid out as
    that many state-store dirs — while the caller's session keeps the batch
    value."""
    sink = DuckDBUpsertSink(
        str(tmp_path / "cap.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    ckpt = str(tmp_path / "cap_ckpt")
    want = min(32, spark.sparkContext.defaultParallelism)
    with _shuffle_partitions(spark, 32):
        q = jobs.run_to_sink(jobs.job_tumbling(_stream(spark, replay_dir)), sink, ckpt)
        assert spark.conf.get(jobs.SHUFFLE_PARTITIONS) == "32"
        q.awaitTermination(300)
        assert spark.conf.get(jobs.SHUFFLE_PARTITIONS) == "32"
    assert not q.isActive and q.exception() is None
    assert set(_recorded_conf(ckpt, jobs.SHUFFLE_PARTITIONS)) == {str(want)}
    assert _state_partition_dirs(ckpt) == want
    assert sink.read_all()[1], "the capped query must still emit closed windows"


def test_concurrent_run_to_sink_starts_restore_the_session_value(spark, replay_dir, tmp_path):
    """Concurrent run_to_sink calls on one session must not restore each
    other's capped value: after eight concurrent starts on a short switch
    interval, the session still holds the batch value and every query
    recorded the capped one."""
    import sys
    import threading

    want = str(min(32, spark.sparkContext.defaultParallelism))
    n = 8
    queries, errors = [], []

    def start(i):
        try:
            sink = DuckDBUpsertSink(
                str(tmp_path / f"c{i}.duckdb"), "tumbling",
                jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA,
            )
            stream = jobs.job_tumbling(_stream(spark, replay_dir))
            queries.append((jobs.run_to_sink(stream, sink, str(tmp_path / f"c{i}")), i))
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with _shuffle_partitions(spark, 32):
            threads = [threading.Thread(target=start, args=(i,)) for i in range(n)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(300)
            assert not any(t.is_alive() for t in threads)
            assert spark.conf.get(jobs.SHUFFLE_PARTITIONS) == "32"
            assert spark.conf.get(jobs.CHECKPOINT_FILE_MANAGER, None) is None
    finally:
        sys.setswitchinterval(interval)
        for q, _ in queries:
            q.awaitTermination(300)
    assert not errors, errors
    assert len(queries) == n
    for q, i in queries:
        assert not q.isActive and q.exception() is None
        assert set(_recorded_conf(str(tmp_path / f"c{i}"), jobs.SHUFFLE_PARTITIONS)) == {want}


def _checkpoint_managers(query) -> set[str]:
    """Class names of the checkpoint file managers behind a running query's
    offset and commit logs and its file sources' logs (a private field,
    read by reflection)."""
    sq = query._jsq.streamingQuery()
    logs = [sq.offsetLog(), sq.commitLog()]
    sources = sq.sources()
    for i in range(sources.size()):
        src = sources.apply(i)
        field = src.getClass().getDeclaredField("metadataLog")
        field.setAccessible(True)
        logs.append(field.get(src))
    return {log.fileManager().getClass().getName() for log in logs}


def test_run_to_sink_writes_local_checkpoints_through_filesystem_api(spark, replay_dir, tmp_path):
    """A run_to_sink query on a local checkpoint writes every log through the
    Hadoop FileSystem API — including the source's log, which Spark builds
    from the caller's session after start() returns — and leaves the
    caller's session without a checkpoint-manager setting."""
    sink = DuckDBUpsertSink(
        str(tmp_path / "fs.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    assert spark.conf.get(jobs.CHECKPOINT_FILE_MANAGER, None) is None
    q = jobs.run_to_sink(jobs.job_tumbling(_stream(spark, replay_dir)), sink, str(tmp_path / "fs"))
    try:
        assert spark.conf.get(jobs.CHECKPOINT_FILE_MANAGER, None) is None
        managers = _checkpoint_managers(q)
    finally:
        q.awaitTermination(300)
    assert managers == {jobs.FS_CHECKPOINT_FILE_MANAGER}
    assert q.exception() is None and sink.read_all()[1]


def test_run_to_sink_keeps_a_named_checkpoint_manager(spark, replay_dir, tmp_path):
    """A session that names a checkpoint file manager keeps it: run_to_sink
    only replaces Spark's default."""
    default = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    sink = DuckDBUpsertSink(
        str(tmp_path / "fc.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    spark.conf.set(jobs.CHECKPOINT_FILE_MANAGER, default)
    try:
        q = jobs.run_to_sink(jobs.job_tumbling(_stream(spark, replay_dir)), sink, str(tmp_path / "fc"))
        try:
            assert spark.conf.get(jobs.CHECKPOINT_FILE_MANAGER) == default
            managers = _checkpoint_managers(q)
        finally:
            q.awaitTermination(300)
    finally:
        spark.conf.unset(jobs.CHECKPOINT_FILE_MANAGER)
    assert managers == {default}
    assert q.exception() is None


def test_out_of_order_chunk_semantics(spark, tmp_path):
    """T2 divergence, pinned to Spark's ACTUAL behavior (verified empirically on
    4.1.2): the late-event filter uses the watermark as of the batch START — one
    batch behind eviction. A whole chunk arriving one batch after the watermark
    jumped is therefore still ACCEPTED (Flink's per-record watermark would drop
    it); windows it reopens re-emit, and a window spanning the chunk boundary
    may re-emit a PARTIAL count. The max-merge upsert sink absorbs exactly that:
    no window ever regresses, and every fully-reopened window lands on the full
    batch value."""
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime"))
        .orderBy("rowtime")
    )
    rows = ev.collect()
    n = len(rows)
    early, late, tail = rows[: n // 3], rows[n // 3 : 2 * n // 3], rows[2 * n // 3 :]
    out = str(tmp_path / "ooo_replay")
    # arrival order: early, TAIL (jumps the watermark forward), then LATE
    write_replay(out, [spark.createDataFrame(part, ev.schema) for part in (early, tail, late)])

    sink = DuckDBUpsertSink(
        str(tmp_path / "ooo.duckdb"),
        "tumbling",
        jobs.TUMBLING_SINK_KEYS,
        jobs.TUMBLING_SINK_SCHEMA,
        merge="max",
    )
    drain(jobs.job_tumbling(_stream(spark, out)), sink, str(tmp_path / "ooo_ckpt"))
    cols, got = sink.read_all()
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    full_batch = {
        (r.railway_class, r.window_start, r.window_end): r.railway_class_count
        for r in tumbling_counts(ev).collect()
    }
    # no spurious windows, no over-counting
    assert set(got_map) <= set(full_batch)
    assert all(v <= full_batch[k] for k, v in got_map.items())
    # the late chunk was accepted (lagging late-filter): nearly every window
    # matches the full batch; only chunk-boundary windows may hold a partial
    mismatch = {k: (v, full_batch[k]) for k, v in got_map.items() if full_batch[k] != v}
    assert len(mismatch) <= 4, f"too many partial windows: {list(mismatch.items())[:5]}"
    assert len(got_map) >= len(full_batch) - 10


def test_watermark_delay_keeps_late_data(spark, tmp_path):
    """With a positive watermark delay, late rows inside the allowed lateness
    ARE counted: replay [days 0–20 minus a hole, the hole (days 10–12, late),
    days 20–30] with a 15-day delay. The final watermark (day30 − 15d = day15)
    closes the hole's windows, which must match the FULL batch — proving the
    late chunk landed in still-open state."""
    import datetime as dt

    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime"))
        .orderBy("rowtime")
    )
    rows = ev.collect()
    t0 = min(r.rowtime for r in rows)
    day = lambda x: t0 + dt.timedelta(days=x)  # noqa: E731
    late = [r for r in rows if day(10) <= r.rowtime < day(12)]
    main = [r for r in rows if r.rowtime < day(20) and not (day(10) <= r.rowtime < day(12))]
    tail = [r for r in rows if r.rowtime >= day(20)]
    assert late and main and tail
    out = str(tmp_path / "wm_replay")
    write_replay(out, [spark.createDataFrame(part, ev.schema) for part in (main, late, tail)])

    sink = DuckDBUpsertSink(
        str(tmp_path / "wm.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    result = tumbling_counts(_stream(spark, out).withWatermark("rowtime", "15 days"))
    drain(result, sink, str(tmp_path / "wm_ckpt"))
    cols, got = sink.read_all()
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    full_batch = {
        (r.railway_class, r.window_start, r.window_end): r.railway_class_count
        for r in tumbling_counts(ev).collect()
    }
    # every emitted window matches the full batch (late rows included) ...
    for k, v in got_map.items():
        assert full_batch[k] == v, f"window {k}: stream={v} batch={full_batch[k]}"
    # ... and the late chunk's windows did emit
    late_windows = {k for k in full_batch if day(10) <= k[1] < day(12)}
    emitted_late = late_windows & set(got_map)
    assert emitted_late, "late-chunk windows should have closed and emitted"


def test_update_mode_with_upsert_converges_to_batch(spark, replay_dir, tmp_path):
    """O-mode breadth: update output mode emits windows as they CHANGE (not just
    when they close); the keyed upsert makes later emissions overwrite earlier
    partials, so the final sink equals the batch result exactly — including the
    trailing windows append mode never emits."""
    sink = DuckDBUpsertSink(
        str(tmp_path / "upd.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    result = jobs.job_tumbling(_stream(spark, replay_dir))
    q = (  # by hand: run_to_sink is append-only
        result.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "upd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    cols, got = sink.read_all()
    batch = tumbling_counts(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        )
    )
    expected = {
        (r.railway_class, r.window_start, r.window_end): r.railway_class_count
        for r in batch.collect()
    }
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    assert got_map == expected


def test_rocksdb_state_store_provider(spark, replay_dir, tmp_path):
    """The at-scale state backend loads, is the provider the query ran, and
    produces identical results."""
    from kda_flink_demo_spark.streaming.jobs import ROCKSDB_PROVIDER, use_rocksdb_state

    provider = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider, None)
    use_rocksdb_state(spark)
    try:
        sink = DuckDBUpsertSink(
            str(tmp_path / "rocks.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
        )
        ckpt = str(tmp_path / "rocks_ckpt")
        drain(jobs.job_tumbling(_stream(spark, replay_dir)), sink, ckpt)
        assert set(_recorded_conf(ckpt, provider)) == {ROCKSDB_PROVIDER}
        cols, got = sink.read_all()
        batch = tumbling_counts(
            load_table(spark, SF_DIR, "events").select(
                F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
            )
        )
        expected = {
            (r.railway_class, r.window_start, r.window_end): r.railway_class_count
            for r in batch.collect()
        }
        got_map = {
            (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
            r[cols.index("railway_class_count")]
            for r in got
        }
        assert len(got_map) >= len(expected) - 10
        for k, v in got_map.items():
            assert expected[k] == v
    finally:
        if prev:
            spark.conf.set(provider, prev)
        else:
            spark.conf.unset(provider)


def test_dispatch_no_fallthrough():
    assert jobs.dispatch("StreamJobSqlTumbling") is jobs.job_tumbling
    with pytest.raises(KeyError):
        jobs.dispatch("NoSuchJob")


def test_every_job_has_an_upsert_sink_for_its_output(spark, tmp_path):
    """Each job's sink table has exactly the job's output columns, and its
    keys are among them (built on a replay stream, never started)."""
    stream = file_events_stream(spark, str(tmp_path), REPLAY_SCHEMA)
    assert set(jobs.JOB_SINKS) == set(jobs.JOB_REGISTRY)
    for name, job in jobs.JOB_REGISTRY.items():
        table, keys, schema_sql = jobs.JOB_SINKS[name]
        sink = DuckDBUpsertSink(str(tmp_path / f"{name}.duckdb"), table, keys, schema_sql)
        cols, _ = sink.read_all()
        assert cols == job(stream).columns, name
        assert set(keys) <= set(cols), name


def test_cli_runs_the_dedup_job(spark, replay_dir, tmp_path):
    """``python -m kda_flink_demo_spark.jobs --job StreamJobDedup`` drains the
    replay into its own sink table: every event once (the fixture's
    event_ids are unique)."""
    from kda_flink_demo_spark import jobs as cli

    db = str(tmp_path / "dedup.duckdb")
    cli.main([
        "--job", "StreamJobDedup", "--source-path", replay_dir + "/chunk=*",
        "--sink-db", db, "--checkpoint", str(tmp_path / "ckpt"),
    ])
    table, keys, schema_sql = jobs.JOB_SINKS["StreamJobDedup"]
    _, got = DuckDBUpsertSink(db, table, keys, schema_sql).read_all()
    want = load_table(spark, SF_DIR, "events").select(
        "event_id", F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
    )
    assert sorted(got) == sorted(tuple(r) for r in want.collect())


def test_upsert_sink_rejects_an_unknown_merge(tmp_path):
    with pytest.raises(ValueError, match="merge"):
        DuckDBUpsertSink(str(tmp_path / "m.duckdb"), "t", ["k"], "k BIGINT, v BIGINT", merge="sum")


def test_jdbc_partition_writer_batches_and_commits():
    """The per-partition JDBC writer (task-thread twin of the reference sink):
    verify statement shape, executemany chunking, and commit/close — against a
    recording fake connection (no DB server in this container). A table whose
    every column is a key gets ON CONFLICT DO NOTHING: 'DO UPDATE SET' with an
    empty column list is a SQL syntax error."""
    from kda_flink_demo_spark.streaming.upsert import jdbc_partition_writer

    class FakeCursor:
        def __init__(self, log):
            self.log = log

        def executemany(self, sql, rows):
            self.log.append(("executemany", sql, list(rows)))

    class FakeConn:
        instances = []

        def __init__(self):
            self.log = []
            self.committed = False
            self.closed = False
            FakeConn.instances.append(self)

        def cursor(self):
            return FakeCursor(self.log)

        def commit(self):
            self.committed = True

        def close(self):
            self.closed = True

    writer = jdbc_partition_writer(FakeConn, "t", ["k", "v"], ["k"], batch_size=2)
    rows = [{"k": i, "v": i * 10} for i in range(5)]
    writer(iter(rows))

    con = FakeConn.instances[-1]
    assert con.committed and con.closed
    chunks = [r for op, _, r in con.log if op == "executemany"]
    assert [len(c) for c in chunks] == [2, 2, 1]
    sql = con.log[0][1]
    assert "ON CONFLICT (k) DO UPDATE SET v = excluded.v" in sql
    assert sql.startswith("INSERT INTO t (k, v) VALUES (?, ?)")

    jdbc_partition_writer(FakeConn, "seen", ["k"], ["k"])(iter([{"k": 1}]))
    assert FakeConn.instances[-1].log[0][1] == (
        "INSERT INTO seen (k) VALUES (?) ON CONFLICT (k) DO NOTHING"
    )


def test_streaming_exact_dedup_emits_each_event_once(spark, replay_dir, tmp_path):
    """Streaming form of the exact-dedup operator: replay every chunk TWICE
    (duplicate arrivals are the at-least-once source reality) and assert
    dropDuplicates state emits each event_id exactly once across the run.
    Unbounded dedup state here is fine for the bounded test replay; production
    bounds it with dropDuplicatesWithinWatermark over the dup-arrival horizon."""
    import glob
    import shutil

    dup_dir = tmp_path / "dup_replay"
    dup_dir.mkdir()
    files = sorted(glob.glob(replay_dir + "/chunk=*/*.parquet"))
    assert files
    for i, f in enumerate(files):
        shutil.copy(f, dup_dir / f"a{i:02d}.parquet")
        shutil.copy(f, dup_dir / f"b{i:02d}.parquet")

    stream = file_events_stream(spark, str(dup_dir), REPLAY_SCHEMA).dropDuplicates(["event_id"])
    emitted = {"rows": 0, "ids": 0}

    def sink(batch_df, batch_id):
        emitted["rows"] += batch_df.count()

    drain(stream, sink, str(tmp_path / "ckpt_dedup"))

    n_unique = (
        spark.read.schema(REPLAY_SCHEMA).parquet(str(dup_dir)).select("event_id").distinct().count()
    )
    assert emitted["rows"] == n_unique


@pytest.fixture(scope="module")
def replay_full_dir(spark, tmp_path_factory):
    """Full-column events replay (user_id/value kept) for the join tests."""
    out = str(tmp_path_factory.mktemp("events_replay_full"))
    build_replay(spark, load_table(spark, SF_DIR, "events").orderBy("ts"), out)
    return out


def _full_stream(spark, replay_full_dir):
    schema = load_table(spark, SF_DIR, "events").schema
    return file_events_stream(spark, replay_full_dir + "/chunk=*", schema)


def test_stream_static_enrichment_matches_batch(spark, replay_full_dir, tmp_path):
    """Stream-static join: per-micro-batch broadcast of a dimension table into
    the stream (the standard enrichment pattern — dim lookups never shuffle the
    stream side)."""
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("purchase", "revenue")],
        "event_type string, category string",
    )
    enriched = (
        _full_stream(spark, replay_full_dir)
        .join(F.broadcast(dim), "event_type")
        .select("event_id", "category")
    )
    rows = []
    drain(enriched, lambda b, _bid: rows.extend(b.collect()), str(tmp_path / "ckpt_enrich"))
    got = {(r.event_id, r.category) for r in rows}
    want = {
        (r.event_id, r.category)
        for r in load_table(spark, SF_DIR, "events").join(dim, "event_type").select("event_id", "category").collect()
    }
    assert got == want and len(want) > 0


def test_stream_stream_interval_join_matches_batch(spark, replay_full_dir, tmp_path):
    """Stream-stream inner join with an event-time interval condition
    (view→click attribution within an hour): both sides watermarked so state
    is evictable; inner-join matches emit as they arrive, so the final result
    equals the batch join exactly."""
    s = _full_stream(spark, replay_full_dir)
    views = (
        s.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "90 minutes")
    )
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "90 minutes")
    )
    joined = views.join(
        clicks,
        (views.user_id == clicks.user_id)
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES")),
    ).select("view_id", "click_id")
    rows = []
    drain(joined, lambda b, _bid: rows.extend(b.collect()), str(tmp_path / "ckpt_attrib"))
    got = {(r.view_id, r.click_id) for r in rows}
    ev = load_table(spark, SF_DIR, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    want = {
        (r.view_id, r.click_id)
        for r in v.join(
            c,
            (v.user_id == F.col("c_user_id"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_upsert_sink_all_key_columns_does_nothing_on_conflict(spark, tmp_path):
    """A sink whose every column is a key (distinct-keys/dedup sink) must emit
    ON CONFLICT DO NOTHING — 'DO UPDATE SET' with an empty column list is a
    SQL syntax error."""
    sink = DuckDBUpsertSink(str(tmp_path / "allkey.duckdb"), "seen", ["k"], "k BIGINT")
    sink(spark.createDataFrame([(1,), (2,)], "k long"), batch_id=0)
    sink(spark.createDataFrame([(2,), (3,)], "k long"), batch_id=1)  # 2 conflicts
    cols, rows = sink.read_all()
    assert sorted(r[0] for r in rows) == [1, 2, 3]


def test_streaming_count_windows_match_batch(spark, tmp_path):
    """Count-window streaming twin (Flink countWindow): closed streaming
    windows must EXACTLY equal the batch query's full windows — count windows
    close on arrival of the size-th event, so nothing waits on the watermark;
    only the final partial per key stays in state."""
    from pyspark.sql import types as T

    from kda_flink_demo_spark.streaming.count_windows import count_windows_stream

    ev = (
        load_table(spark, SF_DIR, "events")
        .select(
            "event_id",
            F.col("event_type").alias("railway_class"),
            F.col("ts").alias("rowtime"),
            "value",
        )
        .orderBy("rowtime", "event_id")
    )
    replay = str(tmp_path / "replay_vals")
    build_replay(spark, ev, replay)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("railway_class", T.StringType()),
            T.StructField("rowtime", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = file_events_stream(spark, replay + "/chunk=*", schema)
    result = count_windows_stream(stream, size=100)
    sink = DuckDBUpsertSink(
        str(tmp_path / "sink_cw.duckdb"),
        "count_windows",
        ["railway_class", "window_id"],
        "railway_class VARCHAR, window_id BIGINT, railway_class_count BIGINT, sum_value DOUBLE",
    )
    drain(result, sink, str(tmp_path / "ckpt_cw"))

    cols, got = sink.read_all()
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_id")]): (
            r[cols.index("railway_class_count")],
            r[cols.index("sum_value")],
        )
        for r in got
    }
    from kda_flink_demo_spark.registry import queries

    batch = queries()["count_windows_100"](spark, SF_DIR)
    expected = {
        (r.railway_class, r.window_id): (r.railway_class_count, r.sum_value)
        for r in batch.collect()
        if r.railway_class_count == 100  # full windows only
    }
    assert got_map, "stream should close at least one window"
    assert got_map == expected


def test_session_tail_flush_contract(spark, tmp_path):
    """The terminal-tail contract of ``jobs.job_session`` (README divergence
    note): a key's LAST session stays open at query stop — append mode emits
    a session once the watermark passes its end (last event + gap), and
    Spark's watermark never passes the final event of a bounded replay.
    Emitting open sessions at stop would double-emit on replay. A heartbeat
    that DOES advance the watermark past last+gap (any later event, any key)
    flushes the tail exactly once."""
    import datetime as dt

    from pyspark.sql import types as T

    def ts(sec):
        return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=sec)

    schema = T.StructType(
        [
            T.StructField("railway_class", T.StringType()),
            T.StructField("rowtime", T.TimestampType()),
        ]
    )

    def run(name, chunks):
        replay = write_replay(
            str(tmp_path / f"replay_{name}"),
            [spark.createDataFrame([(k, ts(s)) for k, s in rows], schema) for rows in chunks],
        )
        stream = file_events_stream(spark, replay, schema)
        sink = DuckDBUpsertSink(
            str(tmp_path / f"sink_{name}.duckdb"),
            "sessions",
            jobs.TUMBLING_SINK_KEYS,
            jobs.TUMBLING_SINK_SCHEMA,
        )
        result = jobs.job_session(stream, gap="120 seconds")
        drain(result, sink, str(tmp_path / f"ckpt_{name}"))
        cols, got = sink.read_all()
        return {
            (r[cols.index("railway_class")], r[cols.index("window_start")]): (
                r[cols.index("window_end")],
                r[cols.index("railway_class_count")],
            )
            for r in got
        }

    # without a heartbeat: the watermark reaches 200, which closes session 1
    # ({0,10} → end 130); the tail {200} (end 320) stays open — exactly one
    # emission
    got = run("no_heartbeat", [[("A", 0), ("A", 10), ("A", 200)]])
    assert got == {("A", ts(0)): (ts(130), 2)}

    # heartbeats on an UNRELATED key advance the watermark past 200+120:
    # A's tail flushes exactly once, and the heartbeat key's own tail now
    # holds the contract's open slot
    got = run(
        "heartbeat",
        [
            [("A", 0), ("A", 10), ("A", 200)],
            [("B", 321)],
            [("B", 322)],
        ],
    )
    assert got == {
        ("A", ts(0)): (ts(130), 2),
        ("A", ts(200)): (ts(320), 1),
    }


def test_streaming_ingest_dedup_matches_batch(spark, tmp_path):
    """Stream-static anti join (incremental-ingest exact dedup): replaying the
    incoming batch as a file stream against the static corpus index must emit
    exactly the batch anti-join's surviving doc_ids."""
    from kda_flink_demo_spark.operators.llm.dedup import ingest_dedup_against_corpus

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    recrawl = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10000)
    )
    incoming = docs.filter(F.col("doc_id") >= 400).unionByName(recrawl)

    # three arrival chunks, duplicates interleaved with genuinely-new docs
    rows = incoming.collect()
    replay = write_replay(
        str(tmp_path / "incoming"),
        [spark.createDataFrame(rows[i::3], incoming.schema) for i in range(3)],
    )
    stream = file_events_stream(spark, replay, incoming.schema)
    got = set()

    def sink(batch_df, batch_id):
        got.update(r.doc_id for r in batch_df.select("doc_id").collect())

    drain(ingest_dedup_against_corpus(stream, corpus), sink, str(tmp_path / "ckpt"))

    expected = {
        r.doc_id for r in ingest_dedup_against_corpus(incoming, corpus).select("doc_id").collect()
    }
    assert expected, "fixture must leave survivors"
    assert got == expected
    # every planted re-crawl was dropped
    assert not any(i >= 10000 for i in got)




def test_drop_duplicates_within_watermark_invariants(spark, tmp_path):
    """Streaming twin of operators/event_dedup.interval_dedup: replay dense
    per-key arrivals through ``dropDuplicatesWithinWatermark`` (the watermark
    delay is the dedup horizon) and assert the contract that survives
    arbitrary within-batch processing order:
    (1) no two kept arrivals of a key are within the delay of each other —
        every kept arrival resets the key's expiry to ts+delay and a later
        keep must exceed it, so kept timestamps form a chain with gaps > delay;
    (2) every key keeps at least one arrival;
    (3) per key, the stream keeps AT MOST as many as the batch greedy chain —
        earliest-anchor greedy is the maximal such chain, any processing
        order yields a subchain-sized set."""
    import datetime as dt

    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.event_dedup import interval_dedup

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in (1, 2):
        for et in ("click", "view"):
            for s in (0, 60, 120, 301, 302, 500, 700, 1000, 1302, 1400):
                rows.append((eid, uid, et, base + dt.timedelta(seconds=s + eid % 3)))
                eid += 1
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)

    # ordered replay: one file per 300 s event-time slice, one batch per file
    replay = write_replay(
        str(tmp_path / "slices"),
        [
            df.filter(
                (F.col("ts") >= base + dt.timedelta(seconds=lo))
                & (F.col("ts") < base + dt.timedelta(seconds=lo + 300))
            )
            for lo in range(0, 1500, 300)
        ],
    )
    stream = (
        file_events_stream(spark, replay, schema)
        .withWatermark("ts", "300 seconds")  # the watermark delay IS the horizon
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    got = []
    drain(stream, lambda b, _i: got.extend(b.collect()), str(tmp_path / "ckpt_wmdedup"))
    assert got, "stream must emit something"

    by_key = {}
    for r in got:
        by_key.setdefault((r.user_id, r.event_type), []).append(r.ts)
    greedy = {}
    for r in interval_dedup(df, interval_sec=300).collect():
        greedy.setdefault((r.user_id, r.event_type), []).append(r.ts)

    assert set(by_key) == set(greedy)  # (2): all 4 keys represented
    for key, tss in by_key.items():
        tss.sort()
        for a, b in zip(tss, tss[1:]):  # (1): chain gaps strictly > delay
            assert (b - a).total_seconds() > 300, (key, a, b)
        assert len(tss) <= len(greedy[key])  # (3): greedy is maximal


def test_stream_stream_interval_left_outer_join_emits_nulls(spark, replay_full_dir, tmp_path):
    """LEFT OUTER stream-stream interval join: a view with no click within the
    hour must eventually emit (view_id, NULL) — but only once the watermark
    has passed its join window and evicted its state. Robust assertions that
    avoid the eviction boundary: (a) matched pairs equal the batch inner
    join; (b) every unmatched view safely past the horizon (view_ts + join
    interval + watermark delay < max event ts) has emitted its NULL row;
    (c) no view emits BOTH a match and a NULL."""
    s = _full_stream(spark, replay_full_dir)
    views = (
        s.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "30 minutes")
    )
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "30 minutes")
    )
    joined = views.join(
        clicks,
        (views.user_id == clicks.user_id)
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES")),
        "leftOuter",
    ).select("view_id", "click_id")
    rows = []
    drain(joined, lambda b, _bid: rows.extend(b.collect()), str(tmp_path / "ckpt_outer"))
    got_pairs = {(r.view_id, r.click_id) for r in rows if r.click_id is not None}
    got_nulls = {r.view_id for r in rows if r.click_id is None}

    ev = load_table(spark, SF_DIR, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    batch_inner = v.join(
        c,
        (v.user_id == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES")),
    )
    want_pairs = {(r.view_id, r.click_id) for r in batch_inner.collect()}
    assert got_pairs == want_pairs and len(want_pairs) > 0  # (a)

    matched_ids = {p[0] for p in want_pairs}
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime as dt

    horizon = max_ts - dt.timedelta(minutes=60 + 30 + 5)  # join + wm delay + slack
    must_null = {
        r.view_id
        for r in v.collect()
        if r.view_id not in matched_ids and r.view_ts < horizon
    }
    assert must_null, "fixture should contain safely-expired unmatched views"
    assert must_null <= got_nulls  # (b)
    assert not (got_nulls & matched_ids)  # (c)


def test_streaming_fuzzy_ingest_probe_matches_batch(spark, tmp_path):
    """Streaming near-dup ingest: incoming docs replay as a file stream; each
    micro-batch probes the PREBUILT standing corpus index via foreachBatch
    (the per-batch twin of ingest_dedup_fuzzy_probe). Survivors across the
    run must equal the batch operator on the full incoming set — per-batch
    probing is exact because each batch is checked independently against the
    same static index (no cross-batch state needed for corpus-vs-batch
    dedup)."""
    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.llm import dedup

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    incoming = docs.filter(F.col("doc_id") >= 400).unionByName(
        docs.filter(F.col("doc_id") < 50).withColumn("doc_id", F.col("doc_id") + F.lit(10000))
    ).select("doc_id", "text")

    buckets, hashes = dedup.build_fuzzy_ingest_index(corpus)
    buckets = buckets.localCheckpoint()
    hashes = hashes.localCheckpoint()

    # replay the incoming batch as 4 files -> 4 micro-batches
    replay = write_replay(
        str(tmp_path / "fuzzy_replay"),
        [incoming.filter(F.col("doc_id") % 4 == i) for i in range(4)],
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    survivors = []

    def probe_batch(batch_df, _batch_id):
        out = dedup.ingest_dedup_fuzzy_probe(batch_df, buckets, hashes).select("doc_id")
        survivors.extend(r.doc_id for r in out.collect())

    drain(file_events_stream(spark, replay, schema), probe_batch, str(tmp_path / "ckpt_fuzzy_ingest"))

    want = {
        r.doc_id for r in dedup.ingest_dedup_fuzzy(incoming, corpus).select("doc_id").collect()
    }
    assert sorted(survivors) == sorted(want)
    assert len(survivors) == len(set(survivors))  # each doc decided exactly once


@pytest.fixture(scope="module")
def replay_dir_anomaly(spark, tmp_path_factory):
    """events with value, globally ordered by (ts, event_id) — the batch
    operator's tie-break — chunked into 5 in-order files so the stream's
    arrival order equals the batch frame order."""
    out = str(tmp_path_factory.mktemp("events_anomaly_replay"))
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "event_type", "ts", "value")
        .orderBy("ts", "event_id")
    )
    build_replay(spark, ev, out)
    return out


def test_streaming_anomaly_zscore_matches_batch_exactly(
    spark, replay_dir_anomaly, tmp_path
):
    """The O(1)-state streaming z-score must equal the batch operator
    BIT-EXACTLY on an in-order replay — the state stores running cumulative
    sums continuing WindowExec's left-to-right accumulation, so every double
    (mean, var, rounded z) is the same double."""
    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.over_windows import anomaly_zscore
    from kda_flink_demo_spark.streaming.anomaly_state import anomaly_zscore_stream

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = file_events_stream(spark, replay_dir_anomaly + "/chunk=*", schema)
    sink = DuckDBUpsertSink(
        str(tmp_path / "anom.duckdb"),
        "anomalies",
        ["event_id"],
        "event_id BIGINT, event_type VARCHAR, ts TIMESTAMP, value DOUBLE, zscore DOUBLE",
    )
    drain(anomaly_zscore_stream(stream), sink, str(tmp_path / "ckpt_anom"))

    cols, got = sink.read_all()
    batch = anomaly_zscore(load_table(spark, SF_DIR, "events"))
    expected = {r.event_id: (r.event_type, r.value, r.zscore) for r in batch.collect()}
    got_map = {
        r[cols.index("event_id")]: (
            r[cols.index("event_type")],
            r[cols.index("value")],
            r[cols.index("zscore")],
        )
        for r in got
    }
    assert got_map == expected


def test_streaming_anomaly_state_survives_crash_recovery(
    spark, replay_dir_anomaly, tmp_path
):
    """Custom-stateful exactly-once: kill the anomaly query after ≥1 committed
    micro-batch, restart from the checkpoint, drain — the recovered
    applyInPandasWithState ring state must continue the cumulative sums so the
    final sink still equals the batch operator EXACTLY (a lost or replayed
    state update would shift every downstream frame's sums)."""
    import time

    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.over_windows import anomaly_zscore
    from kda_flink_demo_spark.streaming.anomaly_state import anomaly_zscore_stream

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def stream():
        return file_events_stream(spark, replay_dir_anomaly + "/chunk=*", schema)

    sink = DuckDBUpsertSink(
        str(tmp_path / "anom_crash.duckdb"),
        "anomalies",
        ["event_id"],
        "event_id BIGINT, event_type VARCHAR, ts TIMESTAMP, value DOUBLE, zscore DOUBLE",
    )
    ckpt = str(tmp_path / "anom_crash_ckpt")

    q = jobs.run_to_sink(anomaly_zscore_stream(stream()), sink, ckpt, available_now=False)
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in (q.recentProgress or [])):
            break
        time.sleep(0.5)
    q.stop()

    q2 = jobs.run_to_sink(anomaly_zscore_stream(stream()), sink, ckpt)
    q2.awaitTermination(300)
    cols, got = sink.read_all()

    batch = anomaly_zscore(load_table(spark, SF_DIR, "events"))
    expected = {r.event_id: (r.event_type, r.value, r.zscore) for r in batch.collect()}
    got_map = {
        r[cols.index("event_id")]: (
            r[cols.index("event_type")],
            r[cols.index("value")],
            r[cols.index("zscore")],
        )
        for r in got
    }
    assert got_map == expected


def test_streaming_bloom_ingest_probe_matches_batch(spark, tmp_path):
    """Streaming exact ingest dedup on the Bloom standing index: incoming docs
    replay as a file stream, each micro-batch probes the PREBUILT word table +
    corpus hash projection via foreachBatch. Survivors across the run must
    equal the one-shot batch anti join on the full incoming set."""
    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.llm import dedup

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    incoming = (
        docs.filter(F.col("doc_id") >= 400)
        .unionByName(
            docs.filter(F.col("doc_id") < 50).withColumn(
                "doc_id", F.col("doc_id") + F.lit(10000)
            )
        )
        .select("doc_id", "text")
    )

    bloom = dedup.bloom_build(corpus).localCheckpoint()
    corpus_hashes = corpus.select(F.xxhash64(F.col("text")).alias("_h")).localCheckpoint()

    replay = write_replay(
        str(tmp_path / "bloom_replay"),
        [incoming.filter(F.col("doc_id") % 4 == i) for i in range(4)],
    )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    survivors = []

    def probe_batch(batch_df, _batch_id):
        out = dedup.ingest_dedup_bloom_probe(batch_df, bloom, corpus_hashes).select(
            "doc_id"
        )
        survivors.extend(r.doc_id for r in out.collect())

    drain(file_events_stream(spark, replay, schema), probe_batch, str(tmp_path / "ckpt_bloom_ingest"))

    expected = {
        r.doc_id
        for r in dedup.ingest_dedup_against_corpus(incoming, corpus).select("doc_id").collect()
    }
    assert sorted(survivors) == sorted(expected)


def test_streaming_sketch_store_equals_one_pass(spark, tmp_path):
    """Streaming sketch maintenance: fold each micro-batch into the standing
    per-key sketch store; after the replay the store's report must equal the
    one-pass batch sketch BIT-EXACTLY (HLL/Theta unions are associative and
    commutative), including after a duplicate-batch replay (idempotent merge)."""
    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.sketches import (
        sketch_report,
        sketch_state,
        update_sketch_store,
    )

    ev_src = load_table(spark, SF_DIR, "events").select("event_id", "event_type", "user_id")
    replay = write_replay(
        str(tmp_path / "sketch_replay"),
        [ev_src.filter(F.col("event_id") % 4 == i) for i in range(4)],
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    store = str(tmp_path / "sketch_store")
    seen_batches = []

    def fold(batch_df, batch_id):
        update_sketch_store(batch_df, store)
        seen_batches.append(batch_id)

    drain(file_events_stream(spark, replay, schema), fold, str(tmp_path / "ckpt_sketch"))
    assert len(seen_batches) >= 2  # actually replayed incrementally

    canon = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    got = canon(sketch_report(spark.read.parquet(store)))
    ev = load_table(spark, SF_DIR, "events")
    expected = canon(sketch_report(sketch_state(ev)))
    assert got == expected

    # replaying an already-folded slice must not change the state (idempotent)
    update_sketch_store(ev.filter(F.col("event_id") % 5 == 0), store)
    assert canon(sketch_report(spark.read.parquet(store))) == expected


def test_streaming_session_windows_match_batch(spark, replay_dir, tmp_path):
    """W6 streaming twin: closed sessions emitted by the streaming
    session_window aggregate must equal the batch session values; sessions
    still open at end of replay stay in state (append-mode semantics)."""
    from kda_flink_demo_spark.operators.windows import session_counts

    sink = DuckDBUpsertSink(
        str(tmp_path / "sess.duckdb"),
        "sessions",
        jobs.TUMBLING_SINK_KEYS,
        jobs.TUMBLING_SINK_SCHEMA,
    )
    result = jobs.job_session(_stream(spark, replay_dir), gap="5 minutes")
    drain(result, sink, str(tmp_path / "ckpt_sess"))

    cols, got = sink.read_all()
    batch = session_counts(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        ),
        gap="5 minutes",
    )
    expected = {
        (r.railway_class, r.window_start, r.window_end): r.railway_class_count
        for r in batch.collect()
    }
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    # every emitted (closed) session must match its batch twin exactly, and
    # only the per-key final (still-open) sessions may be missing
    n_keys = len({k[0] for k in expected})
    assert len(got_map) >= len(expected) - n_keys
    for k, v in got_map.items():
        assert expected[k] == v, f"session {k}: stream={v} batch={expected[k]}"


def test_streaming_interval_join_matches_batch_exactly(spark, tmp_path):
    """Stream-stream interval join: with watermark delay = join bound, no
    in-bound partner is ever evicted early, so the bounded-replay inner join
    equals the batch join EXACTLY (not just on an intersection)."""
    from pyspark.sql import types as T

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "event_type", "ts")
    out = str(tmp_path / "events_replay")
    build_replay(spark, ev.orderBy("ts"), out, n_chunks=4)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def _src():
        return file_events_stream(spark, out + "/chunk=*", schema)

    bound = 1800
    stream_result = jobs.job_interval_join(
        _src().filter(F.col("event_type") == "view"),
        _src().filter(F.col("event_type") == "purchase"),
        bound_seconds=bound,
    )
    collected = []

    def sink(batch_df, _bid):
        collected.extend(tuple(r) for r in batch_df.collect())

    drain(stream_result, sink, str(tmp_path / "ckpt_ij"))

    batch = jobs.job_interval_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        bound_seconds=bound,
    )
    expected = sorted(tuple(r) for r in batch.collect())
    assert len(expected) > 0, "fixture must produce at least one join match"
    assert sorted(collected) == expected


def test_streaming_dedup_drops_replayed_duplicates_exactly(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark): a replay where
    each chunk re-emits the tail of the previous one (at-least-once
    redelivery) must yield EXACTLY the batch dropDuplicates result — one copy
    per event_id, first-seen values — because every duplicate arrives inside
    the dedup horizon."""
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", F.col("event_type").alias("railway_class"),
                F.col("ts").alias("rowtime"))
        .orderBy("rowtime")
    )
    rows = ev.collect()
    chunk = (len(rows) + 3) // 4
    overlap = 25
    # every chunk after the first redelivers the previous chunk's tail
    parts = [rows[max(0, i * chunk - overlap) : (i + 1) * chunk] for i in range(4)]
    replay = write_replay(
        str(tmp_path / "dup_replay"),
        [spark.createDataFrame(p, ev.schema) for p in parts if p],
    )
    result = jobs.job_dedup(
        file_events_stream(spark, replay, REPLAY_SCHEMA), keys=("event_id",), delay="48 hours"
    )
    collected = []

    def sink(batch_df, _bid):
        collected.extend(tuple(r) for r in batch_df.collect())

    drain(result, sink, str(tmp_path / "ckpt_dedup"))

    expected = sorted(tuple(r) for r in rows)  # fixture event_ids are unique
    assert len(collected) == len(expected), "a duplicate survived or a row was lost"
    assert sorted(collected) == expected
