"""Streaming jobs mirroring the reference's six Flink applications.

Reference jobs (SURVEY §2.11, Starter.java:31-42 dispatch):
  StreamJobSqlTumbling / StreamJobTumbling  → tumbling windowed count (W1/W2 —
      one Spark implementation serves the SQL and Table API spellings)
  StreamJobTumblingOffset                   → tumbling with boundary offset (W3)
  StreamJobSqlHopping                       → hopping window + HOP_ROWTIME (W4)
  StreamJobSqlSliding / StreamJobSingle     → per-event trailing-interval count (W5)

Each job builder takes an already-parsed event stream (railway_class, rowtime) —
from the Kinesis source in production or a file replay locally (io.sources) —
applies a 0-second watermark (the reference's punctuated max-event-time
watermark, T2; micro-batch granularity divergence documented in SURVEY §2.3),
and returns an append-mode DataFrame matching the reference's sink contract.
``run_to_sink`` wires any of them into a ``foreachBatch`` sink (the idempotent
upsert sink for the jobs, see ``JOB_SINKS``) with a checkpoint location — the
whole O5 write-ahead machinery.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

from kda_flink_demo_spark.operators.windows import hopping_counts, tumbling_counts
from kda_flink_demo_spark.streaming.sliding_state import sliding_range_count_stream

WATERMARK = "0 seconds"  # zero allowed lateness, per the reference's assigner

ROCKSDB_PROVIDER = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def use_rocksdb_state(spark) -> None:
    """Switch streaming state to the RocksDB provider — the at-scale choice
    (state spills to local disk instead of living on the JVM heap; changelog
    checkpointing keeps commits incremental). Flink-side equivalent is the
    RocksDB state backend the reference would configure in production. Must be
    set before the streaming query starts."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)

TUMBLING_SINK_SCHEMA = (
    "railway_class VARCHAR, railway_class_count BIGINT, "
    "window_start TIMESTAMP, window_end TIMESTAMP"
)
TUMBLING_SINK_KEYS = ["railway_class", "window_start", "window_end"]

SLIDING_SINK_SCHEMA = (
    "event_id BIGINT, railway_class VARCHAR, rowtime TIMESTAMP, railway_class_count BIGINT"
)
SLIDING_SINK_KEYS = ["event_id", "railway_class", "rowtime"]


def job_tumbling(events: DataFrame, size: str = "1 minute") -> DataFrame:
    """StreamJobSqlTumbling / StreamJobTumbling (one Catalyst plan for both)."""
    return tumbling_counts(events.withWatermark("rowtime", WATERMARK), size=size)


def job_tumbling_offset(
    events: DataFrame, size: str = "1 minute", offset: str = "30 seconds"
) -> DataFrame:
    """StreamJobTumblingOffset: TumblingEventTimeWindows.of(size, offset) ≡
    window(..., startTime=offset)."""
    return tumbling_counts(events.withWatermark("rowtime", WATERMARK), size=size, offset=offset)


def job_hopping(events: DataFrame, size: str = "2 minutes", slide: str = "1 minute") -> DataFrame:
    """StreamJobSqlHopping with a real (non-degenerate) slide + HOP_ROWTIME."""
    return hopping_counts(events.withWatermark("rowtime", WATERMARK), size=size, slide=slide)


def job_sliding(events: DataFrame, preceding_seconds: int = 30 * 60) -> DataFrame:
    """StreamJobSqlSliding / StreamJobSingle: custom stateful trailing count."""
    return sliding_range_count_stream(events, preceding_seconds=preceding_seconds)


def job_session(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Streaming session windows (W6 extension — the reference has none; the
    batch twin is ``operators/windows.py:session_counts``): Spark's native
    ``session_window`` aggregate under the job watermark. Append mode emits a
    session once the watermark passes its close (last event + gap); sessions
    still open at end of a bounded replay stay in state — the batch-as-oracle
    test compares closed sessions exactly. State per key is one open session
    interval, merged on overlap — O(open sessions), watermark-pruned."""
    from kda_flink_demo_spark.operators.windows import session_counts

    return session_counts(events.withWatermark("rowtime", WATERMARK), gap=gap)


def job_dedup(events: DataFrame, keys=("event_id",), delay: str = "1 hour") -> DataFrame:
    """Streaming exact dedup — the streaming twin of the batch exact-dedup
    family (``operators/llm/dedup.exact_dedup_*`` / ``ingest_dedup``), closing
    that family's last batch/streaming asymmetry: first-seen wins, and any
    duplicate arriving within ``delay`` of the original's event time is
    dropped. Built on ``dropDuplicatesWithinWatermark``, whose state holds
    one entry per kept key and is EVICTED once the watermark passes the
    key's event time + ``delay`` — bounded state, the property a plain
    ``dropDuplicates`` lacks on an unbounded stream (its key set grows
    forever). Rows are emitted immediately on first sight (no aggregation,
    so append mode has no watermark-close latency); the delay knob is the
    dedup horizon: at 100 TB/day choose it as the max expected redelivery
    lag (e.g. the at-least-once source's retry window), NOT the stream's
    lifetime. A bounded replay whose duplicates all arrive inside the
    horizon yields EXACTLY the batch ``dropDuplicates`` result — the
    equality the streaming test pins."""
    return events.withWatermark("rowtime", delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def job_interval_join(
    views: DataFrame, purchases: DataFrame, bound_seconds: int = 1800
) -> DataFrame:
    """Stream-stream event-time INTERVAL JOIN (beyond the reference's surface;
    the Flink equivalent is ``KeyedStream.intervalJoin``): each view event
    joins the same user's purchases with ``view_ts ≤ purchase_ts ≤ view_ts +
    bound``. This is the only scale-safe stream-stream join shape: the
    time-range predicate plus both-side watermarks lets the state store evict
    every row older than the bound — state is O(events within the bound) per
    key, never unbounded. Watermark delay equals the join bound (the standard
    choice: tolerated lateness = how long a row can still find a partner), so
    no in-bound match is ever evicted early and a bounded replay's inner-join
    output equals the batch join EXACTLY — the equality the streaming test
    pins."""
    from pyspark.sql import functions as F

    delay = f"{int(bound_seconds)} seconds"
    v = views.select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", delay)
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", delay)
    cond = (
        (v["user_id"] == p["p_user_id"])
        & (p["purchase_ts"] >= v["view_ts"])
        & (p["purchase_ts"] <= v["view_ts"] + F.expr(f"INTERVAL {int(bound_seconds)} SECONDS"))
    )
    return v.join(p, cond, "inner").select(
        "user_id", "view_id", "view_ts", "purchase_id", "purchase_ts"
    )


JOB_REGISTRY = {
    "StreamJobSqlTumbling": job_tumbling,
    "StreamJobTumbling": job_tumbling,
    "StreamJobTumblingOffset": job_tumbling_offset,
    "StreamJobSqlHopping": job_hopping,
    "StreamJobSqlSliding": job_sliding,
    "StreamJobSingle": job_sliding,
    # capability extensions past the reference's six jobs
    "StreamJobSession": job_session,
    "StreamJobDedup": job_dedup,
}


_TUMBLING_SINK = ("tumbling", TUMBLING_SINK_KEYS, TUMBLING_SINK_SCHEMA)
_SLIDING_SINK = ("sliding", SLIDING_SINK_KEYS, SLIDING_SINK_SCHEMA)

# job name -> (table, primary key, DuckDB column schema) of its upsert sink;
# the schema's columns are the job's output columns on a replay or Kinesis
# event stream (event_id, railway_class, rowtime)
JOB_SINKS = {
    "StreamJobSqlTumbling": _TUMBLING_SINK,
    "StreamJobTumbling": _TUMBLING_SINK,
    "StreamJobTumblingOffset": _TUMBLING_SINK,
    "StreamJobSqlHopping": (
        "tumbling", TUMBLING_SINK_KEYS, TUMBLING_SINK_SCHEMA + ", received_on TIMESTAMP"
    ),
    "StreamJobSqlSliding": _SLIDING_SINK,
    "StreamJobSingle": _SLIDING_SINK,
    "StreamJobSession": _TUMBLING_SINK,
    "StreamJobDedup": (
        "dedup", ["event_id"], "event_id BIGINT, railway_class VARCHAR, rowtime TIMESTAMP"
    ),
}


def dispatch(job_class_name: str):
    """Single-job dispatch replicating the reference Starter's *intent* — without
    its missing-break fall-through bug (Starter.java:31-42, SURVEY §7.3)."""
    try:
        return JOB_REGISTRY[job_class_name]
    except KeyError:
        raise KeyError(
            f"unknown JOB_CLASS_NAME {job_class_name!r}; known: {sorted(set(JOB_REGISTRY))}"
        ) from None


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
CHECKPOINT_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
# Spark 4.1's name for the manager that writes through the Hadoop FileSystem API
FS_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)

# Serialises run_to_sink's set/start/restore of the shared session conf, so
# two concurrent starts cannot restore each other's value. It also covers
# foreachBatch, whose first call starts PySpark's py4j callback server with
# an unsynchronised check-then-start.
_START_LOCK = threading.Lock()
_INIT_TIMEOUT_MS = 60_000


def _start_conf(spark, checkpoint_dir: str) -> dict[str, str]:
    """The session conf a new ``run_to_sink`` query starts with (see there):
    shuffle/state partitions capped at the task slots, and, for a checkpoint
    on the local file system whose session names no manager, the
    FileSystem-API checkpoint file manager."""
    batch_value = int(spark.conf.get(SHUFFLE_PARTITIONS))
    conf = {SHUFFLE_PARTITIONS: str(min(batch_value, spark.sparkContext.defaultParallelism))}
    hpath = spark._jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.getUri().getScheme() == "file" and spark.conf.get(CHECKPOINT_FILE_MANAGER, None) is None:
        conf[CHECKPOINT_FILE_MANAGER] = FS_CHECKPOINT_FILE_MANAGER
    return conf


def run_to_sink(
    result: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start an append-mode streaming query into ``sink`` with a checkpoint.
    ``sink`` is any ``foreachBatch`` callable ``(batch_df, batch_id)``: an
    idempotent upsert sink (``upsert.DuckDBUpsertSink``), a standing-store
    fold, or a collector. Spark replays a failed batch under the same
    batchId, and the keyed upsert absorbs the replay (the reference's
    244-line checkpoint-coordinated WAL sink,
    SinkDataApiTumbling.java:30-273, in one call). ``available_now`` drains
    what is there and stops; otherwise the query runs until stopped.

    A new checkpoint starts with fewer shuffle/state partitions than batch
    queries use. AQE does not coalesce a stateful streaming shuffle, and
    Spark fixes the count for the checkpoint's whole life, so the batch value
    would cost one state-store load/commit task per partition on every
    micro-batch (32 partitions on 2 slots: 16 waves of near-empty tasks per
    trigger). A new query therefore gets the session value capped at the task
    slots (``defaultParallelism``), so its stateful stage runs in one wave; a
    cluster with at least as many slots keeps the session value. A restarted
    checkpoint keeps the count recorded in its offset log, which Spark
    applies over the session value.

    Migrating a checkpoint that recorded the uncapped count (one created
    before the cap) means rewriting its state, and Spark 4.1 cannot: its
    state data source (``format("statestore")``) only reads, since its table
    supports no write. So drain the old query (run it with ``available_now``
    until it stops), then start the job on a fresh checkpoint directory,
    which gets the capped count. The fresh query rebuilds its state from the
    source: a file source reads every file again, and the keyed upsert sink
    overwrites the rows it already holds with the same values.

    A checkpoint on the local file system is also written through the Hadoop
    FileSystem API instead of Spark's default FileContext one. Without
    Hadoop's native library, FileContext's rename runs a ``readlink``
    subprocess for each path it checks (four per rename), so every atomic
    checkpoint file (source, offset and commit log entries, each state
    partition's delta and checksum: seven per micro-batch at two partitions)
    costs about 50 ms, against 15 ms through FileSystem (4-cpu host): most of
    a small trigger's fixed cost, and a cost that grows with the host's load.
    Local rename is atomic either way; a session that names a manager keeps
    it.

    Both are session conf, set just before ``start()`` and restored once the
    query has initialised: Spark clones the session for the query at
    ``start()``, but builds the sources' logs from the caller's session in
    the query thread. The caller's session is left unchanged."""
    spark = result.sparkSession
    with _START_LOCK:
        writer = (
            result.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        conf = _start_conf(spark, checkpoint_dir)
        before = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            query = writer.start()
            try:
                # the query thread builds the sources, and their logs, from
                # this session only after start() returns
                query._jsq.streamingQuery().awaitInitialization(_INIT_TIMEOUT_MS)
            except Py4JJavaError:
                pass  # the query reports its own failure, as before
            return query
        finally:
            for k, v in before.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
