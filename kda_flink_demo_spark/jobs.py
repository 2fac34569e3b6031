"""Top-level orchestration: single-job dispatch + config groups (reference E1/E2).

The reference's entry point reads a JOB_CLASS_NAME property and switches to one
Flink job's main (Starter.java:26-42 — with a missing-break bug that launches
every later case too; we replicate the *intent*, one job per invocation), with
config split into Source/Sink/Processor property groups
(README.MD:109-127, KinesisAnalyticsRuntime.getApplicationProperties).

Usage:
    python -m kda_flink_demo_spark.jobs --job StreamJobSqlTumbling \
        --source-path /data/replay --sink-db /tmp/out.duckdb \
        --checkpoint /tmp/ckpt [--interval "1 minute"] [--watch]

With --source kinesis it builds the Kinesis reader instead (requires the
spark-sql-kinesis connector on the cluster; untestable locally).
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kda_flink_demo_spark.io.sources import file_events_stream, kinesis_geojson_stream
from kda_flink_demo_spark.operators.projections import project_railway_events
from kda_flink_demo_spark.session import get_spark
from kda_flink_demo_spark.streaming import jobs as sjobs
from kda_flink_demo_spark.streaming.upsert import DuckDBUpsertSink

REPLAY_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("railway_class", T.StringType()),
        T.StructField("rowtime", T.TimestampType()),
    ]
)


def build_source(spark, args):
    """The job's event stream in ``REPLAY_SCHEMA``'s shape.

    A Kinesis record's ``event_id`` is ``xxhash64(partitionKey,
    sequenceNumber)``: a function of the record's identity alone, so a
    micro-batch replayed after a failure gets the ids it had the first time,
    and the sinks keyed on ``event_id`` overwrite instead of inserting again.
    Two different records share an id only on a 64-bit hash collision: among
    n records the chance of any is below n²/2⁶⁵ (about 3·10⁻⁸ for a million,
    3 % for a billion), and it matters only where the colliding events also
    meet in one sink key or within ``job_dedup``'s watermark delay.
    """
    if args.source == "kinesis":
        parsed = kinesis_geojson_stream(
            spark, args.stream_name, args.region, args.starting_position
        ).withColumn("event_id", F.xxhash64("partitionKey", "sequenceNumber"))
        return project_railway_events(parsed, keep=("event_id",))
    return file_events_stream(spark, args.source_path, REPLAY_SCHEMA)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="kda-flink-demo-spark job runner")
    p.add_argument("--job", required=True, choices=sorted(set(sjobs.JOB_REGISTRY)))
    p.add_argument("--source", default="file", choices=["file", "kinesis"])
    p.add_argument("--source-path", help="directory of replay parquet files (file source)")
    p.add_argument("--stream-name", default="kda_geojson")
    p.add_argument("--region", default="us-east-1")
    p.add_argument("--starting-position", default="latest")
    p.add_argument("--sink-db", required=True, help="DuckDB file for the upsert sink")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--watch", action="store_true", help="run continuously (default: drain available data and stop)")
    args = p.parse_args(argv)

    spark = get_spark(f"kda-{args.job}")
    job = sjobs.dispatch(args.job)
    result = job(build_source(spark, args))

    table, keys, schema_sql = sjobs.JOB_SINKS[args.job]
    sink = DuckDBUpsertSink(args.sink_db, table, keys, schema_sql)
    try:
        query = sjobs.run_to_sink(result, sink, args.checkpoint, available_now=not args.watch)
        query.awaitTermination()
    finally:
        sink.close()


if __name__ == "__main__":
    main()
