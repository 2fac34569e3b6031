"""Streaming throughput bench: replay the sf0.1 events table (≈100k rows) in 10
time-ordered chunks through the streaming jobs into the upsert sink, report
end-to-end rows/sec (including checkpointing and sink writes), and per job the
median micro-batch time (``triggerExecution``), the median state-store commit
time per batch and the state partitions of its stateful operator.

Run: python scripts/bench_streaming.py [n_chunks]   (default 10; fewer chunks =
bigger micro-batches = higher rows/sec, since per-batch fixed cost dominates)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kda_flink_demo_spark.io.sources import file_events_stream, load_table  # noqa: E402
from kda_flink_demo_spark.jobs import REPLAY_SCHEMA  # noqa: E402
from kda_flink_demo_spark.session import get_spark  # noqa: E402
from kda_flink_demo_spark.streaming import jobs  # noqa: E402
from kda_flink_demo_spark.streaming.upsert import DuckDBUpsertSink  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    spark = get_spark("bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    # removed on exit, also when a run fails: the replay chunks, checkpoints
    # and DuckDB files never outlive the run
    with tempfile.TemporaryDirectory(prefix="bench-streaming-") as tmp:
        _bench(spark, tmp)


def _bench(spark, tmp: str) -> None:
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime"))
        .orderBy("rowtime")
    )
    n_rows = ev.count()
    chunks = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    # time-ordered chunk files via ntile bucketing (no driver collect)
    from pyspark.sql import Window

    bucketed = ev.withColumn(
        "chunk", F.ntile(chunks).over(Window.orderBy("rowtime")) - 1
    )
    for i in range(chunks):
        (
            bucketed.filter(F.col("chunk") == i)
            .drop("chunk")
            .coalesce(1)
            .write.parquet(f"{tmp}/replay/chunk={i:02d}")
        )

    results = {}
    for job_name in ("StreamJobSqlTumbling", "StreamJobSqlSliding"):
        table, keys, schema_sql = jobs.JOB_SINKS[job_name]
        stream = file_events_stream(spark, tmp + "/replay/chunk=*", REPLAY_SCHEMA)
        sink = DuckDBUpsertSink(f"{tmp}/{table}.duckdb", table, keys, schema_sql)
        t0 = time.time()
        q = jobs.run_to_sink(jobs.dispatch(job_name)(stream), sink, f"{tmp}/ckpt_{job_name}")
        q.awaitTermination(600)
        elapsed = time.time() - t0
        q.stop()  # a no-op once drained; never leave a query writing into tmp
        _, rows = sink.read_all()
        sink.close()
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        results[job_name] = {
            "sec": round(elapsed, 2),
            "rows_per_sec": round(n_rows / elapsed),
            "sink_rows": len(rows),
            "batches": len(batches),
            "batch_ms_median": statistics.median(
                p.durationMs["triggerExecution"] for p in batches
            ),
            "state_commit_ms_median": statistics.median(
                sum(op.commitTimeMs for op in p.stateOperators) for p in batches
            ),
            "state_partitions": [op.numShufflePartitions for op in batches[-1].stateOperators],
        }
    print(json.dumps({"events_rows": n_rows, "chunks": chunks, "jobs": results}))


if __name__ == "__main__":
    main()
