from __future__ import annotations

import glob
import os
import time

import pytest

from kda_flink_demo_spark.session import get_spark
from kda_flink_demo_spark.streaming import jobs, protobuf_compat

# Must happen at import time, BEFORE any SparkSession (and its JVM) exists:
# workers/streaming runners inherit PYTHONPATH from the JVM's launch env, and
# the transformWithStateInPandas tests need the protobuf shim in every python
# process (no-op on hosts with a real protobuf install).
protobuf_compat.export_worker_pythonpath()
protobuf_compat.install_in_process()

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("kda-spark-tests", cpus=8)
    spark.sparkContext.setLogLevel("WARN")
    yield spark


def write_replay(path, chunks) -> str:
    """Write each DataFrame of ``chunks`` as one parquet file under
    ``<path>/chunk=<i>`` and return the glob that streams them. The file
    source orders files by modification time, so each chunk's file is dated
    ``i`` seconds after the first: ``maxFilesPerTrigger=1`` then replays one
    chunk per micro-batch, in chunk order."""
    now = time.time()
    for i, df in enumerate(chunks):
        out = f"{path}/chunk={i:02d}"
        df.coalesce(1).write.parquet(out)
        for f in glob.glob(f"{out}/*.parquet"):
            os.utime(f, (now + i, now + i))
    return f"{path}/chunk=*"


def build_replay(spark, df, path, n_chunks=5) -> list:
    """Split the rows of an already ordered DataFrame into ``n_chunks``
    consecutive chunks, write them with ``write_replay`` and return the
    chunks' DataFrames."""
    rows = df.collect()
    size = (len(rows) + n_chunks - 1) // n_chunks
    parts = [rows[i * size : (i + 1) * size] for i in range(n_chunks)]
    chunks = [spark.createDataFrame(p, df.schema) for p in parts if p]
    write_replay(path, chunks)
    return chunks


def drain(result, sink, checkpoint):
    """Run an append-mode replay to its end through ``jobs.run_to_sink``
    (``availableNow``); ``sink`` is any ``foreachBatch`` callable."""
    q = jobs.run_to_sink(result, sink, checkpoint)
    q.awaitTermination(300)
    assert not q.isActive
