from __future__ import annotations

import glob
import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from kda_flink_demo_spark.io.sources import load_table
from kda_flink_demo_spark.session import get_spark
from kda_flink_demo_spark.streaming import jobs, protobuf_compat

# Must happen at import time, BEFORE any SparkSession (and its JVM) exists:
# workers and streaming runners inherit PYTHONPATH from the JVM's launch env,
# so they all get the Python-worker start-up hook (its zip-directory guard);
# test_worker_hook.py's in-process tests need the guard in this interpreter.
protobuf_compat.export_worker_pythonpath()
protobuf_compat.install_in_process()

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("kda-spark-tests", cpus=8)
    spark.sparkContext.setLogLevel("WARN")
    yield spark


def docs_slice(spark, n):
    """The ``documents`` rows with ``doc_id < n``."""
    return load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < n)


def load_embeddings(spark):
    return load_table(spark, SF_DIR, "embeddings")


def sorted_rows(df) -> list[tuple]:
    """Every row of ``df`` as a tuple, sorted: compares two frames' values
    without regard to row order."""
    return sorted(tuple(r) for r in df.collect())


def term_stream(docs):
    """One ``(doc_id, term)`` row per non-empty space-separated word."""
    return docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")


def signed64(w: int) -> int:
    """An unsigned 64-bit word as the signed long Spark stores it."""
    return w - (1 << 64) if w >= 1 << 63 else w


def rgb_frames(n, w=6, h=4, seed=0) -> list:
    """``n`` random ``(h, w, 3)`` uint8 RGB frames."""
    rng = np.random.RandomState(seed)
    return [rng.randint(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(n)]


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
