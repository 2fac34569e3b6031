"""``io.sources.read_parquet``: the package's one batch parquet read takes its
schema from the first data file's footer, read on the driver, instead of
Spark's inference job. Pinned here: the schema (field metadata included) and
the optimized plan equal what ``spark.read.parquet`` infers, for every fixture
table, every standing-store kind the tests write, a Spark-written directory of
nested and typed columns, an empty table and names that are not bare
identifiers; a read with no data file raises; and building a table or a store
readout runs no Spark job."""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import glob
import itertools
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kda_flink_demo_spark.io.sources import DEFAULT_SF_DIR, load_table, read_parquet
from tests.conftest import SF_DIR, SF_DIR_MED, docs_slice

FIXTURE_DIRS = [SF_DIR, SF_DIR_MED, DEFAULT_SF_DIR]
# the five tables the registry_batch benchmark workload loads
BENCH_TABLES = ["events", "customer", "orders", "lineitem", "documents"]

_groups = itertools.count()


@contextlib.contextmanager
def _jobs(spark):
    """The ids of the Spark jobs this thread starts inside the block (a job
    group is thread-local, so other threads' jobs are not counted)."""
    sc = spark.sparkContext
    group = f"read-parquet-{next(_groups)}"
    sc.setJobGroup(group, "read_parquet job count")
    ids: list[int] = []
    try:
        yield ids
    finally:
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def _plan(df) -> str:
    """The physical plan (the FileScan node with its read schema, pushed
    filters and file index) with expression ids blanked."""
    return re.sub(r"#\d+", "#", df._jdf.queryExecution().executedPlan().toString())


def _assert_parity(spark, *paths):
    got, want = read_parquet(spark, *paths), spark.read.parquet(*paths)
    assert got.schema == want.schema, paths
    assert _plan(got) == _plan(want), paths


# ---------------------------------------------------------------------------
# schema parity
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", FIXTURE_DIRS, ids=os.path.basename)
def test_footer_schema_equals_inference_on_every_fixture_table(spark, sf_dir):
    files = sorted(glob.glob(f"{sf_dir}/*.parquet"))
    assert files
    for path in files:
        _assert_parity(spark, path)


def test_footer_schema_equals_inference_on_spark_written_types(spark, tmp_path):
    """Timestamp, NTZ, decimal, array, struct and map columns, names that are
    not bare identifiers, a column whose Spark type lives only in the footer's
    row metadata (a narrowed int), an empty table, a ``k=v`` partitioned
    directory, several paths, a glob and a pyarrow-written TIMESTAMP(NANOS)
    file."""
    rows = [
        (
            i,
            dt.datetime(2024, 1, 1, 0, 0, i),
            dt.datetime(2024, 1, 1, 0, 0, i),
            decimal.Decimal(f"{i}.25"),
            [i, i + 1],
            (i, f"s{i}"),
            {"k": i},
            f"v{i}",
            i % 2,
        )
        for i in range(4)
    ]
    df = spark.createDataFrame(
        rows,
        "id long, ts timestamp, ntz timestamp_ntz, amount decimal(12,2), "
        "xs array<int>, st struct<a: int, b: string>, m map<string, int>, "
        "`a b.c` string, `select` tinyint",
    )
    typed, empty, parted = (str(tmp_path / d) for d in ("typed", "empty", "parted"))
    df.repartition(2).write.parquet(typed)
    df.limit(0).write.parquet(empty)
    df.write.partitionBy("select").parquet(parted)
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()), "ts": pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("ns"))}),
        nanos,
    )
    for paths in ([typed], [empty], [parted], [f"{parted}/select=1"], [typed, empty], [f"{typed}/*.parquet"], [nanos]):
        _assert_parity(spark, *paths)
    assert sorted(read_parquet(spark, typed).collect()) == sorted(spark.read.parquet(typed).collect())


def test_footer_schema_equals_inference_on_every_store_kind(spark, tmp_path):
    """Every standing store the tests write, each read the way a reader or a
    caller reads it: each committed directory on its own, and the store root
    (for a segment store, Spark discovers ``seg`` as a partition column)."""
    from kda_flink_demo_spark.operators.sketches import update_sketch_store
    from kda_flink_demo_spark.streaming import standing_stores as ss
    from tests.test_segment_store import _reader_case

    roots = []
    for name in ["cms", "drift", "pca", "span", "ahash", "editdist", "cumulate"]:
        fold, _ = _reader_case(spark, name, tmp_path / name)
        store = str(tmp_path / name / "store")
        fold(0, store)
        fold(1, store)
        roots += [store] + glob.glob(str(tmp_path / name / "sink"))
    ss.compact_cms_store(spark, str(tmp_path / "cms" / "store"), upto_batch=1)

    ev = load_table(spark, SF_DIR, "events")
    docs = docs_slice(spark, 40)
    scd2 = dict(keys=["user_id"], attr_cols=["event_type"], ts_col="ts", tie_col="event_id")
    for bid in range(2):
        chunk = ev.filter(F.col("event_id") % 2 == bid)
        ss.update_scd2_store(chunk, str(tmp_path / "scd2"), **scd2)
        facts = chunk.select("user_id", "ts", "event_id", "value")
        ss.enrich_batch_with_scd2(
            facts, bid, str(tmp_path / "scd2"), str(tmp_path / "enriched"), **scd2,
            attr_aliases=["state_at_event"],
        )
        ss.update_quarantine_store(
            chunk, bid, {"value_in_range": F.col("value") <= 90}, str(tmp_path / "good"), str(tmp_path / "bad")
        )
        ss.update_snapshot_version_store(docs.filter(F.col("doc_id") % 2 == bid), str(tmp_path / "versions"), bid)
        update_sketch_store(chunk, str(tmp_path / "sketch"))
    ss.train_bpe_to_store(docs, str(tmp_path / "bpe"), steps=2)
    roots += [str(tmp_path / d) for d in ("scd2", "enriched", "good", "bad", "versions", "sketch", "bpe")]

    committed = sorted(os.path.dirname(m) for m in glob.glob(f"{tmp_path}/**/_SUCCESS", recursive=True))
    assert len(committed) >= 30
    for path in committed + roots:
        _assert_parity(spark, path)


def test_read_without_a_data_file_raises(spark, tmp_path):
    """A missing path, an empty directory or one holding only markers and
    checksums has no footer to read: a clear error, never an empty frame."""
    hidden = tmp_path / "hidden"
    (hidden / "_temporary").mkdir(parents=True)
    (hidden / "_SUCCESS").write_bytes(b"")
    (hidden / ".part-0.parquet.crc").write_bytes(b"")
    (tmp_path / "empty").mkdir()
    for path in (tmp_path / "missing", tmp_path / "empty", hidden):
        with pytest.raises(FileNotFoundError, match="no parquet data file"):
            read_parquet(spark, str(path))


# ---------------------------------------------------------------------------
# zero jobs
# ---------------------------------------------------------------------------


def test_load_table_runs_no_spark_job(spark, tmp_path):
    """The five tables of the registry_batch workload load without a Spark
    job (a fresh directory, so no session cache answers); inference runs
    one job per table."""
    for t in BENCH_TABLES:
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    with _jobs(spark) as ids:
        tables = [load_table(spark, str(tmp_path), t) for t in BENCH_TABLES]
    assert ids == []
    with _jobs(spark) as ids:
        for t in BENCH_TABLES:
            spark.read.parquet(str(tmp_path / f"{t}.parquet"))
    assert len(ids) == len(BENCH_TABLES)  # the counter sees inference jobs
    assert [df.count() for df in tables] == [
        pq.ParquetFile(tmp_path / f"{t}.parquet").metadata.num_rows for t in BENCH_TABLES
    ]


def test_store_readout_builds_without_a_job(spark, tmp_path):
    """Building a segment-store readout lists the store and reads one footer
    on the driver; its action then runs only the readout's own jobs."""
    from kda_flink_demo_spark.streaming.standing_stores import cms_from_store
    from tests.test_segment_store import _cms_kind, _fold_store

    store, _ = _fold_store(spark, tmp_path, _cms_kind(), n_batches=2)
    with _jobs(spark) as ids:
        readout = cms_from_store(spark, store)
    assert ids == []
    with _jobs(spark) as ids:
        readout.collect()
    assert ids  # the readout itself still runs
