"""Sources: batch parquet, streaming file replay, and the Kinesis contract.

Reference source: a FlinkKinesisConsumer on stream ``kda_geojson``
(/root/reference/.../StreamJobSqlTumbling.java:41-53, README.MD:113-116). The Spark
equivalent is the spark-sql-kinesis connector (``format("kinesis")``); locally we
replay the same schema through a file stream, which exercises identical plan shapes
(source → from_json → watermark → windowed agg).

Scale note: parquet batch reads split at ``spark.sql.files.maxPartitionBytes``;
predicate pushdown and column pruning reach the scan automatically as long as
callers select/filter on the DataFrame (verified in tests via ``.explain``).

Zero-job parquet reads: every batch parquet read in the package goes through
``read_parquet``. A ``spark.read.parquet(path)`` without a schema runs a whole
Spark job (``ParquetUtils.inferSchema`` → ``mergeSchemasInParallel``) only to
read one footer: ~0.1 s warm, seconds as a fresh JVM's first job.
``read_parquet`` reads that footer on the driver instead, with Spark's own
converter, and hands the schema to the reader, so building the DataFrame
runs no job and the plan is the one inference would have given.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from kda_flink_demo_spark.schemas import GEOJSON_SCHEMA, TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _skipped(name: str) -> bool:
    """Names Spark's file index never reads (``shouldFilterOutPathName``):
    ``_*`` unless a ``k=v`` partition directory, ``.*``, and ``*._COPYING_``.
    Spark prefers a ``_common_metadata``/``_metadata`` summary file for the
    schema when one exists; Spark has not written them by default since 2.x,
    so they are skipped like any other ``_`` name."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_file_under(fs, status):
    """Depth-first, the first file under ``status`` that Spark would read,
    or None."""
    if status.isFile():
        return status
    dirs = []
    for child in fs.listStatus(status.getPath()):
        if _skipped(child.getPath().getName()):
            continue
        if child.isFile():
            return child
        dirs.append(child)
    for d in dirs:
        found = _first_file_under(fs, d)
        if found is not None:
            return found
    return None


def _read_with_footer(spark: SparkSession, paths) -> tuple[DataFrame, object]:
    """``spark.read.parquet(*paths)`` with the schema taken from the first
    data file's footer, read on the driver (a few py4j calls, no Spark job).
    Returns the DataFrame and that file's parquet ``MessageType``.

    Spark's inference (``mergeSchema`` off) also reads one footer: it
    assumes every file of a read shares one schema. The footer goes through
    the calls inference makes per file (``ParquetFooterReader.readFooter``
    with ``SKIP_ROW_GROUPS``, then ``ParquetFileFormat.readSchemaFromFooter``
    with a converter built from the session's SQL conf), so the schema,
    field metadata included, is the one inference returns; partition columns
    of ``k=v`` directories are still discovered by the reader. Paths may be
    globs, as in Spark. A read with no data file raises
    ``FileNotFoundError``, where inference would raise
    UNABLE_TO_INFER_SCHEMA; it never yields an empty frame."""

    def jclass(name: str):
        # getattr on the JVM view resolves a dotted class name in ONE py4j
        # round trip; walking it as attributes costs one per package segment
        return getattr(spark._jvm, name)

    session_state = spark._jsparkSession.sessionState()
    conf = session_state.newHadoopConf()

    def first_data_file():
        for p in paths:
            hp = jclass("org.apache.hadoop.fs.Path")(p)
            fs = hp.getFileSystem(conf)
            for status in fs.globStatus(hp) or []:
                found = _first_file_under(fs, status)
                if found is not None:
                    return found
        raise FileNotFoundError(f"no parquet data file to read a schema from under {list(paths)}")

    found = first_data_file()
    pq = "org.apache.spark.sql.execution.datasources.parquet."
    meta = jclass(pq + "ParquetFooterReader").readFooter(
        jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(found, conf),
        jclass("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
    )
    jschema = getattr(jclass(pq + "ParquetFileFormat$"), "MODULE$").readSchemaFromFooter(
        jclass("org.apache.parquet.hadoop.Footer")(found.getPath(), meta),
        jclass(pq + "ParquetToSparkSchemaConverter")(session_state.conf()),
    )
    schema = StructType.fromJson(json.loads(jschema.json()))
    df = spark.read.schema(schema).parquet(*paths)
    return df, meta.getFileMetaData().getSchema()


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """The package's one batch parquet read: ``spark.read.parquet(*paths)``
    without its schema-inference job (see ``_read_with_footer``)."""
    return _read_with_footer(spark, paths)[0]


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-local TimestampType.

    The testdata generator has shipped `ts` as parquet timestamp[ns] (round ≤3)
    and timestamp[us] without timezone (round 4+); Spark 4 surfaces the latter as
    TIMESTAMP_NTZ, which `unix_micros`, `withWatermark`, and interval joins all
    reject. The session timezone is pinned UTC (session.py), so this cast is a
    pure type relabel — wall-clock values are unchanged and window boundaries
    still match the DuckDB oracle's naive-timestamp arithmetic. Works on batch
    and streaming DataFrames alike; applied at the ingest boundary so every
    operator downstream sees one timestamp type regardless of source format.
    """
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


# Per-session cache of the LAZY table DataFrames (optimization r13, guide §4:
# shrink the Python↔JVM boundary). Every query construction re-ran the
# parquet read — the driver-side footer read and the reader's file listing,
# a dozen py4j exchanges per call, ~400 calls per bench run for plans that
# are identical each time.
# The cached object is an unexecuted plan over an IMMUTABLE fixture file —
# no data or results are memoized, every action still computes from parquet.
# WeakKeyDictionary: entries die with their session, and a key can never
# alias a different live session.
import weakref as _weakref

_TABLE_CACHE: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def _nanos_timestamp_cols(df: DataFrame, message) -> list[str]:
    """Top-level columns the footer's parquet schema ``message`` stores as
    TIMESTAMP(NANOS): Spark can only surface these as LongType
    (spark.sql.legacy.parquet.nanosAsLong); load_table converts back."""
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, LongType)
        and message.containsField(f.name)  # not a k=v partition column
        and str(message.getType(f.name).getLogicalTypeAnnotation()).startswith("TIMESTAMP(NANOS")
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch-load one synthetic table (one parquet file per table, TESTDATA.md).

    TIMESTAMP(NANOS) columns are truncated to microsecond TimestampType — the same
    truncation DuckDB applies — using integer division so 2^62-magnitude nanos
    don't round through a double. TIMESTAMP_NTZ columns (the round-4+ testdata
    format) are relabeled to TimestampType via normalize_timestamps. The schema
    and the NANOS columns come from one driver-side footer read
    (``_read_with_footer``): building the table runs no Spark job.
    """
    try:
        per_session = _TABLE_CACHE.setdefault(spark, {})
    except TypeError:  # unhashable session stand-in (tests) — no cache
        per_session = None
    key = (sf_dir, name)
    if per_session is not None and key in per_session:
        return per_session[key]
    df, message = _read_with_footer(spark, [f"{sf_dir}/{name}.parquet"])
    for c in _nanos_timestamp_cols(df, message):
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    df = normalize_timestamps(df)
    if per_session is not None:
        per_session[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register testdata tables as temp views for the SQL surface."""
    for name in tables or TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def parse_geojson(raw: DataFrame, json_col: str = "value", keep: tuple[str, ...] = ()) -> DataFrame:
    """Bytes/string GeoJSON → typed columns (reference S2,
    /root/reference/.../StreamJobSqlTumbling.java:52 JsonNodeDeserializationSchema).
    The ``keep`` columns of ``raw`` follow unchanged.

    Works identically on batch and streaming DataFrames.
    """
    return raw.select(
        F.from_json(F.col(json_col).cast("string"), GEOJSON_SCHEMA).alias("feature"), *keep
    ).select("feature.type", "feature.properties.*", *keep)


def kinesis_geojson_stream(
    spark: SparkSession,
    stream_name: str = "kda_geojson",
    region: str = "us-east-1",
    starting_position: str = "latest",
    connector_format: str = "aws-kinesis",
) -> DataFrame:
    """Production source (reference S1). Requires a Kinesis connector jar on the
    cluster — ``connector_format`` is "aws-kinesis" for the AWS-maintained
    spark-streaming-sql-kinesis connector or "kinesis" for the Qubole lineage;
    config keys mirror the reference's SourceConfigProperties
    (/root/reference/README.MD:113-116). No Kinesis endpoint exists locally,
    but the CONTRACT executes in CI: ``fake_kinesis.FakeKinesisDataSource``
    registers under the same format name, validates these exact option keys
    at load time, and drives this function end-to-end through a real
    micro-batch run (tests/test_kinesis_contract.py) — renaming an option
    here fails that test. The file-replay source below covers the downstream
    plan shapes at volume.

    Each record keeps its ``partitionKey`` and ``sequenceNumber``: together
    they identify the record, so a replayed micro-batch can be given the
    same ids it had the first time (``jobs.build_source``).
    """
    raw = (
        spark.readStream.format(connector_format)
        .option("kinesis.streamName", stream_name)
        .option("kinesis.region", region)
        .option("kinesis.startingPosition", starting_position)
        .load()
    )
    return parse_geojson(raw, "data", keep=("partitionKey", "sequenceNumber"))


def file_geojson_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """Local replay source: newline-delimited GeoJSON files → same typed columns."""
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )
    return parse_geojson(raw, "value")


def file_events_stream(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int = 1
) -> DataFrame:
    """Replay parquet fixture files as a stream (batch-as-oracle testing).

    NTZ timestamp columns are normalized to TimestampType so `withWatermark`
    accepts the event-time column whichever parquet flavor the fixture used.
    """
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )
    return normalize_timestamps(raw)
