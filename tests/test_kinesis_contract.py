"""S1 Kinesis source contract test (r11 verdict directive 5).

No Kinesis endpoint is reachable in the sandbox, so the real connector can
never execute here — but the CONTRACT ``kinesis_geojson_stream`` builds
(format name + option keys + the record schema it consumes downstream) can:
``io.fake_kinesis.FakeKinesisDataSource`` registers under the same
``aws-kinesis`` format, receives exactly the options the production reader
emits, validates the pinned option names at load() time, and serves
Kinesis-shaped records through a real micro-batch run — so the whole path
readStream.format("aws-kinesis") → ``parse_geojson`` → typed columns
executes end-to-end. If someone renames an option in ``io/sources.py`` (or
the pinned set drifts from the connector contract — cf. the reference's
SourceConfigProperties, /root/reference/.../StreamJobSqlTumbling.java:44-53),
the load fails and this test fails.
"""

import argparse

import pytest
from pyspark.sql import functions as F

from kda_flink_demo_spark import jobs
from kda_flink_demo_spark.io import sources
from kda_flink_demo_spark.io.fake_kinesis import (
    N_FAKE_RECORDS,
    FakeKinesisDataSource,
    fake_feature,
)


def test_kinesis_reader_contract_end_to_end(spark, tmp_path):
    spark.dataSource.register(FakeKinesisDataSource)
    parsed = sources.kinesis_geojson_stream(spark)  # production defaults
    q = (  # by hand: this pins the Kinesis reader contract, not a file replay
        parsed.writeStream.format("memory")
        .queryName("fake_kinesis_sink")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "fake-kinesis drain timed out"
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM fake_kinesis_sink ORDER BY ID").collect()
    assert len(rows) == N_FAKE_RECORDS
    # parse_geojson flattened feature.type + feature.properties.* — the same
    # downstream shape the file-replay twin produces; every cell must match
    # the closed-form record the fake generated
    for i, r in enumerate(rows):
        props = fake_feature(i)["properties"]
        assert r["type"] == "Feature"
        assert {k: r[k] for k in props} == props
    assert rows[0]["N02_003"] == "中央線"  # multibyte UTF-8 through binary data


def test_kinesis_reader_option_rename_fails_at_load(spark):
    spark.dataSource.register(FakeKinesisDataSource)
    with pytest.raises(Exception, match="missing required kinesis options"):
        # a reader that drops/renames kinesis.region must fail the contract
        (
            spark.readStream.format("aws-kinesis")
            .option("kinesis.streamName", "kda_geojson")
            .option("kinesis.startingPosition", "latest")
            .load()
        )


def test_kinesis_event_ids_are_stable_across_replays(spark, tmp_path):
    """``jobs.build_source`` derives ``event_id`` from the record's identity,
    so replaying the same records, here twice from scratch, gives every
    record the same id; the sinks keyed on ``event_id`` then overwrite on a
    replay instead of inserting the rows again."""
    spark.dataSource.register(FakeKinesisDataSource)
    args = argparse.Namespace(
        source="kinesis",
        stream_name="kda_geojson",
        region="us-east-1",
        starting_position="latest",
    )

    def replay(run: int) -> dict:
        events = jobs.build_source(spark, args)
        assert events.columns == [f.name for f in jobs.REPLAY_SCHEMA.fields]
        name = f"fake_kinesis_ids_{run}"
        q = (  # by hand, like the contract test above
            events.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ck{run}"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120), "fake-kinesis drain timed out"
        finally:
            q.stop()
        return {r.event_id: r.railway_class for r in spark.table(name).collect()}

    first, second = replay(0), replay(1)
    assert len(first) == N_FAKE_RECORDS  # no two records share an id
    assert first == second
    # the id is the record's own hash, whatever batch or partition carries it
    want = spark.createDataFrame(
        [(f"pk_{i}", str(10**12 + i)) for i in range(N_FAKE_RECORDS)],
        "partitionKey string, sequenceNumber string",
    ).repartition(3).select(F.xxhash64("partitionKey", "sequenceNumber").alias("h"))
    assert set(first) == {r.h for r in want.collect()}
