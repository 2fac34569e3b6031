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

import pytest

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
