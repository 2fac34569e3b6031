"""The reference-native path end-to-end IN STREAMING MODE: newline-delimited
GeoJSON text files (the reference's Kinesis payload shape, send.py:8-22) →
from_json parse → projection with ts fallback → watermark → tumbling count →
checkpointed idempotent upsert — the complete StreamJobSqlTumbling pipeline on
the replay source."""

from __future__ import annotations

import json

from kda_flink_demo_spark.io.sources import file_geojson_stream
from kda_flink_demo_spark.operators.projections import project_railway_events
from kda_flink_demo_spark.streaming import jobs
from kda_flink_demo_spark.streaming.upsert import DuckDBUpsertSink


def _record(cls: str, received_on: str, ident: str) -> str:
    return json.dumps(
        {
            "type": "Feature",
            "properties": {
                "RECEIVED_ON": received_on,
                "N02_001": cls,
                "N02_002": "1",
                "N02_003": "東海道新幹線",
                "N02_004": "東海旅客鉄道",
                "ID": ident,
                "COUNT": 12,
            },
        },
        ensure_ascii=False,
    )


def test_geojson_streaming_flagship(spark, tmp_path):
    src = tmp_path / "geojson"
    src.mkdir()
    # two chunks, in event-time order; one malformed timestamp exercises fallback
    chunk0 = [
        _record("11", "2020-09-14T09:20:05.100", "1_1"),
        _record("11", "2020-09-14T09:20:45.200", "1_2"),
        _record("12", "2020-09-14T09:20:50.300", "2_1"),
    ]
    chunk1 = [
        _record("11", "2020-09-14T09:21:10.400", "1_3"),
        _record("12", "garbage-timestamp", "2_2"),  # falls back (wall-clock now)
        _record("12", "2020-09-14T09:22:30.500", "2_3"),
    ]
    (src / "a.json").write_text("\n".join(chunk0), encoding="utf-8")
    (src / "b.json").write_text("\n".join(chunk1), encoding="utf-8")

    parsed = file_geojson_stream(spark, str(src))
    events = project_railway_events(parsed)
    result = jobs.job_tumbling(events)

    sink = DuckDBUpsertSink(
        str(tmp_path / "geo.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    q = jobs.run_to_sink(result, sink, str(tmp_path / "geo_ckpt"))
    q.awaitTermination(120)

    cols, got = sink.read_all()
    counts = {
        (r[cols.index("railway_class")], r[cols.index("window_start")].minute): r[
            cols.index("railway_class_count")
        ]
        for r in got
        if r[cols.index("window_start")].year == 2020  # exclude the fallback-now window
    }
    # 09:20 window: two '11' + one '12'; 09:21: one '11'; 09:22 trails (may not emit)
    assert counts[("11", 20)] == 2
    assert counts[("12", 20)] == 1
    assert counts[("11", 21)] == 1
