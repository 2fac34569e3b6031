"""kda_flink_demo_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of komushi/kda-flink-demo (a Flink-on-KDA streaming
windowed-aggregation demo), re-expressed Spark-first.

Layout
------
- ``session``     SparkSession factory with scale-oriented defaults (AQE, Arrow, UTC).
- ``schemas``     GeoJSON input schema (reference parity) + testdata schemas.
- ``io``          batch/stream sources and batch parquet sinks.
- ``operators``   batch operators: projections, windows, over-windows, aggregates,
                  relational breadth (joins/sorts/sets), and ``operators.llm`` —
                  large-scale training-data pipeline ops (dedup, similarity search,
                  text analysis, multimodal columns).
- ``streaming``   Structured Streaming jobs mirroring the reference's six Flink jobs,
                  the checkpoint-coordinated upsert sink, and the custom stateful
                  sliding over-range operator.
- ``jobs``        job registry replicating the reference's Starter dispatch intent
                  (/root/reference Starter.java:31-42) without its fall-through bug.
"""

__version__ = "0.1.0"
