"""UDF registration surface (SURVEY §2.10): the reference's only UDF is a
commented-out scalar TimestampToString (StreamJobSingle.java:144-145). We expose
the full Spark surface — spark.udf.register for SQL, pandas_udf for vectorized —
while keeping hot paths builtin-only (asserted in test_plan_shapes)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def test_register_scalar_udf_for_sql(spark):
    spark.udf.register("timestamp_to_string", lambda ts: ts.strftime("%Y-%m-%d %H:%M:%S"))
    spark.createDataFrame([("2020-09-14 09:20:22",)], ["s"]).select(
        F.col("s").cast("timestamp").alias("ts")
    ).createOrReplaceTempView("one_ts")
    row = spark.sql("SELECT timestamp_to_string(ts) AS iso FROM one_ts").first()
    assert row.iso == "2020-09-14 09:20:22"


def test_pandas_scalar_udf(spark):
    @pandas_udf("double")
    def celsius_to_f(c: pd.Series) -> pd.Series:
        return c * 9.0 / 5.0 + 32.0

    df = spark.range(3).select((F.col("id") * 10).cast("double").alias("c"))
    out = [r.f for r in df.select(celsius_to_f("c").alias("f")).collect()]
    assert out == [32.0, 50.0, 68.0]


def test_rate_source_streaming_smoke(spark, tmp_path):
    """Processing-time streaming source (no event files needed): rate source →
    projection → memory sink. Exercises the stream machinery end-to-end."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
        .select(F.col("timestamp").alias("rowtime"), (F.col("value") % 5).cast("string").alias("railway_class"))
    )
    q = (  # by hand: a live rate source in complete mode; run_to_sink is append-only
        stream.groupBy("railway_class")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("rate_smoke")
        .start()
    )
    try:
        import time

        # BOUNDED wait on driver-side progress only — processAllAvailable
        # never returns on a live rate source if a micro-batch stalls (one
        # full-suite run hung 30+ min in exactly that state), and polling the
        # memory table races the running stream. lastProgress is a local
        # dict: no job, no block.
        deadline = time.time() + 60
        while time.time() < deadline:
            p = q.lastProgress
            if p and p.get("sink", {}).get("numOutputRows", 0) > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()  # stop FIRST: the count below must not race the stream
    assert spark.sql("SELECT count(*) FROM rate_smoke").first()[0] > 0
