"""Staged media corpora (synth_media.staged).

Encoding the fixtures dominated the media gate/report rows in the bench;
production reads media bytes from the lake, so the registry rows read a
once-per-session parquet staging of each synthetic corpus. These tests pin
the two properties that make that safe:

1. BIT-IDENTITY: the staged payloads equal an inline ``synth_*`` call's
   payloads exactly (binary columns round-trip parquet exactly; the ahash
   VALUES oracles re-check this externally on every driver run).
2. SESSION CACHING + PARALLELISM: the second ``staged`` call returns the
   cached artifact without re-synthesizing, and the scan is re-spread so the
   decode kernels downstream don't serialize on a bin-packed 1-partition
   parquet read.
"""

import pytest

from kda_flink_demo_spark.io.sources import load_table
from kda_flink_demo_spark.operators.llm import synth_media
from tests.conftest import SF_DIR


@pytest.mark.parametrize("kind,inline", [
    ("images", synth_media.synth_images),
    ("wavs", synth_media.synth_wavs),
    ("pattern_videos", synth_media.synth_pattern_videos),
    ("jpegs", synth_media.synth_jpegs),
])
def test_staged_payloads_bit_identical_to_inline_synth(spark, kind, inline):
    docs = load_table(spark, SF_DIR, "documents")
    want = {int(r["doc_id"]): bytes(r["payload"]) for r in inline(docs).collect()}
    got = {
        int(r["doc_id"]): bytes(r["payload"])
        for r in synth_media.staged(spark, SF_DIR, kind).collect()
    }
    assert got == want


def test_staged_is_cached_per_session_and_spread(spark):
    a = synth_media.staged(spark, SF_DIR, "images")
    b = synth_media.staged(spark, SF_DIR, "images")
    assert a is b, "second call must return the session-cached artifact"
    para = spark.sparkContext.defaultParallelism
    assert a.rdd.getNumPartitions() >= min(para, 8), (
        "staged scan must be spread for the CPU-bound decode kernels"
    )


def test_staged_filter_matches_inline_subset(spark):
    """The gate rows filter the staged full corpus by doc_id instead of
    synthesizing the subset — same rows, byte for byte."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents")
    want = {
        int(r["doc_id"]): bytes(r["payload"])
        for r in synth_media.synth_wavs(
            docs.filter(F.col("doc_id") % 3 == 1)
        ).collect()
    }
    got = {
        int(r["doc_id"]): bytes(r["payload"])
        for r in synth_media.staged(spark, SF_DIR, "wavs")
        .filter(F.col("doc_id") % 3 == 1)
        .collect()
    }
    assert got == want
