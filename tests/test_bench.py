"""``bench.time_row``, the timer behind every row of ``bench.py``: its job
counts per phase, and phase times that add up to the row's recorded total."""

from __future__ import annotations

import pytest
from conftest import SF_DIR

import bench
from kda_flink_demo_spark import registry


@pytest.mark.parametrize(
    "name, construct_jobs, jobs",
    [
        ("filter_predicates", 0, 1),  # a lazy projection: one job, in the write
        ("editdist_ingest_index_build", 3, 2),  # eager checkpoints while building
    ],
)
def test_time_row_counts_jobs_per_phase(spark, name, construct_jobs, jobs):
    total, row = bench.time_row(spark, registry.queries()[name], SF_DIR, name)
    assert (row["construct_jobs"], row["jobs"]) == (construct_jobs, jobs)
    assert row["construct_s"] + row["execute_s"] == pytest.approx(total, abs=1e-9)
    assert spark.sparkContext.getLocalProperty(bench.ROW_TAG) is None
