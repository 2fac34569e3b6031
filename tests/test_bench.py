"""``bench.py``: ``time_row``, the timer behind every row (its job counts
per phase, and phase times that add up to the row's recorded total); and the
outlier re-run's anchor, which only a run on the same core count provides."""

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


def test_outlier_anchor_is_the_record_for_the_same_cpu_count(tmp_path):
    (tmp_path / "bench_full_c8.json").write_text('{"calib_sec": 0.705}')
    assert bench.prior_anchor(str(tmp_path), "4") is None  # no 4-cpu record yet
    (tmp_path / "bench_full_c4.json").write_text('{"calib_sec": 1.3}')
    assert bench.prior_anchor(str(tmp_path), "4") == {"calib_sec": 1.3}
    assert bench.prior_anchor(str(tmp_path), "8") == {"calib_sec": 0.705}
