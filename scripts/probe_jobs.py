"""Construction/execution/job-count probe for named registry queries (r14).

For each named query: construction wall (the registry callable, which runs
eager localCheckpoints), execution wall (noop sink), and the Spark JOB COUNT
consumed by construction+execution — the load-independent evidence form for
structural claims (SCALE.md r13 protocol: job counts don't drift with host
throttle). min-of-N walls, job count from the LAST rep (reps are identical).

Usage: python scripts/probe_jobs.py name1,name2,... [sf_dir] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    from bench import run_calibration

    from kda_flink_demo_spark import registry
    from kda_flink_demo_spark.session import get_spark

    spark = get_spark("kda-spark-probe-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    calib_start = run_calibration(spark)
    run_calibration(spark)  # discard first warm sample

    def job_id() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    qs = {**registry.helpers(), **registry.queries()}
    out: dict[str, dict] = {}
    for name in names:
        q = qs[name]
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warmup
        best_c = best_e = None
        jobs = None
        for _ in range(reps):
            j0 = job_id()
            t0 = time.time()
            df = q(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            jobs = job_id() - j0
            best_c = min(t1 - t0, best_c) if best_c is not None else t1 - t0
            best_e = min(t2 - t1, best_e) if best_e is not None else t2 - t1
        out[name] = {
            "construct": round(best_c, 3),
            "execute": round(best_e, 3),
            "jobs": jobs,
        }
    calib_end = run_calibration(spark)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "calib_start_cold": calib_start,
                "calib_end_warm": calib_end,
                "probes": out,
            }
        )
    )


if __name__ == "__main__":
    main()
