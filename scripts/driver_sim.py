"""Local replica of the grading driver's correctness pass: run every
``queries()`` entry against its ``oracle_sql()`` via DuckDB under a
deliberately hostile SparkSession (non-UTC timezone, driver-style conf).

Run: python scripts/driver_sim.py [sf_dir]   (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # built as the external driver builds it: no Python-worker start-up hook
    # until the registry's apply_engine_conf hands it to the workers
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from tests.oracle import compare_to_oracle, duck_connect

    print("entry rows:", len(E.entry(spark).collect()))
    con = duck_connect(sf_dir)
    qs, oracles = E.queries(), E.oracle_sql()
    oks, rows_only, fails = 0, 0, []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            if name in oracles:
                compare_to_oracle(fn(spark, sf_dir), con, oracles[name])
                oks += 1
                status = "OK  "
            else:
                assert fn(spark, sf_dir).count() >= 0
                rows_only += 1
                status = "ROWS"
            print(f"{status} {name} ({time.time() - t0:.1f}s)", flush=True)
        except Exception as e:  # noqa: BLE001
            fails.append(name)
            print(f"FAIL {name}: {str(e)[:200]}", flush=True)
    print(f"SUMMARY total={len(qs)} oracle-ok={oks} rows-only={rows_only} fails={fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
