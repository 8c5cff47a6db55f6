#!/usr/bin/env python3
"""Complete pre-driver rehearsal: every registered query vs its DuckDB
oracle under the DRIVER's conditions — a PLAIN default SparkSession (no
engine conf: default 200 shuffle partitions, no AQE overrides, no
timezone pin beyond Spark defaults) — using the same bit-exact
row/schema/value comparison as the in-repo harness.

Run it from a FOREIGN cwd to also prove Python-worker closures don't
need the repo on PYTHONPATH (mapInPandas closures referencing
module-level helpers break exactly there):

    cd /tmp && python3 /path/to/repo/tools/driver_rehearsal.py

Prints one line per failure and a final summary; exit code 1 on any
mismatch. ~12 min at the default sf0.01 on 4 vCPU (253 queries in
744 s).
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master(
        os.environ.get("SPARK_GRAFT_REHEARSAL_MASTER", "local[8]")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from tests.oracle_harness import assert_frames_match, run_duckdb

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    n_entry = entrymod.entry(spark).count()
    print(f"entry: {n_entry} rows")

    fails: list[tuple[str, str]] = []
    t0 = time.time()
    for name in sorted(qs):
        try:
            assert_frames_match(qs[name](spark, sf_dir), run_duckdb(osql[name], sf_dir), name)
        except Exception as ex:  # noqa: BLE001 — report and continue
            fails.append((name, str(ex)[:300]))
            print(f"FAIL {name}: {fails[-1][1]}")
    print(
        f"checked {len(qs)} queries at {sf_dir}: "
        f"{len(qs) - len(fails)} ok, {len(fails)} failed, "
        f"{round(time.time() - t0, 1)} s"
    )
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
