#!/usr/bin/env python3
"""Amplified-FILE-COUNT rehearsal for the medallion control plane
(r11 verdict task 5): the per-query scale sweeps amplify ROWS, but
`run_pipeline`'s own costs — glob listing, the set difference against
the Silver commit's ingest record, Silver txlog commit, Gold rebuild — scale with the number of landed snapshot
FILES (the reference's accumulated-unread-files semantics,
`2-spark_processed_assats_list.py:37,76-87`). This tool measures them
at x1/x10/x100 file counts directly:

  bulk_ingest_sec  run_silver over ALL files fresh — one batch whose
                   new-file set is the whole landing (the backlog-drain
                   shape; also the worst-case txlog batch).
  incr_ingest_sec  +1 new file against a fully-recorded landing — the
                   steady-state per-batch overhead a poller pays: the
                   glob still lists EVERY file, the record difference
                   runs against the full history, the commit appends
                   one file's rows and the grown record.
  noop_sec         rerun with nothing new — the pure control-plane
                   floor (list + record + early-out).
  gold_sec         full Gold rebuild reading the whole Silver history.

Snapshots are synthesized 6h apart so the Silver dt-partition count
grows with the file count too (4 files/day), exercising partition
discovery alongside file listing. Prints one JSON line per level plus
a summary; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LEVELS = tuple(
    int(x)
    for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "1,10,100").split(",")
)
BASE_FILES = 4  # x1 = 4 snapshots (one day); x100 = 400 files / 100 days


def main() -> None:
    from project_crypto_data_engineering_gcp_spark.fixtures import snapshot_payload
    from project_crypto_data_engineering_gcp_spark.plans.runner import (
        run_gold,
        run_silver,
    )
    from project_crypto_data_engineering_gcp_spark.session import get_spark
    from project_crypto_data_engineering_gcp_spark.sources.json_source import (
        write_raw_snapshot,
    )

    spark = get_spark("pipeline_files_scale", shuffle_partitions=8)
    base_ts = 1748056129137

    # throwaway warmup run: JVM/codegen/parquet-footer startup otherwise
    # lands entirely in the first level's bulk row (~8 s one-time)
    warm = tempfile.mkdtemp(prefix="spark_graft_pfs_warm_")
    payload = snapshot_payload(0)
    payload["timestamp"] = base_ts
    write_raw_snapshot(payload, os.path.join(warm, "landing"))
    run_silver(
        spark, os.path.join(warm, "landing", "coincap_data_*.json"),
        os.path.join(warm, "out"),
    )
    run_gold(spark, os.path.join(warm, "out"))
    shutil.rmtree(warm, ignore_errors=True)

    out = {"base_files": BASE_FILES, "levels": {}}
    for lvl in LEVELS:
        n_files = BASE_FILES * lvl
        work = tempfile.mkdtemp(prefix=f"spark_graft_pfs_x{lvl}_")
        landing = os.path.join(work, "landing")
        sink = os.path.join(work, "out")
        payload = snapshot_payload(0)
        for i in range(n_files):
            payload["timestamp"] = base_ts + i * 6 * 3600 * 1000
            write_raw_snapshot(payload, landing)
        glob = os.path.join(landing, "coincap_data_*.json")

        t0 = time.perf_counter()
        n_bulk = run_silver(spark, glob, sink)
        bulk = time.perf_counter() - t0

        payload["timestamp"] = base_ts + n_files * 6 * 3600 * 1000
        write_raw_snapshot(payload, landing)
        t0 = time.perf_counter()
        n_incr = run_silver(spark, glob, sink)
        incr = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_noop = run_silver(spark, glob, sink)
        noop = time.perf_counter() - t0

        t0 = time.perf_counter()
        run_gold(spark, sink)
        gold = time.perf_counter() - t0

        assert n_bulk == n_files * 40 and n_incr == 40 and n_noop == 0, (
            n_bulk,
            n_incr,
            n_noop,
        )
        row = {
            "files": n_files + 1,
            "bulk_ingest_sec": round(bulk, 3),
            "incr_ingest_sec": round(incr, 3),
            "noop_sec": round(noop, 3),
            "gold_sec": round(gold, 3),
        }
        out["levels"][f"x{lvl}"] = row
        print(json.dumps({f"x{lvl}": row}), flush=True)
        shutil.rmtree(work, ignore_errors=True)
    base = out["levels"][f"x{LEVELS[0]}"]
    for lvl in LEVELS[1:]:
        row = out["levels"][f"x{lvl}"]
        for k in ("bulk_ingest_sec", "incr_ingest_sec", "noop_sec", "gold_sec"):
            row[f"r_{k}"] = round(row[k] / max(base[k], 1e-9), 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
