"""Crash fuzzing of the Silver ingest's exactly-once record.

``run_silver`` appends a batch's rows and the grown ingest record in ONE
commit pinned to the Silver version the record was read from, and writes
nothing after it. Each seed derives a crash SCHEDULE over the hourly
cycles: ``pre`` kills a cycle before its Silver commit (the restart must
ingest that batch — once), ``post`` kills it right after the commit
returns (the restart must not ingest any of it again). Every schedule
holds at least one of each. A new snapshot lands before every restart,
so a restart's batch differs from the crashed one — the sequence the
old separate ledger duplicated rows on. After a final clean drain,
Silver must be bit-identical to an uninterrupted run, hold every row
exactly once, and record every landed file."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from project_crypto_data_engineering_gcp_spark.plans import runner
from project_crypto_data_engineering_gcp_spark.sources import tx_table
from project_crypto_data_engineering_gcp_spark.sources.hadoop_fs import glob_files
from project_crypto_data_engineering_gcp_spark.sources.json_source import (
    write_raw_snapshot,
)
from project_crypto_data_engineering_gcp_spark.sources.ledger import recorded_files

from .fixtures_crypto import N_ASSETS, SNAPSHOT_TS_MS, snapshot_payload

PROCESSED_AT = "2026-01-01 00:00:00"
N_SNAPSHOTS = 6  # one landing per cycle

# out-of-suite seed extension: SPARK_GRAFT_TXN_FUZZ_SEEDS=5,6,7 runs
# extra schedules without editing the file (suite default stays 4)
_EXTRA_SEEDS = [
    int(s)
    for s in os.environ.get("SPARK_GRAFT_TXN_FUZZ_SEEDS", "").split(",")
    if s.strip()
]


class InjectedCrash(RuntimeError):
    pass


def _land(landing: str, k: int) -> None:
    payload = snapshot_payload(k % len(SNAPSHOT_TS_MS))
    payload["timestamp"] = SNAPSHOT_TS_MS[0] + k * 3_600_000
    write_raw_snapshot(payload, landing)


@pytest.mark.parametrize("seed", [1, 2, 3, 4, *_EXTRA_SEEDS])
def test_run_silver_crash_replay_exactly_once(spark, tmp_path, monkeypatch, seed):
    rng = random.Random(seed)
    schedule = [rng.choice((None, "pre", "post")) for _ in range(N_SNAPSHOTS)]
    i, j = rng.sample(range(N_SNAPSHOTS), 2)
    for mode, pos in (("pre", i), ("post", j)):
        if mode not in schedule:
            schedule[pos] = mode

    armed: list[str | None] = [None]
    fired: list[str] = []
    real_write = runner.write_history

    def chaotic_write_history(df, path, **kw):
        mode, armed[0] = armed[0], None
        if mode == "pre":
            fired.append(mode)
            raise InjectedCrash("injected pre-commit crash")
        real_write(df, path, **kw)
        if mode == "post":
            fired.append(mode)
            raise InjectedCrash("injected post-commit crash")

    monkeypatch.setattr(runner, "write_history", chaotic_write_history)

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    for k in range(N_SNAPSHOTS):
        _land(landing, k)  # lands before the restart of a crashed cycle too
        armed[0] = schedule[k]
        try:
            runner.run_silver(spark, glob, out, processed_at=PROCESSED_AT)
        except InjectedCrash:
            pass
    runner.run_silver(spark, glob, out, processed_at=PROCESSED_AT)  # clean drain
    assert fired == [m for m in schedule if m], f"schedule {schedule} not consumed"
    assert runner.run_silver(spark, glob, out, processed_at=PROCESSED_AT) == 0

    # uninterrupted reference run over the same landings
    monkeypatch.setattr(runner, "write_history", real_write)
    ref_out = str(tmp_path / "ref_out")
    runner.run_silver(spark, glob, ref_out, processed_at=PROCESSED_AT)

    def canon(out_dir):
        df = runner.read_silver(spark, out_dir)
        return df.withColumn("tokens", F.to_json("tokens"))

    got, ref = canon(out), canon(ref_out)
    assert got.count() == ref.count() == N_ASSETS * N_SNAPSHOTS
    assert got.select("id", "data_referencia").distinct().count() == got.count()
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0

    snap = tx_table.snapshot(runner.silver_path(out))
    assert recorded_files(snap.metadata) == set(glob_files(spark, glob))
