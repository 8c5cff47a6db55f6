"""CLI lifecycle test: ingest (fixture mode) -> run -> dashboard, via the
module entry point the way a reference user would drive it."""

from __future__ import annotations

import os

from project_crypto_data_engineering_gcp_spark.__main__ import main


def test_cli_ingest_run_dashboard(spark, tmp_path, capsys):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")

    assert main(["ingest", "--landing", landing, "--fixture"]) == 0
    assert "landed" in capsys.readouterr().out
    assert len(os.listdir(landing)) == 1

    # main() reuses the active test session (and must NOT stop it)
    assert main(["run", "--landing", landing, "--out", out]) == 0
    assert "dashboard rows: 40" in capsys.readouterr().out
    assert main(["dashboard", "--out", out, "-n", "5"]) == 0
    assert "SYM000" in capsys.readouterr().out
    assert spark.range(1).count() == 1  # session survived


def test_cli_stream_appends_once_then_leaves_gold_untouched(spark, tmp_path, capsys):
    """The poller's verb: the first call appends the landed rows and
    refreshes Gold; the second finds nothing new, appends 0 and does not
    touch Gold."""
    from project_crypto_data_engineering_gcp_spark.plans.runner import run_dashboard

    from .fixtures_crypto import N_ASSETS, SNAPSHOT_TS_MS, write_fixture_landing

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    write_fixture_landing(landing)
    assert main(["stream", "--landing", landing, "--out", out]) == 0
    rows = N_ASSETS * len(SNAPSHOT_TS_MS)
    assert f"silver rows appended: {rows}" in capsys.readouterr().out
    assert run_dashboard(spark, out).count() == N_ASSETS

    gold = os.path.join(out, "gold")

    def gold_files():
        return {
            os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for d, _, names in os.walk(gold)
            for f in names
        }

    before = gold_files()
    assert main(["stream", "--landing", landing, "--out", out]) == 0
    assert "silver rows appended: 0" in capsys.readouterr().out
    assert gold_files() == before
    assert run_dashboard(spark, out).count() == N_ASSETS


def test_cli_curate_and_compact(spark, tmp_path, capsys):
    from project_crypto_data_engineering_gcp_spark.__main__ import main

    from .conftest import SF_SMOKE

    out = str(tmp_path / "curated")
    assert main(["curate", "--sf-dir", SF_SMOKE, "--out", out]) == 0
    printed = capsys.readouterr().out
    assert "train_docs:" in printed and "raw:" in printed

    tbl = str(tmp_path / "tbl")
    spark.range(1000).repartition(10).write.parquet(tbl)
    assert main(["compact", "--path", tbl, "--sort-by", "id"]) == 0
    assert "compacted to 1 files" in capsys.readouterr().out
    assert spark.read.parquet(tbl).count() == 1000


def test_cli_dedup_stream(spark, tmp_path, capsys):
    """dedup-stream drains a landing dir and reports emitted pairs; a
    second invocation with the same checkpoint is a no-op (exactly-once
    source progress)."""
    from pyspark.sql import functions as F

    from project_crypto_data_engineering_gcp_spark.__main__ import main
    from project_crypto_data_engineering_gcp_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(2):
        docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.parquet(
            str(landing / f"chunk_{i}.parquet")
        )
    state = str(tmp_path / "state")
    rc = main(
        ["dedup-stream", "--landing", str(landing) + "/*/", "--state", state]
    )
    assert rc == 0
    out1 = capsys.readouterr().out
    assert "duplicate pairs emitted:" in out1
    n1 = spark.read.parquet(state + "/pairs").count()
    assert n1 > 0
    # re-run: checkpoint already consumed every file -> nothing new
    rc = main(
        ["dedup-stream", "--landing", str(landing) + "/*/", "--state", state]
    )
    assert rc == 0
    assert "duplicate pairs emitted: 0" in capsys.readouterr().out
    assert spark.read.parquet(state + "/pairs").count() == n1


def test_cli_tx_compact_and_vacuum(spark, tmp_path, capsys):
    """`compact --tx` runs the OPTIMIZE-style txlog rewrite + optional
    vacuum through the CLI — the maintenance loop a deployment would
    cron against the pipeline's history tables."""
    from project_crypto_data_engineering_gcp_spark.sources import tx_table as tx

    t = str(tmp_path / "txtbl")
    for lo in (0, 5, 10):
        tx.commit(spark.range(lo, lo + 5), t, "append")
    assert (
        main(
            [
                "compact", "--path", t, "--tx", "--vacuum-keep", "1",
                # retention 0: the test's versions are seconds old and the
                # point is that they CAN be reclaimed when no writer is live
                "--vacuum-retention-hours", "0",
            ]
        )
        == 0
    )
    printed = capsys.readouterr().out
    assert "compacted to version 3" in printed and "vacuumed" in printed
    assert tx.read(spark, t).count() == 15
    # pre-compact versions are vacuumed away; the compacted one remains
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        tx.read(spark, t, version=0)


def test_cli_build_lsh_index(spark, capsys):
    """The bootstrap split: build-lsh-index persists the band index and
    the serving query then reuses it via the shared memo (no second
    build — the returned path is identical)."""
    import os

    from project_crypto_data_engineering_gcp_spark.plans.queries_dedup import (
        _MINHASH_INDEX_MEMO,
        build_minhash_band_index,
    )

    from .conftest import SF_SMOKE

    _MINHASH_INDEX_MEMO.clear()
    assert main(["build-lsh-index", "--sf-dir", SF_SMOKE]) == 0
    printed = capsys.readouterr().out
    assert "band index at " in printed
    path = printed.split("band index at ", 1)[1].strip()
    assert os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )
    # serving reuses: same memoized path, no rebuild
    assert build_minhash_band_index(spark, SF_SMOKE) == path
