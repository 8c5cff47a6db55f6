"""ACID properties of the transactional manifest table (sources/tx_table)
— the local-FS stand-in for the environment-blocked Delta sink (S5;
reference 2-spark_processed_assats_list.py:65)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from project_crypto_data_engineering_gcp_spark.sources import tx_table as tx

from .conftest import dir_tree


def _ids(df) -> list[int]:
    return sorted(r[0] for r in df.select("id").collect())


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s0 = tx.commit(spark.range(0, 3), t, "append")
    assert s0.version == 0
    s1 = tx.commit(spark.range(3, 5), t, "append")
    assert s1.version == 1
    assert _ids(tx.read(spark, t)) == [0, 1, 2, 3, 4]
    s2 = tx.commit(spark.range(10, 12), t, "overwrite")
    assert _ids(tx.read(spark, t)) == [10, 11]
    # time travel: every prior snapshot still reads exactly as committed
    assert _ids(tx.read(spark, t, version=0)) == [0, 1, 2]
    assert _ids(tx.read(spark, t, version=1)) == [0, 1, 2, 3, 4]
    assert tx.snapshot(t).version == s2.version == 2


def test_uncommitted_write_is_invisible(spark, tmp_path):
    """Atomicity: data staged without a manifest (a crashed writer) must
    never surface in reads."""
    t = str(tmp_path / "tbl")
    tx.commit(spark.range(0, 3), t, "append")
    orphan = os.path.join(t, "data", "v99999999-0")
    spark.range(100, 105).write.parquet(orphan)
    assert _ids(tx.read(spark, t)) == [0, 1, 2]
    assert tx.snapshot(t).version == 0


def test_commit_conflict_retries_to_next_version(spark, tmp_path):
    """Optimistic concurrency: if another writer claims version N
    between our snapshot and our commit, the commit retries at N+1 and
    the APPEND composes over the winner's rows."""
    t = str(tmp_path / "tbl")
    tx.commit(spark.range(0, 2), t, "append")

    real_link = os.link
    raced = {"done": False}

    def race_once(src, dst):
        if not raced["done"]:
            raced["done"] = True
            # a concurrent writer wins version 1 first
            winner = tx.commit(spark.range(50, 52), t, "append")
            assert winner.version == 1
        return real_link(src, dst)

    os.link = race_once
    try:
        snap = tx.commit(spark.range(2, 4), t, "append")
    finally:
        os.link = real_link
    # the raced attempt's rename hit FileExistsError and retried
    assert snap.version == 2
    assert _ids(tx.read(spark, t)) == [0, 1, 2, 3, 50, 51]


def test_exactly_one_winner_per_version(spark, tmp_path):
    """The commit point (hard-link-if-absent) admits exactly one
    manifest per version even when a second one is attempted directly."""
    t = str(tmp_path / "tbl")
    tx.commit(spark.range(0, 2), t, "append")
    target = os.path.join(t, "_txlog", "00000000.json")
    with pytest.raises(FileExistsError):
        with open(os.path.join(t, "_txlog", ".tmp-x"), "w") as fh:
            json.dump({"version": 0, "mode": "append", "files": []}, fh)
        os.link(os.path.join(t, "_txlog", ".tmp-x"), target)


def test_vacuum_reclaims_unreferenced_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    tx.commit(spark.range(0, 2), t, "append")
    tx.commit(spark.range(2, 4), t, "append")
    tx.commit(spark.range(9, 11), t, "overwrite")
    tx.commit(spark.range(11, 13), t, "append")
    deleted = tx.vacuum(t, keep_last=2, retention_seconds=0)
    # versions 0/1's files are gone, their manifests dropped
    assert deleted, "expected v0/v1 parquet files to be reclaimed"
    with pytest.raises(FileNotFoundError):
        tx.read(spark, t, version=0)
    # the kept snapshots still read exactly
    assert _ids(tx.read(spark, t, version=2)) == [9, 10]
    assert _ids(tx.read(spark, t)) == [9, 10, 11, 12]


def test_silver_history_roundtrip(spark, tmp_path):
    """The S5 shape end-to-end: two incremental Silver appends as two
    versions; the latest snapshot is the union, the first is replayable
    — the reference's Delta history semantics on the crypto rows."""
    from project_crypto_data_engineering_gcp_spark.fixtures import (
        write_fixture_landing,
    )
    from project_crypto_data_engineering_gcp_spark.plans.crypto_pipeline import (
        bronze_to_silver,
    )
    from project_crypto_data_engineering_gcp_spark.sources.json_source import (
        read_raw_json,
    )

    landing = tmp_path / "landing"
    write_fixture_landing(str(landing))
    raw = read_raw_json(spark, f"{landing}/coincap_data_*.json")
    silver = bronze_to_silver(raw, processed_at="2024-01-01T00:00:00")
    t = str(tmp_path / "silver_assets")
    s0 = tx.commit(silver, t, "append")
    s1 = tx.commit(silver, t, "append")
    n = silver.count()
    assert tx.read(spark, t, version=s0.version).count() == n
    assert tx.read(spark, t, version=s1.version).count() == 2 * n


def test_model_based_history(spark, tmp_path):
    """Model-based check: a deterministic pseudo-random sequence of
    append/overwrite commits must leave EVERY version's snapshot equal
    to an in-memory model of the history — the cumulative-correctness
    property that single-op tests can miss (e.g. an append that bases
    itself on the wrong prior snapshot)."""
    import random

    rng = random.Random(20260814)
    t = str(tmp_path / "tbl")
    model: list[list[int]] = []  # model[v] = expected ids at version v
    nxt = 0
    for _ in range(8):
        k = rng.randint(1, 4)
        ids = list(range(nxt, nxt + k))
        nxt += k
        mode = rng.choice(["append", "overwrite"])
        snap = tx.commit(spark.range(ids[0], ids[-1] + 1), t, mode)
        prev = model[-1] if (model and mode == "append") else []
        model.append([*prev, *ids])
        assert snap.version == len(model) - 1
    for v, expected in enumerate(model):
        assert _ids(tx.read(spark, t, version=v)) == sorted(expected), v


def test_partitioned_commit_prunes_and_time_travels(spark, tmp_path):
    """Partitioned txlog table: hive-style key=value staging layout is
    recovered as a partition column at read, a filter on it reaches the
    scan as a PartitionFilter (the scale contract Delta gives
    partitioned tables), and partition_by is pinned per table."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "2025-05-24"), (2, "2025-05-24"), (3, "2025-05-25")],
        "id int, dt string",
    )
    tx.commit(df, t, "append", partition_by=["dt"])
    tx.commit(
        spark.createDataFrame([(4, "2025-05-26")], "id int, dt string"),
        t,
        "append",
        partition_by=["dt"],
    )
    back = tx.read(spark, t)
    assert set(back.columns) == {"id", "dt"}
    assert _ids(back) == [1, 2, 3, 4]
    assert _ids(tx.read(spark, t, version=0)) == [1, 2, 3]

    plan = (
        back.filter("dt = '2025-05-24'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "dt" in plan.split("PartitionFilters", 1)[1][:200]

    with pytest.raises(ValueError, match="partition_by mismatch"):
        tx.commit(spark.range(5), t, "append")


def test_merge_schema_read_across_commits(spark, tmp_path):
    """Reference S7 semantics on the txlog stand-in: a later append may
    carry a new column; merge_schema read surfaces the union schema with
    NULL for pre-evolution rows."""
    t = str(tmp_path / "tbl")
    tx.commit(spark.createDataFrame([(1, "a")], "id int, v string"), t, "append")
    tx.commit(
        spark.createDataFrame([(2, "b", 9.5)], "id int, v string, extra double"),
        t,
        "append",
    )
    merged = tx.read(spark, t, merge_schema=True)
    assert "extra" in merged.columns
    rows = {r["id"]: r["extra"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}


def test_compact_collapses_stage_groups(spark, tmp_path):
    """compact() (Delta's OPTIMIZE) rewrites the live snapshot into one
    staging group; contents unchanged, pre-compact versions still
    time-travel until vacuumed."""
    t = str(tmp_path / "tbl")
    for lo in range(0, 6, 2):
        tx.commit(
            spark.createDataFrame(
                [(i, f"2025-05-{24 + i % 2:02d}") for i in range(lo, lo + 2)],
                "id int, dt string",
            ),
            t,
            "append",
            partition_by=["dt"],
        )
    before = tx.snapshot(t)
    snap = tx.compact(spark, t)
    assert snap.mode == "overwrite" and snap.partition_by == ("dt",)
    stages = {tx._stage_of(t, f) for f in snap.files}
    assert len(stages) == 1 < len({tx._stage_of(t, f) for f in before.files})
    assert _ids(tx.read(spark, t)) == list(range(6))
    assert _ids(tx.read(spark, t, version=before.version)) == list(range(6))


def test_pipeline_e2e_on_txlog_version_as_of(spark, tmp_path):
    """R6 verdict task 2, the acceptance test: the crypto pipeline runs
    end-to-end with the txlog manifest table as its gated ACID sink —
    each ingest batch is one atomic Silver version, Silver reads
    VERSION AS OF (time travel), and Gold history appends land in the
    commit log while the serving copies stay plain overwrite parquet
    (reference 2-spark_processed_assats_list.py:65,
    3-spark_curated_analytics_full.py:86-90)."""
    from project_crypto_data_engineering_gcp_spark.fixtures import (
        N_ASSETS,
        write_fixture_landing,
    )
    from project_crypto_data_engineering_gcp_spark.plans.runner import (
        read_gold_history,
        read_silver,
        run_gold,
        run_silver,
        silver_path,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")

    # batch 1: two snapshot files -> Silver version 0
    write_fixture_landing(landing, n_snapshots=2)
    assert run_silver(spark, f"{landing}/coincap_data_*.json", out) == 2 * N_ASSETS
    # batch 2: one NEW file (replay-stable names; the record skips the rest)
    write_fixture_landing(landing, n_snapshots=3)
    assert run_silver(spark, f"{landing}/coincap_data_*.json", out) == N_ASSETS

    assert tx.snapshot(silver_path(out)).version == 1
    assert read_silver(spark, out).count() == 3 * N_ASSETS
    assert read_silver(spark, out, version=0).count() == 2 * N_ASSETS  # VERSION AS OF

    # gold: two runs -> history has 2 versions, serving stays overwrite
    run_gold(spark, out)
    run_gold(spark, out)
    hist_path = os.path.join(out, "gold", "history", "daily_overview")
    assert tx.snapshot(hist_path).version == 1
    assert read_gold_history(spark, out, "daily_overview").count() == 2 * N_ASSETS
    assert (
        read_gold_history(spark, out, "daily_overview", version=0).count()
        == N_ASSETS
    )
    serving = os.path.join(out, "gold", "serving", "daily_overview")
    assert not os.path.isdir(os.path.join(serving, tx._LOG_DIR))
    assert spark.read.parquet(serving).count() == N_ASSETS


def test_model_based_history_partitioned(spark, tmp_path):
    """The model-based cumulative-correctness property, partitioned
    variant: random append/overwrite commits AGAINST A PARTITIONED
    table must leave every version's snapshot equal to the in-memory
    model, with the partition column surviving the per-stage basePath
    reconstruction at every version."""
    import random

    rng = random.Random(20260815)
    t = str(tmp_path / "tbl")
    model: list[list[int]] = []
    nxt = 0
    for _ in range(6):
        k = rng.randint(1, 4)
        ids = list(range(nxt, nxt + k))
        nxt += k
        mode = rng.choice(["append", "overwrite"])
        df = spark.createDataFrame(
            [(i, f"2025-06-{(i % 3) + 1:02d}") for i in ids], "id int, dt string"
        )
        snap = tx.commit(df, t, mode, partition_by=["dt"])
        prev = model[-1] if (model and mode == "append") else []
        model.append([*prev, *ids])
        assert snap.version == len(model) - 1
        assert snap.partition_by == ("dt",)
    for v, expected in enumerate(model):
        back = tx.read(spark, t, version=v)
        assert _ids(back) == sorted(expected), v
        # partition column reconstructed correctly for every row
        bad = back.filter(
            back.dt != F.concat(F.lit("2025-06-0"), (back.id % 3) + 1)
        ).count()
        assert bad == 0, v


def test_vacuum_retention_protects_fresh_staging(spark, tmp_path):
    """An unreferenced-but-FRESH staging dir may be an in-flight commit
    that has not linked its manifest yet — vacuum must leave it alone
    inside the retention window and reclaim it only after (code-review
    r7: the rmtree race against a live writer)."""
    t = str(tmp_path / "tbl")
    tx.commit(spark.range(0, 2), t, "append")
    tx.commit(spark.range(2, 4), t, "append")
    tx.commit(spark.range(9, 11), t, "overwrite")
    # simulate an in-flight writer: staged data, no manifest yet
    orphan = os.path.join(t, "data", "v00000099-inflight")
    spark.range(100, 102).write.parquet(orphan)

    deleted = tx.vacuum(t, keep_last=1, retention_seconds=3600)
    assert os.path.isdir(orphan), "fresh staging dir must survive vacuum"
    assert not any("v00000099-inflight" in f for f in deleted)

    deleted = tx.vacuum(t, keep_last=1, retention_seconds=0)
    assert not os.path.isdir(orphan), "aged-out staging dir is reclaimed"

    with pytest.raises(ValueError, match="keep_last"):
        tx.vacuum(t, keep_last=0)


def test_pin_to_an_empty_table(spark, tmp_path):
    """``expected_base_version=-1`` pins a commit to a table with no
    commit yet: the first pinned writer wins, a second one pinned to the
    same empty read raises and leaves nothing visible."""
    t = str(tmp_path / "tbl")
    assert tx.commit(spark.range(0, 3), t, expected_base_version=-1).version == 0
    with pytest.raises(tx.CommitConflict, match="expected base version -1"):
        tx.commit(spark.range(3, 5), t, expected_base_version=-1)
    assert tx.snapshot(t).version == 0
    assert _ids(tx.read(spark, t)) == [0, 1, 2]


def test_empty_first_commit_reads_as_empty_frame_of_its_schema(spark, tmp_path):
    """A partitioned append of zero rows writes no data file; its
    version still reads — as an empty frame of the manifest's schema —
    and later appends build on it."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "2025-06-01")], "id int, dt string")
    snap = tx.commit(df.limit(0), t, partition_by=["dt"], metadata={"k": 1})
    assert snap.files == () and tx.snapshot(t).metadata == {"k": 1}
    empty = tx.read(spark, t)
    assert empty.count() == 0 and empty.schema == df.schema
    tx.commit(df, t, partition_by=["dt"])
    assert _ids(tx.read(spark, t)) == [1]
    assert tx.read_added(spark, t, 0).count() == 1


def test_compact_refuses_lost_update(spark, tmp_path):
    """compact() pins its overwrite to the snapshot version it read: a
    concurrent append landing in between must surface as CommitConflict,
    never be silently overwritten away (code-review r7)."""
    t = str(tmp_path / "tbl")
    tx.commit(spark.range(0, 3), t, "append")
    snap = tx.snapshot(t)
    df = tx.read(spark, t)
    tx.commit(spark.range(10, 12), t, "append")  # concurrent appender wins
    with pytest.raises(tx.CommitConflict, match="moved past expected base"):
        tx.commit(
            df, t, "overwrite", expected_base_version=snap.version
        )
    # the append's rows are intact
    assert _ids(tx.read(spark, t)) == [0, 1, 2, 10, 11]


def test_first_commit_refuses_a_plain_parquet_dir(spark, tmp_path):
    """A plain-parquet table (partitioned, written without the log) is
    not a txlog table: the first commit into its directory raises and
    writes nothing, instead of committing a version that hides the rows
    already there."""
    t = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "2025-06-01"), (2, "2025-06-02")], "id int, dt string"
    ).write.partitionBy("dt").parquet(t)
    before = dir_tree(t)

    with pytest.raises(ValueError, match="is not a txlog table"):
        tx.commit(
            spark.createDataFrame([(3, "2025-06-03")], "id int, dt string"),
            t,
            "append",
            partition_by=["dt"],
        )
    assert dir_tree(t) == before  # no _txlog/, no data/, no ledger
    assert tx._versions(t) == []
    back = spark.read.parquet(t)
    assert _ids(back) == [1, 2]
    assert set(back.columns) == {"id", "dt"}


def test_table_adopted_by_an_older_release_reads_and_compacts(spark, tmp_path):
    """An older release adopted plain-parquet tables in place: a
    version-0 ``adopt`` manifest listing files OUTSIDE data/. Such a
    table still reads (partition columns recovered at the table root),
    appends, and ``compact`` moves its live rows into data/; vacuum then
    leaves the files outside data/ on disk (a leak of files, never of
    rows)."""
    t = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "2025-06-01"), (2, "2025-06-02")], "id int, dt string"
    ).write.partitionBy("dt").parquet(t)
    outside = tx._parquet_files(t)
    os.makedirs(os.path.join(t, "_txlog"))
    with open(os.path.join(t, "_txlog", "00000000.json"), "w") as fh:
        json.dump(
            {"version": 0, "mode": "adopt", "files": outside, "partition_by": ["dt"]},
            fh,
        )

    back = tx.read(spark, t)
    assert _ids(back) == [1, 2]
    assert set(back.columns) == {"id", "dt"}
    tx.commit(
        spark.createDataFrame([(3, "2025-06-03")], "id int, dt string"),
        t,
        "append",
        partition_by=["dt"],
    )
    assert _ids(tx.read(spark, t)) == [1, 2, 3]

    snap = tx.compact(spark, t)
    data_root = os.path.join(t, "data") + os.sep
    assert snap.files and all(f.startswith(data_root) for f in snap.files)
    deleted = tx.vacuum(t, keep_last=1, retention_seconds=0)
    assert all(f.startswith(data_root) for f in deleted)
    assert all(os.path.exists(f) for f in outside)
    assert _ids(tx.read(spark, t)) == [1, 2, 3]
    assert tx._versions(t) == [2]


def test_read_history_never_surfaces_uncommitted_staging(spark, tmp_path):
    """A table whose first commit crashed after staging (data under
    data/, empty log) must raise on read, not serve the uncommitted rows
    — and the next first commit still goes through: the crash left
    nothing but the log and the staging root."""
    from project_crypto_data_engineering_gcp_spark.sources.sinks import (
        read_history,
    )

    t = str(tmp_path / "tbl")
    os.makedirs(os.path.join(t, "_txlog"))
    spark.range(5).write.parquet(os.path.join(t, "data", "v00000000-dead"))
    with pytest.raises(FileNotFoundError):
        read_history(spark, t).count()

    assert tx.commit(spark.range(10, 12), t, "append").version == 0
    assert _ids(read_history(spark, t)) == [10, 11]


def test_concurrent_commit_storm(spark, tmp_path):
    """Commit storm: 4 threads x 3 appends each race on one partitioned
    table. Invariants: versions come out contiguous 0..11, every commit
    wins exactly one version, and the final snapshot holds every
    writer's rows exactly once (the optimistic-concurrency composition
    the protocol promises, exercised end-to-end rather than via the
    single-race monkeypatch test)."""
    import threading

    t = str(tmp_path / "tbl")
    results: list[int] = []
    errors: list[Exception] = []
    lock = threading.Lock()

    def writer(base: int) -> None:
        try:
            for j in range(3):
                lo = base * 100 + j * 10
                df = spark.createDataFrame(
                    [(i, f"2025-07-{(i % 2) + 1:02d}") for i in range(lo, lo + 5)],
                    "id int, dt string",
                )
                snap = tx.commit(
                    df, t, "append", partition_by=["dt"], max_retries=20
                )
                with lock:
                    results.append(snap.version)
        except Exception as exc:  # pragma: no cover - failure reporting
            with lock:
                errors.append(exc)

    threads = [threading.Thread(target=writer, args=(b,)) for b in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errors, errors
    assert sorted(results) == list(range(12))  # one version per commit
    expected = sorted(
        i for b in range(4) for j in range(3)
        for i in range(b * 100 + j * 10, b * 100 + j * 10 + 5)
    )
    assert _ids(tx.read(spark, t)) == expected  # all rows, exactly once


def test_commit_refuses_corrupt_base(spark, tmp_path):
    """The post-link existence check covers the INHERITED base files,
    not just the writer's own staged ones: an append over a snapshot
    whose data was reclaimed (retention-window violation upstream) must
    roll its just-linked manifest back and hard-error — never commit a
    manifest propagating dangling paths, never silently retry (ADVICE
    r8: the stalled-writer race would otherwise let a concurrent
    appender pin the retracted version and inherit its dangling file
    list)."""
    t = str(tmp_path / "tbl")
    tx.commit(spark.range(0, 3), t, "append")
    victim = tx.snapshot(t).files[0]
    os.unlink(victim)  # simulate the vacuumed-under-retention-violation base
    with pytest.raises(RuntimeError, match="corrupt base"):
        tx.commit(spark.range(3, 5), t, "append")
    # the rolled-back version is not visible: latest is still v0
    assert tx.snapshot(t).version == 0
    assert not os.path.exists(os.path.join(t, "_txlog", "00000001.json"))


def test_maintenance_lifecycle_ingest_compact_vacuum_time_travel(spark, tmp_path):
    """The maintenance COMPOSITION on one table (r7 verdict task 6):
    ingest batches -> OPTIMIZE-style compact -> retention-gated vacuum
    -> time travel. Compact must not cost readers any version still
    inside the retention window; only an aged-out vacuum reclaims
    them."""
    from project_crypto_data_engineering_gcp_spark.fixtures import (
        N_ASSETS,
        write_fixture_landing,
    )
    from project_crypto_data_engineering_gcp_spark.plans.runner import (
        read_silver,
        run_silver,
        silver_path,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    write_fixture_landing(landing, n_snapshots=1)
    run_silver(spark, f"{landing}/coincap_data_*.json", out)
    write_fixture_landing(landing, n_snapshots=2)
    run_silver(spark, f"{landing}/coincap_data_*.json", out)
    t = silver_path(out)
    assert tx.snapshot(t).version == 1

    snap = tx.compact(spark, t)  # one overwrite commit, version 2
    assert snap.version == 2 and snap.mode == "overwrite"
    # compact costs readers nothing: both ingest versions still read
    assert read_silver(spark, out, version=0).count() == N_ASSETS
    assert read_silver(spark, out, version=1).count() == 2 * N_ASSETS

    # retention-gated vacuum: every manifest is young, so time travel
    # SURVIVES a keep_last=1 vacuum inside the window
    tx.vacuum(t, keep_last=1, retention_seconds=3600)
    assert read_silver(spark, out, version=0).count() == N_ASSETS
    assert read_silver(spark, out, version=1).count() == 2 * N_ASSETS

    # aged out, the pre-compact versions are reclaimed; the compacted
    # snapshot (and the table's forward life) is intact
    tx.vacuum(t, keep_last=1, retention_seconds=0)
    with pytest.raises(FileNotFoundError):
        read_silver(spark, out, version=0).count()
    assert read_silver(spark, out).count() == 2 * N_ASSETS
    write_fixture_landing(landing, n_snapshots=3)
    run_silver(spark, f"{landing}/coincap_data_*.json", out)
    assert read_silver(spark, out).count() == 3 * N_ASSETS
    assert tx.snapshot(t).version == 3


def test_run_silver_replay_after_post_commit_crash_is_idempotent(spark, tmp_path, monkeypatch):
    """A crash right after the atomic Silver commit returns: the ingest
    record travelled in that commit, so the restart finds nothing new
    and commits nothing — the rows stay single, one version in all."""
    from project_crypto_data_engineering_gcp_spark.fixtures import (
        N_ASSETS,
        write_fixture_landing,
    )
    from project_crypto_data_engineering_gcp_spark.plans import runner
    from project_crypto_data_engineering_gcp_spark.plans.runner import (
        read_silver,
        run_silver,
        silver_path,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    write_fixture_landing(landing, n_snapshots=2)

    real_write = runner.write_history

    def crash(df, path, **kw):
        real_write(df, path, **kw)
        raise OSError("simulated crash right after the Silver commit")

    monkeypatch.setattr(runner, "write_history", crash)
    with pytest.raises(OSError, match="simulated crash"):
        run_silver(spark, f"{landing}/coincap_data_*.json", out)
    monkeypatch.setattr(runner, "write_history", real_write)

    assert run_silver(spark, f"{landing}/coincap_data_*.json", out) == 0
    assert read_silver(spark, out).count() == 2 * N_ASSETS  # not doubled
    assert tx.snapshot(silver_path(out)).version == 0  # one commit total


def test_vacuum_never_touches_files_outside_data(spark, tmp_path):
    """vacuum deletes only under data/ and _txlog/: parquet placed in the
    table directory after the first commit — a top-level dir, or a
    nested one literally named 'data' — is never referenced by a
    manifest, never read, and survives an aged vacuum that reclaims
    everything dead under data/."""
    t = str(tmp_path / "tbl")
    tx.commit(spark.range(10, 12), t, "append")
    user_dir = os.path.join(t, "user_drop")
    nested = os.path.join(t, "foo", "data")
    spark.range(100, 103).write.parquet(user_dir)
    spark.range(200, 203).write.parquet(nested)
    user_files = tx._parquet_files(user_dir) + tx._parquet_files(nested)
    assert _ids(tx.read(spark, t)) == [10, 11]

    tx.commit(spark.range(50, 52), t, "overwrite")
    deleted = tx.vacuum(t, keep_last=1, retention_seconds=0)
    assert deleted  # the overwritten v0 stage was reclaimed
    assert all(f.startswith(os.path.join(t, "data") + os.sep) for f in deleted)
    assert all(os.path.exists(f) for f in user_files)
    assert _ids(tx.read(spark, t)) == [50, 51]


def test_commit_retries_when_pinned_base_was_retracted(spark, tmp_path, monkeypatch):
    """The post-link missing-base check distinguishes the transient
    race from genuine corruption: an appender that pinned a
    momentarily-visible version as its base (retracted by the stalled
    writer's own rollback) must RETRY against the refreshed snapshot
    and succeed — hard-erroring only when the genuinely-latest snapshot
    references missing data (ADVICE r9)."""
    t = str(tmp_path / "tbl")
    tx.commit(spark.range(0, 3), t, "append")

    real_snapshot = tx.snapshot
    calls = {"n": 0}

    def poisoned(table, version=None):
        snap = real_snapshot(table, version)
        calls["n"] += 1
        # call #1 is the partition-spec check, call #2 pins the base:
        # poison exactly the base pin with a retracted version's view —
        # one extra (now-nonexistent) data file
        if calls["n"] == 2:
            return tx.TxSnapshot(
                version=snap.version + 1,
                mode="append",
                files=snap.files
                + (os.path.join(table, "data", "vRETRACTED", "gone.parquet"),),
                partition_by=snap.partition_by,
            )
        return snap

    monkeypatch.setattr(tx, "snapshot", poisoned)
    snap = tx.commit(spark.range(3, 5), t, "append")
    assert calls["n"] > 2  # the retry actually re-read the snapshot
    assert _ids(tx.read(spark, t)) == [0, 1, 2, 3, 4]
    # the poisoned attempt's manifest was rolled back, then the retry
    # committed the SAME logical version over a healthy base
    assert snap.version == 1


def test_run_silver_commit_carries_the_cumulative_record(spark, tmp_path, monkeypatch):
    """Every Silver commit carries the COMPLETE ingest record in its
    metadata (the files glob_files lists, sorted), and is pinned to the
    version the record was read from (-1 for the first commit)."""
    from project_crypto_data_engineering_gcp_spark.fixtures import (
        write_fixture_landing,
    )
    from project_crypto_data_engineering_gcp_spark.plans import runner
    from project_crypto_data_engineering_gcp_spark.sources.hadoop_fs import (
        glob_files,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    paths = write_fixture_landing(landing, n_snapshots=3)

    pins = []
    real = runner.write_history

    def spy(df, path, **kw):
        pins.append(kw.get("expected_base_version"))
        return real(df, path, **kw)

    monkeypatch.setattr(runner, "write_history", spy)
    # batch 1: the first two snapshot files
    os.rename(paths[2], paths[2] + ".held")
    assert runner.run_silver(spark, glob, out) > 0
    first = glob_files(spark, glob)
    # batch 2: the third file released
    os.rename(paths[2] + ".held", paths[2])
    assert runner.run_silver(spark, glob, out) > 0

    assert pins == [-1, 0]
    spath = runner.silver_path(out)
    assert tx.snapshot(spath, 0).metadata["ingested"] == first
    assert tx.snapshot(spath, 1).metadata["ingested"] == glob_files(spark, glob)
