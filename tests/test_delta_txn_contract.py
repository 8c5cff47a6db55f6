"""Contract test for the Delta branch of the Silver ingest — WITHOUT
delta-spark on the classpath.

Under Delta, ``run_silver`` reads its ingest record from the newest
``userMetadata`` in the Silver table's history and pins its commit
through Delta's idempotent-writes options (``sinks.delta_pin``). This
sandbox never executes the ``history_format()=='delta'`` branch, so a
fake history store applies Delta's documented rules instead — a write
carrying (txnAppId, txnVersion) is SKIPPED iff txnVersion is <= the last
version recorded for that appId on that table (Delta
`OptimisticTransaction.txnVersion` semantics, public docs "Idempotent
writes in foreachBatch"); every other write appends its rows and its
``userMetadata`` to the history — and the real ``run_silver`` runs
against it. If the pin mapping or the record handling regresses to
anything Delta would mis-skip, mis-apply or duplicate, these tests go
red without needing the package.

Reference parity: the reference appends Silver/Gold history as Delta
(`2-spark_coincap_raw_to_silver.py:65`, `3-spark_curated_analytics_full.py:86-90`);
exactly-once across crash/replay is our superset hardening of S5/S9.
"""

from __future__ import annotations

import pytest

from project_crypto_data_engineering_gcp_spark.fixtures import (
    N_ASSETS,
    snapshot_payload,
    write_fixture_landing,
)
from project_crypto_data_engineering_gcp_spark.plans import runner
from project_crypto_data_engineering_gcp_spark.sources import tx_table
from project_crypto_data_engineering_gcp_spark.sources.json_source import (
    write_raw_snapshot,
)
from project_crypto_data_engineering_gcp_spark.sources.sinks import delta_pin

PROCESSED_AT = "2024-01-02 03:04:05"


class FakeDeltaHistoryStore:
    """In-memory stand-in for a set of Delta tables:

    - a write pinned with ``expected_base_version`` carries the
      ``sinks.delta_pin`` options, and is a silent no-op when the table
      already recorded a transaction for that appId with version >= this
      one; otherwise it commits and the (appId -> version) watermark
      advances (Delta's idempotent-writes rule);
    - every applied write is one history entry (version, userMetadata),
      and :meth:`history_snapshot` reads the newest entry that carries
      metadata, as ``sinks.history_snapshot`` does under Delta.
    """

    def __init__(self) -> None:
        self.rows: dict[str, list[dict]] = {}
        self.history: dict[str, list[dict | None]] = {}
        self.txns: dict[tuple[str, str], int] = {}
        self.applied: list[tuple[str, str, int]] = []
        self.skipped: list[tuple[str, str, int]] = []

    # signature mirrors sources.sinks.write_history
    def write_history(
        self,
        df,
        path: str,
        *,
        partition_by=None,
        merge_schema: bool = False,
        mode: str = "append",
        metadata: dict | None = None,
        expected_base_version: int | None = None,
    ) -> None:
        if expected_base_version is not None:
            opts = delta_pin(expected_base_version)
            app_id, version = opts["txnAppId"], int(opts["txnVersion"])
            last = self.txns.get((path, app_id))
            if last is not None and version <= last:
                self.skipped.append((path, app_id, version))
                return
            self.txns[(path, app_id)] = version
            self.applied.append((path, app_id, version))
        self.rows.setdefault(path, []).extend(r.asDict() for r in df.collect())
        self.history.setdefault(path, []).append(metadata)

    # signature mirrors sources.sinks.history_snapshot
    def history_snapshot(self, path: str) -> tx_table.TxSnapshot | None:
        commits = self.history.get(path)
        if not commits:
            return None
        meta = next((m for m in reversed(commits) if m), {})
        return tx_table.TxSnapshot(
            version=len(commits) - 1, mode="delta", files=(), metadata=meta
        )

    def optimize(self, path: str) -> None:
        """An OPTIMIZE: a commit with no userMetadata and the same rows."""
        self.history[path].append(None)

    def count(self, path: str) -> int:
        return len(self.rows.get(path, []))


def test_fake_store_matches_delta_skip_rule(spark):
    """The fake itself implements <=, not ==: a pin read at an OLDER
    version after a newer one committed must also skip."""
    store = FakeDeltaHistoryStore()
    df = spark.range(3)
    store.write_history(df, "t", expected_base_version=4)
    store.write_history(df, "t", expected_base_version=4)  # same base: skip
    store.write_history(df, "t", expected_base_version=1)  # older: skip
    store.write_history(df, "t", expected_base_version=5)  # newer: apply
    store.write_history(df, "t")  # unpinned: plain append
    assert store.count("t") == 3 * 3
    assert [v for (_, _, v) in store.applied] == [5, 6]
    assert [v for (_, _, v) in store.skipped] == [5, 2]


@pytest.fixture()
def fake_store(monkeypatch):
    store = FakeDeltaHistoryStore()
    monkeypatch.setattr(runner, "write_history", store.write_history)
    monkeypatch.setattr(runner, "history_snapshot", store.history_snapshot)
    return store


def _landing(tmp_path_factory, n_snapshots=2) -> str:
    landing = str(tmp_path_factory.mktemp("landing"))
    write_fixture_landing(landing, n_snapshots=n_snapshots)
    return landing


def _crash_after_first_commit(store, monkeypatch):
    """Make the next ``write_history`` commit, then raise."""
    real = store.write_history

    def crash(df, path, **kw):
        monkeypatch.setattr(runner, "write_history", real)
        real(df, path, **kw)
        raise OSError("simulated crash right after the Silver commit")

    monkeypatch.setattr(runner, "write_history", crash)


def test_run_silver_crash_replay_is_exactly_once(
    spark, tmp_path_factory, fake_store, monkeypatch
):
    """Crash right after the Silver commit returns, then rerun: the
    record travelled in that commit, so the rerun finds nothing new and
    reaches no sink at all."""
    landing = _landing(tmp_path_factory)
    out = str(tmp_path_factory.mktemp("out"))
    glob = f"{landing}/coincap_data_*.json"
    spath = runner.silver_path(out)

    _crash_after_first_commit(fake_store, monkeypatch)
    with pytest.raises(OSError, match="simulated crash"):
        runner.run_silver(spark, glob, out, processed_at=PROCESSED_AT)
    assert fake_store.count(spath) == N_ASSETS * 2  # the commit itself succeeded

    assert runner.run_silver(spark, glob, out, processed_at=PROCESSED_AT) == 0
    assert fake_store.count(spath) == N_ASSETS * 2
    assert len(fake_store.applied) == 1 and not fake_store.skipped


def test_run_silver_crash_then_new_landing_is_exactly_once(
    spark, tmp_path_factory, fake_store, monkeypatch
):
    """A crash right after the Silver commit, and a NEW file landing
    before the rerun: the rerun ingests only the new file, so every row
    is in Silver exactly once (under the old separate ledger, the
    crashed batch was appended a second time here)."""
    landing = _landing(tmp_path_factory)
    out = str(tmp_path_factory.mktemp("out"))
    glob = f"{landing}/coincap_data_*.json"
    spath = runner.silver_path(out)

    _crash_after_first_commit(fake_store, monkeypatch)
    with pytest.raises(OSError):
        runner.run_silver(spark, glob, out, processed_at=PROCESSED_AT)

    write_raw_snapshot(snapshot_payload(2), landing)  # new file pre-rerun
    assert runner.run_silver(spark, glob, out, processed_at=PROCESSED_AT) == N_ASSETS

    rows = fake_store.rows[spath]
    keys = [(r["id"], r["data_referencia"]) for r in rows]
    assert len(keys) == N_ASSETS * 3 and len(set(keys)) == len(keys)
    assert not fake_store.skipped


def test_run_silver_stale_pin_is_skipped_and_healed(
    spark, tmp_path_factory, fake_store, monkeypatch
):
    """Two writers read the same Silver version: Delta skips the second
    pinned write (its pin maps to the txnVersion the first one used), so
    no row doubles; the next run ingests the file only the skipped
    writer had seen. An OPTIMIZE commit without userMetadata in between
    hides neither the record nor the pin."""
    landing = _landing(tmp_path_factory, n_snapshots=1)
    out = str(tmp_path_factory.mktemp("out"))
    glob = f"{landing}/coincap_data_*.json"
    spath = runner.silver_path(out)
    assert runner.run_silver(spark, glob, out, processed_at=PROCESSED_AT) == N_ASSETS
    fake_store.optimize(spath)

    stale = fake_store.history_snapshot(spath)
    write_raw_snapshot(snapshot_payload(1), landing)
    monkeypatch.setattr(runner, "history_snapshot", lambda path: stale)
    assert runner.run_silver(spark, glob, out, processed_at=PROCESSED_AT) == N_ASSETS
    write_raw_snapshot(snapshot_payload(2), landing)
    runner.run_silver(spark, glob, out, processed_at=PROCESSED_AT)  # same stale read
    assert len(fake_store.skipped) == 1
    assert fake_store.count(spath) == N_ASSETS * 2

    monkeypatch.setattr(runner, "history_snapshot", fake_store.history_snapshot)
    assert runner.run_silver(spark, glob, out, processed_at=PROCESSED_AT) == N_ASSETS
    assert runner.run_silver(spark, glob, out, processed_at=PROCESSED_AT) == 0
    keys = [(r["id"], r["data_referencia"]) for r in fake_store.rows[spath]]
    assert len(keys) == N_ASSETS * 3 and len(set(keys)) == len(keys)
