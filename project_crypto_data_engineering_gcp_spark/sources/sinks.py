"""Table sink format selection: Delta when available, txlog/parquet otherwise.

The reference writes Delta (ACID log + parquet) for Silver/Gold history
and BigQuery for serving (S5-S8). This environment ships no delta-spark
jars, so the engine gates the Delta path behind an import probe:

- HISTORY tables (Silver appends, Gold history — the tables whose value
  is the append log itself) fall back to the local manifest-log
  transactional table (``sources/tx_table.py``): same ACID commit /
  snapshot-isolation / time-travel semantics Delta provides, so
  ``run_pipeline`` exercises the reference's S5/S7 contract even
  without delta-spark (r6 verdict task 2).
- SERVING tables (overwrite-mode dashboards — the reference's BigQuery
  copies) fall back to plain parquet via :func:`formatted`; an atomic
  log adds nothing to a full overwrite that downstreams read once.

Deployments with delta-spark on the classpath get Delta for both paths
without a code change.
"""

from __future__ import annotations

import json
from functools import lru_cache

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession

from . import tx_table


@lru_cache(maxsize=1)
def table_format() -> str:
    """'delta' when delta-spark is importable, else 'parquet'."""
    try:  # pragma: no cover - delta not present in the test image
        import delta  # noqa: F401

        return "delta"
    except ImportError:
        return "parquet"


def formatted(writer: DataFrameWriter) -> DataFrameWriter:
    """Apply the selected table format to a writer."""
    return writer.format(table_format())


def read_table(spark, path: str):
    """Read a table written via :func:`formatted` (delta or parquet)."""
    return spark.read.format(table_format()).load(path)


def history_format() -> str:
    """'delta' when delta-spark is importable, else 'txlog' (the local
    manifest-log ACID table, ``sources/tx_table.py``)."""
    return "delta" if table_format() == "delta" else "txlog"


def write_history(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
    mode: str = "append",
    metadata: dict | None = None,
    expected_base_version: int | None = None,
) -> None:
    """Append ``df`` to an ACID history table: one atomic commit per
    call (Delta transaction or txlog manifest); ``mode="overwrite"``
    replaces the live rows in that one commit instead. ``metadata`` is
    stored with the commit (Delta ``userMetadata``, txlog manifest; see
    :func:`history_snapshot`). ``merge_schema`` allows
    schema evolution across appends (reference S7; under txlog the
    union schema is resolved at read instead of write, same observable
    contract). ``expected_base_version`` pins the commit to the version
    the caller read (``-1``: no commit yet; see :func:`history_snapshot`
    and ``tx_table.commit``): txlog raises ``CommitConflict`` when the
    table moved; Delta skips the write (:func:`delta_pin`)."""
    if history_format() == "delta":  # pragma: no cover - delta absent here
        writer = df.write.format("delta").mode(mode)
        if metadata:
            writer = writer.option("userMetadata", json.dumps(metadata))
        if merge_schema:
            writer = writer.option("mergeSchema", "true")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if expected_base_version is not None:
            writer = writer.options(**delta_pin(expected_base_version))
        writer.save(path)
    else:
        tx_table.commit(
            df,
            path,
            mode,
            partition_by=partition_by,
            metadata=metadata,
            expected_base_version=expected_base_version,
        )


def delta_pin(expected_base_version: int) -> dict[str, str]:
    """Delta writer options that pin a commit to the version read.

    Delta has no expected-version commit, but it skips a write whose
    ``txnVersion`` is <= the last one recorded for its ``txnAppId``
    (idempotent writes). Every pinned writer of a table shares one app
    id and passes the version it read plus one, so of two writers that
    read the same version only the first commits; the second is skipped
    and its files stay unrecorded for the next cycle."""
    return {"txnAppId": "pinned_commit", "txnVersion": str(expected_base_version + 1)}


def history_snapshot(path: str) -> tx_table.TxSnapshot | None:
    """The latest committed version of a history table — its version
    number and commit metadata — or None when the table has no commit
    yet. Under Delta the metadata is the newest ``userMetadata`` in the
    table's history, so a later commit without any (an OPTIMIZE) does
    not hide it, and the file list is left empty."""
    if history_format() == "delta":  # pragma: no cover - delta absent here
        from delta.tables import DeltaTable

        spark = SparkSession.active()
        if not DeltaTable.isDeltaTable(spark, path):
            return None
        history = DeltaTable.forPath(spark, path).history()
        rows = history.select("version", "userMetadata").orderBy(history.version.desc()).collect()
        meta = next((r.userMetadata for r in rows if r.userMetadata), None)
        return tx_table.TxSnapshot(
            version=rows[0].version,
            mode="delta",
            files=(),
            metadata=json.loads(meta) if meta else {},
        )
    try:
        return tx_table.snapshot(path)
    except FileNotFoundError:
        return None


def read_history_added(
    spark: SparkSession, path: str, since: int, version: int | None = None
) -> DataFrame | None:
    """Rows committed to a history table after version ``since`` (up to
    ``version``), read as one scan per added commit — or None when no
    version diff exists (Delta here; a vacuumed, compacted or
    overwritten txlog base) and the caller must read the whole table."""
    if history_format() == "delta":  # pragma: no cover - delta absent here
        return None
    return tx_table.read_added(spark, path, since, version)


def read_history(
    spark: SparkSession,
    path: str,
    *,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read a history table written via :func:`write_history`.
    ``version`` pins an older snapshot (Delta ``versionAsOf`` / txlog
    manifest) — time travel."""
    if history_format() == "delta":  # pragma: no cover - delta absent here
        reader = spark.read.format("delta")
        if version is not None:
            reader = reader.option("versionAsOf", version)
        return reader.load(path)
    try:
        return tx_table.read(spark, path, version, merge_schema=merge_schema)
    except FileNotFoundError:
        # fall back ONLY to a genuine pre-txlog layout (parquet outside
        # the log/staging subtrees). A table with no committed version
        # but staged data under data/ is an in-flight or crashed FIRST
        # commit — reading it raw would surface uncommitted rows and
        # break the atomicity contract (code-review r7).
        if version is not None or not tx_table.has_legacy_files(path):
            raise
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(path)
