"""Table sinks: txlog history tables and hard-linked serving copies.

The reference writes Delta (ACID log + parquet) for Silver/Gold history
and BigQuery for serving (S5-S8). This engine targets open Spark on a
local filesystem:

- HISTORY tables (Silver appends, Gold history — the tables whose value
  is the append log itself) are local manifest-log transactional tables
  (``sources/tx_table.py``): the ACID commit / snapshot-isolation /
  time-travel semantics the reference gets from Delta.
- SERVING tables (overwrite-mode dashboards — the reference's BigQuery
  copies) are plain parquet directories; an atomic log adds nothing to
  a full overwrite that downstreams read once. The serving copy is not
  written by Spark at all: :func:`write_serving` hard-links the files
  the history commit just added into a fresh directory, next to a
  ``_schema.json`` sidecar (the frame's Spark schema; the leading ``_``
  hides it from Spark's file listing), and swaps that directory into
  place. :func:`read_table` hands the sidecar to the scan, so reading a
  serving table starts no schema-inference job. Hard links share the
  history's bytes, and outlive its ``compact``/``vacuum``.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, types as T

from . import tx_table

SCHEMA_FILE = "_schema.json"


def read_table(spark, path: str):
    """Read a parquet table, such as one :func:`write_serving` published.
    Its ``_schema.json`` sidecar, when present, pins the scan's schema;
    without it (a directory written by Spark) the schema is inferred,
    which costs a Spark job."""
    reader = spark.read
    sidecar = os.path.join(path, SCHEMA_FILE)
    if os.path.isfile(sidecar):
        with open(sidecar) as fh:
            reader = reader.schema(T.StructType.fromJson(json.load(fh)))
    return reader.parquet(path)


def write_serving(df: DataFrame, path: str, files: tuple[str, ...]) -> None:
    """Replace the serving table at ``path`` with ``df``, whose rows the
    history commit that returned ``files`` (:func:`write_history`) has
    just written. The new copy is those files, hard-linked, plus the
    ``_schema.json`` sidecar — no Spark write.

    The swap is two renames (``path`` -> ``<path>.old``, ``<path>.tmp``
    -> ``path``): a reader that resolves ``path`` gets the old or the new
    copy, or none between the renames; a scan still running over the old
    copy when it is deleted fails, as under a Spark overwrite. One
    writer publishes a table at a time; a ``.tmp``/``.old`` sibling left
    by a crash is swept by the next publish."""
    path = os.path.normpath(path)
    tmp, old = path + ".tmp", path + ".old"
    for stale in (tmp, old):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(tmp)
    for f in files:
        os.link(f, os.path.join(tmp, os.path.basename(f)))
    with open(os.path.join(tmp, SCHEMA_FILE), "w") as fh:
        fh.write(df.schema.json())
        fh.flush()
        os.fsync(fh.fileno())
    _fsync(tmp)  # the links and the sidecar durable before the swap
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    _fsync(os.path.dirname(path))
    shutil.rmtree(old, ignore_errors=True)


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def write_history(
    df: DataFrame,
    path: str,
    *,
    mode: str = "append",
    metadata: dict | None = None,
    expected_base_version: int | None = None,
) -> tuple[str, ...]:
    """Append ``df`` to a txlog history table: one atomic commit per
    call; ``mode="overwrite"`` replaces the live rows in that one commit
    instead. Returns the data files the commit added. ``metadata`` is
    stored with the commit (see :func:`history_snapshot`). Appends may
    evolve the schema: the union schema is resolved at read
    (``read_history(merge_schema=True)``, reference S7).
    ``expected_base_version`` pins the commit to the version the caller
    read (``-1``: no commit yet; see :func:`history_snapshot` and
    ``tx_table.commit``): ``CommitConflict`` is raised when the table
    moved."""
    return tx_table.commit(
        df,
        path,
        mode,
        metadata=metadata,
        expected_base_version=expected_base_version,
    ).added


def history_snapshot(path: str) -> tx_table.TxSnapshot | None:
    """The latest committed version of a history table — its version
    number, files and commit metadata — or None when the table has no
    commit yet."""
    try:
        return tx_table.snapshot(path)
    except FileNotFoundError:
        return None


def read_history(
    spark: SparkSession,
    path: str,
    *,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read a history table written via :func:`write_history`.
    ``version`` pins an older snapshot — time travel. ``merge_schema``
    reads the union schema across commits. A table with no committed
    version raises ``FileNotFoundError``."""
    return tx_table.read(spark, path, version, merge_schema=merge_schema)
