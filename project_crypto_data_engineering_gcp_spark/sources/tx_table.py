"""Transactional parquet tables: a minimal versioned-manifest log.

The reference persists Silver/Gold history as Delta tables (ACID commit
log over parquet; reference `2-spark_processed_assats_list.py:65`,
`3-spark_curated_analytics_full.py:86-90`). This engine runs on open
Spark over a local filesystem, and this module is its one history-table
format: the same public design Delta/Iceberg use — an append-only log of
versioned manifests over immutable parquet data files — small enough to
audit, with the commit protocol the interesting part:

- Data files are written to a fresh, version-private staging directory
  (``data/v{N}-{attempt}``) — never into a shared path, so a failed or
  abandoned write is INVISIBLE: no manifest references it.
- A commit is ONE atomic ``os.link`` of a temp manifest to
  ``_txlog/{N:08d}.json``. Readers either see version N fully or not at
  all (atomicity); link fails if the name exists (POSIX), so two
  concurrent writers racing to version N get exactly one winner —
  the loser retries at N+1 against the refreshed snapshot (optimistic
  concurrency, Delta's protocol).
- Each manifest holds the COMPLETE active file list for its version
  (snapshot manifests, not deltas): a reader pins one manifest and is
  isolated from every later commit (snapshot isolation), and time
  travel is just reading an older manifest.
- Data files are immutable and never deleted by commits; ``vacuum``
  removes files unreferenced by the kept manifests (the only
  destructive operation, explicitly invoked).

A txlog table is ``_txlog/`` plus ``data/`` and nothing else: the first
commit refuses a directory that holds anything more (a plain-parquet
table written without the log, say), rather than hide its rows.

No table is hive-partitioned: each staging directory holds flat parquet
files, every column lives in the files, and a read of any snapshot
(full, time travel or the rows added since a version) is ONE parquet
scan of the manifest's file list with the manifest's schema. A filter
on a column reaches that scan as a pushed filter, where parquet
row-group statistics skip the groups it excludes. ``snapshot`` refuses
a manifest an older release wrote (hive-partitioned, or without a
schema): one scan would read its partition columns as NULLs.

Local-FS scope: ``os.link`` is atomic on POSIX filesystems; object
stores need a conditional-put/contended-rename primitive instead (the
same caveat Delta's LogStore abstracts). A table path with a URI scheme
(``s3a://``, ``gs://``, ``file:``...) is refused with ``ValueError``
before anything is read or written.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field
from typing import ClassVar

from pyspark.sql import DataFrame, SparkSession, types as T

_LOG_DIR = "_txlog"
_DATA_DIR = "data"
_STAGE_SEQ = __import__("itertools").count()  # per-process staging uniqueness
_URI_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:")


class CommitConflict(RuntimeError):
    """Another writer committed this version first (caller may retry)."""


@dataclass(frozen=True)
class TxSnapshot:
    version: int
    mode: str
    files: tuple[str, ...]
    # always empty (snapshot() refuses a partitioned manifest); perfbench's
    # tracer still reads it
    partition_by: ClassVar[tuple[str, ...]] = ()
    # caller-supplied facts about the commit (Delta's commitInfo
    # userMetadata), e.g. which upstream version a derived table covers
    metadata: dict = field(default_factory=dict, hash=False)
    # the committed frame's Spark schema (JSON), as Delta's log keeps it:
    # reads hand it to the scan instead of inferring it from a footer,
    # which costs a Spark job per scan
    schema: str | None = None
    # the data files this version staged (set on the snapshot
    # :func:`commit` returns; empty on a snapshot read from the log)
    added: tuple[str, ...] = ()


def _table_path(table: str) -> str:
    """The canonical form of a local table path. Manifests store absolute
    file paths derived from it, and vacuum compares them verbatim, so
    every entry point canonicalises here. A path with a URI scheme is
    refused: ``realpath`` would turn ``s3a://b/t`` into a directory
    ``s3a:/b/t`` under the cwd and write the table there."""
    if _URI_SCHEME.match(table):
        raise ValueError(
            f"txlog tables need a local filesystem path, got {table!r}:"
            " object stores and URI schemes are not supported"
        )
    return os.path.realpath(table)


def _log_path(table: str) -> str:
    return os.path.join(table, _LOG_DIR)


def _manifest_file(table: str, version: int) -> str:
    return os.path.join(_log_path(table), f"{version:08d}.json")


def _versions(table: str) -> list[int]:
    log = _log_path(table)
    if not os.path.isdir(log):
        return []
    return sorted(
        int(name[:-5])
        for name in os.listdir(log)
        if name.endswith(".json") and name[:-5].isdigit()
    )


def snapshot(table: str, version: int | None = None) -> TxSnapshot:
    """Pin a manifest: the latest by default, or ``version`` for time
    travel. The returned file list is immutable — later commits cannot
    change what this snapshot reads (snapshot isolation). A manifest an
    older release wrote (hive-partitioned, or without a schema) raises
    ``ValueError``."""
    table = _table_path(table)
    versions = _versions(table)
    if not versions:
        raise FileNotFoundError(f"no committed version in {table!r}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(
            f"version {v} not in {table!r} (have {versions[0]}..{versions[-1]})"
        )
    with open(_manifest_file(table, v)) as fh:
        m = json.load(fh)
    if m.get("partition_by") or not m.get("schema"):
        raise ValueError(
            f"version {v} of {table!r} was written by an older release"
            " (hive-partitioned, or without a schema), and reading it as one"
            " scan would turn its partition columns into NULLs; move the"
            " table aside and rebuild it. For a pipeline output, move"
            " silver/assets and gold/_latest aside and rerun: Silver is"
            " rebuilt from the landing zone"
        )
    return TxSnapshot(
        version=v,
        mode=m["mode"],
        files=tuple(m["files"]),
        metadata=m.get("metadata") or {},
        schema=m["schema"],
    )


def read(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    *,
    merge_schema: bool = False,
) -> DataFrame:
    """Read the pinned snapshot's files as ONE parquet scan, however
    many commits staged them.

    The scan uses the schema the pinned manifest records, so it starts
    no schema-inference job. ``merge_schema=True`` resolves the union
    schema across commits instead (reference S7 semantics: Delta merges
    at write, parquet/txlog at read — older rows surface NULL for
    columns added later). A filter on the result reaches the scan as a
    pushed filter (pinned in tests/test_tx_table.py)."""
    snap = snapshot(table, version)
    return _read_files(spark, snap, snap.files, merge_schema)


def read_added(
    spark: SparkSession, table: str, since: int, version: int | None = None
) -> DataFrame | None:
    """The rows committed after version ``since`` up to ``version`` (the
    latest by default): the manifest file-set difference, read as one
    scan — an append's cost, whatever the history.

    Returns None when the difference does not describe the change: the
    ``since`` manifest is gone (vacuumed, or the table was rebuilt), or
    a later commit dropped files (an overwrite or :func:`compact`). The
    caller then reads the whole snapshot instead. Nothing committed
    since reads as an empty frame of the table's schema."""
    snap = snapshot(table, version)
    try:
        base = set(snapshot(table, since).files)
    except FileNotFoundError:
        return None
    if not base.issubset(snap.files):
        return None
    return _read_files(spark, snap, [f for f in snap.files if f not in base])


def _read_files(
    spark: SparkSession,
    snap: TxSnapshot,
    files: list[str] | tuple[str, ...],
    merge_schema: bool = False,
) -> DataFrame:
    """One parquet scan of ``files`` with ``snap``'s schema (inferred
    across the files instead when merging)."""
    schema = T.StructType.fromJson(json.loads(snap.schema))
    if not files:  # nothing added since (read_added): no scan, the manifest's schema
        return spark.createDataFrame([], schema)
    if merge_schema:
        return spark.read.option("mergeSchema", "true").parquet(*files)
    return spark.read.schema(schema).parquet(*files)


def _parquet_files(directory: str) -> list[str]:
    """All parquet files under ``directory``, recursively."""
    return sorted(
        os.path.join(dirpath, f)
        for dirpath, _, names in os.walk(directory)
        for f in names
        if f.endswith(".parquet")
    )


def _fsync_tree(directory: str) -> None:
    """fsync every file and directory under ``directory``: Spark writes
    the staged parquet through the page cache, so without this a power
    loss after commit could leave a DURABLE manifest referencing torn
    or absent data files — the other half of the two-fsync protocol."""
    for dirpath, _, names in os.walk(directory, topdown=False):
        for f in names:
            fd = os.open(os.path.join(dirpath, f), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        fd = os.open(dirpath, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)


def commit(
    df: DataFrame,
    table: str,
    mode: str = "append",
    *,
    max_retries: int = 5,
    expected_base_version: int | None = None,
    metadata: dict | None = None,
) -> TxSnapshot:
    """Write ``df`` as a new atomic version of ``table``.

    ``append`` keeps the previous snapshot's files and adds the new
    ones; ``overwrite`` replaces the active set (old files stay on disk
    for time travel until ``vacuum``). Returns the committed snapshot.

    The first commit refuses (``ValueError``, nothing written) a
    directory holding anything besides ``_txlog/`` and ``data/``: a
    plain-parquet table there would be hidden, not read.

    ``metadata`` (a JSON-able dict) is stored in the manifest and read
    back as :attr:`TxSnapshot.metadata` of this version.

    ``expected_base_version`` pins the commit to the version the caller
    read (``-1`` for a table with no commit yet): if the table has moved
    past it, the commit raises :class:`CommitConflict` and nothing
    becomes visible. Read-modify-write callers (``compact``, the Silver
    ingest whose record derives from the version it read) pin; blind
    appends do not.

    Protocol per attempt: stage data under a version-private directory,
    write a temp manifest, ``os.link`` it into the log — the atomic
    commit point. A link conflict (concurrent winner) re-reads the
    latest snapshot and retries at the next version, so appends compose
    correctly under concurrency; the orphaned staging directory of a
    lost attempt is invisible (no manifest references it) and is
    reclaimed by ``vacuum``."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    table = _table_path(table)

    last_err: Exception | None = None
    corrupt_err: RuntimeError | None = None
    for attempt in range(max_retries):
        prior = _versions(table)
        if not prior:
            # a first commit would shadow whatever the directory already
            # holds, so only the log and the staging root (all that a
            # crashed first commit leaves) may be there
            held = os.listdir(table) if os.path.isdir(table) else []
            foreign = sorted(set(held) - {_LOG_DIR, _DATA_DIR})
            if foreign:
                raise ValueError(
                    f"{table!r} is not a txlog table: it holds {foreign[:3]}"
                    f" besides {_LOG_DIR}/ and {_DATA_DIR}/; refusing a first"
                    " commit that would hide them — move them out or commit"
                    " to a new directory"
                )
            os.makedirs(_log_path(table), exist_ok=True)
        version = (prior[-1] + 1) if prior else 0
        if expected_base_version is not None and version - 1 != expected_base_version:
            # read-modify-write callers must NOT retry over a base that
            # moved — blind retry would silently discard the concurrent
            # commit's rows (lost update) or, for the Silver ingest,
            # append a batch the concurrent commit already recorded
            raise CommitConflict(
                f"{table!r} moved past expected base version "
                f"{expected_base_version} (now at "
                f"{prior[-1] if prior else 'empty'})"
            )
        if corrupt_err is not None and prior:
            # the previous attempt rolled back over a corrupt base and
            # retried to heal the transient retracted-version race —
            # if the latest snapshot is STILL unhealthy after a grace
            # pause, fail here before re-staging: each blind retry
            # costs a full data write plus a momentarily-visible
            # corrupt manifest concurrent readers can pin (code-review
            # r9 pass 2). The pause gives a stalled writer mid-rollback
            # time to retract (pass 3: the instant re-check was itself
            # a race); a manifest unlinked between listdir and open is
            # that retraction happening — treat as healed and proceed.
            time.sleep(0.2)
            try:
                healthy = all(
                    os.path.exists(f) for f in snapshot(table).files
                )
            except FileNotFoundError:
                healthy = True  # state moved under us: re-read next pass
            if not healthy:
                raise corrupt_err  # the corrupt-base RuntimeError,
                # captured at detection (last_err may since have been
                # overwritten by an unrelated CommitConflict)
            corrupt_err = None  # healed: back to the normal path
        # pin the base before staging: reading it also refuses a manifest
        # an older release wrote, before anything is written
        base = snapshot(table).files if prior else ()
        if mode == "overwrite":
            base = ()
        # staging name carries (pid, per-process seq): unique per WRITER,
        # not just per (version, attempt) — two concurrent writers racing
        # to the same version must never share a staging directory
        stage = os.path.join(
            table,
            _DATA_DIR,
            f"v{version:08d}-{os.getpid()}-{next(_STAGE_SEQ)}",
        )
        df.write.mode("error").parquet(stage)
        _fsync_tree(stage)  # data durable BEFORE the manifest can be
        files = _parquet_files(stage)
        manifest = {
            "version": version,
            "mode": mode,
            "files": [*base, *files],
            "schema": df.schema.json(),
        }
        if metadata:
            manifest["metadata"] = metadata
        # writer-unique temp name (pid + per-process seq): two racing
        # writers must never share the pre-commit manifest path either
        tmp = os.path.join(
            _log_path(table),
            f".tmp-{version:08d}-{os.getpid()}-{next(_STAGE_SEQ)}",
        )
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            # durability: the manifest's BYTES must be on stable storage
            # before the link makes it visible — otherwise a power loss
            # can leave a visible-but-empty manifest (torn commit)
            fh.flush()
            os.fsync(fh.fileno())
        target = _manifest_file(table, version)
        # atomic, fails-if-exists commit point: exactly one writer wins
        # a version (rename with a pre-existence check has a TOCTOU
        # window, so rely on link(2) semantics). The try covers ONLY the
        # link — the commit is DECIDED the instant it succeeds, so no
        # later cleanup error may re-enter the retry loop (a retry after
        # a successful link would commit the same rows twice).
        try:
            os.link(tmp, target)
        except FileExistsError as exc:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
            last_err = CommitConflict(
                f"version {version} of {table!r} was committed concurrently"
            )
            last_err.__cause__ = exc
            continue  # retry against the refreshed snapshot
        except FileNotFoundError as exc:
            # a concurrent vacuum swept our tmp manifest between write
            # and link — indistinguishable from losing the race; retry
            last_err = CommitConflict(
                f"tmp manifest for version {version} of {table!r} was"
                " swept concurrently (vacuum)"
            )
            last_err.__cause__ = exc
            continue
        # linked — but guard the one remaining corruption window: a
        # writer stalled longer than the vacuum retention between
        # staging and linking may have had its staged DATA reclaimed
        # (the tmp-manifest ENOENT path only catches the tmp sweep).
        # Verify EVERY file the manifest references — the new ones AND
        # the inherited base: a concurrent appender may have pinned a
        # soon-to-be-retracted version as its base (the version IS
        # momentarily visible between link and rollback), and checking
        # only its own new files would let it commit a manifest that
        # inherits dangling paths (ADVICE r8). If anything is missing,
        # roll the just-linked manifest back — a momentarily-visible-
        # then-retracted version beats a permanently corrupt one; a
        # reader or appender that pinned it in the window sees ENOENT /
        # rolls back in turn, which is the transient failure the
        # retention-window violation already implies.
        missing_new = [f for f in files if not os.path.exists(f)]
        missing_base = [f for f in base if not os.path.exists(f)]
        if missing_new or missing_base:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(target)
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
            if missing_base:
                # inherited files gone — but distinguish the TRANSIENT
                # race this very branch creates from genuine corruption:
                # the base we pinned may have been a momentarily-visible
                # version a stalled writer linked and then retracted
                # (the rollback above). Re-read the now-latest snapshot;
                # if ITS files are all present the pinned base was
                # merely retracted and a retry composes against a
                # healthy base. Hard-error only when the genuinely-
                # latest snapshot references missing data — a real
                # retention-window violation retries cannot heal, where
                # a silent retry would propagate dangling paths or let a
                # stalled writer's duplicate rows land (ADVICE r9).
                latest = _versions(table)
                base_healthy = (not latest) or all(
                    os.path.exists(f) for f in snapshot(table).files
                )
                if not base_healthy:
                    # even an unhealthy LATEST may be the other writer's
                    # not-yet-rolled-back poisoned version (it unlinks
                    # milliseconds after we looked) — so RETRY rather
                    # than raise, and hard-error only if the corruption
                    # outlives every attempt (code-review r9; the
                    # post-loop raise preserves the r8 contract for
                    # genuine retention-window violations)
                    corrupt_err = RuntimeError(
                        f"base snapshot of {table!r} references missing"
                        f" data files (retention-window violation"
                        f" upstream); refusing to commit over a corrupt"
                        f" base: {missing_base[:3]}"
                    )
                    last_err = corrupt_err
                    continue
                last_err = CommitConflict(
                    f"base version pinned for {table!r} was retracted by"
                    " a concurrent writer's rollback; retrying against"
                    " the refreshed snapshot"
                )
                continue
            last_err = CommitConflict(
                f"staged data for version {version} of {table!r} was"
                " vacuumed while the writer was stalled (exceeded the"
                " retention window); restaging"
            )
            continue
        # committed. tmp cleanup is best-effort (vacuum may have beaten
        # us to it — the TARGET link is what the table reads).
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        # durability: persist the directory entry too — rename/link is
        # atomic in the VFS but not durable until the log dir's metadata
        # is synced (the same two-fsync protocol journaling filesystems
        # and Delta's LogStore both require)
        dir_fd = os.open(_log_path(table), os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)
        return TxSnapshot(
            version=version,
            mode=mode,
            files=tuple(manifest["files"]),
            metadata=dict(metadata or {}),
            schema=manifest["schema"],
            added=tuple(files),
        )
    raise last_err if last_err else RuntimeError("commit failed")


def compact(spark: SparkSession, table: str) -> TxSnapshot:
    """Delta's OPTIMIZE for this stand-in: rewrite the live snapshot as
    ONE overwrite commit, collapsing the per-commit staging dirs (and
    their small files) into a single stage. Time travel to pre-compact
    versions keeps working until ``vacuum`` reclaims them.

    Read-modify-write safety: the overwrite is pinned to the snapshot
    version it read (``expected_base_version``) — if a concurrent
    append lands first, this raises :class:`CommitConflict` instead of
    silently overwriting the table with pre-append data (the lost-
    update Delta's OPTIMIZE also refuses). Callers retry the whole
    compact (re-read + re-commit)."""
    snap = snapshot(table)
    df = read(spark, table, merge_schema=True)
    return commit(
        df,
        table,
        "overwrite",
        expected_base_version=snap.version,
        metadata=snap.metadata,
    )


def vacuum(
    table: str, keep_last: int = 2, *, retention_seconds: float = 3600.0
) -> list[str]:
    """Delete data files unreferenced by the ``keep_last`` newest
    manifests (and drop the older manifests) — the only destructive
    operation; readers pinned to a vacuumed version lose it, exactly
    like Delta's VACUUM. Deletes only under ``data/`` and ``_txlog/``,
    never anything else in the table directory. Returns the deleted
    parquet paths.

    ``retention_seconds`` protects everything RECENT (Delta's retention
    check, default 1 h here vs Delta's 7 days), uniformly:

    - staging dirs and ``.tmp-*`` manifests younger than the window are
      never touched (a fresh unreferenced dir may be an in-flight
      commit that has not linked its manifest yet);
    - COMMITTED manifests younger than the window are RETAINED even
      beyond ``keep_last`` — and their files count as live — so recent
      time travel keeps working.

    Lower it below any plausible write duration (e.g. 0 in tests) only
    when no writer can be live.

    A dead staging dir is removed wholesale (shutil.rmtree) — Spark
    writes ``_SUCCESS``/``.crc`` sidecars alongside the parquet, so an
    ``os.rmdir`` after deleting only ``*.parquet`` would never fire and
    dead dirs would accumulate (ADVICE r6)."""
    if keep_last < 1:
        raise ValueError(
            f"vacuum: keep_last must be >= 1 (the live version can never"
            f" be reclaimed), got {keep_last}"
        )
    table = _table_path(table)
    versions = _versions(table)
    if not versions:
        return []
    cutoff = time.time() - retention_seconds
    # retained = the keep_last newest, plus EVERY version still inside
    # the retention window (time travel stays intact there)
    keep = set(versions[-keep_last:])
    for v in versions:
        if os.path.getmtime(_manifest_file(table, v)) > cutoff:
            keep.add(v)
    live: set[str] = set()
    for v in sorted(keep):
        live.update(snapshot(table, v).files)
    deleted: list[str] = []
    data_root = os.path.join(table, _DATA_DIR)
    for sub in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        subdir = os.path.join(data_root, sub)
        parquet = list(_parquet_files(subdir))
        if all(f not in live for f in parquet):
            # no live file in this staging dir — but only reclaim it if
            # it is OLDER than the retention window (a fresh dir may be
            # an in-flight commit that has not linked its manifest yet)
            if os.path.getmtime(subdir) > cutoff:
                continue
            deleted.extend(parquet)
            shutil.rmtree(subdir)
            continue
        for f in parquet:
            if f not in live:
                os.unlink(f)
                deleted.append(f)
    for v in versions:
        if v not in keep:
            os.unlink(_manifest_file(table, v))
    log = _log_path(table)
    for name in os.listdir(log):
        p = os.path.join(log, name)
        if name.startswith(".tmp-") and os.path.getmtime(p) <= cutoff:
            os.unlink(p)
    return deleted
