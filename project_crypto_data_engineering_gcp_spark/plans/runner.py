"""Pipeline runner: the engine's control plane (replaces the reference's
Airflow DAG + Cloud Run + Dataproc submission, `4-dag_assats-list-full.py`).

One driver process runs the stages sequentially; each stage is a plain
function over DataFrames so the same code runs under any scheduler.

Sink layout. The txlog history tables and the hard-linked serving
copies need a local POSIX filesystem (``os.link``, ``os.walk``); an out
dir with a URI scheme (``s3a://...``) is refused before anything is
written:

  out/silver/assets/...                 append; dt (snapshot date) is a column
  out/gold/_latest/                     latest-row-per-asset state (overwrite)
  out/gold/history/<table>/...          append (reference Delta mode, Q4)
  out/gold/serving/<table>/...          overwrite (reference BigQuery mode):
                                        hard links to the files of the
                                        history append + _schema.json

Silver is unpartitioned, as the reference lands it (2:65): ``dt`` is an
ordinary column, so every read of a snapshot is one parquet scan. A
date-bounded query's filter on ``dt`` is pushed to that scan, where
parquet row-group statistics skip the groups outside the range.

An hourly cycle costs the new snapshot, not the history:

- Silver: the landing glob is listed on the driver and the files the
  latest Silver commit records (its ingest record, ``sources/ledger.py``)
  subtracted; only the new files are parsed. Nothing new returns before
  any Spark job starts.
- Gold: latest-per-asset is an argmax, a mergeable aggregate. The
  ``_latest`` state holds the argmax rows, and each of its commits
  records the Silver version it covers (``silver_version`` in the commit
  metadata). A cycle merges that state with only the Silver rows added
  since — the manifest file-set difference — so late, out-of-order or
  re-landed snapshots fold in exactly as a full recompute would. With no
  usable state or diff (first run, a compacted or vacuumed Silver, a
  lost ``_latest`` dir) the same code reads all of Silver with no prior
  state: the full recompute.
- Each Gold frame is computed and written once, by its history append;
  the serving copy links the files that append wrote (``sinks.write_serving``),
  so the dashboard reads it with a pinned schema and no inference job.
  The four Gold tables commit concurrently: at this size a cycle costs
  per-write and per-job overhead, not data.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.hadoop_fs import as_path, glob_files
from ..sources.json_source import read_raw_json
from ..sources.ledger import filter_new_files, record_ingested, recorded_files
from ..sources import tx_table
from ..sources.sinks import (
    history_snapshot,
    read_history,
    read_table,
    write_history,
    write_serving,
)
from .crypto_pipeline import (
    bronze_to_silver,
    dashboard,
    daily_overview,
    latest_assets,
    market_dominance,
    supply_dynamics,
    top_gainers_losers,
)

GOLD_BUILDERS = {
    "daily_overview": daily_overview,
    "top_gainers_losers": top_gainers_losers,
    "market_dominance": market_dominance,
    "supply_dynamics": supply_dynamics,
}


def silver_path(out_dir: str) -> str:
    return os.path.join(out_dir, "silver", "assets")


def latest_state_path(out_dir: str) -> str:
    return os.path.join(out_dir, "gold", "_latest")


def run_silver(
    spark: SparkSession,
    landing_glob: str,
    out_dir: str,
    processed_at: str | None = None,
    *,
    require_input: bool = False,
) -> int:
    """Bronze -> Silver increment: parse the landed files the Silver
    ingest record lacks and append their rows, together with the grown
    record, in ONE atomic txlog commit (every batch is a time-travelable
    version, reference S5 `2:65`).
    Returns rows appended.

    Exactly-once: the commit is pinned to the Silver version the record
    was read from, and nothing is written after it, so a crash at any
    point neither loses nor duplicates rows. A concurrent writer that
    commits first makes this commit fail with nothing visible; the next
    run ingests whatever is still missing. New files whose document does
    not parse are recorded as quarantined in the same commit, so they
    are parsed once (``read_corrupt_json`` still lists them); a batch
    with no good rows commits an empty append that carries the record.

    A Silver table with commits but no record (an older release wrote
    it) raises instead of re-ingesting every landed file into it.

    ``require_input=True`` replays the reference's landing-validation
    gate (S10, the DAG's poll-for-files sensor `4-dag:53-81`): fail
    loudly when the glob matches NO snapshot files at all, instead of
    silently writing no Silver rows. With ``require_input=False`` an
    unmatched glob is a graceful no-op (0 rows) — the shape a poller
    wants. Already-recorded files always count as input — a rerun over
    fully-processed landings stays a no-op either way, and starts no
    Spark job (listing and record are driver-side metadata)."""
    landed = glob_files(spark, landing_glob)
    if not landed:
        if require_input:
            raise FileNotFoundError(
                f"landing glob {landing_glob!r} matched no snapshot files "
                "(reference S10 validation gate; pass require_input=False "
                "to allow an empty landing)"
            )
        return 0
    spath = silver_path(out_dir)
    snap = history_snapshot(spath)
    prior = snap.metadata if snap else {}
    seen = recorded_files(prior) if snap else frozenset()
    if seen is None:
        raise ValueError(
            f"Silver table {spath!r} has commits but no ingest record (written"
            " by an older release?); refusing to re-ingest every landed file"
            " into it — migrate it or start a new output directory"
        )
    new = filter_new_files(landed, seen)
    if not new:
        return 0

    raw = read_raw_json(spark, landing_glob, new)
    parsed: set[str] = set()
    n = 0
    for f, size in raw.select("_source_file", F.size("data")).collect():
        parsed.add(as_path(f))
        n += max(size or 0, 0)
    # quirk Q3: data_referencia is a string; the dt column derives from it
    silver = bronze_to_silver(raw, processed_at).withColumn(
        "dt", F.substring("data_referencia", 1, 10)
    )
    write_history(
        silver.drop("_source_file"),
        spath,
        metadata=record_ingested(
            prior, parsed, quarantined=[f for f in new if f not in parsed]
        ),
        expected_base_version=snap.version if snap else -1,
    )
    return n


def _silver_since_state(
    spark: SparkSession, out_dir: str
) -> tuple[DataFrame, DataFrame | None, int | None]:
    """(Silver rows the ``_latest`` state has not seen, that state or
    None, the Silver version they reach). Both tables are pinned to the
    versions read here, so a concurrent commit cannot tear the pair."""
    spath, state_path = silver_path(out_dir), latest_state_path(out_dir)
    silver_snap = history_snapshot(spath)
    version = silver_snap.version if silver_snap else None
    state = history_snapshot(state_path)
    covered = state.metadata.get("silver_version") if state else None
    added = None
    if covered is not None and version is not None:
        added = tx_table.read_added(spark, spath, covered, version)
    if added is None:  # no usable state or diff: the full recompute
        return read_history(spark, spath, version=version), None, version
    return added, read_history(spark, state_path, version=state.version), version


def run_gold(
    spark: SparkSession, out_dir: str, analysis_at: str | None = None
) -> dict[str, DataFrame]:
    """Silver -> Gold: the latest-snapshot view (the ``_latest`` argmax
    state merged with the Silver rows added since it was written), then
    the dual history/serving sinks (quirk Q4).

    Commit order: the new state first, alone (it materialises the cached
    view every table reads); then the four Gold tables concurrently, one
    thread each, whose jobs inherit the caller's job group, local
    properties and session tags. Within a table the history append
    commits before the serving copy is published from its files. A
    failing table does not stop the others: every table is attempted,
    then the first error (in ``GOLD_BUILDERS`` order) is raised, noting
    any other. A crash after the state commit leaves a state that
    already covers the new Silver rows; the rerun finds nothing added
    and rebuilds Gold from the state alone."""
    rows, prior, version = _silver_since_state(spark, out_dir)
    latest = latest_assets(rows.drop("dt"), prior=prior)

    def commit_table(name: str, build) -> DataFrame:
        df = build(latest, analysis_at=analysis_at)
        added = write_history(df, os.path.join(out_dir, "gold", "history", name))
        write_serving(df, os.path.join(out_dir, "gold", "serving", name), added)
        return df

    try:
        write_history(
            latest,
            latest_state_path(out_dir),
            mode="overwrite",
            metadata={"silver_version": version},
        )
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=len(GOLD_BUILDERS)) as pool:
            tasks = {
                name: pool.submit(inherit(commit_table), name, build)
                for name, build in GOLD_BUILDERS.items()
            }
    finally:
        latest.unpersist()
    errors = [e for e in (task.exception() for task in tasks.values()) if e]
    for other in errors[1:]:
        errors[0].add_note(f"another Gold table failed too: {other!r}")
    if errors:
        raise errors[0]
    return {name: task.result() for name, task in tasks.items()}


def read_silver(
    spark: SparkSession, out_dir: str, version: int | None = None
) -> DataFrame:
    """Read the Silver table; ``version`` time-travels to an older
    ingest batch (the txlog manifest pin)."""
    return read_history(spark, silver_path(out_dir), version=version)


def read_gold_history(
    spark: SparkSession, out_dir: str, name: str, version: int | None = None
) -> DataFrame:
    """Read a gold HISTORY table with schema merging across appends
    (reference S7 `3:86-90`: Delta merges schema at write; the txlog
    resolves the union schema at READ — older rows surface NULL for
    columns added later). ``version`` time-travels to an older append."""
    return read_history(
        spark,
        os.path.join(out_dir, "gold", "history", name),
        version=version,
        merge_schema=True,
    )


def run_dashboard(spark: SparkSession, out_dir: str) -> DataFrame:
    """Dashboard view over the SERVING gold copies (reference `5-sql`)."""
    gold = {
        name: read_table(spark, os.path.join(out_dir, "gold", "serving", name))
        for name in GOLD_BUILDERS
    }
    return dashboard(spark, gold)


def run_pipeline(
    spark: SparkSession,
    landing_glob: str,
    out_dir: str,
    *,
    processed_at: str | None = None,
    analysis_at: str | None = None,
) -> DataFrame:
    """Full batch run: ingest -> silver -> gold -> dashboard DataFrame.
    Fails on an empty landing (reference S10 gate) — a full pipeline run
    over nothing is an orchestration error, not a no-op."""
    run_silver(
        spark, landing_glob, out_dir, processed_at=processed_at, require_input=True
    )
    run_gold(spark, out_dir, analysis_at=analysis_at)
    return run_dashboard(spark, out_dir)
