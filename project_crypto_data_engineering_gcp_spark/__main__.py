"""CLI entry point — the replacement for the reference's control plane.

A reference user today triggers: Pub/Sub -> Cloud Run fetch -> two
Dataproc batch submissions -> BigQuery SQL. Here the same lifecycle is:

    python -m project_crypto_data_engineering_gcp_spark ingest  --landing DIR [--fixture]
    python -m project_crypto_data_engineering_gcp_spark run     --landing DIR --out DIR
    python -m project_crypto_data_engineering_gcp_spark stream  --landing DIR --out DIR
    python -m project_crypto_data_engineering_gcp_spark dashboard --out DIR [-n 20]

`run` = batch medallion (Silver append of the files the Silver ingest
record lacks -> four Gold tables, dual history/serving sinks -> dashboard
row count); it fails on an empty landing. `stream` = the poller's
increment: the same Silver append, allowed to find nothing, then the
Gold rebuild only when rows were appended. `ingest` fetches
one snapshot (CoinCap by default, deterministic fixture with --fixture)
into the landing dir.

Maintenance and corpus verbs ride alongside: `curate` (training-data
shards from a testdata dir), `compact` (a `--path` holding `_txlog/` is a
txlog table: single-commit rewrite, then an optional vacuum; any other
path gets plain-parquet small-file compaction), `build-lsh-index` and
`dedup-stream` (the persisted-index incremental near-dedup).
"""

from __future__ import annotations

import argparse
import os
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="project_crypto_data_engineering_gcp_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="fetch one market snapshot into the landing dir")
    ing.add_argument("--landing", required=True)
    ing.add_argument("--fixture", action="store_true",
                     help="use the deterministic built-in fixture instead of the live API")
    ing.add_argument("--api-key", default=None)

    for name in ("run", "stream"):
        s = sub.add_parser(name, help=f"{name} the medallion pipeline")
        s.add_argument("--landing", required=True)
        s.add_argument("--out", required=True)

    d = sub.add_parser("dashboard", help="print the dashboard view")
    d.add_argument("--out", required=True)
    d.add_argument("-n", type=int, default=20)

    c = sub.add_parser(
        "curate", help="run the training-data curation pipeline over a testdata dir"
    )
    c.add_argument("--sf-dir", required=True, help="testdata dir with documents.parquet")
    c.add_argument("--out", required=True)

    k = sub.add_parser(
        "compact",
        help="compact a table's small files: a txlog table (--path holds"
        " _txlog/) gets an OPTIMIZE-style single-commit rewrite"
        " (tx_table.compact), any other path a plain-parquet rewrite",
    )
    k.add_argument("--path", required=True)
    k.add_argument(
        "--target-mb",
        type=int,
        default=None,
        help="target file size (default 256; plain-parquet tables only)",
    )
    k.add_argument(
        "--sort-by",
        default=None,
        help="comma-separated clustering columns (plain-parquet tables only)",
    )
    k.add_argument(
        "--vacuum-keep",
        type=int,
        default=None,
        metavar="N",
        help="txlog tables only: vacuum manifests/files beyond the newest N"
        " versions (manifests and data inside the retention window are kept)",
    )
    k.add_argument(
        "--vacuum-retention-hours",
        type=float,
        default=1.0,
        metavar="H",
        help="with --vacuum-keep: protect staging dirs, tmp manifests,"
        " and committed versions younger than H hours (in-flight commits,"
        " recent time travel). Lower only when no"
        " writer can be live.",
    )

    bi = sub.add_parser(
        "build-lsh-index",
        help="bootstrap the persisted LSH band index over a dataset's"
        " accumulated corpus slice, so incremental dedup serving calls"
        " (dedup_minhash_incremental) pay batch cost only — the"
        " build-vs-serve split, same policy as the IVF index",
    )
    bi.add_argument("--sf-dir", required=True, help="testdata dir with documents.parquet")
    bi.add_argument(
        "--out", default=None,
        help="explicit index location; default: the dataset-keyed STABLE"
        " path (stable_minhash_index_path), so a separate serving"
        " process finds the artifact without rebuilding — pass a custom"
        " path to pin it elsewhere",
    )

    ds = sub.add_parser(
        "dedup-stream",
        help="incrementally near-dedup a parquet landing dir of (doc_id, text)"
        " files against the persisted LSH band index",
    )
    ds.add_argument("--landing", required=True, help="parquet file/dir glob")
    ds.add_argument("--state", required=True, help="band-index state dir")
    ds.add_argument("--max-files-per-trigger", type=int, default=1)

    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.cmd == "ingest":
        from .sources.http_source import default_fetcher, ingest_snapshot

        if args.fixture:
            from .fixtures import snapshot_payload

            fetch = lambda: snapshot_payload(0)  # noqa: E731
        else:
            fetch = default_fetcher(api_key=args.api_key)
        path = ingest_snapshot(fetch, args.landing)
        print(f"landed {path}")
        return 0

    from pyspark.sql import SparkSession

    from .session import get_spark

    # reuse an active session when embedded (tests, notebooks); own the
    # lifecycle only when we created it
    existing = SparkSession.getActiveSession()
    spark = existing or get_spark(f"spark_graft_{args.cmd}")
    try:
        if args.cmd == "run":
            from .plans.runner import run_pipeline

            dash = run_pipeline(spark, f"{args.landing}/coincap_data_*.json", args.out)
            print(f"dashboard rows: {dash.count()}")
        elif args.cmd == "stream":
            from .plans.runner import run_gold, run_silver

            rows = run_silver(
                spark, f"{args.landing}/coincap_data_*.json", args.out, require_input=False
            )
            if rows:
                run_gold(spark, args.out)
            print(f"silver rows appended: {rows}")
        elif args.cmd == "dashboard":
            from .plans.runner import run_dashboard

            run_dashboard(spark, args.out).show(args.n, truncate=False)
        elif args.cmd == "curate":
            from .plans.curation_pipeline import curate_training_shards

            manifest = curate_training_shards(spark, args.sf_dir, args.out)
            for k, v in manifest.items():
                print(f"{k}: {v}")
        elif args.cmd == "compact":
            if os.path.isdir(os.path.join(args.path, "_txlog")):
                if args.sort_by is not None or args.target_mb is not None:
                    raise SystemExit(
                        f"compact: {args.path} is a txlog table, rewritten"
                        " whole; --sort-by/--target-mb apply only to"
                        " plain-parquet tables"
                    )
                from .sources import tx_table

                snap = tx_table.compact(spark, args.path)
                msg = f"compacted to version {snap.version} ({len(snap.files)} files)"
                if args.vacuum_keep is not None:
                    swept = tx_table.vacuum(
                        args.path,
                        keep_last=args.vacuum_keep,
                        retention_seconds=args.vacuum_retention_hours * 3600.0,
                    )
                    msg += f"; vacuumed {len(swept)} files"
                print(msg)
            else:
                if args.vacuum_keep is not None:
                    raise SystemExit(
                        f"compact: {args.path} is not a txlog table (no"
                        " _txlog/); --vacuum-keep applies only to txlog tables"
                    )
                from .sources.maintenance import compact_table

                sort_cols = args.sort_by.split(",") if args.sort_by else None
                target_mb = 256 if args.target_mb is None else args.target_mb
                if target_mb <= 0:
                    raise SystemExit("compact: --target-mb must be positive")
                n = compact_table(
                    spark,
                    args.path,
                    target_file_bytes=target_mb * 1024 * 1024,
                    sort_cols=sort_cols,
                )
                print(f"compacted to {n} files")
        elif args.cmd == "build-lsh-index":
            from .plans.queries_dedup import (
                build_minhash_band_index,
                stable_minhash_index_path,
            )

            out = args.out or stable_minhash_index_path(args.sf_dir)
            path = build_minhash_band_index(spark, args.sf_dir, out=out)
            print(f"band index at {path}")
        elif args.cmd == "dedup-stream":
            from .streaming.dedup_stream import stream_incremental_dedup

            n = stream_incremental_dedup(
                spark,
                args.landing,
                args.state,
                max_files_per_trigger=args.max_files_per_trigger,
            )
            print(f"duplicate pairs emitted: {n}")
        return 0
    finally:
        if existing is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
