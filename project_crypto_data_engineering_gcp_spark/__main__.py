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

    k = sub.add_parser("compact", help="compact a parquet table's small files")
    k.add_argument("--path", required=True)
    k.add_argument(
        "--target-mb",
        type=int,
        default=None,
        help="target file size (default 256; plain-parquet mode only)",
    )
    k.add_argument("--sort-by", default=None, help="comma-separated clustering columns")
    k.add_argument(
        "--tx",
        action="store_true",
        help="treat --path as a txlog history table: OPTIMIZE-style"
        " single-commit rewrite (tx_table.compact), optionally followed"
        " by --vacuum-keep",
    )
    k.add_argument(
        "--vacuum-keep",
        type=int,
        default=None,
        metavar="N",
        help="with --tx: vacuum manifests/files beyond the newest N versions"
        " (manifests and data inside the retention window are kept)",
    )
    k.add_argument(
        "--vacuum-retention-hours",
        type=float,
        default=1.0,
        metavar="H",
        help="with --tx --vacuum-keep: protect staging dirs, tmp manifests,"
        " and committed versions younger than H hours (in-flight commits,"
        " recent time travel). Lower only when no"
        " writer can be live.",
    )
    k.add_argument(
        "--bucket-by",
        default=None,
        metavar="KEY",
        help="convert the table to a BUCKETED layout hash-clustered on"
        " KEY (requires --out; the one-time pre-shuffle that makes every"
        " later join/agg on KEY exchange-free — SCALE.md 'PageRank over"
        " bucketed storage': x100 iterative reads drop 84->15 s with no"
        " resident cache). Readers come back through"
        " sources.bucketing.register_bucketed / spark.table.",
    )
    k.add_argument(
        "--buckets", type=int, default=64,
        help="bucket count with --bucket-by (fixed for the table's"
        " lifetime — size it like shuffle parallelism at full scale)",
    )
    k.add_argument(
        "--out", default=None,
        help="with --bucket-by: output directory for the bucketed table"
        " (the source is never touched)",
    )
    k.add_argument(
        "--table", default=None,
        help="with --bucket-by: catalog name (default: derived from --out)",
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

    g = sub.add_parser(
        "graph",
        help="run an iterative graph query with the at-scale switches"
        " exposed (config.py; SCALE.md has the measurements)",
    )
    g.add_argument(
        "--query",
        required=True,
        choices=[
            "graph_pagerank",
            "graph_kcore",
            "graph_label_propagation",
            "graph_bfs_distances",
        ],
    )
    g.add_argument("--sf-dir", required=True, help="testdata dir (parquet tables)")
    g.add_argument(
        "--edge-partitions",
        type=int,
        default=None,
        help="co-partitioned iterative mode (pagerank/LPA/BFS): cache the"
        " loop-invariant edge frame pre-partitioned+pre-sorted so each"
        " round exchanges only the node-sized frame. Bit-identical output."
        " SCALE.md switch point: WINS in the data-bound regime (pagerank"
        " 0.37x at 60M edges, LPA 0.62x at x16) and LOSES at"
        " round-latency-floor scale (1.15x at sf0.1) — set to the"
        " cluster's shuffle parallelism at ~10M+ edges, omit below",
    )
    g.add_argument(
        "--no-broadcast-survivors",
        action="store_true",
        help="k-core: per-round survivor filters become shuffle SEMI-joins"
        " instead of broadcasts — identical results; the honest path when"
        " a billion-node survivor domain cannot fit in executor memory"
        " (SCALE.md 'kcore shuffle-semi-join survivor path')",
    )
    g.add_argument("-n", type=int, default=10, help="rows to print")
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
            if args.bucket_by:
                if args.tx:
                    raise SystemExit(
                        "compact --bucket-by converts a plain parquet"
                        " table; it does not compose with --tx (compact"
                        " the txlog snapshot first, then bucketize its"
                        " read)"
                    )
                if args.sort_by is not None or args.target_mb is not None:
                    raise SystemExit(
                        "compact --bucket-by clusters by the bucket key"
                        " and sizes files by bucket count; --sort-by/"
                        "--target-mb apply only to plain-parquet"
                        " compaction (same refusal policy as --tx:"
                        " never silently drop a clustering request)"
                    )
                if not args.out:
                    raise SystemExit("compact --bucket-by requires --out")
                if args.buckets <= 0:
                    raise SystemExit("compact --bucket-by: --buckets must be positive")
                import re as _re

                from .sources.bucketing import bucketize_table

                name = args.table or _re.sub(
                    r"\W+", "_", os.path.basename(args.out.rstrip("/"))
                )
                n = bucketize_table(
                    spark,
                    args.path,
                    args.out,
                    name,
                    buckets=args.buckets,
                    key=args.bucket_by,
                )
                print(
                    f"bucketized {n} rows into {args.buckets} buckets"
                    f" on {args.bucket_by} as table {name}"
                )
            elif args.tx:
                if args.sort_by is not None or args.target_mb is not None:
                    raise SystemExit(
                        "compact --tx rewrites the txlog snapshot whole;"
                        " --sort-by/--target-mb apply only to plain-parquet"
                        " mode (run them via the non-tx compact on the"
                        " table's files, then compact --tx)"
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
        elif args.cmd == "graph":
            from .config import (
                _BROADCAST_SURVIVORS_VAR,
                _EDGE_PARTITIONS_VAR,
            )

            # the queries read the switches from config.py's env vars —
            # the CLI flags are just a front end, so a scheduler can set
            # the same vars directly on a submitted job
            if args.edge_partitions is not None:
                os.environ[_EDGE_PARTITIONS_VAR] = str(args.edge_partitions)
            if args.no_broadcast_survivors:
                os.environ[_BROADCAST_SURVIVORS_VAR] = "0"
            from .plans import all_queries

            df = all_queries()[args.query].fn(spark, args.sf_dir)
            # node-sized result: persist so show() + count() run the
            # iterative job ONCE, not twice (code-review r9 — at the
            # 60M-edge regime the rerun doubles minutes of wall clock)
            df.persist()
            try:
                df.show(args.n, truncate=False)
                print(f"{args.query} rows: {df.count()}")
            finally:
                df.unpersist()
        return 0
    finally:
        if existing is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
