"""The benchmark's workloads: one op definition each, plus set-up,
correctness checks and per-layer counters.

A workload object lives for one process. ``generate_backlog`` writes the
seeded inputs (timed apart from set-up), ``setup`` runs the program-side
preload and warm-up, ``prepare`` does the untimed work before an op,
``op`` is the timed unit of a closed loop with one client, and
``final_check`` runs after the loop. ``install_tracing`` wraps the layer
entry points for a traced run.
"""

from __future__ import annotations

import glob as _glob
import os
import random
import shutil
import time

from gen_corpus import write_corpus_tables
from gen_crypto import ANALYSIS_AT, PROCESSED_AT, CoinCapGenerator
from project_crypto_data_engineering_gcp_spark.plans import runner
from project_crypto_data_engineering_gcp_spark.sources import json_source, tx_table
from spans import Tracer


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(root)
        for f in names
    )


def _stage_dirs(table: str, files) -> set[str]:
    data_root = os.path.join(os.path.realpath(table), "data")
    return {os.path.relpath(f, data_root).split(os.sep)[0] for f in files}


class OpResult:
    __slots__ = ("rows", "error")

    def __init__(self, rows: int, error: str | None = None) -> None:
        self.rows = rows
        self.error = error


# ---------------------------------------------------------------- medallion


class Medallion:
    """Shared machinery of the CoinCap medallion workloads: landing,
    ingest, Gold rebuild, dashboard, their checks and counters."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, n_assets: int, history: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.gen = CoinCapGenerator(seed, n_assets)
        self.n_assets = n_assets
        self.history = history
        self.landing = os.path.join(work, "landing")
        self.out = os.path.join(work, "out")
        self.glob = os.path.join(self.landing, "coincap_data_*.json")
        self.landed_bytes = 0  # JSON bytes landed and ingested into self.out
        self.snapshots_in_out = 0
        self.latest_k = -1
        self._ingested: set[str] = set()
        self.check_s = 0.0  # oracle time spent inside set-up (none here)

    # -- inputs (outside set-up time) --
    def generate_backlog(self) -> None:
        for k in range(self.history):
            self.gen.land(k, self.landing)
        self.latest_k = self.history - 1

    def pass_complete(self) -> bool:
        return True

    # -- the pipeline steps, each a span --
    def silver(self) -> int:
        with self.tracer.span("runner.run_silver"):
            return runner.run_silver(self.spark, self.glob, self.out, PROCESSED_AT)

    def cycle(self) -> OpResult:
        """run_silver -> run_gold -> dashboard; checks the row counts."""
        appended = self.silver()
        with self.tracer.span("runner.run_gold"):
            runner.run_gold(self.spark, self.out, ANALYSIS_AT)
        with self.tracer.span("runner.run_dashboard"):
            dash = runner.run_dashboard(self.spark, self.out).count()
        return OpResult(appended, self._row_error(appended, dash))

    def _row_error(self, appended: int, dash: int) -> str | None:
        expected = self.n_assets * self.new_snapshots
        if appended != expected:
            return f"silver appended {appended} rows, expected {expected}"
        if dash != self.n_assets:
            return f"dashboard has {dash} rows, expected {self.n_assets}"
        return None

    # -- end-of-run correctness --
    def final_check(self) -> list[str]:
        from gold_oracle import check_gold

        errors = check_gold(self.spark, self.out, self.gen.payload(self.latest_k))
        silver_rows = runner.read_silver(self.spark, self.out).count()
        if silver_rows != self.n_assets * self.snapshots_in_out:
            errors.append(
                f"silver holds {silver_rows} rows, expected "
                f"{self.n_assets * self.snapshots_in_out}"
            )
        rerun = runner.run_silver(self.spark, self.glob, self.out, PROCESSED_AT)
        if rerun != 0:
            errors.append(f"ledger rerun appended {rerun} rows, expected 0")
        return errors

    # -- tracing --
    def install_tracing(self) -> None:
        t = self.tracer
        t.wrap(runner, "read_raw_json", "json_source.read_raw_json", self._on_read_raw)
        t.wrap(runner, "filter_new_files", "ledger.filter_new_files")
        t.wrap(runner, "record_ingested", "ledger.record_ingested")
        t.wrap(runner, "write_history", "sinks.write_history")
        t.wrap(runner, "read_history", "sinks.read_history")
        t.wrap(runner, "latest_assets", "crypto_pipeline.latest_assets")
        t.wrap(runner, "dashboard", "crypto_pipeline.dashboard")
        t.wrap(tx_table, "commit", "tx_table.commit", self._on_commit)
        t.wrap(tx_table, "read", "tx_table.read", self._on_read_table)
        t.wrap(json_source, "write_raw_snapshot", "json_source.write_raw_snapshot")

    def _on_read_raw(self, span, args, kwargs, result) -> None:
        files = sorted(_glob.glob(args[1]))
        new = [f for f in files if f not in self._ingested]
        span.attrs.update(
            files_read=len(files),
            bytes_read=sum(os.path.getsize(f) for f in files),
            new_files=len(new),
            new_bytes=sum(os.path.getsize(f) for f in new),
        )
        self._ingested.update(files)

    def _on_commit(self, span, args, kwargs, snap) -> None:
        stage = f"{os.sep}v{snap.version:08d}-"  # this commit's stage dir
        span.attrs["bytes_written"] = sum(os.path.getsize(f) for f in snap.files if stage in f)

    def _on_read_table(self, span, args, kwargs, result) -> None:
        # a partitioned table reads as one scan per staging dir
        snap = tx_table.snapshot(args[1])
        span.attrs["stages"] = len(_stage_dirs(args[1], snap.files)) if snap.partition_by else 1

    def op_counters(self, op: int) -> dict:
        """Filesystem counters of one op, from the spans' attributes."""
        t = self.tracer
        reads = t.of("json_source.read_raw_json", op)
        commits = t.of("tx_table.commit", op)
        tbl_reads = t.of("tx_table.read", op)
        files = sum(s.attrs["files_read"] for s in reads)
        return {
            "json_source.files_read": files,
            "json_source.bytes_read": sum(s.attrs["bytes_read"] for s in reads),
            "json_source.new_bytes": sum(s.attrs["new_bytes"] for s in reads),
            "json_source.useful_file_ratio": (
                sum(s.attrs["new_files"] for s in reads) / files if files else 0.0
            ),
            "tx_table.commits": len(commits),
            "tx_table.bytes_written": sum(s.attrs["bytes_written"] for s in commits),
            "tx_table.stages_per_read": max((s.attrs["stages"] for s in tbl_reads), default=0),
            **self.txlog_listing(),
            "ledger.rows": self.ledger_rows(),
            "gold.rows_scanned": self.n_assets * self.snapshots_in_out,
            "gold.useful_row_ratio": self.new_snapshots / self.snapshots_in_out,
        }

    def txlog_listing(self) -> dict:
        """Manifests and staging dirs of every txlog table under the
        output dir (both grow by one per commit)."""
        manifests = stage_dirs = 0
        for d, subdirs, names in os.walk(self.out):
            if os.path.basename(d) == "_txlog":
                manifests += sum(n.endswith(".json") for n in names)
            elif os.path.isdir(os.path.join(os.path.dirname(d), "_txlog")) and os.path.basename(d) == "data":
                stage_dirs += len(subdirs)
        return {"tx_table.manifests": manifests, "tx_table.stage_dirs": stage_dirs}

    def ledger_rows(self) -> int:
        import pyarrow.parquet as pq

        path = os.path.join(self.out, "_ingest_ledger")
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in _glob.glob(os.path.join(path, "*.parquet"))
        )

    def stored_per_input_byte(self) -> float:
        return tree_bytes(self.out) / self.landed_bytes


class HourlyCycle(Medallion):
    """The paper's production traffic: ``history`` hourly snapshots are
    ingested in set-up; each op lands the next hour and refreshes Silver,
    Gold and the dashboard (freshness latency)."""

    new_snapshots = 1

    def setup(self) -> dict:
        t0 = time.perf_counter()
        with self.tracer.span("setup.preload"):
            n = self.silver()
            with self.tracer.span("runner.run_gold"):
                runner.run_gold(self.spark, self.out, ANALYSIS_AT)
        self.snapshots_in_out = self.history
        self.landed_bytes = tree_bytes(self.landing)
        if n != self.n_assets * self.history:
            raise RuntimeError(f"preload ingested {n} rows, expected {self.n_assets * self.history}")
        t1 = time.perf_counter()
        # the incremental path (non-empty ledger, one new file) is still
        # warming up during the first cycle; two leave the timed ops steady
        for _ in range(2):
            with self.tracer.span("setup.warmup"):
                self._land(self.gen.payload(self.latest_k + 1))
                res = self.cycle()
            if res.error:
                raise RuntimeError(f"warm-up cycle: {res.error}")
        return {"preload_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def _land(self, payload: dict) -> None:
        path = json_source.write_raw_snapshot(payload, self.landing)
        self.latest_k += 1
        self.snapshots_in_out += 1
        self.landed_bytes += os.path.getsize(path)

    def prepare(self):
        """Untimed: build the next hour's API payload (the generator
        stands in for the CoinCap API call)."""
        return self.gen.payload(self.latest_k + 1)

    def op(self, payload) -> OpResult:
        self._land(payload)
        return self.cycle()


class Backfill(Medallion):
    """Outage recovery: each op drains the whole landed backlog into an
    empty output directory (bulk parse, cast, encode and one commit)."""

    new_snapshots = 0  # set to the backlog size in setup

    def setup(self) -> dict:
        self.new_snapshots = self.history
        self.snapshots_in_out = self.history
        self.landed_bytes = tree_bytes(self.landing)
        t0 = time.perf_counter()
        with self.tracer.span("setup.warmup"):
            self.prepare()
            res = self.cycle()
        if res.error:
            raise RuntimeError(f"warm-up drain: {res.error}")
        return {"preload_s": 0.0, "warmup_s": time.perf_counter() - t0}

    def prepare(self) -> None:
        """Untimed: empty the output dir, so each op drains the backlog."""
        shutil.rmtree(self.out, ignore_errors=True)
        self._ingested.clear()

    def op(self, _) -> OpResult:
        return self.cycle()


# ---------------------------------------------------------------- corpus mix

# one or more queries per operator family; every one has a DuckDB oracle
CORPUS_MIX = {
    "q1_pricing_summary": "reference",
    "w1_latest_event_per_user": "reference",
    "o3_top_bottom_orders": "reference",
    "a4_customer_market_dominance": "reference",
    "j1_customer_dashboard": "reference",
    "q3_shipping_priority": "relational",
    "q5_nation_volume": "relational",
    "a16_rfm_segments": "rank",
    "o8_weighted_median_prices": "rank",
    "graph_pagerank": "graph",
    "sim_ivfpq_topk": "similarity",
    "sim_topk_neighbors": "similarity",
    "dedup_minhash_lsh": "dedup",
    "text_bm25_topk": "text",
    "asof_purchase_last_view": "asof",
    "events_sessionized": "asof",
}
FAMILIES = ("relational", "reference", "rank", "graph", "similarity", "dedup", "text", "asof")


class CorpusMix:
    """Analysts: the fixed 16-query mix, one query per op, each pass in a
    seed-permuted order. The run always ends on a whole pass, so every
    run times the same multiset of queries."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, sf: float) -> None:
        from project_crypto_data_engineering_gcp_spark.plans import all_queries

        self.spark = spark
        self.tracer = tracer
        self.data = os.path.join(work, "tables")
        self.seed = seed
        self.sf = sf
        registry = all_queries()
        self.queries = {name: registry[name] for name in CORPUS_MIX}
        self.expected_rows: dict[str, int] = {}
        self._order: list[str] = []
        self.op_labels: list[str] = []  # query of each timed op
        self._rng = random.Random(seed)
        self.check_s = 0.0
        self.errors: list[str] = []

    def generate_backlog(self) -> None:
        write_corpus_tables(self.data, self.seed, self.sf)

    def setup(self) -> dict:
        """Warm pass: every query once, compared with its DuckDB oracle
        (the comparison is timed apart and excluded from set-up)."""
        from tests.oracle_harness import assert_frames_match, run_duckdb

        t0 = time.perf_counter()
        with self.tracer.span("setup.warmup"):
            for name, q in self.queries.items():
                pdf = q.fn(self.spark, self.data).toPandas()
                c0 = time.perf_counter()
                self.expected_rows[name] = len(pdf)
                try:
                    assert_frames_match(_Frame(pdf), run_duckdb(q.oracle, self.data), name)
                except AssertionError as e:
                    self.errors.append(str(e)[:500])
                self.check_s += time.perf_counter() - c0
        return {"preload_s": 0.0, "warmup_s": time.perf_counter() - t0 - self.check_s}

    def prepare(self) -> str:
        if not self._order:
            self._order = list(self.queries)
            self._rng.shuffle(self._order)
        return self._order.pop()

    def pass_complete(self) -> bool:
        return not self._order

    def op(self, name: str) -> OpResult:
        q = self.queries[name]
        self.op_labels.append(name)
        with self.tracer.span("corpus.query", query=name, family=CORPUS_MIX[name]):
            with self.tracer.span("corpus.plan"):
                df = q.fn(self.spark, self.data)
            with self.tracer.span("corpus.exec"):
                n = df.count()
        err = None
        if n != self.expected_rows[name]:
            err = f"{name}: {n} rows, oracle has {self.expected_rows[name]}"
        return OpResult(n, err)

    def final_check(self) -> list[str]:
        return list(self.errors)

    def install_tracing(self) -> None:
        pass


class _Frame:
    """Adapter: the oracle harness takes a Spark frame and calls
    ``toPandas``; the warm pass already holds the pandas result."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf
