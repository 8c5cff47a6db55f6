"""Crypto medallion pipeline tests: golden-replay of the fixture payloads
(FIXTURES.md §A) + DuckDB differential oracles for every Gold table +
quirk decisions (SURVEY §2.11) + exactly-once ingest e2e (the Silver
ingest record)."""

from __future__ import annotations

import os
import sys
import types

import duckdb
import pytest
from pyspark.sql import functions as F

from project_crypto_data_engineering_gcp_spark.plans.crypto_pipeline import (
    bronze_to_silver,
    daily_overview,
    dashboard,
    latest_assets,
    market_dominance,
    supply_dynamics,
    top_gainers_losers,
)
from project_crypto_data_engineering_gcp_spark.plans.runner import (
    run_dashboard,
    run_gold,
    run_pipeline,
    run_silver,
)
from project_crypto_data_engineering_gcp_spark.sources.json_source import read_raw_json

from .conftest import dir_tree
from .fixtures_crypto import N_ASSETS, SNAPSHOT_TS_MS, write_fixture_landing
from .oracle_harness import assert_frames_match

ANALYSIS_AT = "2026-01-01 00:00:00"
PROCESSED_AT = "2026-01-01 00:00:00"


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    write_fixture_landing(str(d))
    return str(d)


@pytest.fixture(scope="module")
def silver(spark, landing):
    raw = read_raw_json(spark, f"{landing}/coincap_data_*.json")
    return bronze_to_silver(raw, processed_at=PROCESSED_AT).drop("_source_file").cache()


@pytest.fixture(scope="module")
def silver_duck(spark, silver, tmp_path_factory):
    """Silver written to parquet and registered in DuckDB — the oracle
    input for the Gold differential tests."""
    path = str(tmp_path_factory.mktemp("silver_pq") / "assets")
    silver.drop("tokens").write.mode("overwrite").parquet(path)
    return path


def _duck(silver_path: str, sql: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW silver AS SELECT * FROM "
        f"read_parquet('{silver_path}/*.parquet')"
    )
    con.execute(
        """CREATE VIEW latest AS
           SELECT * EXCLUDE (data_referencia),
                  CAST(data_referencia AS TIMESTAMP) AS data_referencia
           FROM silver
           QUALIFY ROW_NUMBER() OVER (
               PARTITION BY id ORDER BY CAST(data_referencia AS TIMESTAMP) DESC) = 1"""
    )
    try:
        return con.execute(sql).df()
    finally:
        con.close()


# ---------------------------------------------------------------- silver


def test_silver_schema_and_counts(silver):
    assert silver.count() == N_ASSETS * len(SNAPSHOT_TS_MS)
    types = dict(silver.dtypes)
    assert types["rank"] == "int"
    assert types["supply"] == "double"
    assert types["data_referencia"] == "string"  # quirk Q3
    assert types["tokens"] == "map<string,array<string>>"  # superset: kept
    # null propagation per fixture rates
    assert silver.filter(F.col("max_supply").isNull()).count() > 0
    assert silver.filter(F.col("explorer").isNull()).count() > 0


def test_latest_assets_is_argmax(spark, silver, silver_duck):
    latest = latest_assets(silver, cache=False).drop("tokens")
    duck = _duck(silver_duck, "SELECT * FROM latest")
    assert_frames_match(latest, duck, "latest_assets")


# ---------------------------------------------------------------- gold


def test_daily_overview(silver, silver_duck):
    got = daily_overview(latest_assets(silver, cache=False), ANALYSIS_AT)
    duck = _duck(
        silver_duck,
        f"""
        SELECT id, name, symbol, rank,
               ROUND(price_usd, 8) AS price_usd,
               ROUND(market_cap_usd, 2) AS market_cap_usd,
               ROUND(volume_usd_24hr, 2) AS volume_usd_24hr,
               ROUND(change_percent_24hr, 4) AS change_percent_24hr,
               ROUND(vwap_24hr, 8) AS vwap_24hr,
               ROUND(supply, 0) AS supply,
               ROUND(max_supply, 0) AS max_supply,
               explorer, data_referencia,
               TIMESTAMP '{ANALYSIS_AT}' AS data_processamento_analise
        FROM latest
        """,
    )
    assert_frames_match(got, duck, "daily_overview")


def test_top_gainers_losers(silver, silver_duck):
    got = top_gainers_losers(latest_assets(silver, cache=False), analysis_at=ANALYSIS_AT)
    duck = _duck(
        silver_duck,
        f"""
        WITH base AS (SELECT * FROM latest WHERE change_percent_24hr IS NOT NULL),
        g AS (SELECT name, symbol, change_percent_24hr, price_usd, data_referencia,
                     'Ganhador' AS tipo_movimento
              FROM base ORDER BY change_percent_24hr DESC, id LIMIT 10),
        p AS (SELECT name, symbol, change_percent_24hr, price_usd, data_referencia,
                     'Perdedor' AS tipo_movimento
              FROM base ORDER BY change_percent_24hr ASC, id LIMIT 10)
        SELECT name, symbol,
               ROUND(change_percent_24hr, 4) AS change_percent_24hr,
               ROUND(price_usd, 8) AS price_usd,
               tipo_movimento, data_referencia,
               TIMESTAMP '{ANALYSIS_AT}' AS data_processamento_analise
        FROM (SELECT * FROM g UNION ALL SELECT * FROM p) u
        """,
    )
    assert_frames_match(got, duck, "top_gainers_losers")


def test_market_dominance(silver, silver_duck):
    got = market_dominance(latest_assets(silver, cache=False), ANALYSIS_AT)
    duck = _duck(
        silver_duck,
        f"""
        WITH base AS (SELECT * FROM latest WHERE market_cap_usd IS NOT NULL),
        tot AS (SELECT SUM(market_cap_usd) AS total FROM base)
        SELECT name, symbol,
               ROUND(market_cap_usd, 2) AS market_cap_usd,
               ROUND(market_cap_usd / total * 100, 4) AS percent_market_cap,
               data_referencia,
               TIMESTAMP '{ANALYSIS_AT}' AS data_processamento_analise
        FROM base, tot
        """,
    )
    assert_frames_match(got, duck, "market_dominance")


def test_supply_dynamics(silver, silver_duck):
    got = supply_dynamics(latest_assets(silver, cache=False), ANALYSIS_AT)
    duck = _duck(
        silver_duck,
        f"""
        SELECT name, symbol,
               ROUND(supply, 0) AS supply,
               ROUND(max_supply, 0) AS max_supply,
               ROUND(market_cap_usd / supply, 8) AS market_cap_per_unit_supply,
               CASE WHEN max_supply IS NULL THEN 'Não Definido'
                    WHEN supply >= max_supply THEN 'Próximo do Limite'
                    ELSE 'Disponível' END AS status_oferta_maxima,
               data_referencia,
               TIMESTAMP '{ANALYSIS_AT}' AS data_processamento_analise
        FROM latest
        WHERE supply IS NOT NULL AND supply > 0 AND market_cap_usd IS NOT NULL
        """,
    )
    assert_frames_match(got, duck, "supply_dynamics")
    # planted asset 5 hits the 'Próximo do Limite' branch
    rows = got.filter(F.col("symbol") == "SYM005").collect()
    assert rows and rows[0]["status_oferta_maxima"] == "Próximo do Limite"


def test_supply_round_keeps_double(silver):
    # quirk Q2: round(supply, 0) stays DoubleType
    got = supply_dynamics(latest_assets(silver, cache=False), ANALYSIS_AT)
    assert dict(got.dtypes)["supply"] == "double"


# ---------------------------------------------------------------- dashboard


def test_dashboard(spark, silver, silver_duck):
    latest = latest_assets(silver, cache=False)
    gold = {
        "daily_overview": daily_overview(latest, ANALYSIS_AT),
        "top_gainers_losers": top_gainers_losers(latest, analysis_at=ANALYSIS_AT),
        "market_dominance": market_dominance(latest, ANALYSIS_AT),
        "supply_dynamics": supply_dynamics(latest, ANALYSIS_AT),
    }
    got = dashboard(spark, gold)
    # all assets of the latest snapshot, enriched; row count preserved
    # (tipo_movimento null for non-movers — LEFT JOIN semantics)
    assert got.count() == N_ASSETS
    movers = got.filter(F.col("tipo_movimento").isNotNull()).count()
    assert movers == 20
    assert got.filter(F.col("percent_market_cap").isNull()).count() == 0


# ---------------------------------------------------------------- runner e2e


def _stub_delta_spark(monkeypatch) -> None:
    """Make a ``delta`` package importable, as installing delta-spark's
    Python package does: its ``DeltaTable.isDeltaTable`` calls into the
    Delta JVM classes, which a session without Delta's jars lacks."""
    delta, tables = types.ModuleType("delta"), types.ModuleType("delta.tables")

    class DeltaTable:
        @classmethod
        def isDeltaTable(cls, spark, identifier):
            jvm = spark._sc._jvm
            return jvm.io.delta.tables.DeltaTable.isDeltaTable(
                spark._jsparkSession, identifier
            )

    tables.DeltaTable = DeltaTable
    delta.tables = tables
    monkeypatch.setitem(sys.modules, "delta", delta)
    monkeypatch.setitem(sys.modules, "delta.tables", tables)


def test_pipeline_e2e_and_ledger_idempotency(
    spark, landing, tmp_path_factory, monkeypatch
):
    out = str(tmp_path_factory.mktemp("out"))
    dash1 = run_pipeline(
        spark, f"{landing}/coincap_data_*.json", out,
        processed_at=PROCESSED_AT, analysis_at=ANALYSIS_AT,
    ).toPandas()
    assert len(dash1) == N_ASSETS

    from project_crypto_data_engineering_gcp_spark.plans.runner import (
        read_gold_history,
        read_silver,
    )

    silver_rows = read_silver(spark, out).count()
    assert silver_rows == N_ASSETS * len(SNAPSHOT_TS_MS)

    # re-run: the Silver ingest record makes the append a no-op
    appended = run_silver(spark, f"{landing}/coincap_data_*.json", out)
    assert appended == 0
    assert read_silver(spark, out).count() == silver_rows

    # silver is unpartitioned: the snapshot date is a column, and no
    # dt= directory sits inside the txlog staging dirs
    data_root = os.path.join(out, "silver", "assets", "data")
    dirs = [d for _, subdirs, _ in os.walk(data_root) for d in subdirs]
    assert dirs and not [d for d in dirs if d.startswith("dt=")]
    assert read_silver(spark, out).columns[-1] == "dt"
    # ... and the append-history sinks are transactional (S5): a commit
    # log exists for silver, NOT for the overwrite serving copies
    assert os.path.isdir(os.path.join(out, "silver", "assets", "_txlog"))

    # gold dual-sink: serving overwritten, history appended (quirk Q4)
    run_gold(spark, out, analysis_at=ANALYSIS_AT)
    hist = read_gold_history(spark, out, "daily_overview")
    serv = spark.read.parquet(os.path.join(out, "gold", "serving", "daily_overview"))
    assert not os.path.isdir(
        os.path.join(out, "gold", "serving", "daily_overview", "_txlog")
    )
    assert hist.count() == 2 * serv.count()
    assert run_dashboard(spark, out).count() == N_ASSETS

    # an importable ``delta`` package (delta-spark's Python half, without
    # its jars or session extension) changes nothing: the cycle still
    # commits txlog versions and serves the same dashboard
    from project_crypto_data_engineering_gcp_spark.plans.runner import (
        GOLD_BUILDERS,
        silver_path,
    )
    from project_crypto_data_engineering_gcp_spark.sources import tx_table

    _stub_delta_spark(monkeypatch)
    out2 = str(tmp_path_factory.mktemp("out_delta"))
    dash2 = run_pipeline(
        spark, f"{landing}/coincap_data_*.json", out2,
        processed_at=PROCESSED_AT, analysis_at=ANALYSIS_AT,
    )
    assert tx_table.snapshot(silver_path(out2)).version == 0
    for name in GOLD_BUILDERS:
        table = os.path.join(out2, "gold", "history", name)
        assert tx_table.snapshot(table).version == 0
    assert_frames_match(dash2, dash1, "dashboard")


@pytest.mark.parametrize("out", ["s3a://bucket/out", "gs://bucket/out", "file:/tmp/out"])
def test_run_silver_refuses_a_uri_out_dir(spark, landing, tmp_path, monkeypatch, out):
    """History tables need a local filesystem: an out dir with a URI
    scheme raises before anything is written, instead of landing as a
    ``./s3a:/...`` tree under the working directory."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="local filesystem path"):
        run_silver(spark, f"{landing}/coincap_data_*.json", out)
    assert os.listdir(tmp_path) == []


def test_http_ingest_with_fixture_fetcher(spark, tmp_path):
    """S1 HTTP source parity: injectable fetcher -> validation ->
    replay-stable landing -> full pipeline consumes it."""
    import json

    from project_crypto_data_engineering_gcp_spark.sources.http_source import (
        fixture_fetcher,
        ingest_snapshot,
    )

    from .fixtures_crypto import snapshot_payload

    doc = tmp_path / "payload.json"
    doc.write_text(json.dumps(snapshot_payload(0)))
    landing = tmp_path / "landing_http"
    path = ingest_snapshot(fixture_fetcher(str(doc)), str(landing))
    assert path.endswith(".json") and "coincap_data_" in path
    # replay-stable: re-ingesting the same payload overwrites, not duplicates
    assert ingest_snapshot(fixture_fetcher(str(doc)), str(landing)) == path
    assert len(list(landing.iterdir())) == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="malformed"):
        ingest_snapshot(lambda: {"nope": 1}, str(landing))


def test_corrupt_json_quarantined_not_fatal(spark, tmp_path):
    """One malformed landing document must not wedge ingestion: valid
    snapshots flow to Silver, the bad one shows up in the quarantine view."""
    from project_crypto_data_engineering_gcp_spark.sources.json_source import (
        read_corrupt_json,
    )

    landing = tmp_path / "landing_bad"
    write_fixture_landing(str(landing), n_snapshots=2)
    (landing / "coincap_data_99990101_000000.json").write_text("{ not json !!!")

    glob = f"{landing}/coincap_data_*.json"
    silver = bronze_to_silver(
        read_raw_json(spark, glob), processed_at=PROCESSED_AT
    )
    assert silver.count() == N_ASSETS * 2
    bad = read_corrupt_json(spark, glob).collect()
    assert len(bad) == 1 and "99990101" in bad[0]["_source_file"]


def test_gold_history_schema_evolution(spark, landing, tmp_path):
    """Reference S7 semantics: an evolved gold table (new column) appends
    to history, and the merged-schema read surfaces the union schema with
    NULLs for pre-evolution rows."""
    from project_crypto_data_engineering_gcp_spark.plans.runner import (
        read_gold_history,
        run_gold,
        run_silver,
    )

    out = str(tmp_path / "out_evo")
    run_silver(spark, f"{landing}/coincap_data_*.json", out, processed_at=PROCESSED_AT)
    run_gold(spark, out, analysis_at=ANALYSIS_AT)

    # simulate evolution: append a batch carrying an extra column
    # through the transactional history sink (reference S7: Delta's
    # mergeSchema-at-write; txlog resolves the union schema at read)
    from project_crypto_data_engineering_gcp_spark.sources.sinks import write_history

    evolved = (
        read_gold_history(spark, out, "daily_overview")
        .withColumn("risk_score", F.round(F.col("rank") * 0.1, 4))
    )
    write_history(
        evolved, str(tmp_path / "out_evo" / "gold" / "history" / "daily_overview")
    )

    merged = read_gold_history(spark, out, "daily_overview")
    assert "risk_score" in merged.columns
    assert merged.filter(F.col("risk_score").isNull()).count() == N_ASSETS
    assert merged.filter(F.col("risk_score").isNotNull()).count() == N_ASSETS


# ------------------------------------------------- incremental (O(new)) cycle


def _land(landing: str, ts_ms: int, *, drop: str | None = None,
          bump: float = 0.0, name: str | None = None) -> str:
    """Land one fixture-shaped snapshot at ``ts_ms``; ``drop`` leaves an
    asset out, ``bump`` shifts every price, ``name`` overrides the
    replay-stable file name (a re-landing)."""
    import json

    from project_crypto_data_engineering_gcp_spark.sources.json_source import (
        write_raw_snapshot,
    )

    from .fixtures_crypto import snapshot_payload

    payload = snapshot_payload(0)
    payload["timestamp"] = ts_ms
    payload["data"] = [a for a in payload["data"] if a["id"] != drop]
    for a in payload["data"]:
        a["priceUsd"] = f"{float(a['priceUsd']) + bump:.8f}"
    if name is None:
        return write_raw_snapshot(payload, landing)
    path = os.path.join(landing, name)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(payload, f)
    return path


def _same_rows(got, want, name: str) -> None:
    # map columns are not comparable in set operations; their JSON is
    def canon(df):
        return df.withColumn("tokens", F.to_json("tokens")) if "tokens" in df.columns else df

    got, want = canon(got), canon(want)
    want = want.select(got.columns)
    assert got.count() == want.count(), name
    assert got.exceptAll(want).count() == 0, name
    assert want.exceptAll(got).count() == 0, name


def _assert_incremental_equals_full(spark, out: str) -> None:
    """The ``_latest`` state and the four serving Gold tables equal a
    full recompute over all of Silver."""
    from project_crypto_data_engineering_gcp_spark.plans.runner import (
        GOLD_BUILDERS,
        latest_state_path,
        read_silver,
    )
    from project_crypto_data_engineering_gcp_spark.sources.sinks import (
        read_history,
        read_table,
    )

    full = latest_assets(read_silver(spark, out).drop("dt"), cache=False)
    _same_rows(read_history(spark, latest_state_path(out)), full, "_latest")
    for name, build in GOLD_BUILDERS.items():
        serving = read_table(spark, os.path.join(out, "gold", "serving", name))
        _same_rows(serving, build(full, analysis_at=ANALYSIS_AT), name)


def test_incremental_gold_equals_full_recompute(spark, tmp_path, monkeypatch):
    """Differential gate of the incremental Gold: after every cycle the
    argmax state and the serving Gold equal a from-scratch recompute —
    through a first run, a late snapshot, a missing asset, a re-landing
    at the same timestamp, a Silver compaction, a lost state dir and a
    crash between the state commit and the Gold commits."""
    import shutil

    from project_crypto_data_engineering_gcp_spark.plans import runner
    from project_crypto_data_engineering_gcp_spark.sources import tx_table

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    hour = 3_600_000
    t0 = SNAPSHOT_TS_MS[0]
    merged_prior = []
    real_latest = runner.latest_assets

    def spy_latest(rows, **kw):
        merged_prior.append(kw.get("prior") is not None)
        return real_latest(rows, **kw)

    monkeypatch.setattr(runner, "latest_assets", spy_latest)

    def cycle(k: int) -> None:
        run_silver(spark, glob, out, processed_at=f"2026-01-01 00:00:{k:02d}")
        run_gold(spark, out, analysis_at=ANALYSIS_AT)
        _assert_incremental_equals_full(spark, out)

    # 1. first run, no state: two snapshots, one hour missing in between
    _land(landing, t0)
    _land(landing, t0 + 2 * hour)
    cycle(1)
    # 2. the missing hour lands late, older than the state's rows
    _land(landing, t0 + hour, bump=5.0)
    cycle(2)
    # 3. the newest snapshot lacks one asset: its older row stays latest
    _land(landing, t0 + 3 * hour, drop="asset-007", bump=1.0)
    cycle(3)
    # 4. the same timestamp re-landed under a new name, other values
    _land(landing, t0 + 3 * hour, drop="asset-011", bump=2.0,
          name="coincap_data_relanded.json")
    cycle(4)
    assert merged_prior == [False, True, True, True]
    # ...and a tie on data_referencia goes to the later ingest (asset-011
    # is absent from the re-landing, so its first landing stays latest)
    state = runner.read_history(spark, runner.latest_state_path(out))
    relanded = state.filter(F.col("data_referencia") == F.lit("2025-05-24 06:08:49"))
    picked = dict(relanded.select("id", "data_processamento").collect())
    assert picked.pop("asset-011") == "2026-01-01 00:00:03"
    assert set(picked.values()) == {"2026-01-01 00:00:04"}
    # 5. Silver compacted: no file-set diff, so a full recompute
    tx_table.compact(spark, runner.silver_path(out))
    _land(landing, t0 + 4 * hour)
    cycle(5)
    # 6. the state dir is lost: rebuilt from all of Silver
    shutil.rmtree(runner.latest_state_path(out))
    cycle(6)
    assert merged_prior[4:] == [False, False]
    # 7. crash after the state commit, before the Gold commits; rerun
    real_write = runner.write_history

    def crash_on_gold(df, path, **kw):
        if os.sep + "history" + os.sep in path:
            raise OSError("simulated crash before the Gold commits")
        return real_write(df, path, **kw)

    _land(landing, t0 + 5 * hour, bump=3.0)
    run_silver(spark, glob, out, processed_at="2026-01-01 00:00:07")
    monkeypatch.setattr(runner, "write_history", crash_on_gold)
    with pytest.raises(OSError, match="simulated crash"):
        run_gold(spark, out, analysis_at=ANALYSIS_AT)
    monkeypatch.setattr(runner, "write_history", real_write)
    run_gold(spark, out, analysis_at=ANALYSIS_AT)
    _assert_incremental_equals_full(spark, out)
    assert merged_prior[6:] == [True, True]


def test_cycle_parses_only_the_new_landing(spark, tmp_path, monkeypatch):
    """O(new) Silver: with history already ingested, the parsed frame of
    a cycle scans exactly the one new file."""
    from project_crypto_data_engineering_gcp_spark.plans import runner
    from project_crypto_data_engineering_gcp_spark.sources.hadoop_fs import as_path

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    write_fixture_landing(landing, n_snapshots=2)
    run_silver(spark, glob, out)
    new = _land(landing, SNAPSHOT_TS_MS[2])

    parsed = []
    real = runner.read_raw_json

    def spy(*args, **kwargs):
        parsed.append(real(*args, **kwargs))
        return parsed[-1]

    monkeypatch.setattr(runner, "read_raw_json", spy)
    assert run_silver(spark, glob, out) == N_ASSETS
    assert [as_path(f) for f in parsed[0].inputFiles()] == [f"file:{new}"]


def test_ledgered_rerun_starts_no_spark_job(spark, tmp_path):
    """Listing and the ingest record are driver-side: a rerun that finds
    nothing new returns before any Spark job (the status tracker sees
    none), while a run with a new file does start jobs under the same
    check."""
    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    write_fixture_landing(landing, n_snapshots=2)
    sc = spark.sparkContext

    def jobs_of(group: str, fn) -> tuple[int, list[int]]:
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return result, list(sc.statusTracker().getJobIdsForGroup(group))

    n, jobs = jobs_of("ingest-new", lambda: run_silver(spark, glob, out))
    assert n == 2 * N_ASSETS and jobs
    n, jobs = jobs_of("ingest-rerun", lambda: run_silver(spark, glob, out))
    assert n == 0 and jobs == []


def test_run_gold_reads_only_the_last_silver_commit(spark, tmp_path, monkeypatch):
    """O(new) Gold: after K cycles, the Silver rows run_gold feeds the
    argmax come from exactly the files the last Silver commit added."""
    from project_crypto_data_engineering_gcp_spark.plans import runner
    from project_crypto_data_engineering_gcp_spark.sources import tx_table
    from project_crypto_data_engineering_gcp_spark.sources.hadoop_fs import as_path

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    inputs = []
    real_latest = runner.latest_assets

    def spy_latest(rows, **kw):
        inputs.append(rows)
        return real_latest(rows, **kw)

    monkeypatch.setattr(runner, "latest_assets", spy_latest)
    for k in range(4):
        _land(landing, SNAPSHOT_TS_MS[0] + k * 3_600_000)
        run_silver(spark, glob, out)
        run_gold(spark, out, analysis_at=ANALYSIS_AT)

    spath = runner.silver_path(out)
    head = tx_table.snapshot(spath)
    added = set(head.files) - set(tx_table.snapshot(spath, head.version - 1).files)
    assert {as_path(f) for f in inputs[-1].inputFiles()} == {f"file:{f}" for f in added}


def test_cycles_leave_no_persisted_frames(spark, tmp_path, monkeypatch):
    """Each cycle releases every frame it persists — the parsed batch,
    the latest view and the four Gold frames — on the error path too."""
    from project_crypto_data_engineering_gcp_spark.plans import runner

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    # Compared by RDD id, not by count: the ContextCleaner may release
    # earlier tests' RDDs at any moment, which a count reads as a change.
    before = persisted()
    for k in range(3):
        _land(landing, SNAPSHOT_TS_MS[0] + k * 3_600_000)
        run_silver(spark, glob, out)
        run_gold(spark, out, analysis_at=ANALYSIS_AT)
    assert not persisted() - before

    def crash(*args, **kwargs):
        raise OSError("simulated sink failure")

    _land(landing, SNAPSHOT_TS_MS[0] + 3 * 3_600_000)
    real_write = runner.write_history
    monkeypatch.setattr(runner, "write_history", crash)
    with pytest.raises(OSError):
        run_silver(spark, glob, out)
    with pytest.raises(OSError):
        run_gold(spark, out, analysis_at=ANALYSIS_AT)
    assert not persisted() - before

    # one Gold table fails while the other three commit concurrently
    monkeypatch.setattr(runner, "write_history", real_write)
    monkeypatch.setitem(runner.GOLD_BUILDERS, "market_dominance", crash)
    run_silver(spark, glob, out)
    with pytest.raises(OSError):
        run_gold(spark, out, analysis_at=ANALYSIS_AT)
    assert not persisted() - before


# ------------------------------------------------- one write per Gold frame


def _gold_paths(out: str, name: str) -> tuple[str, str]:
    return (
        os.path.join(out, "gold", "history", name),
        os.path.join(out, "gold", "serving", name),
    )


def test_serving_is_hard_linked_to_the_history_append(spark, tmp_path):
    """Under txlog each serving copy is hard links to the files its
    history commit added plus the frame's schema, swapped in with no
    leftover temp dir, and it outlives the history's compact + vacuum."""
    import json

    from project_crypto_data_engineering_gcp_spark.plans.runner import GOLD_BUILDERS
    from project_crypto_data_engineering_gcp_spark.sources import tx_table
    from project_crypto_data_engineering_gcp_spark.sources.sinks import SCHEMA_FILE

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    write_fixture_landing(landing, n_snapshots=1)
    run_silver(spark, glob, out, processed_at=PROCESSED_AT)
    run_gold(spark, out, analysis_at=ANALYSIS_AT)
    write_fixture_landing(landing, n_snapshots=2)
    run_silver(spark, glob, out, processed_at=PROCESSED_AT)
    gold = run_gold(spark, out, analysis_at=ANALYSIS_AT)

    served = {}
    for name in GOLD_BUILDERS:
        history, serving = _gold_paths(out, name)
        head = tx_table.snapshot(history)
        added = set(head.files) - set(tx_table.snapshot(history, head.version - 1).files)
        added_inodes = {os.stat(f).st_ino for f in added}
        parquet = [f for f in os.listdir(serving) if f.endswith(".parquet")]
        assert parquet, name
        assert {os.stat(os.path.join(serving, f)).st_ino for f in parquet} <= added_inodes, name
        with open(os.path.join(serving, SCHEMA_FILE)) as fh:
            assert json.load(fh) == json.loads(head.schema) == json.loads(gold[name].schema.json())
        rows = spark.read.parquet(serving)
        _same_rows(rows, gold[name], name)
        served[name] = (added, rows.collect())
    siblings = os.listdir(os.path.join(out, "gold", "serving"))
    assert sorted(siblings) == sorted(GOLD_BUILDERS)

    for name in GOLD_BUILDERS:
        history, serving = _gold_paths(out, name)
        tx_table.compact(spark, history)
        tx_table.vacuum(history, keep_last=1, retention_seconds=0)
        added, rows = served[name]
        assert not any(os.path.exists(f) for f in added), name
        assert sorted(spark.read.parquet(serving).collect()) == sorted(rows), name


def test_dashboard_starts_no_job_before_its_action(spark, tmp_path, monkeypatch):
    """The serving copies carry their schema, so building the dashboard
    starts no Spark job (a copy without the sidecar starts one, for
    schema inference); a cycle makes exactly six Spark writes: Silver,
    the ``_latest`` state and the four Gold history appends."""
    from pyspark.sql import DataFrameWriter

    from project_crypto_data_engineering_gcp_spark.sources.sinks import SCHEMA_FILE

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    write_fixture_landing(landing, n_snapshots=2)
    writes = []
    for method in ("parquet", "save"):
        real = getattr(DataFrameWriter, method)

        def spy(self, *args, _real=real, _name=method, **kwargs):
            writes.append(_name)
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, method, spy)
    run_silver(spark, glob, out, processed_at=PROCESSED_AT)
    run_gold(spark, out, analysis_at=ANALYSIS_AT)
    assert len(writes) == 6
    monkeypatch.undo()

    sc = spark.sparkContext

    def jobs_building_dashboard(group: str) -> list[int]:
        sc.setJobGroup(group, group)
        try:
            dash = run_dashboard(spark, out)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        assert dash.count() == N_ASSETS
        return jobs

    assert jobs_building_dashboard("dashboard-pinned") == []
    os.unlink(os.path.join(out, "gold", "serving", "daily_overview", SCHEMA_FILE))
    assert len(jobs_building_dashboard("dashboard-inferred")) == 1


def test_concurrent_gold_commits_keep_job_group_and_errors(spark, tmp_path, monkeypatch):
    """The four Gold tables commit on worker threads: their jobs land in
    the job group the caller of ``run_gold`` set, and a failing table
    raises only after the other three have committed, leaving no
    serving temp dir behind."""
    from project_crypto_data_engineering_gcp_spark.plans import runner
    from project_crypto_data_engineering_gcp_spark.sources import tx_table

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    write_fixture_landing(landing, n_snapshots=1)
    run_silver(spark, glob, out, processed_at=PROCESSED_AT)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("gold-cycle", "gold-cycle")
    try:
        run_gold(spark, out, analysis_at=ANALYSIS_AT)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup()) == ungrouped
    assert len(tracker.getJobIdsForGroup("gold-cycle")) >= 1 + len(runner.GOLD_BUILDERS)

    def broken(latest, **kwargs):
        raise ValueError("simulated Gold builder failure")

    write_fixture_landing(landing, n_snapshots=2)
    run_silver(spark, glob, out, processed_at=PROCESSED_AT)
    versions = {n: tx_table.snapshot(_gold_paths(out, n)[0]).version for n in runner.GOLD_BUILDERS}
    monkeypatch.setitem(runner.GOLD_BUILDERS, "top_gainers_losers", broken)
    with pytest.raises(ValueError, match="simulated Gold builder failure"):
        run_gold(spark, out, analysis_at=ANALYSIS_AT)
    for name, v in versions.items():
        want = v if name == "top_gainers_losers" else v + 1
        assert tx_table.snapshot(_gold_paths(out, name)[0]).version == want, name
    assert sorted(os.listdir(os.path.join(out, "gold", "serving"))) == sorted(versions)


# ------------------------------------------------- the Silver ingest record


def test_corrupt_document_is_parsed_once(spark, tmp_path, monkeypatch):
    """A document that does not parse is recorded as quarantined in the
    commit of the cycle that first parsed it, and never parsed again —
    also when it is a cycle's only new landing (that cycle commits an
    empty append carrying the record, and Silver reads empty)."""
    from project_crypto_data_engineering_gcp_spark.plans import runner
    from project_crypto_data_engineering_gcp_spark.sources import tx_table
    from project_crypto_data_engineering_gcp_spark.sources.hadoop_fs import as_path
    from project_crypto_data_engineering_gcp_spark.sources.json_source import (
        read_corrupt_json,
    )

    landing, out = tmp_path / "landing", str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    landing.mkdir()
    bad = landing / "coincap_data_99990101_000000.json"
    bad.write_text("{ not json !!!")

    parsed = []
    real = runner.read_raw_json

    def spy(*args, **kwargs):
        df = real(*args, **kwargs)
        parsed.append({as_path(f) for f in df.inputFiles()})
        return df

    monkeypatch.setattr(runner, "read_raw_json", spy)
    assert run_silver(spark, glob, out) == 0  # the corrupt file alone
    assert runner.read_silver(spark, out).count() == 0
    write_fixture_landing(str(landing), n_snapshots=2)
    assert run_silver(spark, glob, out) == 2 * N_ASSETS
    _land(str(landing), SNAPSHOT_TS_MS[2])
    assert run_silver(spark, glob, out) == N_ASSETS

    assert len(parsed) == 3
    assert [f"file:{bad}" in files for files in parsed] == [True, False, False]
    snap = tx_table.snapshot(runner.silver_path(out))
    assert snap.metadata["quarantined"] == [f"file:{bad}"]
    assert runner.read_silver(spark, out).count() == 3 * N_ASSETS
    quarantine = read_corrupt_json(spark, glob).collect()
    assert [r["_source_file"] for r in quarantine] == [f"file://{bad}"]


def test_record_survives_compact_and_vacuum(spark, tmp_path):
    """``tx_table.compact`` copies the record into its overwrite commit
    and ``vacuum`` keeps the latest manifest, so after both a rerun
    still appends nothing — and a new landing only its own rows."""
    from project_crypto_data_engineering_gcp_spark.plans import runner
    from project_crypto_data_engineering_gcp_spark.sources import tx_table

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    write_fixture_landing(landing, n_snapshots=1)
    run_silver(spark, glob, out)
    write_fixture_landing(landing, n_snapshots=2)
    run_silver(spark, glob, out)
    spath = runner.silver_path(out)
    tx_table.compact(spark, spath)
    tx_table.vacuum(spath, keep_last=1, retention_seconds=0)
    assert len(os.listdir(os.path.join(spath, "_txlog"))) == 1

    assert run_silver(spark, glob, out) == 0
    write_fixture_landing(landing, n_snapshots=3)
    assert run_silver(spark, glob, out) == N_ASSETS
    assert runner.read_silver(spark, out).count() == 3 * N_ASSETS


def test_concurrent_run_silver_conflicts_and_heals(spark, tmp_path, monkeypatch):
    """Deterministic race: a second ``run_silver`` (whose glob sees only
    the first file) commits between the first one's plan and its commit.
    The first raises CommitConflict with nothing visible, each file's
    rows are in Silver once, and a rerun appends only what is missing."""
    from project_crypto_data_engineering_gcp_spark.plans import runner
    from project_crypto_data_engineering_gcp_spark.sources import tx_table

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    first = write_fixture_landing(landing, n_snapshots=3)[0]
    real_write = runner.write_history

    def race(df, path, **kw):
        monkeypatch.setattr(runner, "write_history", real_write)
        assert run_silver(spark, first, out) == N_ASSETS  # the other writer
        real_write(df, path, **kw)

    monkeypatch.setattr(runner, "write_history", race)
    with pytest.raises(tx_table.CommitConflict):
        run_silver(spark, glob, out)
    silver = runner.read_silver(spark, out)
    assert silver.count() == N_ASSETS

    assert run_silver(spark, glob, out) == 2 * N_ASSETS
    silver = runner.read_silver(spark, out)
    assert silver.count() == 3 * N_ASSETS
    assert silver.select("id", "data_referencia").distinct().count() == 3 * N_ASSETS


def test_run_silver_refuses_a_table_without_record(spark, tmp_path):
    """A Silver table with commits but no ingest record (an older
    release wrote it): ``run_silver`` raises and appends nothing, rather
    than re-ingesting every landed file into it."""
    from project_crypto_data_engineering_gcp_spark.plans import runner
    from project_crypto_data_engineering_gcp_spark.sources import tx_table
    from project_crypto_data_engineering_gcp_spark.sources.sinks import write_history

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    write_fixture_landing(landing, n_snapshots=2)
    old = bronze_to_silver(read_raw_json(spark, glob), processed_at=PROCESSED_AT)
    spath = runner.silver_path(out)
    write_history(
        old.drop("_source_file").withColumn("dt", F.substring("data_referencia", 1, 10)),
        spath,
    )

    with pytest.raises(ValueError, match="no ingest record"):
        run_silver(spark, glob, out)
    assert tx_table.snapshot(spath).version == 0
    assert runner.read_silver(spark, out).count() == 2 * N_ASSETS


def test_run_silver_refuses_a_plain_parquet_silver_dir(spark, tmp_path):
    """A Silver directory of plain partitioned parquet (no ``_txlog``, as
    releases before the txlog table wrote it): ``run_silver`` raises on
    first contact and leaves the directory byte-identical — no version,
    no ``data/``, no ledger — and a rerun raises the same way."""
    from project_crypto_data_engineering_gcp_spark.plans import runner

    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    glob = f"{landing}/coincap_data_*.json"
    write_fixture_landing(landing, n_snapshots=2)
    old = bronze_to_silver(read_raw_json(spark, glob), processed_at=PROCESSED_AT)
    spath = runner.silver_path(out)
    old.drop("_source_file").withColumn(
        "dt", F.substring("data_referencia", 1, 10)
    ).write.partitionBy("dt").parquet(spath)

    before = dir_tree(spath)
    for _ in range(2):
        with pytest.raises(ValueError, match="is not a txlog table"):
            run_silver(spark, glob, out)
        assert dir_tree(spath) == before
    assert not {"_txlog", "data"} & set(os.listdir(spath))
    assert spark.read.parquet(spath).count() == 2 * N_ASSETS
