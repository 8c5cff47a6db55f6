"""Crypto medallion pipeline as driver-checked corpus queries.

The testdata tables have no crypto-shaped input, so these queries carry
their own deterministic fixture: at import, the landing JSON documents
and a pure-Python Silver replica parquet are (re)written to a fixed temp
path. Each Spark query runs the REAL pipeline (multiline-JSON read ->
bronze_to_silver -> latest-snapshot window -> gold builder); each oracle
is DuckDB SQL over the replica Silver parquet — so the reference's exact
Gold semantics (rounding scales, null guards, label literals, the
latest-snapshot argmax, quirks Q2/Q3/Q5) are verified by the driver's
differential gate, not only by pytest.

The fixture is 120 rows: these queries prove SEMANTICS; the testdata
corpus proves the same operators at volume.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..fixtures import silver_rows, write_fixture_landing
from ..plans import crypto_pipeline as cp
from ..sources.json_source import read_raw_json
from .corpus import corpus_query

PROCESSED_AT = "2026-01-01 00:00:00"
ANALYSIS_AT = "2026-01-01 00:00:00"

_FIXTURE_DIR = os.path.join(tempfile.gettempdir(), "spark_graft_crypto_fixture_v1")
_LANDING = os.path.join(_FIXTURE_DIR, "landing")
_SILVER_PARQUET = os.path.join(_FIXTURE_DIR, "silver.parquet")


def _ensure_fixture() -> None:
    """Write the landing docs + oracle Silver replica once. Idempotent,
    pure Python — runs at import so the oracle's input exists no matter
    which side the driver executes first.

    Concurrent-driver-safe: the fixture content is deterministic, so two
    drivers racing the same path must only never expose a PARTIAL file.
    Both artifacts are staged under a pid-suffixed temp name and moved
    into place with an atomic rename; once present they are never
    rewritten (write-once)."""
    import shutil

    os.makedirs(_FIXTURE_DIR, exist_ok=True)
    if not os.path.isdir(_LANDING):
        staged = f"{_LANDING}.tmp.{os.getpid()}"
        shutil.rmtree(staged, ignore_errors=True)
        write_fixture_landing(staged)
        try:
            os.rename(staged, _LANDING)
        except OSError:  # another driver won the race — its bytes are ours
            shutil.rmtree(staged, ignore_errors=True)
    if os.path.exists(_SILVER_PARQUET):
        return
    rows = silver_rows(PROCESSED_AT)
    cols = {k: [r[k] for r in rows] for k in rows[0]}
    schema = pa.schema(
        [
            ("id", pa.string()),
            ("rank", pa.int32()),
            ("symbol", pa.string()),
            ("name", pa.string()),
            ("supply", pa.float64()),
            ("max_supply", pa.float64()),
            ("market_cap_usd", pa.float64()),
            ("volume_usd_24hr", pa.float64()),
            ("price_usd", pa.float64()),
            ("change_percent_24hr", pa.float64()),
            ("vwap_24hr", pa.float64()),
            ("explorer", pa.string()),
            ("data_referencia", pa.string()),
            ("data_processamento", pa.string()),
        ]
    )
    staged_pq = f"{_SILVER_PARQUET}.tmp.{os.getpid()}"
    pq.write_table(pa.table(cols, schema=schema), staged_pq)
    os.replace(staged_pq, _SILVER_PARQUET)


_ensure_fixture()

# shared oracle prelude: silver replica + latest-snapshot view (W1)
_LATEST_CTE = f"""
    WITH silver AS (
        SELECT * FROM read_parquet('{_SILVER_PARQUET}')
    ),
    latest AS (
        SELECT * EXCLUDE (data_referencia),
               CAST(data_referencia AS TIMESTAMP) AS data_referencia
        FROM silver
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY id ORDER BY CAST(data_referencia AS TIMESTAMP) DESC) = 1
    )
"""

_GOLD_SQL = {
    "daily_overview": f"""
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
    "top_gainers_losers": f"""
        SELECT name, symbol,
               ROUND(change_percent_24hr, 4) AS change_percent_24hr,
               ROUND(price_usd, 8) AS price_usd,
               tipo_movimento, data_referencia,
               TIMESTAMP '{ANALYSIS_AT}' AS data_processamento_analise
        FROM (
            (SELECT name, symbol, change_percent_24hr, price_usd, data_referencia,
                    'Ganhador' AS tipo_movimento
             FROM latest WHERE change_percent_24hr IS NOT NULL
             ORDER BY change_percent_24hr DESC, id LIMIT 10)
            UNION ALL
            (SELECT name, symbol, change_percent_24hr, price_usd, data_referencia,
                    'Perdedor' AS tipo_movimento
             FROM latest WHERE change_percent_24hr IS NOT NULL
             ORDER BY change_percent_24hr ASC, id LIMIT 10)
        ) u
    """,
    "market_dominance": f"""
        SELECT name, symbol,
               ROUND(market_cap_usd, 2) AS market_cap_usd,
               ROUND(market_cap_usd / total * 100, 4) AS percent_market_cap,
               data_referencia,
               TIMESTAMP '{ANALYSIS_AT}' AS data_processamento_analise
        FROM (SELECT * FROM latest WHERE market_cap_usd IS NOT NULL) base,
             (SELECT SUM(market_cap_usd) AS total FROM latest
               WHERE market_cap_usd IS NOT NULL) tot
    """,
    "supply_dynamics": f"""
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
}


def _latest(spark: SparkSession) -> DataFrame:
    # from_unixtime formats in session TZ; pin UTC to match the replica
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = read_raw_json(spark, f"{_LANDING}/coincap_data_*.json")
    silver = cp.bronze_to_silver(raw, processed_at=PROCESSED_AT).drop("_source_file")
    return cp.latest_assets(silver, cache=False)


def _register(name: str, builder):
    oracle = _LATEST_CTE + _GOLD_SQL[name]

    def q(spark: SparkSession, sf_dir: str, _b=builder) -> DataFrame:
        return _b(_latest(spark), analysis_at=ANALYSIS_AT)

    q.__name__ = f"crypto_{name}"
    q.__doc__ = (
        f"Reference Gold table '{name}' computed by the real pipeline over "
        "the deterministic crypto fixture; oracle replicates it in SQL over "
        "the pure-Python Silver replica. (sf_dir unused: crypto-shaped "
        "input is fixture-borne.)"
    )
    return corpus_query(f"crypto_{name}", oracle=oracle)(q)


crypto_daily_overview = _register("daily_overview", cp.daily_overview)
crypto_top_gainers_losers = _register("top_gainers_losers", cp.top_gainers_losers)
crypto_market_dominance = _register("market_dominance", cp.market_dominance)
crypto_supply_dynamics = _register("supply_dynamics", cp.supply_dynamics)


@corpus_query(
    "crypto_dashboard",
    oracle=_LATEST_CTE
    + ", "
    + ", ".join(f"{n} AS ({sql})" for n, sql in _GOLD_SQL.items())
    + """
    SELECT ov.id, ov.name, ov.symbol, ov.rank,
           ov.price_usd, ov.market_cap_usd, ov.volume_usd_24hr,
           ov.change_percent_24hr, ov.vwap_24hr, ov.supply, ov.max_supply,
           ov.explorer, ov.data_referencia,
           sd.market_cap_per_unit_supply, sd.status_oferta_maxima,
           md.percent_market_cap,
           tg.tipo_movimento
    FROM daily_overview ov
    LEFT JOIN supply_dynamics sd
           ON ov.symbol = sd.symbol AND ov.data_referencia = sd.data_referencia
    LEFT JOIN market_dominance md
           ON ov.symbol = md.symbol AND ov.data_referencia = md.data_referencia
    LEFT JOIN top_gainers_losers tg
           ON ov.symbol = tg.symbol AND ov.data_referencia = tg.data_referencia
    WHERE ov.data_referencia = (SELECT MAX(data_referencia) FROM daily_overview)
    """,
)
def crypto_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference dashboard view (`5-sql:2-50`) end-to-end over the
    crypto fixture: 3-way LEFT join on (symbol, data_referencia) +
    scalar-subquery latest filter, all four gold inputs built by the real
    pipeline."""
    latest = _latest(spark).cache()
    gold = {
        "daily_overview": cp.daily_overview(latest, ANALYSIS_AT),
        "top_gainers_losers": cp.top_gainers_losers(latest, analysis_at=ANALYSIS_AT),
        "market_dominance": cp.market_dominance(latest, ANALYSIS_AT),
        "supply_dynamics": cp.supply_dynamics(latest, ANALYSIS_AT),
    }
    return cp.dashboard(spark, gold)


@corpus_query(
    "crypto_silver_assets",
    oracle=f"SELECT * FROM read_parquet('{_SILVER_PARQUET}')",
)
def crypto_silver_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bronze->Silver transform end-to-end (reference `2:44-65`):
    multiline-JSON envelope read with explicit schema, explode, 13 typed
    projections, epoch-ms -> string datetime (quirk Q3), audit literal.
    Oracle = the pure-Python replica parquet, so every cast and format
    choice is value-checked, not just the downstream aggregates."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = read_raw_json(spark, f"{_LANDING}/coincap_data_*.json")
    return cp.bronze_to_silver(raw, processed_at=PROCESSED_AT).drop(
        "_source_file", "tokens"
    )


def _silver(spark: SparkSession) -> DataFrame:
    """The real Bronze->Silver frame over the fixture landing (UTC)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = read_raw_json(spark, f"{_LANDING}/coincap_data_*.json")
    return cp.bronze_to_silver(raw, processed_at=PROCESSED_AT)


@corpus_query(
    "streaming_snapshot_datasource",
    oracle=f"SELECT * FROM read_parquet('{_SILVER_PARQUET}')",
)
def streaming_snapshot_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource's STREAM path end-to-end: the landing
    directory is read via ``spark.readStream.format("crypto_snapshots")``
    (sources/snapshot_datasource.py — simpleStreamReader with a
    name-set offset), drained by an AvailableNow trigger into a memory
    sink, then the drained bronze-fidelity rows get the SAME typed Silver
    projection as the batch path (plans/crypto_pipeline.silver_casts).
    A fresh checkpoint per call makes the drain deterministic: exactly
    one emission of every landed snapshot — a closed window by
    construction, so the oracle is the full Silver replica, the same
    complete-corpus check as crypto_silver_assets but arriving through
    the incremental offset/commit protocol instead of a batch scan.

    Scale: one stream micro-batch partition per snapshot file, parsing
    on executors; the offset is driver metadata (file-name set), the
    exactly-once contract of Spark's own file source. (Spark 4 note:
    Python DataSource streams don't yet support AvailableNow natively —
    the engine logs a fallback to single-batch execution, which for this
    drain-everything trigger is the identical semantics; incremental
    multi-batch delivery is exercised by
    tests/test_snapshot_datasource.py::test_datasource_streaming_incremental_drain.)"""
    import shutil as _sh
    import tempfile as _tf

    from ..sources.snapshot_datasource import register_snapshot_source

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    register_snapshot_source(spark)
    name = "sg_snapshot_stream_drain"
    # fresh checkpoint per call => full deterministic re-drain (reusing
    # one would resume committed offsets and emit nothing); removed once
    # the drain terminates — the memory sink holds the result, so the
    # checkpoint has no post-termination purpose and repeated calls
    # must not accumulate temp dirs
    ckpt = _tf.mkdtemp(prefix="sg_snapds_ckpt_")
    q = None
    try:
        q = (
            spark.readStream.format("crypto_snapshots")
            .load(_LANDING)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    except BaseException:
        # stop a still-active query BEFORE its checkpoint disappears
        # (otherwise it fails its next offset/commit write and leaks)
        if q is not None and q.isActive:
            q.stop()
        raise
    finally:
        _sh.rmtree(ckpt, ignore_errors=True)
    return cp.silver_casts(spark.table(name), processed_at=PROCESSED_AT).drop(
        "tokens", "_source_file"
    )


@corpus_query(
    "crypto_scd2_history",
    oracle=f"""
    SELECT id, symbol, price_usd,
           data_referencia AS valid_from,
           LEAD(data_referencia) OVER (
               PARTITION BY id ORDER BY data_referencia
           ) AS valid_to,
           LEAD(data_referencia) OVER (
               PARTITION BY id ORDER BY data_referencia
           ) IS NULL AS is_current
    FROM read_parquet('{_SILVER_PARQUET}')
    """,
)
def crypto_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history over the append-only Silver snapshots: each
    asset row gets a [valid_from, valid_to) interval via lead() over its
    snapshot order, the open interval marking the current version. This
    is the dimension-history capability the reference's append-everything
    Delta sink implies but never materializes (readme's history claim vs
    `3:86-90`). String timestamps sort chronologically in the fixed
    from_unixtime format (quirk Q3 preserved)."""
    w = Window.partitionBy("id").orderBy("data_referencia")
    return _silver(spark).select(
        "id",
        "symbol",
        "price_usd",
        F.col("data_referencia").alias("valid_from"),
        F.lead("data_referencia").over(w).alias("valid_to"),
        F.lead("data_referencia").over(w).isNull().alias("is_current"),
    )


@corpus_query(
    "crypto_merge_upsert",
    oracle=f"""
    WITH silver AS (SELECT * FROM read_parquet('{_SILVER_PARQUET}')),
    mx AS (SELECT MAX(data_referencia) AS m FROM silver),
    target AS (
        SELECT id, symbol, price_usd, data_referencia
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY id ORDER BY data_referencia DESC
            ) AS rn
            FROM silver, mx WHERE data_referencia < m AND rank <= 35
        ) t WHERE rn = 1
    ),
    source AS (
        SELECT id, symbol, price_usd, data_referencia
        FROM silver, mx WHERE data_referencia = m AND rank > 5
    )
    SELECT COALESCE(s.id, t.id) AS id,
           CASE WHEN s.id IS NOT NULL THEN s.symbol ELSE t.symbol END AS symbol,
           CASE WHEN s.id IS NOT NULL THEN s.price_usd ELSE t.price_usd END
               AS price_usd,
           CASE WHEN s.id IS NOT NULL THEN s.data_referencia
                ELSE t.data_referencia END AS data_referencia,
           CASE WHEN s.id IS NOT NULL AND t.id IS NOT NULL THEN 'updated'
                WHEN s.id IS NOT NULL THEN 'inserted'
                ELSE 'retained' END AS merge_action
    FROM target t FULL OUTER JOIN source s ON t.id = s.id
    """,
)
def crypto_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet (operators/merge.py): the
    serving table (previous latest, ranks <= 35) upserted with the newest
    snapshot batch (ranks > 5) — matched assets update, new assets
    insert, assets absent from the batch are retained. The rank slices
    are deterministic stand-ins for feed churn; the full-outer-join +
    coalesce plan is exactly what Delta's MERGE runs underneath."""
    from ..operators.merge import merge_upsert

    silver = _silver(spark).cache()
    silver.count()  # both slices below traverse this frame
    max_ts = silver.agg(F.max("data_referencia").alias("m"))
    w = Window.partitionBy("id").orderBy(F.col("data_referencia").desc())
    target = (
        silver.crossJoin(F.broadcast(max_ts))
        .filter((F.col("data_referencia") < F.col("m")) & (F.col("rank") <= 35))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "symbol", "price_usd", "data_referencia")
    )
    source = (
        silver.crossJoin(F.broadcast(max_ts))
        .filter((F.col("data_referencia") == F.col("m")) & (F.col("rank") > 5))
        .select("id", "symbol", "price_usd", "data_referencia")
    )
    return merge_upsert(
        target,
        source,
        key_cols=["id"],
        payload_cols=["symbol", "price_usd", "data_referencia"],
    )
