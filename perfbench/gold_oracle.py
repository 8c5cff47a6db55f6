"""End-of-run Gold check: the four serving Gold tables against DuckDB
over the generator's latest snapshot.

The oracle side never reads anything the program wrote: it rebuilds the
latest snapshot's Silver rows in pure Python from the generator payload
(``float`` of a decimal string and Spark's string->double cast are both
correctly rounded, so values are bit-identical) and runs the same SQL
shapes as ``tests/test_crypto_pipeline.py``.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import duckdb
import pandas as pd

from gen_crypto import ANALYSIS_AT
from project_crypto_data_engineering_gcp_spark.sources.sinks import read_table
from tests.oracle_harness import assert_frames_match

_LATEST = """
CREATE VIEW latest AS
SELECT * EXCLUDE (data_referencia),
       CAST(data_referencia AS TIMESTAMP) AS data_referencia
FROM silver
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY id ORDER BY CAST(data_referencia AS TIMESTAMP) DESC) = 1
"""

GOLD_SQL = {
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
        FROM latest""",
    "top_gainers_losers": f"""
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
        FROM (SELECT * FROM g UNION ALL SELECT * FROM p) u""",
    "market_dominance": f"""
        WITH base AS (SELECT * FROM latest WHERE market_cap_usd IS NOT NULL),
        tot AS (SELECT SUM(market_cap_usd) AS total FROM base)
        SELECT name, symbol,
               ROUND(market_cap_usd, 2) AS market_cap_usd,
               ROUND(market_cap_usd / total * 100, 4) AS percent_market_cap,
               data_referencia,
               TIMESTAMP '{ANALYSIS_AT}' AS data_processamento_analise
        FROM base, tot""",
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
        WHERE supply IS NOT NULL AND supply > 0 AND market_cap_usd IS NOT NULL""",
}


def _num(s: str | None) -> float | None:
    return None if s is None else float(s)


def silver_frame(payload: dict) -> pd.DataFrame:
    """Pure-Python Bronze->Silver of one payload (sans ``tokens``)."""
    data_ref = datetime.fromtimestamp(payload["timestamp"] // 1000, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    return pd.DataFrame(
        [
            {
                "id": a["id"],
                "rank": int(a["rank"]),
                "symbol": a["symbol"],
                "name": a["name"],
                "supply": _num(a["supply"]),
                "max_supply": _num(a["maxSupply"]),
                "market_cap_usd": _num(a["marketCapUsd"]),
                "volume_usd_24hr": _num(a["volumeUsd24Hr"]),
                "price_usd": _num(a["priceUsd"]),
                "change_percent_24hr": _num(a["changePercent24Hr"]),
                "vwap_24hr": _num(a["vwap24Hr"]),
                "explorer": a["explorer"],
                "data_referencia": data_ref,
            }
            for a in payload["data"]
        ]
    ).astype({c: "float64" for c in ("max_supply", "vwap_24hr")})


def check_gold(spark, out_dir: str, latest_payload: dict) -> list[str]:
    """Compare each serving Gold table with its oracle; returns errors."""
    con = duckdb.connect()
    errors = []
    try:
        con.register("silver", silver_frame(latest_payload))
        con.execute(_LATEST)
        for name, sql in GOLD_SQL.items():
            got = read_table(spark, os.path.join(out_dir, "gold", "serving", name))
            try:
                assert_frames_match(got, con.execute(sql).df(), name)
            except AssertionError as e:
                errors.append(str(e)[:500])
    finally:
        con.close()
    return errors
