"""Seeded CoinCap-shaped snapshot generator (FIXTURES.md §A1).

Every value is a function of ``(seed, snapshot index, asset index)``, so
the same seed lands byte-identical documents in any order: the hourly
workload can land snapshot ``k`` long after snapshot ``k - 1``, and the
correctness check can regenerate the latest snapshot without reading the
landing zone.

Shape, per FIXTURES.md §A1 and the CoinCap ``/assets`` envelope:

- all numerics are decimal strings, the envelope ``timestamp`` is epoch
  milliseconds, one snapshot per hour;
- ``maxSupply`` is null for ~53% of assets, ``vwap24Hr`` for ~6% and
  ``explorer`` for ~12%;
- ``tokens`` is a sparse ``chainId -> [contract]`` map (~1 asset in 5);
- ``changePercent24Hr`` is signed with heavy tails on both sides;
- asset 0 sits at ``supply >= maxSupply`` (the "Próximo do Limite"
  branch of ``supply_dynamics``).

Symbols are unique per asset: the dashboard joins the Gold tables on
``symbol``, so a repeated symbol would fan out dashboard rows and break
the "dashboard rows == assets" check.
"""

from __future__ import annotations

import numpy as np

from project_crypto_data_engineering_gcp_spark.sources.json_source import (
    write_raw_snapshot,
)

# 2024-01-01T00:00:00.137Z: the millisecond tail exercises the
# epoch-ms -> seconds truncation of ``data_referencia``.
BASE_TS_MS = 1_704_067_200_137
HOUR_MS = 3_600_000
# pinned wall-clock literals: Silver/Gold bytes repeat exactly per seed
PROCESSED_AT = "2024-06-01 00:00:00"
ANALYSIS_AT = "2024-06-01 00:00:00"

_ALPHA = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))


def _symbol(i: int) -> str:
    letters = []
    n = i
    for _ in range(4):
        letters.append(str(_ALPHA[n % 26]))
        n //= 26
    return "".join(letters)


class CoinCapGenerator:
    """Deterministic CoinCap ``/assets`` payloads for one seed."""

    def __init__(self, seed: int, n_assets: int) -> None:
        if n_assets < 25:
            # top/bottom-10 movers must not overlap (dashboard fan-out)
            raise ValueError("n_assets must be >= 25")
        self.seed = seed
        self.n_assets = n_assets
        rng = np.random.default_rng([seed, 0xC0])
        n = n_assets
        # magnitudes capped (price <= 1e3, supply <= 1e9, so market cap
        # <= 1e12) and values quantized to their Gold rounding scale: the
        # DuckDB oracle's ROUND works on x * 10^d in binary floating
        # point, Spark's on the decimal, and the two agree only while
        # x * 10^d stays well inside double precision
        self.base_price = 10 ** rng.uniform(-4, 3, n)
        # supply coprime to 10: market cap (2 decimals) / supply then
        # never lands exactly on a half at the 8th decimal, where Spark
        # (HALF_UP) and DuckDB round market_cap_per_unit_supply apart
        supply = np.round(10 ** rng.uniform(5, 9, n), 0)
        supply += supply % 2 == 0
        supply += 2 * (supply % 5 == 0)
        self.supply = supply
        ratio = rng.uniform(1.0, 4.0, n)
        self.max_supply = np.where(rng.random(n) < 0.53, np.nan, np.round(self.supply * ratio, 0))
        self.max_supply[0] = self.supply[0]  # planted: supply >= maxSupply
        self.has_vwap = rng.random(n) >= 0.06
        self.has_explorer = rng.random(n) >= 0.12
        self.has_tokens = rng.random(n) < 0.2
        self.vol_share = rng.uniform(0.005, 0.3, n)
        self.sigma = rng.uniform(0.005, 0.04, n)

    def timestamp(self, k: int) -> int:
        return BASE_TS_MS + k * HOUR_MS

    def payload(self, k: int) -> dict:
        """Snapshot ``k`` (hour ``k`` after ``BASE_TS_MS``)."""
        rng = np.random.default_rng([self.seed, 1, k])
        n = self.n_assets
        # multiplicative random walk around the base price
        drift = np.exp(rng.normal(0.0, 1.0, n) * self.sigma * np.sqrt(k + 1))
        price = np.maximum(np.round(self.base_price * drift, 8), 1e-8)
        # Student-t change: the heavy signed tails the movers table ranks
        change = np.round(rng.standard_t(3, n) * 4.0, 4)
        mcap = np.round(price * self.supply, 2)
        order = np.argsort(-mcap, kind="stable")
        rank = np.empty(n, dtype=np.int64)
        rank[order] = np.arange(1, n + 1)
        data = []
        for i in range(n):
            ms = self.max_supply[i]
            data.append(
                {
                    "id": f"coin-{i:05d}",
                    "rank": str(int(rank[i])),
                    "symbol": _symbol(i),
                    "name": f"Coin {i:05d}",
                    "supply": f"{self.supply[i]:.16f}",
                    "maxSupply": None if np.isnan(ms) else f"{ms:.16f}",
                    "marketCapUsd": f"{mcap[i]:.16f}",
                    "volumeUsd24Hr": f"{round(mcap[i] * self.vol_share[i], 2):.16f}",
                    "priceUsd": f"{price[i]:.16f}",
                    "changePercent24Hr": f"{change[i]:.16f}",
                    "vwap24Hr": f"{round(price[i] * 0.995, 8):.16f}" if self.has_vwap[i] else None,
                    "explorer": f"https://explorer.example/{i:05d}" if self.has_explorer[i] else None,
                    "tokens": {"1": [f"0x{(self.seed * 7919 + i):040x}"]} if self.has_tokens[i] else None,
                }
            )
        return {"data": data, "timestamp": self.timestamp(k)}

    def land(self, k: int, landing_dir: str) -> str:
        """Write snapshot ``k`` through the engine's landing writer."""
        return write_raw_snapshot(self.payload(k), landing_dir)
