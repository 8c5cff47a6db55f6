#!/usr/bin/env python3
"""r13 parallel-scaling evidence (r12 VERDICT item 6): the sf0.1 bench
showed every 8->32-core ratio ~1.0 because at sf0.1 nothing is
data-bound. This tool measures DATA-BOUND points — x100 key-offset
amplification of the round's touched shapes plus the iterative-graph
flagship — so the 8-core vs 32-core ratio is meaningful.

Run it twice, sequentially, never concurrently:

  SPARK_GRAFT_CPUS=32 python tools/r13_corescale.py > plans/r13/corescale_c32.json
  SPARK_GRAFT_CPUS=8  python tools/r13_corescale.py > plans/r13/corescale_c8.json

Shapes (one JSON line each + a summary line):
  o9_grain_new    value-grain weighted median, x100 lineitem grain (60M rows)
  o10_grain_new   2-scan p90 refinement, x100 lineitem grain
  a23_wide        wide 64-accumulator bootstrap aggregate, x100 orders grain
  pagerank_bcast  5-round pagerank, x100 edges (60M), broadcast-state rounds
                  (1.6M nodes: above the shipped 250k broadcast ceiling,
                  so this arm raises SPARK_GRAFT_BROADCAST_MAX_NODES to 2M)
  pagerank_shuffle same graph, SPARK_GRAFT_BROADCAST_MAX_NODES=0 path
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from bench_common import amplify_cols, filter_shapes, timed

LEVEL = int(os.environ.get("SPARK_GRAFT_SCALE_LEVEL", "100"))
PASSES = int(os.environ.get("SPARK_GRAFT_SCALE_PASSES", "2"))


def main() -> None:
    from project_crypto_data_engineering_gcp_spark.operators.graph import (
        pagerank_fixed_point,
    )
    from project_crypto_data_engineering_gcp_spark.operators.rank import _idiv
    from project_crypto_data_engineering_gcp_spark.operators.wmedian import (
        grouped_weighted_median,
    )
    from project_crypto_data_engineering_gcp_spark.functions.hashing import md5_long
    from project_crypto_data_engineering_gcp_spark.session import get_spark
    from project_crypto_data_engineering_gcp_spark.sources.tables import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = get_spark("r13_corescale")

    li0 = load_table(spark, sf_dir, "lineitem")
    orders0 = load_table(spark, sf_dir, "orders")

    qt = (
        li0.select(
            F.xxhash64("l_returnflag").alias("gkey"),
            (F.col("l_quantity") * 100).cast("decimal(18,0)").cast("bigint").alias("v"),
            (F.col("l_extendedprice") * 100).cast("decimal(18,0)").cast("bigint").alias("w"),
        ).filter(F.col("w") > 0).localCheckpoint(eager=True)
    )
    pr = (
        li0.select(
            F.xxhash64("l_returnflag", "l_linestatus").alias("gkey"),
            (F.col("l_extendedprice") * 100).cast("decimal(18,0)").cast("bigint").alias("v"),
            (F.col("l_quantity") * 100).cast("decimal(18,0)").cast("bigint").alias("w"),
        ).filter(F.col("w") > 0).localCheckpoint(eager=True)
    )
    boot = (
        orders0.select(
            F.xxhash64("o_orderpriority").alias("prio"),
            (F.col("o_totalprice") * 100).cast("decimal(18,0)").cast("bigint").alias("cents"),
            md5_long(F.col("o_orderkey").cast("string"), "bootci-v1:").alias("h"),
        ).localCheckpoint(eager=True)
    )
    edges = (
        orders0.join(li0, orders0.o_orderkey == li0.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        ).localCheckpoint(eager=True)
    )

    def o9_new(q):
        return grouped_weighted_median(q, ["gkey"], "v", "w", band_widths=())

    def o10_new(q):
        return grouped_weighted_median(
            q, ["gkey"], "v", "w", band_widths=(100_000,), quantile_ppm=900_000
        )

    def a23_wide(b):
        aggs = []
        for i in range(32):
            c = F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1
            aggs.append(F.sum(F.when(c, F.col("cents"))).alias(f"s{i}"))
            aggs.append(F.count(F.when(c, F.lit(1))).alias(f"n{i}"))
        wide = b.groupBy("prio").agg(*aggs)
        sa = ", ".join(f"CAST({i} AS BIGINT), s{i}, n{i}" for i in range(32))
        return (
            wide.select("prio", F.expr(f"stack(32, {sa}) AS (b, s, n)"))
            .filter(F.col("n") > 0)
            .select(
                "prio", "b",
                _idiv(F.col("s").cast("decimal(38,0)") * F.lit(1000000), F.col("n"))
                .cast("bigint").alias("mean_e6"),
            )
        )

    def pagerank_bcast(e):
        os.environ["SPARK_GRAFT_BROADCAST_MAX_NODES"] = "2000000"
        return pagerank_fixed_point(e, n_iters=5, scale=10**12)

    def pagerank_shuffle(e):
        os.environ["SPARK_GRAFT_BROADCAST_MAX_NODES"] = "0"
        return pagerank_fixed_point(e, n_iters=5, scale=10**12)

    shapes = {
        "o9_grain_new": (o9_new, [(qt, {"gkey": 1_000_000, "v": 0, "w": 0})]),
        "o10_grain_new": (o10_new, [(pr, {"gkey": 1_000_000, "v": 0, "w": 0})]),
        "a23_wide": (a23_wide, [(boot, {"prio": 1000, "cents": 0, "h": 0})]),
        "pagerank_bcast": (
            pagerank_bcast,
            [(edges, {"src": 100_000_000, "dst": 100_000_000})],
        ),
        "pagerank_shuffle": (
            pagerank_shuffle,
            [(edges, {"src": 100_000_000, "dst": 100_000_000})],
        ),
    }
    shapes = filter_shapes(shapes)
    out = {"level": LEVEL, "passes": PASSES, "cpus": cpus, "shapes": {}}
    for name, (builder, specs) in shapes.items():
        frames = [
            amplify_cols(spark, base, LEVEL, spec).persist() for base, spec in specs
        ]
        for f in frames:
            f.count()
        sec = timed(lambda: builder(*frames), PASSES)
        for f in frames:
            f.unpersist(True)
        os.environ["SPARK_GRAFT_BROADCAST_MAX_NODES"] = "2000000"
        out["shapes"][name] = round(sec, 3)
        print(json.dumps({name: round(sec, 3)}), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
