#!/usr/bin/env python3
"""LPA/BFS over bucketed storage: the bucketed-storage protocol
applied to label_propagation, bfs_distances, and kcore_peel (r9
follow-on — SCALE.md's bucketed-storage claim covers the whole
iterative family; all three share the symmetrized bucketed table).
Select with SPARK_GRAFT_OP=lpa|bfs|kcore (default lpa). For kcore the
persist variant does not exist (its frame shrinks per round — there is
no loop-invariant side to pin): run baseline and bucketed only.

ISOLATED protocol: one variant per process, idle box, amplified input
read cold from disk. The bucketed table stores the SYMMETRIZED frame
(the operator's caller contract — both directions, duplicates kept).

    python3 tools/lpa_bucketed.py prepare
    python3 tools/lpa_bucketed.py baseline   # plain parquet, default mode
    python3 tools/lpa_bucketed.py persist    # edge_partitions=64
    python3 tools/lpa_bucketed.py bucketed   # bucketed sym table

Env: SPARK_GRAFT_SCALE_LEVEL (default 16), SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_BUCKETS (default 64), SPARK_GRAFT_WORKDIR, SPARK_GRAFT_OP.
Scaffold (prepare/run/timing/checksum) lives in tools/bucketed_common.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import bucketed_common

LEVEL = int(os.environ.get("SPARK_GRAFT_SCALE_LEVEL", "16"))
BUCKETS = int(os.environ.get("SPARK_GRAFT_BUCKETS", "64"))
WORKDIR = os.environ.get("SPARK_GRAFT_WORKDIR", "/tmp/lpa_bucketed")
ROUNDS = 3
OP = os.environ.get("SPARK_GRAFT_OP", "lpa")
TABLE = "lpa_sym_bucketed"


def _spark():
    from project_crypto_data_engineering_gcp_spark.session import get_spark

    return get_spark("lpa_bucketed")


def _paths():
    return (
        os.path.join(WORKDIR, f"edges_plain_x{LEVEL}"),
        os.path.join(WORKDIR, f"sym_bucketed_x{LEVEL}"),
    )


def _base_edges(spark):
    from project_crypto_data_engineering_gcp_spark.sources.tables import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    base = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    return bucketed_common.amplify(spark, base, LEVEL, ("u", "v"))


def _run_op(edges, **kwargs):
    from project_crypto_data_engineering_gcp_spark.operators.graph import (
        bfs_distances,
        kcore_peel,
        label_propagation,
    )

    if OP == "bfs":
        return bfs_distances(edges, seed_mod=100, rounds=ROUNDS, **kwargs)
    if OP == "kcore":
        if kwargs.pop("edge_partitions", None):
            raise SystemExit("kcore has no persist variant (frame shrinks)")
        return kcore_peel(edges, k=3, rounds=ROUNDS, **kwargs)
    return label_propagation(edges, rounds=ROUNDS, **kwargs)


if __name__ == "__main__":
    step = sys.argv[1] if len(sys.argv) > 1 else "prepare"
    plain, bucketed = _paths()
    if step == "prepare":
        bucketed_common.prepare(
            _spark(),
            _base_edges(_spark()),
            workdir=WORKDIR,
            level=LEVEL,
            buckets=BUCKETS,
            key="u",
            table_name=TABLE,
            plain_path=plain,
            bucketed_path=bucketed,
            # LPA contract: store the symmetrized frame, duplicates kept
            to_bucketed=lambda e: e.unionAll(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            ),
        )
    elif step in ("baseline", "persist", "bucketed"):
        bucketed_common.run_variant(
            _spark(),
            step,
            op=OP,
            level=LEVEL,
            buckets=BUCKETS,
            key="u",
            table_name=TABLE,
            plain_path=plain,
            bucketed_path=bucketed,
            run_op=_run_op,
            checksum_cols=(
                {"bfs": "d", "kcore": "core_degree"}.get(OP, "community"),
                "n",
            ),
        )
    else:
        raise SystemExit(f"unknown step {step!r}")
