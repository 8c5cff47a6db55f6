#!/usr/bin/env python3
"""Bucketed storage for the corpus-vs-corpus similarity join (r9
verdict task 3; scoped in SCALE.md's r9 section): the one similarity
shape where BOTH join sides are corpus-sized — the index-to-index
semantic-dedup self-join on the cell/cluster key. The serving-path IVF
probes never need this (the persisted index is partition-pruned and the
query side is broadcast, operators/ann_index.py); a dedup SWEEP joins
the coded corpus against itself, so a plain-parquet layout pays two
data-sized exchanges + sorts per sweep, every sweep. Writing the coded
corpus (vec_id, cell, nv) BUCKETED by cell moves that shuffle to write
time, once.

Shape under test = dedup_semantic_blocked_capped's skeleton at scale:
same-cell self-join (vec_a < vec_b), per-cell population cap, surviving
candidate pairs scored by the Arrow fold kernel and thresholded — the
"JVM selects, Python only scores survivors" posture. The ONLY variant
difference is storage placement; the checksum (pair count + id sum)
must be bit-identical.

Amplification (scaled-k production posture): replica r offsets vec ids
AND cell ids, so the cell COUNT scales with the corpus while per-cell
population stays fixed — exactly how a production sweep holds
sum(n_c^2) linear in N (SCALE.md, the k dial).

ISOLATED protocol (the r8 methodology): ONE variant per process, idle
box, inputs read cold from disk:

    python3 tools/semantic_bucketed.py prepare
    python3 tools/semantic_bucketed.py baseline   # plain parquet
    python3 tools/semantic_bucketed.py bucketed   # bucketed table

Env: SPARK_GRAFT_SCALE_LEVEL (default 100), SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1), SPARK_GRAFT_BUCKETS (default 64),
SPARK_GRAFT_WORKDIR (default /tmp/sem_bucketed).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections.abc import Iterator

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd
from pyspark.sql import Window, functions as F

from bucketed_common import amplify_cols

LEVEL = int(os.environ.get("SPARK_GRAFT_SCALE_LEVEL", "100"))
BUCKETS = int(os.environ.get("SPARK_GRAFT_BUCKETS", "64"))
WORKDIR = os.environ.get("SPARK_GRAFT_WORKDIR", "/tmp/sem_bucketed")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TABLE = "sem_coded_bucketed"
CLUSTER_CAP = 64
THRESHOLD = 0.2


def _spark():
    from project_crypto_data_engineering_gcp_spark.session import get_spark

    return get_spark("semantic_bucketed")


def _paths():
    return (
        os.path.join(WORKDIR, f"coded_plain_x{LEVEL}"),
        os.path.join(WORKDIR, f"coded_bucketed_x{LEVEL}"),
    )


def _coded_corpus(spark):
    """The real IVF-coded corpus at SF_DIR (vec_id, cell, nv), amplified
    x LEVEL with per-replica vec AND cell offsets (scaled-k posture)."""
    from project_crypto_data_engineering_gcp_spark.operators.similarity import (
        ivf_assign_frame,
    )
    from project_crypto_data_engineering_gcp_spark.plans.queries_similarity import (
        IVF_CELLS,
    )
    from project_crypto_data_engineering_gcp_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    coded = (
        ivf_assign_frame(emb, n_cells=IVF_CELLS)
        .withColumnRenamed("vec_b", "vec_id")
        .withColumnRenamed("cnv", "nv")
        .localCheckpoint(eager=True)
    )
    stride_v = coded.agg(F.max("vec_id")).collect()[0][0] + 1
    return amplify_cols(
        spark,
        coded,
        LEVEL,
        {"vec_id": stride_v, "cell": IVF_CELLS, "nv": 0},
    )


def sweep_pairs(coded, *, cap: int = CLUSTER_CAP, tau: float = THRESHOLD):
    """The corpus-vs-corpus sweep: cap per-cell population, self-join on
    the cell key, Arrow-score the surviving pairs, keep cos >= tau.
    Placement-agnostic — the caller decides how ``coded`` is stored."""
    w = Window.partitionBy("cell").orderBy("vec_id")
    v = (
        coded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )
    x = v.alias("x")
    y = v.alias("y")
    cand = x.join(
        y,
        (F.col("x.cell") == F.col("y.cell"))
        & (F.col("x.vec_id") < F.col("y.vec_id")),
    ).select(
        F.col("x.vec_id").alias("vec_a"),
        F.col("y.vec_id").alias("vec_b"),
        F.col("x.nv").alias("anv"),
        F.col("y.nv").alias("bnv"),
    )

    def dot(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            a = np.stack(pdf["anv"].to_numpy()).astype(np.float64)
            b = np.stack(pdf["bnv"].to_numpy()).astype(np.float64)
            acc = np.zeros(len(pdf), dtype=np.float64)
            for i in range(a.shape[1]):  # fold-identical
                acc += a[:, i] * b[:, i]
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"].astype("int64"),
                    "vec_b": pdf["vec_b"].astype("int64"),
                    "cos_sim": np.round(acc, 6),
                }
            )

    return cand.mapInPandas(
        dot, schema="vec_a bigint, vec_b bigint, cos_sim double"
    ).filter(F.col("cos_sim") >= tau)


def main() -> int:
    step = sys.argv[1] if len(sys.argv) > 1 else "prepare"
    spark = _spark()
    plain_path, bucketed_path = _paths()

    if step == "prepare":
        from project_crypto_data_engineering_gcp_spark.sources.bucketing import (
            drop_bucketed,
            write_bucketed,
        )

        shutil.rmtree(WORKDIR, ignore_errors=True)
        os.makedirs(WORKDIR)
        coded = _coded_corpus(spark).persist()
        n = coded.count()
        t0 = time.perf_counter()
        coded.write.parquet(plain_path)
        plain_write = round(time.perf_counter() - t0, 2)
        drop_bucketed(spark, f"{TABLE}_x{LEVEL}")
        t0 = time.perf_counter()
        write_bucketed(
            coded, f"{TABLE}_x{LEVEL}", bucketed_path, buckets=BUCKETS, key="cell"
        )
        bucketed_write = round(time.perf_counter() - t0, 2)
        print(
            json.dumps(
                {
                    "step": "prepare",
                    "level": LEVEL,
                    "rows": n,
                    "plain_write_sec": plain_write,
                    "bucketed_write_sec": bucketed_write,
                }
            )
        )
        return 0

    if step == "bucketed":
        from project_crypto_data_engineering_gcp_spark.sources.bucketing import (
            register_bucketed,
        )

        coded = register_bucketed(
            spark,
            f"{TABLE}_x{LEVEL}_r",
            bucketed_path,
            buckets=BUCKETS,
            key="cell",
        )
    else:
        coded = spark.read.parquet(plain_path)

    # SPARK_GRAFT_SWEEP_MODE=count drops the Arrow scoring stage and
    # counts candidate pairs per cell JVM-side — the candidate-audit /
    # index-maintenance shape where the join exchange IS the dominant
    # cost (in the full sweep the Python scoring dominates and the
    # elided exchange is a small share; see SCALE.md attribution)
    count_only = os.environ.get("SPARK_GRAFT_SWEEP_MODE") == "count"
    passes = []
    checksum = None
    for _ in range(2):
        t0 = time.perf_counter()
        if count_only:
            w = Window.partitionBy("cell").orderBy("vec_id")
            v = (
                coded.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= CLUSTER_CAP)
                .drop("__rn")
                .select("vec_id", "cell")
            )
            x, y = v.alias("x"), v.alias("y")
            out = x.join(
                y,
                (F.col("x.cell") == F.col("y.cell"))
                & (F.col("x.vec_id") < F.col("y.vec_id")),
            ).select(
                F.col("x.vec_id").alias("vec_a"),
                F.col("y.vec_id").alias("vec_b"),
            )
        else:
            out = sweep_pairs(coded)
        row = out.agg(
            F.coalesce(F.sum(F.col("vec_a") + F.col("vec_b")), F.lit(0)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        passes.append(round(time.perf_counter() - t0, 2))
        checksum = [int(row["s"]), int(row["n"])]
    print(
        json.dumps(
            {
                "op": "semantic_sweep",
                "variant": step,
                "level": LEVEL,
                "cold_sec": passes[0],
                "steady_sec": passes[1],
                "checksum_sum_and_rows": checksum,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
