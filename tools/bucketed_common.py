"""Shared scaffold for the bucketed-storage experiments
(tools/lpa_bucketed.py, tools/semantic_bucketed.py): the key-offset
amplifiers, the prepare step (plain + bucketed writes, both timed) and
the two-pass per-variant runner, kept in one copy so a protocol fix
lands once.

ISOLATED protocol contract: callers run ONE variant per process on an
idle box; inputs are read cold from disk.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import functions as F


def amplify(spark, edges, n: int, cols: tuple[str, str]):
    """n disjoint key-offset copies of an edge frame via ONE broadcast
    crossJoin (a single narrow stage — per-copy structure preserved
    exactly, so scale ratios isolate runtime scaling of the shape)."""
    if n == 1:
        return edges
    a, b = cols
    offset = edges.agg(F.greatest(F.max(a), F.max(b))).collect()[0][0] + 1
    copies = F.broadcast(spark.range(n).select(F.col("id").alias("_copy")))
    return edges.crossJoin(copies).select(
        (F.col(a) + F.col("_copy") * offset).alias(a),
        (F.col(b) + F.col("_copy") * offset).alias(b),
    )


def amplify_cols(spark, df, n: int, offset_cols: dict[str, int]):
    """Dict-spec variant of :func:`amplify` for non-edge frames: n
    disjoint copies; each column is shifted by copy * its stride
    (stride 0 keeps the column shared across copies). One broadcast
    crossJoin, per-copy structure preserved exactly."""
    if n == 1:
        return df
    copies = F.broadcast(spark.range(n).select(F.col("id").alias("_copy")))
    out = df.crossJoin(copies)
    return out.select(
        *[
            ((F.col(c) + F.col("_copy") * stride).alias(c) if stride else F.col(c))
            for c, stride in offset_cols.items()
        ]
    )


def prepare(
    spark,
    base,
    *,
    workdir: str,
    level: int,
    buckets: int,
    key: str,
    table_name: str,
    plain_path: str,
    bucketed_path: str,
    to_bucketed=None,
) -> None:
    """Write the amplified frame twice — plain parquet and bucketed on
    ``key`` (optionally transformed first via ``to_bucketed``, e.g.
    symmetrization) — timing both: the bucketed write's extra cost IS
    the one-time price of the mode."""
    from project_crypto_data_engineering_gcp_spark.sources.bucketing import (
        drop_bucketed,
        write_bucketed,
    )

    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    frame = base.persist()
    n = frame.count()

    t0 = time.perf_counter()
    frame.write.parquet(plain_path)
    plain_write = round(time.perf_counter() - t0, 2)

    bucketed_frame = to_bucketed(frame) if to_bucketed else frame
    drop_bucketed(spark, table_name)
    t0 = time.perf_counter()
    write_bucketed(
        bucketed_frame, table_name, bucketed_path, buckets=buckets, key=key
    )
    bucketed_write = round(time.perf_counter() - t0, 2)
    print(
        json.dumps(
            {
                "step": "prepare",
                "level": level,
                "rows": n,
                "plain_write_sec": plain_write,
                "bucketed_write_sec": bucketed_write,
            }
        )
    )


def run_variant(
    spark,
    variant: str,
    *,
    op: str,
    level: int,
    buckets: int,
    key: str,
    table_name: str,
    plain_path: str,
    bucketed_path: str,
    run_op,
    checksum_cols: tuple[str, str],
) -> None:
    """Two timed passes of ``run_op(edges, **placement_kwargs)`` —
    variant selects the placement: ``baseline`` (plain parquet, default
    operator mode), ``persist`` (edge_partitions=buckets), ``bucketed``
    (register + edges_pre_bucketed). Prints one JSON line with cold /
    steady seconds and a (sum, count) result checksum for cross-variant
    identity comparison."""
    if variant == "bucketed":
        from project_crypto_data_engineering_gcp_spark.sources.bucketing import (
            register_bucketed,
        )

        edges = register_bucketed(
            spark,
            f"{table_name}_x{level}_r",
            bucketed_path,
            buckets=buckets,
            key=key,
        )
        kwargs = {"edges_pre_bucketed": True}
    else:
        edges = spark.read.parquet(plain_path)
        kwargs = {"edge_partitions": buckets} if variant == "persist" else {}

    sum_col, _ = checksum_cols
    passes = []
    checksum = None
    for _ in range(2):
        t0 = time.perf_counter()
        out = run_op(edges, **kwargs)
        # coalesce: an op whose result can be EMPTY (kcore can peel the
        # whole graph away) must print a (0, 0) checksum, not die on
        # int(None) after the full timed pass (code-review r9 pass 4)
        row = out.agg(
            F.coalesce(F.sum(sum_col), F.lit(0)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        passes.append(round(time.perf_counter() - t0, 2))
        checksum = [int(row["s"]), int(row["n"])]
    print(
        json.dumps(
            {
                "op": op,
                "variant": variant,
                "level": level,
                "cold_sec": passes[0],
                "steady_sec": passes[1],
                "checksum_sum_and_rows": checksum,
            }
        )
    )
