"""Latest-snapshot-per-key (argmax) dedup — reference operator W1.

Reference site: ``3-spark_curated_analytics_full.py:67-74`` (row_number over
``partitionBy(id).orderBy(ts desc)`` then keep rn==1) — the load-bearing
operator of the reference's Gold layer.

Scale: one hash shuffle on the keys; Catalyst compiles to
Exchange(hashpartitioning(keys)) -> Sort -> Window -> Filter. At 100 TB the
shuffle is unavoidable for exact argmax, but (a) column pruning means only
referenced columns move, (b) AQE splits skewed key partitions, and (c) a
pre-partitioned/bucketed source on the same keys elides the Exchange
entirely. For pipelines that only need the argmax row's values (not
arbitrary columns) ``F.max_by`` aggregation is the shuffle-equivalent
alternative; row_number is used here because it preserves the whole row
and matches reference semantics exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def latest_snapshot(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str | Column,
    tiebreakers: Sequence[str | Column] = (),
) -> DataFrame:
    """Keep, per key group, the single row with the greatest ``order_col``.

    ``tiebreakers`` (also descending) make the pick total when ``order_col``
    has duplicates within a key — required for deterministic differential
    testing and for replay-stable production output.
    """
    order = [
        (c if isinstance(c, Column) else F.col(c)).desc()
        for c in (order_col, *tiebreakers)
    ]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
