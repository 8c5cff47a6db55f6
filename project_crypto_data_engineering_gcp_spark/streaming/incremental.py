"""Structured Streaming operators: the streaming twins of the batch
corpus queries.

- a watermarked tumbling-window aggregation over an event stream (twin
  of ``events_hourly_rollup``: same groupBy, late data bounded by the
  watermark), and its stream-static enrichment;
- session windows (twin of the lag/cumsum sessionizer);
- watermark-bounded streaming dedup;
- a stream-stream interval join (twin of the as-of attribution join).

Silver ingest is not here: ``plans.runner.run_silver`` is the one ingest
path, exactly-once through the ingest record its Silver commit carries
(``sources/ledger.py``), and the CLI's ``stream`` verb drives it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.numeric import dec


def stream_hourly_rollup(
    spark: SparkSession,
    events_stream: DataFrame,
    *,
    watermark: str = "2 hours",
    query_name: str = "hourly_rollup",
):
    """Watermarked tumbling-window aggregate over a streaming events frame
    (schema: ts timestamp, event_type string, value double). Append-mode
    output: a window emits once its watermark passes — late events beyond
    ``watermark`` are dropped, bounding state size at any scale.

    Returns the started StreamingQuery writing to an in-memory sink named
    ``query_name`` (tests/demos; swap for a real sink in production).
    """
    agg = (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value", 18, 2)).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def stream_enriched_rollup(
    spark: SparkSession,
    events_stream: DataFrame,
    static_dim: DataFrame,
    *,
    dim_key: str = "user_id",
    dim_col: str = "cohort_week",
    watermark: str = "2 hours",
    query_name: str = "enriched_rollup",
):
    """STREAM-STATIC ENRICHMENT: the canonical production composition of
    a streaming fact source with a slowly-changing batch dimension — the
    stream joins the static frame (broadcast: the dimension re-resolves
    per micro-batch, so a dimension refresh is picked up without
    restarting the query) BEFORE the watermarked tumbling-window
    aggregate, so windows are keyed by the enrichment attribute rather
    than the raw stream key. Stream-static equi-joins are stateless on
    the stream side (no watermark interaction, no join state), which is
    why this shape scales to any stream rate: per-batch cost is the
    probe of a broadcast hash table. For a data-sized dimension swap the
    broadcast for a shuffle join; the composition is unchanged.

    Returns the started AvailableNow query on an in-memory sink."""
    joined = (
        events_stream.withWatermark("ts", watermark)
        .join(F.broadcast(static_dim), dim_key)
    )
    agg = (
        joined.groupBy(F.window("ts", "1 hour").alias("w"), dim_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value", 18, 2)).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("hour_start"), dim_col, "n", "total_value")
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def stream_sessionize(
    spark: SparkSession,
    events_stream: DataFrame,
    *,
    gap: str = "6 hours",
    watermark: str = "0 seconds",
    query_name: str = "sessions",
):
    """Stream-native sessionization: ``session_window`` merges a user's
    events separated by less than ``gap`` into one window whose end
    extends with each event; the watermark closes sessions and bounds
    state. The streaming twin of the batch lag/cumsum sessionizer
    (plans/queries_reference.events_sessionized) — equivalence is tested.
    Returns the started AvailableNow query on an in-memory sink."""
    agg = (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 18, 2)).cast("double").alias("session_value"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "session_value")
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_events(
    events_stream: DataFrame,
    *,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
):
    """Streaming exact dedup: drop re-deliveries of the same (user_id,
    ts) within the watermark horizon. dropDuplicatesWithinWatermark keeps
    per-key state only until the watermark passes — bounded state, unlike
    an unbounded dropDuplicates. The streaming twin of the batch
    hash-groupBy dedup (at-least-once sources -> effectively-once rows)."""
    keys = keys or ["user_id", "ts"]
    return events_stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_interval_join(
    purchases_stream: DataFrame,
    views_stream: DataFrame,
    *,
    max_lag: str = "30 minutes",
    watermark: str = "1 hour",
    query_name: str = "purchase_view_join",
    how: str = "inner",
):
    """Stream-stream INTERVAL join: attribute each purchase to the views
    the same user made in the preceding ``max_lag`` window — the
    streaming twin of the batch as-of/attribution join.

    Both sides carry watermarks and the join predicate bounds event time
    on both sides (v.ts in [p.ts - max_lag, p.ts]), which is what lets
    Spark EXPIRE buffered state: a view older than watermark + max_lag
    can never match a future purchase and is dropped. Without the time
    bound the state would grow forever — the interval predicate is the
    scale contract, not an optimization.

    ``how="left_outer"`` additionally emits UNMATCHED purchases
    (null view columns) — but only when the watermark proves no future
    view can match, i.e. a left-outer row materializes at state expiry,
    not eagerly like inner matches. Consumers must therefore gate on the
    watermark having passed purchase_ts + max_lag (the corpus query
    filters exactly so) — the standard correctness contract for
    stream-stream outer joins.

    Returns the started AvailableNow query on an in-memory sink."""
    p = (
        purchases_stream.withWatermark("ts", watermark)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    v = (
        views_stream.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_lag}")),
        how,
    ).select("user_id", "purchase_id", "purchase_ts", "purchase_value", "view_id", "view_ts")
    return (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
