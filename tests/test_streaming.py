"""Streaming-mode tests: each streaming operator must match its batch
twin — the windowed rollup, sessions, the interval join, streaming dedup
(SURVEY §7 hard part (d): streaming == batch)."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_crypto_data_engineering_gcp_spark.sources.tables import load_table
from project_crypto_data_engineering_gcp_spark.streaming.incremental import (
    stream_hourly_rollup,
)

from .conftest import SF_SMOKE


def test_stream_hourly_rollup_matches_batch(spark, tmp_path):
    # stage the events table as a one-file streaming source directory
    src = str(tmp_path / "events_stream")
    events = load_table(spark, SF_SMOKE, "events")
    events.coalesce(1).write.mode("overwrite").parquet(src)

    stream_events = spark.readStream.schema(events.schema).parquet(src)
    q = stream_hourly_rollup(
        spark, stream_events, query_name="rollup_t", watermark="0 seconds"
    )
    q.awaitTermination()
    streamed = spark.table("rollup_t")

    from project_crypto_data_engineering_gcp_spark.plans.queries_reference import (
        events_hourly_rollup,
    )

    batch = events_hourly_rollup(spark, SF_SMOKE)
    # append-mode emits only windows whose watermark has passed; with the
    # source exhausted and watermark 0s, every window except possibly the
    # last open one is final — compare on the common support
    j = streamed.join(batch, ["hour_start", "event_type"], "inner")
    assert streamed.count() >= batch.count() - 5
    mismatches = j.filter(
        (streamed["n"] != batch["n"]) | (streamed["total_value"] != batch["total_value"])
    )
    assert mismatches.count() == 0


def test_session_window_matches_batch_sessionizer(spark, tmp_path):
    """session_window (stream) and lag/cumsum (batch) must produce the
    same sessions: same (user, start, end, count, exact value total)."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_reference import (
        events_sessionized,
    )
    from project_crypto_data_engineering_gcp_spark.streaming.incremental import (
        stream_sessionize,
    )

    src = str(tmp_path / "events_sess")
    events = load_table(spark, SF_SMOKE, "events")
    events.coalesce(1).write.mode("overwrite").parquet(src)
    q = stream_sessionize(
        spark, spark.readStream.schema(events.schema).parquet(src),
        query_name="sessions_t",
    )
    q.awaitTermination()
    # append mode only emits CLOSED sessions: a session whose last event
    # is within `gap` of the final watermark (max ts) stays open and is
    # never emitted on a finite source — restrict both sides to closed
    # sessions and require exact equality there
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=6)
    streamed = spark.table("sessions_t").select(
        "user_id", "session_start", "session_end", "n_events", "session_value"
    ).filter(F.col("session_end") <= F.lit(cutoff))
    batch = events_sessionized(spark, SF_SMOKE).select(
        "user_id", "session_start", "session_end", "n_events", "session_value"
    ).filter(F.col("session_end") <= F.lit(cutoff))
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_dedup_drops_redelivery(spark, tmp_path):
    """Duplicate the staged events (simulating at-least-once redelivery):
    the watermarked streaming dedup must restore the original row count."""
    from project_crypto_data_engineering_gcp_spark.streaming.incremental import (
        stream_dedup_events,
    )

    src = str(tmp_path / "events_dup")
    events = load_table(spark, SF_SMOKE, "events").select("user_id", "ts", "value")
    events.unionAll(events).coalesce(2).write.mode("overwrite").parquet(src)

    deduped = stream_dedup_events(
        spark.readStream.schema(events.schema).parquet(src)
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory").queryName("dedup_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("dedup_t").count() == events.count()


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (purchase <- preceding views) must
    emit exactly the batch join's rows once the source is drained."""
    from project_crypto_data_engineering_gcp_spark.streaming.incremental import (
        stream_interval_join,
    )

    src = str(tmp_path / "events_src")
    events = load_table(spark, SF_SMOKE, "events")
    events.coalesce(1).write.mode("overwrite").parquet(src)

    def stream():
        return spark.readStream.schema(events.schema).parquet(src)

    q = stream_interval_join(
        stream().filter(F.col("event_type") == "purchase"),
        stream().filter(F.col("event_type") == "view"),
        query_name="pv_join_t",
    )
    q.awaitTermination()
    streamed = spark.table("pv_join_t")

    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    batch = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 minutes")),
    ).select(
        "user_id", "purchase_id", "purchase_ts", "purchase_value", "view_id", "view_ts"
    )
    assert batch.count() > 0  # fixture has matches; vacuous otherwise
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_incremental_dedup_equals_batch_lsh(spark, tmp_path):
    """Streaming-incremental dedup must converge to the full-corpus LSH
    answer: draining the documents table in 3 file-batches (each batch
    deduped only against prior arrivals + itself) emits, in union,
    exactly the pairs the one-shot batch oracle finds."""
    import duckdb

    from project_crypto_data_engineering_gcp_spark.plans.queries_dedup import (
        _minhash_oracle,
    )
    from project_crypto_data_engineering_gcp_spark.sources.tables import load_table
    from project_crypto_data_engineering_gcp_spark.streaming.dedup_stream import (
        stream_incremental_dedup,
    )

    from .conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(landing / f"chunk_{i}.parquet")
        )

    state = str(tmp_path / "state")
    total = stream_incremental_dedup(spark, str(landing) + "/*/", state)

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in spark.read.parquet(state + "/pairs").collect()
    }
    assert total == len(got)  # no pair emitted twice across batches

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_ORACLE}/documents.parquet')"
    )
    want = {
        (a, b, j)
        for a, b, j in con.execute("WITH " + _minhash_oracle().lstrip().removeprefix("WITH")).fetchall()
    }
    assert got == want


def test_stream_dedup_epoch_replay_is_idempotent(spark, tmp_path):
    """A crashed-and-retried foreachBatch epoch must not corrupt state:
    replaying the SAME epoch (same batch, same epoch_id) leaves the doc
    store, band index, and emitted pairs identical — no duplicate doc
    rows inflating shingle counts, no duplicate pairs — and later
    batches still verify jaccard correctly."""
    from project_crypto_data_engineering_gcp_spark.sources.tables import load_table
    from project_crypto_data_engineering_gcp_spark.streaming.dedup_stream import (
        dedup_batch_against_state,
    )

    from .conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    state = str(tmp_path / "state")

    dedup_batch_against_state(spark, b0, state, epoch_id=0)
    n1 = dedup_batch_against_state(spark, b1, state, epoch_id=1)
    snapshot = {
        sub: sorted(map(tuple, spark.read.parquet(f"{state}/{sub}")
                        .drop("epoch").collect()))
        for sub in ("docs", "bands", "pairs")
    }

    # replay epoch 1 (simulated crash after state writes)
    n1_replay = dedup_batch_against_state(spark, b1, state, epoch_id=1)
    assert n1_replay == n1
    for sub in ("docs", "bands", "pairs"):
        again = sorted(map(tuple, spark.read.parquet(f"{state}/{sub}")
                           .drop("epoch").collect()))
        assert again == snapshot[sub], f"{sub} changed under replay"


def test_stream_dedup_mixed_direct_and_epoch_layout(spark, tmp_path):
    """Direct (epoch_id=None) and foreachBatch (epoch_id>=0) calls must
    share one state_dir: direct calls write synthetic NEGATIVE epoch
    subdirectories, so the root never mixes flat files with partition
    directories (which would fail partition discovery on the next
    read). Seed state directly, then run epoch-mode batches on the same
    dir — every subsequent read of the state must still work and the
    doc store must hold all docs exactly once."""
    from project_crypto_data_engineering_gcp_spark.sources.tables import load_table
    from project_crypto_data_engineering_gcp_spark.streaming.dedup_stream import (
        dedup_batch_against_state,
    )

    from .conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 4 == 0)
    b1 = docs.filter(F.col("doc_id") % 4 == 1)
    b2 = docs.filter(F.col("doc_id") % 4 == 2)
    state = str(tmp_path / "state")

    dedup_batch_against_state(spark, b0, state)              # direct: epoch=-1
    dedup_batch_against_state(spark, b1, state)              # direct: epoch=-2
    dedup_batch_against_state(spark, b2, state, epoch_id=0)  # stream epoch
    stored = spark.read.parquet(f"{state}/docs")
    assert "epoch" in stored.columns  # uniform partitioned layout
    ids = sorted(r["doc_id"] for r in stored.select("doc_id").collect())
    want = sorted(
        r["doc_id"]
        for r in docs.filter(F.col("doc_id") % 4 != 3).select("doc_id").collect()
    )
    assert ids == want  # each doc exactly once, all three modes visible


def test_streaming_outer_interval_join_emits_unmatched(spark):
    """The left-outer stream-stream join must actually EMIT unmatched
    purchases (null view columns) — the rows the inner variant drops and
    the part only watermark-driven state expiry can produce. At sf0.01
    the oracle says ~1956 of ~1976 emitted purchases are unmatched."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_relational import (
        streaming_interval_join_outer,
    )

    from .conftest import SF_ORACLE

    out = streaming_interval_join_outer(spark, SF_ORACLE)
    n_null = out.filter(out.view_id.isNull()).count()
    assert n_null > 0, "outer join emitted no unmatched purchases"
