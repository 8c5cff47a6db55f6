"""Custom stateful streaming operator: per-user running aggregates via
``applyInPandasWithState`` (SURVEY §2.8 superset — the reference has no
stateful processing at all).

The operator keeps one state row per user (event count, exact value total
as integer cents, last-seen timestamp) and emits the updated snapshot for
every user touched in each micro-batch. State is Spark-managed (HDFS-
checkpointed, rescalable by key): the same code runs AvailableNow over a
landing directory or continuously over Kafka.

Scale: state is hash-partitioned by user key across executors; each
micro-batch shuffles only the batch's events, and the value total is kept
in INTEGER CENTS so the running sum stays exact and order-independent —
the streaming twin of the engine's exact-decimal batch aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, last_ts timestamp"
)
STATE_SCHEMA = "n bigint, cents bigint, last_us bigint"


def running_user_totals(events_stream: DataFrame) -> DataFrame:
    """Streaming per-user running totals with explicit keyed state.
    Input schema: (user_id bigint, ts timestamp, value double).

    The state-update function is defined locally so cloudpickle ships it
    by value to workers (a module-level function would be pickled by
    reference and require this package on every worker's PYTHONPATH)."""

    def update_user_state(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        n, cents, last_us = state.get if state.exists else (0, 0, 0)
        for pdf in batches:
            n += len(pdf)
            # exact accumulation: each 2-decimal value -> integer cents,
            # then integer sum (order-independent, no fp drift)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
            last_us = max(last_us, int(pdf["ts"].astype("int64").max() // 1000))
        state.update((n, cents, last_us))
        yield _pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
                "last_ts": [_pd.Timestamp(last_us, unit="us")],
            }
        )

    return (
        events_stream.groupBy("user_id")
        .applyInPandasWithState(
            update_user_state,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


TOPN_OUTPUT_SCHEMA = (
    "user_id bigint, n_seen bigint, top_values array<double>, "
    "top_event_ids array<bigint>"
)
TOPN_N = 3


def user_topn_values(events_stream: DataFrame) -> DataFrame:
    """Streaming per-user top-{TOPN_N} event values via Spark 4's
    ``transformWithStateInPandas`` — the successor stateful API
    (SPARK-49564): named state VARIABLES per key instead of one
    monolithic state tuple. Here a ``ValueState`` counts events seen and
    a ``ListState`` holds the current top-{TOPN_N} (value, event_id)
    pairs — a bounded-size heap per key, the streaming form of a
    group-wise top-k (batch twin: o4_topk_per_group's rank window).

    Determinism: ties on value break on event_id ASC, so the kept set
    never depends on batch arrival order; state per key is O(N) by
    construction (the list is truncated on every update).
    Input schema: (user_id bigint, event_id bigint, value double).

    Defined processor-inside-function so cloudpickle ships the class by
    value (no package install needed on workers).

    Runtime requirements (cluster, not this container): the
    transformWithState Python runner speaks protobuf to the JVM
    (``google.protobuf`` must be installed), and the query should run on
    the RocksDB state store
    (``spark.sql.streaming.stateStore.providerClass`` =
    ``...state.RocksDBStateStoreProvider``) — the provider the API is
    designed against. The test is import-gated on protobuf."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TopNProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState("seen", "n bigint")
            self._top = handle.getListState(
                "top", "value double, event_id bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            seen = self._seen.get()
            n = seen[0] if seen is not None else 0
            cur = [(float(v), int(e)) for v, e in self._top.get()]
            for pdf in rows:
                n += len(pdf)
                cur.extend(
                    zip(pdf["value"].astype(float), pdf["event_id"].astype(int))
                )
            # value DESC, event_id ASC — total order, arrival-independent
            cur.sort(key=lambda t: (-t[0], t[1]))
            cur = cur[:TOPN_N]
            self._seen.update((n,))
            self._top.put(cur)
            yield _pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_seen": [n],
                    "top_values": [[v for v, _ in cur]],
                    "top_event_ids": [[e for _, e in cur]],
                }
            )

        def close(self) -> None:
            pass

    return events_stream.groupBy("user_id").transformWithStateInPandas(
        TopNProcessor(),
        outputStructType=TOPN_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
