"""Ingest ledger: exactly-once file ingestion without mutating the source.

The reference marks raw files processed by RENAMING them
(`2-spark_processed_assats_list.py:69-87` — `X.json` -> `read_X.json`), a
protocol that mutates the landing zone and races concurrent readers. The
engine keeps an append-only parquet ledger of ingested source files
instead: new-file discovery is a set difference of the driver-side
landing listing against the ledger. Idempotent re-runs, no source
mutation, and the same idea scales to object stores.

The ledger is driver-side metadata end to end: one small parquet file
per ingest batch, written and read through the Hadoop FileSystem API
(``sources/hadoop_fs.py``) with pyarrow, so finding "nothing new" starts
no Spark job. It stays an ordinary parquet directory (``source_file``,
``ingested_at``, ``n_rows``) that ``spark.read.parquet`` audits as a
table.

The Structured Streaming file source + checkpoint (streaming/incremental)
is the fully-managed alternative; the ledger serves the batch path.
"""

from __future__ import annotations

import io
import os
import uuid
from collections.abc import Iterable
from datetime import datetime, timezone
from functools import lru_cache

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from . import hadoop_fs

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("source_file", pa.string(), nullable=False),
        pa.field("ingested_at", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("n_rows", pa.int64(), nullable=False),
    ]
)


def _ledger_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_ingest_ledger")


def ingested_files(spark: SparkSession, out_dir: str) -> set[str]:
    """Every source file the ledger records, as Hadoop path strings
    (:func:`hadoop_fs.as_path`), so they compare equal to a landing
    listing whatever URI spelling recorded them."""
    seen: set[str] = set()
    for f in hadoop_fs.list_files(spark, _ledger_path(out_dir), ".parquet"):
        seen |= _ledger_file(spark, f)
    return seen


@lru_cache(maxsize=8192)
def _ledger_file(spark: SparkSession, path: str) -> frozenset[str]:
    # ledger files are immutable and uniquely named, so a cycle only
    # reads the ones written since the last (one per ingest batch)
    table = pq.read_table(
        io.BytesIO(hadoop_fs.read_bytes(spark, path)), columns=["source_file"]
    )
    return frozenset(hadoop_fs.as_path(u) for u in table.column(0).to_pylist())


def filter_new_files(landed: Iterable[str], ingested: set[str]) -> list[str]:
    """The landed files (Hadoop path strings) the ledger has not seen."""
    return [f for f in landed if f not in ingested]


def record_ingested(out_dir: str, per_file_counts: Iterable[tuple[str, int]]) -> None:
    """Append one ledger file of (file, ts, rows); call after the Silver
    write commits, so a crash between write and record only ever
    re-processes (the Silver commit's txn marker skips the replay)."""
    rows = list(per_file_counts)
    now = datetime.now(timezone.utc)
    table = pa.table(
        {
            "source_file": [r[0] for r in rows],
            "ingested_at": [now] * len(rows),
            "n_rows": [int(r[1]) for r in rows],
        },
        schema=_ARROW_SCHEMA,
    )
    buf = io.BytesIO()
    pq.write_table(table, buf)
    name = f"part-{uuid.uuid4().hex}.parquet"
    hadoop_fs.write_bytes(
        SparkSession.active(), os.path.join(_ledger_path(out_dir), name), buf.getvalue()
    )
