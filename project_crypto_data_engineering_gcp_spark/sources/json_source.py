"""Raw market-snapshot JSON ingest (reference S1-S4).

The reference lands one pretty-printed JSON document per API snapshot in
object storage (`1-cloud_function_get_data.py:49-69`) and reads all
unprocessed documents with a multiline glob scan + schema inference
(`2-spark_processed_assats_list.py:37-41`). This engine keeps the same
envelope but:

  - declares an explicit ``StructType`` (inference over the sparse
    ``tokens`` map is nondeterministic across payloads and costs an extra
    full read — SURVEY §4 'schema inference cost'),
  - models ``tokens`` as ``map<string, array<string>>`` and preserves it
    (the reference silently drops it — superset capability, SURVEY §1.2),
  - uses replay-stable snapshot filenames derived from the payload's own
    timestamp (quirk Q8), so re-ingesting a snapshot overwrites rather
    than duplicates.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, types as T

# CoinCap-style envelope: all numerics are decimal strings (SURVEY §1.2)
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("rank", T.StringType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("supply", T.StringType()),
        T.StructField("maxSupply", T.StringType()),
        T.StructField("marketCapUsd", T.StringType()),
        T.StructField("volumeUsd24Hr", T.StringType()),
        T.StructField("priceUsd", T.StringType()),
        T.StructField("changePercent24Hr", T.StringType()),
        T.StructField("vwap24Hr", T.StringType()),
        T.StructField("explorer", T.StringType()),
        T.StructField(
            "tokens", T.MapType(T.StringType(), T.ArrayType(T.StringType()))
        ),
    ]
)

RAW_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("data", T.ArrayType(ASSET_SCHEMA)),
        T.StructField("timestamp", T.LongType()),
        # PERMISSIVE mode lands unparseable documents here instead of
        # failing the batch; the reader splits them off for quarantine
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def snapshot_filename(payload_ts_ms: int) -> str:
    """Replay-stable raw object name from the payload's own epoch-ms
    timestamp (reference `1:49-56`, quirk Q8)."""
    dt = datetime.fromtimestamp(payload_ts_ms / 1000, tz=timezone.utc)
    return f"coincap_data_{dt.strftime('%Y%m%d_%H%M%S')}.json"


def write_raw_snapshot(payload: dict, landing_dir: str) -> str:
    """Land one API payload as a pretty-printed JSON document (reference
    S3 `1:59-69`). Driver-side IO — ingest is one ~65 KB doc per call."""
    os.makedirs(landing_dir, exist_ok=True)
    path = os.path.join(landing_dir, snapshot_filename(payload["timestamp"]))
    with open(path, "w", encoding="utf-8") as f:
        json.dump(payload, f, indent=4, ensure_ascii=False)
    return path


def read_raw_json(
    spark: SparkSession, glob: str, files: list[str] | None = None
) -> DataFrame:
    """Multiline-JSON scan with explicit schema (reference S4 `2:37-41`,
    minus the inference pass). One row per snapshot document;
    ``input_file_name`` is exposed for the Silver ingest record. ``files``
    (a subset of the glob's matches, as :func:`hadoop_fs.glob_files`
    lists them) narrows the scan to just those files — the
    not-yet-ingested ones.

    PERMISSIVE parsing: a malformed document becomes one row with only
    ``_corrupt_record`` set — it is dropped here (and quarantined by
    :func:`read_corrupt_json`) rather than failing the whole batch, so
    one bad upload can never wedge ingestion (the reference would throw)."""
    from pyspark.sql import functions as F

    df = _read_permissive(spark, [glob] if files is None else files)
    return df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")


def _read_permissive(spark: SparkSession, paths: list[str]) -> DataFrame:
    from pyspark.sql import functions as F

    return (
        spark.read.schema(RAW_ENVELOPE_SCHEMA)
        .option("multiline", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(paths)
        .withColumn("_source_file", F.input_file_name())
    )


def read_corrupt_json(spark: SparkSession, glob: str) -> DataFrame:
    """The quarantine view: source file + raw text of every document the
    PERMISSIVE reader could not parse (for alerting / replay).

    Spark refuses a query that reads ONLY the corrupt-record column off
    a JSON scan; caching the parsed frame is the documented unlock. The
    view is small (bad documents only), so it is collected eagerly and
    the cache released before returning — nothing stays persisted."""
    from pyspark.sql import functions as F

    parsed = _read_permissive(spark, [glob]).cache()
    try:
        bad = parsed.filter(F.col("_corrupt_record").isNotNull()).select(
            "_source_file", "_corrupt_record"
        )
        schema, rows = bad.schema, bad.collect()
    finally:
        parsed.unpersist()
    return spark.createDataFrame(rows, schema)
