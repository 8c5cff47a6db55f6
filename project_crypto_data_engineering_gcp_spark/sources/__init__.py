from .tables import load_table, TESTDATA_TABLES
from .json_source import (
    RAW_ENVELOPE_SCHEMA,
    read_corrupt_json,
    read_raw_json,
    snapshot_filename,
    write_raw_snapshot,
)
from .http_source import default_fetcher, fixture_fetcher, ingest_snapshot
from .ledger import filter_new_files, record_ingested, recorded_files
from .sinks import read_history, read_table, write_history

__all__ = [
    "load_table",
    "TESTDATA_TABLES",
    "RAW_ENVELOPE_SCHEMA",
    "read_raw_json",
    "read_corrupt_json",
    "snapshot_filename",
    "write_raw_snapshot",
    "default_fetcher",
    "fixture_fetcher",
    "ingest_snapshot",
    "filter_new_files",
    "record_ingested",
    "recorded_files",
    "read_history",
    "read_table",
    "write_history",
]
