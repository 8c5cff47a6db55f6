"""The Silver ingest record: which landed files Silver already holds.

The reference marks raw files processed by RENAMING them
(`2-spark_processed_assats_list.py:69-87` — `X.json` -> `read_X.json`), a
protocol that mutates the landing zone and races concurrent readers. The
engine leaves the landing zone alone. Every Silver commit carries, in its
commit metadata (the txlog manifest's ``metadata``), the cumulative set
of source files Silver holds — the Hadoop path strings
:func:`hadoop_fs.glob_files` lists, sorted — and the files quarantined as
unparseable. Like the manifest's file list, the record is complete at
every version, so the one atomic commit that appends a batch's rows also
records the batch: there is nothing to write after it, and no crash
window between rows and record.

This module is the only code that knows the record's format. It does no
IO: the runner reads the record from the Silver snapshot and hands the
next one to the Silver commit.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Set

_INGESTED = "ingested"
_QUARANTINED = "quarantined"


def recorded_files(metadata: Mapping) -> frozenset[str] | None:
    """Every source file a Silver commit's metadata records, ingested or
    quarantined; None when the metadata carries no record."""
    if _INGESTED not in metadata:
        return None
    return frozenset(metadata[_INGESTED]) | frozenset(metadata.get(_QUARANTINED, ()))


def filter_new_files(landed: Iterable[str], ingested: Set[str]) -> list[str]:
    """The landed files (Hadoop path strings) the record has not seen."""
    return [f for f in landed if f not in ingested]


def record_ingested(
    prior: Mapping, batch: Iterable[str], quarantined: Iterable[str] = ()
) -> dict:
    """The next Silver commit's metadata: the ``prior`` commit's record
    (empty for the first commit) plus this batch's parsed files and the
    ones that held no parseable document."""
    return {
        _INGESTED: sorted({*prior.get(_INGESTED, ()), *batch}),
        _QUARANTINED: sorted({*prior.get(_QUARANTINED, ()), *quarantined}),
    }
