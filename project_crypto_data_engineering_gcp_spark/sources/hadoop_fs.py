"""Driver-side file metadata through the Hadoop FileSystem API.

Listing a landing glob and reading or writing the small ingest-ledger
files are metadata operations: they run on the driver through the same
Hadoop ``FileSystem`` Spark itself uses, so any URI Spark can read
(``file:``, ``s3a:``, ``gs:``, ``hdfs:``) works here, and none of them
starts a Spark job.

Paths come back as Hadoop path strings (``Path.toString()``, e.g.
``file:/data/x.json``): the form Spark's readers accept verbatim.
:func:`as_path` maps the URI-encoded form ``input_file_name()`` records
(``file:///data/x.json``) to the same string, so the two compare equal.
"""

from __future__ import annotations

from urllib.parse import unquote, urlsplit

from pyspark.sql import SparkSession


def _jvm_path(spark: SparkSession, path: str):
    """(FileSystem, qualified Path) for ``path``."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(p)


def glob_files(spark: SparkSession, pattern: str) -> list[str]:
    """Sorted paths of the files (not directories) ``pattern`` matches;
    empty when it matches nothing."""
    fs, p = _jvm_path(spark, pattern)
    statuses = fs.globStatus(p)
    if statuses is None:  # a glob-free pattern naming nothing
        return []
    return sorted(s.getPath().toString() for s in statuses if s.isFile())


def list_files(spark: SparkSession, directory: str, suffix: str) -> list[str]:
    """Sorted paths of the visible files directly under ``directory``
    ending in ``suffix`` (names starting with ``.``/``_`` are hidden, as
    for Spark's readers); empty when the directory does not exist."""
    fs, p = _jvm_path(spark, directory)
    if not fs.exists(p):
        return []
    names = (s.getPath() for s in fs.listStatus(p) if s.isFile())
    return sorted(
        q.toString()
        for q in names
        if q.getName().endswith(suffix) and q.getName()[0] not in "._"
    )


def read_bytes(spark: SparkSession, path: str) -> bytes:
    fs, p = _jvm_path(spark, path)
    stream = fs.open(p)
    try:
        return bytes(spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Write ``path`` whole or not at all: the bytes go to a hidden
    sibling first, which a rename then publishes."""
    fs, p = _jvm_path(spark, path)
    tmp = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
        p.getParent(), f".{p.getName()}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(tmp, p):
        fs.delete(tmp, False)
        raise OSError(f"could not publish {path!r}")


def as_path(uri: str) -> str:
    """The Hadoop path string of a URI-encoded file URI: scheme and
    authority kept, an empty authority dropped, the path decoded."""
    u = urlsplit(uri)
    if not u.scheme:
        return uri
    authority = f"//{u.netloc}" if u.netloc else ""
    return f"{u.scheme}:{authority}{unquote(u.path)}"
