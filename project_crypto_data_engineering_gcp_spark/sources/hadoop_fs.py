"""Driver-side landing listing through the Hadoop FileSystem API.

Listing a landing glob is a metadata operation: it runs on the driver
through the same Hadoop ``FileSystem`` Spark itself uses, so any URI
Spark can read (``file:``, ``s3a:``, ``gs:``, ``hdfs:``) works here, and
it starts no Spark job.

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


def as_path(uri: str) -> str:
    """The Hadoop path string of a URI-encoded file URI: scheme and
    authority kept, an empty authority dropped, the path decoded."""
    u = urlsplit(uri)
    if not u.scheme:
        return uri
    authority = f"//{u.netloc}" if u.netloc else ""
    return f"{u.scheme}:{authority}{unquote(u.path)}"
