"""Hadoop FileSystem helpers for data-path metadata operations.

Partition probes and deletes on the data path must go through Hadoop's
``FileSystem`` abstraction so the sink behaves identically on ``file://``,
``hdfs://`` and ``s3a://`` targets — ``os.path`` silently reports False for
any non-local URI, which would make an overwrite drop the boundary rows of a
partial-day window on a cluster. These are driver-side metadata calls (one
RPC per touched partition), never a data scan.

``parquet_schema`` is the same kind of call for a schema: it reads one
parquet footer on the driver, where ``spark.read.parquet(path).schema``
would launch a one-task Spark job to infer it.

JVM classes are looked up by their full name (``jclass``), one py4j round
trip each, as PySpark's own ``observation.py`` does; the attribute walk
``spark._jvm.org.apache.hadoop.fs.Path`` costs a round trip per segment,
each of them a failed class load.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string


def jclass(spark: SparkSession, name: str):
    """The JVM class ``name`` (fully qualified), resolved in one py4j round
    trip."""
    return getattr(spark._jvm, name)


def _fs(spark: SparkSession, path: str):
    jpath = jclass(spark, "org.apache.hadoop.fs.Path")(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    """True if ``path`` exists on whatever filesystem its scheme names."""
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Delete ``path``. Returns False only if it was already absent.

    Hadoop reports a refused delete by returning False, not by raising; a
    caller that goes on as if the path were gone (e.g. renames a
    replacement onto it, which nests the replacement INSIDE the old
    directory) corrupts the table. So a path still present after the
    delete raises ``OSError``."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return False
    if not fs.delete(jpath, recursive) and fs.exists(jpath):
        raise OSError(f"Hadoop FileSystem refused to delete {path!r}")
    return True


def listdir(spark: SparkSession, path: str) -> list[str]:
    """Child names (not full paths) directly under ``path``; empty if the
    path does not exist."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Rename ``src`` to ``dst`` — atomic on HDFS/POSIX; on object stores
    (s3a) a copy+delete, which is why callers keep the renamed unit small
    (one partition directory, not the table)."""
    fs, jsrc = _fs(spark, src)
    jdst = jclass(spark, "org.apache.hadoop.fs.Path")(dst)
    return bool(fs.rename(jsrc, jdst))


def parquet_schema(spark: SparkSession, path: str) -> StructType | None:
    """The data columns ``spark.read.parquet(path)`` would infer, read from
    one footer on the driver; None if ``path`` is absent or holds no data
    file.

    Schema inference without ``mergeSchema`` reads the footer of the first
    data file in full-path order; this reads the same footer with Spark's
    own conversion (``ParquetFileFormat.readSchemaFromFooter``, its
    converter built from the session's SQL conf, so ``inferTimestampNTZ``
    and ``nanosAsLong`` apply), without the Spark job inference launches.
    Partition columns are not included: pass the result to
    ``spark.read.schema(...)`` and the reader still discovers them from the
    directory names. Summary files (``_metadata``, ``_common_metadata``),
    which Spark no longer writes, are skipped rather than preferred."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    status = _first_data_file(fs, fs.getFileStatus(jpath))
    if status is None:
        return None
    pq = "org.apache.spark.sql.execution.datasources.parquet."
    conf = spark._jsc.hadoopConfiguration()
    meta = jclass(spark, pq + "ParquetFooterReader").readFooter(
        jclass(spark, "org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(status, conf),
        jclass(
            spark, "org.apache.parquet.format.converter.ParquetMetadataConverter"
        ).SKIP_ROW_GROUPS,
    )
    footer = jclass(spark, "org.apache.parquet.hadoop.Footer")(status.getPath(), meta)
    converter = jclass(spark, pq + "ParquetToSparkSchemaConverter")(
        spark._jsparkSession.sessionState().conf()
    )
    schema = jclass(spark, pq + "ParquetFileFormat").readSchemaFromFooter(
        footer, converter
    ).asNullable()
    return _parse_datatype_json_string(schema.json())


def _first_data_file(fs, status):
    """``status`` if it is a file, else the first data file under it in
    full-path order (``name/`` sorts a directory as its paths do), skipping
    the names Spark's file index hides: ``_SUCCESS``-style files, dot-dirs
    such as the sink's ``.stage-*``, in-flight ``._COPYING_`` files. A
    ``__dt=`` partition directory is kept."""
    if not status.isDirectory():
        return status
    children = {}
    for child in fs.listStatus(status.getPath()):
        name = child.getPath().getName()
        hidden = name.startswith(".") or (name.startswith("_") and "=" not in name)
        if hidden or name.endswith("._COPYING_"):
            continue
        children[name + "/" if child.isDirectory() else name] = child
    for key in sorted(children):
        found = _first_data_file(fs, children[key])
        if found is not None:
            return found
    return None
