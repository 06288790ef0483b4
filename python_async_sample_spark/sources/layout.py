"""Table file-layout maintenance: small-file compaction, clustering and
hive partitioning.

At 100 TB the dominant operational failure isn't a wrong plan — it's a
table whose physical layout fights every plan: thousands of KB-sized files
(one per micro-batch/task) make listing and scan startup the bottleneck,
and unclustered files defeat parquet row-group min/max pruning so every
filter reads everything.

The verbs are plain Spark jobs a scheduler can run per partition:

* :func:`compact` — rewrite a directory into ~``target_file_mb`` files.
  The file count derives from the ACTUAL input bytes (one driver-side
  Hadoop ``getContentSummary`` RPC, never a data scan).
* :func:`cluster_by` — compact AND range-partition + sort by the given
  columns, so each output file owns a disjoint key range and its parquet
  footer min/max prunes reads (the poor man's Z-order; for one sort key it
  is exactly what an OPTIMIZE ... ZORDER BY single-column run produces).
* :func:`zorder_by` — the two-column form, ordered along the Morton curve
  (:func:`morton2`).
* :func:`write_hive_partitioned` — ``col=value/`` directories, the pruning
  lever that works before any footer is opened.

All of them write to a NEW directory and never mutate the input in place —
swap is the caller's atomic-rename/metastore step, mirroring the
delete-then-insert discipline of ``incremental/sink``.  Keyed mutation
(DELETE, MERGE, PURGE) is a snapshot commit in ``sources/versioned``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_async_sample_spark.sources import hadoop_fs
from python_async_sample_spark.sources.readers import pin_reader_conf


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` — one metadata RPC on whatever filesystem
    the scheme names (file://, hdfs://, s3a://)."""
    jpath = hadoop_fs.jclass(spark, "org.apache.hadoop.fs.Path")(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(jpath).getLength())


def target_file_count(spark: SparkSession, path: str, target_file_mb: int) -> int:
    return max(1, math.ceil(dir_bytes(spark, path) / (target_file_mb * 1024 * 1024)))


def compact(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_mb: int = 128,
    n_files: int | None = None,
) -> DataFrame:
    """Rewrite ``in_path`` into ~``target_file_mb``-sized parquet files at
    ``out_path``; returns the compacted scan. Content is bit-identical —
    only the file layout changes. ``n_files`` overrides the size-derived
    count when the caller already knows the layout it wants."""
    pin_reader_conf(spark)
    n = n_files or target_file_count(spark, in_path, target_file_mb)
    spark.read.parquet(in_path).repartition(n).write.mode("error").parquet(out_path)
    return spark.read.parquet(out_path)


def cluster_by(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    cols: list[str],
    target_file_mb: int = 128,
    n_files: int | None = None,
) -> DataFrame:
    """Compact AND cluster: range-partition the rows by ``cols`` into the
    target file count and sort within each file, so every output file owns
    a (nearly) disjoint ``cols`` range and row-group min/max statistics
    prune scans that filter on them."""
    pin_reader_conf(spark)
    n = n_files or target_file_count(spark, in_path, target_file_mb)
    (
        spark.read.parquet(in_path)
        .repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("error")
        .parquet(out_path)
    )
    return spark.read.parquet(out_path)


def _spread_bits(c):
    """Spread a 16-bit value's bits to the even positions of a 32-bit word
    (the classic Morton magic-mask chain). All arithmetic rides LONG: on
    int columns, y ≥ 0x8000 reaches bit 30 and the final shift would wrap
    negative in 32-bit math — half the documented 16-bit domain."""
    c = c.cast("long").bitwiseAND(F.lit(0xFFFF).cast("long"))
    c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(0x00FF00FF).cast("long"))
    c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(0x0F0F0F0F).cast("long"))
    c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(0x33333333).cast("long"))
    c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x55555555).cast("long"))
    return c


def morton2(x, y):
    """Interleave two 16-bit integer columns into one 32-bit Morton
    (Z-curve) value: locality in EITHER dimension maps to locality on the
    curve, so range-clustering by it gives every file a small min/max
    rectangle in BOTH dimensions."""
    return _spread_bits(x).bitwiseOR(F.shiftleft(_spread_bits(y), 1)).cast("bigint")


def zorder_by(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    x_col: str,
    y_col: str,
    target_file_mb: int = 128,
    n_files: int | None = None,
) -> DataFrame:
    """Multi-dimension clustering: compact AND order the rows along the
    Z-curve of (``x_col``, ``y_col``) — the two-column generalization of
    :func:`cluster_by`. Single-column range clustering prunes only its lead
    column; Z-ordering makes parquet footer min/max useful for BOX
    predicates on both columns at once (a two-column OPTIMIZE ... ZORDER
    BY). Columns are used modulo 2^16 — scale/quantize wider domains into
    16 bits first (ranks, buckets), which is what production Z-order
    implementations do internally."""
    pin_reader_conf(spark)
    n = n_files or target_file_count(spark, in_path, target_file_mb)
    z = morton2(F.col(x_col), F.col(y_col))
    (
        spark.read.parquet(in_path)
        .repartitionByRange(n, z)
        .sortWithinPartitions(z)
        .write.mode("error")
        .parquet(out_path)
    )
    return spark.read.parquet(out_path)


def write_hive_partitioned(
    df: "DataFrame",
    path: str,
    partition_cols: list[str],
    max_records_per_file: int = 0,
) -> None:
    """Hive-layout partitioned write (`col=value/` directories).

    At warehouse scale this is the coarse pruning lever that works BEFORE
    any file is opened: a filter on a partition column becomes a directory
    listing, so a day-partitioned 100 TB table reads 1/365th of its files
    for a one-day query — footer min/max pruning (cluster_by/zorder_by)
    then prunes WITHIN the surviving partitions.  Partition columns should
    be low-cardinality (days, sources, languages): one directory per value
    and at least one file per (partition × writing task).

    The write is REBALANCE-distributed on the partition columns first
    (guide §6 — the Iceberg ``write.distribution-mode=hash`` shape): without
    it every scan task writes one file into every partition directory it
    touches — tasks × partitions small files once the input has real
    splits (a 100 TB scan has thousands). At sf0.1 the input is one split,
    so the file count (150 = 1/dir) and the measured query time are
    unchanged; the hint exists for the many-task case, and AQE both
    coalesces small partition values and splits oversized ones."""
    shaped = df.hint("rebalance", *[F.col(c) for c in partition_cols])
    w = shaped.write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.partitionBy(*partition_cols).parquet(path)
