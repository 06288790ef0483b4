"""Table file-layout helpers: the Morton curve and hive partitioning.

* :func:`morton2` — the two-column Z-curve (bit interleave) that
  ``versioned.create_table(layout_col=)`` and ``versioned.rewrite_layout``
  cluster a snapshot along, so manifest min/max stats prune box
  predicates on both columns (q108 pins the curve cross-engine, q202 the
  pruning).
* :func:`write_hive_partitioned` — ``col=value/`` directories, the pruning
  lever that works before any footer is opened.

Compaction and clustering are snapshot commits in ``sources/versioned``
(``compact``, ``rewrite_layout``), as is keyed mutation (DELETE, MERGE,
PURGE); nothing here rewrites a table in place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def write_hive_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    max_records_per_file: int = 0,
) -> None:
    """Hive-layout partitioned write (`col=value/` directories).

    At warehouse scale this is the coarse pruning lever that works BEFORE
    any file is opened: a filter on a partition column becomes a directory
    listing, so a day-partitioned 100 TB table reads 1/365th of its files
    for a one-day query — footer min/max pruning (a ``layout_col`` or
    ``rewrite_layout`` snapshot) then prunes WITHIN the surviving
    partitions.  Partition columns should be low-cardinality (days,
    sources, languages): one directory per value and at least one file per
    (partition × writing task).

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
