"""Idempotent overwrite-window sink — the reference's delete-then-insert (I3).

Reference: before re-inserting an interval the ETL deletes the target rows in
``(psql_wm, ora_wm]`` (``dbs/nikon.py:117-145``; callers
``nikon_ETL.py:350-357,410-419``) so re-delivery of a window is exactly-once.

Spark mapping: the target is a parquet table partitioned by event date
(``dt``). Rewriting a window first reads back the out-of-window boundary rows
of the date partitions the window touches, then deletes those partitions and
writes boundary ∪ new — a literal delete-then-insert, so a re-delivered
window that *retracts* rows (even a whole day) converges too; dynamic
partition overwrite alone cannot delete a partition that ends up empty. At
100 TB the windows are day-aligned (the reference's catch-up chunk is exactly
86 400 s), so each iteration rewrites whole partitions — no table-wide
shuffle, no delete scan. The read-back is small but not always empty: a row
stamped exactly at midnight belongs to the window that ends at that midnight
yet lands in partition ``hi.date()``, and the next window reads that
partition back. The read-back and ``read_target`` take their schema from one
parquet footer (``hadoop_fs.parquet_schema``), so neither launches a
schema-inference job. All partition metadata ops go through the Hadoop
FileSystem API (``sources/hadoop_fs``), so the sink is scheme-agnostic
(file/hdfs/s3a). Crash-consistency is strictly better
than the reference's delete-then-insert: the full replacement content
(boundary ∪ new) is written to a hidden staging directory FIRST, then swapped
in per-partition via rename, so a crash anywhere during the (long) Spark
write leaves the old window fully readable; only the per-partition
metadata-swap window remains, and a crash there is healed by the next
idempotent re-delivery.

A window commit has a small fixed cost, paid once per chunk of a catch-up:

* one listing of the target serves the stale-stage heal, the touched
  partitions and the choice of which swaps need a delete (no per-day
  ``exists`` probe);
* the window predicate and the partition label are each one SQL
  expression, its bounds exact integer microseconds (float seconds are
  off by a microsecond or two past year ~2255);
* the stage is a plain write into a fresh private directory: no dynamic
  overwrite staging layer and no ``_SUCCESS`` marker, because the swap,
  not the write job, is the commit.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_async_sample_spark.sources import hadoop_fs

DT_COL = "__dt"
_EPOCH = datetime(1970, 1, 1)
_DAY_US = 86_400_000_000


def _micros(dt: datetime) -> int:
    """``dt``'s naive-UTC wall time as exact integer microseconds since the
    epoch. Pure integer arithmetic: no driver-timezone conversion (what
    ``F.lit(naive_datetime)`` does) and no float rounding."""
    return (dt.replace(tzinfo=None) - _EPOCH) // timedelta(microseconds=1)


def overwrite_window(
    df: DataFrame,
    target_path: str,
    ts_col: str,
    lo: datetime,
    hi: datetime,
) -> None:
    """Idempotently replace the half-open window ``(lo, hi]`` of the target
    with ``df``'s rows in that window.

    Commit protocol (write-ahead, swap-last):

    1. compute ``out = boundary-rows-outside-window ∪ new-rows`` for every
       date partition the window touches;
    2. write ``out`` partitioned by day to a fresh hidden ``.stage-*``
       directory under the target (readers ignore dot-dirs) — the ONLY
       data-sized step, and the old window stays fully readable
       throughout. A plain write: it leaves no ``_SUCCESS`` marker, since
       nothing reads one — the swap is the commit;
    3. swap each staged partition into place: delete the old partition dir
       if the listing holds one, rename the staged one in (one metadata RPC
       each); a refused delete stops the swap before its rename;
    4. delete touched partitions that produced no staged output (a window
       whose every row was retracted upstream must vanish).

    One listing of the target, plus the partitions healed in from stale
    stages, decides which partitions the window touches and which swaps
    need a delete. The window bounds are exact integer microseconds.

    A crash in (1)-(2) leaves the target byte-identical; a crash in (3)-(4)
    leaves some partitions old and some new — healed by re-running the same
    idempotent delivery. No session-wide conf is mutated.
    """
    spark = df.sparkSession
    ts = "`" + ts_col.replace("`", "``") + "`"
    window = (
        f"{ts} > timestamp_micros({_micros(lo)}) "
        f"AND {ts} <= timestamp_micros({_micros(hi)})"
    )
    # Partition label from EPOCH-DAY integer arithmetic, never date_format:
    # the format path renders through the ambient session timezone, so a
    # non-UTC session would label rows into partitions OUTSIDE `touched`
    # (computed from the window's UTC dates below) and step 3's swap would
    # replace an existing partition whose rows were never read back —
    # silent loss. The floor division is exact (pmod, then div), where a
    # double division rounds the last microsecond of a day into the next
    # one past year ~2255.
    us = f"unix_micros({ts})"
    new_rows = df.where(window).withColumn(
        DT_COL,
        F.expr(
            f"CAST(date_from_unix_date(CAST(({us} - pmod({us}, {_DAY_US})) "
            f"div {_DAY_US} AS INT)) AS STRING)"
        ),
    )

    listing = set(hadoop_fs.listdir(spark, target_path))
    # Heal-forward, then garbage-collect, stage dirs a previous crashed run
    # left behind (single-writer store — see incremental/state.py — so any
    # existing .stage-* is stale).  Healing must come FIRST: a crash between
    # "delete old partition" and "rename staged in" leaves the staged copy
    # as the ONLY copy of that partition's boundary rows — deleting the
    # stage unconditionally would destroy it, making the documented
    # re-delivery recovery a permanent data loss.  Completing the
    # interrupted swap (rename in any staged partition whose target is
    # missing) restores the invariant before this run recomputes anything.
    for child in sorted(c for c in listing if c.startswith(".stage-")):
        stale = f"{target_path}/{child}"
        for part in hadoop_fs.listdir(spark, stale):
            if part.startswith(f"{DT_COL}=") and part not in listing:
                if not hadoop_fs.rename(spark, f"{stale}/{part}", f"{target_path}/{part}"):
                    raise RuntimeError(
                        f"overwrite_window: recovery rename of {part!r} from "
                        f"stale stage {stale!r} failed; nothing deleted"
                    )
                listing.add(part)
        hadoop_fs.delete(spark, stale)

    # Existing partitions the window touches. Only those need the boundary
    # read-back. In a day-aligned forward catch-up the only one is
    # ``lo.date()``'s partition, and only when the previous window left a
    # row stamped exactly at midnight there.
    touched = []
    d = lo.date()
    while d <= hi.date():
        part = f"{DT_COL}={d.isoformat()}"
        if part in listing:
            touched.append(part)
        d += timedelta(days=1)

    if touched:
        existing = (
            _reader(spark, f"{target_path}/{touched[0]}")
            .option("basePath", target_path)
            .parquet(*(f"{target_path}/{p}" for p in touched))
        )
        out = existing.where(f"NOT ({window})").unionByName(new_rows)
    else:
        out = new_rows

    stage = f"{target_path}/.stage-{uuid.uuid4().hex}"
    (
        out.write.mode("errorifexists")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy(DT_COL)
        .parquet(stage)
    )

    # Swap. Hadoop rename reports most failures by RETURNING FALSE, not
    # raising — treat false as fatal BEFORE anything else is touched, and
    # clean the stage dir only after every partition swapped: on any
    # failure the staged copy (the only copy of an already-deleted
    # partition's boundary rows) stays on disk for the next run's GC sweep
    # / manual recovery rather than being destroyed in a finally block.
    # A refused delete must stop the swap too: renaming onto a partition
    # that is still there nests the staged one inside it.
    staged = [p for p in hadoop_fs.listdir(spark, stage) if p.startswith(f"{DT_COL}=")]
    for part in staged:
        if part in listing:
            try:
                hadoop_fs.delete(spark, f"{target_path}/{part}")
            except OSError as e:
                raise RuntimeError(
                    f"overwrite_window: could not delete partition {part!r} of "
                    f"{target_path!r}; staged data preserved at {stage!r}"
                ) from e
        if not hadoop_fs.rename(spark, f"{stage}/{part}", f"{target_path}/{part}"):
            raise RuntimeError(
                f"overwrite_window: rename of staged partition {part!r} into "
                f"{target_path!r} failed; staged data preserved at {stage!r}"
            )
    for part in touched:
        if part not in staged:
            hadoop_fs.delete(spark, f"{target_path}/{part}")
    hadoop_fs.delete(spark, stage)


def _reader(spark: SparkSession, path: str):
    """A reader pinned to the footer schema of the parquet data at ``path``
    (no inference job); plain ``spark.read`` — inference and its errors —
    when there is no data file there."""
    schema = hadoop_fs.parquet_schema(spark, path)
    return spark.read if schema is None else spark.read.schema(schema)


def read_target(spark: SparkSession, target_path: str) -> DataFrame:
    """Read the sink back, dropping the physical partition column."""
    return _reader(spark, target_path).parquet(target_path).drop(DT_COL)
