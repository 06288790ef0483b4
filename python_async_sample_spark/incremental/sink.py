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
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_async_sample_spark.sources import hadoop_fs

DT_COL = "__dt"


def _utc_lit(dt: datetime) -> F.Column:
    """Timestamp literal pinned to UTC wall time.

    ``F.lit(naive_datetime)`` converts through the driver's LOCAL timezone
    (``time.mktime``), so on a non-UTC driver the window predicate shifts by
    the UTC offset and boundary rows are silently lost. Routing through
    integer microseconds makes the literal a pure function of the naive-UTC
    wall time this subsystem uses everywhere."""
    from datetime import timezone as _tz

    us = int(dt.replace(tzinfo=_tz.utc).timestamp() * 1_000_000)
    return F.timestamp_micros(F.lit(us))


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
    2. write ``out`` partitioned by day to a hidden ``.stage-*`` directory
       under the target (readers ignore dot-dirs) — the ONLY data-sized
       step, and the old window stays fully readable throughout;
    3. swap each staged partition into place: delete the old partition dir,
       rename the staged one in (one metadata RPC each); a refused delete
       stops the swap before its rename;
    4. delete touched partitions that produced no staged output (a window
       whose every row was retracted upstream must vanish).

    A crash in (1)-(2) leaves the target byte-identical; a crash in (3)-(4)
    leaves some partitions old and some new — healed by re-running the same
    idempotent delivery. No session-wide conf is mutated.
    """
    import uuid

    spark = df.sparkSession

    new_rows = df.where((F.col(ts_col) > _utc_lit(lo)) & (F.col(ts_col) <= _utc_lit(hi)))
    # partition label from EPOCH-DAY arithmetic, never date_format: the
    # format path renders through the ambient session timezone, so a
    # non-UTC session would label rows into partitions OUTSIDE `touched`
    # (computed from the window's UTC dates below) and step 3's swap would
    # replace an existing partition whose rows were never read back —
    # silent loss. unix_micros ⌊/86400e6⌋ is timezone-free.
    epoch_day = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(86400000000)).cast("int")
    new_rows = new_rows.withColumn(
        DT_COL, F.date_add(F.to_date(F.lit("1970-01-01")), epoch_day).cast("string")
    )

    # Heal-forward, then garbage-collect, stage dirs a previous crashed run
    # left behind (single-writer store — see incremental/state.py — so any
    # existing .stage-* is stale).  Healing must come FIRST: a crash between
    # "delete old partition" and "rename staged in" leaves the staged copy
    # as the ONLY copy of that partition's boundary rows — deleting the
    # stage unconditionally would destroy it, making the documented
    # re-delivery recovery a permanent data loss.  Completing the
    # interrupted swap (rename in any staged partition whose target is
    # missing) restores the invariant before this run recomputes anything.
    for child in hadoop_fs.listdir(spark, target_path):
        if child.startswith(".stage-"):
            stale = f"{target_path}/{child}"
            for part in hadoop_fs.listdir(spark, stale):
                if part.startswith(f"{DT_COL}=") and not hadoop_fs.exists(
                    spark, f"{target_path}/{part}"
                ):
                    if not hadoop_fs.rename(
                        spark, f"{stale}/{part}", f"{target_path}/{part}"
                    ):
                        raise RuntimeError(
                            f"overwrite_window: recovery rename of {part!r} from "
                            f"stale stage {stale!r} failed; nothing deleted"
                        )
            hadoop_fs.delete(spark, stale)

    # Existing partitions the window touches. Only those need the boundary
    # read-back. In a day-aligned forward catch-up the only one is
    # ``lo.date()``'s partition, and only when the previous window left a
    # row stamped exactly at midnight there.
    touched = []
    d = lo.date()
    while d <= hi.date():
        part = f"{DT_COL}={d.isoformat()}"
        if hadoop_fs.exists(spark, f"{target_path}/{part}"):
            touched.append(part)
        d += timedelta(days=1)

    if touched:
        existing = (
            _reader(spark, f"{target_path}/{touched[0]}")
            .option("basePath", target_path)
            .parquet(*(f"{target_path}/{p}" for p in touched))
        )
        keep = existing.where(
            ~((F.col(ts_col) > _utc_lit(lo)) & (F.col(ts_col) <= _utc_lit(hi)))
        )
        out = keep.unionByName(new_rows)
    else:
        out = new_rows

    stage = f"{target_path}/.stage-{uuid.uuid4().hex}"
    out.write.mode("overwrite").partitionBy(DT_COL).parquet(stage)

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
