"""Streaming incremental-MV maintenance: exactly-once partial epochs folded
at read time."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from python_async_sample_spark.sources.readers import pin_reader_conf
from python_async_sample_spark.sources.versioned import _read_manifest, current_version
from python_async_sample_spark.streaming.jobs import (
    drain_mv_partials,
    read_mv,
    stream_incremental_mv_to_parquet,
)


def _view(df) -> dict:
    return {
        (r["user_id"], r["event_type"]): (r["n_events"], round(r["sum_value"], 4))
        for r in df.collect()
    }


def _batch_view(ev) -> dict:
    return _view(
        ev.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
        )
    )


def _events(spark, sf_dir):
    pin_reader_conf(spark)
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")


def test_mv_merges_across_multiple_batches_and_matches_batch_agg(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="mv_test_")
    out = stream_incremental_mv_to_parquet(spark, sf_dir, tmp, n_source_files=4)
    mv = f"{tmp}/mv"
    epochs = _read_manifest(mv, current_version(mv))["epochs"]
    assert len(epochs) >= 2, epochs  # the view was maintained incrementally
    assert _view(out) == _batch_view(_events(spark, sf_dir))


def test_restart_from_checkpoint_resumes_exactly_once(spark, sf_dir):
    """Crash-recovery contract: drain half the source, 'restart' (a second
    drain with the same checkpoint), add the remaining files, drain again —
    no batch is replayed into the view, and the folded view still equals
    the batch aggregate."""
    tmp = tempfile.mkdtemp(prefix="mv_restart_")
    src, staged = f"{tmp}/src", f"{tmp}/staged"
    ev = _events(spark, sf_dir)
    ev.withColumn("__f", F.pmod(F.xxhash64("event_id"), F.lit(4))).repartition(
        4, "__f"
    ).drop("__f").write.mode("overwrite").parquet(staged)
    files = sorted(glob.glob(f"{staged}/part-*.parquet"))
    assert len(files) >= 2  # empty hash buckets write no file
    half = len(files) // 2
    os.makedirs(src, exist_ok=True)
    for f in files[:half]:
        shutil.copy(f, src)

    drain_mv_partials(spark, src, tmp)  # first run
    epochs_after_first = _read_manifest(f"{tmp}/mv", current_version(f"{tmp}/mv"))["epochs"]
    assert len(epochs_after_first) == half

    for f in files[half:]:
        shutil.copy(f, src)
    drain_mv_partials(spark, src, tmp)  # restart: must append ONLY the new files

    assert _view(read_mv(spark, tmp)) == _batch_view(ev)


def test_replayed_epoch_is_not_double_merged(spark, sf_dir):
    """A crash AFTER an epoch's partials committed but BEFORE the streaming
    commit log recorded the batch makes that epoch REPLAY on restart; the
    sink must skip it. Here the whole checkpoint is removed, so epoch 0
    replays from a fresh checkpoint against its own committed output: the
    (epoch id, batch fingerprint) pair in the table's ledger matches, and
    nothing is appended."""
    tmp = tempfile.mkdtemp(prefix="mv_replay_")
    src, staged = f"{tmp}/src", f"{tmp}/staged"
    ev = _events(spark, sf_dir)
    ev.coalesce(1).write.mode("overwrite").parquet(staged)
    os.makedirs(src, exist_ok=True)
    for i, f in enumerate(sorted(glob.glob(f"{staged}/part-*.parquet"))):
        shutil.copy(f, f"{src}/file{i}.parquet")

    drain_mv_partials(spark, src, tmp)
    head = current_version(f"{tmp}/mv")

    shutil.rmtree(f"{tmp}/checkpoint")
    drain_mv_partials(spark, src, tmp)  # replays epoch 0; must skip it

    assert current_version(f"{tmp}/mv") == head
    got = read_mv(spark, tmp).orderBy("user_id", "event_type").collect()
    want = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .orderBy("user_id", "event_type")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    shutil.rmtree(tmp, ignore_errors=True)


def test_fresh_checkpoint_with_different_batch_refuses_loudly(spark, sf_dir):
    """Epoch ids are only unique per checkpoint lifetime — a FRESH
    checkpoint whose batch 0 differs from the view's committed epoch 0
    must NOT be silently skipped (that is data loss). The batch
    fingerprint in the ledger detects the lifetime mismatch and raises."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    tmp = tempfile.mkdtemp(prefix="mv_fresh_ckpt_")
    src, staged = f"{tmp}/src", f"{tmp}/staged"
    ev = _events(spark, sf_dir)
    ev.coalesce(1).write.mode("overwrite").parquet(staged)
    os.makedirs(src, exist_ok=True)
    (part,) = sorted(glob.glob(f"{staged}/part-*.parquet"))
    shutil.copy(part, f"{src}/file0.parquet")

    drain_mv_partials(spark, src, tmp)  # commits epoch 0 for file0

    # New stream lifetime: fresh checkpoint AND a different source file —
    # its batch 0 is new data, but reuses epoch id 0.
    shutil.rmtree(f"{tmp}/checkpoint")
    os.remove(f"{src}/file0.parquet")
    ev.where(F.col("user_id") % 2 == 0).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp}/staged2"
    )
    (part2,) = sorted(glob.glob(f"{tmp}/staged2/part-*.parquet"))
    shutil.copy(part2, f"{src}/other.parquet")

    with pytest.raises(StreamingQueryException, match="different batch fingerprint"):
        drain_mv_partials(spark, src, tmp)
    shutil.rmtree(tmp, ignore_errors=True)
