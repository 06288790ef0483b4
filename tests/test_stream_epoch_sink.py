"""The exactly-once streaming file sink (``jobs.drain_to_versioned``) under
replay: every foreachBatch sink that lands files commits each epoch to a
versioned table, identified by (epoch id, input-batch fingerprint).

A crash after the sink's commit but before the engine's own commit log
entry is simulated by deleting the checkpoint's last ``commits/<n>`` file:
on restart the engine re-runs batch ``n`` with the same offsets, and the
sink must skip it."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException

from python_async_sample_spark.sources.versioned import current_version, read_version


def _lose_last_commit(checkpoint: str) -> int:
    """Delete the newest entry of the checkpoint's commit log (and its
    checksum file); returns the batch id the next run will replay."""
    commits = f"{checkpoint}/commits"
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    os.remove(f"{commits}/{last}")
    crc = f"{commits}/.{last}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    return last


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_partials_crash_window_replay_is_skipped(spark, sf_dir, tmp_path):
    """q165's shape: a non-identity transform (per-batch CMS cells) over the
    events stream. The replayed epoch's input fingerprint matches the
    ledger, so no commit happens and the merged cells are unchanged."""
    from python_async_sample_spark.streaming.jobs import stream_cms_cells_to_parquet

    out, ckpt = str(tmp_path / "cells"), str(tmp_path / "ckpt")
    first = _rows(stream_cms_cells_to_parquet(spark, sf_dir, out, ckpt))
    head = current_version(out)
    replayed = _lose_last_commit(ckpt)

    again = _rows(stream_cms_cells_to_parquet(spark, sf_dir, out, ckpt))
    assert os.path.exists(f"{ckpt}/commits/{replayed}")  # the batch re-ran
    assert current_version(out) == head
    assert again == first
    assert sum(r[2] for r in first) == 4 * pq.read_metadata(
        f"{sf_dir.rstrip('/')}/events.parquet"
    ).num_rows  # depth 4: every event counted once per row of the sketch


def test_partials_fresh_checkpoint_over_different_data_raises(spark, sf_dir, tmp_path):
    """q163's shape: a fresh checkpoint restarts epoch ids at 0; pointed at
    the same table over DIFFERENT events, epoch 0's fingerprint differs
    from the ledger's, and the drain refuses instead of skipping the new
    data or appending it as a second epoch 0."""
    from python_async_sample_spark.streaming.jobs import stream_pit_enrich_to_parquet

    other = tmp_path / "other"
    other.mkdir()
    events = pq.read_table(f"{sf_dir.rstrip('/')}/events.parquet")
    pq.write_table(events.slice(0, events.num_rows // 2), str(other / "events.parquet"))

    out = str(tmp_path / "pit")
    first = _rows(stream_pit_enrich_to_parquet(spark, sf_dir, out, str(tmp_path / "ckpt1")))
    head = current_version(out)

    with pytest.raises(StreamingQueryException, match="different batch fingerprint"):
        stream_pit_enrich_to_parquet(spark, str(other), out, str(tmp_path / "ckpt2"))
    assert current_version(out) == head
    assert _rows(read_version(spark, out)) == first


def test_q222_cdc_capture_replay_after_lost_commit(spark, sf_dir, tmp_path):
    """q222's CDC capture, drained, its last engine commit lost, drained
    again: the replayed epoch must not land twice — neither in the
    captured change rows nor in the rolled-up per-version result."""
    from python_async_sample_spark.plans.streaming_queries import (
        _capture_cdc_stream,
        _net_cdc_rollup,
        _stage_cdc_source_table,
    )

    root, work = str(tmp_path / "t"), str(tmp_path / "work")
    _stage_cdc_source_table(spark, sf_dir, root)
    cdc = _capture_cdc_stream(spark, root, work)
    rows, rolled = _rows(cdc), _rows(_net_cdc_rollup(cdc))
    assert rows and rolled

    replayed = _lose_last_commit(f"{work}/ckpt")
    cdc = _capture_cdc_stream(spark, root, work)
    assert os.path.exists(f"{work}/ckpt/commits/{replayed}")  # the batch re-ran
    assert _rows(cdc) == rows
    assert _rows(_net_cdc_rollup(cdc)) == rolled
