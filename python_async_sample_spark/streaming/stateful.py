"""Custom stateful streaming operator via ``applyInPandasWithState`` (q75).

The built-in streaming aggregations (window, session_window, dropDuplicates)
cover the reference's incremental semantics; this module is the escape hatch
for state machines they can't express — here, a per-user lifetime profile
(event count, session count by 30-minute gap, largest gap, value sum) that
is maintained incrementally in the state store and emitted EXACTLY ONCE per
user when the event-time watermark proves the user can receive no more
in-order data.

Why this shape for 100 TB streams:

* state is one fixed-size tuple per key — no per-event retention, so state
  size is O(users), not O(events), and eviction is driven by the watermark
  (``GroupStateTimeout.EventTimeTimeout``), never by memory pressure;
* the per-batch work is an Arrow-batched pandas reduction per key — the
  grouped data never lands on the driver;
* emission on timeout gives append-mode exactly-once finalized rows, the
  same contract the reference builds from delete-then-insert (SURVEY §2.9
  I3/I5; nikon_ETL.py watermark chasing).

Drain mechanics for a bounded replay: the staged source appends two
far-future sentinel files (see ``jobs._stage_source_with_sentinels``) and
``maxFilesPerTrigger=1`` forces them into their own micro-batches. The
watermark only advances at batch boundaries, so sentinel #1's batch closes
users idle before the data's max timestamp and sentinel #2's closes the
rest; every real user's state has timed out by end-of-drain.

This is q75's only face. Spark 4's typed stateful-processor API would
express the same machine, but its Python driver worker imports the
``google.protobuf`` runtime, which a plain PySpark install does not
carry, so a session built without it crashes at the first micro-batch.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from python_async_sample_spark.sources.readers import read_parquet_stream
from python_async_sample_spark.streaming.jobs import _drain, _stage_source_with_sentinels

_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, n_sessions bigint, "
    "max_gap_us bigint, sum_value double"
)
# (n_events, n_sessions, max_gap_us, last_ts_us, sum_value)
_STATE_SCHEMA = "n bigint, s bigint, g bigint, last bigint, v double"


def _make_profile_fn(gap_us: int):
    """Build the per-key state-transition function.

    Invariant: all real data arrives in micro-batch 0 (single staged file),
    so cross-batch ordering only matters for the sentinel key — per-user
    event order is fully determined by the in-batch sort below.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, s, g, _last, v = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_sessions": [s],
                    "max_gap_us": [g],
                    "sum_value": [v],
                }
            )
            return

        n, s, g, last, v = (0, 0, 0, None, 0.0) if not state.exists else state.get
        for pdf in pdfs:
            if pdf.empty:
                continue
            ts = pdf["ts_us"].sort_values(kind="stable")
            prev = ts.shift(1)
            if last is not None:
                prev.iloc[0] = last
                gaps = (ts - prev).astype("int64")
            else:
                gaps = (ts - prev).dropna().astype("int64")
                s += 1  # first-ever event opens session #1
            n += len(pdf)
            v += float(pdf["value"].sum())
            if len(gaps):
                s += int((gaps > gap_us).sum())
                g = max(g, int(gaps.max()))
            last = int(ts.iloc[-1])
        state.update((n, s, g, last, v))
        # Finalize once no in-order event can still arrive for this user.
        # The natural timeout (last + gap) can already sit BEHIND the
        # current watermark when this user's events are old relative to the
        # batch's newest data — Spark rejects such timestamps, and whether
        # that happens depends on how the source splits micro-batches (a
        # flake, not a determinism guarantee). Clamp to watermark + 1 ms:
        # same semantics (the user is already finalizable; the timeout
        # fires at the next trigger), never invalid.
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last // 1000 + gap_us // 1000, wm + 1))

    return update


def stream_user_profiles_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    gap_minutes: int = 30,
    delay: str = "1 minute",
) -> DataFrame:
    """Run the stateful profile operator over a bounded replay of the events
    stream; returns the drained sink."""
    src_dir = f"{work_dir}/src"
    _stage_source_with_sentinels(sf_dir, src_dir)
    stream = read_parquet_stream(
        spark, src_dir, probe=f"{src_dir}/00_events.parquet", maxFilesPerTrigger="1"
    )

    gap_us = gap_minutes * 60 * 1_000_000
    profiles = (
        stream.withWatermark("ts", delay)
        .withColumn("ts_us", F.unix_micros("ts"))
        .select("user_id", "ts", "ts_us", "value")  # keep the watermark col in scope
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_profile_fn(gap_us),
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    # The stateful shuffle width is fixed at stream start and baked into the
    # checkpoint; at the session's batch width every micro-batch pays that
    # many Arrow→Python tasks for a handful of keys per partition —
    # _drain's bounded_drain_conf sizes it to the replay and restores the
    # session conf. On a real cluster this is the one knob to size to
    # executor count.
    _drain(
        profiles.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{work_dir}/sink"),
        f"{work_dir}/checkpoint",
    )
    # The sentinel key never times out (its own timeout chases the final
    # watermark) — filtered with the same guard q60 uses.
    return spark.read.parquet(f"{work_dir}/sink").where(F.col("user_id") >= 0)

