"""Custom stateful streaming operator via ``applyInPandasWithState``.

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
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from python_async_sample_spark.sources.readers import load_table, read_parquet_stream
from python_async_sample_spark.sources.versioned import read_version
from python_async_sample_spark.streaming.jobs import (
    _drain,
    _stage_source_with_sentinels,
    drain_to_versioned,
)

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


# ---------------------------------------------------------------------------
# The same profile state machine on the transformWithState API (Spark 4) —
# the successor to applyInPandasWithState: typed state variables on a
# StatefulProcessor, RocksDB-backed, composable with timers/TTL. Maintaining
# BOTH faces proves the operator logic is API-independent: q75 and q173
# share one oracle.
# ---------------------------------------------------------------------------


# Known locations of a pure-Python google.protobuf runtime on images where
# the pip package is absent (the Cloud SDK ships one for App Engine tooling).
_PROTOBUF_VENDOR_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable in the driver AND future Python
    workers, without pip.

    If the runtime is already installed this is a no-op (True).  Otherwise
    the known vendor dirs (plus ``$SPARK_GRAFT_PROTOBUF_PATH``) are probed;
    the first hit is exposed through a SHIM directory containing only a
    ``google/`` namespace package with a ``protobuf`` symlink — never the
    vendor dir itself, which may carry shadowing siblings (``google.auth``,
    App Engine modules).  The shim is appended to ``sys.path`` (driver) and
    ``$PYTHONPATH`` (future worker/JVM processes), and protobuf's official
    escape hatch ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK`` is set
    because vendored runtimes may trail pyspark's gencode by a minor
    version (wire format is stable across minors).

    Returns True when ``google.protobuf`` imports afterwards.  Callers that
    need WORKERS to see it must run this BEFORE the SparkSession (the JVM
    snapshots its environment at launch; workers inherit the JVM's).
    """
    import importlib
    import os
    import sys
    import tempfile

    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass

    candidates = [
        p
        for p in (os.environ.get("SPARK_GRAFT_PROTOBUF_PATH"), *_PROTOBUF_VENDOR_DIRS)
        if p and os.path.isdir(os.path.join(p, "google", "protobuf"))
    ]
    if not candidates:
        return False
    vendor = candidates[0]
    # a FRESH private dir per process (mkdtemp: mode 0700, unpredictable
    # name) — a fixed world-known path under /tmp would let any local user
    # pre-plant a google/__init__.py that the driver and every worker then
    # import, and stale symlinks from earlier runs would shadow a
    # re-configured vendor dir
    shim = tempfile.mkdtemp(prefix="spark_graft_pbshim_")
    pkg = os.path.join(shim, "google")
    os.makedirs(pkg)
    with open(os.path.join(pkg, "__init__.py"), "w", encoding="ascii") as fh:
        fh.write(
            "__path__ = __import__('pkgutil').extend_path(__path__, __name__)\n"
        )
    os.symlink(os.path.join(vendor, "google", "protobuf"), os.path.join(pkg, "protobuf"))

    os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")
    existing = os.environ.get("PYTHONPATH", "")
    if shim not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{existing}{os.pathsep}{shim}" if existing else shim
        )
    if shim not in sys.path:
        sys.path.append(shim)
    importlib.invalidate_caches()
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def stream_profiles_tws_to_parquet(
    spark: SparkSession, sf_dir: str, work_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Per-user lifetime profiles via ``transformWithStateInPandas``.

    The source is staged as three TIME-ORDERED chunks (maxFilesPerTrigger=1
    → three micro-batches), so state genuinely persists and transitions
    across batches in the RocksDB store.  Each batch EMITS the key's
    updated profile (update-mode semantics); each batch's emissions, stamped
    with their ``epoch``, are appended to a versioned table as one
    exactly-once epoch (``jobs.drain_to_versioned``), and the readout keeps
    each user's LATEST — which equals the full-history profile regardless
    of how the stream was batched.  No timers needed: unlike q75's
    emit-once-on-timeout contract, update-mode emission needs no watermark
    flush, so no sentinel batches either."""
    import glob as _glob
    import os as _os

    # Spark's TransformWithStateInPySpark driver worker needs the protobuf
    # runtime; without it the streaming query crashes with an opaque
    # worker-exit. Try the vendored-runtime shim, then fail up front with
    # the actionable story instead.
    if not ensure_protobuf():  # pragma: no cover - environment-dependent
        raise ImportError(
            "transformWithStateInPandas requires the google.protobuf runtime, "
            "which this environment lacks (no installed package, no vendor "
            "dir for ensure_protobuf); q75's applyInPandasWithState face "
            "covers the same semantics (shared oracle)"
        )

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    gap_us = gap_minutes * 60 * 1_000_000
    src = f"{work_dir}/src"
    _os.makedirs(src, exist_ok=True)
    base = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    lo, hi = base.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    for i, cond in enumerate(
        [F.col("ts_us") < cut1,
         (F.col("ts_us") >= cut1) & (F.col("ts_us") < cut2),
         F.col("ts_us") >= cut2]
    ):
        base.where(cond).coalesce(1).write.mode("overwrite").parquet(f"{work_dir}/c{i}")
        part = sorted(_glob.glob(f"{work_dir}/c{i}/part-*.parquet"))[0]
        dst = f"{src}/{i}_chunk.parquet"
        _os.replace(part, dst)
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "profile", "n bigint, s bigint, g bigint, last bigint, v double"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, s, g, last, v = self._state.get()
            else:
                n, s, g, last, v = 0, 0, 0, None, 0.0
            for pdf in rows:
                if pdf.empty:
                    continue
                ts = pdf["ts_us"].sort_values(kind="stable")
                prev = ts.shift(1)
                if last is not None:
                    prev.iloc[0] = last
                    gaps = (ts - prev).astype("int64")
                else:
                    gaps = (ts - prev).dropna().astype("int64")
                    s += 1
                n += len(pdf)
                v += float(pdf["value"].sum())
                if len(gaps):
                    s += int((gaps > gap_us).sum())
                    g = max(g, int(gaps.max()))
                last = int(ts.iloc[-1])
            self._state.update((n, s, g, last, v))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_sessions": [s],
                    "max_gap_us": [g],
                    "sum_value": [v],
                }
            )

        def close(self) -> None:
            pass

    stream = read_parquet_stream(spark, src, maxFilesPerTrigger="1")
    old_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=ProfileProcessor(),
            outputStructType=_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        drain_to_versioned(
            spark,
            out,
            f"{work_dir}/sink",
            f"{work_dir}/checkpoint",
            lambda batch_df, epoch_id: batch_df.withColumn(
                "epoch", F.lit(epoch_id).cast("bigint")
            ),
        )
    finally:
        if old_provider is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old_provider)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    from pyspark.sql.window import Window as W

    latest = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.desc("epoch"))
    )
    return (
        read_version(spark, f"{work_dir}/sink")
        .withColumn("__rk", latest)
        .where(F.col("__rk") == 1)
        .drop("__rk", "epoch")
    )
