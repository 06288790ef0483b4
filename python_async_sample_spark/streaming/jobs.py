"""Structured Streaming jobs over the events stream.

The reference's incremental subsystem is micro-batch watermark chasing
(``nikon_ETL.py:293-336``; SURVEY §2.9). The batch re-expression lives in
``incremental/``; this module is the native Structured Streaming face of the
same semantics:

* file-source ``readStream`` over the events parquet (at production scale:
  a directory the upstream keeps appending to, or Kafka),
* ``withWatermark`` for bounded-lateness state eviction — the streaming
  analog of the reference's 1-day catch-up chunk,
* event-time windowed aggregation,
* ``Trigger.AvailableNow`` + checkpoint → run-to-completion micro-batches
  (:func:`_drain`, the one place a query is started).

Sinks. Every ``foreachBatch`` job that lands files commits through ONE
exactly-once sink, :func:`drain_to_versioned`: each micro-batch is one
atomic epoch commit to a manifest-versioned table
(``versioned.commit_stream_epoch``), identified by (epoch id, batch
fingerprint) in the manifest's ledger, so a replayed epoch is skipped even
from a fresh checkpoint. Per-batch outputs (the incremental MV's and PIT
enrichment's partial aggregates, CMS cells, the CDC capture) are appended
this way, and the reader folds them. Three sinks keep their own protocol
on purpose: the complete-mode overwrite of
:func:`run_available_now` (each batch replaces the whole result), Spark's
built-in append-mode parquet file sink (its own ``_spark_metadata`` log),
and JDBC (:func:`stream_events_to_jdbc_exactly_once`, a server-side
transaction per epoch).

Everything here returns/consumes ordinary DataFrames, so the streaming and
batch paths share operator code.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import contextmanager
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from python_async_sample_spark.sources.readers import (
    load_table,
    pin_reader_conf,
    read_parquet_stream,
)
from python_async_sample_spark.sources.versioned import (
    commit_stream_epoch,
    create_table,
    read_version,
    table_versions,
)

# State-store partitions for a bounded drain. A streaming query's state is
# partitioned by spark.sql.shuffle.partitions *at first checkpoint*, and
# every micro-batch commits one state file per partition — for a bounded
# replay of a small source that per-batch, per-partition fixed cost swamps
# the data (measured 16 s → 3 s on the stream-stream join at sf0.1 going
# 32 → 8). Production unbounded streams should size this to key
# cardinality/volume instead.
DRAIN_PARTITIONS = "8"


@contextmanager
def bounded_drain_conf(spark: SparkSession):
    """Temporarily size shuffle/state partitions for a run-to-completion
    drain; the session's batch setting is restored on exit (the streaming
    query keeps the value it started with — state partitioning is fixed in
    the checkpoint)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", DRAIN_PARTITIONS)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain(writer: DataStreamWriter, checkpoint: str) -> None:
    """Run ``writer``'s query over everything its source holds now
    (``Trigger.AvailableNow``), checkpointed at ``checkpoint``, under
    :func:`bounded_drain_conf`; returns once the drain has finished."""
    with bounded_drain_conf(writer._spark):
        writer.option("checkpointLocation", checkpoint).trigger(
            availableNow=True
        ).start().awaitTermination()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, with the batch reader's
    timestamp handling (``readers.read_parquet_stream``)."""
    sf_dir = sf_dir.rstrip("/")
    return read_parquet_stream(
        spark, sf_dir, probe=f"{sf_dir}/events.parquet", pathGlobFilter="events.parquet"
    )


def windowed_event_counts(stream: DataFrame, window: str = "1 day") -> DataFrame:
    """Event-time tumbling-window counts per event_type with a 1-day
    watermark: late rows inside the watermark still land in their window;
    state for closed windows is evicted — the bounded-lateness contract the
    reference implements by re-processing whole day chunks (I6)."""
    return (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("dt"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_available_now(result: DataFrame, out_path: str, checkpoint: str) -> None:
    """Drain everything currently available through the streaming engine into
    a parquet sink, then stop.

    Complete-mode ``foreachBatch`` overwrite rather than the parquet file
    sink: in append mode a window is only emitted by the batch *after* the
    watermark passes it, so a drain-to-now run would leave the newest windows
    stuck in state. Overwriting the sink per micro-batch is idempotent under
    retry — the same exactly-once-per-window contract the reference builds
    from delete-then-insert (I3/I5)."""
    _drain(
        result.writeStream.outputMode("complete").foreachBatch(
            lambda batch_df, _epoch: batch_df.write.mode("overwrite").parquet(out_path)
        ),
        checkpoint,
    )


def stream_window_counts_to_parquet(
    spark: SparkSession, sf_dir: str, out_path: str, checkpoint: str
) -> DataFrame:
    """End-to-end: stream → watermark → windowed agg → sink; returns the
    sink contents."""
    stream = read_events_stream(spark, sf_dir)
    run_available_now(windowed_event_counts(stream), out_path, checkpoint)
    return spark.read.parquet(out_path)


def stream_stream_join_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each ``right_type`` event joined to every
    ``left_type`` event of the same user at most ``within`` earlier.

    Both sides are event-time streams with watermarks; the time-range
    predicate is what lets the engine bound join state (left rows age out
    once the right watermark passes ``click_ts + within``) — the
    stream-stream analog of q64's batch as-of join. Inner-join matches are
    emitted in the micro-batch where both rows are present, so an
    AvailableNow drain needs no sentinel batches. Returns the sink contents:
    (user_id, click_us, purchase_us, gap_us).
    """
    stream = read_events_stream(spark, sf_dir)
    clicks = (
        stream.where(F.col("event_type") == left_type)
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 day")
    )
    purchases = (
        stream.where(F.col("event_type") == right_type)
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 day")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"""
            user_id = p_user_id
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL {within}
            """
        ),
        "inner",
    ).select(
        "user_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
    _drain(
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{work_dir}/sink"),
        f"{work_dir}/checkpoint",
    )
    return spark.read.parquet(f"{work_dir}/sink")


def stream_static_enrich_to_parquet(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Stream-static enrichment: the event stream joined to the (batch)
    customer→nation dimension, then aggregated per nation/type.

    The static side is an ordinary DataFrame re-resolved every micro-batch —
    the standard slowly-changing-dimension enrichment shape. Spark plans the
    per-batch join like any batch join (broadcast here, dim-sized), and the
    stateless join needs no watermark; the downstream complete-mode agg
    drains through the same foreachBatch sink as the windowed counts.
    """
    stream = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = F.broadcast(cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey))
    enriched = (
        stream.join(dim, "user_id")
        .groupBy("n_name", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    run_available_now(enriched, f"{work_dir}/sink", f"{work_dir}/checkpoint")
    return spark.read.parquet(f"{work_dir}/sink")


def _stage_source_with_sentinels(sf_dir: str, src_dir: str, copies: int = 1) -> None:
    """Copy the events file into a staging source dir (``copies`` times —
    >1 simulates at-least-once re-delivery) and append two one-row sentinel
    files with far-future timestamps.

    Why: in append mode the streaming engine emits a session only in the
    batch *after* the watermark passes it, and the watermark itself advances
    only at batch boundaries. Draining with AvailableNow therefore needs two
    extra batches beyond the data: sentinel #1's batch closes everything the
    data batch saw; sentinel #2's batch closes the stragglers inside the
    last gap+delay. This is the standard flush pattern for bounded replays
    of an event-time stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import shutil

    os.makedirs(src_dir, exist_ok=True)
    events_path = f"{sf_dir.rstrip('/')}/events.parquet"
    for c in range(copies):
        shutil.copy(events_path, f"{src_dir}/0{c}_events.parquet")
    table = pq.read_table(events_path, columns=["ts"])
    max_ts = pa.compute.max(table["ts"]).as_py()
    schema = pq.read_schema(events_path)
    for i, days in enumerate((10, 20), start=1):
        row = {
            "event_id": [-i],
            "ts": [max_ts + timedelta(days=days)],
            "user_id": [-1],
            "event_type": ["__sentinel__"],
            "value": [0.0],
            "props": [None],
        }
        sentinel = pa.Table.from_pydict(
            {k: row[k] for k in schema.names}, schema=schema
        )
        pq.write_table(sentinel, f"{src_dir}/9{i}_sentinel.parquet")


def stream_dedup_counts_to_parquet(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Exactly-once ingestion under at-least-once delivery: the staging dir
    holds the events file TWICE (a duplicated replay, the failure mode the
    reference's delete-then-insert protects against); the stream drops
    duplicate event_ids before aggregating, so the counts must equal a
    single clean pass.

    ``dropDuplicates`` keeps all-keys state — right for a bounded replay;
    an unbounded production stream would use
    ``dropDuplicatesWithinWatermark`` so state ages out with the watermark.
    """
    import shutil

    src_dir = f"{work_dir}/src"
    os.makedirs(src_dir, exist_ok=True)
    events_path = f"{sf_dir.rstrip('/')}/events.parquet"
    shutil.copy(events_path, f"{src_dir}/00_events.parquet")
    shutil.copy(events_path, f"{src_dir}/01_events_redelivered.parquet")
    stream = read_parquet_stream(spark, src_dir, probe=f"{src_dir}/00_events.parquet")

    counts = (
        stream.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    run_available_now(counts, f"{work_dir}/sink", f"{work_dir}/checkpoint")
    return spark.read.parquet(f"{work_dir}/sink")


def stream_bounded_dedup_counts_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    redelivery_horizon: str = "1 day",
) -> DataFrame:
    """Exactly-once ingestion with BOUNDED dedup state — the production
    form of :func:`stream_dedup_counts_to_parquet`.

    ``dropDuplicates`` keeps every key ever seen; on an unbounded 100 TB
    stream that state grows forever. ``dropDuplicatesWithinWatermark``
    bounds state to the re-delivery horizon: a duplicate either matches
    retained state (arrived within the horizon) or is older than the
    watermark and is dropped as late — both paths discard it, and the state
    store only ever holds ~horizon's worth of keys. The staged replay
    delivers the whole events file twice in separate micro-batches
    (``maxFilesPerTrigger=1``), so both paths are actually exercised: the
    second batch's recent events dedup against state, its older events fall
    below the advanced watermark. Downstream, an event-time windowed
    aggregation (chained stateful operators, append mode) must emit
    single-pass per-day counts.
    """
    src_dir = f"{work_dir}/src"
    _stage_source_with_sentinels(sf_dir, src_dir, copies=2)
    stream = read_parquet_stream(
        spark, src_dir, probe=f"{src_dir}/00_events.parquet", maxFilesPerTrigger="1"
    )

    counts = (
        stream.withWatermark("ts", redelivery_horizon)
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("dt"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    _drain(
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{work_dir}/sink"),
        f"{work_dir}/checkpoint",
    )
    return (
        spark.read.parquet(f"{work_dir}/sink")
        .where(F.col("event_type") != "__sentinel__")
    )


def stream_session_stats_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    gap: str = "30 minutes",
    delay: str = "1 minute",
) -> DataFrame:
    """Gap-based sessionization through the streaming engine's native
    ``session_window`` state store, drained to completion.

    ``maxFilesPerTrigger=1`` forces one micro-batch per staged file so the
    sentinel batches actually advance the watermark (see
    :func:`_stage_source_with_sentinels`); append mode then provably emits
    every real session exactly once. Must agree bit-for-bit with the batch
    lag/running-sum sessionizer (operators/sessionize.py) — same oracle."""
    src_dir = f"{work_dir}/src"
    _stage_source_with_sentinels(sf_dir, src_dir)
    stream = read_parquet_stream(
        spark, src_dir, probe=f"{src_dir}/00_events.parquet", maxFilesPerTrigger="1"
    )

    sessions = (
        stream.withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.unix_micros("ts")).alias("start_us"),
            F.max(F.unix_micros("ts")).alias("end_us"),
        )
        .select("user_id", "n_events", "start_us", "end_us")
    )
    _drain(
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{work_dir}/sink"),
        f"{work_dir}/checkpoint",
    )

    from pyspark.sql.window import Window as W

    out = spark.read.parquet(f"{work_dir}/sink").where(F.col("user_id") >= 0)
    w = W.partitionBy("user_id").orderBy("start_us")
    return out.withColumn("session_no", F.row_number().over(w).cast("bigint"))


def _batch_fingerprint(batch_df: DataFrame) -> str:
    """Order-insensitive content fingerprint of a micro-batch: row count +
    sum of per-row xxhash64 (folded into [0, 2³²) so the bigint sum cannot
    overflow at any realistic batch size).  One extra aggregation per batch
    — bounded by the batch, never by history — buys the ability to tell a
    genuine epoch replay apart from a fresh checkpoint reusing old ids."""
    row = batch_df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.pmod(F.xxhash64(*batch_df.columns), F.lit(2**32))), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def drain_to_versioned(
    spark: SparkSession,
    stream: DataFrame,
    root: str,
    checkpoint: str,
    transform: Callable[[DataFrame, int], DataFrame] | None = None,
) -> None:
    """Drain ``stream`` into the manifest-versioned table at ``root``, one
    exactly-once :func:`versioned.commit_stream_epoch` per micro-batch.

    Each batch commits ``transform(batch_df, epoch_id)`` (default: the batch
    itself), identified by its epoch id and the :func:`_batch_fingerprint`
    of the INPUT batch. So a reader never sees part of an epoch (one atomic
    manifest commit each); an epoch the engine replays because the sink
    committed but the checkpoint did not is skipped, even from a fresh
    checkpoint; and a fresh checkpoint whose epoch ids carry different
    data raises instead of silently skipping or doubling it. The reference
    gets the same guarantee by deleting, then re-inserting, a window
    (``dbs/nikon.py:117-145``). If ``root`` holds no table yet, the first
    epoch creates it, empty, with its output's schema."""

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        out = batch_df if transform is None else transform(batch_df, epoch_id)
        if not table_versions(root):
            create_table(spark, root, out.limit(0), n_files=1)
        commit_stream_epoch(spark, root, out, epoch_id, _batch_fingerprint(batch_df))

    _drain(stream.writeStream.foreachBatch(commit), checkpoint)


def stream_incremental_mv_to_parquet(
    spark: SparkSession, sf_dir: str, work_dir: str, n_source_files: int = 4
) -> DataFrame:
    """Incrementally-maintained materialized view: per-(user, event_type)
    running aggregates maintained per micro-batch — the streaming
    replacement for q29's full recompute.

    Each micro-batch appends its PARTIAL aggregates (count, sum — mergeable
    by summation) as one exactly-once epoch of a versioned table
    (:func:`drain_mv_partials`); the view is those partials folded by one
    ``groupBy`` (:func:`read_mv`). A batch costs O(batch), never
    O(|view|) or O(history of events), and a reader sees whole epochs only.

    The source is staged as ``n_source_files`` files with
    maxFilesPerTrigger=1, so the view provably spans several epochs before
    the final comparison."""
    src_dir = f"{work_dir}/src"
    ev = load_table(spark, sf_dir, "events")
    # deterministic hash split (not repartition round-robin) so each staged
    # file's membership is stable across runs
    ev.withColumn("__f", F.pmod(F.xxhash64("event_id"), F.lit(n_source_files))).repartition(
        n_source_files, "__f"
    ).drop("__f").write.mode("overwrite").parquet(src_dir)

    drain_mv_partials(spark, src_dir, work_dir)
    return read_mv(spark, work_dir)


def drain_mv_partials(spark: SparkSession, src_dir: str, work_dir: str) -> None:
    """One AvailableNow drain of the MV stream over whatever source files
    currently exist, one file per micro-batch, into ``work_dir/mv``.
    Re-invoking with the SAME work_dir resumes from the checkpoint:
    committed epochs are never appended twice (tests restart the drain
    mid-corpus and the final view must still equal the batch aggregate)."""
    stream = read_parquet_stream(spark, src_dir, maxFilesPerTrigger="1")
    drain_to_versioned(
        spark,
        stream,
        f"{work_dir}/mv",
        f"{work_dir}/checkpoint",
        lambda batch_df, _epoch: batch_df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("value").alias("sum_value"),
        ),
    )


def read_mv(spark: SparkSession, work_dir: str) -> DataFrame:
    """The MV as of its newest epoch: the appended partials summed per
    (user_id, event_type)."""
    return (
        read_version(spark, f"{work_dir}/mv")
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
    )


def stream_score_documents_to_parquet(
    spark: SparkSession, sf_dir: str, work_dir: str, n_source_files: int = 3
) -> DataFrame:
    """Streaming model inference: documents arrive as files, each
    micro-batch rides the SAME Arrow-batched once-per-worker scoring
    harness as the batch path (``operators/inference.batch_score``), and
    scores land in an append-only sink. Because the harness is
    deterministic, the drained sink must equal one-shot batch scoring —
    the property that lets a pipeline serve one model through both its
    backfill (batch) and live (streaming) faces without skew."""
    from python_async_sample_spark.operators.inference import batch_score

    src_dir = f"{work_dir}/src"
    pin_reader_conf(spark)
    docs_path = f"{sf_dir.rstrip('/')}/documents.parquet"
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    docs.withColumn("__f", F.pmod(F.xxhash64("doc_id"), F.lit(n_source_files))).repartition(
        n_source_files, "__f"
    ).drop("__f").write.mode("overwrite").parquet(src_dir)

    stream = read_parquet_stream(spark, src_dir, maxFilesPerTrigger="1")
    scored = batch_score(stream, "text", "score")
    _drain(
        scored.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{work_dir}/sink"),
        f"{work_dir}/checkpoint",
    )
    return spark.read.parquet(f"{work_dir}/sink")


def stream_drift_bins_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint: str,
    split_us: int,
    bin_width: float = 50.0,
    nbins: int = 10,
) -> DataFrame:
    """Streaming histogram maintenance for drift monitoring (q160).

    The current-window value histogram per event_type is maintained BY THE
    STREAMING ENGINE as a running aggregate: state is one counter per
    (event_type, bin) — O(segments × bins), constant in stream volume,
    which is why a drift monitor can run forever on an unbounded stream
    while countDistinct-style state cannot.  Complete-mode foreachBatch
    overwrite gives idempotent snapshots; the PSI arithmetic joins the
    tiny sink against the pinned reference window downstream."""
    from python_async_sample_spark.operators.drift import fixed_bin

    stream = read_events_stream(spark, sf_dir)
    counts = (
        stream.where(F.unix_micros("ts") >= split_us)
        .select("event_type", fixed_bin("value", bin_width, nbins).alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    run_available_now(counts, out_path, checkpoint)
    return spark.read.parquet(out_path)


def stream_pit_enrich_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint: str,
) -> DataFrame:
    """Streaming point-in-time-correct enrichment (q163): each micro-batch
    of facts is as-of joined against the full static profile history, so a
    fact row only ever sees the dimension version active AT ITS TIME —
    the feature-store online-enrichment pattern, leakage-free regardless
    of how the stream is batched (the as-of kernel needs only the batch's
    facts plus the static history; batching cannot change any row's
    answer).

    Per-batch partial counts are appended to the versioned table at
    ``out_path`` as exactly-once epochs (:func:`drain_to_versioned`, the
    same sink as the MV); returns the partials, which the caller merges
    with one small groupBy."""
    from python_async_sample_spark.operators.asof import asof_join

    ev_static = load_table(spark, sf_dir, "events")
    profile = (
        ev_static.where(F.col("event_type").isin("signup", "purchase"))
        .select("user_id", "ts", F.col("event_type").alias("state"))
        .localCheckpoint(eager=True)
    )
    stream = read_events_stream(spark, sf_dir)

    def enrich(batch_df: DataFrame, _epoch: int) -> DataFrame:
        fact = batch_df.select("user_id", "ts", "event_type")
        return (
            asof_join(fact, profile, ["user_id"], "ts", "ts", payload_cols=["state"])
            .groupBy(
                "event_type",
                F.coalesce("asof_state", F.lit("<none>")).alias("active_state"),
            )
            .agg(F.count(F.lit(1)).alias("n_part"))
        )

    drain_to_versioned(spark, stream, out_path, checkpoint, enrich)
    return read_version(spark, out_path)


def stream_cms_cells_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Streaming count-min sketch maintenance (q165): each micro-batch
    builds its own depth×width cell relation (bounded regardless of batch
    size) and appends it to the versioned table at ``out_path`` as one
    exactly-once epoch (:func:`drain_to_versioned`); the readout merges
    partials by CELL SUM — the CMS merge law
    (test_sketches pins merged ≡ whole-stream).  This is the streaming
    face of the sketch-state story: frequency state bounded at depth×width
    counters forever, on an unbounded stream."""
    from python_async_sample_spark.operators.sketches import cms_build_portable

    drain_to_versioned(
        spark,
        read_events_stream(spark, sf_dir),
        out_path,
        checkpoint,
        lambda batch_df, _epoch: cms_build_portable(
            batch_df, "user_id", depth=depth, width=width
        ),
    )
    return read_version(spark, out_path).groupBy("row", "col").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )


def stream_events_to_jdbc_exactly_once(
    spark: SparkSession,
    sf_dir: str,
    url: str,
    table: str,
    checkpoint: str,
    properties: dict[str, str] | None = None,
) -> int:
    """Structured Streaming → JDBC with exactly-once delivery — the sink
    Spark does not ship (the built-in JDBC writer is batch-only, and a
    foreachBatch append double-writes every epoch the stream replays
    after a crash).  Each micro-batch is stamped with its epoch id and
    committed via :func:`overwrite_epoch_jdbc`'s staged server-side
    transaction, so a replayed epoch deletes its previous delivery and
    re-inserts — the reference's delete-then-insert idempotency protocol
    (``dbs/nikon.py:117-145``) lifted onto the streaming engine's
    epoch ledger.  Drains available-now and returns the epoch count.
    Live on in-JVM Derby in tests/test_jdbc.py (crash-replay included)."""
    from python_async_sample_spark.sources.jdbc import overwrite_epoch_jdbc

    stream = read_events_stream(spark, sf_dir)
    epochs = []

    def deliver(batch_df, epoch_id: int) -> None:
        overwrite_epoch_jdbc(
            spark,
            batch_df.withColumn("__epoch", F.lit(int(epoch_id)).cast("bigint")),
            url, table, "__epoch", int(epoch_id), properties,
        )
        epochs.append(int(epoch_id))

    _drain(stream.writeStream.foreachBatch(deliver), checkpoint)
    return len(epochs)
