"""Structured-Streaming and sessionization queries (driver gate).

q18 pushes the events table through the real streaming engine (file-source
readStream → watermark → event-time window agg → AvailableNow drain into a
checkpointed sink) and returns the sink; its oracle is the equivalent batch
GROUP BY — the streaming machinery must be invisible in the result.

q19 is gap-based sessionization via window functions; its oracle replicates
the lag/running-sum construction in SQL with identical integer-microsecond
arithmetic and tie-breaks.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_async_sample_spark.operators.sessionize import session_stats
from python_async_sample_spark.plans.extended_queries import (
    _CMS_DEPTH,
    _CMS_ORACLE,
    _CMS_WIDTH,
    _cms_heavy_hitters,
    _user_counts,
)
from python_async_sample_spark.plans.extended_queries import _PIT_ORACLE as _PIT_STREAM_ORACLE
from python_async_sample_spark.plans.extended_queries import _PSI_ORACLE as _STREAM_PSI_ORACLE
from python_async_sample_spark.plans.registry import query
from python_async_sample_spark.sources.readers import load_table
from python_async_sample_spark.streaming.jobs import (
    stream_dedup_counts_to_parquet,
    stream_session_stats_to_parquet,
    stream_static_enrich_to_parquet,
    stream_stream_join_to_parquet,
    stream_window_counts_to_parquet,
)
from python_async_sample_spark.streaming.stateful import (
    stream_user_profiles_to_parquet,
)

_SESSION_ORACLE = """
    WITH e AS (
      SELECT user_id, event_id,
             epoch_us(date_trunc('microseconds', ts)) AS tus
      FROM events
    ),
    d AS (
      SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
      FROM e
    ),
    s AS (
      SELECT *, sum(CASE WHEN prev IS NULL OR tus - prev > 1800000000
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY tus, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_no
      FROM d
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           min(tus) AS start_us, max(tus) AS end_us
    FROM s GROUP BY 1, 2 ORDER BY 1, 2
    """


@query(
    "q18_stream_window_counts",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    ref="I1-I7,streaming-window",
    tags=("streaming",),
)
def q18_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts computed by the Structured Streaming engine
    (readStream → withWatermark → window → AvailableNow drain)."""
    tmp = tempfile.mkdtemp(prefix="spark_graft_stream_")
    out = stream_window_counts_to_parquet(
        spark, sf_dir, f"{tmp}/sink", f"{tmp}/checkpoint"
    )
    return (
        out.select(
            "dt",
            "event_type",
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
        )
        .orderBy("dt", "event_type")
    )


@query(
    "q19_sessionization",
    oracle=_SESSION_ORACLE,
    ref="sessionization",
    tags=("streaming", "llm-data"),
)
def q19_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user: lag + running-sum window functions,
    one shuffle on user_id."""
    events = load_table(spark, sf_dir, "events")
    return session_stats(events, gap_minutes=30).orderBy("user_id", "session_no")


@query(
    "q71_stream_exactly_once_dedup",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
    ref="I3,I6 streaming-native (dedup under at-least-once re-delivery)",
    tags=("streaming",),
)
def q71_stream_exactly_once_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream ingests the events file TWICE (duplicated re-delivery) and
    must still produce single-pass counts — streaming dedup state replaces
    the reference's delete-then-insert idempotency window."""
    tmp = tempfile.mkdtemp(prefix="spark_graft_dedup_stream_")
    out = stream_dedup_counts_to_parquet(spark, sf_dir, tmp)
    return out.select("event_type", "n_events", "sum_value").orderBy("event_type")


@query(
    "q75_stream_stateful_profiles",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(date_trunc('microseconds', ts)) AS tus, value
      FROM events
    ),
    d AS (
      SELECT user_id, value,
             tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) AS gap
      FROM e
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(1 + count(*) FILTER (WHERE gap > 1800000000) AS BIGINT) AS n_sessions,
           CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_us,
           round(sum(value), 4) AS sum_value
    FROM d GROUP BY user_id ORDER BY user_id
    """,
    ref="streaming-stateful custom operator (applyInPandasWithState)",
    tags=("streaming", "llm-data"),
)
def q75_stream_stateful_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime profiles (event count, 30-min-gap session count,
    largest gap, value sum) maintained as fixed-size per-key state in
    ``applyInPandasWithState`` and emitted exactly once per user on
    event-time timeout — the custom-state-machine surface the built-in
    streaming aggregations can't express."""
    tmp = tempfile.mkdtemp(prefix="spark_graft_stateful_stream_")
    out = stream_user_profiles_to_parquet(spark, sf_dir, tmp)
    return out.select(
        "user_id", "n_events", "n_sessions", "max_gap_us",
        F.round("sum_value", 4).alias("sum_value"),
    ).orderBy("user_id")


@query(
    "q77_stream_stream_join",
    oracle="""
    WITH c AS (
      SELECT user_id, epoch_us(date_trunc('microseconds', ts)) AS click_us
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, epoch_us(date_trunc('microseconds', ts)) AS purchase_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, click_us, purchase_us,
           purchase_us - click_us AS gap_us
    FROM c JOIN p USING (user_id)
    WHERE purchase_us >= click_us
      AND purchase_us - click_us <= 7200000000
    ORDER BY 1, 2, 3
    """,
    ref="streaming stream-stream interval join (beyond reference)",
    tags=("streaming",),
)
def q77_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every purchase joined to the same user's clicks at most 2 hours
    earlier, computed as a watermarked stream-stream interval join — state
    for both sides is bounded by the time-range predicate. The oracle is the
    equivalent batch join in integer microseconds."""
    tmp = tempfile.mkdtemp(prefix="spark_graft_ssjoin_")
    out = stream_stream_join_to_parquet(spark, sf_dir, tmp, within="2 hours")
    return out.select("user_id", "click_us", "purchase_us", "gap_us").orderBy(
        "user_id", "click_us", "purchase_us"
    )


@query(
    "q60_stream_sessionization",
    oracle=_SESSION_ORACLE,
    ref="sessionization,streaming-stateful",
    tags=("streaming", "llm-data"),
)
def q60_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sessions computed by the streaming engine's native
    session_window state store (watermark + append mode, sentinel-batch
    drain) — must agree row-for-row with q19's batch window functions and
    with the SQL oracle."""
    tmp = tempfile.mkdtemp(prefix="spark_graft_sess_stream_")
    out = stream_session_stats_to_parquet(spark, sf_dir, tmp)
    return out.select(
        "user_id", "session_no", "n_events", "start_us", "end_us"
    ).orderBy("user_id", "session_no")


@query(
    "q85_stream_static_enrich",
    oracle="""
    SELECT n.n_name, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 4) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    ref="stream-static dimension enrichment (beyond reference)",
    tags=("streaming",),
)
def q85_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event stream enriched against the static customer→nation
    dimension inside the streaming engine (per-batch broadcast join, no
    watermark needed for a stateless join) — must equal the all-batch
    three-way join (same oracle as q76's salted batch variant)."""
    tmp = tempfile.mkdtemp(prefix="spark_graft_enrich_")
    out = stream_static_enrich_to_parquet(spark, sf_dir, tmp)
    return out.select("n_name", "event_type", "n_events", "sum_value").orderBy(
        "n_name", "event_type"
    )


@query(
    "q103_stream_bounded_dedup",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    ref="I3,I6 streaming-native with BOUNDED dedup state (dropDuplicatesWithinWatermark)",
    tags=("streaming",),
)
def q103_stream_bounded_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events file delivered TWICE in separate micro-batches, deduped
    with state bounded to the re-delivery horizon
    (dropDuplicatesWithinWatermark — q71's dropDuplicates keeps all keys
    forever, which no unbounded 100 TB stream can afford), then windowed
    per-day counts via chained stateful operators in append mode. Result
    must equal a single clean batch pass."""
    from python_async_sample_spark.streaming.jobs import (
        stream_bounded_dedup_counts_to_parquet,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_bounded_dedup_")
    out = stream_bounded_dedup_counts_to_parquet(spark, sf_dir, tmp)
    return out.select("dt", "event_type", "n_events", "sum_value").orderBy(
        "dt", "event_type"
    )


@query(
    "q131_stream_incremental_mv",
    oracle="""
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    ref="incremental materialized-view maintenance (beyond reference; streaming form of S13's recompute, cf. nikon_ETL watermark merge)",
    tags=("streaming", "incremental"),
)
def q131_stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, event_type) aggregates maintained INCREMENTALLY across 4
    micro-batches: each foreachBatch appends the batch's partial aggregates
    (n_events, sum_value) to a versioned table as one exactly-once epoch
    commit (readers see whole epochs only; a batch costs O(batch), never
    O(|view|) or O(event history)), and the view folds the partials with
    one groupBy. The folded view must equal the one-shot batch aggregate —
    the oracle IS that batch SQL."""
    from python_async_sample_spark.streaming.jobs import stream_incremental_mv_to_parquet

    tmp = tempfile.mkdtemp(prefix="spark_graft_inc_mv_")
    out = stream_incremental_mv_to_parquet(spark, sf_dir, tmp)
    return out.select(
        "user_id",
        "event_type",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    ).orderBy("user_id", "event_type")


@query(
    "q148_stream_inference",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             length(string_split(text, ' ')) AS n_tokens,
             length(text) AS n_chars,
             length(list_distinct(string_split(text, ' ')))
               * 1.0 / length(string_split(text, ' ')) AS distinct_ratio
      FROM documents
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(-2.0
                                    + 0.015 * least(n_tokens, 400)
                                    + 3.0  * distinct_ratio
                                    - 0.002 * (n_chars * 1.0 / n_tokens)))), 6)
             AS score
    FROM feats ORDER BY doc_id
    """,
    ref="streaming model inference (beyond reference; one scoring harness serving batch backfill and live stream without skew)",
    tags=("streaming", "inference"),
)
def q148_stream_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents streamed in 3 micro-batches through the SAME once-per-
    worker inference harness as q146's batch path, into an append sink.
    The drained sink must equal one-shot batch scoring (the oracle) —
    proving the model serves both the backfill and live faces of the
    pipeline without train/serve skew."""
    from python_async_sample_spark.streaming.jobs import (
        stream_score_documents_to_parquet,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_stream_score_")
    out = stream_score_documents_to_parquet(spark, sf_dir, tmp)
    return out.select("doc_id", F.round("score", 6).alias("score")).orderBy("doc_id")


@query(
    "q160_stream_drift_monitor",
    oracle=_STREAM_PSI_ORACLE,
    ref="streaming-drift-monitor (beyond reference; q157's PSI maintained as streaming histogram state)",
    tags=("streaming", "monitoring"),
)
def q160_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift readout where the CURRENT window's histogram is maintained
    by Structured Streaming (running (event_type, bin) counters —
    O(segments×bins) state, constant in stream volume) and the reference
    window is a pinned batch aggregate.  Oracled by the same SQL as the
    all-batch q157: the streaming histogram must merge to exactly the
    batch counts."""
    import tempfile

    from python_async_sample_spark.operators.drift import fixed_bin, psi_from_counts
    from python_async_sample_spark.plans.extended_queries import _PSI_SPLIT_US
    from python_async_sample_spark.streaming.jobs import stream_drift_bins_to_parquet

    tmp = tempfile.mkdtemp(prefix="spark_graft_drift_")
    cur = stream_drift_bins_to_parquet(
        spark, sf_dir, f"{tmp}/sink", f"{tmp}/checkpoint", _PSI_SPLIT_US
    )
    ev = load_table(spark, sf_dir, "events")
    ref = (
        ev.where(F.unix_micros("ts") < _PSI_SPLIT_US)
        .select("event_type", fixed_bin("value", 50, 10).alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    cnt = ref.join(cur, ["event_type", "bin"], "full_outer").select(
        "event_type",
        "bin",
        F.coalesce("c1", F.lit(0)).alias("c1"),
        F.coalesce("c2", F.lit(0)).alias("c2"),
    )
    return psi_from_counts(cnt, "event_type", nbins=10, smoothing=0.5)


@query(
    "q163_stream_pit_enrich",
    oracle=_PIT_STREAM_ORACLE,
    ref="streaming point-in-time enrichment (beyond reference; q143's as-of kernel inside the streaming engine — the feature-store online path)",
    tags=("streaming", "asof", "cdc"),
)
def q163_stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q143's point-in-time-correct dimension join executed BY THE
    STREAMING ENGINE: each micro-batch of facts is as-of joined against
    the static profile history inside foreachBatch (batching cannot change
    any row's answer — the kernel needs only the batch plus the history),
    partial counts are appended to a versioned table as exactly-once epoch
    commits, and the readout merges them.  Oracled by the same DuckDB ASOF
    JOIN SQL as the batch q143: the streamed partials must merge to exactly
    the batch answer."""
    import tempfile

    from python_async_sample_spark.streaming.jobs import stream_pit_enrich_to_parquet

    tmp = tempfile.mkdtemp(prefix="spark_graft_pit_")
    parts = stream_pit_enrich_to_parquet(
        spark, sf_dir, f"{tmp}/sink", f"{tmp}/checkpoint"
    )
    return (
        parts.groupBy("event_type", "active_state")
        .agg(F.sum("n_part").cast("bigint").alias("n_events"))
        .orderBy("event_type", "active_state")
    )


@query(
    "q165_stream_cms_heavy_hitters",
    oracle=_CMS_ORACLE,
    ref="streaming count-min maintenance (beyond reference; q142's sketch built as epoch-merged streaming state)",
    tags=("streaming", "sketch"),
)
def q165_stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q142's heavy-hitter readout where the count-min cells are built BY
    THE STREAMING ENGINE — per-batch bounded cell partials, appended as
    exactly-once epoch commits to a versioned table and merged by cell sum
    (the CMS merge law), so frequency state stays depth×width forever on an
    unbounded stream.  Because merge is exact, the streamed sketch is
    BIT-IDENTICAL to the batch-built one: the same ``_CMS_ORACLE`` as
    q142/q180 recomputes every cell, and the same in-plan
    never-underestimate guard runs against exact counts."""
    from python_async_sample_spark.streaming.jobs import stream_cms_cells_to_parquet

    tmp = tempfile.mkdtemp(prefix="spark_graft_cms_stream_")
    sketch = stream_cms_cells_to_parquet(
        spark, sf_dir, f"{tmp}/sink", f"{tmp}/checkpoint",
        depth=_CMS_DEPTH, width=_CMS_WIDTH,
    )
    ev = load_table(spark, sf_dir, "events")
    return _cms_heavy_hitters(_user_counts(ev), sketch, "streamed CMS")


@query(
    "q185_stream_versioned_sink",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    ref="streaming exactly-once sink onto the manifest-versioned table (beyond reference; the one foreachBatch file sink, streaming/jobs.drain_to_versioned)",
    tags=("streaming", "versioned", "sink"),
)
def q185_stream_versioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events stream into a MANIFEST-VERSIONED table, then drain
    it AGAIN from a fresh checkpoint — the replay every directory-based
    sink mishandles: epoch ids restart at 0, but the (id, content
    fingerprint) identity recorded in the manifest's epoch ledger
    recognizes the replay and skips it, so the rollup equals ONE copy of
    the stream. Readers meanwhile only ever see whole epochs (each append
    is one atomic manifest commit). The same mechanism refuses loudly when
    a reused epoch id carries DIFFERENT data (tests/test_versioned.py)."""
    from python_async_sample_spark.sources.versioned import read_version
    from python_async_sample_spark.streaming.jobs import drain_to_versioned, read_events_stream

    tmp = tempfile.mkdtemp(prefix="spark_graft_svs_")
    root = f"{tmp}/events_v"
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    drain_to_versioned(spark, stream, root, f"{tmp}/ckpt1")
    # fresh checkpoint, same source: epoch 0 replays; fingerprint says skip
    drain_to_versioned(spark, stream, root, f"{tmp}/ckpt2")

    return (
        read_version(spark, root)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("event_type")
    )


_CDC_SOURCE_ORACLE = """
    WITH base AS MATERIALIZED (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    v1_keys AS (SELECT o_orderkey FROM base WHERE o_orderkey % 97 = 0),
    v2_keys AS (SELECT o_orderkey FROM base WHERE o_orderkey % 211 = 0),
    changes AS (
      -- v0: the initial content arrives as inserts
      SELECT 0 AS v, 'insert' AS ct, price FROM base
      UNION ALL
      -- v1 MERGE: net insert = the updated face, net delete = the old face
      SELECT 1, 'insert', price FROM base
      WHERE o_orderkey IN (SELECT o_orderkey FROM v1_keys)
      UNION ALL
      SELECT 1, 'delete', price FROM base
      WHERE o_orderkey IN (SELECT o_orderkey FROM v1_keys)
      UNION ALL
      -- v2 DELETE: net deletes only
      SELECT 2, 'delete', price FROM base
      WHERE o_orderkey IN (SELECT o_orderkey FROM v2_keys)
    )
    SELECT CAST(v AS INT) AS commit_version, ct AS change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(price) AS DOUBLE) AS total_price
    FROM changes GROUP BY v, ct ORDER BY commit_version, change_type
"""


@query(
    "q222_stream_cdc_source",
    oracle=_CDC_SOURCE_ORACLE,
    ref=(
        "versioned table as a REAL Structured Streaming source (beyond "
        "reference; Spark 4 Python DataSource API — "
        "streaming/cdc_source.VersionedCDCDataSource): offsets are manifest "
        "versions, partitions() plans O(changed files) from manifest JSON, "
        "read() streams Arrow batches executor-side (the driver never "
        "touches a data row). The streamed file-granular deltas are "
        "net-reduced per version and the oracle recomputes every commit's "
        "net change from first principles — a source that dropped, "
        "duplicated, or mis-versioned a change hash-mismatches"
    ),
    tags=("streaming", "incremental", "versioned", "scale"),
)
def q222_stream_cdc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create → MERGE → keyed DELETE, then the table is consumed as a
    STREAM through the ``versioned_cdc`` data source (availableNow drain)
    into the exactly-once versioned sink (``jobs.drain_to_versioned``: an
    epoch replayed after a crash is skipped, not captured twice); the
    query nets each version's insert/delete multisets (file-granular
    deltas cancel rewritten-unchanged rows) and rolls them up.  The v1
    merge updates only o_orderstatus, so its net insert and delete faces
    carry the SAME price sums — a subtle pin: a source that swapped
    change tags still mismatches on v2, whose deletes have no insert
    twin."""
    tmp = tempfile.mkdtemp(prefix="spark_graft_cdcsrc_")
    root = f"{tmp}/t"
    _stage_cdc_source_table(spark, sf_dir, root)
    return _net_cdc_rollup(_capture_cdc_stream(spark, root, tmp))


def _stage_cdc_source_table(spark: SparkSession, sf_dir: str, root: str) -> None:
    """q222's source table at ``root``: create (v0) → MERGE (v1) → keyed
    DELETE (v2) over the even-keyed orders."""
    from python_async_sample_spark.sources.versioned import (
        create_table,
        delete_keys_versioned,
        merge_into_versioned,
    )

    base = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    create_table(spark, root, base, n_files=4, layout_col="o_orderkey")   # v0
    merge_into_versioned(
        spark, root,
        base.where(F.col("o_orderkey") % 97 == 0).withColumn("o_orderstatus", F.lit("M")),
        "o_orderkey",
    )                                                                      # v1
    victims = [
        r[0] for r in base.where(F.col("o_orderkey") % 211 == 0)
        .select("o_orderkey").collect()
    ]
    delete_keys_versioned(spark, root, "o_orderkey", victims)             # v2


def _capture_cdc_stream(spark: SparkSession, root: str, work_dir: str) -> DataFrame:
    """Drain the change stream of the table at ``root`` (the
    ``versioned_cdc`` source, availableNow) into the versioned table
    ``work_dir/cdc_out``, one exactly-once epoch commit per micro-batch,
    checkpointed at ``work_dir/ckpt``; returns the captured changes. A
    re-run after a crash between the sink commit and the checkpoint commit
    replays the epoch, and the sink skips it."""
    from python_async_sample_spark.sources.versioned import read_version
    from python_async_sample_spark.streaming.cdc_source import VersionedCDCDataSource
    from python_async_sample_spark.streaming.jobs import drain_to_versioned

    spark.dataSource.register(VersionedCDCDataSource)
    sink = f"{work_dir}/cdc_out"
    drain_to_versioned(
        spark,
        spark.readStream.format("versioned_cdc").option("path", root).load(),
        sink,
        f"{work_dir}/ckpt",
    )
    return read_version(spark, sink)


def _net_cdc_rollup(cdc: DataFrame) -> DataFrame:
    """Net each version's insert/delete multisets of the captured changes
    and roll them up to (commit_version, change_type, n_rows,
    total_price)."""
    cols = ["o_orderkey", "o_orderstatus", "price"]
    # Net the insert/delete multisets via grouped counts: exceptAll keeps
    # exactly max(n_insert - n_delete, 0) copies of each distinct row (and
    # symmetrically for deletes), and only counts and EXACT decimal sums
    # are consumed downstream, so net_n and price * net_n reproduce the
    # two-exceptAll construction's aggregates bit-for-bit — with ONE
    # full-data shuffle and one scan of the sink instead of four scans and
    # three all-column shuffles (guide §2.3/§2.4; oracle equivalence
    # re-proven after the rewrite).
    counted = cdc.groupBy("_commit_version", *cols).agg(
        F.count(F.when(F.col("_change_type") == "insert", 1)).alias("__ins"),
        F.count(F.when(F.col("_change_type") == "delete", 1)).alias("__del"),
    )
    sides = counted.select(
        "_commit_version",
        "price",
        F.expr(
            "stack(2, 'insert', greatest(__ins - __del, 0L),"
            " 'delete', greatest(__del - __ins, 0L)) AS (change_type, __n)"
        ),
    ).where(F.col("__n") > 0)
    return (
        sides.groupBy("_commit_version", "change_type")
        .agg(
            F.sum("__n").cast("bigint").alias("n_rows"),
            F.sum(F.col("price") * F.col("__n")).cast("double").alias("total_price"),
        )
        .select(
            F.col("_commit_version").cast("int").alias("commit_version"),
            "change_type", "n_rows", "total_price",
        )
        .orderBy("commit_version", "change_type")
    )
