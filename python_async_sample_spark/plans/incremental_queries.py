"""Incremental-subsystem queries (SURVEY §2.9) for the driver gate.

q17 runs the REAL pipeline — watermark store, chunked catch-up, idempotent
overwrite-window sink, deliberate late re-delivery — into a temp dir, then
returns the sink contents. The oracle is the plain interval SQL the whole
machinery must be equivalent to: that equivalence (including the re-delivery
being a no-op) is exactly the reference's exactly-once-per-window contract.
"""

from __future__ import annotations

import tempfile
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_async_sample_spark.incremental import (
    IncrementalRunner,
    IncrementalStage,
    WatermarkStore,
    read_target,
)
from python_async_sample_spark.plans.registry import query
from python_async_sample_spark.sources.readers import load_table

WM0 = datetime.fromisoformat("2024-01-24 00:00:00")


def _cdc_batch(orders: DataFrame, inserts: bool = True) -> DataFrame:
    """The versioned-orders queries' CDC batch: keys ≡ 0 mod 97 update to
    status 'M' with price + 1000.00 (DECIMAL(18,2), so sums stay exact),
    and with ``inserts`` fresh keys ≡ 0 mod 397, offset past the key
    space, insert with status 'N' and price 42.42."""
    upd = (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderstatus", F.lit("M"))
        .withColumn(
            "o_totalprice",
            (F.col("o_totalprice").cast("decimal(18,2)") + F.lit(1000.00)).cast("double"),
        )
    )
    if not inserts:
        return upd
    return upd.unionByName(
        orders.where(F.col("o_orderkey") % 397 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("o_totalprice", F.lit(42.42))
    )


def _status_rollup(df: DataFrame, version: int, n_col: str = "n_rows") -> DataFrame:
    """One snapshot's per-``o_orderstatus`` row count (named ``n_col``)
    and DECIMAL-exact price total, tagged with ``version``."""
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias(n_col),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    ).select(F.lit(version).cast("int").alias("version"), "o_orderstatus", n_col, "total_price")


@query(
    "q17_incremental_catchup",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt
    FROM events
    WHERE date_trunc('microseconds', ts) > TIMESTAMP '2024-01-24 00:00:00'
    ORDER BY event_id
    """,
    ref="I1,I2,I3,I4,I5,I6,S11,S12",
    tags=("incremental",),
)
def q17_incremental_catchup(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tempfile.mkdtemp(prefix="spark_graft_incr_")
    store = WatermarkStore(spark, f"{tmp}/state")
    runner = IncrementalRunner(spark, store)
    stage = IncrementalStage(
        name="EDC_Import",
        source=lambda s: load_table(s, sf_dir, "events"),
        target_path=f"{tmp}/edc",
        ts_col="ts",
    )
    store.put("NIKON", "EDC_Import", WM0)
    runner.run(stage)

    # Deliberate late re-delivery of the last 2 days: the sink must absorb it
    # without duplicates (delete-then-insert semantics, dbs/nikon.py:117-145).
    hi = store.get("NIKON", "EDC_Import")
    store.put("NIKON", "EDC_Import", datetime.fromisoformat("2024-01-28 00:00:00"))
    runner.run(stage)
    assert store.get("NIKON", "EDC_Import") == hi

    return (
        read_target(spark, f"{tmp}/edc")
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .select("event_id", "user_id", "event_type", "value", "dt")
        .orderBy("event_id")
    )


@query(
    "q177_merge_into",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000.00 AS DOUBLE) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    ins AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
             CAST(42.42 AS DOUBLE) AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 397 = 0
    ),
    merged AS (
      SELECT * FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins
    )
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    ref="S12+I3 generalized: keyed MERGE INTO as a versioned snapshot commit (sources/versioned.merge_into_versioned; VERDICT r3 item 7; the key-addressed form of the reference's delete-then-insert window, dbs/nikon.py:117-145)",
    tags=("incremental", "sink"),
)
def q177_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE INTO, certified end-to-end: a fresh key-clustered
    versioned copy of ``orders`` receives one CDC-shaped batch — updates
    (keys ≡ 0 mod 97: status→'M', price+1000) plus inserts (fresh keys ≡ 0
    mod 397 offset past the key space) — through
    ``sources.versioned.merge_into_versioned``; the batch is **delivered
    twice** to prove re-delivery idempotence, then the head's per-status
    rollup must equal DuckDB's from-first-principles reconstruction.

    Scale shape: the manifest's per-file key ranges prune the rewrite to
    the files whose range intersects the batch (key-clustered table → a
    handful), each merge lands as one atomic snapshot commit, and the
    driver touch is O(files), never O(batch keys).  Prices ride
    DECIMAL(18,2) on both sides, so the sums are exact, not
    summation-order-dependent."""
    from python_async_sample_spark.sources.versioned import (
        create_table,
        merge_into_versioned,
        read_version,
    )

    root = f"{tempfile.mkdtemp(prefix='spark_graft_merge_')}/orders"
    orders = load_table(spark, sf_dir, "orders")
    create_table(spark, root, orders, n_files=8, layout_col="o_orderkey")
    updates = _cdc_batch(orders)
    merge_into_versioned(spark, root, updates, "o_orderkey")
    merge_into_versioned(spark, root, updates, "o_orderkey")  # re-delivery

    return (
        read_version(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q184_versioned_time_travel",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000.00 AS DOUBLE) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    ins AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
             CAST(42.42 AS DOUBLE) AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 397 = 0
    ),
    merged AS (
      SELECT * FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins
    ),
    v0 AS (
      SELECT CAST(0 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders GROUP BY o_orderstatus
    ),
    v2 AS (
      SELECT CAST(2 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM merged GROUP BY o_orderstatus
    )
    SELECT * FROM v0 UNION ALL SELECT * FROM v2
    ORDER BY version, o_orderstatus
    """,
    ref="S11-S13 upgraded to snapshot semantics: manifest-versioned MERGE with atomic visibility + time travel (sources/versioned.py; the whole-table generalization of the reference's watermark interval swap, dbs/nikon.py:107-186)",
    tags=("incremental", "sink", "versioned"),
)
def q184_versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q177's MERGE batch against a MANIFEST-VERSIONED table: the same CDC
    batch commits twice (v1, v2 — re-delivery is a new identical-content
    snapshot, not corruption), then ONE output reports the per-status
    rollup of BOTH version 0 and the head. The oracle checks two
    properties at once: the head equals DuckDB's from-first-principles
    merge, and time travel still returns the EXACT pre-merge table — a
    crash-window observer can only ever see one of these two states
    (commits are exclusive-linked manifests; data files are immutable;
    see tests/test_versioned.py for the crash and racing-writer cases)."""
    from python_async_sample_spark.sources.versioned import (
        create_table,
        merge_into_versioned,
        read_version,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_vtq_")
    root = f"{tmp}/orders_v"
    orders = load_table(spark, sf_dir, "orders")
    # range-ordered base so the manifest's min/max pruning has teeth
    create_table(spark, root, orders.orderBy("o_orderkey"), n_files=8)

    updates = _cdc_batch(orders)
    merge_into_versioned(spark, root, updates, "o_orderkey")
    merge_into_versioned(spark, root, updates, "o_orderkey")  # re-delivery

    return (
        _status_rollup(read_version(spark, root, 0), 0, "n_orders")
        .unionByName(_status_rollup(read_version(spark, root), 2, "n_orders"))
        .orderBy("version", "o_orderstatus")
    )


@query(
    "q186_versioned_compaction",
    oracle="""
    WITH spine AS (
      SELECT * FROM (VALUES
        (0, 'create', 2), (1, 'append', 3), (2, 'append', 4),
        (3, 'append', 5), (4, 'append', 6), (5, 'append', 7),
        (6, 'append', 8), (7, 'compact', 1)
      ) AS t(version, op_kind, n_files)
    ),
    slice_agg AS (
      SELECT CAST(o_orderkey % 7 AS INT) AS k,
             count(*) AS n,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS tp
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT s.version,
             CAST(sum(a.n) AS BIGINT) AS n_rows,
             CAST(sum(a.tp) AS DOUBLE) AS total_price
      FROM spine s JOIN slice_agg a ON a.k <= LEAST(s.version, 6)
      GROUP BY s.version
    )
    SELECT CAST(s.version AS INT) AS version, s.op_kind,
           CAST(s.n_files AS INT) AS n_files, c.n_rows, c.total_price
    FROM spine s JOIN cum c USING (version)
    ORDER BY version
    """,
    ref=(
        "S13 + layout maintenance beyond the reference: snapshot-committed "
        "small-file compaction (the OPTIMIZE verb) + manifest-computed "
        "DESCRIBE HISTORY (sources/versioned.py compact/table_history; the "
        "reference's nearest analog is its batched multi-row insert, "
        "dbs/db.py:64-96, which exists to avoid tiny writes for the same "
        "reason)"
    ),
    tags=("incremental", "versioned", "layout"),
)
def q186_versioned_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An append-heavy versioned table (create + 6 single-file appends)
    bin-packed by ``compact()``, audited by ``table_history()``: one row
    per snapshot with the file count, the manifest-stats row count, and
    the per-version total revenue read through time travel.  The oracle
    pins ALL of it from first principles — op sequence, exact file counts
    (8 small files collapse to 1), cumulative row counts (metadata path)
    AND cumulative decimal revenue (data path) — so a compaction that
    lost/duplicated rows, misfiled a manifest, or failed to pack would
    hash-mismatch.  Scale shape: every history row is manifest JSON;
    only the eight per-version rollups touch data."""
    from python_async_sample_spark.sources.versioned import (
        append_versioned,
        compact,
        create_table,
        read_version,
        table_history,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_vcq_")
    root = f"{tmp}/orders_slices"
    orders = load_table(spark, sf_dir, "orders")
    slice_of = lambda k: orders.where(F.col("o_orderkey") % 7 == k)  # noqa: E731
    create_table(spark, root, slice_of(0), n_files=2)
    for k in range(1, 7):
        append_versioned(spark, root, slice_of(k), n_files=1)
    res = compact(spark, root)
    if res["produced"] >= res["compacted"]:  # loud, not silently unpacked
        raise RuntimeError(f"compaction did not reduce file count: {res}")

    rollups = None
    for v in range(8):
        one = read_version(spark, root, v).agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price")
        ).select(F.lit(v).cast("int").alias("version"), "total_price")
        rollups = one if rollups is None else rollups.unionByName(one)

    return (
        table_history(spark, root)
        .join(rollups, "version")
        .select("version", "op_kind", "n_files", "n_rows", "total_price")
        .orderBy("version")
    )


@query(
    "q190_versioned_changes",
    oracle="""
    WITH del AS (
      SELECT 'delete' AS change_type, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders WHERE o_orderkey % 97 = 0 GROUP BY o_orderstatus
    ),
    ins_upd AS (
      SELECT 'insert' AS change_type, 'M' AS o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) + 1000.00) AS DOUBLE)
               AS total_price
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    ins_new AS (
      SELECT 'insert' AS change_type, 'N' AS o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) * CAST(42.42 AS DECIMAL(18,2)) AS DOUBLE) AS total_price
      FROM orders WHERE o_orderkey % 397 = 0
    )
    SELECT * FROM del UNION ALL SELECT * FROM ins_upd UNION ALL
    SELECT * FROM ins_new
    ORDER BY change_type, o_orderstatus
    """,
    ref=(
        "S11-S12 generalized to snapshot CDC: row-level changes between two "
        "manifest versions, reading ONLY the files in the manifests' "
        "symmetric difference (sources/versioned.changes_between; the "
        "incremental-read face of the reference's watermark interval "
        "extraction, dbs/nikon.py:107-145)"
    ),
    tags=("incremental", "versioned", "cdc"),
)
def q190_versioned_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q184's MERGE batch, consumed as CDC: ``changes_between(v0, v1)``
    must emit exactly the update keys' delete+insert pairs plus the new
    keys' inserts — rewritten-but-unchanged rows (the rest of each
    affected file) must CANCEL in the multiset diff.  The oracle derives
    every change row from first principles on the source table; the scale
    contract (files shared by both manifests are never read) is pinned in
    test_versioned via inputFiles."""
    from python_async_sample_spark.sources.versioned import (
        changes_between,
        create_table,
        merge_into_versioned,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_cdcq_")
    root = f"{tmp}/orders_cdc"
    orders = load_table(spark, sf_dir, "orders")
    create_table(spark, root, orders.orderBy("o_orderkey"), n_files=8)
    updates = _cdc_batch(orders)
    merge_into_versioned(spark, root, updates, "o_orderkey")
    return (
        changes_between(spark, root, 0, 1)
        .groupBy("change_type", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("change_type", "o_orderstatus")
    )


@query(
    "q193_cdc_maintained_rollup",
    oracle="""
    WITH upd1 AS (
      SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000.00 AS DOUBLE) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    ins1 AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
             CAST(42.42 AS DOUBLE) AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 397 = 0
    ),
    merged1 AS MATERIALIZED (
      SELECT * FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL SELECT * FROM upd1
      UNION ALL SELECT * FROM ins1
    ),
    upd2 AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 500.00 AS DOUBLE) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM merged1 WHERE o_orderkey % 53 = 0
    ),
    merged2 AS MATERIALIZED (
      SELECT * FROM merged1 WHERE o_orderkey % 53 <> 0
      UNION ALL SELECT * FROM upd2
    ),
    r1 AS (
      SELECT CAST(1 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM merged1 GROUP BY o_orderstatus
    ),
    r2 AS (
      SELECT CAST(2 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM merged2 GROUP BY o_orderstatus
    )
    SELECT * FROM r1 UNION ALL SELECT * FROM r2
    ORDER BY version, o_orderstatus
    """,
    ref=(
        "incremental view maintenance over snapshot CDC (beyond "
        "reference): rollup(v_n) = rollup(v_{n-1}) + signed delta of "
        "changes_between — the base table is scanned ONCE at init, every "
        "refresh reads only the manifests' symmetric-difference files "
        "(sources/versioned.changes_between; the algebraic form of the "
        "reference's full MV recompute, dbs/nikon.py:188-197)"
    ),
    tags=("incremental", "versioned", "cdc", "rollup"),
)
def q193_cdc_maintained_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two successive MERGEs against a versioned orders table, with the
    per-status rollup maintained ALGEBRAICALLY: each refresh adds the
    signed CDC delta (insert rows +1/+price, delete rows −1/−price) to
    the previous rollup — the 100 TB base is never rescanned after init,
    and each delta reads only the rewritten files (q190's contract).
    Decimal sums keep the increments exact, so the maintained rollup
    hash-matches DuckDB recomputing both versions from first principles —
    drift between maintained and recomputed state is impossible to hide."""
    from python_async_sample_spark.sources.versioned import (
        changes_between,
        create_table,
        merge_into_versioned,
        read_version,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_ivmq_")
    root = f"{tmp}/orders_ivm"
    orders = load_table(spark, sf_dir, "orders")
    create_table(spark, root, orders.orderBy("o_orderkey"), n_files=8)

    updates1 = _cdc_batch(orders)
    merge_into_versioned(spark, root, updates1, "o_orderkey")
    updates2 = (
        read_version(spark, root)
        .where(F.col("o_orderkey") % 53 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn(
            "o_totalprice",
            (F.col("o_totalprice").cast("decimal(18,2)") + F.lit(500.00)).cast("double"),
        )
    )
    merge_into_versioned(spark, root, updates2, "o_orderkey")

    def rollup_signed(df: DataFrame, sign_col: F.Column) -> DataFrame:
        return df.select(
            "o_orderstatus",
            sign_col.alias("__w"),
            (F.col("o_totalprice").cast("decimal(18,2)") * sign_col.cast("decimal(3,0)"))
            .alias("__p"),
        )

    # materialize base and the first delta: r1 AND r2 both consume them,
    # and without the lineage cut the union plan re-executes the base scan
    # and the v0->v1 diff twice — breaking the "one base scan" contract
    base = rollup_signed(read_version(spark, root, 0), F.lit(1)).localCheckpoint(
        eager=False
    )  # the ONE base scan

    def delta(v_from: int, v_to: int) -> DataFrame:
        ch = changes_between(spark, root, v_from, v_to)
        return rollup_signed(
            ch, F.when(F.col("change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
        )

    def finish(parts: DataFrame, version: int) -> DataFrame:
        return (
            parts.groupBy("o_orderstatus")
            .agg(
                F.sum("__w").cast("bigint").alias("n_rows"),
                F.sum("__p").cast("double").alias("total_price"),
            )
            .where(F.col("n_rows") != 0)
            .select(
                F.lit(version).cast("int").alias("version"),
                "o_orderstatus", "n_rows", "total_price",
            )
        )

    d1, d2 = delta(0, 1).localCheckpoint(eager=False), delta(1, 2)
    r1 = finish(base.unionByName(d1), 1)
    r2 = finish(base.unionByName(d1).unionByName(d2), 2)
    return r1.unionByName(r2).orderBy("version", "o_orderstatus")


@query(
    "q195_purged_time_travel",
    oracle="""
    WITH victims AS MATERIALIZED (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 211 = 0
    ),
    upd AS (
      SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000.00 AS DOUBLE) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    merged AS MATERIALIZED (
      SELECT * FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL SELECT * FROM upd
    ),
    v0 AS (
      SELECT CAST(0 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM victims)
      GROUP BY o_orderstatus
    ),
    v1 AS (
      SELECT CAST(1 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM merged WHERE o_orderkey NOT IN (SELECT o_orderkey FROM victims)
      GROUP BY o_orderstatus
    )
    SELECT * FROM v0 UNION ALL SELECT * FROM v1
    ORDER BY version, o_orderstatus
    """,
    ref=(
        "right-to-be-forgotten across snapshot history (beyond reference): "
        "purge_keys rewrites every manifest's affected files atomically so "
        "NO version — time travel included — serves the erased keys "
        "(sources/versioned.purge_keys); the reference's delete-then-insert "
        "idempotency window (dbs/nikon.py:117-145) erases from the present "
        "only, which is exactly what an erasure request forbids"
    ),
    tags=("incremental", "versioned", "governance"),
)
def q195_purged_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A MERGE creates history, then ``purge_keys`` erases the victim keys
    from BOTH snapshots in place; the output rolls up version 0 AND the
    head after the purge, and the oracle recomputes both from first
    principles with the victims excluded — a purge that left a row in
    ANY version (or touched a non-victim row) hash-mismatches.  The
    victim list is driver-sized by contract (an erasure request), and
    each affected file rewrites once across all manifests."""
    from python_async_sample_spark.sources.versioned import (
        create_table,
        merge_into_versioned,
        purge_keys,
        read_version,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_prgq_")
    root = f"{tmp}/orders_purge"
    orders = load_table(spark, sf_dir, "orders")
    create_table(spark, root, orders.orderBy("o_orderkey"), n_files=8)
    updates = _cdc_batch(orders, inserts=False)
    merge_into_versioned(spark, root, updates, "o_orderkey")
    victims = [
        r[0]
        for r in orders.where(F.col("o_orderkey") % 211 == 0)
        .select("o_orderkey")
        .collect()
    ]
    purge_keys(spark, root, "o_orderkey", victims)

    return (
        _status_rollup(read_version(spark, root, 0), 0)
        .unionByName(_status_rollup(read_version(spark, root, 1), 1))
        .orderBy("version", "o_orderstatus")
    )


@query(
    "q216_purged_relation_travel",
    oracle="""
    WITH victims AS MATERIALIZED (
      SELECT DISTINCT o_orderkey FROM orders WHERE o_custkey % 89 = 0
    ),
    upd AS (
      SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1000.00 AS DOUBLE) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    merged AS MATERIALIZED (
      SELECT * FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL SELECT * FROM upd
    ),
    v0 AS (
      SELECT CAST(0 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM victims)
      GROUP BY o_orderstatus
    ),
    v1 AS (
      SELECT CAST(1 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM merged WHERE o_orderkey NOT IN (SELECT o_orderkey FROM victims)
      GROUP BY o_orderstatus
    )
    SELECT version, o_orderstatus, n_rows, total_price,
           (SELECT CAST(count(*) AS BIGINT) FROM victims) AS victim_keys
    FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
    ORDER BY version, o_orderstatus
    """,
    ref=(
        "DataFrame-keyed right-to-be-forgotten (beyond reference): the "
        "reference's delete is predicate-shaped (dbs/nikon.py:117-136) — "
        "at 100 TB an erasure request is a relation, not a key list. "
        "purge_relation plans via the same distributed range join as MERGE "
        "and rewrites via broadcast anti join, so victim keys never reach "
        "the driver (sources/versioned.purge_relation); the list face "
        "(q195) stays for point deletes"
    ),
    tags=("incremental", "versioned", "governance"),
)
def q216_purged_relation_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q195's erasure contract with the victims as a RELATION: a MERGE
    creates history, then ``purge_relation`` erases every order of the
    ``o_custkey % 89`` customers from BOTH snapshots without the keys
    ever reaching the driver.  The output rolls up version 0 AND the
    head, carrying the operator's distinct-victim counter so the oracle
    pins it too — a purge that left a victim row in ANY version, touched
    a non-victim row, or miscounted its targets hash-mismatches."""
    from python_async_sample_spark.sources.versioned import (
        create_table,
        merge_into_versioned,
        purge_relation,
        read_version,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_prgr_")
    root = f"{tmp}/orders_purge_rel"
    orders = load_table(spark, sf_dir, "orders")
    create_table(spark, root, orders.orderBy("o_orderkey"), n_files=8)
    updates = _cdc_batch(orders, inserts=False)
    merge_into_versioned(spark, root, updates, "o_orderkey")
    victims = orders.where(F.col("o_custkey") % 89 == 0).select("o_orderkey")
    res = purge_relation(spark, root, "o_orderkey", victims)

    return (
        _status_rollup(read_version(spark, root, 0), 0)
        .unionByName(_status_rollup(read_version(spark, root, 1), 1))
        .withColumn("victim_keys", F.lit(res["victim_keys"]).cast("bigint"))
        .orderBy("version", "o_orderstatus")
    )


@query(
    "q217_relation_delete_travel",
    oracle="""
    WITH victims AS MATERIALIZED (
      SELECT DISTINCT o_orderkey FROM orders WHERE o_custkey % 53 = 0
    ),
    v0 AS (
      SELECT CAST(0 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders GROUP BY o_orderstatus
    ),
    v1 AS (
      SELECT CAST(1 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM victims)
      GROUP BY o_orderstatus
    )
    SELECT version, o_orderstatus, n_rows, total_price,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_orderkey IN (SELECT o_orderkey FROM victims)) AS deleted_rows
    FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
    ORDER BY version, o_orderstatus
    """,
    ref=(
        "relation-keyed DELETE as a snapshot commit (the head-only sibling "
        "of q216's history purge): the reference's predicate-shaped delete "
        "(dbs/nikon.py:117-136) against the versioned head — victims ride "
        "the MERGE range-join planner and one broadcast anti join, keys "
        "never reach the driver (sources/versioned.delete_relation); "
        "history stays time-travelable, which is exactly what "
        "distinguishes DELETE from the erasure verb"
    ),
    tags=("incremental", "versioned"),
)
def q217_relation_delete_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``delete_relation`` removes every order of the ``o_custkey % 53``
    customers from a NEW head version; the output rolls up version 0
    (history INTACT — full corpus, the property that separates delete
    from purge) and version 1 (victims gone), carrying the operator's
    deleted-row counter so the oracle pins it too."""
    from python_async_sample_spark.sources.versioned import (
        create_table,
        delete_relation,
        read_version,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_delr_")
    root = f"{tmp}/orders_del_rel"
    orders = load_table(spark, sf_dir, "orders")
    create_table(spark, root, orders, n_files=8, layout_col="o_orderkey")
    victims = orders.where(F.col("o_custkey") % 53 == 0).select("o_orderkey")
    res = delete_relation(spark, root, "o_orderkey", victims)

    return (
        _status_rollup(read_version(spark, root, 0), 0)
        .unionByName(_status_rollup(read_version(spark, root, res["version"]), 1))
        .withColumn("deleted_rows", F.lit(res["deleted_rows"]).cast("bigint"))
        .orderBy("version", "o_orderstatus")
    )


@query(
    "q220_cloned_divergence",
    oracle="""
    WITH base AS MATERIALIZED (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    faces AS (
      SELECT 'clone_v0' AS face,
             CASE WHEN o_orderkey % 97 = 0 THEN 'S' ELSE o_orderstatus END AS st,
             price FROM base
      UNION ALL
      SELECT 'dst_head',
             CASE WHEN o_orderkey % 89 = 0 THEN 'D'
                  WHEN o_orderkey % 97 = 0 THEN 'S'
                  ELSE o_orderstatus END, price FROM base
      UNION ALL
      SELECT 'src_head',
             CASE WHEN o_orderkey % 101 = 0 THEN 'T'
                  WHEN o_orderkey % 97 = 0 THEN 'S'
                  ELSE o_orderstatus END, price FROM base
    )
    SELECT face, st AS o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(price) AS DOUBLE) AS total_price
    FROM faces GROUP BY face, st ORDER BY face, st
    """,
    ref=(
        "deep clone at hardlink cost + independent divergence (beyond "
        "reference; versioned.clone_table — zero bytes copied, O(files) "
        "links, epoch ledger carried): the dev/test-against-production "
        "verb every lakehouse grows; the oracle recomputes the cloned "
        "snapshot and BOTH diverged heads from first principles, so a "
        "clone that shared mutable state with its source in either "
        "direction hash-mismatches"
    ),
    tags=("incremental", "versioned"),
)
def q220_cloned_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A source table takes a MERGE (→ its v1), ``clone_table`` snapshots
    it, then source and clone each take a DIFFERENT merge: the output
    rolls up the clone's v0 (≡ the cloned snapshot, untouched by either
    later merge) and both diverged heads."""
    from python_async_sample_spark.sources.versioned import (
        clone_table,
        create_table,
        current_version,
        merge_into_versioned,
        read_version,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_clone_q_")
    src, dst = f"{tmp}/src", f"{tmp}/dst"
    base = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    create_table(spark, src, base, n_files=4, layout_col="o_orderkey")
    mark = lambda m, s: (  # noqa: E731
        base.where(F.col("o_orderkey") % m == 0).withColumn("o_orderstatus", F.lit(s))
    )
    merge_into_versioned(spark, src, mark(97, "S"), "o_orderkey")   # src v1
    clone_table(src, dst)                                           # dst v0 ≡ src v1
    merge_into_versioned(spark, dst, mark(89, "D"), "o_orderkey")   # dst v1
    merge_into_versioned(spark, src, mark(101, "T"), "o_orderkey")  # src v2

    def rollup(df: DataFrame, face: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("price").cast("double").alias("total_price"),
        ).select(F.lit(face).alias("face"), "o_orderstatus", "n_rows", "total_price")

    return (
        rollup(read_version(spark, dst, 0), "clone_v0")
        .unionByName(rollup(read_version(spark, dst, current_version(dst)), "dst_head"))
        .unionByName(rollup(read_version(spark, src, current_version(src)), "src_head"))
        .orderBy("face", "o_orderstatus")
    )


@query(
    "q221_dropped_column_travel",
    oracle="""
    WITH base AS MATERIALIZED (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    appended AS (
      SELECT o_orderkey + 30000000 AS o_orderkey, price
      FROM base WHERE o_orderkey % 61 = 0
    ),
    v0 AS (
      SELECT CAST(0 AS INT) AS version, CAST(3 AS INT) AS n_cols,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
             CAST(sum(price) AS DOUBLE) AS total_price
      FROM base
    ),
    v1 AS (
      -- metadata-only drop: same rows, the column is simply not read
      SELECT CAST(1 AS INT) AS version, CAST(2 AS INT) AS n_cols,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(NULL AS BIGINT) AS n_priorities,
             CAST(sum(price) AS DOUBLE) AS total_price
      FROM base
    ),
    v2 AS (
      SELECT CAST(2 AS INT) AS version, CAST(2 AS INT) AS n_cols,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(NULL AS BIGINT) AS n_priorities,
             CAST(sum(price) AS DOUBLE) AS total_price
      FROM (SELECT price FROM base UNION ALL SELECT price FROM appended)
    )
    SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2
    ORDER BY version
    """,
    ref=(
        "DROP COLUMN as metadata-only schema evolution + time travel "
        "(beyond reference; versioned.drop_column — the twin of q198's "
        "add_column): zero data files rewritten, pre-drop versions still "
        "serve the column, post-drop appends conform to the narrowed "
        "schema, and the dropped name is ledgered so add_column cannot "
        "resurrect stored values under it"
    ),
    tags=("incremental", "versioned"),
)
def q221_dropped_column_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``drop_column`` narrows the schema in an O(1) commit; the output
    rolls up v0 (column present and counted), v1 (same rows, column
    gone), and v2 (a post-drop append under the narrowed schema), so a
    drop that rewrote data, leaked the column into later versions, or
    lost it from earlier ones hash-mismatches."""
    from python_async_sample_spark.sources.versioned import (
        append_versioned,
        create_table,
        drop_column,
        read_version,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_dropc_")
    root = f"{tmp}/orders_drop"
    base = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    create_table(spark, root, base, n_files=4)
    drop_column(spark, root, "o_orderpriority")
    appended = (
        base.where(F.col("o_orderkey") % 61 == 0)
        .select((F.col("o_orderkey") + 30_000_000).alias("o_orderkey"), "price")
    )
    append_versioned(spark, root, appended)

    def face(version: int, n_cols: int, with_prio: bool) -> DataFrame:
        df = read_version(spark, root, version)
        # n_cols is ASSERTED against the real schema, not just emitted —
        # the lit below would otherwise be a constant the oracle cannot
        # catch lying
        if len(df.columns) != n_cols:
            raise AssertionError(
                f"version {version} has {len(df.columns)} columns, expected {n_cols}"
            )
        prio = (
            F.countDistinct("o_orderpriority").cast("bigint")
            if with_prio else F.lit(None).cast("bigint")
        )
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            prio.alias("n_priorities"),
            F.sum("price").cast("double").alias("total_price"),
        ).select(
            F.lit(version).cast("int").alias("version"),
            F.lit(n_cols).cast("int").alias("n_cols"),
            "n_rows", "n_priorities", "total_price",
        )

    return (
        face(0, 3, True)
        .unionByName(face(1, 2, False))
        .unionByName(face(2, 2, False))
        .orderBy("version")
    )


@query(
    "q198_evolved_time_travel",
    oracle="""
    WITH base AS MATERIALIZED (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    appended AS MATERIALIZED (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END AS o_channel
      FROM orders WHERE o_orderkey % 3 = 1
    ),
    v0 AS (
      SELECT CAST(0 AS INT) AS version, CAST(4 AS INT) AS n_cols,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(NULL AS BIGINT) AS n_channel_null,
             CAST(NULL AS BIGINT) AS n_web,
             CAST(sum(price) AS DOUBLE) AS total_price
      FROM base
    ),
    v1 AS (
      -- metadata-only evolution: same rows, the new column surfaces as NULL
      SELECT CAST(1 AS INT) AS version, CAST(5 AS INT) AS n_cols,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_channel_null,
             CAST(0 AS BIGINT) AS n_web,
             CAST(sum(price) AS DOUBLE) AS total_price
      FROM base
    ),
    v2 AS (
      SELECT CAST(2 AS INT) AS version, CAST(5 AS INT) AS n_cols,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN o_channel IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_channel_null,
             CAST(sum(CASE WHEN o_channel = 'web' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_web,
             CAST(sum(price) AS DOUBLE) AS total_price
      FROM (
        SELECT o_orderkey, price, CAST(NULL AS VARCHAR) AS o_channel FROM base
        UNION ALL
        SELECT o_orderkey, price, o_channel FROM appended
      )
    )
    SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2
    ORDER BY version
    """,
    ref=(
        "schema evolution + time travel (beyond reference; "
        "sources/versioned.add_column is a metadata-only commit — the "
        "Iceberg null-fill contract: pre-evolution files surface the new "
        "column as NULL, pre-evolution VERSIONS don't have it at all; the "
        "reference's fixed Oracle DDL (dbs/nikon.py table blocks) would "
        "need a full-table ALTER)"
    ),
    tags=("incremental", "versioned", "scale"),
)
def q198_evolved_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Create → ALTER ADD COLUMN (metadata-only, zero rewrites) → append
    rows CARRYING the evolved column, then roll up all three snapshots:
    v0's schema genuinely lacks the column (4 cols, stats NULL), v1 reads
    the SAME pre-evolution files null-filling it (the evolution cost O(1)
    metadata, not a rewrite), v2 mixes null-filled old files with valued
    new ones.  The oracle recomputes every version from first principles —
    a reader that rewrote files, leaked the column into v0, or dropped the
    null-fill hash-mismatches."""
    from python_async_sample_spark.sources.versioned import (
        add_column,
        append_versioned,
        create_table,
        read_version,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_evo_")
    root = f"{tmp}/orders_evolved"
    orders = load_table(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    create_table(spark, root, base.orderBy("o_orderkey"), n_files=4)
    add_column(spark, root, "o_channel", "string")
    appended = orders.where(F.col("o_orderkey") % 3 == 1).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("web"))
        .otherwise(F.lit("store"))
        .alias("o_channel"),
    )
    append_versioned(spark, root, appended, n_files=2)

    def rollup(version: int) -> DataFrame:
        df = read_version(spark, root, version)
        has_channel = "o_channel" in df.columns
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (
                F.sum(F.when(F.col("o_channel").isNull(), 1).otherwise(0)).cast("bigint")
                if has_channel
                else F.lit(None).cast("bigint")
            ).alias("n_channel_null"),
            (
                F.sum(F.when(F.col("o_channel") == "web", 1).otherwise(0)).cast("bigint")
                if has_channel
                else F.lit(None).cast("bigint")
            ).alias("n_web"),
            F.sum("price").cast("double").alias("total_price"),
        ).select(
            F.lit(version).cast("int").alias("version"),
            F.lit(len(df.columns)).cast("int").alias("n_cols"),
            "n_rows",
            "n_channel_null",
            "n_web",
            "total_price",
        )

    return (
        rollup(0).unionByName(rollup(1)).unionByName(rollup(2)).orderBy("version")
    )


@query(
    "q201_stats_pruned_range_scan",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders
    ),
    bounds AS (
      SELECT CAST(min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) // 4 AS BIGINT) AS lo,
             CAST(min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) * 3 // 8 AS BIGINT) AS hi
      FROM t
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM t, bounds
    WHERE o_orderkey BETWEEN lo AND hi
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    ref=(
        "manifest-stats file pruning on the READ path (beyond reference; "
        "versioned.read_keyed_range plans a keyed range scan from the "
        "manifest's embedded per-file [min,max] — the Iceberg scan-planning "
        "core: a one-eighth key range over a key-sorted 8-file table reads "
        "~1 file, not 8, and an in-plan guard fails the query if pruning "
        "didn't drop anything it should have)"
    ),
    tags=("incremental", "versioned", "scale"),
)
def q201_stats_pruned_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-sorted versioned table, then a BETWEEN scan over one-eighth of
    the key range planned entirely off the manifest: file-level pruning
    from embedded stats (zero footer reads), residual filter + parquet
    row-group pushdown making it exact.  The oracle is the plain SQL the
    pruning must be invisible to; the pruning itself is asserted hard —
    the query poisons if the planner read more than half the files (on a
    key-sorted layout the eighth-range must prune), and correctness never
    depends on it (a pruned-too-much bug is caught by the value hash)."""
    from python_async_sample_spark.sources.versioned import (
        create_table,
        prune_files_for_range,
        read_box,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_prune_")
    root = f"{tmp}/orders_sorted"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    mn, mx = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    lo = mn + (mx - mn) // 4
    hi = mn + (mx - mn) * 3 // 8
    # layout_col gives disjoint key ranges per file — the layout
    # stats pruning is designed for (a time/key-ordered ingest at 100 TB)
    create_table(spark, root, orders, n_files=8, layout_col="o_orderkey")
    picked, total, pv = prune_files_for_range(root, "o_orderkey", lo, hi)
    scan = read_box(
        spark, root, {"o_orderkey": (lo, hi)}, version=pv, picked=picked
    )  # reuse the guard's plan at the SAME resolved version — no second
    # manifest prune, no snapshot gap between prune and read
    out = (
        scan.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )
    # the scale contract, enforced in-plan: a planner that stopped pruning
    # (stats dropped, ranges widened, fallback gone conservative) fails
    # loudly instead of silently reading the whole table forever
    violation = (
        spark.range(1)
        .select(
            F.lit(len(picked)).alias("picked"), F.lit(total).alias("total")
        )
        .where(F.col("picked") * 2 > F.col("total"))
        .limit(1)
    )
    from python_async_sample_spark.plans.similarity_queries import (
        _union_poison_guard,
    )

    return _union_poison_guard(
        out,
        violation,
        "manifest-stats pruning read more than half the files of a "
        "key-sorted table for a one-eighth key range",
    ).orderBy("o_orderstatus")


@query(
    "q202_zorder_box_scan",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id,
             CAST(day(ts) AS BIGINT) AS d,
             event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    bounds AS (
      SELECT CAST(min(user_id) + (max(user_id) - min(user_id)) // 2 AS BIGINT) AS lo_u,
             CAST(min(user_id) + (max(user_id) - min(user_id)) * 5 // 8 AS BIGINT) AS hi_u
      FROM ev
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM ev, bounds
    WHERE user_id BETWEEN lo_u AND hi_u AND d BETWEEN 8 AND 14
    GROUP BY event_type
    ORDER BY event_type
    """,
    ref=(
        "OPTIMIZE ZORDER as a snapshot commit + 2-D box pruning (beyond "
        "reference; versioned.rewrite_layout clusters files along q108's "
        "Morton curve so prune_files_for_box drops files on BOTH columns "
        "of a box predicate — single-column clustering can prune only its "
        "lead column; the pruning ratio is enforced in-plan)"
    ),
    tags=("incremental", "versioned", "scale"),
)
def q202_zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events land round-robin (v0: every file spans the full key space),
    then ``rewrite_layout`` Z-orders the table by (user_id, day) as ONE
    snapshot commit — and a box predicate covering ~1/8 of users x ~1/4 of
    days is planned from the manifest: ``prune_files_for_box`` keeps only
    files whose stats rectangle intersects the box, the residual filter
    makes it exact, and the oracle is the plain SQL the whole layout
    machinery must be invisible to.  The scale contract rides in-plan:
    pruning on the Z-ordered head must drop at least half the files
    (on the unclustered v0 it provably can drop none — that contrast is
    asserted in tests), or the query poisons."""
    from python_async_sample_spark.plans.similarity_queries import (
        _union_poison_guard,
    )
    from python_async_sample_spark.sources.versioned import (
        create_table,
        prune_files_for_box,
        read_box,
        rewrite_layout,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_zord_")
    root = f"{tmp}/events_z"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.dayofmonth("ts").cast("long").alias("d"),
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    mn, mx = ev.agg(F.min("user_id"), F.max("user_id")).first()
    lo_u = mn + (mx - mn) // 2
    hi_u = mn + (mx - mn) * 5 // 8
    create_table(spark, root, ev, n_files=16)  # v0: unclustered
    rewrite_layout(spark, root, "user_id", "d", n_files=16)  # v1: Z-ordered
    box = {"user_id": (lo_u, hi_u), "d": (8, 14)}
    picked, total, pv = prune_files_for_box(root, box)
    out = (
        read_box(spark, root, box, version=pv, picked=picked)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )
    violation = (
        spark.range(1)
        .select(F.lit(len(picked)).alias("picked"), F.lit(total).alias("total"))
        .where(F.col("picked") * 2 > F.col("total"))
        .limit(1)
    )
    return _union_poison_guard(
        out,
        violation,
        "Z-order box pruning kept more than half the files for a "
        "1/8 x 1/4 box predicate",
    ).orderBy("event_type")


@query(
    "q207_catalog_atomic_pair",
    oracle="""
    WITH hdr0 AS MATERIALIZED (
      SELECT o_orderkey, o_orderstatus FROM orders
    ),
    det0 AS MATERIALIZED (
      -- the synthetic lineitem repeats (orderkey, linenumber) pairs, so the
      -- detail table pre-aggregates to make its merge key genuinely unique
      SELECT l_orderkey, l_linenumber,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS price
      FROM lineitem GROUP BY 1, 2
    ),
    hdr1 AS MATERIALIZED (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN 'M' ELSE o_orderstatus END
               AS o_orderstatus
      FROM hdr0
    ),
    det1 AS MATERIALIZED (
      SELECT l_orderkey,
             CASE WHEN l_orderkey % 97 = 0 THEN qty + 5 ELSE qty END AS qty,
             price
      FROM det0
    ),
    r0 AS (
      SELECT CAST(0 AS INT) AS catalog_version, h.o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_detail,
             CAST(sum(d.qty) AS DOUBLE) AS sum_qty,
             CAST(sum(d.price) AS DOUBLE) AS revenue
      FROM hdr0 h JOIN det0 d ON d.l_orderkey = h.o_orderkey
      GROUP BY 2
    ),
    r1 AS (
      SELECT CAST(1 AS INT) AS catalog_version, h.o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_detail,
             CAST(sum(d.qty) AS DOUBLE) AS sum_qty,
             CAST(sum(d.price) AS DOUBLE) AS revenue
      FROM hdr1 h JOIN det1 d ON d.l_orderkey = h.o_orderkey
      GROUP BY 2
    )
    SELECT * FROM r0 UNION ALL SELECT * FROM r1
    ORDER BY catalog_version, o_orderstatus
    """,
    ref=(
        "S9 at snapshot semantics: atomic multi-table commit via the "
        "catalog (sources/catalog.py) — the reference writes header+detail "
        "in one DB transaction (nikon_ETL.py); here each table commits its "
        "own version and ONE catalog link flips both pins, so no reader "
        "ever joins the new header against the old detail; catalog time "
        "travel reproduces the exact cross-table state of every commit"
    ),
    tags=("incremental", "versioned", "sink", "scale"),
)
def q207_catalog_atomic_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header (orders) and detail (lineitem) as versioned tables under one
    catalog: a coordinated batch MERGEs both (status flip in the header,
    +5 quantity on the same orders' detail rows), tables commit first,
    then one catalog commit flips both pins.  The output joins
    header↔detail THROUGH each catalog snapshot (v0 = both old, v1 = both
    new) and the oracle recomputes both consistent states — a torn pin
    set (new header with old detail) produces numbers neither CTE pair
    can, so it hash-mismatches by construction.  Decimal sums keep the
    rollup exact; the crash window (tables committed, catalog not yet) is
    pinned in tests/test_catalog.py."""
    from python_async_sample_spark.sources.catalog import (
        catalog_commit,
        catalog_create,
        catalog_read,
    )
    from python_async_sample_spark.sources.versioned import (
        create_table,
        merge_into_versioned,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_cat_")
    hdr_root, det_root, cat_root = f"{tmp}/header", f"{tmp}/detail", f"{tmp}/cat"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    # the synthetic lineitem repeats (orderkey, linenumber) pairs — the
    # detail table pre-aggregates so its merge key is genuinely unique
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("price"),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("l_key"),
            "qty",
            "price",
        )
    )
    create_table(spark, hdr_root, orders, n_files=4)
    create_table(spark, det_root, lineitem, n_files=4)
    catalog_create(cat_root, {"header": hdr_root, "detail": det_root})

    hdr_batch = orders.where(F.col("o_orderkey") % 97 == 0).withColumn(
        "o_orderstatus", F.lit("M")
    )
    det_batch = lineitem.where(F.col("l_orderkey") % 97 == 0).withColumn(
        "qty", F.col("qty") + F.lit(5).cast("decimal(18,2)")
    )
    h1 = merge_into_versioned(spark, hdr_root, hdr_batch, "o_orderkey")["version"]
    d1 = merge_into_versioned(spark, det_root, det_batch, "l_key")["version"]
    catalog_commit(cat_root, {"header": h1, "detail": d1})

    def rollup(cat_version: int) -> DataFrame:
        h = catalog_read(spark, cat_root, "header", cat_version)
        d = catalog_read(spark, cat_root, "detail", cat_version)
        return (
            h.join(d, h["o_orderkey"] == d["l_orderkey"])
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_detail"),
                F.sum("qty").cast("double").alias("sum_qty"),
                F.sum("price").cast("double").alias("revenue"),
            )
            .select(
                F.lit(cat_version).cast("int").alias("catalog_version"),
                "o_orderstatus",
                "n_detail",
                "sum_qty",
                "revenue",
            )
        )

    return rollup(0).unionByName(rollup(1)).orderBy("catalog_version", "o_orderstatus")


def partition_filter_section_has(txt: str, needles) -> bool | None:
    """Does the first ``PartitionFilters: [...]`` bracket of a physical
    plan STRING contain every needle?  (q208's pruning guard; pure so the
    rendering cases are unit-testable.)

    True: every needle found inside the bracket.  False: the bracket is
    COMPLETE (closing ``]`` rendered) and a needle is missing — pruning
    demonstrably absent.  None: the parse cannot prove anything — the
    bracket is absent (plan format changed) or ABBREVIATED (metadata
    values past spark.sql.maxMetadataStringLength are cut to ``...`` and
    the closing bracket dropped, so a needle's absence may be the
    truncation's fault, not the plan's)."""
    marker = "PartitionFilters: ["
    start = txt.find(marker)
    if start < 0:
        return None
    nl = txt.find("\n", start)
    rest = txt[start + len(marker): nl if nl >= 0 else len(txt)]
    end_bracket = rest.find("]")
    end_trunc = rest.find("...,")
    if end_bracket >= 0 and (end_trunc < 0 or end_bracket < end_trunc):
        section, complete = rest[:end_bracket], True
    elif end_trunc >= 0:
        section, complete = rest[:end_trunc], False
    else:
        return None
    if all(n in section for n in needles):
        return True  # found even in a truncated prefix — safe
    return False if complete else None


@query(
    "q208_hive_partition_pruned_scan",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE event_type IN ('view', 'purchase')
      AND strftime(date_trunc('day', ts), '%Y-%m-%d')
            BETWEEN '2024-01-08' AND '2024-01-10'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    ref=(
        "Hive-layout partition pruning (sources/layout.write_hive_partitioned; "
        "the coarse lever BEFORE footer stats: a filter on the partition "
        "columns becomes a directory listing — 1/365th of a day-partitioned "
        "100 TB table read for a 1-day query; the pruning is enforced "
        "in-plan via inputFiles, the values by the SQL oracle)"
    ),
    tags=("incremental", "scan", "scale"),
)
def q208_hive_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events Hive-partitioned by (event_type, day), then scan a
    2-type x 3-day box: Catalyst turns the partition-column filters into
    PartitionFilters (directory pruning — no file of any other partition
    is even opened), which the in-plan guard enforces by counting the
    scan's inputFiles against the partition directories they must all
    come from.  The oracle is the plain SQL the layout must be invisible
    to.  Partition columns are low-cardinality by design (types x days);
    the residual aggregate is one map-side-combinable groupBy."""
    from python_async_sample_spark.plans.similarity_queries import (
        _union_poison_guard,
    )
    from python_async_sample_spark.sources.layout import write_hive_partitioned

    tmp = tempfile.mkdtemp(prefix="spark_graft_hive_")
    path = f"{tmp}/events_part"
    ev = load_table(spark, sf_dir, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    write_hive_partitioned(ev, path, ["event_type", "dt"])
    scan = spark.read.parquet(path).where(
        F.col("event_type").isin("view", "purchase")
        & F.col("dt").between("2024-01-08", "2024-01-10")
    )
    out = (
        # directory partition values come back TYPE-INFERRED (dt is a DATE
        # after the round-trip even though it was written as a string) —
        # cast back so the contract schema is layout-independent
        scan.groupBy("event_type", F.col("dt").cast("string").alias("dt"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("event_type", "dt")
    )
    # the scale contract: the partition-column predicates must reach the
    # scan as PartitionFilters (directory pruning — files of other
    # partitions are never opened).  df.inputFiles() can NOT check this
    # (it lists the relation's files BEFORE filter pushdown — verified:
    # a partition-filtered scan still lists every file), and merely
    # grepping the whole plan is TAUTOLOGICAL ('PartitionFilters: []'
    # prints on every file scan and the date literal appears in ordinary
    # Filter/PushedFilters too) — so the guard requires the literal INSIDE
    # the PartitionFilters bracket itself (module-level parser below,
    # unit-tested against complete/abbreviated/absent renderings).
    def _partition_filter_section_has(df: DataFrame, needles) -> bool | None:
        txt = df._jdf.queryExecution().executedPlan().toString()
        return partition_filter_section_has(txt, needles)

    # The parse rides private plan-text formatting (ADVICE r5): gate it
    # behind a FORMAT PROBE — a single-partition-column equality scan on
    # the same table, the most basic pruning shape there is.  None (bracket
    # absent/abbreviated) means the RENDERING is unreadable → degrade to
    # oracle-only correctness, never poison a correct plan.  False — a
    # complete bracket WITHOUT the probe's own partition column — means
    # directory pruning demonstrably did not happen even for the basic
    # shape, and the guard fails CLOSED (that is the regression it exists
    # to catch; fail-open here would green-light a full-table read).
    probe_ok = _partition_filter_section_has(
        spark.read.parquet(path).where(F.col("event_type") == "view"),
        ("event_type",),
    )
    if probe_ok is None:
        pruned_ok = True  # rendering unknown — guard disabled, never poison
    elif not probe_ok:
        pruned_ok = False  # format readable, basic shape didn't prune: fail
    else:
        got = _partition_filter_section_has(scan, ("dt", "2024-01-08"))
        pruned_ok = got is not False  # None = truncated mid-list: no proof
        # of absence (probe proved the rendering works; a longer filter
        # list can still overflow the metadata budget)
    violation = (
        spark.range(1)
        .select(F.lit(bool(pruned_ok)).alias("ok"))
        .where(~F.col("ok"))
        .limit(1)
    )
    return _union_poison_guard(
        out,
        violation,
        "partition-pruned scan read files outside the requested "
        "partition directories",
    ).orderBy("event_type", "dt")


@query(
    "q209_bloom_point_lookup",
    oracle="""
    SELECT CAST((o_orderkey * 2654435761) % 4294967296 AS BIGINT) AS tracking_id,
           o_orderkey, o_orderstatus,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
      ORDER BY o_orderkey LIMIT 10
    )
    ORDER BY tracking_id
    """,
    ref=(
        "manifest-embedded per-file Bloom filters (versioned.add_file_blooms "
        "/ prune_files_for_points; beyond reference — the Iceberg/Parquet "
        "column-bloom story: point lookups on a SCATTERED column, where "
        "min/max ranges cover everything and prune nothing, skip to the "
        "handful of files whose bloom might contain a key; the skipping "
        "ratio is enforced in-plan)"
    ),
    tags=("incremental", "versioned", "scan", "scale"),
)
def q209_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders carry a scattered unique tracking id (Knuth-hash of the
    order key) and the table is clustered by ORDER KEY — so every file's
    [min, max] on tracking_id spans the whole domain and range pruning is
    useless.  ``add_file_blooms`` embeds a per-file bloom over the column
    in the manifest (metadata-only commit), and the point lookups for
    ~0.1% of tracking ids are then planned on the driver from manifest
    bits alone.  In-plan guards: blooms must skip at least half the files
    (each needle lives in exactly ONE file; false positives are the only
    slack), and the residual IN filter keeps the values exact — the
    oracle recomputes the lookup from first principles."""
    from python_async_sample_spark.plans.similarity_queries import (
        _union_poison_guard,
    )
    from python_async_sample_spark.sources.versioned import (
        add_file_blooms,
        create_table,
        prune_files_for_points,
        read_keyed_points,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_blm_")
    root = f"{tmp}/orders_tracked"
    orders = load_table(spark, sf_dir, "orders").select(
        ((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4294967296))
        .cast("bigint")
        .alias("tracking_id"),
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    # 64 files so the skipping ratio is visible (10 needles can touch at
    # most 10 of 64); m sized to ~14 bits/key per file at sf0.1
    create_table(spark, root, orders, n_files=64, layout_col="o_orderkey")
    add_file_blooms(spark, root, "tracking_id", m_bits=1 << 15)
    needles = [
        r["tracking_id"]
        for r in orders.where(F.col("o_orderkey") % 97 == 0)
        .orderBy("o_orderkey")
        .limit(10)
        .collect()
    ]
    picked, total, pv = prune_files_for_points(root, "tracking_id", needles)
    out = read_keyed_points(
        spark, root, "tracking_id", needles, version=pv, picked=picked
    ).select(
        "tracking_id",
        "o_orderkey",
        "o_orderstatus",
        F.col("price").cast("double").alias("o_totalprice"),
    )
    violation = (
        spark.range(1)
        .select(F.lit(len(picked)).alias("picked"), F.lit(total).alias("total"))
        .where(F.col("picked") * 2 > F.col("total"))
        .limit(1)
    )
    return _union_poison_guard(
        out,
        violation,
        "manifest blooms skipped fewer than half the files for "
        "10 needle-in-haystack point lookups over 64 files",
    ).orderBy("tracking_id")


@query(
    "q210_constrained_ingest",
    oracle="""
    WITH good AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    appended AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 3 = 1
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(1 AS BIGINT) AS n_rejected_batches
    FROM (SELECT * FROM good UNION ALL SELECT * FROM appended)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    ref=(
        "write-time CHECK constraints as the publish gate "
        "(versioned.set_check_constraints; the write-side counterpart of "
        "q204's read-side expectations — the reference's -1..-4 row flags "
        "quarantine rows AFTER ingest, a CHECK refuses the batch BEFORE "
        "it can poison readers)"
    ),
    tags=("incremental", "versioned", "quality"),
)
def q210_constrained_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A constrained orders table accepts two clean batches and REFUSES a
    poisoned one (negative prices + an unknown status): the violating
    append raises CheckConstraintViolation and commits NOTHING — the final
    rollup must equal exactly the two clean batches, which is what the
    oracle recomputes.  A constraint system that let the bad batch
    through, or rolled back more than the bad batch, hash-mismatches.
    The rejected-batch count rides the output as a checked column."""
    from python_async_sample_spark.sources.versioned import (
        CheckConstraintViolation,
        append_versioned,
        create_table,
        read_version,
        set_check_constraints,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_chk_")
    root = f"{tmp}/orders_checked"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    create_table(spark, root, orders.where(F.col("o_orderkey") % 3 == 0), n_files=4)
    set_check_constraints(spark, root, [
        {"name": "price_nonneg", "expr": "price >= 0"},
        {"name": "status_known", "expr": "o_orderstatus IN ('O', 'F', 'P')"},
    ])
    poisoned = (
        orders.where(F.col("o_orderkey") % 3 == 2)
        .withColumn(
            "price",
            F.when(F.col("o_orderkey") % 5 == 0, F.lit(-1).cast("decimal(18,2)"))
            .otherwise(F.col("price")),
        )
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("Z")).otherwise(
                F.col("o_orderstatus")
            ),
        )
    )
    n_rejected = 0
    try:
        append_versioned(spark, root, poisoned, n_files=2)
    except CheckConstraintViolation:
        n_rejected += 1
    append_versioned(
        spark, root, orders.where(F.col("o_orderkey") % 3 == 1), n_files=2
    )
    return (
        read_version(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("price").cast("double").alias("total_price"),
        )
        .select(
            "o_orderstatus",
            "n_rows",
            "total_price",
            F.lit(n_rejected).cast("bigint").alias("n_rejected_batches"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q211_watermark_cascade",
    oracle="""
    WITH corrected AS (
      SELECT event_id, user_id, event_type, ts,
             round(value * (CASE event_type
                    WHEN 'click'    THEN 1.10
                    WHEN 'view'     THEN 0.95
                    WHEN 'purchase' THEN 1.25
                    WHEN 'signup'   THEN 1.00
                    ELSE 0.50 END) + 0.25, 6) AS corrected
      FROM events
      WHERE date_trunc('microseconds', ts) > TIMESTAMP '2024-01-24 00:00:00'
    )
    SELECT event_id, user_id, event_type, corrected,
           CASE WHEN corrected >= 300 THEN 'OOS'
                WHEN corrected >= 150 THEN 'WARN'
                ELSE 'OK' END AS grade,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt
    FROM corrected
    ORDER BY event_id
    """,
    ref="I7 (EDC_Import -> ROT_Transform -> AVM_Process cascade, nikon_ETL.py:627-632) + I1-I6 end-to-end (VERDICT r5 item 7)",
    tags=("incremental", "cascade"),
)
def q211_watermark_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full three-stage watermark cascade, run twice with a POISONED
    first delivery and a mid-run rewind — the driver-checked face of I7
    that the per-stage tests can't provide.

    Phase 1 delivers the source capped at 2024-01-28 with the last day's
    values corrupted (x100) — a bad upstream batch that EDC_Import,
    ROT_Transform (per-type affine correction) and AVM_Process (grade
    thresholds on the corrected value) all ingest and propagate through
    their chained watermark-bounded windows. Phase 2 rewinds all three
    watermarks one day (the operator's late-data fix, reference
    nikon_ETL.py:344's rewind path) and re-runs the cascade over the
    clean, uncapped source.

    The oracle recomputes the final AVM state from first principles over
    the clean events table, so green requires every stage to have
    RE-PROCESSED the rewound day: a cascade that advances a downstream
    watermark without re-extracting (ordering bug), or bounds a window by
    the wrong upstream, keeps x100 values in some stage's target and
    hash-mismatches. Chunked 1-day catch-up, half-open (lo, hi] windows,
    delete-then-insert idempotence and watermark-after-write ordering are
    all on the hot path in both phases.

    Scale shape: identical to q17 — each window is one distributed
    overwrite-window job; driver state is three watermark rows; no
    collect touches event data.
    """
    mid = datetime.fromisoformat("2024-01-28 00:00:00")
    rewind = datetime.fromisoformat("2024-01-27 00:00:00")
    gain = (
        F.when(F.col("event_type") == "click", 1.10)
        .when(F.col("event_type") == "view", 0.95)
        .when(F.col("event_type") == "purchase", 1.25)
        .when(F.col("event_type") == "signup", 1.00)
        .otherwise(0.50)
    )

    def rot_transform(df: DataFrame) -> DataFrame:
        return df.select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            F.round(F.col("value") * gain + F.lit(0.25), 6).alias("corrected"),
        )

    def avm_transform(df: DataFrame) -> DataFrame:
        return df.select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            "corrected",
            F.when(F.col("corrected") >= 300, "OOS")
            .when(F.col("corrected") >= 150, "WARN")
            .otherwise("OK")
            .alias("grade"),
        )

    tmp = tempfile.mkdtemp(prefix="spark_graft_cascade_")
    store = WatermarkStore(spark, f"{tmp}/state")
    runner = IncrementalRunner(spark, store)

    def stages(source) -> list[IncrementalStage]:
        return [
            IncrementalStage(
                name="EDC_Import",
                source=source,
                target_path=f"{tmp}/edc",
                ts_col="ts",
            ),
            IncrementalStage(
                name="ROT_Transform",
                source=lambda s: read_target(s, f"{tmp}/edc"),
                target_path=f"{tmp}/rot",
                ts_col="ts",
                transform=rot_transform,
                upstream="EDC_Import",
            ),
            IncrementalStage(
                name="AVM_Process",
                source=lambda s: read_target(s, f"{tmp}/rot"),
                target_path=f"{tmp}/avm",
                ts_col="ts",
                transform=avm_transform,
                upstream="ROT_Transform",
            ),
        ]

    for name in ("EDC_Import", "ROT_Transform", "AVM_Process"):
        store.put("NIKON", name, WM0)

    # Phase 1: capped at `mid`, last delivered day poisoned x100.  The
    # caps ride INTEGER MICROSECONDS, not F.lit(naive datetime) — a naive
    # timestamp literal converts through the driver's OS timezone, so on a
    # non-UTC driver the cap would shift by the UTC offset and the phase-1
    # watermark assertion below would fail on a correct cascade.
    from datetime import timezone as _tzmod

    def _us(dt: datetime) -> int:
        return int(dt.replace(tzinfo=_tzmod.utc).timestamp() * 1_000_000)

    def poisoned_source(s: SparkSession) -> DataFrame:
        ev = load_table(s, sf_dir, "events").where(
            F.unix_micros(F.col("ts")) <= F.lit(_us(mid))
        )
        return ev.withColumn(
            "value",
            F.when(
                F.unix_micros(F.col("ts")) > F.lit(_us(rewind)),
                F.col("value") * 100,
            ).otherwise(F.col("value")),
        )

    runner.run_cascade(stages(poisoned_source))
    phase1_wm = store.get("NIKON", "AVM_Process")
    assert phase1_wm is not None and rewind < phase1_wm <= mid

    # Phase 2: operator rewind of all three stages, clean full re-delivery.
    for name in ("EDC_Import", "ROT_Transform", "AVM_Process"):
        store.put("NIKON", name, rewind)
    runner.run_cascade(stages(lambda s: load_table(s, sf_dir, "events")))

    # probe as integer micros -> naive-UTC, NOT as a collected TimestampType
    # (which converts through the driver's OS timezone and would make this
    # assert fail on a non-UTC driver despite a correct cascade) — the same
    # discipline as IncrementalRunner.source_high_water
    src_us = (
        load_table(spark, sf_dir, "events")
        .agg(F.unix_micros(F.max("ts")).alias("us"))
        .first()["us"]
    )
    src_max = datetime(1970, 1, 1) + timedelta(microseconds=src_us)
    for name in ("EDC_Import", "ROT_Transform", "AVM_Process"):
        assert store.get("NIKON", name) == src_max, f"{name} watermark lag"

    return (
        read_target(spark, f"{tmp}/avm")
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .select("event_id", "user_id", "event_type", "corrected", "grade", "dt")
        .orderBy("event_id")
    )


@query(
    "q214_restored_time_travel",
    oracle="""
    WITH corrupted AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
             CAST(9999.99 AS DOUBLE) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 53 = 0
    ),
    v1 AS (
      SELECT * FROM orders WHERE o_orderkey % 53 <> 0
      UNION ALL SELECT * FROM corrupted
    ),
    roll0 AS (
      SELECT CAST(0 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders GROUP BY o_orderstatus
    ),
    roll1 AS (
      SELECT CAST(1 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM v1 GROUP BY o_orderstatus
    ),
    roll2 AS (
      SELECT CAST(2 AS INT) AS version, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders GROUP BY o_orderstatus
    )
    SELECT * FROM roll0 UNION ALL SELECT * FROM roll1 UNION ALL SELECT * FROM roll2
    ORDER BY version, o_orderstatus
    """,
    ref=(
        "Delta-style RESTORE as an append-only commit "
        "(versioned.restore_version; beyond reference — the rollback verb "
        "the reference's operators perform by hand-rewinding watermarks, "
        "nikon_ETL.py:344, generalized to whole-snapshot semantics)"
    ),
    tags=("incremental", "versioned", "sink"),
)
def q214_restored_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A bad MERGE lands (v1 corrupts every %53 order to status X / price
    9999.99), RESTORE rolls the table back to v0 as a NEW commit (v2) —
    metadata-only, zero data rewritten, history append-only.  ONE output
    reports all three versions' per-status rollups, so the oracle pins the
    restore triangle at once: v2 ≡ v0 exactly (the restore is complete),
    v1 still shows the corruption (the audit trail survives — a restore
    that deleted history would lose the bad snapshot), and the head IS v2
    (read_version with no version argument).  Ledger/constraint carry and
    the vacuumed-target refusal are pinned in tests/test_versioned.py."""
    from python_async_sample_spark.sources.versioned import (
        create_table,
        merge_into_versioned,
        read_version,
        restore_version,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_vrq_")
    root = f"{tmp}/orders_v"
    orders = load_table(spark, sf_dir, "orders")
    create_table(spark, root, orders.orderBy("o_orderkey"), n_files=8)

    corrupted = (
        orders.where(F.col("o_orderkey") % 53 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("o_totalprice", F.lit(9999.99))
    )
    merge_into_versioned(spark, root, corrupted, "o_orderkey")  # v1: bad batch
    v2 = restore_version(spark, root, 0)
    assert v2 == 2, f"restore committed version {v2}, expected 2"

    return (
        _status_rollup(read_version(spark, root, 0), 0, "n_orders")
        .unionByName(_status_rollup(read_version(spark, root, 1), 1, "n_orders"))
        .unionByName(_status_rollup(read_version(spark, root), 2, "n_orders"))  # head == restored
        .orderBy("version", "o_orderstatus")
    )


@query(
    "q228_catalog_travel_join",
    oracle="""
    WITH hdr0 AS MATERIALIZED (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 4 = 0
    ),
    det0 AS MATERIALIZED (
      SELECT l_orderkey, l_linenumber,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty
      FROM lineitem WHERE l_orderkey % 4 = 0 GROUP BY 1, 2
    ),
    hdr1 AS MATERIALIZED (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN 'M' ELSE o_orderstatus END
               AS o_orderstatus
      FROM hdr0
    ),
    det1 AS MATERIALIZED (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_orderkey % 97 = 0 THEN qty + 5 ELSE qty END AS qty
      FROM det0
    ),
    -- the uncoordinated writer: ONLY the header advances (status 'X')
    hdr2 AS MATERIALIZED (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus
      FROM hdr1
    ),
    r AS (
      SELECT 'catalog_v0' AS source, h.o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_detail,
             CAST(sum(d.qty) AS DOUBLE) AS sum_qty
      FROM hdr0 h JOIN det0 d ON d.l_orderkey = h.o_orderkey GROUP BY 2
      UNION ALL
      SELECT 'catalog_v1', h.o_orderstatus, CAST(count(*) AS BIGINT),
             CAST(sum(d.qty) AS DOUBLE)
      FROM hdr1 h JOIN det1 d ON d.l_orderkey = h.o_orderkey GROUP BY 2
      UNION ALL
      -- catalog head still resolves to the v1 pins: the orphan header
      -- commit is invisible through the catalog
      SELECT 'catalog_head', h.o_orderstatus, CAST(count(*) AS BIGINT),
             CAST(sum(d.qty) AS DOUBLE)
      FROM hdr1 h JOIN det1 d ON d.l_orderkey = h.o_orderkey GROUP BY 2
      UNION ALL
      -- bypassing the catalog joins the NEW header against the v1 detail:
      -- the torn state only a catalog-less reader can see
      SELECT 'bypass_head', h.o_orderstatus, CAST(count(*) AS BIGINT),
             CAST(sum(d.qty) AS DOUBLE)
      FROM hdr2 h JOIN det1 d ON d.l_orderkey = h.o_orderkey GROUP BY 2
    )
    SELECT source, o_orderstatus, n_detail, sum_qty FROM r
    ORDER BY source, o_orderstatus
    """,
    ref=(
        "S9 snapshot ISOLATION (round 8, the read-side complement of "
        "q207's atomic flip): catalog pins shield a reader from a table "
        "whose head advanced WITHOUT a catalog commit — the racing-writer "
        "semantics the new test_catalog race tests pin at the API level"
    ),
    tags=("incremental", "versioned", "scale"),
)
def q228_catalog_travel_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table time travel UNDER a racing uncoordinated writer: after
    the coordinated batch (q207's flip, catalog v1), a second writer
    advances ONLY the header table's head (status 'X' on the %89 keys) and
    crashes before the catalog commit. The output joins header<->detail
    four ways — through catalog v0, catalog v1, the catalog HEAD (which
    must still resolve to the v1 pins: the orphan commit is invisible),
    and BYPASSING the catalog at the table heads (the torn new-header/
    old-detail state a catalog-less reader would see). The oracle
    recomputes all four states; a catalog that leaked the orphan header
    into its head rows, or time travel that lost v0, hash-mismatches.
    The %4 subset keeps the fixture light; decimals keep the rollup
    exact."""
    from python_async_sample_spark.sources.catalog import (
        catalog_commit,
        catalog_create,
        catalog_read,
    )
    from python_async_sample_spark.sources.versioned import (
        create_table,
        merge_into_versioned,
        read_version,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_cattravel_")
    hdr_root, det_root, cat_root = f"{tmp}/header", f"{tmp}/detail", f"{tmp}/cat"
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 4 == 0)
        .select("o_orderkey", "o_orderstatus")
    )
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 4 == 0)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("qty")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("l_key"),
            "qty",
        )
    )
    create_table(spark, hdr_root, orders, n_files=4)
    create_table(spark, det_root, lineitem, n_files=4)
    catalog_create(cat_root, {"header": hdr_root, "detail": det_root})

    # coordinated batch: both tables commit, ONE catalog flip (q207)
    hdr_batch = orders.where(F.col("o_orderkey") % 97 == 0).withColumn(
        "o_orderstatus", F.lit("M")
    )
    det_batch = lineitem.where(F.col("l_orderkey") % 97 == 0).withColumn(
        "qty", F.col("qty") + F.lit(5).cast("decimal(18,2)")
    )
    h1 = merge_into_versioned(spark, hdr_root, hdr_batch, "o_orderkey")["version"]
    d1 = merge_into_versioned(spark, det_root, det_batch, "l_key")["version"]
    catalog_commit(cat_root, {"header": h1, "detail": d1})

    # the racing writer: header-only commit, crash before the catalog flip
    hdr1 = read_version(spark, hdr_root, h1)
    orphan = (
        hdr1.where(F.col("o_orderkey") % 89 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
    )
    merge_into_versioned(spark, hdr_root, orphan, "o_orderkey")

    def rollup(h: DataFrame, d: DataFrame, source: str) -> DataFrame:
        return (
            h.join(d, h["o_orderkey"] == d["l_orderkey"])
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_detail"),
                F.sum("qty").cast("double").alias("sum_qty"),
            )
            .select(
                F.lit(source).alias("source"),
                "o_orderstatus",
                "n_detail",
                "sum_qty",
            )
        )

    via_cat = lambda name, v: catalog_read(spark, cat_root, name, v)  # noqa: E731
    out = (
        rollup(via_cat("header", 0), via_cat("detail", 0), "catalog_v0")
        .unionByName(rollup(via_cat("header", 1), via_cat("detail", 1), "catalog_v1"))
        .unionByName(
            rollup(via_cat("header", None), via_cat("detail", None), "catalog_head")
        )
        .unionByName(
            # bypass: table HEADS — the torn pair the catalog exists to hide
            rollup(
                read_version(spark, hdr_root, None),
                via_cat("detail", None),
                "bypass_head",
            )
        )
    )
    return out.orderBy("source", "o_orderstatus")
