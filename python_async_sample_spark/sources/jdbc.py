"""JDBC source/sink connectors — the reference's Oracle/PostgreSQL surface.

Reference: every scan ships a hand-written SQL string over a DB-API cursor
(``dbs/nikon.py:107-115,240-249`` time-range scans; ``dbs/auto.py`` point
lookups) and every sink is row-at-a-time or multi-row INSERT strings
(``dbs/nikon.py:147-167``), with delete-then-insert idempotency
(``dbs/nikon.py:117-145``).

Spark mapping: ``spark.read.jdbc`` with *partitioned predicates* — the
reference's 1-day catch-up chunks (``nikon_ETL.py:463-466``) become the
parallel-scan partitioning, so an interval extract runs as N concurrent
range queries instead of one cursor; sinks are batched ``df.write.jdbc``.
The live reader/writer codepath is exercised for real against in-JVM
Derby (``jdbc:derby:memory:`` — the engine Spark already ships for its
Hive metastore), no network needed: see tests/test_jdbc.py's round-trip.
Two Derby lessons encoded here: it takes only the ``TIMESTAMP('...')``
FUNCTION literal (not the ANSI ``TIMESTAMP '...'`` Oracle/PG accept —
hence the pluggable ``ts_literal``), and like Oracle it folds unquoted
identifiers to UPPERCASE, so predicates against Spark-written
(lowercase-quoted) columns must quote the column name.

100 TB posture: JDBC is the *edge* connector (state tables, dimension
sync, result publishing). Fact-scale data lands in parquet via the
incremental subsystem; nothing here ever funnels a fact table through a
single JDBC cursor.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from python_async_sample_spark.sources.hadoop_fs import jclass


def ts_literal_ansi(dt: datetime) -> str:
    """ANSI timestamp literal — Oracle, PostgreSQL, most engines."""
    return f"TIMESTAMP '{dt:%Y-%m-%d %H:%M:%S.%f}'"


def ts_literal_func(dt: datetime) -> str:
    """Function-call timestamp literal — Derby/DB2 reject the ANSI form."""
    return f"TIMESTAMP('{dt:%Y-%m-%d %H:%M:%S.%f}')"


def ts_literal_oracle(dt: datetime) -> str:
    """The reference's exact wire form — an explicit ``to_timestamp`` with
    the FF3 (millisecond) mask, which it sends identically to Oracle AND
    PostgreSQL (``dbs/nikon.py:111-112`` PG scan, ``dbs/nikon.py:142-144``
    PG delete, ``dbs/nikon.py:240-243`` Oracle scan).  Microseconds
    truncate to milliseconds because FF3 is what the mask says; callers
    needing finer resolution use :func:`ts_literal_ansi`."""
    return (
        f"to_timestamp('{dt:%Y-%m-%d %H:%M:%S}.{dt.microsecond // 1000:03d}', "
        "'YYYY-MM-DD HH24:MI:SS.FF3')"
    )


# dialect name -> timestamp-literal renderer. Derby is the LIVE backend
# (in-JVM, exercised end-to-end in tests/test_jdbc.py); the oracle/pg
# forms cannot run live in this sandbox (no server, no network) and are
# instead BYTE-PINNED against the reference's wire strings in
# tests/test_jdbc.py's dialect-table tests.
DIALECT_TS_LITERALS: dict[str, Callable[[datetime], str]] = {
    "ansi": ts_literal_ansi,
    "oracle": ts_literal_oracle,  # reference wire form, Oracle + PG alike
    "derby": ts_literal_func,
}


def interval_predicates(
    ts_col: str,
    lo: datetime,
    hi: datetime,
    num_partitions: int,
    ts_literal: Callable[[datetime], str] = ts_literal_ansi,
) -> list[str]:
    """Split the half-open window ``(lo, hi]`` into ``num_partitions``
    contiguous half-open chunks, one WHERE clause each — the unit of JDBC
    scan parallelism. Chunk boundaries are exact microseconds; the union of
    chunks is exactly ``(lo, hi]`` with no overlap, preserving the
    reference's boundary convention (``dbs/nikon.py:111-112``).
    ``ts_col`` is interpolated verbatim — pass it pre-quoted for engines
    that fold unquoted identifiers (Derby/Oracle) when the target table
    was written by Spark (which quotes lowercase names)."""
    if num_partitions < 1:
        raise ValueError("num_partitions must be >= 1")
    total = hi - lo
    if total <= timedelta(0):
        return []
    edges = [lo + total * i / num_partitions for i in range(num_partitions)] + [hi]
    preds = []
    for a, b in zip(edges, edges[1:]):
        preds.append(
            f"{ts_col} > {ts_literal(a)} AND {ts_col} <= {ts_literal(b)}"
        )
    return preds


def read_jdbc_interval(
    spark: SparkSession,
    url: str,
    table: str,
    ts_col: str,
    lo: datetime,
    hi: datetime,
    num_partitions: int = 8,
    properties: dict[str, str] | None = None,
    ts_literal: Callable[[datetime], str] = ts_literal_ansi,
) -> DataFrame:
    """Partition-parallel interval scan of ``(lo, hi]`` — S1/S2/S3.

    Each predicate becomes one executor-side range query; Catalyst pushes
    further filters/projections into every partition's WHERE/SELECT."""
    return spark.read.jdbc(
        url=url,
        table=table,
        predicates=interval_predicates(ts_col, lo, hi, num_partitions, ts_literal),
        properties=properties or {},
    )


def write_jdbc_append(
    df: DataFrame,
    url: str,
    table: str,
    batchsize: int = 10_000,
    properties: dict[str, str] | None = None,
) -> None:
    """Batched append — replaces the reference's row-at-a-time coroutine
    insert pipeline (S7, ``nikon_ETL.py:215-262``) with JDBC batch inserts
    from every partition in parallel."""
    props = {"batchsize": str(batchsize), **(properties or {})}
    df.write.jdbc(url=url, table=table, mode="append", properties=props)


def delete_window_sql(
    table: str,
    ts_col: str,
    lo: datetime,
    hi: datetime,
    ts_literal: Callable[[datetime], str] = ts_literal_ansi,
) -> str:
    """The idempotency DELETE for ``(lo, hi]`` (S12, ``dbs/nikon.py:117-145``).

    Run this on the target before :func:`write_jdbc_append` of the same
    window (via the DB's own client/driver from the Spark driver process) to
    get the reference's delete-then-insert exactly-once-per-window
    semantics over JDBC."""
    return (
        f"DELETE FROM {table} "
        f"WHERE {ts_col} > {ts_literal(lo)} "
        f"AND {ts_col} <= {ts_literal(hi)}"
    )


def overwrite_window_jdbc(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    ts_col: str,
    lo: datetime,
    hi: datetime,
    properties: dict[str, str] | None = None,
    ts_literal: Callable[[datetime], str] = ts_literal_ansi,
) -> int:
    """ATOMIC delete-then-insert of the window ``(lo, hi]`` — the
    reference's idempotency contract (``dbs/nikon.py:117-145`` runs
    DELETE + executemany INSERT on ONE psycopg2 connection and commits
    once) done the Spark way.

    ``df.write.jdbc`` opens a connection per partition, so DELETE +
    parallel append can never be one transaction — a crash between them
    leaves the window missing (the failure the reference's single-cursor
    commit avoids).  Instead the batch lands in a STAGING table first
    (parallel, batched, crash-safe: staging is garbage until the commit),
    then one driver-side transaction runs ``DELETE window; INSERT INTO
    target SELECT ... FROM staging`` entirely server-side — no row moves
    through the driver — and commits.  A crash before the commit leaves
    the target untouched; re-running the window (re-delivery) converges
    to the same state.  Returns the number of rows deleted by the window
    DELETE (0 on first delivery).

    ``ts_col`` follows :func:`interval_predicates`' quoting contract;
    ``table`` must be a plain (unquoted) identifier — the staging name is
    derived from it.  The staging name is DETERMINISTIC per
    ``(table, ts_col, lo, hi)``: a crash between the staging write and the
    best-effort DROP leaves an orphan, and a random name would leak it
    forever — re-delivery of the same window instead reuses the name and
    ``mode="overwrite"`` replaces the orphan in place, so orphans are
    bounded by the number of DISTINCT windows ever abandoned mid-flight,
    not by delivery attempts.  (Cleanup sweep, if ever needed:
    ``DROP TABLE <table>_stg_%``.)  Works against any JDBC engine with
    transactional DML; exercised live on in-JVM Derby in
    tests/test_jdbc.py."""
    import hashlib

    window_sig = hashlib.sha256(
        f"{ts_col}|{lo.isoformat()}|{hi.isoformat()}".encode()
    ).hexdigest()[:8]
    return _staged_replace_jdbc(
        spark, df, url, table,
        delete_sql=delete_window_sql(table, ts_col, lo, hi, ts_literal),
        staging_sig=window_sig,
        properties=properties,
    )


def overwrite_epoch_jdbc(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    epoch_col: str,
    epoch: int,
    properties: dict[str, str] | None = None,
) -> int:
    """ATOMIC delete-then-insert keyed by EPOCH — the exactly-once JDBC
    face for Structured Streaming's ``foreachBatch`` (Spark ships no
    transactional JDBC streaming sink; a plain append sink double-writes
    every replayed epoch after a crash).  ``df`` must carry ``epoch_col``
    stamped with ``epoch``; a replayed epoch deletes its previous
    delivery and re-inserts, converging however many times the stream
    retries.  Same staging-table + one-server-side-transaction shape as
    :func:`overwrite_window_jdbc`; the staging name is deterministic per
    (table, epoch) so a crashed delivery's orphan is reused, never
    leaked.  Returns rows deleted (0 on first delivery).  Live on Derby
    in tests/test_jdbc.py, replay and rollback included."""
    if epoch_col not in df.columns:
        raise ValueError(f"df must carry {epoch_col!r} stamped with the epoch")
    return _staged_replace_jdbc(
        spark, df, url, table,
        delete_sql=f'DELETE FROM {table} WHERE "{epoch_col}" = {int(epoch)}',
        staging_sig=f"e{int(epoch)}",
        properties=properties,
    )


def _jdbc_table_exists(conn, table: str) -> bool:
    """Driver-side existence probe via DatabaseMetaData — tried verbatim
    plus both case foldings (Derby/Oracle fold unquoted identifiers UP,
    PostgreSQL folds DOWN)."""
    meta = conn.getMetaData()
    for cand in dict.fromkeys((table, table.upper(), table.lower())):
        rs = meta.getTables(None, None, cand, None)
        try:
            if rs.next():
                return True
        finally:
            rs.close()
    return False


def _staged_replace_jdbc(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    delete_sql: str,
    staging_sig: str,
    properties: dict[str, str] | None = None,
) -> int:
    """Shared core of the atomic JDBC replace verbs: stage the batch
    (parallel, crash-safe — staging is garbage until the commit), then
    ONE driver-side transaction runs ``delete_sql; INSERT INTO target
    SELECT ... FROM staging`` entirely server-side and commits."""
    props = {"batchsize": "10000", **(properties or {})}
    staging = f"{table}_stg_{staging_sig}"
    # stage the batch (parallel writers, same batching default as
    # write_jdbc_append; overwrite creates the table)
    df.write.jdbc(url=url, table=staging, mode="overwrite", properties=props)

    cols = ", ".join(f'"{c}"' for c in df.columns)
    # the driver-side connection needs the SAME credentials/driver the
    # executors used: load the driver class explicitly (a --jars-loaded
    # driver is not visible to DriverManager's default lookup — the reason
    # Spark keeps its own DriverRegistry) and forward every property
    # except Spark's writer knobs
    if "driver" in props:
        jclass(spark, "java.lang.Class").forName(props["driver"])
    jprops = jclass(spark, "java.util.Properties")()
    for k, v in props.items():
        if k not in ("batchsize", "driver", "numPartitions"):
            jprops.setProperty(k, v)
    conn = jclass(spark, "java.sql.DriverManager").getConnection(url, jprops)
    try:
        conn.setAutoCommit(False)
        # Two defenses against concurrent overlapping deliveries (the
        # round-9 race test caught real duplication): under READ COMMITTED
        # two overlapping windows can BOTH run their DELETE before either
        # INSERT commits — neither sees the other's rows, both insert, and
        # the overlap region ends up duplicated.
        # (1) SERIALIZABLE: on locking engines (Derby) the DELETE's range
        # locks hold until commit, so deliveries serialize or a deadlock
        # victim rolls back whole; PG's SSI aborts one writer. NOT enough
        # on snapshot-isolation engines (Oracle's SERIALIZABLE): two
        # first deliveries DELETE nothing, conflict on nothing, and both
        # commit. Hence
        # (2) LOCK TABLE ... IN EXCLUSIVE MODE as the transaction's first
        # statement — supported with identical syntax by Derby, PG and
        # Oracle — which pins writer-vs-writer serialization to an
        # explicit lock on every engine at per-table granularity (the
        # reference's per-window deliveries are serial anyway;
        # correctness over concurrency here). A victim/timeout raises,
        # rolls back whole, and the re-delivery converges — the same
        # idempotency contract as a crash.
        conn.setTransactionIsolation(
            jclass(spark, "java.sql.Connection").TRANSACTION_SERIALIZABLE
        )
        st = conn.createStatement()
        # The locking defenses do not cover the BOOTSTRAP branch: two
        # concurrent first deliveries both see the target missing, both
        # CREATE, and the loser gets a table-exists error (Derby X0Y32,
        # PG 42P07, Oracle ORA-00955) — not a serialization victim. That
        # loser retries ONCE: the second attempt finds the table and
        # takes the LOCK path, restoring the serialize-or-converge
        # contract (review finding, round 9).
        _EXISTS_MARKERS = ("X0Y32", "42P07", "ORA-00955", "already exists")
        try:
            for attempt in (0, 1):
                try:
                    if _jdbc_table_exists(conn, table):
                        st.executeUpdate(
                            f"LOCK TABLE {table} IN EXCLUSIVE MODE"
                        )
                    else:
                        # first delivery bootstraps the target as an empty
                        # copy of staging, INSIDE the transaction (Derby
                        # and PG DDL are both transactional) — ANSI
                        # `WITH NO DATA`
                        st.executeUpdate(
                            f"CREATE TABLE {table} AS SELECT {cols} "
                            f"FROM {staging} WITH NO DATA"
                        )
                    deleted = st.executeUpdate(delete_sql)
                    st.executeUpdate(
                        f"INSERT INTO {table} ({cols}) "
                        f"SELECT {cols} FROM {staging}"
                    )
                    conn.commit()
                    break
                except Exception as ex:
                    conn.rollback()
                    lost_create_race = attempt == 0 and any(
                        m in str(ex) for m in _EXISTS_MARKERS
                    )
                    if not lost_create_race:
                        raise
        finally:
            # staging cleanup is best-effort housekeeping OUTSIDE the
            # window transaction: an orphaned staging table is inert
            try:
                conn.setAutoCommit(True)
                st.executeUpdate(f"DROP TABLE {staging}")
            except Exception:
                pass
    finally:
        conn.close()
    return deleted
