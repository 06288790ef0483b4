"""Manifest-versioned parquet tables: atomic visibility, time travel,
crash windows, optimistic concurrency, vacuum reachability."""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from python_async_sample_spark.sources.readers import load_table
from python_async_sample_spark.sources.versioned import (
    ConcurrentWriteError,
    _manifest_path,
    _stage_files,
    append_versioned,
    commit_stream_epoch,
    create_table,
    current_version,
    delete_keys_versioned,
    merge_into_versioned,
    read_version,
    table_versions,
    vacuum,
)


@pytest.fixture
def root():
    tmp = tempfile.mkdtemp(prefix="spark_graft_vt_")
    yield f"{tmp}/t"
    shutil.rmtree(tmp, ignore_errors=True)


def _orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


def test_create_read_roundtrip(spark, sf_dir, root):
    orders = _orders(spark, sf_dir)
    v = create_table(spark, root, orders, n_files=4)
    assert v == 0 and table_versions(root) == [0]
    got = read_version(spark, root)
    assert got.count() == orders.count()
    assert got.exceptAll(orders.select(*got.columns)).count() == 0


def test_merge_commits_new_version_and_time_travel(spark, sf_dir, root):
    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders.orderBy("o_orderkey"), n_files=4)
    updates = (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderstatus", F.lit("M"))
    )
    n_upd = updates.count()
    res = merge_into_versioned(spark, root, updates, "o_orderkey")
    assert res["version"] == 1 and res["upserted_rows"] == n_upd
    # merged state
    v1 = read_version(spark, root, 1)
    assert v1.where(F.col("o_orderstatus") == "M").count() == n_upd
    assert v1.count() == orders.count()
    # time travel: v0 must be EXACTLY the pre-merge table
    v0 = read_version(spark, root, 0)
    assert v0.where(F.col("o_orderstatus") == "M").count() == orders.where(
        F.col("o_orderstatus") == "M"
    ).count()
    assert v0.exceptAll(orders.select(*v0.columns)).count() == 0


def test_merge_redelivery_idempotent(spark, sf_dir, root):
    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=4)
    updates = orders.where(F.col("o_orderkey") % 97 == 0).withColumn(
        "o_orderstatus", F.lit("M")
    )
    merge_into_versioned(spark, root, updates, "o_orderkey")
    a = read_version(spark, root).orderBy("o_orderkey").collect()
    merge_into_versioned(spark, root, updates, "o_orderkey")
    b = read_version(spark, root).orderBy("o_orderkey").collect()
    assert a == b and current_version(root) == 2


def test_merge_rejects_duplicate_and_null_keys(spark, sf_dir, root):
    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=2)
    one = orders.limit(1)
    with pytest.raises(ValueError, match="duplicate merge key"):
        merge_into_versioned(spark, root, one.unionAll(one), "o_orderkey")
    with pytest.raises(ValueError, match="NULL merge keys"):
        merge_into_versioned(
            spark, root, one.withColumn("o_orderkey", F.lit(None).cast("long")),
            "o_orderkey",
        )
    with pytest.raises(AnalysisException, match="o_orderpriority"):
        merge_into_versioned(spark, root, one.drop("o_orderpriority"), "o_orderkey")
    with pytest.raises(ValueError, match="local paths only"):
        merge_into_versioned(spark, "s3a://bucket/t", one, "o_orderkey")
    assert current_version(root) == 0  # nothing committed


@pytest.mark.parametrize(
    "write",
    [
        lambda spark, root, batch: merge_into_versioned(spark, root, batch, "k"),
        lambda spark, root, batch: append_versioned(spark, root, batch),
        lambda spark, root, batch: commit_stream_epoch(spark, root, batch, 0, "fp"),
    ],
    ids=["merge_into_versioned", "append_versioned", "commit_stream_epoch"],
)
def test_write_refuses_a_batch_column_the_table_lacks(spark, root, write):
    """A batch column the manifest does not have is an error naming it,
    never silently dropped from the commit."""
    create_table(
        spark, root, spark.createDataFrame([(1, "a")], "k int, v string"), n_files=1
    )
    batch = spark.createDataFrame([(2, "b", "x@y")], "k int, v string, email string")
    with pytest.raises(ValueError, match="email"):
        write(spark, root, batch)
    assert current_version(root) == 0  # nothing committed


def test_vacuum_refuses_remote_paths():
    with pytest.raises(ValueError, match="local paths only"):
        vacuum("s3a://bucket/t", keep_last=1, grace_seconds=0)


def test_delete_keys_versioned_null_safe(spark, root):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "keepme"), (4, "d")], "k int, v string"
    )
    create_table(spark, root, df, n_files=1)
    res = delete_keys_versioned(spark, root, "k", [2, 4])
    assert res["deleted_rows"] == 2 and res["version"] == 1
    left = {r["v"] for r in read_version(spark, root).collect()}
    assert left == {"a", "keepme"}
    # v0 still intact
    assert read_version(spark, root, 0).count() == 4
    with pytest.raises(ValueError, match="local paths only"):
        delete_keys_versioned(spark, "s3a://bucket/t", "k", [1])


def test_delete_keys_versioned_reserved_word_key_under_ansi(spark, root):
    """A key column named after a reserved word deletes under ANSI mode
    with reserved keywords enforced: the list form's VALUES relation uses
    the fixed alias ``__vic(__v)`` and never puts the key column's name
    into SQL text."""
    confs = {"spark.sql.ansi.enabled": "true",
             "spark.sql.ansi.enforceReservedKeywords": "true"}
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "`select` bigint, v string"
        )
        create_table(spark, root, df, n_files=2)
        res = delete_keys_versioned(spark, root, "select", [2, 4, 9])
        assert res["deleted_rows"] == 2 and res["version"] == 1
        left = sorted((r["select"], r["v"]) for r in read_version(spark, root).collect())
        assert left == [(1, "a"), (3, "c")]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_crash_before_commit_is_invisible_and_rerunnable(spark, sf_dir, root):
    """Orphaned data files (crash after staging, before the manifest link)
    must not change any reader's view; re-running the verb then succeeds
    and vacuum reclaims the orphans."""
    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=2)
    before = read_version(spark, root).count()
    # simulate the crash window: stage files in, never commit
    _stage_files(orders.limit(7), root, 1)
    assert read_version(spark, root).count() == before
    assert current_version(root) == 0
    # the interrupted verb re-runs cleanly
    updates = orders.limit(3).withColumn("o_orderstatus", F.lit("M"))
    merge_into_versioned(spark, root, updates, "o_orderkey")
    assert read_version(spark, root).where(F.col("o_orderstatus") == "M").count() == 3
    # vacuum removes exactly the unreachable files
    n_data = len(glob.glob(f"{root}/data/part-*.parquet"))
    live = set()
    for v in table_versions(root):
        with open(_manifest_path(root, v), encoding="ascii") as fh:
            live.update(json.load(fh)["files"])
    vacuum(root, keep_last=len(table_versions(root)), grace_seconds=0)
    assert len(glob.glob(f"{root}/data/part-*.parquet")) == len(live) < n_data
    assert read_version(spark, root, 0).count() == before  # still readable


def test_torn_manifest_can_never_be_observed(spark, sf_dir, root):
    """The commit is an os.link of a fully-fsynced temp file — at no point
    does a file exist under _manifests/ with partial JSON. Simulate the
    worst interleaving by hand: a .tmp in the manifest dir is ignored by
    every listing."""
    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=1)
    with open(f"{root}/_manifests/zzz.tmp", "w", encoding="ascii") as fh:
        fh.write('{"version": 99, "files": [')  # torn writer mid-crash
    assert table_versions(root) == [0]
    assert read_version(spark, root).count() == orders.count()


def test_concurrent_writer_loses_cleanly(spark, sf_dir, root):
    """Two writers that both read parent v0: the first _commit wins v1, the
    second raises ConcurrentWriteError instead of clobbering; a verb that
    rebases onto the new current version then succeeds."""
    from python_async_sample_spark.sources.versioned import _commit

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=2)
    v0_files = json.load(open(_manifest_path(root, 0), encoding="ascii"))["files"]
    schema = orders.schema.json()
    assert _commit(root, v0_files, schema, "writer-1", parent=0) == 1
    with pytest.raises(ConcurrentWriteError):
        _commit(root, v0_files, schema, "writer-2", parent=0)
    assert table_versions(root) == [0, 1]  # loser committed NOTHING
    updates = orders.limit(2).withColumn("o_orderstatus", F.lit("M"))
    res = merge_into_versioned(spark, root, updates, "o_orderkey")
    assert res["version"] == 2


def test_vacuumed_version_raises_cleanly(spark, sf_dir, root):
    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=2)
    updates = orders.limit(2).withColumn("o_orderstatus", F.lit("M"))
    merge_into_versioned(spark, root, updates, "o_orderkey")
    merge_into_versioned(
        spark, root, updates.withColumn("o_orderstatus", F.lit("X")), "o_orderkey"
    )
    vacuum(root, keep_last=1, grace_seconds=0)
    assert table_versions(root) == [2]
    assert read_version(spark, root).count() == orders.count()
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_version(spark, root, 0)


def test_empty_table_snapshot_readable(spark, root):
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    create_table(spark, root, df, n_files=1)
    delete_keys_versioned(spark, root, "k", [1])
    got = read_version(spark, root)
    assert got.count() in (0,) or got.columns == ["k", "v"]
    assert got.columns == ["k", "v"]


def test_stream_epoch_commit_exactly_once_and_refuses_foreign_batch(spark, sf_dir, root):
    """The streaming sink's replay identity is (epoch id, content
    fingerprint) in the manifest's epoch ledger: same pair skips even from
    a fresh checkpoint; same id with different content refuses loudly."""
    import glob as _glob

    from python_async_sample_spark.sources.versioned import commit_stream_epoch
    from python_async_sample_spark.streaming.jobs import (
        _batch_fingerprint,
        drain_to_versioned,
        read_events_stream,
    )

    cols = ["event_id", "user_id", "event_type", "value", "ts"]
    seed = load_table(spark, sf_dir, "events").select(*cols)
    create_table(spark, root, seed.limit(0), n_files=1)
    n = seed.count()

    base = os.path.dirname(root)
    stream = read_events_stream(spark, sf_dir).select(*cols)
    drain_to_versioned(spark, stream, root, f"{base}/ckpt1")
    assert read_version(spark, root).count() == n
    v_after_first = current_version(root)

    # fresh checkpoint = epoch ids restart at 0; fingerprint says replay
    drain_to_versioned(spark, stream, root, f"{base}/ckpt2")
    assert read_version(spark, root).count() == n          # not doubled
    assert current_version(root) == v_after_first           # no new commit

    # same epoch id, DIFFERENT content: must refuse, not guess
    foreign = seed.limit(5)
    with pytest.raises(RuntimeError, match="different batch fingerprint"):
        commit_stream_epoch(spark, root, foreign, 0, _batch_fingerprint(foreign))

    # a NEW epoch id with new content appends cleanly
    v = commit_stream_epoch(spark, root, foreign, 1, _batch_fingerprint(foreign))
    assert v == v_after_first + 1
    assert read_version(spark, root).count() == n + 5
    # and every reader-visible state was a whole epoch: no data file is
    # referenced by a manifest before it fully exists (all manifest files
    # resolve on disk at all times)
    for mf in sorted(_glob.glob(f"{root}/_manifests/v*.json")):
        files = json.load(open(mf, encoding="ascii"))["files"]
        assert all(os.path.exists(f"{root}/data/{x}") for x in files)


def test_add_column_metadata_only_evolution(spark, sf_dir, root):
    """add_column commits NO data rewrites: pre-evolution files surface the
    new column as NULL, post-evolution merges carry it, and time travel to
    v0 does not see the column at all."""
    from python_async_sample_spark.sources.versioned import add_column

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    create_table(spark, root, df, n_files=1)
    files_v0 = json.load(open(_manifest_path(root, 0), encoding="ascii"))["files"]

    v = add_column(spark, root, "score", "double")
    assert v == 1
    files_v1 = json.load(open(_manifest_path(root, 1), encoding="ascii"))["files"]
    assert files_v1 == files_v0  # metadata-only: same data files

    got = read_version(spark, root)
    assert got.columns == ["k", "v", "score"]
    assert all(r["score"] is None for r in got.collect())

    # a merge after evolution writes the column; old rows stay NULL
    upd = spark.createDataFrame([(2, "B", 0.5), (9, "i", 1.5)], "k int, v string, score double")
    merge_into_versioned(spark, root, upd, "k")
    rows = {r["k"]: (r["v"], r["score"]) for r in read_version(spark, root).collect()}
    assert rows == {1: ("a", None), 2: ("B", 0.5), 3: ("c", None), 9: ("i", 1.5)}

    # time travel: v0 predates the column
    assert read_version(spark, root, 0).columns == ["k", "v"]

    # duplicate column refused
    with pytest.raises(ValueError, match="already exists"):
        add_column(spark, root, "score", "double")


def test_epoch_replay_skipped_even_after_vacuum_drops_its_manifest(spark, root):
    """ADVICE r4 (medium): the exactly-once ledger must survive vacuum.
    Epoch identities are carried forward in every child manifest's
    ``epochs`` dict, so a replay whose ORIGINAL manifest was vacuumed is
    still skipped (same fingerprint) or refused (different fingerprint)."""
    from python_async_sample_spark.sources.versioned import commit_stream_epoch

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    create_table(spark, root, df.limit(0), n_files=1)
    commit_stream_epoch(spark, root, df, 0, "fp-zero")
    # later commits push the epoch manifest out of the retained window
    merge_into_versioned(spark, root, df.withColumn("v", F.lit("x")), "k")
    merge_into_versioned(spark, root, df.withColumn("v", F.lit("y")), "k")
    vacuum(root, keep_last=1, grace_seconds=0)
    assert table_versions(root) == [3]  # the epoch manifest (v1) is GONE
    n = read_version(spark, root).count()

    # genuine replay: skipped with no new commit, no duplicate rows
    assert commit_stream_epoch(spark, root, df, 0, "fp-zero") is None
    assert current_version(root) == 3
    assert read_version(spark, root).count() == n

    # fresh checkpoint reusing the id with different content: refused
    with pytest.raises(RuntimeError, match="different batch fingerprint"):
        commit_stream_epoch(spark, root, df.limit(1), 0, "fp-other")


def test_vacuum_grace_window_spares_inflight_staged_files(spark, root):
    """ADVICE r4 (medium): _stage_files moves data files in BEFORE the
    manifest commits, so vacuum must not reclaim young orphans — a racing
    writer would otherwise commit a manifest referencing deleted files."""
    df = spark.createDataFrame([(i, "x") for i in range(10)], "k int, v string")
    create_table(spark, root, df, n_files=1)
    # simulate an in-flight writer: staged files, manifest not yet linked
    staged = _stage_files(df.limit(3), root, 1)
    res = vacuum(root, keep_last=1)  # default grace: young orphans survive
    assert res["data_files_removed"] == 0
    assert res["young_orphans_skipped"] >= 1
    for name in staged:
        assert os.path.exists(f"{root}/data/{name}")
    # the in-flight commit can now land referencing intact files
    from python_async_sample_spark.sources.versioned import _collect_file_stats, _commit

    m = json.load(open(_manifest_path(root, 0), encoding="ascii"))
    _commit(root, m["files"] + staged, m["schema"], "append", parent=0,
            stats=_collect_file_stats(root, staged))
    assert read_version(spark, root).count() == 13
    # with no writer in flight, zero grace reclaims true orphans
    orphans = _stage_files(df.limit(2), root, 1)
    res = vacuum(root, keep_last=1, grace_seconds=0)
    assert res["data_files_removed"] >= len(orphans)


def test_manifest_stats_prune_without_footer_reads(spark, sf_dir, root):
    """Manifests embed per-file row counts + min/max column ranges at
    commit time; keyed verbs plan their file set from the manifest alone.
    Prune correctness: a targeted merge must rewrite only the files whose
    range covers the keys."""
    from python_async_sample_spark.sources.versioned import (
        _file_ranges,
        _read_manifest,
        _victim_hits,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders.orderBy("o_orderkey"), n_files=8)
    m = _read_manifest(root, 0)
    assert set(m["stats"]) == set(m["files"])
    lo_key = orders.agg(F.min("o_orderkey")).first()[0]
    ranges = _file_ranges(m, "o_orderkey")
    assert len(ranges) == 8 and all(r[1] is not None and r[3] > 0 for r in ranges)
    _, names_hit, _, _ = _victim_hits(
        spark, [int(lo_key)], "o_orderkey", orders.schema["o_orderkey"], ranges
    )
    # range-ordered 8-file layout: the smallest key lives in exactly 1 file
    assert len(names_hit) == 1
    res = merge_into_versioned(
        spark, root,
        orders.where(F.col("o_orderkey") == lo_key).withColumn(
            "o_orderstatus", F.lit("M")
        ),
        "o_orderkey",
    )
    assert res["rewritten"] == 1 and res["untouched"] == 7
    # stats carried forward + refreshed for the rewritten file
    m1 = _read_manifest(root, 1)
    assert set(m1["stats"]) == set(m1["files"])


def test_append_compact_preserves_content_and_packs_files(spark, root):
    """compact() bin-packs small files into target-sized ones as a commit:
    content identical, file count down, pre-compaction versions still
    readable, history reports the whole chain from manifests only."""
    from python_async_sample_spark.sources.versioned import (
        append_versioned,
        compact,
        table_history,
    )

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("v")
    )
    create_table(spark, root, df.where("k < 20"), n_files=2)
    for lo in (20, 40, 60, 80):
        append_versioned(spark, root, df.where(f"k >= {lo} and k < {lo + 20}"), n_files=1)
    assert len(glob.glob(f"{root}/data/part-*.parquet")) == 6
    before = read_version(spark, root).orderBy("k").collect()

    res = compact(spark, root)  # tiny files: everything packs into 1
    assert res["compacted"] == 6 and res["produced"] == 1 and res["untouched"] == 0
    after = read_version(spark, root).orderBy("k").collect()
    assert after == before
    # time travel across the compaction boundary
    assert read_version(spark, root, 4).orderBy("k").collect() == before
    assert read_version(spark, root, 0).count() == 20
    # compacting a compacted table is a no-op commit-free
    assert compact(spark, root)["compacted"] == 0
    hist = {r["version"]: r for r in table_history(spark, root).collect()}
    assert [hist[v]["op_kind"] for v in sorted(hist)] == [
        "create", "append", "append", "append", "append", "compact"
    ]
    assert hist[5]["n_files"] == 1 and hist[5]["n_rows"] == 100
    assert hist[0]["n_rows"] == 20 and hist[4]["n_rows"] == 100
    # large files are never rewritten: with a 0-byte smallness threshold
    # nothing qualifies
    assert compact(spark, root, small_file_bytes=0)["compacted"] == 0


def test_changes_between_prunes_shared_files_and_tags_rows(spark, sf_dir, root):
    """CDC between snapshots: updated keys appear as delete+insert pairs,
    untouched rows never appear, and — the scale contract — files shared
    by both manifests are never even READ (inputFiles ⊆ the manifest
    symmetric difference)."""
    from python_async_sample_spark.sources.versioned import (
        _read_manifest,
        changes_between,
        compact,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders.orderBy("o_orderkey"), n_files=8)
    lo_key = int(orders.agg(F.min("o_orderkey")).first()[0])
    updates = orders.where(F.col("o_orderkey") == lo_key).withColumn(
        "o_orderstatus", F.lit("M")
    )
    merge_into_versioned(spark, root, updates, "o_orderkey")

    diff = changes_between(spark, root, 0, 1)
    rows = diff.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["change_type"], []).append(r)
    assert len(by_type["insert"]) == 1 and len(by_type["delete"]) == 1
    assert by_type["insert"][0]["o_orderstatus"] == "M"
    assert by_type["delete"][0]["o_orderkey"] == lo_key

    # file pruning: only the one rewritten file + its replacement are read
    m0, m1 = _read_manifest(root, 0), _read_manifest(root, 1)
    sym_diff = set(m0["files"]) ^ set(m1["files"])
    assert len(sym_diff) == 2  # 1-file merge: one out, one in
    read_names = {p.rsplit("/", 1)[-1] for p in diff.inputFiles()}
    assert read_names <= sym_diff and read_names

    # compaction rewrites files without changing content → empty diff
    res = compact(spark, root)
    assert res["compacted"] > 1
    assert changes_between(spark, root, 1, res["version"]).count() == 0

    # identical versions refused
    with pytest.raises(ValueError, match="must differ"):
        changes_between(spark, root, 1, 1)


def test_compact_loses_cleanly_to_concurrent_writer(spark, root):
    """compact() is an optimistic writer like any other: a merge that
    commits between its manifest read and its commit makes it raise
    ConcurrentWriteError (never clobber), and re-running on the new head
    succeeds with the merged content intact."""
    from python_async_sample_spark.sources.versioned import (
        _collect_file_stats,
        _commit,
        _read_manifest,
        _stage_files,
        compact,
    )

    df = spark.createDataFrame([(i, "x") for i in range(50)], "k int, v string")
    create_table(spark, root, df.where("k < 25"), n_files=3)
    from python_async_sample_spark.sources.versioned import append_versioned

    append_versioned(spark, root, df.where("k >= 25"), n_files=3)

    # simulate the race: stage compact's output by hand against parent v1,
    # let a merge win v2 first, then compact's commit for v2 must lose
    m1 = _read_manifest(root, 1)
    staged = _stage_files(read_version(spark, root, 1), root, 1)
    merge_into_versioned(
        spark, root,
        spark.createDataFrame([(0, "MERGED")], "k int, v string"), "k",
    )  # wins version 2
    with pytest.raises(ConcurrentWriteError):
        _commit(root, staged, m1["schema"], "compact:6->1", parent=1,
                stats=_collect_file_stats(root, staged))
    # the loser committed nothing; re-running compacts the REAL head
    assert read_version(spark, root).where("v = 'MERGED'").count() == 1
    res = compact(spark, root)
    assert res["compacted"] >= 2
    assert read_version(spark, root).where("v = 'MERGED'").count() == 1
    assert read_version(spark, root).count() == 50


def test_purge_keys_erases_from_every_snapshot(spark, sf_dir, root):
    """Right-to-be-forgotten: after purge, NO version serves the keys —
    time travel included; all other rows, version numbers, ops and the
    epoch ledger survive; vacuum reclaims the superseded files."""
    from python_async_sample_spark.sources.versioned import (
        commit_stream_epoch,
        purge_keys,
        _read_manifest,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders.orderBy("o_orderkey"), n_files=4)
    commit_stream_epoch(
        spark, root,
        orders.limit(5).withColumn("o_orderkey", F.col("o_orderkey") + 20_000_000),
        0, "fp-e0",
    )
    updates = orders.limit(3).withColumn("o_orderstatus", F.lit("M"))
    merge_into_versioned(spark, root, updates, "o_orderkey")

    victims = [r[0] for r in orders.select("o_orderkey").orderBy("o_orderkey").limit(4).collect()]
    n0 = read_version(spark, root, 0).count()
    res = purge_keys(spark, root, "o_orderkey", victims)
    assert res["manifests_updated"] >= 1 and res["files_rewritten"] >= 1

    for v in table_versions(root):
        snap = read_version(spark, root, v)
        assert snap.where(F.col("o_orderkey").isin(victims)).count() == 0, v
    assert read_version(spark, root, 0).count() == n0 - len(victims)
    # versions/ops/ledger intact
    assert table_versions(root) == [0, 1, 2]
    m2 = _read_manifest(root, 2)
    assert m2["op"].startswith("merge:") and m2["epochs"] == {"0": "fp-e0"}
    # audit ledger: one count + checksum entry, never the erased keys
    (entry,) = m2["purged"]
    assert entry.startswith("relation:o_orderkey:n=4:ck=")
    for v in table_versions(root):
        assert _read_manifest(root, v).get("purged", []) in ([], [entry]), v
    # replay of the pre-purge epoch is still recognized
    assert commit_stream_epoch(spark, root, orders.limit(5), 0, "fp-e0") is None

    # idempotent re-run: nothing left to rewrite
    res2 = purge_keys(spark, root, "o_orderkey", victims)
    assert res2["manifests_updated"] == 0
    # vacuum reclaims the superseded (now-unreferenced) pre-purge files
    vacuum(root, keep_last=len(table_versions(root)), grace_seconds=0)
    for v in table_versions(root):
        assert read_version(spark, root, v).where(
            F.col("o_orderkey").isin(victims)
        ).count() == 0


def test_purge_keys_null_safe_and_empty_file_dropped(spark, root):
    from python_async_sample_spark.sources.versioned import purge_keys

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "keepme")], "k int, v string"
    )
    create_table(spark, root, df, n_files=1)
    from python_async_sample_spark.sources.versioned import append_versioned

    append_versioned(spark, root, spark.createDataFrame([(9, "z")], "k int, v string"))
    # purge every non-null key of the appended file: the replacement would
    # be empty, so the manifest entry is dropped entirely
    purge_keys(spark, root, "k", [9, None])
    assert {r["v"] for r in read_version(spark, root).collect()} == {"a", "b", "keepme"}
    assert read_version(spark, root, 0).count() == 3


def test_purge_keys_on_evolved_column_and_after_vacuum(spark, root):
    """Review findings: purging on a column ADDED by add_column must work
    (pre-evolution manifests/files are unaffected by construction), also
    after a vacuum has dropped the older manifests and their data."""
    from python_async_sample_spark.sources.versioned import (
        add_column,
        commit_stream_epoch,
        merge_into_versioned as m_i_v,
        purge_keys,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    create_table(spark, root, df.limit(0), n_files=1)
    commit_stream_epoch(spark, root, df, 0, "fp-z")        # v1
    add_column(spark, root, "email", "string")             # v2
    upd = spark.createDataFrame(
        [(1, "a", "x@y.z"), (3, "c", "p@q.r")], "k int, v string, email string"
    )
    m_i_v(spark, root, upd, "k")                           # v3
    vacuum(root, keep_last=2, grace_seconds=0)             # drops v0, v1
    assert table_versions(root) == [2, 3]

    res = purge_keys(spark, root, "email", ["x@y.z"])
    assert res["manifests_updated"] >= 1
    # the erased value is stored nowhere in the manifest log
    for p in glob.glob(f"{root}/_manifests/*.json"):
        with open(p, encoding="ascii") as fh:
            assert "x@y.z" not in fh.read(), p
    head = read_version(spark, root)
    assert head.where(F.col("email") == "x@y.z").count() == 0
    assert head.where(F.col("email") == "p@q.r").count() == 1
    assert head.count() == 2  # k=2 row (NULL email) + k=3 survive


def test_keyed_verbs_on_added_column_with_pre_evolution_file_live(spark, root):
    """A column added by add_column has no range in the manifest stats of
    the files written before it.  Every keyed write verb keyed on it must
    plan such a file as conservatively hit — its rows read the column as
    NULL and survive — instead of failing on the file's footer, which has
    no such column."""
    from python_async_sample_spark.sources.versioned import (
        add_column,
        delete_relation,
        purge_keys,
    )

    schema = "k int, v string, email string"

    def head():
        return sorted(
            (r["k"], r["email"]) for r in read_version(spark, root).collect()
        )

    create_table(
        spark, root, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), n_files=1
    )
    add_column(spark, root, "email", "string")
    batch = spark.createDataFrame(
        [(k, "x", f"e{k}@x") for k in (3, 4, 5, 6)], schema
    )
    # inserts only: the pre-evolution file (k 1..2) stays live
    assert merge_into_versioned(spark, root, batch, "k")["untouched"] == 1

    assert delete_keys_versioned(spark, root, "email", ["e3@x"])["deleted_rows"] == 1
    one_col = spark.createDataFrame([("e4@x",)], "addr string")
    assert delete_relation(spark, root, "email", one_col)["deleted_rows"] == 1
    assert head() == [(1, None), (2, None), (5, "e5@x"), (6, "e6@x")]

    purge_keys(spark, root, "email", ["e5@x"])
    for v in table_versions(root)[1:]:  # v0 predates the column
        assert read_version(spark, root, v).where(F.col("email") == "e5@x").count() == 0, v
    assert head() == [(1, None), (2, None), (6, "e6@x")]

    upsert = spark.createDataFrame([(60, "y", "e6@x"), (7, "z", "e7@x")], schema)
    res = merge_into_versioned(spark, root, upsert, "email")
    assert res["upserted_rows"] == 2 and res["replaced_rows"] == 1
    assert head() == [(1, None), (2, None), (7, "e7@x"), (60, "e6@x")]


def test_anti_join_filters_coerce_types_and_ignore_nan(spark, root):
    """Review finding: the isin→anti-join swap must keep isin's literal
    coercion (int keys vs double column) and must NOT treat NaN keys as
    matching NaN rows (join equality says NaN = NaN; isin never did)."""
    import math

    from python_async_sample_spark.sources.versioned import delete_keys_versioned

    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "b"), (float("nan"), "nan-row"), (None, "null-row")],
        "k double, v string",
    )
    create_table(spark, root, df, n_files=1)
    res = delete_keys_versioned(spark, root, "k", [1, float("nan")])  # int key + NaN
    assert res["deleted_rows"] == 1
    left = {r["v"] for r in read_version(spark, root).collect()}
    assert left == {"b", "nan-row", "null-row"}

    # a fractional victim must not truncate onto an integer key (isin([1.5])
    # matches nothing), in either input form; a NaN victim against an
    # integer key is dropped, never a CAST_OVERFLOW abort
    from python_async_sample_spark.sources.versioned import delete_relation

    int_root = root + "_bigint"
    create_table(
        spark, int_root,
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"), n_files=1,
    )
    assert delete_keys_versioned(spark, int_root, "k", [1.5])["deleted_rows"] == 0
    frac = spark.createDataFrame([(1.5,), (float("nan"),)], "k double")
    assert delete_relation(spark, int_root, "k", frac)["deleted_rows"] == 0
    assert read_version(spark, int_root).count() == 2


def test_decimal_columns_commit_without_stats(spark, root):
    """Regression: pyarrow RAISES (not returns-None) extracting DECIMAL
    min/max from a footer; the stats collector must degrade to
    "unsummarizable" — commit succeeds, the decimal column carries no
    range, and keyed verbs on OTHER columns still prune off the manifest."""
    import json as _json

    from python_async_sample_spark.sources.versioned import (
        _read_manifest,
        delete_keys_versioned,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    ).withColumn("price", F.col("k").cast("decimal(18,2)"))
    create_table(spark, root, df, n_files=1)
    m = _read_manifest(root, 0)
    stats = m["stats"] if isinstance(m["stats"], dict) else _json.loads(m["stats"])
    (file_stats,) = stats.values()
    assert "price" not in file_stats["cols"]  # unsummarizable, omitted
    assert file_stats["cols"]["k"] == [1, 3]  # other columns keep ranges
    res = delete_keys_versioned(spark, root, "k", [2])
    assert res["deleted_rows"] == 1
    assert read_version(spark, root).count() == 2


def test_read_keyed_range_prunes_and_stays_exact(spark, root):
    """prune_files_for_range drops files whose [min,max] misses the range;
    read_keyed_range stays EXACT (residual filter) and NULL keys never
    match (SQL BETWEEN semantics)."""
    from python_async_sample_spark.sources.versioned import (
        prune_files_for_range,
        read_keyed_range,
    )

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 101)] + [(None, "null-row")],
        "k bigint, v string",
    )
    create_table(spark, root, df, n_files=8, layout_col="k")
    picked, total, _v = prune_files_for_range(root, "k", 20, 30)
    assert total == 8
    assert 1 <= len(picked) <= 3  # an 11-wide range over ~13-wide files
    got = read_keyed_range(spark, root, "k", 20, 30)
    assert sorted(r["k"] for r in got.collect()) == list(range(20, 31))
    # degenerate range below all keys: zero files, empty frame, same schema
    none_picked, _, _v = prune_files_for_range(root, "k", -10, -5)
    assert none_picked == []
    empty = read_keyed_range(spark, root, "k", -10, -5)
    assert empty.count() == 0 and empty.columns == ["k", "v"]


def test_read_keyed_range_falls_back_without_stats(spark, root):
    """A column with no recorded range (here: strings of one value per
    file are summarizable, so use a DECIMAL key — unsummarizable by
    pyarrow) must be read conservatively: every file picked, result still
    exact via the residual filter."""
    from python_async_sample_spark.sources.versioned import (
        prune_files_for_range,
        read_keyed_range,
    )

    df = spark.createDataFrame(
        [(i,) for i in range(1, 41)], "i bigint"
    ).select(F.col("i").cast("decimal(10,2)").alias("k"), F.col("i").alias("v"))
    create_table(spark, root, df, n_files=4, layout_col="v")
    picked, total, _v = prune_files_for_range(root, "k", 5, 10)
    assert len(picked) == total == 4  # no stats -> conservatively affected
    got = read_keyed_range(spark, root, "k", 5, 10)
    assert sorted(r["v"] for r in got.collect()) == list(range(5, 11))


def test_rewrite_layout_enables_box_pruning(spark, root):
    """Z-ordering as a snapshot commit: v0 (round-robin) prunes NOTHING for
    a box predicate; the rewrite_layout head prunes most files, for reads
    and keyed deletes alike; rows are preserved exactly and old versions
    stay time-travelable."""
    from python_async_sample_spark.sources.versioned import (
        prune_files_for_box,
        read_box,
        rewrite_layout,
    )

    df = spark.range(4096).select(
        F.col("id"),
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    create_table(spark, root, df, n_files=16)
    box = {"x": (8, 15), "y": (16, 31)}
    v0_picked, total, _v = prune_files_for_box(root, box, version=0)
    assert len(v0_picked) == total == 16  # every file spans the key space
    v1 = rewrite_layout(spark, root, "x", "y", n_files=16)
    assert v1 == 1
    picked, total, _v = prune_files_for_box(root, box)
    assert len(picked) < total // 2, (len(picked), total)
    got = read_box(spark, root, box)
    expect = df.where(F.col("x").between(8, 15) & F.col("y").between(16, 31))
    assert got.count() == expect.count() == 8 * 16  # one id per (x, y) pair
    assert read_version(spark, root, 0).count() == 4096  # time travel intact
    assert read_version(spark, root, 1).count() == 4096  # rows preserved
    # keyed writes prune off the same per-file rectangles
    res = delete_keys_versioned(spark, root, "y", [0, 1])
    assert res["deleted_rows"] == 128 and res["rewritten"] < total // 2, res


def test_rewrite_layout_carries_ledger_and_loses_races(spark, root):
    """rewrite_layout is an optimistic writer: it preserves rows, carries
    the epoch ledger forward (a replayed stream epoch must still be
    detected AFTER a Z-order rewrite), and loses cleanly to a concurrent
    commit."""
    from python_async_sample_spark.sources.versioned import (
        _read_manifest,
        commit_stream_epoch,
        rewrite_layout,
    )

    df = spark.createDataFrame(
        [(i, i % 16, i // 16, float(i)) for i in range(256)],
        "k bigint, x bigint, y bigint, v double",
    )
    create_table(spark, root, df, n_files=4)
    batch = spark.createDataFrame(
        [(1000, 0, 0, 1.0)], "k bigint, x bigint, y bigint, v double"
    )
    commit_stream_epoch(spark, root, batch, 7, "fp-seven")        # v1
    rewrite_layout(spark, root, "x", "y", n_files=8)              # v2
    assert read_version(spark, root).count() == 257               # rows kept
    assert "7" in _read_manifest(root, 2)["epochs"]               # ledger carried
    # a replayed epoch after the rewrite is still skipped
    commit_stream_epoch(spark, root, batch, 7, "fp-seven")
    assert read_version(spark, root).count() == 257

    # race: another writer takes the next version between read and commit
    from python_async_sample_spark.sources import versioned as V

    real_read = V._read_manifest
    raced = {"done": False}

    def hijack(r, version):
        m = real_read(r, version)
        if not raced["done"] and r == root and m["version"] == V.current_version(root):
            raced["done"] = True
            append_row = spark.createDataFrame(
                [(2000, 1, 1, 2.0)], "k bigint, x bigint, y bigint, v double"
            )
            from python_async_sample_spark.sources.versioned import append_versioned

            append_versioned(spark, root, append_row)
        return m

    V._read_manifest = hijack
    try:
        with pytest.raises(ConcurrentWriteError):
            rewrite_layout(spark, root, "x", "y", n_files=8)
    finally:
        V._read_manifest = real_read
    # loser committed nothing; the interloping append is the head
    assert read_version(spark, root).count() == 258


def test_file_blooms_skip_scattered_point_lookups(spark, root):
    """Needle-in-haystack: a unique scattered key lives in exactly one
    file; manifest blooms must skip (almost) all others while range stats
    on the same column could skip none — and a key absent from the table
    must prune EVERY file (no-false-negative is the bloom's only promise;
    here we also pin the useful direction)."""
    from python_async_sample_spark.sources.versioned import (
        add_file_blooms,
        prune_files_for_points,
        prune_files_for_range,
        read_keyed_points,
    )

    df = spark.range(4096).select(
        F.col("id").alias("k"),
        ((F.col("id") * 2654435761) % 4294967296).cast("long").alias("tid"),
    )
    create_table(spark, root, df, n_files=8, layout_col="k")
    add_file_blooms(spark, root, "tid")
    needle = (1234 * 2654435761) % 4294967296
    # range stats on tid are useless by construction
    r_picked, total, _v = prune_files_for_range(root, "tid", needle, needle)
    assert len(r_picked) == total == 8
    b_picked, _, _v = prune_files_for_points(root, "tid", [needle])
    assert len(b_picked) <= 2  # one true file + fp slack
    got = read_keyed_points(spark, root, "tid", [needle]).collect()
    assert [r["k"] for r in got] == [1234]
    absent, _, _v = prune_files_for_points(root, "tid", [7])  # 7 is no Knuth hash here
    assert absent == [] or len(absent) <= 1  # fp slack only
    assert read_keyed_points(spark, root, "tid", [7]).count() == 0


def test_check_constraints_enforced_and_carried(spark, root):
    """Delta-style CHECKs: a violating MERGE/append/epoch batch fails ITS
    commit (nothing lands), NULL passes (SQL CHECK semantics), and the
    declared checks survive unrelated verbs (carry contract, like the
    epoch ledger)."""
    from python_async_sample_spark.sources.versioned import (
        CheckConstraintViolation,
        _read_manifest,
        append_versioned,
        commit_stream_epoch,
        compact,
        set_check_constraints,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "O"), (2, 20.0, "F")], "k bigint, price double, status string"
    )
    create_table(spark, root, df, n_files=1)
    set_check_constraints(spark, root, [
        {"name": "price_nonneg", "expr": "price >= 0"},
        {"name": "status_known", "expr": "status IN ('O', 'F', 'P')"},
    ])
    good = spark.createDataFrame([(3, 30.0, "P")], "k bigint, price double, status string")
    bad = spark.createDataFrame([(4, -1.0, "O")], "k bigint, price double, status string")
    nullish = spark.createDataFrame(
        [(5, None, None)], "k bigint, price double, status string"
    )
    merge_into_versioned(spark, root, good, "k")
    with pytest.raises(CheckConstraintViolation, match="price_nonneg"):
        merge_into_versioned(spark, root, bad, "k")
    with pytest.raises(CheckConstraintViolation, match="price_nonneg"):
        append_versioned(spark, root, bad)
    with pytest.raises(CheckConstraintViolation, match="price_nonneg"):
        commit_stream_epoch(spark, root, bad, 0, "fp-bad")
    append_versioned(spark, root, nullish)  # NULL is not a violation
    got = read_version(spark, root)
    assert got.count() == 4 and got.where("price < 0").count() == 0
    # checks carried across an unrelated verb
    compact(spark, root, small_file_bytes=1 << 30)
    assert [c["name"] for c in _read_manifest(root, current_version(root))["checks"]] == [
        "price_nonneg", "status_known",
    ]
    with pytest.raises(CheckConstraintViolation):
        append_versioned(spark, root, bad)


def test_merge_driver_touch_is_o_files_not_o_keys(spark, root, monkeypatch):
    """VERDICT r5 item 2's done-criterion: a MERGE batch with ~1M distinct
    keys must keep driver-resident state bounded by O(files), never
    O(distinct keys).  Every driver-bound row materialization in classic
    PySpark funnels through DataFrame.collect (first/head/take are
    limit+collect) — meter it and assert the whole merge collects fewer
    rows than a small file-proportional bound.  Before the rework the
    ANSI-cardinality guard alone collected one row per distinct key."""
    import pyspark.sql.classic.dataframe as _cdf

    target = spark.range(2_000_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    create_table(spark, root, target, n_files=16, layout_col="k")

    # 1M distinct update keys spread over the whole key space: every file
    # is legitimately affected — the bound must hold even then
    updates = spark.range(1_000_000).select(
        (F.col("id") * 2).alias("k"), F.lit(-1).cast("long").alias("v")
    )

    collected_rows = 0
    real_collect = _cdf.DataFrame.collect

    def metered_collect(self):
        nonlocal collected_rows
        rows = real_collect(self)
        collected_rows += len(rows)
        return rows

    monkeypatch.setattr(_cdf.DataFrame, "collect", metered_collect)
    res = merge_into_versioned(spark, root, updates, "k")
    monkeypatch.undo()

    assert res["rewritten"] == 16 and res["upserted_rows"] == 1_000_000
    # bound: hit-file names + the (empty) offending-keys probe + slack for
    # incidental metadata probes; one row per KEY would be 1M
    assert collected_rows <= 16 + 16, collected_rows
    head = read_version(spark, root)
    assert head.count() == 2_000_000
    assert head.where("v = -1").count() == 1_000_000
    assert head.where("k % 2 = 1 AND v = -1").count() == 0


def test_restore_version_rolls_back_content_keeps_history(spark, sf_dir, root):
    """RESTORE commits a new head whose content is the target snapshot's;
    history stays append-only (the bad version remains travelable), the
    commit is metadata-only (no new data files), and the epoch ledger
    carries from the HEAD so replay protection survives the rollback."""
    from python_async_sample_spark.sources.versioned import (
        _read_manifest,
        restore_version,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=3)                      # v0
    bad = orders.limit(50).withColumn("o_orderstatus", F.lit("X"))
    merge_into_versioned(spark, root, bad, "o_orderkey")              # v1 (bad)
    files_before = set(os.listdir(f"{root}/data"))

    v = restore_version(spark, root, 0)                                      # v2 = v0
    assert v == 2 and table_versions(root) == [0, 1, 2]
    assert set(os.listdir(f"{root}/data")) == files_before  # metadata-only
    assert read_version(spark, root).exceptAll(
        read_version(spark, root, 0)
    ).count() == 0
    # the bad version is still there for audit
    assert read_version(spark, root, 1).where(
        F.col("o_orderstatus") == "X"
    ).count() == 50
    # ledger/checks carried from head, files/schema/stats from target
    m2, m1, m0 = (_read_manifest(root, i) for i in (2, 1, 0))
    assert m2["files"] == m0["files"] and m2["schema"] == m0["schema"]
    assert m2["epochs"] == m1["epochs"] and m2["checks"] == m1["checks"]
    # restoring to the current head is a no-op, not a new version
    assert restore_version(spark, root, 2) == 2 and table_versions(root) == [0, 1, 2]


def test_restore_version_refuses_vacuumed_target(spark, sf_dir, root):
    """A restore target whose manifest or data files were reclaimed must
    fail loudly with nothing committed — partial restores are corruption."""
    from python_async_sample_spark.sources.versioned import restore_version

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders.where(F.col("o_orderkey") % 2 == 0), n_files=2)
    from python_async_sample_spark.sources.versioned import compact

    compact(spark, root)                                              # v1 rewrite
    vacuum(root, keep_last=1, grace_seconds=0)                        # v0 gone
    with pytest.raises(ValueError, match="no manifest"):
        restore_version(spark, root, 0)
    assert table_versions(root) == [1]  # nothing committed


def test_restore_version_refuses_missing_data_files_and_unanalyzable_checks(
    spark, sf_dir, root
):
    """The two remaining restore refusals: (1) manifest present but a data
    file reclaimed/corrupted — committing would produce a
    non-materializable snapshot; (2) head CHECK constraints that don't
    analyze against the (pre-evolution) target schema — committing would
    brick every subsequent write verb with AnalysisException."""
    from python_async_sample_spark.sources.versioned import (
        _read_manifest,
        add_column,
        restore_version,
        set_check_constraints,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=3)                      # v0
    add_column(spark, root, "qc_flag", "int")                         # v1
    set_check_constraints(
        spark, root, [{"name": "qc", "expr": "qc_flag IS NULL OR qc_flag >= 0"}]
    )                                                                 # v2
    with pytest.raises(ValueError, match="does not analyze against version 0"):
        restore_version(spark, root, 0)
    assert current_version(root) == 2  # nothing committed

    # clear the constraints; now v0 restores fine
    set_check_constraints(spark, root, [])                            # v3
    assert restore_version(spark, root, 0) == 4

    # (1): delete one of v0's data files behind the manifest's back
    victim = _read_manifest(root, 0)["files"][0]
    os.remove(f"{root}/data/{victim}")
    with pytest.raises(ValueError, match="no longer materializable"):
        restore_version(spark, root, 1)  # v1 shares v0's files
    assert current_version(root) == 4  # nothing committed


def test_restore_loses_cleanly_to_concurrent_writer(spark, sf_dir, root):
    """RESTORE inherits the exclusive-link commit contract: a writer that
    lands between restore's head read and its commit wins the version
    slot, and the restore raises ConcurrentWriteError with nothing
    committed — it never silently rolls back PAST the interloper's data."""
    from python_async_sample_spark.sources.versioned import (
        _commit,
        restore_version,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=2)                      # v0
    merge_into_versioned(
        spark, root, orders.limit(2).withColumn("o_orderstatus", F.lit("M")),
        "o_orderkey",
    )                                                                 # v1
    # simulate the race: steal v2 (the slot restore will compute from
    # head=v1) before restore commits
    v1 = json.load(open(_manifest_path(root, 1), encoding="ascii"))
    assert _commit(root, v1["files"], v1["schema"], "interloper", parent=1) == 2

    import python_async_sample_spark.sources.versioned as V

    # pin restore's head read to the STALE pre-interloper head, exactly
    # what a real race produces between its read and its commit
    orig_cv = V.current_version
    V.current_version = lambda r: 1
    try:
        with pytest.raises(ConcurrentWriteError):
            restore_version(spark, root, 0)
    finally:
        V.current_version = orig_cv
    assert table_versions(root) == [0, 1, 2]  # restore committed NOTHING
    # rebased restore (fresh head read) then succeeds
    assert restore_version(spark, root, 0) == 3


def test_purge_relation_erases_from_every_snapshot(spark, sf_dir, root):
    """DataFrame-keyed right-to-be-forgotten: same erasure contract as
    purge_keys with the victim set as a RELATION the driver never
    collects — planning rides the MERGE range join
    (_affected_via_range_join), each rewrite a broadcast anti join; the
    manifest audit ledger records a count+checksum fingerprint, not the
    keys."""
    from python_async_sample_spark.sources.versioned import (
        _read_manifest,
        purge_relation,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders.orderBy("o_orderkey"), n_files=4)
    updates = orders.limit(3).withColumn("o_orderstatus", F.lit("M"))
    merge_into_versioned(spark, root, updates, "o_orderkey")

    victims_df = orders.where(F.col("o_custkey") % 19 == 0).select("o_orderkey")
    n_victims = victims_df.distinct().count()
    assert n_victims > 0
    n0 = read_version(spark, root, 0).count()
    res = purge_relation(spark, root, "o_orderkey", victims_df)
    assert res["victim_keys"] == n_victims
    assert res["manifests_updated"] >= 1 and res["files_rewritten"] >= 1

    for v in table_versions(root):
        snap = read_version(spark, root, v)
        assert snap.join(victims_df, "o_orderkey", "left_semi").count() == 0, v
    assert read_version(spark, root, 0).count() == n0 - n_victims
    # audit ledger: relation entry carries count + checksum, never keys
    m1 = _read_manifest(root, 1)
    rel_entries = [p for p in m1["purged"] if p.startswith("relation:")]
    assert len(rel_entries) == 1
    assert f"n={n_victims}" in rel_entries[0] and ":ck=" in rel_entries[0]

    # re-run removes nothing further (victims already erased everywhere)
    res2 = purge_relation(spark, root, "o_orderkey", victims_df)
    assert all(v == 0 for v in res2["rows_removed"].values())

    # NULL-only / empty victim relations are no-ops, not errors
    none_df = victims_df.select(F.lit(None).cast("bigint").alias("o_orderkey"))
    res3 = purge_relation(spark, root, "o_orderkey", none_df)
    assert res3 == {
        "files_rewritten": 0, "manifests_updated": 0,
        "rows_removed": {}, "victim_keys": 0,
    }


def test_restore_race_with_live_concurrent_append(spark, sf_dir, root):
    """VERDICT r6 item 7: restore_version and append_versioned RACE for
    the same head slot, live (no monkeypatch) — the metadata-only restore
    commits in milliseconds while the append is still staging files, so
    the append reliably loses its os.link commit with
    ConcurrentWriteError, commits NOTHING, rebases and retries.  Property
    pinned across three rounds: history stays a contiguous parent-linked
    chain (no version skipped or double-used), every snapshot remains
    readable with stats-consistent row counts, and the exactly-once epoch
    ledger carries through every restore so a pre-race epoch still
    replays as a duplicate."""
    import threading

    from python_async_sample_spark.sources.versioned import (
        ConcurrentWriteError,
        _read_manifest,
        append_versioned,
        commit_stream_epoch,
        restore_version,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders.limit(40), n_files=2)            # v0
    commit_stream_epoch(
        spark, root,
        orders.limit(5).withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000),
        0, "fp-race-e0",
    )                                                                  # v1
    batch = orders.limit(3).withColumn(
        "o_orderkey", F.col("o_orderkey") + 30_000_000
    )

    losses = []

    def with_retry(tag, fn):
        for attempt in range(6):
            try:
                return fn()
            except ConcurrentWriteError:
                losses.append((tag, attempt))
        raise AssertionError(f"{tag} lost the race 6 times straight")

    for _round in range(3):
        target = current_version(root) - 1  # previous head: never a no-op
        barrier = threading.Barrier(2)
        results = {}

        def run(tag, fn):
            barrier.wait()
            results[tag] = with_retry(tag, fn)

        threads = [
            threading.Thread(
                target=run, args=("append", lambda: append_versioned(spark, root, batch))
            ),
            threading.Thread(
                target=run,
                args=("restore", lambda t=target: restore_version(spark, root, t)),
            ),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert {"append", "restore"} <= results.keys()

    versions = table_versions(root)
    assert versions == list(range(len(versions)))  # contiguous, none skipped
    for v in versions:
        m = _read_manifest(root, v)
        assert m["parent"] == (None if v == 0 else v - 1)
        expected = sum(e["rows"] for e in m["stats"].values())
        assert read_version(spark, root, v).count() == expected, v
    head_m = _read_manifest(root, current_version(root))
    assert head_m["epochs"] == {"0": "fp-race-e0"}
    # the pre-race epoch replays as a recognized duplicate even now
    assert commit_stream_epoch(spark, root, orders.limit(5), 0, "fp-race-e0") is None
    # a staging append racing a metadata-only restore must have actually
    # lost at least once across three rounds — otherwise this harness
    # exercised nothing
    assert losses, "no ConcurrentWriteError observed; race harness inert"


def test_delete_relation_head_only(spark, sf_dir, root):
    """delete_relation: relation-keyed DELETE commits a NEW head without
    the victims while HISTORY stays intact (the property separating
    delete from purge); keys never reach the driver (range-join planning
    + broadcast anti join); pruning leaves out-of-range files untouched;
    NULL victims and empty relations are no-ops."""
    from python_async_sample_spark.sources.versioned import (
        _read_manifest,
        delete_relation,
    )

    orders = _orders(spark, sf_dir)
    n_all = orders.count()
    create_table(spark, root, orders, n_files=4, layout_col="o_orderkey")

    # victims: a bounded key range, so range-partitioned files outside it
    # must NOT be rewritten (manifest-stats pruning through the range join)
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    cut = lo + (hi - lo) // 8
    victims = orders.where(F.col("o_orderkey") <= cut).select("o_orderkey")
    n_victims = victims.count()
    assert 0 < n_victims < n_all

    res = delete_relation(spark, root, "o_orderkey", victims)
    assert res["version"] == 1
    assert res["deleted_rows"] == n_victims
    assert 1 <= res["rewritten"] < 4, "range pruning rewrote every file"
    # untouched files keep their names and recorded stats
    m0, m1 = _read_manifest(root, 0), _read_manifest(root, 1)
    untouched = set(m0["files"]) & set(m1["files"])
    assert res["rewritten"] + len(untouched) == len(m0["files"])
    assert all(m1["stats"][n] == m0["stats"][n] for n in untouched)

    head = read_version(spark, root, 1)
    assert head.count() == n_all - n_victims
    assert head.join(victims, "o_orderkey", "left_semi").count() == 0
    # history intact — v0 still serves the victims (delete ≠ purge)
    assert read_version(spark, root, 0).count() == n_all
    assert m1["op"] == "delete:o_orderkey" and m1["parent"] == 0

    # empty and NULL-only victim relations are no-ops, not errors
    res2 = delete_relation(
        spark, root, "o_orderkey", victims.where(F.lit(False))
    )
    assert res2 == {"version": 1, "rewritten": 0, "deleted_rows": 0}
    res3 = delete_relation(
        spark, root, "o_orderkey",
        victims.select(F.lit(None).cast("bigint").alias("o_orderkey")),
    )
    assert res3 == {"version": 1, "rewritten": 0, "deleted_rows": 0}

    # unknown key column refuses loudly
    with pytest.raises(ValueError, match="not in"):
        delete_relation(spark, root, "nope", victims)


def _twin_tables(spark, sf_dir, tag):
    """Two identical 2-version tables for face-equivalence tests."""
    import tempfile

    orders = _orders(spark, sf_dir)
    roots = {}
    for face in ("list", "rel"):
        r = tempfile.mkdtemp(prefix=f"spark_graft_eq_{tag}_{face}_") + "/t"
        create_table(spark, r, orders.orderBy("o_orderkey"), n_files=4)
        updates = orders.limit(5).withColumn("o_orderstatus", F.lit("M"))
        merge_into_versioned(spark, r, updates, "o_orderkey")
        roots[face] = r
    return orders, roots


def _victims(spark, orders):
    """A victim relation with DUPLICATE rows and an ABSENT key — both
    faces must dedup and no-op those identically."""
    hit = orders.where(F.col("o_custkey") % 23 == 0).select("o_orderkey")
    absent = spark.range(1).select(F.lit(10**12).cast("bigint").alias("o_orderkey"))
    return hit.unionAll(hit).unionAll(absent)


def test_relation_and_list_purge_faces_agree(spark, sf_dir, root):
    """purge_relation(victims_df) must leave EVERY version in exactly the
    state purge_keys(victims_list) does for the same victim set — the
    relation face is an execution strategy, never a semantics change."""
    from python_async_sample_spark.sources.versioned import (
        _read_manifest,
        purge_keys,
        purge_relation,
    )

    orders, roots = _twin_tables(spark, sf_dir, "prg")
    victims_df = _victims(spark, orders)
    victims_list = [r[0] for r in victims_df.distinct().collect()]

    res_l = purge_keys(spark, roots["list"], "o_orderkey", victims_list)
    res_r = purge_relation(spark, roots["rel"], "o_orderkey", victims_df)
    assert res_r == res_l and res_r["victim_keys"] == len(victims_list)
    assert table_versions(roots["list"]) == table_versions(roots["rel"])
    for v in table_versions(roots["list"]):
        a = read_version(spark, roots["list"], v)
        b = read_version(spark, roots["rel"], v)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, v
        # one audit ledger: both forms record the same count + checksum
        purged = _read_manifest(roots["list"], v).get("purged")
        assert purged and purged == _read_manifest(roots["rel"], v).get("purged"), v


def test_relation_and_list_delete_faces_agree(spark, sf_dir, root):
    """delete_relation ≡ delete_keys_versioned on the same victim set:
    identical new-head content, identical deleted-row counters, identical
    untouched history."""
    from python_async_sample_spark.sources.versioned import (
        delete_keys_versioned,
        delete_relation,
    )

    orders, roots = _twin_tables(spark, sf_dir, "del")
    victims_df = _victims(spark, orders)
    victims_list = [r[0] for r in victims_df.distinct().collect()]

    res_l = delete_keys_versioned(spark, roots["list"], "o_orderkey", victims_list)
    res_r = delete_relation(spark, roots["rel"], "o_orderkey", victims_df)
    assert res_r["deleted_rows"] == res_l["deleted_rows"] > 0
    assert res_r["version"] == res_l["version"] == 2
    for v in table_versions(roots["list"]):
        a = read_version(spark, roots["list"], v)
        b = read_version(spark, roots["rel"], v)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, v


def test_merge_race_with_concurrent_merge(spark, sf_dir, root):
    """Two MERGEs racing for the same head slot: the loser's os.link
    commit fails with ConcurrentWriteError having published NOTHING
    (its staged files are invisible orphans for vacuum), and the caller's
    rebase-retry REPLANS against the new head — so both batches land,
    neither overwrites the other's keys, and the final content equals
    applying the merges in either order (the key sets are disjoint, so
    order is immaterial and the equality is exact)."""
    import threading

    from python_async_sample_spark.sources.versioned import (
        ConcurrentWriteError,
        merge_into_versioned,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=4, layout_col="o_orderkey")

    upd_a = orders.where(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_orderstatus", F.lit("A"))
    upd_b = orders.where(F.col("o_orderkey") % 7 == 3).withColumn(
        "o_orderstatus", F.lit("B"))

    losses, results = [], {}
    barrier = threading.Barrier(2)

    def run(tag, batch):
        barrier.wait()
        for attempt in range(6):
            try:
                results[tag] = merge_into_versioned(spark, root, batch, "o_orderkey")
                return
            except ConcurrentWriteError:
                losses.append((tag, attempt))
        raise AssertionError(f"{tag} lost 6 times straight")

    threads = [
        threading.Thread(target=run, args=("a", upd_a)),
        threading.Thread(target=run, args=("b", upd_b)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert set(results) == {"a", "b"}
    assert table_versions(root) == [0, 1, 2]  # contiguous, no slot skipped
    head = read_version(spark, root, 2)
    n_a = upd_a.count()
    n_b = upd_b.count()
    assert head.where(F.col("o_orderstatus") == "A").count() == n_a
    assert head.where(F.col("o_orderstatus") == "B").count() == n_b
    assert head.count() == orders.count()  # upsert, no dup/lost rows
    # vacuum reclaims the loser's orphaned staging output without touching
    # any referenced file
    vacuum(root, keep_last=len(table_versions(root)), grace_seconds=0)
    assert read_version(spark, root, 2).count() == orders.count()


def test_drop_column_metadata_only_travel_and_resurrection_guard(spark, sf_dir, root):
    """drop_column: metadata-only (same files), head loses the column,
    time travel keeps it; appends after the drop conform to the narrowed
    schema; add_column refuses the dropped name (resurrection guard) but
    accepts fresh names; CHECK constraints referencing the column block
    the drop; stats lose the column's ranges."""
    from python_async_sample_spark.sources.versioned import (
        _read_manifest,
        add_column,
        append_versioned,
        drop_column,
        set_check_constraints,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=2)
    m0 = _read_manifest(root, 0)

    # a CHECK on the victim column blocks the drop until rewritten
    set_check_constraints(spark, root, [
        {"name": "prio_nonnull", "expr": "o_orderpriority IS NOT NULL"},
    ])
    with pytest.raises(ValueError, match="prio_nonnull"):
        drop_column(spark, root, "o_orderpriority")
    set_check_constraints(spark, root, [])

    v = drop_column(spark, root, "o_orderpriority")
    m = _read_manifest(root, v)
    assert m["files"] == m0["files"]  # metadata-only: zero rewrites
    assert m["dropped"] == ["o_orderpriority"]
    assert all("o_orderpriority" not in e["cols"] for e in m["stats"].values())

    head = read_version(spark, root, v)
    assert "o_orderpriority" not in head.columns
    assert head.count() == orders.count()
    # time travel to the pre-drop snapshot still serves the column
    v0 = read_version(spark, root, 0)
    assert "o_orderpriority" in v0.columns
    assert v0.where(F.col("o_orderpriority").isNotNull()).count() == orders.count()

    # appends conform to the narrowed schema; mixed files read fine
    batch = head.limit(7).withColumn("o_orderkey", F.col("o_orderkey") + 30_000_000)
    append_versioned(spark, root, batch)
    assert read_version(spark, root, current_version(root)).count() == orders.count() + 7

    # resurrection guard: the dropped name is refused forever, fresh names fine
    with pytest.raises(ValueError, match="previously dropped"):
        add_column(spark, root, "o_orderpriority", "string")
    add_column(spark, root, "o_channel", "string")
    assert "o_channel" in read_version(spark, root, current_version(root)).columns

    # degenerate drops refuse
    with pytest.raises(ValueError, match="not in"):
        drop_column(spark, root, "nope")


def test_clone_table_is_independent_of_source_lifecycle(spark, sf_dir, root):
    """clone_table: the clone reads exactly the cloned snapshot, diverges
    independently, carries the epoch ledger (replays refused on the
    clone), and SURVIVES the source being vacuumed and purged — hardlinks
    keep inodes alive and source verbs swap names, never mutate bytes."""
    import tempfile

    from python_async_sample_spark.sources.versioned import (
        _read_manifest,
        clone_table,
        commit_stream_epoch,
        purge_keys,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=4, layout_col="o_orderkey")  # v0
    commit_stream_epoch(
        spark, root,
        orders.limit(5).withColumn("o_orderkey", F.col("o_orderkey") + 20_000_000),
        0, "fp-clone-e0",
    )                                                                      # v1
    n_v1 = read_version(spark, root, 1).count()

    dst = tempfile.mkdtemp(prefix="spark_graft_clone_") + "/t"
    assert clone_table(root, dst) == 0
    mc = _read_manifest(dst, 0)
    assert mc["epochs"] == {"0": "fp-clone-e0"}
    assert read_version(spark, dst, 0).count() == n_v1
    # replayed epoch is refused on the clone too
    assert commit_stream_epoch(spark, dst, orders.limit(5), 0, "fp-clone-e0") is None

    # clone exists → cloning again refuses; cloning a vacuumed version refuses
    with pytest.raises(FileExistsError):
        clone_table(root, dst)

    # diverge both sides; neither sees the other's writes
    upd_src = orders.limit(3).withColumn("o_orderstatus", F.lit("S"))
    upd_dst = orders.limit(3).withColumn("o_orderstatus", F.lit("D"))
    merge_into_versioned(spark, root, upd_src, "o_orderkey")
    merge_into_versioned(spark, dst, upd_dst, "o_orderkey")
    assert read_version(spark, root, current_version(root)).where(
        F.col("o_orderstatus") == "D").count() == 0
    assert read_version(spark, dst, current_version(dst)).where(
        F.col("o_orderstatus") == "S").count() == 0

    # source vacuum + purge cannot reach the clone
    victims = [r[0] for r in orders.select("o_orderkey").orderBy("o_orderkey").limit(3).collect()]
    purge_keys(spark, root, "o_orderkey", victims)
    vacuum(root, keep_last=1, grace_seconds=0)
    clone_head = read_version(spark, dst, current_version(dst))
    assert clone_head.where(F.col("o_orderkey").isin(victims)).count() == len(victims)
    assert clone_head.count() == n_v1


def test_as_of_timestamp_travel_and_fsck(spark, sf_dir, root):
    """version_as_of: wall-clock time travel with monotone commit stamps
    (clamped along the parent chain); verify_table: the fsck pre-flight
    catches a missing data file and a stats/footer divergence, and passes
    clean on a healthy multi-verb history."""
    import os as _os
    import time as _time

    from python_async_sample_spark.sources.versioned import (
        _DATA_DIR,
        _read_manifest,
        append_versioned,
        read_as_of,
        verify_table,
        version_as_of,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders.limit(30), n_files=2)        # v0
    t_after_v0 = _time.time()
    _time.sleep(0.05)
    append_versioned(spark, root, orders.limit(4))                # v1
    merge_into_versioned(
        spark, root, orders.limit(2).withColumn("o_orderstatus", F.lit("M")),
        "o_orderkey",
    )                                                             # v2
    t_end = _time.time()

    # resolution: before v1's commit -> v0; now -> head; prehistoric -> error
    assert version_as_of(root, t_after_v0) == 0
    assert version_as_of(root, t_end) == 2
    assert read_as_of(spark, root, t_after_v0).count() == 30
    with pytest.raises(ValueError, match="no version"):
        version_as_of(root, t_after_v0 - 10_000)
    # stamps are monotone across the chain
    stamps = [_read_manifest(root, v)["committed_at"] for v in table_versions(root)]
    assert stamps == sorted(stamps)

    # healthy table fscks clean (deep: footer rows vs manifest stats)
    rep = verify_table(root, deep=True)
    assert rep == {"ok": True, "versions": 3, "problems": []}

    # sabotage 1: stats/footer divergence (hand-edit the manifest)
    import json as _json

    from python_async_sample_spark.sources.versioned import _manifest_path

    mp = _manifest_path(root, 2)
    m = _json.load(open(mp))
    victim = m["files"][0]
    if victim in m["stats"]:
        m["stats"][victim]["rows"] += 5
        _json.dump(m, open(mp, "w"))
        rep = verify_table(root, deep=True)
        assert not rep["ok"] and any("footer rows" in p for p in rep["problems"])
        m["stats"][victim]["rows"] -= 5
        _json.dump(m, open(mp, "w"))

    # sabotage 2: delete a data file referenced by the head
    path = f"{root}/{_DATA_DIR}/{victim}"
    _os.rename(path, path + ".hidden")
    rep = verify_table(root)
    assert not rep["ok"] and any("missing" in p for p in rep["problems"])
    _os.rename(path + ".hidden", path)
    assert verify_table(root, deep=True)["ok"]


def test_prepare_victims_coercion_nan_and_shape(spark):
    """_prepare_victims (the DELETE/PURGE verbs' one victim normaliser):
    victim keys cast to the table's key type (int victims vs double column,
    the isin-compatible coercion), NULLs and NaNs dropped (NaN = NaN is TRUE under join equality; a NaN
    victim would erase NaN-key rows nobody targeted), duplicates
    deduped, and a multi-column relation without the key column refuses."""
    from pyspark.sql import types as T

    from python_async_sample_spark.sources.versioned import _prepare_victims

    field = T.StructField("k", T.DoubleType())
    vic = _prepare_victims(
        spark,
        spark.createDataFrame([(1,), (2,), (2,), (None,)], "k bigint"),
        "k", field,
    )
    assert vic.schema["k"].dataType == T.DoubleType()
    assert sorted(r[0] for r in vic.collect()) == [1.0, 2.0]

    vic2 = _prepare_victims(
        spark,
        spark.createDataFrame([(float("nan"),), (3.0,)], "k double"),
        "k", field,
    )
    assert [r[0] for r in vic2.collect()] == [3.0]

    # a victim is kept only if its cast value still equals the original:
    # 1.5 must not truncate onto the integer key 1, and a NaN against an
    # integer key drops (a bare cast aborts with CAST_OVERFLOW under ANSI)
    int_field = T.StructField("k", T.LongType())
    vic_int = _prepare_victims(
        spark,
        spark.createDataFrame([(1.5,), (float("nan"),), (2.0,)], "k double"),
        "k", int_field,
    )
    assert vic_int.schema["k"].dataType == T.LongType()
    assert [r[0] for r in vic_int.collect()] == [2]
    # the list form goes through the same normaliser
    vic_list = _prepare_victims(spark, [1.5, float("nan"), None, 3], "k", int_field)
    assert [r[0] for r in vic_list.collect()] == [3]

    # single-column relations adopt the key name; multi-column must carry it
    vic3 = _prepare_victims(
        spark, spark.createDataFrame([(7,)], "other bigint"), "k", field
    )
    assert vic3.columns == ["k"] and vic3.first()[0] == 7.0
    with pytest.raises(ValueError, match="single-column"):
        _prepare_victims(
            spark, spark.createDataFrame([(1, 2)], "a bigint, b bigint"), "k", field
        )


def test_vacuum_dry_run_reports_without_touching(spark, sf_dir, root):
    """vacuum(dry_run=True) reports exactly the counters a real run would
    act on and deletes NOTHING; the subsequent real run removes exactly
    what the dry run reported."""
    from python_async_sample_spark.sources.versioned import _DATA_DIR

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders.limit(30), n_files=2)      # v0
    merge_into_versioned(
        spark, root, orders.limit(3).withColumn("o_orderstatus", F.lit("M")),
        "o_orderkey",
    )                                                           # v1: rewrites
    import glob as _glob

    n_files_before = len(_glob.glob(f"{root}/{_DATA_DIR}/part-*.parquet"))
    dry = vacuum(root, keep_last=1, grace_seconds=0, dry_run=True)
    assert dry.pop("dry_run") is True
    assert dry["data_files_removed"] > 0 and dry["manifests_removed"] == 1
    # nothing touched
    assert len(_glob.glob(f"{root}/{_DATA_DIR}/part-*.parquet")) == n_files_before
    assert table_versions(root) == [0, 1]
    assert read_version(spark, root, 0).count() == 30

    real = vacuum(root, keep_last=1, grace_seconds=0)
    assert real == dry  # the dry run's report was exact
    assert table_versions(root) == [1]
    assert len(_glob.glob(f"{root}/{_DATA_DIR}/part-*.parquet")) == (
        n_files_before - dry["data_files_removed"]
    )


def test_vacuum_age_based_retention(spark, sf_dir, root):
    """vacuum(keep_newer_than_ts=cutoff) retains every version committed
    at-or-after the cutoff IN ADDITION to keep_last, so AS-OF-timestamp
    travel stays answerable across the retention period."""
    import time as _time

    from python_async_sample_spark.sources.versioned import (
        append_versioned,
        read_as_of,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders.limit(20), n_files=1)      # v0
    append_versioned(spark, root, orders.limit(3))              # v1
    cutoff = _time.time()
    _time.sleep(0.05)
    append_versioned(spark, root, orders.limit(2))              # v2
    append_versioned(spark, root, orders.limit(1))              # v3

    # keep_last=1 alone would drop v0-v2; the age rule keeps v2 (committed
    # after the cutoff) while v0/v1 go
    vacuum(root, keep_last=1, grace_seconds=0, keep_newer_than_ts=cutoff)
    assert table_versions(root) == [2, 3]
    assert read_version(spark, root, 2).count() == 25
    # AS-OF inside the retained period still resolves
    assert read_as_of(spark, root, _time.time()).count() == 26


def test_every_verb_commits_the_one_manifest_format(spark, root):
    """Every write verb publishes the one manifest format: stats with one
    entry per file, the epoch ledger and a commit stamp.  Readers plan from
    those fields alone (no footer fallback), so this pins the invariant
    they rely on; _commit refuses a file it has no stats entry for."""
    from python_async_sample_spark.sources.versioned import (
        _commit,
        _read_manifest,
        add_column,
        add_file_blooms,
        clone_table,
        compact,
        delete_relation,
        drop_column,
        purge_keys,
        restore_version,
        rewrite_layout,
    )

    def assert_format(table, after):
        for v in table_versions(table):
            m = _read_manifest(table, v)
            assert {"stats", "epochs", "committed_at"} <= m.keys(), (after, v)
            assert set(m["stats"]) == set(m["files"]), (after, v)

    df = spark.createDataFrame(
        [(i, i % 7, f"v{i}") for i in range(40)], "k bigint, x bigint, v string"
    )
    clone = f"{root}-clone"
    verbs = {
        "create_table": lambda: create_table(spark, root, df.where("k < 20"), n_files=2),
        "append_versioned": lambda: append_versioned(spark, root, df.where("k >= 20 and k < 30")),
        "commit_stream_epoch": lambda: commit_stream_epoch(
            spark, root, df.where("k >= 30"), 0, "fp-0"),
        "merge_into_versioned": lambda: merge_into_versioned(
            spark, root, df.where("k < 3").withColumn("v", F.lit("m")), "k"),
        "delete_relation": lambda: delete_relation(spark, root, "k", [5, 6]),
        "purge_keys": lambda: purge_keys(spark, root, "k", [7]),
        "add_column": lambda: add_column(spark, root, "email", "string"),
        "drop_column": lambda: drop_column(spark, root, "email"),
        "add_file_blooms": lambda: add_file_blooms(spark, root, "x"),
        "rewrite_layout": lambda: rewrite_layout(spark, root, "k", "x", n_files=2),
        "compact": lambda: compact(spark, root),
        "restore_version": lambda: restore_version(spark, root, 1),
        "clone_table": lambda: clone_table(root, clone),
    }
    for name, verb in verbs.items():
        verb()
        assert_format(root, name)
    assert_format(clone, "clone_table")
    head = _read_manifest(root, current_version(root))
    assert head["op"] == "restore(1)" and head["epochs"] == {"0": "fp-0"}
    assert _read_manifest(clone, 0)["epochs"] == {"0": "fp-0"}
    # v1 held k < 30; the purge erased k = 7 from every snapshot
    assert read_version(spark, clone).count() == read_version(spark, root).count() == 29

    with pytest.raises(ValueError, match="no stats entry"):
        _commit(root, head["files"] + ["part-unstated.parquet"], head["schema"],
                "append", current_version(root))
    assert_format(root, "refused _commit")


def test_verify_table_reports_missing_file_of_non_head_streaming_version(spark, root):
    """Every retained version of a streaming table carries an epoch ledger;
    a data file missing from a non-head version is damage all the same
    (time travel to it fails), so the fsck must report it."""
    from python_async_sample_spark.sources.versioned import (
        _DATA_DIR,
        _read_manifest,
        verify_table,
    )

    df = spark.createDataFrame([(i, "x") for i in range(6)], "k int, v string")
    create_table(spark, root, df.limit(0), n_files=1)                  # v0
    commit_stream_epoch(spark, root, df.where("k < 3"), 0, "fp-0")     # v1
    commit_stream_epoch(spark, root, df.where("k >= 3"), 1, "fp-1")    # v2
    delete_keys_versioned(spark, root, "k", [0])                       # v3
    old = _read_manifest(root, 2)
    only_old = sorted(set(old["files"]) - set(_read_manifest(root, 3)["files"]))
    assert only_old and old["epochs"] == {"0": "fp-0", "1": "fp-1"}
    assert verify_table(root)["ok"]

    os.remove(f"{root}/{_DATA_DIR}/{only_old[0]}")
    rep = verify_table(root)
    assert not rep["ok"]
    assert any(p.startswith("v2: data file missing") for p in rep["problems"]), rep

    # a manifest off the one format is reported, never raised on
    def edit(v, change):
        m = json.load(open(_manifest_path(root, v), encoding="ascii"))
        change(m)
        json.dump(m, open(_manifest_path(root, v), "w", encoding="ascii"))

    edit(1, lambda m: m.pop("committed_at"))
    edit(3, lambda m: m["stats"].pop(m["files"][0]))
    problems = verify_table(root)["problems"]
    assert "v1: manifest lacks ['committed_at']" in problems
    assert "v3: stats entries do not match the file list" in problems


def test_verify_table_accepts_the_hole_a_pinned_vacuum_leaves(spark, root):
    """vacuum with ``keep_versions`` (the catalog's pin) keeps an old
    version below the recent range, so the retained version list has a
    hole.  No read of a retained version crosses it: the fsck passes and
    every retained version reads.  A wrong parent is still reported, on
    either side of the hole."""
    from python_async_sample_spark.sources.versioned import verify_table

    df = spark.createDataFrame([(i, "x") for i in range(6)], "k int, v string")
    create_table(spark, root, df.where("k = 0"), n_files=1)            # v0
    for k in range(1, 6):
        append_versioned(spark, root, df.where(f"k = {k}"))            # v1..v5
    vacuum(root, keep_last=2, grace_seconds=0, keep_versions={1})
    assert table_versions(root) == [1, 4, 5]
    assert verify_table(root) == {"ok": True, "versions": 3, "problems": []}
    assert [read_version(spark, root, v).count() for v in (1, 4, 5)] == [2, 5, 6]

    for v in (4, 5):  # v4 sits just above the hole, v5 beside v4
        m = json.load(open(_manifest_path(root, v), encoding="ascii"))
        m["parent"] = 1
        json.dump(m, open(_manifest_path(root, v), "w", encoding="ascii"))
    assert verify_table(root)["problems"] == [
        "v4: parent=1 != 3", "v5: parent=1 != 4",
    ]


def test_vacuum_crash_at_any_remove_leaves_every_listed_version_readable(
    spark, root, monkeypatch
):
    """vacuum drops manifests before the data only they referenced, so a
    crash at ANY of its removes leaves orphan files at worst: every listed
    version still fscks clean and reads, and a rerun converges on the
    uncrashed result."""
    from python_async_sample_spark.sources.versioned import verify_table

    df = spark.createDataFrame([(i, "x") for i in range(12)], "k int, v string")
    create_table(spark, root, df.where("k < 4"), n_files=2)                      # v0
    merge_into_versioned(spark, root, df.where("k < 2").withColumn("v", F.lit("m")), "k")
    delete_keys_versioned(spark, root, "k", [2])                                 # v2
    append_versioned(spark, root, df.where("k >= 4"))                            # v3
    plan = vacuum(root, keep_last=1, grace_seconds=0, dry_run=True)
    assert plan["manifests_removed"] == 3 and plan["data_files_removed"] >= 2
    n_removes = plan["manifests_removed"] + plan["data_files_removed"]
    head = sorted(read_version(spark, root).collect())

    real_remove = os.remove
    for k in range(1, n_removes + 1):
        work = f"{root}-crash{k}"
        shutil.copytree(root, work)
        calls = []

        def crash_at_k(path, *args, _work=work, _k=k, _calls=calls, **kwargs):
            if str(path).startswith(_work + "/"):
                _calls.append(path)
                if len(_calls) == _k:
                    raise OSError(f"injected crash at remove #{_k}")
            return real_remove(path, *args, **kwargs)

        monkeypatch.setattr(os, "remove", crash_at_k)
        with pytest.raises(OSError, match="injected crash"):
            vacuum(work, keep_last=1, grace_seconds=0)
        monkeypatch.setattr(os, "remove", real_remove)

        rep = verify_table(work)
        assert rep["ok"], (k, rep)
        for v in table_versions(work):
            read_version(spark, work, v).count()
        vacuum(work, keep_last=1, grace_seconds=0)
        assert table_versions(work) == [3], k
        assert vacuum(work, keep_last=1, grace_seconds=0)["data_files_removed"] == 0
        assert sorted(read_version(spark, work).collect()) == head, k


def test_purge_after_drop_column_keeps_dropped_values_in_history(spark, root):
    """Purge rewrites each hit file under the union of every retained
    schema: a column dropped from the head still holds its values in the
    older snapshots that read it, for every row that is not a victim."""
    from python_async_sample_spark.sources.versioned import drop_column, purge_keys

    df = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s2"), (3, "c", "s3")], "k int, v string, secret string"
    )
    create_table(spark, root, df, n_files=1)
    drop_column(spark, root, "secret")
    purge_keys(spark, root, "k", [2])
    assert sorted(read_version(spark, root, 0).collect()) == [(1, "a", "s1"), (3, "c", "s3")]
    assert sorted(read_version(spark, root).collect()) == [(1, "a"), (3, "c")]


def test_delete_and_purge_keep_a_clustered_layout(spark, sf_dir, root):
    """Each file DELETE or PURGE writes holds rows of exactly one old
    file, so on a ``layout_col``-clustered table every replacement's key
    range lies inside the range of the file it replaced, and a range scan
    prunes to as many files after the verb as before it."""
    from python_async_sample_spark.sources.versioned import (
        _read_manifest,
        delete_relation,
        prune_files_for_range,
        purge_keys,
    )

    orders = _orders(spark, sf_dir)
    create_table(spark, root, orders, n_files=8, layout_col="o_orderkey")
    m0 = _read_manifest(root, 0)
    old = {n: m0["stats"][n]["cols"]["o_orderkey"] for n in m0["files"]}
    a, b = sorted(old.values())[1:3]  # a scan across two neighbouring files
    lo, hi = (a[0] + a[1]) // 2, (b[0] + b[1]) // 2
    n_picked = len(prune_files_for_range(root, "o_orderkey", lo, hi)[0])
    assert n_picked == 2

    def check(version):
        m = _read_manifest(root, version)
        for n in m["files"]:
            nlo, nhi = m["stats"][n]["cols"]["o_orderkey"]
            assert any(olo <= nlo and nhi <= ohi for olo, ohi in old.values()), (n, nlo, nhi)
        assert len(prune_files_for_range(root, "o_orderkey", lo, hi, version)[0]) == n_picked

    victims = orders.where(F.col("o_custkey") % 53 == 0).select("o_orderkey")
    res = delete_relation(spark, root, "o_orderkey", victims)
    assert res["rewritten"] > 2 and res["deleted_rows"] > 0
    check(res["version"])
    keys = [r[0] for r in orders.where(F.col("o_custkey") % 41 == 0).select("o_orderkey").collect()]
    assert purge_keys(spark, root, "o_orderkey", keys)["files_rewritten"] > 2
    check(0)
    check(res["version"])


def test_purge_job_count_does_not_grow_with_files_hit(spark, sf_dir, root):
    """All hit files are rewritten by one write job: a purge that hits 2
    files starts as many Spark jobs as one that hits 8."""
    from python_async_sample_spark.sources.versioned import _read_manifest, purge_keys

    def next_job() -> int:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    orders = _orders(spark, sf_dir)
    jobs = {}
    for n_hit in (2, 8):
        r = f"{root}-{n_hit}"
        create_table(spark, r, orders, n_files=8, layout_col="o_orderkey")
        m = _read_manifest(r, 0)
        keys = [m["stats"][n]["cols"]["o_orderkey"][0] for n in m["files"][:n_hit]]
        j0 = next_job()
        res = purge_keys(spark, r, "o_orderkey", keys)
        jobs[n_hit] = next_job() - j0
        assert res["files_rewritten"] == n_hit
    assert jobs[2] == jobs[8], jobs
