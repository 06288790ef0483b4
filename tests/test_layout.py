"""Clustered and Z-ordered snapshot layouts: keyed DELETE/MERGE pruning on
them, the Morton curve, and hive-partition pruning."""

from __future__ import annotations

import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from python_async_sample_spark.sources.readers import load_table
from python_async_sample_spark.sources.versioned import (
    _DATA_DIR,
    _collect_file_stats,
    _commit,
    _read_manifest,
    create_table,
    current_version,
    delete_keys_versioned,
    merge_into_versioned,
    read_version,
)


@pytest.fixture(scope="module")
def fragmented(spark, sf_dir):
    """The events table shattered into 64 small files — the post-streaming
    sink shape compaction exists to fix."""
    tmp = tempfile.mkdtemp(prefix="layout_frag_") + "/events_64"
    load_table(spark, sf_dir, "events").repartition(64).write.parquet(tmp)
    return tmp


# Keyed DELETE and MERGE live in ``sources.versioned`` and commit as one
# manifest; the tests below check that they prune on the per-file ranges a
# clustered layout gives them.


def _data_file(root: str, name: str) -> str:
    return f"{root}/{_DATA_DIR}/{name}"


def test_delete_keys_rewrites_only_affected_files(spark, fragmented, tmp_path):
    root = str(tmp_path / "gdpr")
    create_table(spark, root, spark.read.parquet(fragmented), n_files=4, layout_col="user_id")
    m0 = _read_manifest(root, 0)
    assert len(m0["files"]) == 4
    before_files = {n: pq.read_metadata(_data_file(root, n)).num_rows for n in m0["files"]}
    before_count = read_version(spark, root).count()
    # pick two users from the LOWEST range file so other files stay put
    first = min(m0["files"], key=lambda n: m0["stats"][n]["cols"]["user_id"][0])
    lo_users = sorted(
        r["user_id"]
        for r in spark.read.parquet(_data_file(root, first)).select("user_id").distinct().collect()
    )[:2]
    n_target = read_version(spark, root).where(F.col("user_id").isin(lo_users)).count()
    assert n_target > 0

    stats = delete_keys_versioned(spark, root, "user_id", lo_users)
    assert stats["deleted_rows"] == n_target
    assert stats["rewritten"] >= 1
    m1 = _read_manifest(root, stats["version"])
    survivors = set(m1["files"]) & set(before_files)
    assert stats["rewritten"] + len(survivors) == 4

    after = read_version(spark, root)
    assert after.where(F.col("user_id").isin(lo_users)).count() == 0
    assert after.count() == before_count - n_target
    # untouched files are carried over by name with the same row count
    assert survivors
    for n in survivors:
        assert pq.read_metadata(_data_file(root, n)).num_rows == before_files[n]


def test_delete_keys_second_pass_scans_rewritten_files(spark, fragmented, tmp_path):
    """Keys living in a prior pass's rewritten output must still be
    deletable, and a second pass must never clobber the first pass's kept
    rows (the GDPR contract across repeated invocations)."""
    root = str(tmp_path / "gdpr_twice")
    create_table(spark, root, spark.read.parquet(fragmented), n_files=4, layout_col="user_id")
    head = read_version(spark, root)
    all_users = sorted(r["user_id"] for r in head.select("user_id").distinct().collect())
    first_batch, second_batch = all_users[:1], all_users[1:2]
    total = head.count()
    n1 = head.where(F.col("user_id").isin(first_batch)).count()
    n2 = head.where(F.col("user_id").isin(second_batch)).count()
    assert n1 > 0 and n2 > 0

    s1 = delete_keys_versioned(spark, root, "user_id", first_batch)
    assert s1["deleted_rows"] == n1
    # second pass targets users whose rows now live in pass-1's rewritten
    # files (same clustered range) — they must be found and removed, and
    # pass-1's kept rows must survive
    s2 = delete_keys_versioned(spark, root, "user_id", second_batch)
    assert s2["deleted_rows"] == n2
    after = read_version(spark, root)
    assert after.where(F.col("user_id").isin(first_batch + second_batch)).count() == 0
    assert after.count() == total - n1 - n2


def test_delete_keys_tolerates_missing_footer_stats(spark, tmp_path):
    """A file whose writer omitted column statistics gets a manifest stats
    entry with its row count but no column ranges; the keyed delete treats
    it as conservatively affected instead of crashing or skipping it."""
    import pyarrow as pa

    root = str(tmp_path / "nostats")
    df = spark.createDataFrame(
        [(i, f"payload-{i}") for i in range(100)], "user_id bigint, body string"
    )
    create_table(spark, root, df, n_files=1)
    m0 = _read_manifest(root, 0)
    # add one file written WITHOUT footer statistics: its stats entry has
    # the row count and no column range
    tbl = pa.table({"user_id": pa.array([500, 501], pa.int64()),
                    "body": pa.array(["x", "y"])})
    pq.write_table(tbl, _data_file(root, "nostats-extra.parquet"), write_statistics=False)
    extra = _collect_file_stats(root, ["nostats-extra.parquet"])
    assert extra["nostats-extra.parquet"] == {"rows": 2, "cols": {}}
    _commit(
        root, m0["files"] + ["nostats-extra.parquet"], m0["schema"], "append", 0,
        stats=extra,
    )

    stats = delete_keys_versioned(spark, root, "user_id", [500, 3])
    assert stats["deleted_rows"] == 2
    after = read_version(spark, root)
    assert after.where(F.col("user_id").isin([500, 3])).count() == 0
    assert after.count() == 100 + 2 - 2


def test_morton_covers_full_16bit_domain(spark):
    """The spread-bits chain must ride long arithmetic: on ints, inputs
    >= 0x8000 reach bit 30 and the final shift wraps negative in 32-bit
    math — half the documented domain."""
    from python_async_sample_spark.sources.layout import morton2

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (65535, 65535), (32768, 32768), (65535, 0)],
        "x int, y int",
    )
    got = {(r.x, r.y): r.z for r in df.withColumn("z", morton2(F.col("x"), F.col("y"))).collect()}
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    assert got[(65535, 65535)] == 0xFFFFFFFF
    assert got[(32768, 32768)] == 0xC0000000
    assert got[(65535, 0)] == 0x55555555
    assert all(z >= 0 for z in got.values())


def test_delete_keys_on_zordered_table(spark, fragmented, tmp_path):
    """The layout composes with keyed writes: a GDPR delete on a table
    written along the Z-curve prunes by per-file ranges exactly as on a
    range-clustered one — rewriting only the files whose value_i range can
    contain the targets."""
    from python_async_sample_spark.sources.layout import morton2

    root = str(tmp_path / "zgdpr")
    df = spark.read.parquet(fragmented).withColumn("value_i", F.col("value").cast("int"))
    create_table(
        spark, root, df, n_files=8,
        layout_col=morton2(F.col("user_id"), F.col("value_i")),
    )

    head = read_version(spark, root)
    vals = sorted(r.value_i for r in head.select("value_i").distinct().collect())
    target = vals[:2]  # low-value keys live in the curve's low-z files
    before = head.count()
    n_target = head.where(F.col("value_i").isin(target)).count()
    n_files = len(_read_manifest(root, 0)["files"])
    stats = delete_keys_versioned(spark, root, "value_i", target)
    assert stats["deleted_rows"] == n_target
    # the curve clusters value_i ranges, so high-value files stay untouched
    assert stats["rewritten"] < n_files
    after = read_version(spark, root)
    assert after.count() == before - n_target
    assert after.where(F.col("value_i").isin(target)).count() == 0


def test_hive_partition_pruning_reads_only_matching_dirs(spark, sf_dir, tmp_path):
    """A filter on the partition column must become a PartitionFilter (plan
    level) and the scan must touch only the matching day's files (file
    level) — the before-any-footer pruning lever for a day-partitioned
    100 TB table."""
    from python_async_sample_spark.sources.layout import write_hive_partitioned
    from python_async_sample_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_day")
    write_hive_partitioned(ev, path, ["day"])

    df = spark.read.parquet(path).where(F.col("day") == "2024-01-05")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-05" in plan, plan

    # file-level proof: the scanned files all live under the matching dir
    scanned = [
        r["file"]
        for r in df.select(F.input_file_name().alias("file")).distinct().collect()
    ]
    assert scanned and all("day=2024-01-05" in f for f in scanned)

    # correctness: pruned read equals a full-scan filter
    full = ev.where(F.col("day") == "2024-01-05").count()
    assert df.count() == full


def test_delete_keys_preserves_null_key_rows(spark, tmp_path):
    """NULL-key rows in an affected file must survive deletion (~isin() is
    NULL for NULL keys — a naive filter drops them silently and miscounts
    them as deleted)."""
    root = str(tmp_path / "tbl")
    rows = [(i if i % 4 else None, f"r{i}") for i in range(40)]
    create_table(
        spark, root, spark.createDataFrame(rows, "user_id long, payload string"), n_files=2
    )
    n_null = sum(1 for k, _ in rows if k is None)
    out = delete_keys_versioned(spark, root, "user_id", [5, 9])
    assert out["deleted_rows"] == 2
    left = read_version(spark, root)
    assert left.where(F.col("user_id").isNull()).count() == n_null
    assert left.count() == 40 - 2


def test_delete_keys_refuses_remote_uris(spark):
    with pytest.raises(ValueError, match="local paths only"):
        delete_keys_versioned(spark, "s3a://bucket/table", "user_id", [1])


@pytest.fixture()
def keyed_table(spark, sf_dir, tmp_path):
    """A fresh range-clustered versioned copy of orders keyed by
    o_orderkey — the shape a keyed merge prunes well on (each file owns a
    key range)."""
    root = str(tmp_path / "orders")
    create_table(
        spark, root, load_table(spark, sf_dir, "orders"), n_files=8, layout_col="o_orderkey"
    )
    return root


def test_merge_into_updates_and_inserts(spark, sf_dir, keyed_table):
    before = read_version(spark, keyed_table)
    n_before = before.count()
    some = [r["o_orderkey"] for r in before.select("o_orderkey").limit(5).collect()]
    max_key = before.agg(F.max("o_orderkey")).collect()[0][0]

    updates = (
        before.where(F.col("o_orderkey").isin(some))
        .withColumn("o_orderstatus", F.lit("M"))
        .unionByName(
            before.where(F.col("o_orderkey").isin(some[:2]))
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(max_key + 1))
            .withColumn("o_orderstatus", F.lit("N"))
        )
    )
    stats = merge_into_versioned(spark, keyed_table, updates, "o_orderkey")
    assert stats["upserted_rows"] == 7
    assert stats["replaced_rows"] == 5  # the 5 matched keys were replaced
    assert stats["rewritten"] >= 1 and stats["untouched"] >= 1  # file pruning

    after = read_version(spark, keyed_table)
    assert after.count() == n_before + 2
    assert after.where(F.col("o_orderkey").isin(some)).where(
        F.col("o_orderstatus") != "M"
    ).count() == 0
    assert after.where(F.col("o_orderstatus") == "N").count() == 2
    # key uniqueness preserved
    assert after.groupBy("o_orderkey").count().where("count > 1").count() == 0


def test_merge_into_is_idempotent_under_redelivery(spark, keyed_table):
    before = read_version(spark, keyed_table)
    some = [r["o_orderkey"] for r in before.select("o_orderkey").limit(3).collect()]
    updates = before.where(F.col("o_orderkey").isin(some)).withColumn(
        "o_totalprice", F.lit(999.99)
    )
    merge_into_versioned(spark, keyed_table, updates, "o_orderkey")
    snapshot = sorted(tuple(r) for r in read_version(spark, keyed_table).collect())
    merge_into_versioned(spark, keyed_table, updates, "o_orderkey")  # re-delivery
    again = sorted(tuple(r) for r in read_version(spark, keyed_table).collect())
    assert snapshot == again


def test_merge_into_rejects_duplicate_source_keys(spark, keyed_table):
    import re

    one = read_version(spark, keyed_table).limit(1)
    dup = one.unionByName(one.withColumn("o_orderstatus", F.lit("X")))
    with pytest.raises(ValueError, match=re.escape("duplicate merge key")):
        merge_into_versioned(spark, keyed_table, dup, "o_orderkey")


def test_merge_into_rejects_null_keys(spark, keyed_table):
    nulled = read_version(spark, keyed_table).limit(1).withColumn(
        "o_orderkey", F.lit(None).cast("long")
    )
    with pytest.raises(ValueError, match="NULL merge keys"):
        merge_into_versioned(spark, keyed_table, nulled, "o_orderkey")


def test_merge_into_rejects_schema_drift_and_remote_paths(spark, keyed_table):
    before = read_version(spark, keyed_table)
    with pytest.raises(AnalysisException, match="o_orderpriority"):
        merge_into_versioned(
            spark, keyed_table, before.drop("o_orderpriority"), "o_orderkey"
        )
    with pytest.raises(ValueError, match="local paths only"):
        merge_into_versioned(spark, "s3://bucket/t", before, "o_orderkey")
    assert current_version(keyed_table) == 0  # nothing committed
