"""Incremental subsystem tests: watermark store, overwrite-window sink,
chunked catch-up, idempotent re-delivery, schema reconciliation, cascade."""

from __future__ import annotations

import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_async_sample_spark.incremental import (
    IncrementalRunner,
    IncrementalStage,
    WatermarkStore,
    overwrite_window,
    read_target,
)
from python_async_sample_spark.sources.readers import load_table
from python_async_sample_spark.sources.schema import BatchAbort, column_state, reconcile


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture()
def tmpdir():
    with tempfile.TemporaryDirectory() as d:
        yield d


def test_watermark_store_roundtrip(spark, tmpdir):
    store = WatermarkStore(spark, f"{tmpdir}/state")
    assert store.get("nikon", "EDC_Import") is None
    store.put("nikon", "EDC_Import", ts("2024-01-05 00:00:00"))
    assert store.get("NIKON", "EDC_Import") == ts("2024-01-05 00:00:00")
    # upsert replaces, other keys unaffected
    store.put("NIKON", "ROT_Transform", ts("2024-01-03 00:00:00"))
    store.put("NIKON", "EDC_Import", ts("2024-01-06 00:00:00"))
    assert store.get("NIKON", "EDC_Import") == ts("2024-01-06 00:00:00")
    assert store.get("NIKON", "ROT_Transform") == ts("2024-01-03 00:00:00")


def test_overwrite_window_idempotent(spark, sf_dir, tmpdir):
    events = load_table(spark, sf_dir, "events")
    target = f"{tmpdir}/target"
    lo, hi = ts("2024-01-05 00:00:00"), ts("2024-01-10 00:00:00")

    overwrite_window(events, target, "ts", lo, hi)
    first = read_target(spark, target)
    n1 = first.count()
    expected = events.where((F.col("ts") > F.lit(lo)) & (F.col("ts") <= F.lit(hi))).count()
    assert n1 == expected > 0

    # re-delivering the same window must not duplicate (I3)
    overwrite_window(events, target, "ts", lo, hi)
    assert read_target(spark, target).count() == n1

    # overlapping window: non-day-aligned boundaries keep out-of-window rows
    lo2, hi2 = ts("2024-01-08 12:00:00"), ts("2024-01-12 00:00:00")
    overwrite_window(events, target, "ts", lo2, hi2)
    total = read_target(spark, target).count()
    expected_total = events.where(
        (F.col("ts") > F.lit(lo)) & (F.col("ts") <= F.lit(hi2))
    ).count()
    assert total == expected_total

    # no duplicate event_ids anywhere
    tgt = read_target(spark, target)
    assert tgt.count() == tgt.select("event_id").distinct().count()


def test_overwrite_window_crash_during_write_leaves_old_window(spark, sf_dir, tmpdir):
    """Atomic-visibility commit: a failure anywhere in the data-sized write
    step must leave the previously-committed window fully readable (the old
    delete-then-insert protocol left the window absent)."""
    events = load_table(spark, sf_dir, "events")
    target = f"{tmpdir}/target"
    lo, hi = ts("2024-01-05 00:00:00"), ts("2024-01-10 00:00:00")
    overwrite_window(events, target, "ts", lo, hi)
    before = sorted(r["event_id"] for r in read_target(spark, target).collect())
    assert before

    # re-deliver the same window with a payload that fails mid-write
    @F.udf("double")
    def boom(v):
        raise RuntimeError("injected mid-write failure")

    poisoned = events.withColumn("value", boom(F.col("value")))
    with pytest.raises(Exception, match="injected|Job aborted|boom|Task"):
        overwrite_window(poisoned, target, "ts", lo, hi)

    # old window intact; a crashed stage dir may remain (readers ignore
    # dot-dirs, and it is preserved deliberately — it can hold the only
    # copy of boundary rows when a later swap fails)
    after = sorted(r["event_id"] for r in read_target(spark, target).collect())
    assert after == before

    # the next successful delivery garbage-collects stale stage dirs
    overwrite_window(events, target, "ts", lo, hi)
    assert sorted(r["event_id"] for r in read_target(spark, target).collect()) == before
    import glob as _glob

    assert not _glob.glob(f"{target}/.stage-*")


def test_watermark_store_concurrent_advance_last_writer_wins(spark, tmpdir):
    """Two store handles racing on the same path: whole-file rewrite means
    the last put() wins and the file is never torn (documented single-writer
    contract; POSIX rename is atomic)."""
    path = f"{tmpdir}/state"
    a = WatermarkStore(spark, path)
    b = WatermarkStore(spark, path)
    assert b.get("NIKON", "EDC_Import") is None  # b caches the pre-a view
    a.put("NIKON", "EDC_Import", ts("2024-01-05 00:00:00"))
    # b writes from its stale cache; the whole-file rewrite drops a's row
    b.put("NIKON", "ROT_Transform", ts("2024-01-03 00:00:00"))

    fresh = WatermarkStore(spark, path)
    # last writer (b) wins wholesale: a's EDC row is gone, b's ROT row is
    # intact and readable — no torn/partial file
    assert fresh.get("NIKON", "ROT_Transform") == ts("2024-01-03 00:00:00")
    assert fresh.get("NIKON", "EDC_Import") is None

    # sequential advances through ONE handle (the supported contract) keep
    # every row
    c = WatermarkStore(spark, path)
    c.put("NIKON", "EDC_Import", ts("2024-01-06 00:00:00"))
    final = WatermarkStore(spark, path)
    assert final.get("NIKON", "EDC_Import") == ts("2024-01-06 00:00:00")
    assert final.get("NIKON", "ROT_Transform") == ts("2024-01-03 00:00:00")


def test_overwrite_window_does_not_mutate_session_conf(spark, sf_dir, tmpdir):
    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key)
    events = load_table(spark, sf_dir, "events")
    overwrite_window(
        events, f"{tmpdir}/t", "ts", ts("2024-01-05 00:00:00"), ts("2024-01-07 00:00:00")
    )
    assert spark.conf.get(key) == saved


def test_schema_reconciliation(spark):
    target = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.DoubleType()),
        ]
    )
    src = spark.createDataFrame([(1, "2.5", "junk")], ["A", "b", "extra"])
    state = column_state(src.schema, target)
    assert state.add_cols == ("extra",) and state.ok

    out = reconcile(src, target)
    assert out.columns == ["a", "b"]
    row = out.first()
    assert row.a == 1 and row.b == 2.5  # string cast to double in-plan

    # a column named after a keyword, one already of the target type, and
    # decimals: a string cast to decimal, a decimal narrowed to the target
    import decimal

    wide = T.StructType(
        target.fields
        + [
            T.StructField("select", T.LongType()),
            T.StructField("amt", T.DecimalType(10, 2)),
            T.StructField("rate", T.DecimalType(10, 2)),
        ]
    )
    src2 = spark.createDataFrame(
        [(1, "2.5", 7, "3.14", decimal.Decimal("0.1250"))],
        "A long, b string, SELECT long, amt string, rate decimal(12,4)",
    )
    out2 = reconcile(src2, wide)
    assert out2.columns == ["a", "b", "select", "amt", "rate"]
    assert out2.schema == wide
    assert tuple(out2.first()) == (1, 2.5, 7, decimal.Decimal("3.14"), decimal.Decimal("0.13"))

    missing = spark.createDataFrame([(1,)], ["a"])
    bad = column_state(missing.schema, target)
    assert bad.del_cols == ("b",) and not bad.ok
    with pytest.raises(BatchAbort):
        reconcile(missing, target)


def test_chunked_catchup_and_cascade(spark, sf_dir, tmpdir):
    store = WatermarkStore(spark, f"{tmpdir}/state")
    runner = IncrementalRunner(spark, store)

    edc = IncrementalStage(
        name="EDC_Import",
        source=lambda s: load_table(s, sf_dir, "events"),
        target_path=f"{tmpdir}/edc",
        ts_col="ts",
    )
    # downstream stage: aggregates the EDC target per (day, type) — its
    # window is bounded by EDC's watermark (I7)
    rot = IncrementalStage(
        name="ROT_Transform",
        source=lambda s: s.read.parquet(f"{tmpdir}/edc"),
        target_path=f"{tmpdir}/rot",
        ts_col="ts",
        upstream="EDC_Import",
    )

    store.put("NIKON", "EDC_Import", ts("2024-01-25 00:00:00"))
    store.put("NIKON", "ROT_Transform", ts("2024-01-25 00:00:00"))

    iters = runner.run(edc)
    # max ts ≈ 2024-01-30 23:26 → 6 one-day chunks from the 25th
    assert 5 <= iters <= 7
    src_max = load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    assert store.get("NIKON", "EDC_Import") == src_max

    n_target = read_target(spark, tmpdir + "/edc").count()
    n_expected = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts") > F.lit(ts("2024-01-25 00:00:00")))
        .count()
    )
    assert n_target == n_expected > 0

    # cascade: rot follows, bounded by edc's watermark
    iters_rot = runner.run(rot)
    assert iters_rot >= 1
    assert store.get("NIKON", "ROT_Transform") == src_max
    assert read_target(spark, tmpdir + "/rot").count() == n_expected

    # re-run with no new data → zero iterations (guard ora_wm > psql_wm,
    # nikon_ETL.py:344)
    assert runner.run(edc) == 0

    # late re-delivery: rewind one day and re-run → same row set (I6)
    store.put("NIKON", "EDC_Import", ts("2024-01-29 00:00:00"))
    runner.run(edc)
    assert read_target(spark, tmpdir + "/edc").count() == n_expected


def test_watermark_store_file_uri(spark, tmpdir):
    # the store resolves pyarrow filesystems from the path's URI scheme, so a
    # file:// URI (stand-in for hdfs://, s3://) round-trips identically
    store = WatermarkStore(spark, f"file://{tmpdir}/state")
    store.put("NIKON", "EDC_Import", ts("2024-01-05 00:00:00"))
    reread = WatermarkStore(spark, f"file://{tmpdir}/state")
    assert reread.get("NIKON", "EDC_Import") == ts("2024-01-05 00:00:00")


def test_retraction_rewrites_empty_partition(spark, tmpdir):
    # ADVICE: a re-delivered window that retracts every row of a touched day
    # must delete that day — dynamic partition overwrite alone cannot.
    target = f"{tmpdir}/target"
    lo, hi = ts("2024-01-05 00:00:00"), ts("2024-01-07 00:00:00")
    src = spark.createDataFrame(
        [(1, ts("2024-01-05 10:00:00")), (2, ts("2024-01-06 10:00:00"))],
        ["event_id", "ts"],
    )
    overwrite_window(src, target, "ts", lo, hi)
    assert read_target(spark, target).count() == 2

    retracted = src.where(F.col("event_id") != 1)  # day 05 fully retracted
    overwrite_window(retracted, target, "ts", lo, hi)
    left = [r.event_id for r in read_target(spark, target).collect()]
    assert left == [2]


def test_partition_probe_uses_fs_abstraction(spark, sf_dir, tmpdir, monkeypatch):
    # partition metadata must route through the Hadoop FileSystem API
    # (scheme-aware), never os.path; and one listing of the target per
    # delivery replaces the per-day exists probes
    import inspect

    from python_async_sample_spark.incremental import sink
    from python_async_sample_spark.sources import hadoop_fs

    assert "os.path" not in inspect.getsource(sink), "os.path on the data path"

    listed, probed = [], []
    real_listdir, real_exists = hadoop_fs.listdir, hadoop_fs.exists

    def recording_listdir(s, path):
        listed.append(path)
        return real_listdir(s, path)

    def recording_exists(s, path):
        probed.append(path)
        return real_exists(s, path)

    monkeypatch.setattr(sink.hadoop_fs, "listdir", recording_listdir)
    monkeypatch.setattr(sink.hadoop_fs, "exists", recording_exists)
    events = load_table(spark, sf_dir, "events")
    target = f"{tmpdir}/t"
    lo, hi = ts("2024-01-05 00:00:00"), ts("2024-01-07 00:00:00")
    overwrite_window(events, target, "ts", lo, hi)
    assert listed.count(target) == 1, listed
    n1 = read_target(spark, target).count()
    overwrite_window(events, target, "ts", lo, hi)  # re-delivery
    assert read_target(spark, target).count() == n1 > 0
    assert listed.count(target) == 2, listed  # one target listing per delivery
    assert probed == []


def test_no_jvm_package_walks():
    """JVM classes are resolved by their full name in one py4j round trip
    (``hadoop_fs.jclass``). An attribute walk from the JVM view
    (``jvm.org.apache...``) costs a round trip per segment, each a failed
    class lookup."""
    import ast
    import pathlib

    import python_async_sample_spark as pkg

    walks = []
    for path in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Attribute) and node.attr in ("org", "java", "javax", "scala"):
                base = node.value
                name = base.attr if isinstance(base, ast.Attribute) else getattr(base, "id", None)
                if name in ("_jvm", "jvm"):
                    walks.append(f"{path.name}:{node.lineno}")
    assert walks == []


def test_layout_imports_nothing_from_versioned():
    """``sources/layout`` rewrites files into new directories and keeps no
    keyed-mutation code; ``sources/versioned`` builds on it (``morton2``),
    never the reverse.  Function-level imports count too."""
    import ast
    import pathlib

    import python_async_sample_spark as pkg

    path = pathlib.Path(pkg.__file__).parent / "sources" / "layout.py"
    found = []
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.ImportFrom):
            mods = [node.module or ""] + [f"{node.module}.{a.name}" for a in node.names]
        elif isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        else:
            continue
        if any("versioned" in m.split(".") for m in mods):
            found.append(f"layout.py:{node.lineno}")
    assert found == []


def test_stage_write_is_plain(spark, tmp_path, monkeypatch):
    """The stage is a plain write: mid-swap it holds only ``__dt=*`` dirs,
    with no ``_SUCCESS`` marker and no dynamic-overwrite staging dir, and
    the target does not depend on the session's partitionOverwriteMode."""
    import datetime as dt
    import glob
    import os

    from python_async_sample_spark.sources import hadoop_fs

    day = (dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 3))
    first = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 5), 1), (dt.datetime(2024, 1, 2, 0), 2)], "ts timestamp, v int"
    )
    again = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 7), 3), (dt.datetime(2024, 1, 2, 9), 4)], "ts timestamp, v int"
    )

    class RefusingRename:
        """A FileSystem whose rename reports failure and moves nothing."""

        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            return False

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real_fs = hadoop_fs._fs

    def refusing_fs(s, path):
        fs, jpath = real_fs(s, path)
        return RefusingRename(fs), jpath

    def fail_mid_swap(path):
        """Deliver ``first`` with every rename refused; return the names in
        the stage dir left behind, and whether any level of it holds a
        ``_SUCCESS`` marker or a ``.spark-staging-*`` dir."""
        with monkeypatch.context() as m:
            m.setattr(hadoop_fs, "_fs", refusing_fs)
            with pytest.raises(RuntimeError, match="staged data preserved"):
                overwrite_window(first, path, "ts", *day)
        (stage,) = glob.glob(f"{path}/.stage-*")
        extra = [
            f"{root}/{n}"
            for root, dirs, files in os.walk(stage)
            for n in dirs + files
            if n == "_SUCCESS" or n.startswith(".spark-staging")
        ]
        return sorted(os.listdir(stage)), extra

    def deliver(path):
        """The stale stage heals forward, then two deliveries land."""
        overwrite_window(first, path, "ts", *day)
        overwrite_window(again, path, "ts", dt.datetime(2024, 1, 1, 6), dt.datetime(2024, 1, 2, 12))
        parts = sorted(os.listdir(path))
        return parts, sorted(tuple(r) for r in read_target(spark, path).collect())

    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key)
    results = {}
    try:
        for mode in ("dynamic", "static"):
            spark.conf.set(key, mode)
            path = str(tmp_path / mode)
            assert fail_mid_swap(path) == (["__dt=2024-01-01", "__dt=2024-01-02"], []), mode
            results[mode] = deliver(path)
    finally:
        spark.conf.set(key, saved)
    assert results["dynamic"] == results["static"] == (
        ["__dt=2024-01-01", "__dt=2024-01-02"],
        [
            (dt.datetime(2024, 1, 1, 5), 1),
            (dt.datetime(2024, 1, 1, 7), 3),
            (dt.datetime(2024, 1, 2, 9), 4),
        ],
    )  # the re-delivered window retracted v=2


def test_iteration_cap(spark, sf_dir, tmpdir):
    from datetime import timedelta

    store = WatermarkStore(spark, f"{tmpdir}/state")
    runner = IncrementalRunner(spark, store)
    stage = IncrementalStage(
        name="EDC_Import",
        source=lambda s: load_table(s, sf_dir, "events"),
        target_path=f"{tmpdir}/edc",
        ts_col="ts",
        chunk=timedelta(hours=1),
        max_iter=3,
    )
    store.put("NIKON", "EDC_Import", ts("2024-01-01 00:00:00"))
    assert runner.run(stage) == 3  # hard stop (nikon_ETL.py:459-461)
    assert store.get("NIKON", "EDC_Import") == ts("2024-01-01 03:00:00")


def test_incremental_lsh_reingested_doc_never_self_pairs(spark):
    """Review fix: a doc present in BOTH the batch and history band
    indexes (re-ingest) must not emit a (d, d) self-pair."""
    from python_async_sample_spark.operators.dedup import (
        band_index,
        incremental_lsh_candidates,
        minhash_signatures,
        shingle_index,
    )

    text = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    idx = band_index(minhash_signatures(shingle_index(docs, "doc_id", "text")))
    # same doc ids on both sides — the re-delivery scenario
    pairs = incremental_lsh_candidates(idx, idx).collect()
    assert pairs, "identical docs must still pair with each other"
    for r in pairs:
        assert r["d1"] < r["d2"], r


def test_overwrite_window_partition_labels_are_utc_under_hostile_session_tz(spark, tmp_path):
    """Review fix: partition labels must come from epoch-day arithmetic,
    not date_format (session-tz): under America/New_York a row at 02:00
    UTC previously labeled into the PREVIOUS day's partition — outside
    the touched set — and the swap dropped existing rows."""
    import datetime as dt
    import os

    from python_async_sample_spark.incremental.sink import overwrite_window

    target = str(tmp_path / "tgt")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 2, 2, 0, 0), 1)], "ts timestamp, v int"
        )
        overwrite_window(
            df, target, "ts",
            dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 3),
        )
        parts = sorted(
            d for d in os.listdir(target) if d.startswith("__dt=")
        )
        assert parts == ["__dt=2024-01-02"], parts
        assert spark.read.parquet(target).count() == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_overwrite_window_heals_interrupted_swap_before_next_delivery(spark, tmp_path):
    """Review fix: a crash BETWEEN 'delete old partition' and 'rename staged
    in' leaves the staged dir holding the ONLY copy of that partition's
    rows; the next delivery must rename it back IN (heal-forward) before
    garbage-collecting the stage — the old code deleted the stage first,
    losing the partition permanently."""
    import datetime as dt
    import os
    import shutil

    from python_async_sample_spark.incremental.sink import overwrite_window

    target = str(tmp_path / "tgt")
    # day 1 exists from a prior delivery
    d1 = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 5), 100), (dt.datetime(2024, 1, 1, 6), 101)],
        "ts timestamp, v int",
    )
    overwrite_window(d1, target, "ts", dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))
    assert spark.read.parquet(target).count() == 2

    # simulate the crash window: the partition was deleted and its full
    # replacement sits ONLY in a stale stage dir
    part = f"{target}/__dt=2024-01-01"
    stale = f"{target}/.stage-deadbeef"
    os.makedirs(stale, exist_ok=True)
    shutil.move(part, f"{stale}/__dt=2024-01-01")
    assert not os.path.exists(part)

    # next idempotent delivery (a different, empty window) must heal first
    empty = spark.createDataFrame([], "ts timestamp, v int")
    overwrite_window(
        empty, target, "ts", dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 6)
    )
    assert os.path.exists(part), "interrupted swap was not healed forward"
    assert not os.path.exists(stale)
    assert spark.read.parquet(target).count() == 2


def test_cascade_rewind_must_reach_downstream(spark, sf_dir, tmpdir):
    # The q211 design check: phase 1 delivers a poisoned last day through the
    # EDC->ROT cascade; phase 2 rewinds ONLY the upstream stage and
    # re-delivers clean data. The downstream target must then still hold the
    # poisoned rows — proving that a cascade-ordering bug (downstream not
    # rewound / not re-extracted) is visible in final state, i.e. q211's
    # oracle comparison genuinely catches it when the full rewind is correct.
    store = WatermarkStore(spark, f"{tmpdir}/state")
    runner = IncrementalRunner(spark, store)
    wm0 = ts("2024-01-24 00:00:00")
    mid = ts("2024-01-28 00:00:00")
    rewind = ts("2024-01-27 00:00:00")

    def poisoned(s):
        ev = load_table(s, sf_dir, "events").where(F.col("ts") <= F.lit(mid))
        return ev.withColumn(
            "value",
            F.when(F.col("ts") > F.lit(rewind), F.col("value") * 100).otherwise(
                F.col("value")
            ),
        )

    def stages(source):
        return [
            IncrementalStage(
                name="EDC_Import", source=source,
                target_path=f"{tmpdir}/edc", ts_col="ts",
            ),
            IncrementalStage(
                name="ROT_Transform",
                source=lambda s: read_target(s, f"{tmpdir}/edc"),
                target_path=f"{tmpdir}/rot", ts_col="ts",
                upstream="EDC_Import",
            ),
        ]

    store.put("NIKON", "EDC_Import", wm0)
    store.put("NIKON", "ROT_Transform", wm0)
    runner.run_cascade(stages(poisoned))

    clean = lambda s: load_table(s, sf_dir, "events")  # noqa: E731
    clean_max = (
        load_table(spark, sf_dir, "events")
        .where((F.col("ts") > F.lit(rewind)) & (F.col("ts") <= F.lit(mid)))
        .agg(F.max("value"))
        .first()[0]
    )

    # Buggy rewind: upstream only. EDC heals, ROT keeps the poisoned day.
    store.put("NIKON", "EDC_Import", rewind)
    runner.run_cascade(stages(clean))
    rot_max = (
        read_target(spark, f"{tmpdir}/rot")
        .where((F.col("ts") > F.lit(rewind)) & (F.col("ts") <= F.lit(mid)))
        .agg(F.max("value"))
        .first()[0]
    )
    assert rot_max > clean_max * 50, "poison unexpectedly healed without rewind"

    # Correct rewind: downstream too. Both targets equal the clean source.
    store.put("NIKON", "EDC_Import", rewind)
    store.put("NIKON", "ROT_Transform", rewind)
    runner.run_cascade(stages(clean))
    healed_max = (
        read_target(spark, f"{tmpdir}/rot")
        .where((F.col("ts") > F.lit(rewind)) & (F.col("ts") <= F.lit(mid)))
        .agg(F.max("value"))
        .first()[0]
    )
    assert healed_max == clean_max


def test_refused_partition_delete_aborts_swap_before_rename(spark, tmp_path, monkeypatch):
    """A Hadoop delete that returns False leaves the old partition in place;
    renaming the staged partition onto it would nest the new one INSIDE the
    old (``__dt=X/__dt=X/...``) and duplicate rows on the next read. The
    swap must stop before the rename and keep the stage dir for recovery."""
    import datetime as dt
    import glob

    from python_async_sample_spark.sources import hadoop_fs

    target = str(tmp_path / "tgt")
    assert hadoop_fs.delete(spark, f"{target}/absent") is False
    day = (dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))
    old = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 5), 1), (dt.datetime(2024, 1, 1, 6), 2)], "ts timestamp, v int"
    )
    overwrite_window(old, target, "ts", *day)
    before = sorted(tuple(r) for r in read_target(spark, target).collect())

    class RefusingDelete:
        """A FileSystem whose delete reports failure and removes nothing."""

        def __init__(self, fs):
            self._fs = fs

        def delete(self, path, recursive):
            return False

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real_fs = hadoop_fs._fs

    def refusing_fs(s, path):
        fs, jpath = real_fs(s, path)
        return RefusingDelete(fs), jpath

    new = spark.createDataFrame([(dt.datetime(2024, 1, 1, 7), 3)], "ts timestamp, v int")
    monkeypatch.setattr(hadoop_fs, "_fs", refusing_fs)
    with pytest.raises(RuntimeError, match="staged data preserved"):
        overwrite_window(new, target, "ts", *day)
    monkeypatch.undo()

    assert not glob.glob(f"{target}/__dt=*/__dt=*"), "staged partition nested in the old one"
    assert sorted(tuple(r) for r in read_target(spark, target).collect()) == before
    assert glob.glob(f"{target}/.stage-*/__dt=2024-01-01"), "stage dir not preserved"

    # with deletes working again, the same delivery converges and cleans up
    overwrite_window(new, target, "ts", *day)
    assert [tuple(r) for r in read_target(spark, target).collect()] == [
        (dt.datetime(2024, 1, 1, 7), 3)
    ]
    assert not glob.glob(f"{target}/.stage-*")


def _next_job(spark) -> int:
    """The DAG scheduler's next job id: the difference across a call is the
    number of Spark jobs the call ran."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_catchup_job_counts_over_read_target_source(spark, tmp_path):
    """A stage run over an upstream target reads its source once and runs
    N + 1 Spark jobs for N windows: one probe job (a top-1 scan, no
    shuffle) and one write per window. Neither ``read_target`` nor the
    sink's read-back launches a schema-inference job."""
    from datetime import timedelta

    up, down = str(tmp_path / "up"), str(tmp_path / "down")
    t0 = ts("2024-01-01 00:00:00")
    rows = [(i, t0 + timedelta(hours=5 * i + 1)) for i in range(14)]  # to 01-03 18:00
    overwrite_window(
        spark.createDataFrame(rows, "id long, ts timestamp"), up, "ts",
        ts("2023-12-31 00:00:00"), ts("2024-01-05 00:00:00"),
    )

    calls = []

    def source(s):
        calls.append(1)
        return read_target(s, up)

    store = WatermarkStore(spark, str(tmp_path / "state"))
    runner = IncrementalRunner(spark, store)
    stage = IncrementalStage("ROT_Transform", source, down, "ts")
    store.put("NIKON", "ROT_Transform", t0)
    j0 = _next_job(spark)
    windows = runner.run(stage)
    assert (windows, _next_job(spark) - j0) == (3, 4)
    assert len(calls) == 1, "stage.source must be called once per run"
    assert store.get("NIKON", "ROT_Transform") == ts("2024-01-03 18:00:00")

    # re-delivery off a day boundary: one window, which reads back the
    # existing 01-03 partition's rows before 10:00 — still one job
    store.put("NIKON", "ROT_Transform", ts("2024-01-03 10:00:00"))
    j0 = _next_job(spark)
    assert runner.run(stage) == 1
    assert _next_job(spark) - j0 == 2
    src = read_target(spark, up)
    j0 = _next_job(spark)
    overwrite_window(src, down, "ts", ts("2024-01-03 10:00:00"), ts("2024-01-03 18:00:00"))
    assert _next_job(spark) - j0 == 1
    assert sorted(r.id for r in read_target(spark, down).collect()) == list(range(14))


def test_source_high_water_is_exact_microseconds(spark):
    """The probe converts integer microseconds exactly; float seconds lose
    the last microsecond for timestamps this far out."""
    hw = ts("3000-01-01 00:00:00.123464")
    df = spark.createDataFrame(
        [(ts("2024-01-01 00:00:00"),), (hw,), (None,)], "ts timestamp"
    )
    stage = IncrementalStage("EDC_Import", lambda s: df, "unused", "ts")
    assert IncrementalRunner(spark, None).source_high_water(stage) == hw
    empty = IncrementalStage("EDC_Import", lambda s: df.where("ts is null"), "unused", "ts")
    assert IncrementalRunner(spark, None).source_high_water(empty) is None


def test_catchup_delivers_high_water_row_past_2255(spark, tmp_path):
    """Window bounds are exact integer microseconds. Built from float
    seconds they are off by a microsecond or two this far out, and the
    run's last window missed its high-water row while the watermark moved
    past it, so it was never delivered. The partition label's epoch-day
    division is exact too: the last microsecond of a day stays in it."""
    import datetime as dt
    import os

    t0 = ts("3000-01-01 00:00:00.123464")
    rows = [(i, t0 + dt.timedelta(microseconds=1_000_003 * i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    target = str(tmp_path / "t")
    store = WatermarkStore(spark, str(tmp_path / "state"))
    store.put("NIKON", "EDC_Import", ts("3000-01-01 00:00:00"))
    stage = IncrementalStage("EDC_Import", lambda s: df, target, "ts")
    assert IncrementalRunner(spark, store).run(stage) == 1
    assert sorted(r.id for r in read_target(spark, target).collect()) == list(range(20))
    assert store.get("NIKON", "EDC_Import") == rows[-1][1]

    last = str(tmp_path / "last")
    late = spark.createDataFrame([(ts("3000-01-01 23:59:59.999999"),)], "ts timestamp")
    overwrite_window(late, last, "ts", ts("3000-01-01 00:00:00"), ts("3000-01-02 00:00:00"))
    assert [d for d in os.listdir(last) if not d.startswith(".")] == ["__dt=3000-01-01"]


def test_parquet_schema_equals_inferred_schema(spark, tmp_path):
    """``hadoop_fs.parquet_schema`` returns what ``spark.read.parquet``
    infers for the data columns, reading one footer and running no job."""
    import datetime as dt
    import decimal
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_async_sample_spark.sources.hadoop_fs import parquet_schema

    def data_cols(path):
        return T.StructType([f for f in spark.read.parquet(path).schema if f.name != "__dt"])

    # a Spark-written partitioned sink target
    target = str(tmp_path / "tgt")
    spark_rows = spark.createDataFrame(
        [(1, ts("2024-01-01 05:00:00"), "a", decimal.Decimal("1.25"), [1.0, 2.0]),
         (2, ts("2024-01-02 05:00:00"), None, None, None)],
        "id long, ts timestamp, s string, d decimal(12,2), xs array<double>",
    )
    overwrite_window(spark_rows, target, "ts", ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00"))

    # a pyarrow-written file: naive timestamp[us] is TIMESTAMP (not NTZ)
    # under the session's inferTimestampNTZ=false
    arrow_file = str(tmp_path / "arrow.parquet")
    pq.write_table(
        pa.table({
            "ts": pa.array([dt.datetime(2024, 1, 1, 5)], pa.timestamp("us")),
            "s": pa.array(["x"], pa.string()),
            "v": pa.array([1.5], pa.float64()),
            "d": pa.array([decimal.Decimal("3.14")], pa.decimal128(10, 2)),
            "xs": pa.array([[1, 2]], pa.list_(pa.int64())),
        }),
        arrow_file,
    )
    assert spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false"
    part_dir = f"{target}/__dt=2024-01-01"
    part_file = next(f"{part_dir}/{n}" for n in sorted(os.listdir(part_dir)) if n.endswith(".parquet"))

    for path in (target, arrow_file, part_file):
        j0 = _next_job(spark)
        got = parquet_schema(spark, path)
        assert _next_job(spark) == j0, f"{path}: footer read ran a Spark job"
        assert got == data_cols(path), path
    assert parquet_schema(spark, arrow_file)["ts"].dataType == T.TimestampType()

    # absent or empty: None, and read_target raises what spark.read did
    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (str(tmp_path / "absent"), str(empty)):
        assert parquet_schema(spark, path) is None
        with pytest.raises(Exception) as inferred:
            spark.read.parquet(path)
        with pytest.raises(type(inferred.value)):
            read_target(spark, path)
