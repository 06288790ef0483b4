"""Sketch-aggregate error bounds vs exact answers."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_async_sample_spark.operators.sketches import approx_distinct, approx_quantiles
from python_async_sample_spark.sources.readers import load_table


def test_hll_relative_error(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r.event_type: r.approx_distinct
        for r in approx_distinct(events, ["event_type"], "user_id").collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(3, 0.1 * n), (k, approx[k], n)


def test_quantile_sketch_rank_error(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    got = approx_quantiles(li, ["l_returnflag"], "l_extendedprice", [0.5]).collect()
    for r in got:
        flag, est = r.l_returnflag, r.quantiles[0]
        vals = (
            li.where(F.col("l_returnflag") == flag)
            .select("l_extendedprice")
            .orderBy("l_extendedprice")
            .collect()
        )
        xs = [v[0] for v in vals]
        rank = sum(1 for x in xs if x <= est) / len(xs)
        assert 0.45 <= rank <= 0.55, (flag, est, rank)


def test_cms_never_underestimates_and_bounds_overestimate(spark, sf_dir):
    import math

    from python_async_sample_spark.operators.sketches import (
        cms_build_portable,
        cms_estimate_portable,
    )

    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    width = 256
    sketch = cms_build_portable(ev, "user_id", depth=4, width=width)
    # the sketch is bounded and its cells sum to depth * N
    cells = sketch.collect()
    assert len(cells) <= 4 * width
    assert sum(r["cnt"] for r in cells) == 4 * n

    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true"))
    est = cms_estimate_portable(
        exact.select("user_id"), sketch, "user_id", depth=4, width=width
    )
    j = {r["user_id"]: r for r in exact.join(est, "user_id").collect()}
    assert len(j) == exact.count()

    eps_n = math.e / width * n
    over = 0
    for r in j.values():
        assert r["est_count"] >= r["true"]  # hard CMS property
        if r["est_count"] - r["true"] > eps_n:
            over += 1
    # e/width * N bound holds with prob 1 - e^-4 per key; allow a thin tail
    assert over <= max(1, len(j) // 20), (over, len(j))


def test_cms_merges_by_cell_sum(spark, sf_dir):
    from python_async_sample_spark.operators.sketches import cms_build_portable

    ev = load_table(spark, sf_dir, "events")
    whole = cms_build_portable(ev, "user_id")
    a = cms_build_portable(ev.where("event_id % 2 = 0"), "user_id")
    b = cms_build_portable(ev.where("event_id % 2 = 1"), "user_id")
    merged = (
        a.unionByName(b)
        .groupBy("row", "col")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    got = {(r["row"], r["col"]): r["cnt"] for r in merged.collect()}
    want = {(r["row"], r["col"]): r["cnt"] for r in whole.collect()}
    assert got == want


def test_hll_daily_merge_equals_direct_sketch(spark, sf_dir):
    """Mergeability contract behind q155: unioning per-day sketches must
    give the SAME estimate as sketching the whole window directly (same
    lgK ⇒ identical registers under union)."""
    from python_async_sample_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("n")
    ).collect()[0]["n"]
    merged = (
        ev.groupBy("day")
        .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n"))
        .collect()[0]["n"]
    )
    assert merged == direct


def test_hll_rolling_guard_fires_on_violated_bound(spark):
    """The q155 guard shape must RAISE (not silently pass) when the
    estimate-vs-exact bound is violated — simulated by a zero-width bound
    over a frame where estimate != exact cannot hold... instead force it
    with a poisoned exact side."""
    import pytest

    df = spark.createDataFrame([(1, 100, 2)], "day int, est long, exact long")
    bound_ok = F.abs(F.col("est") - F.col("exact")) <= 0.05 * F.col("exact")
    poisoned = df.where(
        F.when(bound_ok, F.lit(True)).otherwise(F.raise_error("bound violated"))
    )
    with pytest.raises(Exception, match="bound violated"):
        poisoned.count()


def test_hll_inclusion_exclusion_overlap(spark):
    """q164's algebra: est(A)+est(B)-est(A∪B) ≈ |A∩B| — exact-ish at small
    cardinalities (HLL is exact below its sparse threshold), 0 for
    disjoint sets, |A| for identical sets."""
    a = spark.range(0, 1000).select(F.col("id").alias("u"))
    b_disjoint = spark.range(5000, 6000).select(F.col("id").alias("u"))
    b_half = spark.range(500, 1500).select(F.col("id").alias("u"))

    def est(df):
        return df.agg(F.hll_sketch_agg("u", F.lit(14)).alias("sk"))

    def overlap(x, y):
        sx = est(x).collect()[0]["sk"]
        sy = est(y).collect()[0]["sk"]
        row = spark.createDataFrame([(sx, sy)], "a binary, b binary").select(
            (
                F.hll_sketch_estimate("a")
                + F.hll_sketch_estimate("b")
                - F.hll_sketch_estimate(F.hll_union("a", "b"))
            ).alias("o")
        ).collect()[0]["o"]
        return row

    assert abs(overlap(a, b_disjoint)) < 30
    assert abs(overlap(a, b_half) - 500) < 50
    assert abs(overlap(a, a) - 1000) < 30


# ---------------------------------------------------------------------------
# Portable-hash family (cross-engine replayable sketches)
# ---------------------------------------------------------------------------


def test_portable_hash_matches_duckdb_bit_for_bit(spark):
    """THE contract everything portable rests on: Spark's mixer and the SQL
    fragment produce identical values for every hash index, including
    negative and 2^32-straddling keys."""
    import duckdb

    from python_async_sample_spark.operators.sketches import (
        portable_hash,
        portable_hash_sql,
    )

    # int64 extremes included (ADVICE r4): before the key was pre-reduced
    # mod 2^32, seeding keys within ~2^35 of the boundary overflowed —
    # wrapping on Spark, RAISING on DuckDB
    keys = [
        -(2**63), -(2**63) + 5, -(2**40) - 7, -129, -1, 0, 1, 2, 127,
        65535, 65536, 2**31 - 1, 2**31, 2**40 + 3, 2**63 - 17, 2**63 - 1,
    ]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: [r[f"h{i}"] for i in range(4)]
        for r in df.select(
            "k", *[portable_hash(F.col("k"), i).alias(f"h{i}") for i in range(4)]
        ).collect()
    }
    con = duckdb.connect()
    for k in keys:
        want = [
            con.execute(f"SELECT {portable_hash_sql(str(k), i)}").fetchone()[0]
            for i in range(4)
        ]
        assert got[k] == want, f"hash mismatch for key {k}"
        assert all(0 <= h < 2**32 for h in want)


def test_portable_hash_spreads_sequential_keys(spark):
    """Sequential ids (the common key shape) must not land on correlated
    registers/leading-zero patterns — the failure mode that ruled out an
    affine mod-p family: its HLL estimate over 0..149 was 21x high."""
    from python_async_sample_spark.operators.sketches import (
        hll_portable_estimate,
        hll_portable_registers,
    )

    df = spark.range(0, 150).select(F.col("id").alias("k"))
    est = hll_portable_estimate(hll_portable_registers(df, "k", m=128), m=128).collect()[0]["est"]
    assert abs(est / 150 - 1) < 0.2, est


def test_portable_cms_never_underestimates_and_merges(spark, sf_dir):
    from python_async_sample_spark.operators.sketches import (
        cms_build_portable,
        cms_estimate_portable,
    )

    ev = load_table(spark, sf_dir, "events")
    keys = ev.select("user_id").distinct()
    sketch = cms_build_portable(ev, "user_id", depth=4, width=64)
    est = cms_estimate_portable(keys, sketch, "user_id", depth=4, width=64)
    true = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("t"))
    n = ev.count()
    bad = est.join(true, "user_id").where(
        (F.col("est_count") < F.col("t"))
        | (F.col("est_count") > F.col("t") + 3.0 * n / 64)
    )
    assert bad.count() == 0

    # merge law: sketch(A) + sketch(B) cell-sum == sketch(A union B)
    a = ev.where(F.col("event_type") == "purchase")
    b = ev.where(F.col("event_type") != "purchase")
    merged = (
        cms_build_portable(a, "user_id", depth=4, width=64)
        .unionByName(cms_build_portable(b, "user_id", depth=4, width=64))
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = cms_build_portable(ev, "user_id", depth=4, width=64)
    assert merged.exceptAll(direct).count() == 0 and direct.exceptAll(merged).count() == 0


def test_portable_hll_register_merge_law(spark, sf_dir):
    """max-per-register of two partial register relations == registers of
    the union — the property that lets 100 TB build per-partition HLLs."""
    from python_async_sample_spark.operators.sketches import hll_portable_registers

    ev = load_table(spark, sf_dir, "events")
    a = ev.where(F.col("user_id") % 2 == 0)
    b = ev.where(F.col("user_id") % 2 != 0)
    merged = (
        hll_portable_registers(a, "user_id", m=128)
        .unionByName(hll_portable_registers(b, "user_id", m=128))
        .groupBy("reg")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    direct = hll_portable_registers(ev, "user_id", m=128)
    assert merged.exceptAll(direct).count() == 0 and direct.exceptAll(merged).count() == 0


def test_portable_bloom_no_false_negatives(spark, sf_dir):
    from python_async_sample_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom,
    )
    from python_async_sample_spark.operators.sketches import portable_hash

    ev = load_table(spark, sf_dir, "events")
    build = ev.where(F.col("event_type") == "signup").select("user_id").distinct()
    bloom = build_bloom(build, "user_id", m_bits=2048, k=3, hash_fn=portable_hash)
    passed = bloom_might_contain(ev, bloom, "user_id", m_bits=2048, k=3, hash_fn=portable_hash)
    truth = ev.join(build, "user_id", "left_semi")
    missed = truth.join(passed.select("event_id"), "event_id", "left_anti")
    assert missed.count() == 0


def test_cms_build_from_counts_equals_raw_stream_build(spark):
    """The pre-aggregated build (q180's one-groupBy sharing) must produce
    IDENTICAL cells to the raw-stream build — a cell is a sum of per-key
    counts either way."""
    from python_async_sample_spark.operators.sketches import (
        cms_build_portable,
        cms_build_portable_from_counts,
    )

    df = spark.range(0, 5000).select((F.col("id") % 137).alias("k"))
    raw = cms_build_portable(df, "k", depth=4, width=64)
    counts = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    pre = cms_build_portable_from_counts(counts, "k", "n", depth=4, width=64)
    assert raw.exceptAll(pre).count() == 0 and pre.exceptAll(raw).count() == 0


def test_portable_hash_py_matches_spark(spark):
    """The driver-side Python twin must be bit-identical to the Spark
    expression tree for negative, zero, small, and int64-extreme keys."""
    from pyspark.sql import functions as F

    from python_async_sample_spark.operators.sketches import (
        portable_hash,
        portable_hash_py,
    )

    keys = [0, 1, -1, 97, -(2**63), 2**63 - 1, 2**31, -(2**31) - 7]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    for i in (0, 1, 2):
        got = {
            r["k"]: r["h"]
            for r in df.select("k", portable_hash(F.col("k"), i).alias("h")).collect()
        }
        for k in keys:
            assert got[k] == portable_hash_py(k, i), (k, i)


def test_hll_register_count_must_be_a_power_of_two(spark):
    """A ValueError, not an assert: ``python -O`` strips asserts."""
    import pytest

    from python_async_sample_spark.operators.sketches import hll_portable_registers

    with pytest.raises(ValueError, match="power of two"):
        hll_portable_registers(spark.range(4).withColumnRenamed("id", "k"), "k", m=100)


def test_hll_estimate_empty_relation_returns_default_row(spark):
    # estimating an EMPTY table must yield one (v_zero=m, est=0.0) row, not
    # zero rows — the grouped delegation regressed this once (ADVICE r5)
    from python_async_sample_spark.operators.sketches import (
        hll_portable_estimate,
        hll_portable_registers,
    )

    empty = spark.createDataFrame([], "k bigint")
    regs = hll_portable_registers(empty, "k", m=64)
    rows = hll_portable_estimate(regs, m=64).collect()
    assert len(rows) == 1
    assert rows[0]["v_zero"] == 64 and rows[0]["est"] == 0.0
