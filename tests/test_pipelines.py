"""Unit tests for the composed pipelines: ROT end-to-end (including the
grid gate the oracle queries leave off) and the scatter-gather API."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_async_sample_spark.api.scatter_gather import KeyedQuery
from python_async_sample_spark.pipelines.rot_pipeline import (
    FLAG_BAD_GRID,
    FLAG_NO_DESIGN,
    run_rot,
)


TRUE_SX, TRUE_SY, TRUE_T = -5.0, 3.0, 2e-4


def _fixture(spark):
    # glass 1: x/y are measured-minus-design differences carrying a planted
    # shift (−TRUE_SX, −TRUE_SY) and rotation TRUE_T — the fit must cancel
    # them exactly (residuals → 0, the reference's objective).
    # glass 2: broken grid (3 rows for a 2x2 cross product).
    # glass 3: no design values.
    # glass 1 also carries one NULL row (dropped + side-output).
    rows = []
    for dx in (0.0, 10.0):
        for dy in (0.0, 10.0):
            x = -TRUE_SX + dy * TRUE_T
            y = -TRUE_SY - dx * TRUE_T
            rows.append((1, f"s{int(dx)}_{int(dy)}", x, y, dx, dy))
    rows.append((1, "s_null", None, 0.0, 0.0, 0.0))
    rows += [(2, "t1", 0.0, 0.0, 0.0, 0.0), (2, "t2", 1.0, 1.0, 10.0, 0.0),
             (2, "t3", 2.0, 2.0, 0.0, 10.0)]
    rows += [(3, "u1", 0.0, 0.0, 0.0, 0.0)]
    return spark.createDataFrame(
        rows, "glass int, site_name string, x double, y double, dx double, dy double"
    )


def test_rot_pipeline_flags_and_fit(spark):
    raw = _fixture(spark)
    design = spark.createDataFrame([(1,), (2,)], "glass int")
    out = run_rot(raw, design, check_grid=True)

    header = {r.rot_id: r for r in out.header.collect()}
    assert header[1].flag == 1 and header[1].n_sites == 4
    assert header[2].flag == FLAG_BAD_GRID
    assert header[3].flag == FLAG_NO_DESIGN

    # the NULL row went to the per-row reject side-output, not into the fit
    rejects = out.rejects.collect()
    assert len(rejects) == 1 and rejects[0].site_name == "s_null"

    # fitted corrections cancel the planted shift+rotation: residuals → 0
    detail = {r.item_name: r.rot_rs for r in out.detail.collect()}
    for dx in (0.0, 10.0):
        for dy in (0.0, 10.0):
            assert abs(detail[f"s{int(dx)}_{int(dy)}_x"]) < 1e-9
            assert abs(detail[f"s{int(dx)}_{int(dy)}_y"]) < 1e-9


def test_mea_mismatched_grid_rejects(spark):
    """J8 in anger (VERDICT r8 item 8): measured sites with no design row
    and design rows with no measurement both flow to the S10 side-output
    with the reference's flag codes (-2 'No Design Values' at
    R/tlcd_nikonrot_mea.R:131, -1 'Missing Values' at :160), and the fit
    still runs — on the matched grid only."""
    from python_async_sample_spark.pipelines.mea_pipeline import run_mea_rot

    # glass 1 measures sites 1..4 (full grid), glass 2 measures only 1..2;
    # design covers item_ids 1..3 → glass 1 plants one -2 (item 4), glass 2
    # plants one -1 (item 3).
    eav_rows = []
    for glass, n_sites in ((1, 4), (2, 2)):
        for s in range(1, n_sites + 1):
            eav_rows.append((glass, s, "TP_X", float(s)))
            eav_rows.append((glass, s, "TP_Y", 2.0 * s))
    eav = spark.createDataFrame(
        eav_rows,
        "glass int, site_name int, param_name string, param_value double",
    )
    design = spark.createDataFrame(
        [(i, float(i), 2.0 * i) for i in (1, 2, 3)],
        "item_id bigint, x double, y double",
    )
    out = run_mea_rot(eav, design)
    rejects = {(r.glass, r.item_id): (r.flag, r.descr) for r in out.rejects.collect()}
    assert rejects == {
        (1, 4): (-2, "No Design Values"),
        (2, 3): (-1, "Missing Values"),
    }
    # the fit ran on the matched grid only: glass 1 fits 3 sites, glass 2
    # fits 2 — and measured == design here, so every rotated diff is 0
    header = {r.rot_id: r.n_sites for r in out.header.collect()}
    assert header == {1: 3, 2: 2}
    assert all(abs(r.rot_rs) < 1e-9 for r in out.detail.collect())


def test_scatter_gather_modes_identical(spark):
    # duplicates on every build side: history row (2, 12) repeated (link 12
    # twice), summary link 12 twice, key 2 listed twice; key 4 has no history
    history = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12), (2, 12), (3, 13)], "k int, link int"
    )
    result = spark.createDataFrame(
        [(10, "a"), (11, "b"), (12, "c"), (13, "d"), (14, "e")], "link int, v string"
    )
    keys = spark.createDataFrame([(1,), (2,), (2,), (4,)], "k int")
    summary = spark.createDataFrame([(10,), (12,), (12,), (13,)], "link int")
    api = KeyedQuery(history=history, result=result, key_col="k", link_cols=["link"])

    sub = api.glass_raw_data(keys, summary=summary, subquery=True)
    fan = api.glass_raw_data(keys, summary=summary, subquery=False)
    # a list, not a set: a result row duplicated by a build side fails here
    got = sorted((r.link, r.v) for r in sub.collect())
    # keys {1,2,4} → links {10,11,12}; summary keeps {10,12}
    assert got == [(10, "a"), (12, "c")]
    # the reference's two physical modes are one logical plan here
    assert sub.sameSemantics(fan)

    # key 2 is given twice, yet each history row comes back once: (2, 12)
    # twice because the history holds it twice, not four times
    hist = sorted(tuple(r) for r in api.glass_history(keys).collect())
    assert hist == [(1, 10), (1, 11), (2, 12), (2, 12)]


def test_write_audit_publish_gate_blocks_bad_snapshot(spark, tmp_path, sf_dir):
    """Write-audit-publish: a snapshot is staged, the q166-style contract
    report audits the STAGED files, and only a fully-passing audit
    publishes (atomic directory rename). A violated contract must leave
    the published table untouched."""
    import os

    from python_async_sample_spark.sources.readers import load_table

    published = str(tmp_path / "published")
    orders = load_table(spark, sf_dir, "orders")

    def audit(df):
        return df.agg(
            F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)).alias("v")
        ).collect()[0]["v"]

    def write_audit_publish(df, stage, target) -> bool:
        df.write.mode("overwrite").parquet(stage)
        staged = spark.read.parquet(stage)
        if audit(staged) != 0:
            return False
        os.rename(stage, target)
        return True

    # good snapshot publishes
    assert write_audit_publish(orders, str(tmp_path / "s1"), published)
    n_published = spark.read.parquet(published).count()
    assert n_published == orders.count()

    # corrupted snapshot is staged but NOT published
    bad = orders.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 100 == 0, F.lit("Z")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    assert not write_audit_publish(bad, str(tmp_path / "s2"), str(tmp_path / "p2"))
    assert not os.path.exists(str(tmp_path / "p2"))
    # original stays intact
    assert spark.read.parquet(published).count() == n_published
