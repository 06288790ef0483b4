"""Golden tests for the ROT kernel: known-parameter recovery, closed-form vs
pandas-UDF agreement, grid rebuild, position labeling, validation split."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from python_async_sample_spark.kernels.rot import (
    apply_rot,
    fit_rot,
    fit_rot_pandas,
    grid_stats,
    label_positions,
    rebuild_grid,
)
from python_async_sample_spark.operators.validate import (
    Check,
    drop_missing_with_rejects,
    validate_split,
)


@pytest.fixture(scope="module")
def synthetic_sites(spark):
    """Two glasses with known (sx, sy, θµrad); diffs built by inverting the
    residual model so the fit must recover the planted parameters exactly."""
    rows = []
    for glass, (sx, sy, theta_urad) in {"G1": (3.5, -2.0, 120.0), "G2": (-1.25, 0.5, -80.0)}.items():
        t = math.tan(theta_urad * 1e-6)
        for i in range(24):
            dx = float(i % 6) * 10.0
            dy = float(i // 6) * 10.0
            x = -sx + dy * t  # residual (x + sx − dy·t) == 0
            y = -sy - dx * t
            rows.append((glass, i, x, y, dx, dy))
    return spark.createDataFrame(rows, ["glass", "site", "x", "y", "dx", "dy"])


def test_fit_recovers_planted_params(synthetic_sites):
    fits = {r["glass"]: r for r in fit_rot(synthetic_sites, ["glass"]).collect()}
    assert fits["G1"]["shift_x"] == pytest.approx(3.5, abs=1e-9)
    assert fits["G1"]["shift_y"] == pytest.approx(-2.0, abs=1e-9)
    assert fits["G1"]["theta_urad"] == pytest.approx(120.0, abs=1e-6)
    assert fits["G2"]["theta_urad"] == pytest.approx(-80.0, abs=1e-6)


def test_pandas_fit_matches_closed_form(synthetic_sites):
    a = {r["glass"]: r for r in fit_rot(synthetic_sites, ["glass"]).collect()}
    b = {r["glass"]: r for r in fit_rot_pandas(synthetic_sites, ["glass"]).collect()}
    for g in a:
        for c in ("shift_x", "shift_y", "theta_urad"):
            assert a[g][c] == pytest.approx(b[g][c], abs=1e-8)


def test_apply_rot_zeroes_residuals(synthetic_sites):
    fits = fit_rot(synthetic_sites, ["glass"])
    out = apply_rot(synthetic_sites, fits, ["glass"])
    # corrected coords are the residuals of the model → all ~0
    mx = out.agg(F.max(F.abs("x_rot")), F.max(F.abs("y_rot"))).first()
    assert mx[0] == pytest.approx(0.0, abs=1e-9)
    assert mx[1] == pytest.approx(0.0, abs=1e-9)


def test_grid_stats_and_rebuild(spark):
    # 3×2 grid → ok; with one row removed → not ok (R/basic_fun.R:47)
    full = [("g", float(x), float(y)) for x in (0, 10, 20) for y in (0, 5)]
    df = spark.createDataFrame(full, ["glass", "x", "y"])
    assert grid_stats(df, ["glass"]).first()["grid_ok"] is True
    broken = spark.createDataFrame(full[:-1], ["glass", "x", "y"])
    assert grid_stats(broken, ["glass"]).first()["grid_ok"] is False

    grid = rebuild_grid(df.select("x"), df.select("y")).collect()
    assert [r["item_id"] for r in grid] == list(range(1, 7))
    assert (grid[0]["x"], grid[0]["y"]) == (0.0, 0.0)
    assert (grid[-1]["x"], grid[-1]["y"]) == (20.0, 5.0)


def test_label_positions_numbers_by_x_cluster_then_y(spark):
    # 2 x-clusters × 6 marks with jitter-free x; y unique per (glass, x)
    rows = [
        ("g", 0.0 + 100.0 * c, float(m * 3 + c), c * 6 + m)  # expected item_id order
        for c in range(2)
        for m in range(6)
    ]
    df = spark.createDataFrame([(g, x, y) for g, x, y, _ in rows], ["glass", "x", "y"])
    expected = {(r[1], r[2]): r[3] + 1 for r in rows}

    got = {
        (r["x"], r["y"]): r["item_id"]
        for r in label_positions(df, ["glass"]).collect()
    }
    assert got == expected


def test_validate_split_flags(spark):
    df = spark.createDataFrame(
        [(1, 5.0, "en"), (2, None, "en"), (3, 7.0, "xx"), (4, None, "xx")],
        ["id", "v", "lang"],
    )
    checks = [
        Check(flag=-1, descr="missing", predicate=F.col("v").isNull()),
        Check(flag=-2, descr="bad lang", predicate=F.col("lang") == "xx"),
    ]
    good, rejects = validate_split(df, checks)
    assert {r["id"] for r in good.collect()} == {1}
    rej = {r["id"]: (r["flag"], r["descr"]) for r in rejects.collect()}
    # sequential: first matching rule wins (row 4 is -1, not -2)
    assert rej == {2: (-1, "missing"), 3: (-2, "bad lang"), 4: (-1, "missing")}


def test_drop_missing_with_rejects(spark):
    df = spark.createDataFrame(
        [(1, 1.0, 2.0), (2, float("nan"), 2.0), (3, 1.0, None)],
        ["id", "a", "b"],
    )
    good, rejects = drop_missing_with_rejects(df, ["a", "b"])
    assert [r["id"] for r in good.collect()] == [1]
    assert sorted(r["id"] for r in rejects.collect()) == [2, 3]
    assert all(r["flag"] == -1 for r in rejects.collect())
