"""ROT shift-and-rotate kernel — the reference's numerical core (§2.8).

Reference: per glass, fit 3 parameters (shift_x, shift_y, θ µrad) minimizing

    sum( (x + sx − dy·tan(θ·1e-6))² + (y + sy + dx·tan(θ·1e-6))² )

(``R/basic_fun.R:25-33``), solved there with L-BFGS-B
(``R/tlcd_nikonrot.R:230-238``), then the affine correction
``x' = x + sx − dy·t``, ``y' = y + sy + dx·t`` (``R/tlcd_nikonrot.R:241-242``).

The objective is *linear* in (sx, sy, t = tanθµ), so the normal equations
close over five group aggregates:

    t  = (covar_pop(x, dy) − covar_pop(y, dx)) / (var_pop(dx) + var_pop(dy))
    sx = t·mean(dy) − mean(x)
    sy = −mean(y) − t·mean(dx)
    θµrad = atan(t)·1e6

Two implementations, results identical to fp tolerance:

* :func:`fit_rot` — pure Spark built-in aggregates. JVM-side, whole-stage
  codegen, one shuffle on the group key; the scale path (a 100 TB fit is
  just a groupBy).
* :func:`fit_rot_pandas` — ``applyInPandas`` + numpy ``lstsq`` per group;
  exercises the Arrow UDF machinery the way the R optim stage would be
  ported if the problem were NOT closed-form.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rot_x(x: Column, dy: Column, shift_x: Column, tan_theta: Column) -> Column:
    """Affine-corrected x: ``x + sx − dy·tanθ`` (R/tlcd_nikonrot.R:241)."""
    return x + shift_x - dy * tan_theta


def rot_y(y: Column, dx: Column, shift_y: Column, tan_theta: Column) -> Column:
    """Affine-corrected y: ``y + sy + dx·tanθ`` (R/tlcd_nikonrot.R:242)."""
    return y + shift_y + dx * tan_theta


def theta_urad(tan_theta: Column) -> Column:
    """Rotation in µrad from its tangent: ``atan(t)·1e6`` — the unit the
    reference's optimizer fits (R/basic_fun.R:29-30)."""
    return F.atan(tan_theta) * 1e6


def fit_rot(df: DataFrame, group_cols: list[str], x="x", y="y", dx="dx", dy="dy") -> DataFrame:
    """Per-group closed-form fit; returns group_cols + (shift_x, shift_y,
    theta_urad, tan_theta, n_sites)."""
    agg = df.groupBy(*group_cols).agg(
        F.covar_pop(x, dy).alias("_cxdy"),
        F.covar_pop(y, dx).alias("_cydx"),
        F.var_pop(dx).alias("_vdx"),
        F.var_pop(dy).alias("_vdy"),
        F.avg(x).alias("_mx"),
        F.avg(y).alias("_my"),
        F.avg(dx).alias("_mdx"),
        F.avg(dy).alias("_mdy"),
        F.count(F.lit(1)).alias("n_sites"),
    )
    denom = F.col("_vdx") + F.col("_vdy")
    t = F.when(denom > 0, (F.col("_cxdy") - F.col("_cydx")) / denom).otherwise(F.lit(0.0))
    return agg.select(
        *group_cols,
        (t * F.col("_mdy") - F.col("_mx")).alias("shift_x"),
        (-F.col("_my") - t * F.col("_mdx")).alias("shift_y"),
        theta_urad(t).alias("theta_urad"),
        t.alias("tan_theta"),
        "n_sites",
    )


def _fit_group_np(x: np.ndarray, y: np.ndarray, dx: np.ndarray, dy: np.ndarray):
    """Solve the same least-squares with numpy lstsq (the per-group UDF body).

    Rows: (1, 0, −dy_i)·p = −x_i  and  (0, 1, dx_i)·p = −y_i  for
    p = (sx, sy, t)."""
    n = len(x)
    a = np.zeros((2 * n, 3))
    b = np.empty(2 * n)
    a[:n, 0] = 1.0
    a[:n, 2] = -dy
    b[:n] = -x
    a[n:, 1] = 1.0
    a[n:, 2] = dx
    b[n:] = -y
    sol, *_ = np.linalg.lstsq(a, b, rcond=None)
    return float(sol[0]), float(sol[1]), float(sol[2])


def fit_rot_pandas(
    df: DataFrame, group_cols: list[str], x="x", y="y", dx="dx", dy="dy"
) -> DataFrame:
    """applyInPandas variant: Arrow-batched per-group numpy solve."""
    key_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.select(*group_cols).schema.fields)
    out_schema = (
        f"{key_fields}, shift_x double, shift_y double, theta_urad double, "
        "tan_theta double, n_sites bigint"
    )
    cols = {"x": x, "y": y, "dx": dx, "dy": dy}

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        sx, sy, t = _fit_group_np(
            pdf[cols["x"]].to_numpy(float),
            pdf[cols["y"]].to_numpy(float),
            pdf[cols["dx"]].to_numpy(float),
            pdf[cols["dy"]].to_numpy(float),
        )
        keys = {c: pdf[c].iloc[0] for c in group_cols}
        return pd.DataFrame(
            [
                {
                    **keys,
                    "shift_x": sx,
                    "shift_y": sy,
                    "theta_urad": float(np.arctan(t) * 1e6),
                    "tan_theta": t,
                    "n_sites": len(pdf),
                }
            ]
        )

    return df.groupBy(*group_cols).applyInPandas(fit, schema=out_schema)


def apply_rot(
    df: DataFrame,
    fits: DataFrame,
    group_cols: list[str],
    x="x",
    y="y",
    dx="dx",
    dy="dy",
) -> DataFrame:
    """Apply the per-group affine correction to every site row
    (``R/tlcd_nikonrot.R:241-242``). ``fits`` is broadcast — one row per
    glass, always tiny relative to the site rows."""
    joined = df.join(F.broadcast(fits.select(*group_cols, "shift_x", "shift_y", "tan_theta")), group_cols)
    return joined.withColumn(
        "x_rot", rot_x(F.col(x), F.col(dy), F.col("shift_x"), F.col("tan_theta"))
    ).withColumn("y_rot", rot_y(F.col(y), F.col(dx), F.col("shift_y"), F.col("tan_theta")))


# ---------------------------------------------------------------------------
# Grid validation + rebuild (coord_checking, R/basic_fun.R:45-60)
# ---------------------------------------------------------------------------


def grid_stats(df: DataFrame, group_cols: list[str], x="x", y="y") -> DataFrame:
    """Per group: |distinct x|, |distinct y|, row count, and the grid
    validity flag ``|x|·|y| == n`` (R/basic_fun.R:47)."""
    return df.groupBy(*group_cols).agg(
        F.countDistinct(x).alias("n_x"),
        F.countDistinct(y).alias("n_y"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.countDistinct(x) * F.countDistinct(y) == F.count(F.lit(1))).alias("grid_ok"),
    )


def rebuild_grid(xs: DataFrame, ys: DataFrame) -> DataFrame:
    """expand.grid analog: cross join sorted (x, y) with sequential item_id
    (R/basic_fun.R:55-57 + J10/O5)."""
    from pyspark.sql.window import Window as W

    grid = xs.select("x").distinct().crossJoin(ys.select("y").distinct())
    return grid.withColumn(
        "item_id", F.row_number().over(W.orderBy("x", "y")).cast("bigint")
    ).orderBy("item_id")


# ---------------------------------------------------------------------------
# Position labeling (mea_label_new_id, R/basic_fun.R:73-104)
# ---------------------------------------------------------------------------

MARKS_PER_GROUP = 6  # alignment marks per x-cluster (R/basic_fun.R:87)


def label_positions(
    df: DataFrame, group_cols: list[str], x="x", y="y", marks: int = MARKS_PER_GROUP
) -> DataFrame:
    """Deterministic equivalent of the reference's Ward-hclust labeling.

    The reference z-scores x, hclusts, cuts into n/6 groups, then labels
    ``item_id = (group−1)·6 + rank-of-y-within-group``. On grid-structured
    data every distinct x is its own zero-diameter cluster, so the clustering
    reduces to ``dense_rank() over x`` — pure window functions, shuffle-free
    beyond the partition, and reproducible (Ward tie-order is not).
    """
    from pyspark.sql.window import Window as W

    wx = W.partitionBy(*group_cols).orderBy(x)
    wy = W.partitionBy(*group_cols, x).orderBy(y)
    return (
        df.withColumn("x_id", F.dense_rank().over(wx))
        .withColumn(
            "item_id",
            ((F.col("x_id") - 1) * marks + F.row_number().over(wy)).cast("bigint"),
        )
        .drop("x_id")
    )

