"""End-to-end ROT pipeline — the reference's R analytics stage as one
DataFrame dataflow (SURVEY §3.2, ``R/tlcd_nikonrot.R:32-123``).

Reference lifecycle per batch: scan rawdata → clean/cast → reject products
without design values (flag −2, ``R/tlcd_nikonrot.R:142-165``) → reject
NA rows (flag −1, ``:168-196``) → per-product grid check (flag −3,
``:199-221``) → per-glass least-squares fit + affine correction
(``:224-279``) → melt to long → transactional header+detail insert
(``R/pg_db.R:62-85``) with error rows logged to the same header table
(``R/pg_db.R:114-139``).

Here the subprocess-to-R hop, the per-product lapply loop, and the
row-by-row CTE inserts all disappear: validation is a predicate split,
the per-product loop is a groupBy, the fit is a closed-form aggregate
(kernels/rot.py), and header/detail/errors are three DataFrames the caller
writes. ``rot_id`` is taken from the group key so runs are deterministic
and oracle-checkable; a production sink would substitute a UUID per run
(the reference uses a PG sequence via INSERT…RETURNING).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_async_sample_spark.kernels.rot import apply_rot, fit_rot, grid_stats
from python_async_sample_spark.operators.validate import drop_missing_with_rejects

FLAG_MISSING = -1
FLAG_NO_DESIGN = -2
FLAG_BAD_GRID = -3


@dataclass
class RotOutput:
    """The pipeline's three sinks (S9 header/detail pair + S10 error log)."""

    header: DataFrame  # (rot_id, flag, n_sites, descr) — ok AND error rows
    detail: DataFrame  # (rot_id, item_name, rot_rs) — melted rotated values
    rejects: DataFrame  # per-row missing-value side-output


def run_rot(
    rawdata: DataFrame,
    design_glasses: DataFrame,
    glass_col: str = "glass",
    check_grid: bool = False,
) -> RotOutput:
    """Run the full ROT transform.

    ``rawdata`` needs (glass, site_name, x, y, dx, dy); ``design_glasses`` is
    the one-column set of glasses having design values (the ``tlcd_nikon_main_v``
    product→cfg mapping, ``R/pg_db.R:142-163``) — always tiny, broadcast.
    ``check_grid`` adds the reference's coord_checking gate (flag −3); off by
    default because the grid invariant is a property of real metrology layouts,
    not of arbitrary inputs.
    """
    # 1. design-value gate: semi-join keepers, anti-join rejects (J9). Both
    # joins ignore duplicates on their build side, so `dv` is broadcast
    # without a dedup (that would be a shuffle and a job per consumer).
    dv = F.broadcast(design_glasses.select(glass_col))
    with_dv = rawdata.join(dv, glass_col, "left_semi")
    no_dv = (
        rawdata.join(dv, glass_col, "left_anti")
        .select(glass_col)
        .distinct()
        .select(
            F.col(glass_col).alias("rot_id"),
            F.lit(FLAG_NO_DESIGN).alias("flag"),
            F.lit(0).cast("bigint").alias("n_sites"),
            F.lit("no design value").alias("descr"),
        )
    )

    # 2. missing-value split (P9): NA rows side-output, clean rows flow on.
    clean, missing = drop_missing_with_rejects(
        with_dv, subset=["x", "y", "dx", "dy"], flag=FLAG_MISSING, descr="missing values"
    )

    # 3. optional grid gate (coord_checking, R/basic_fun.R:45-60).
    bad_grid = None
    if check_grid:
        stats = grid_stats(clean, [glass_col], x="dx", y="dy")
        ok_glasses = stats.where(F.col("grid_ok")).select(glass_col)
        bad_grid = (
            stats.where(~F.col("grid_ok"))
            .select(
                F.col(glass_col).alias("rot_id"),
                F.lit(FLAG_BAD_GRID).alias("flag"),
                F.col("n_rows").alias("n_sites"),
                F.lit("broken position grid").alias("descr"),
            )
        )
        clean = clean.join(F.broadcast(ok_glasses), glass_col, "left_semi")

    # 4. per-glass fit + affine application (§2.8; one shuffle, codegen aggs).
    fits = fit_rot(clean, [glass_col])
    rotated = apply_rot(clean, fits, [glass_col])

    # 5. melt to the long result shape (R3: melt at R/tlcd_nikonrot.R:244-248):
    # one row per (site, axis) with item_name '<site_name>_<axis>'.
    detail = rotated.select(
        F.col(glass_col).alias("rot_id"),
        F.expr(
            "stack(2, concat(site_name, '_x'), x_rot, concat(site_name, '_y'), y_rot) "
            "AS (item_name, rot_rs)"
        ),
    )

    ok_header = fits.select(
        F.col(glass_col).alias("rot_id"),
        F.lit(1).alias("flag"),
        F.col("n_sites").cast("bigint").alias("n_sites"),
        F.lit("ok").alias("descr"),
    )
    header = ok_header.unionByName(no_dv)
    if bad_grid is not None:
        header = header.unionByName(bad_grid)

    return RotOutput(header=header, detail=detail, rejects=missing)
