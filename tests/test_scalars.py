"""The ROT affine-correction scalars (§2.7) — semantics pinned to the reference."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_async_sample_spark.kernels.rot import rot_x, rot_y, theta_urad


def test_scalar_surface(spark):
    r3 = spark.range(1).select(
        rot_x(F.lit(10.0), F.lit(2.0), F.lit(-1.0), F.lit(0.5)).alias("x"),
        rot_y(F.lit(10.0), F.lit(2.0), F.lit(-1.0), F.lit(0.5)).alias("y"),
        (F.round(theta_urad(F.lit(1e-6)), 3)).alias("th"),
    ).first()
    assert r3.x == 10.0 - 1.0 - 2.0 * 0.5
    assert r3.y == 10.0 - 1.0 + 2.0 * 0.5
    assert r3.th == 1.0
