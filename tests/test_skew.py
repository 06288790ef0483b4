"""Salted-join correctness: result identical to the plain join, hot keys
actually scattered."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_async_sample_spark.operators.skew import (
    SALT_COL,
    content_salt,
    salted_join,
)


def _skewed(spark):
    hot = spark.range(5000).select(F.lit("hot").alias("k"), F.col("id").alias("v"))
    cold = spark.range(100).select(
        F.concat(F.lit("c"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    return hot.unionByName(cold)


def test_salted_join_matches_plain_join(spark):
    big = _skewed(spark)
    small = spark.createDataFrame(
        [("hot", 1), ("c1", 2), ("c2", 3)], "k string, w int"
    )
    plain = big.join(small, ["k"], "inner")
    salted = salted_join(big, small, ["k"], salt=8)
    assert salted.columns == plain.columns  # salt column dropped
    a = sorted(tuple(r) for r in plain.collect())
    b = sorted(tuple(r) for r in salted.collect())
    assert a == b

    left = sorted(tuple(r) for r in big.join(small, ["k"], "left").collect())
    lsalt = sorted(tuple(r) for r in salted_join(big, small, ["k"], salt=4, how="left").collect())
    assert left == lsalt


def test_salt_scatters_hot_key(spark):
    big = _skewed(spark).withColumn(SALT_COL, content_salt(["k", "v"], 8))
    used = big.where(F.col("k") == "hot").select(SALT_COL).distinct().count()
    assert used == 8  # the hot key spreads across every salt bucket


def test_salt_is_repartition_invariant(spark):
    # content-derived salt: the same row gets the same bucket no matter how
    # the input is partitioned or ordered (stage retries re-scatter alike)
    big = _skewed(spark)
    salted = lambda df: {  # noqa: E731
        (r.k, r.v): r[SALT_COL]
        for r in df.withColumn(SALT_COL, content_salt(["k", "v"], 8)).collect()
    }
    base = salted(big)
    assert salted(big.repartition(17, "v")) == base
    assert salted(big.orderBy(F.desc("v"))) == base

