"""Skew-aware join helpers for hot keys.

AQE's skew-join split (on in `session.py`) handles sort-merge skew at
runtime; this module is the *explicit* lever for the pathological case AQE
can't fix — a shuffled join where a handful of keys dominate (one glass id
carrying half the fact rows, one document shingle shared by every doc).

``salted_join`` replicates the small side R times and scatters the big
side's hot keys across R salt buckets, so a hot key's rows land on R tasks
instead of one. Correctness is unchanged for inner/left joins on equi-keys;
the cost is an R× replication of the small side — use only when the small
side is broadcast-too-big but replication-R-affordable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def content_salt(cols: list[str], salt: int) -> F.Column:
    """Salt bucket in [0, salt) as a pure function of row content — identical
    across stage retries, repartitions and input orderings."""
    return F.pmod(F.xxhash64(*cols), F.lit(salt)).cast("int")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    salt: int = 8,
    how: str = "inner",
    spread_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-join with the big side's keys scattered across ``salt`` buckets.

    big:   gets a content-derived salt in [0, salt) per row — a hash of the
           key columns plus ``spread_cols`` (default: every non-key column),
           so the scatter is a pure function of row content: stage retries
           and different input partitionings re-scatter identically
           (``monotonically_increasing_id`` would not).
    small: replicated once per salt value via explode — R× the small side,
           never R× the fact table.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError("salted_join supports inner/left joins only")
    spread = spread_cols if spread_cols is not None else [c for c in big.columns if c not in keys]
    big_salted = big.withColumn(SALT_COL, content_salt(keys + spread, salt))
    small_rep = small.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = big_salted.join(small_rep, [*keys, SALT_COL], how)
    return out.drop(SALT_COL)


def skew_report(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """Hot-key diagnostics for a prospective join/agg key: the ``top_k``
    heaviest keys with their row counts, share of the table, and cumulative
    share — the report you run BEFORE deciding whether a join needs
    salting (``salted_join``) or AQE skew handling.

    Scale posture: per-key counts are one map-side-combinable groupBy; the
    top-k is orderBy+limit, which Spark executes as a distributed
    take-ordered (each partition keeps k, the driver merges k*partitions
    rows) — never a global sort or single-partition window over the full
    key relation. Only the k-row result uses an unpartitioned window for
    the cumulative share."""
    from pyspark.sql.window import Window as W

    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").cast("double").alias("__t"))
    top = counts.orderBy(F.col("n_rows").desc(), F.col(key_col)).limit(top_k)
    w = W.orderBy(F.col("n_rows").desc(), F.col(key_col))
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w).cast("bigint").alias("rank"),
            key_col,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__t"), 6).alias("share"),
            F.round(
                F.sum("n_rows").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
                / F.col("__t"),
                6,
            ).alias("cum_share"),
        )
    )
