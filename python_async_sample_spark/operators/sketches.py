"""Sketch aggregates — approximate distinct counts, quantiles and
frequencies.

Not in the reference (it has only exact MAX/COUNT/DISTINCT, SURVEY §2.4),
but core to the 100 TB surface: exact countDistinct is a full shuffle of
every distinct value; the sketches below are single-pass, mergeable, and
fixed-size — HyperLogLog++ (`approx_count_distinct`) and the
Greenwald-Khanna-style quantile sketch (`percentile_approx`), both JVM
built-ins with map-side partial aggregation, and the portable-hash
count-min / HyperLogLog family, whose every cell and register DuckDB
recomputes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def approx_distinct(
    df: DataFrame, group_cols: list[str], target: str, rsd: float = 0.02
) -> DataFrame:
    """Per-group HLL++ distinct estimate (relative standard deviation
    ``rsd``). The shuffle carries one sketch per group per task, not one
    row per distinct value."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(target, rsd=rsd).alias("approx_distinct"),
    )


def approx_quantiles(
    df: DataFrame,
    group_cols: list[str],
    target: str,
    probs: list[float] = (0.5, 0.9, 0.99),
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group quantile-sketch estimates; error ≤ 1/accuracy of rank."""
    return df.groupBy(*group_cols).agg(
        F.percentile_approx(target, list(probs), accuracy).alias("quantiles")
    )


# ---------------------------------------------------------------------------
# Portable-hash sketch variants — cross-engine replayable.
#
# The JVM built-ins above have no DuckDB equivalent, so their queries carry
# error-band guards instead of value oracles.  The sketches below ride a 32-bit
# xor-shift-multiply mixer (two rounds of ``h ^= h >> 16; h *= M`` plus a
# final xor-fold — the splitmix/lowbias32 construction, seeded per hash
# index by the golden gamma):
#
#     x   = ((key mod 2^32) + (i+1) * 0x9E3779B9) mod 2^32
#     x   = ((x XOR (x >> 16)) * 0x45D9F3B) mod 2^32      (twice)
#     h_i = x XOR (x >> 16)                               (< 2^32)
#
# The key is reduced mod 2^32 BEFORE the gamma seed is added (ADVICE r4):
# adding the seed to a raw int64 key within ~2^35 of the int64 boundary
# would overflow — silently wrapping on Spark (non-ANSI) but RAISING on
# DuckDB's checked BIGINT arithmetic, a cross-engine divergence.  With the
# pre-reduction every intermediate stays < 2^40 for any int64 key (modular
# arithmetic makes the result identical where the old form didn't
# overflow), so the whole domain is exact on both engines.
# Every step is exact int64 arithmetic (operands < 2^32, products < 2^59 —
# no overflow on any ANSI engine) using only XOR / shift / multiply /
# modulo, all of which DuckDB computes bit-identically — so the ENTIRE
# sketch (every CMS cell, HLL register, Bloom bit) is reproducible in plain
# SQL and hash-matchable, not just error-banded.  An affine hash
# (a*x+b mod p) is NOT enough here despite being 2-universal: it maps
# arithmetic-progression keys (sequential ids — the common case) onto
# correlated registers/leading-zero patterns and HLL's estimate collapses;
# the xor-multiply rounds break that structure.
# ---------------------------------------------------------------------------

_PH_M32 = 1 << 32
_PH_GAMMA = 0x9E3779B9
_PH_MULT = 0x45D9F3B


def portable_hash(col, i: int):
    """h_i over an integral column, as exact int64 Spark expressions.
    The key is pmod-reduced to [0, 2^32) BEFORE the gamma seed lands, so
    the sum never leaves exact int64 range for ANY int64 key (see the
    module comment); the mix rounds preserve [0, 2^32) so plain ``%``
    suffices after them."""
    x = F.pmod(
        F.pmod(col.cast("long"), F.lit(_PH_M32)) + F.lit(_PH_GAMMA * (i + 1)),
        F.lit(_PH_M32),
    )
    for _ in range(2):
        x = F.pmod(
            x.bitwiseXOR(F.shiftright(x, 16)) * F.lit(_PH_MULT), F.lit(_PH_M32)
        )
    return x.bitwiseXOR(F.shiftright(x, 16))


def portable_hash_sql(expr: str, i: int) -> str:
    """The same h_i as a DuckDB SQL fragment.  The sub-expression is spelled
    out twice per round (no LET in SQL) — deterministic, just verbose."""
    x = f"(((({expr}) % {_PH_M32} + {_PH_M32}) % {_PH_M32}) + {_PH_GAMMA * (i + 1)}) % {_PH_M32}"
    for _ in range(2):
        x = f"((xor({x}, ({x}) >> 16)) * {_PH_MULT}) % {_PH_M32}"
    return f"xor({x}, ({x}) >> 16)"


def _cms_cells(
    df: DataFrame, key_col: str, depth: int, width: int, *keep: str
) -> DataFrame:
    """(``*keep``, row, col): one row per hash row of each key — the ONE
    place the CMS coordinate arithmetic lives (build, build-from-counts,
    the grouped build and the estimate all share it, so a change cannot
    silently fork).  The ``depth`` column indexes are computed in a
    projection BELOW the explode: inside a ``Generate`` node Spark does
    not eliminate ``portable_hash``'s repeated sub-expressions (a 4×256
    build over 100k cached events on 4 cores: 0.58–0.66 s with the hash
    inside the explode, 0.17–0.23 s below it; the shape is pinned by
    tests/test_plan_quality.py)."""
    hashed = df.select(
        *keep,
        *[
            (portable_hash(F.col(key_col), i) % width).cast("int").alias(f"__c{i}")
            for i in range(depth)
        ],
    )
    cells = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("row"), F.col(f"__c{i}").alias("col"))
                for i in range(depth)
            ]
        )
    )
    return hashed.select(*keep, cells.alias("rc")).select(*keep, "rc.row", "rc.col")


def cms_build_portable(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-min sketch of a key column as a (row, col, cnt) relation:
    each item increments one counter per hash row, so the build is one
    explode (depth rows per item) + one map-side-combinable groupBy
    bounded at depth*width cells.  Two sketches MERGE by summing cells —
    the additive contract that lets 100 TB build per-partition sketches
    and combine (q205) — and every cell value is reproducible in SQL
    (``cms_cell_sql``)."""
    return (
        _cms_cells(df, key_col, depth, width)
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def cms_build_portable_from_counts(
    counts: DataFrame, key_col: str, cnt_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """CMS cells from an already-aggregated (key, count) relation: each
    distinct key contributes its count to its ``depth`` cells, so the
    explode runs over |distinct keys| rows instead of |events| — cell
    values are IDENTICAL to :func:`cms_build_portable` on the raw stream
    (a cell is a sum of per-key counts either way).  The pre-aggregation
    is the win when the caller already needs per-key counts (q180 shares
    one groupBy between the sketch and the heavy-hitter ranking).
    Delegates to the grouped builder with a constant group."""
    return cms_build_portable_grouped_from_counts(
        counts.withColumn("__g", F.lit(0)), "__g", key_col, cnt_col, depth, width
    ).drop("grp")


def cms_estimate_portable(
    keys: DataFrame, sketch: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Point-frequency estimates: est(k) = min over rows of the counter at
    (row, h_row(k)).  The sketch relation is bounded at depth*width cells
    BY CONSTRUCTION, so broadcasting it is legitimate (contrast
    vocabulary-sized relations, which never are).  CMS never
    underestimates; the overestimate is <= e/width * N with probability
    1 - e^-depth per key."""
    return (
        _cms_cells(keys, key_col, depth, width, key_col)
        .join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("bigint").alias("est_count"))
    )


def cms_cell_sql(expr: str, i: int, width: int) -> str:
    """SQL fragment for the portable CMS column index of hash row ``i``."""
    return f"({portable_hash_sql(expr, i)} % {width})"


def _hll_reg_rho(key_col: str, m: int):
    """(reg, rho) expressions for one key under the portable hash — the
    ONE place the register-index / leading-zero arithmetic lives (the
    grouped and ungrouped register builders share it)."""
    budget = 32 - m.bit_length() + 1  # bits of h above the register index
    h = portable_hash(F.col(key_col), 0)
    w = F.floor(h / m).cast("long")
    rho = F.when(w == 0, F.lit(budget + 1)).otherwise(
        F.lit(budget + 1) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    return (h % m).cast("int").alias("reg"), rho.cast("int").alias("rho")


def hll_portable_registers(df: DataFrame, key_col: str, m: int = 128) -> DataFrame:
    """Portable-hash HyperLogLog register relation (reg, max_rho).

    One hash per key: the low ``log2 m`` bits (h mod m) pick the register,
    the remaining budget ``B = 32 - log2 m`` bits (h div m) feed
    rho = leading-zero count + 1, computed portably as ``B - bitlength(w)
    + 1`` with bitlength via the base-2 string (Spark ``conv``, DuckDB
    ``printf('%b')`` — both return '0' for 0, handled by the w=0 branch).
    The relation is m-bounded and merges by per-register MAX — the HLL
    merge law, pinned in tests/test_sketches.py."""
    return hll_portable_registers_grouped(
        df.withColumn("__g", F.lit(0)), "__g", key_col, m
    ).drop("grp")


def hll_portable_estimate(registers: DataFrame, m: int = 128) -> DataFrame:
    """One-row (v_zero, est) from a portable register relation.

    Standard HLL with small-range correction: E_raw = alpha_m * m^2 /
    (sum 2^-M_j + V) where V counts never-touched registers (each
    contributing 2^0); if E_raw <= 2.5m and V > 0, E = m * ln(m/V).  Every
    term is cross-engine exact (powers of two sum exactly in a 53-bit
    mantissa; the alpha literal is spelled identically in the SQL twin) —
    only ln() rides libm, so estimates are rounded to 2 decimals.

    A GLOBAL aggregate, not a grouped one: an EMPTY register relation
    (estimating an empty table) must still return its one row
    (v_zero=m, est=0.0) — a groupBy on a constant returns zero rows there
    and the caller would silently get no estimate."""
    agg = registers.agg(
        (F.lit(m) - F.count(F.lit(1))).cast("bigint").alias("v_zero"),
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))), F.lit(0.0)
        ).alias("present_sum"),
    )
    return agg.select(
        "v_zero", F.round(_hll_est(m), 2).alias("est")
    )


def hll_portable_sql(table: str, expr: str, m: int = 128) -> str:
    """DuckDB replay of registers + estimate over ``expr`` in ``table``."""
    budget = 32 - m.bit_length() + 1
    alpha = f"(0.7213 / (1 + 1.079 / {m}))"
    h = portable_hash_sql(expr, 0)
    return f"""
    WITH hashes AS (
      SELECT DISTINCT {h} AS h FROM {table}
    ),
    regs AS (
      SELECT h % {m} AS reg,
             CASE WHEN h // {m} = 0 THEN {budget + 1}
                  ELSE {budget + 1} - length(printf('%b', h // {m}))
             END AS rho
      FROM hashes
    ),
    m_regs AS (SELECT reg, max(rho) AS max_rho FROM regs GROUP BY reg),
    agg AS (
      SELECT CAST({m} - count(*) AS BIGINT) AS v_zero,
             sum(power(2.0, -max_rho)) AS present_sum
      FROM m_regs
    )
    SELECT v_zero,
           round(CASE WHEN {alpha} * {m} * {m} / (present_sum + v_zero) <= 2.5 * {m}
                       AND v_zero > 0
                      THEN {m} * ln({m} * 1.0 / v_zero)
                      ELSE {alpha} * {m} * {m} / (present_sum + v_zero)
                 END, 2) AS est
    FROM agg
    """


def hll_portable_registers_grouped(
    df: DataFrame, group_col: str, key_col: str, m: int = 128
) -> DataFrame:
    """Per-group portable HLL register relations in ONE groupBy:
    (group, reg, max_rho), m-bounded rows per group.  Merging groups is
    ``groupBy(reg).max(max_rho)`` — the HLL merge law — and because the
    union of the groups' key sets is the whole table, the merged relation
    must equal the direct global build REGISTER FOR REGISTER (q203 pins
    that equality in-plan and against DuckDB)."""
    if m & (m - 1) or not 2 <= m <= 65536:
        raise ValueError(f"m must be a power of two in [2, 65536], got {m}")
    reg, rho = _hll_reg_rho(key_col, m)
    return (
        df.select(F.col(group_col).alias("grp"), reg, rho)
        .groupBy("grp", "reg")
        .agg(F.max("rho").alias("max_rho"))
    )


def _hll_est(m: int):
    """The alpha/small-range estimate expression over (v_zero,
    present_sum) columns — shared by the global and grouped estimators."""
    alpha = 0.7213 / (1 + 1.079 / m)
    e_raw = F.lit(alpha) * m * m / (F.col("present_sum") + F.col("v_zero"))
    return F.when(
        (e_raw <= 2.5 * m) & (F.col("v_zero") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero")),
    ).otherwise(e_raw)


def hll_portable_estimate_grouped(registers: DataFrame, m: int = 128) -> DataFrame:
    """(grp, v_zero, est) from a grouped register relation — the same
    alpha/small-range formula as :func:`hll_portable_estimate`, one row
    per group (a group with no registers has no row — group identity
    comes from the relation; the GLOBAL face handles the empty-table
    case instead)."""
    agg = registers.groupBy("grp").agg(
        (F.lit(m) - F.count(F.lit(1))).cast("bigint").alias("v_zero"),
        (F.sum(F.pow(F.lit(2.0), -F.col("max_rho")))).alias("present_sum"),
    )
    return agg.select("grp", "v_zero", F.round(_hll_est(m), 2).alias("est"))


def cms_build_portable_grouped_from_counts(
    counts: DataFrame,
    group_col: str,
    key_col: str,
    cnt_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Per-group CMS cell relations (grp, row, col, cnt) in ONE groupBy.
    Merging groups is ``groupBy(row, col).sum(cnt)`` — the CMS merge law
    (cells are sums, so the merge is cell-wise addition) — and because the
    groups partition the table, the merged relation must equal a direct
    global build CELL FOR CELL (q205 pins that equality in-plan and
    against DuckDB)."""
    return (
        _cms_cells(
            counts.select(
                F.col(group_col).alias("grp"), F.col(cnt_col).alias("__c"), key_col
            ),
            key_col, depth, width, "grp", "__c",
        )
        .groupBy("grp", "row", "col")
        .agg(F.sum("__c").cast("bigint").alias("cnt"))
    )


def portable_hash_py(key: int, i: int) -> int:
    """Pure-Python twin of :func:`portable_hash` — bit-identical by
    construction (same pmod/xor/shift/multiply sequence in exact integer
    arithmetic).  Used where the DRIVER must evaluate the hash, e.g.
    probing the manifest-embedded per-file Bloom filters during scan
    planning (versioned.prune_files_for_points); parity with the Spark
    and DuckDB twins is pinned in tests/test_sketches.py."""
    x = ((key % _PH_M32) + _PH_GAMMA * (i + 1)) % _PH_M32
    for _ in range(2):
        x = ((x ^ (x >> 16)) * _PH_MULT) % _PH_M32
    return x ^ (x >> 16)
