"""Portable-hash sketch queries — the cross-engine-replayable sketches.

The JVM sketch built-ins (HLL++ q63/q155/q164, the quantile sketch q91)
are verified by error-band guards and merge-law tests because no
independent engine can recompute their state.  The queries below build
sketch shapes on a 32-bit xor-shift-multiply mixer (the
splitmix/lowbias32 construction: golden-gamma seed per hash index, then
two rounds of ``x = ((x XOR x>>16) * 0x45D9F3B) mod 2^32`` and a final
xor-fold — ``operators/sketches.portable_hash``; NOT an affine
``a·x+b mod p`` family, which is 2-universal but collapses HLL on
sequential keys), whose exact int64 arithmetic DuckDB replays verbatim —
so every CMS cell, HLL register and Bloom bit is HASH-MATCHED against the
oracle, not just banded.  Count-min has only this kernel (q142, q165,
q180 and q205 share one readout,
``extended_queries._cms_heavy_hitters``); the HLL queries
certify the sketch ALGEBRA — build shapes, estimate formulas, merge laws
— that the JVM built-ins share.

Reference tie-in: the reference validates outputs only by exact SQL
(eda_query.py's aggregate checks); sketches are beyond its surface, so this
module holds them to the same exact-verification bar the relational
queries meet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_async_sample_spark.operators.bloom import bloom_might_contain, build_bloom
from python_async_sample_spark.operators.sketches import (
    cms_cell_sql,
    hll_portable_estimate,
    hll_portable_registers,
    hll_portable_sql,
    portable_hash,
    portable_hash_sql,
)
from python_async_sample_spark.plans.extended_queries import (
    _CMS_DEPTH,
    _CMS_ORACLE,
    _CMS_WIDTH,
    _cms_heavy_hitters,
    _cms_probe_sql,
    _user_counts,
)
from python_async_sample_spark.plans.registry import query
from python_async_sample_spark.plans.similarity_queries import _union_poison_guard
from python_async_sample_spark.sources.readers import load_table

@query(
    "q180_cms_portable_exact",
    oracle=_CMS_ORACLE,
    ref="count-min sketch, cross-engine hash-matched (beyond reference; q142's report with the sketch built from per-key counts)",
    tags=("sketch", "scale"),
)
def q180_cms_portable_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q142's heavy-hitter report with the sketch built from per-key
    counts: ONE scan + ONE per-key groupBy feeds both faces — the sketch
    build (each key adds its count to its cells — identical cells to
    q142's raw-stream build) and the heavy-hitter ranking.  Materialized
    so the two consumers don't re-run the scan+shuffle lineage.  The
    ORACLE RECOMPUTES EVERY SKETCH CELL: build, point estimates (min over
    hash rows via a broadcast of the bounded cell relation) and the
    deterministic top-10 ranking all hash-match DuckDB."""
    from python_async_sample_spark.operators.sketches import (
        cms_build_portable_from_counts,
    )

    per_key = _user_counts(load_table(spark, sf_dir, "events")).localCheckpoint(eager=False)
    sketch = cms_build_portable_from_counts(
        per_key, "user_id", "true_count", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    return _cms_heavy_hitters(per_key, sketch, "portable CMS")


_HLL_M = 128

_HLL_ORACLE = f"""
    WITH hll AS ({hll_portable_sql("events", "user_id", _HLL_M)})
    SELECT CAST({_HLL_M} AS INT) AS m,
           v_zero,
           est,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
             AS exact_distinct
    FROM hll
"""


@query(
    "q181_hll_portable_exact",
    oracle=_HLL_ORACLE,
    ref="HyperLogLog distinct estimate, cross-engine hash-matched (beyond reference; the value-oracled twin of q63's HLL++)",
    tags=("sketch", "scale"),
)
def q181_hll_portable_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimate from a hand-rolled 128-register HLL on the
    portable hash: register index from the low bits, rho from the leading
    zeros of the remaining 24-bit budget (bit-length via base-2 string on
    both engines), alpha-corrected harmonic mean with the standard
    small-range (linear-counting) switch. DuckDB recomputes every register
    and the estimate itself — the first sketch here whose VALUE, not just
    error band, is the checked artifact. The band guard (±35%: 3 sigma at
    m=128 plus non-ideal-hash slack) still rides in-plan."""
    ev = load_table(spark, sf_dir, "events")
    regs = hll_portable_registers(ev, "user_id", m=_HLL_M)
    est = hll_portable_estimate(regs, m=_HLL_M)
    exact = ev.agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    out = (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.lit(_HLL_M).cast("int").alias("m"), "v_zero", "est", "exact_distinct"
        )
    )
    violation = out.where(
        (F.col("est") / F.col("exact_distinct") - 1.0).isNull()
        | (F.abs(F.col("est") / F.col("exact_distinct") - 1.0) > 0.35)
    ).limit(1)
    return _union_poison_guard(
        out, violation, "portable HLL estimate outside the 35% contract band"
    )


_BLOOM_M, _BLOOM_K, _BLOOM_THRESHOLD = 2048, 3, 200


def _bloom_pos_sql(expr: str, i: int) -> str:
    return f"({portable_hash_sql(expr, i)} % {_BLOOM_M})"


_BLOOM_ORACLE = f"""
    WITH build AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND value > {_BLOOM_THRESHOLD}
    ),
    bits AS (
      SELECT DISTINCT pos FROM (
        {"    UNION ALL ".join(
            f"SELECT {_bloom_pos_sql('user_id', i)} AS pos FROM build "
            for i in range(_BLOOM_K)
        )}
      )
    ),
    probe_pos AS (
      {"    UNION ALL ".join(
          f"SELECT event_id, {_bloom_pos_sql('user_id', i)} AS pos FROM events "
          for i in range(_BLOOM_K)
      )}
    ),
    hits AS (
      SELECT event_id FROM probe_pos JOIN bits USING (pos)
      GROUP BY event_id HAVING count(*) = {_BLOOM_K}
    ),
    passed AS (SELECT e.event_type FROM events e JOIN hits USING (event_id)),
    truth AS (SELECT e.event_type FROM events e JOIN build USING (user_id)),
    base AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    p AS (SELECT event_type, count(*) AS c FROM passed GROUP BY 1),
    t AS (SELECT event_type, count(*) AS c FROM truth GROUP BY 1)
    SELECT b.event_type, b.n_events,
           CAST(coalesce(p.c, 0) AS BIGINT) AS n_pass,
           CAST(coalesce(t.c, 0) AS BIGINT) AS n_true,
           CAST(coalesce(p.c, 0) - coalesce(t.c, 0) AS BIGINT) AS n_false_pos
    FROM base b LEFT JOIN p USING (event_type) LEFT JOIN t USING (event_type)
    ORDER BY event_type
"""


@query(
    "q182_bloom_portable_exact",
    oracle=_BLOOM_ORACLE,
    ref="Bloom-filter probe pruning, cross-engine hash-matched (beyond reference; oracles the FILTER itself — false positives included — where q112 oracles only the post-verify result)",
    tags=("sketch", "join", "scale"),
)
def q182_bloom_portable_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 2048-bit/3-hash Bloom filter over high-value purchase users
    and probe EVERY event through it, reporting per event type: probe rows,
    bloom passes, true members, and false positives. On the portable hash
    the oracle recomputes each set bit and each probe's membership test, so
    the word/mask bitset path (bit_or build, forall word-mask probe) is
    certified bit-for-bit against relational set semantics — including the
    false-positive count, which q112's post-verify oracle by construction
    cannot see. The no-false-negative contract stays in-plan: any true
    member whose event fails the filter poisons the query."""
    ev = load_table(spark, sf_dir, "events")
    build = (
        ev.where(
            (F.col("event_type") == "purchase")
            & (F.col("value") > _BLOOM_THRESHOLD)
        )
        .select("user_id")
        .distinct()
    )
    bloom = build_bloom(build, "user_id", m_bits=_BLOOM_M, k=_BLOOM_K, hash_fn=portable_hash)
    passed = bloom_might_contain(
        ev, bloom, "user_id", m_bits=_BLOOM_M, k=_BLOOM_K, hash_fn=portable_hash
    )
    truth = ev.join(build, "user_id", "left_semi")

    base = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    p = passed.groupBy("event_type").agg(F.count(F.lit(1)).alias("__p"))
    t = truth.groupBy("event_type").agg(F.count(F.lit(1)).alias("__t"))
    out = (
        base.join(p, "event_type", "left")
        .join(t, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.coalesce("__p", F.lit(0)).cast("bigint").alias("n_pass"),
            F.coalesce("__t", F.lit(0)).cast("bigint").alias("n_true"),
            (F.coalesce("__p", F.lit(0)) - F.coalesce("__t", F.lit(0)))
            .cast("bigint")
            .alias("n_false_pos"),
        )
    )
    violation = truth.join(passed.select("event_id"), "event_id", "left_anti").limit(1)
    return _union_poison_guard(
        out, violation, "Bloom filter false negative — impossible by construction"
    ).orderBy("event_type")


# --- q183: Poisson bootstrap on portable-hash randomness -------------------
#
# The online-bootstrap trick (Poisson(1) replicate weights instead of true
# with-replacement resampling) is THE way to bootstrap a distributed table:
# one pass, no resample shuffle, every replicate a weighted aggregate.  With
# the replicate weight drawn from the PORTABLE hash of (row, replicate) the
# whole procedure is deterministic and the oracle replays it exactly —
# normally sampling-based statistics are the least oracle-able thing in an
# engine.  Money math rides integer cents (floor(value*100+0.5)) so every
# sum is exact int64 on both engines and the only doubles are final
# divisions of identical integers.

_BOOT_B = 48
# inverse-CDF thresholds for Poisson(1), as exact int literals on h<2^32:
# P(X<=k) for k=0..5; a hash above the last threshold draws weight 6
_POIS_THRESHOLDS: list[int] = []
_cum = 0.0
for _k in range(6):
    _f = 1
    for _j in range(1, _k + 1):
        _f *= _j
    _cum += 2.718281828459045**-1.0 / _f
    _POIS_THRESHOLDS.append(int(_cum * (1 << 32)))


def _poisson_weight_spark(h):
    w = F.lit(6)
    for k in range(5, -1, -1):
        w = F.when(h < F.lit(_POIS_THRESHOLDS[k]), F.lit(k)).otherwise(w)
    return w


def _poisson_weight_sql(h: str) -> str:
    cases = " ".join(
        f"WHEN ({h}) < {t} THEN {k}" for k, t in enumerate(_POIS_THRESHOLDS)
    )
    return f"(CASE {cases} ELSE 6 END)"


_BOOT_ORACLE = f"""
    WITH ev AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    pt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             round(sum(cents) / (100.0 * count(*)), 6) AS mean_value
      FROM ev GROUP BY 1
    ),
    rep AS (
      SELECT event_type, cents,
             {_poisson_weight_sql(portable_hash_sql(f"(event_id * {_BOOT_B} + g.b)", 0))} AS w,
             g.b
      FROM ev, (SELECT unnest(range({_BOOT_B})) AS b) g
    ),
    bm AS (
      SELECT event_type, b,
             sum(w * cents) / (100.0 * sum(w)) AS m
      FROM rep GROUP BY 1, 2 HAVING sum(w) > 0
    ),
    ci AS (
      SELECT event_type,
             round(quantile_cont(m, 0.025), 6) AS ci_lo,
             round(quantile_cont(m, 0.975), 6) AS ci_hi
      FROM bm GROUP BY 1
    )
    SELECT p.event_type, p.n, p.mean_value, c.ci_lo, c.ci_hi
    FROM pt p JOIN ci c USING (event_type)
    ORDER BY p.event_type
"""


@query(
    "q183_bootstrap_ci",
    oracle=_BOOT_ORACLE,
    ref="Poisson-bootstrap confidence intervals (beyond reference; one-pass distributed resampling, deterministic via the portable hash so even SAMPLING is value-oracled)",
    tags=("stats", "sketch", "scale"),
)
def q183_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for the mean event value per event type, from 48
    Poisson(1)-weighted replicates in ONE pass: explode rows x replicates,
    draw each weight by inverse-CDF on the portable hash of
    (event_id, replicate), aggregate weighted means per replicate, take
    exact percentiles across the 48 means. No resampling shuffle, no
    driver-side randomness, map-side-combinable aggregates throughout —
    the online-bootstrap shape that scales to 100 TB, made deterministic
    enough for DuckDB to reproduce every weight and both CI bounds."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    point = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("cents") / (100.0 * F.count(F.lit(1))), 6).alias("mean_value"),
    )
    rep = ev.select(
        "event_type",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "event_id",
    )
    h = portable_hash(F.col("event_id") * _BOOT_B + F.col("b"), 0)
    w = _poisson_weight_spark(h)
    bm = (
        rep.select("event_type", "b", w.alias("w"), "cents")
        .groupBy("event_type", "b")
        .agg(F.sum(F.col("w") * F.col("cents")).alias("swx"), F.sum("w").alias("sw"))
        .where(F.col("sw") > 0)
        .select("event_type", (F.col("swx") / (100.0 * F.col("sw"))).alias("m"))
    )
    ci = bm.groupBy("event_type").agg(
        F.round(F.percentile("m", 0.025), 6).alias("ci_lo"),
        F.round(F.percentile("m", 0.975), 6).alias("ci_hi"),
    )
    return point.join(ci, "event_type").select(
        "event_type", "n", "mean_value", "ci_lo", "ci_hi"
    ).orderBy("event_type")


@query(
    "q187_simhash_portable_exact",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ),
    dig AS (
      SELECT doc_id,
             strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS d0,
             strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 AS d1,
             strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1 AS d2,
             strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1 AS d3,
             strpos('0123456789abcdef', substr(md5(tok), 5, 1)) - 1 AS d4,
             strpos('0123456789abcdef', substr(md5(tok), 6, 1)) - 1 AS d5,
             strpos('0123456789abcdef', substr(md5(tok), 7, 1)) - 1 AS d6,
             strpos('0123456789abcdef', substr(md5(tok), 8, 1)) - 1 AS d7
      FROM tok WHERE tok <> ''
    ),
    votes AS (
      SELECT doc_id,
             sum(CASE WHEN (d0 & 1) <> 0 THEN 1 ELSE -1 END) AS v0,
             sum(CASE WHEN (d0 & 2) <> 0 THEN 1 ELSE -1 END) AS v1,
             sum(CASE WHEN (d0 & 4) <> 0 THEN 1 ELSE -1 END) AS v2,
             sum(CASE WHEN (d0 & 8) <> 0 THEN 1 ELSE -1 END) AS v3,
             sum(CASE WHEN (d1 & 1) <> 0 THEN 1 ELSE -1 END) AS v4,
             sum(CASE WHEN (d1 & 2) <> 0 THEN 1 ELSE -1 END) AS v5,
             sum(CASE WHEN (d1 & 4) <> 0 THEN 1 ELSE -1 END) AS v6,
             sum(CASE WHEN (d1 & 8) <> 0 THEN 1 ELSE -1 END) AS v7,
             sum(CASE WHEN (d2 & 1) <> 0 THEN 1 ELSE -1 END) AS v8,
             sum(CASE WHEN (d2 & 2) <> 0 THEN 1 ELSE -1 END) AS v9,
             sum(CASE WHEN (d2 & 4) <> 0 THEN 1 ELSE -1 END) AS v10,
             sum(CASE WHEN (d2 & 8) <> 0 THEN 1 ELSE -1 END) AS v11,
             sum(CASE WHEN (d3 & 1) <> 0 THEN 1 ELSE -1 END) AS v12,
             sum(CASE WHEN (d3 & 2) <> 0 THEN 1 ELSE -1 END) AS v13,
             sum(CASE WHEN (d3 & 4) <> 0 THEN 1 ELSE -1 END) AS v14,
             sum(CASE WHEN (d3 & 8) <> 0 THEN 1 ELSE -1 END) AS v15,
             sum(CASE WHEN (d4 & 1) <> 0 THEN 1 ELSE -1 END) AS v16,
             sum(CASE WHEN (d4 & 2) <> 0 THEN 1 ELSE -1 END) AS v17,
             sum(CASE WHEN (d4 & 4) <> 0 THEN 1 ELSE -1 END) AS v18,
             sum(CASE WHEN (d4 & 8) <> 0 THEN 1 ELSE -1 END) AS v19,
             sum(CASE WHEN (d5 & 1) <> 0 THEN 1 ELSE -1 END) AS v20,
             sum(CASE WHEN (d5 & 2) <> 0 THEN 1 ELSE -1 END) AS v21,
             sum(CASE WHEN (d5 & 4) <> 0 THEN 1 ELSE -1 END) AS v22,
             sum(CASE WHEN (d5 & 8) <> 0 THEN 1 ELSE -1 END) AS v23,
             sum(CASE WHEN (d6 & 1) <> 0 THEN 1 ELSE -1 END) AS v24,
             sum(CASE WHEN (d6 & 2) <> 0 THEN 1 ELSE -1 END) AS v25,
             sum(CASE WHEN (d6 & 4) <> 0 THEN 1 ELSE -1 END) AS v26,
             sum(CASE WHEN (d6 & 8) <> 0 THEN 1 ELSE -1 END) AS v27,
             sum(CASE WHEN (d7 & 1) <> 0 THEN 1 ELSE -1 END) AS v28,
             sum(CASE WHEN (d7 & 2) <> 0 THEN 1 ELSE -1 END) AS v29,
             sum(CASE WHEN (d7 & 4) <> 0 THEN 1 ELSE -1 END) AS v30,
             sum(CASE WHEN (d7 & 8) <> 0 THEN 1 ELSE -1 END) AS v31
      FROM dig GROUP BY doc_id
    )
    SELECT doc_id,
           CAST((CASE WHEN v0 > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) + (CASE WHEN v1 > 0 THEN CAST(2 AS BIGINT) ELSE 0 END) + (CASE WHEN v2 > 0 THEN CAST(4 AS BIGINT) ELSE 0 END) + (CASE WHEN v3 > 0 THEN CAST(8 AS BIGINT) ELSE 0 END) + (CASE WHEN v4 > 0 THEN CAST(16 AS BIGINT) ELSE 0 END) + (CASE WHEN v5 > 0 THEN CAST(32 AS BIGINT) ELSE 0 END) + (CASE WHEN v6 > 0 THEN CAST(64 AS BIGINT) ELSE 0 END) + (CASE WHEN v7 > 0 THEN CAST(128 AS BIGINT) ELSE 0 END) + (CASE WHEN v8 > 0 THEN CAST(256 AS BIGINT) ELSE 0 END) + (CASE WHEN v9 > 0 THEN CAST(512 AS BIGINT) ELSE 0 END) + (CASE WHEN v10 > 0 THEN CAST(1024 AS BIGINT) ELSE 0 END) + (CASE WHEN v11 > 0 THEN CAST(2048 AS BIGINT) ELSE 0 END) + (CASE WHEN v12 > 0 THEN CAST(4096 AS BIGINT) ELSE 0 END) + (CASE WHEN v13 > 0 THEN CAST(8192 AS BIGINT) ELSE 0 END) + (CASE WHEN v14 > 0 THEN CAST(16384 AS BIGINT) ELSE 0 END) + (CASE WHEN v15 > 0 THEN CAST(32768 AS BIGINT) ELSE 0 END) + (CASE WHEN v16 > 0 THEN CAST(65536 AS BIGINT) ELSE 0 END) + (CASE WHEN v17 > 0 THEN CAST(131072 AS BIGINT) ELSE 0 END) + (CASE WHEN v18 > 0 THEN CAST(262144 AS BIGINT) ELSE 0 END) + (CASE WHEN v19 > 0 THEN CAST(524288 AS BIGINT) ELSE 0 END) + (CASE WHEN v20 > 0 THEN CAST(1048576 AS BIGINT) ELSE 0 END) + (CASE WHEN v21 > 0 THEN CAST(2097152 AS BIGINT) ELSE 0 END) + (CASE WHEN v22 > 0 THEN CAST(4194304 AS BIGINT) ELSE 0 END) + (CASE WHEN v23 > 0 THEN CAST(8388608 AS BIGINT) ELSE 0 END) + (CASE WHEN v24 > 0 THEN CAST(16777216 AS BIGINT) ELSE 0 END) + (CASE WHEN v25 > 0 THEN CAST(33554432 AS BIGINT) ELSE 0 END) + (CASE WHEN v26 > 0 THEN CAST(67108864 AS BIGINT) ELSE 0 END) + (CASE WHEN v27 > 0 THEN CAST(134217728 AS BIGINT) ELSE 0 END) + (CASE WHEN v28 > 0 THEN CAST(268435456 AS BIGINT) ELSE 0 END) + (CASE WHEN v29 > 0 THEN CAST(536870912 AS BIGINT) ELSE 0 END) + (CASE WHEN v30 > 0 THEN CAST(1073741824 AS BIGINT) ELSE 0 END) + (CASE WHEN v31 > 0 THEN CAST(2147483648 AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash32
    FROM votes ORDER BY doc_id
    """,
    ref="q33's SimHash kernel certified end-to-end on an independent engine (dedup.simhash32_md5: the md5/32-bit face of the kernel dedup.simhash runs on xxhash64)",
    tags=("llm-data", "dedup", "portable-sketch"),
)
def q187_simhash_portable_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q33's SimHash kernel (``dedup._simhash``) on a token hash both
    engines share: md5's first 8 hex digits, each contributing its four
    nibble bits, so EVERY document's 32-bit signature is hash-matched
    against DuckDB, not just banded.  The oracle spells the votes out by
    hand on purpose — it is the independent reference for the kernel's
    vote/bit-packing algebra, which q33's 64-bit xxhash face shares."""
    from python_async_sample_spark.operators.dedup import simhash32_md5

    docs = load_table(spark, sf_dir, "documents")
    return (
        simhash32_md5(docs, "doc_id", "text")
        .select("doc_id", F.col("simhash").alias("simhash32"))
        .orderBy("doc_id")
    )


# --- q199: mergeable equi-width histogram quantile sketch ------------------
#
# The quantile sketch every engine actually ships (t-digest, KLL, GK) is
# float- and merge-order-dependent — unverifiable across engines.  An
# equi-width histogram over a FIXED integer domain is the one quantile
# sketch whose build, merge, and estimate are ALL exact integer arithmetic:
# the per-partition histograms are the partial aggregates of a single
# groupBy (the shuffle merge IS the sketch merge — cell-wise add, associative
# and commutative by construction), and the rank→bin→interpolation estimate
# uses only int64 ops both engines replay bit-for-bit.  q91's t-digest-style
# approx_percentile stays the production path; this certifies the sketch
# ALGEBRA the same way q180/q181 certify CMS/HLL.

_HQ_W = 1600  # bin width in cents
_HQ_B = 64  # bins: domain [0, 102400) cents = $0..$1024, data tops at ~$561
_HQ_PCTS = (50, 95, 99)


def _hq_bin_sql(cents: str) -> str:
    return f"least({_HQ_B - 1}, greatest(0, CAST({cents} // {_HQ_W} AS BIGINT)))"


_HQ_ORACLE = f"""
    WITH ev AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    hist AS (
      SELECT event_type, {_hq_bin_sql('cents')} AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM ev GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
      FROM hist
    ),
    totals AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1
    ),
    ranks AS (
      SELECT event_type, n, p.pct,
             CAST((p.pct * n + 99) // 100 AS BIGINT) AS r
      FROM totals, (SELECT unnest([{", ".join(str(p) for p in _HQ_PCTS)}]) AS pct) p
    ),
    pick AS (
      SELECT event_type, pct, n, r, bin, cnt, cum,
             row_number() OVER (PARTITION BY event_type, pct ORDER BY bin) AS rn
      FROM ranks JOIN cum USING (event_type)
      WHERE cum >= r
    ),
    est AS (
      SELECT event_type, CAST(pct AS INT) AS pct, n,
             bin * {_HQ_W} + CAST((r - (cum - cnt)) * {_HQ_W} // cnt AS BIGINT)
               AS est_cents
      FROM pick WHERE rn = 1
    ),
    ranked AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rk
      FROM ev
    ),
    exact AS (
      SELECT r.event_type, CAST(r.pct AS INT) AS pct, x.cents AS exact_cents
      FROM ranks r JOIN ranked x
        ON x.event_type = r.event_type AND x.rk = r.r
    )
    SELECT e.event_type, e.pct, e.n,
           round(e.est_cents / 100.0, 2) AS est_value,
           round(x.exact_cents / 100.0, 2) AS exact_value
    FROM est e JOIN exact x USING (event_type, pct)
    ORDER BY e.event_type, e.pct
"""


@query(
    "q199_histogram_quantile_sketch",
    oracle=_HQ_ORACLE,
    ref=(
        "mergeable histogram quantile sketch, cross-engine hash-matched "
        "(beyond reference; the value-oracled twin of q91's approx_percentile "
        "— build cells, merge law, and rank-interpolation estimate all exact "
        "int64 arithmetic)"
    ),
    tags=("sketch", "stats", "scale"),
)
def q199_histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 per event type from a 64-bin equi-width histogram over
    integer cents: ONE map-side-combinable groupBy builds the sketch (its
    partial aggregates ARE the per-partition histograms; the shuffle merge
    is the cell-wise sketch merge), then rank = ceil(q*n) locates a bin via
    a cumulative window over 64 rows per key and linear interpolation
    inside the bin stays in integer division.  DuckDB recomputes every
    cell, every rank, and both the estimate and the exact rank-r value —
    and the sketch contract (the estimate lands within one bin width of
    the exact quantile) rides in-plan as a union-poison guard."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    bin_col = F.least(
        F.lit(_HQ_B - 1),
        F.greatest(F.lit(0), F.expr(f"cents div {_HQ_W}")),
    ).cast("long")
    hist = (
        ev.select("event_type", bin_col.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(W.partitionBy("event_type").orderBy("bin")),
    )
    totals = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ranks = totals.select(
        "event_type",
        "n",
        F.explode(F.array(*[F.lit(p) for p in _HQ_PCTS])).alias("pct"),
    ).withColumn("r", F.expr("(pct * n + 99) div 100").cast("long"))
    pick = (
        ranks.join(cum, "event_type")
        .where(F.col("cum") >= F.col("r"))
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("event_type", "pct").orderBy("bin")),
        )
        .where(F.col("rn") == 1)
    )
    est = pick.select(
        "event_type",
        F.col("pct").cast("int").alias("pct"),
        "n",
        (
            F.col("bin") * _HQ_W
            + F.expr(f"((r - (cum - cnt)) * {_HQ_W}) div cnt")
        ).cast("long").alias("est_cents"),
    )
    ranked = ev.withColumn(
        "rk", F.row_number().over(W.partitionBy("event_type").orderBy("cents"))
    )
    exact = ranks.join(
        ranked,
        (ranked["event_type"] == ranks["event_type"]) & (ranked["rk"] == ranks["r"]),
    ).select(
        ranks["event_type"],
        F.col("pct").cast("int").alias("pct"),
        F.col("cents").alias("exact_cents"),
    )
    out = (
        est.join(exact, ["event_type", "pct"])
        .select(
            "event_type",
            "pct",
            "n",
            F.round(F.col("est_cents") / 100.0, 2).alias("est_value"),
            F.round(F.col("exact_cents") / 100.0, 2).alias("exact_value"),
            "est_cents",
            "exact_cents",
        )
    )
    violation = out.where(
        F.abs(F.col("est_cents") - F.col("exact_cents")) > F.lit(_HQ_W)
    ).limit(1)
    return (
        _union_poison_guard(
            out,
            violation,
            "histogram quantile estimate more than one bin width from the "
            "exact quantile — impossible while the exact value is in-domain",
        )
        .select("event_type", "pct", "n", "est_value", "exact_value")
        .orderBy("event_type", "pct")
    )


# --- q203: the HLL MERGE LAW, value-oracled ---------------------------------
#
# q181 certifies one global build; what a 100 TB deployment actually does is
# build per-partition/per-day sketches and MERGE them (that is the entire
# point of a sketch).  The law — per-register max of per-group registers ==
# registers of the union — is exact algebra, so with the portable hash the
# whole story is value-oracled: per-group registers, per-group estimates,
# the merged estimate, AND the in-plan assertion that the merged relation is
# register-for-register identical to a direct global build.

def _hll_merge_oracle() -> str:
    from python_async_sample_spark.operators.sketches import portable_hash_sql

    m = _HLL_M
    budget = 32 - m.bit_length() + 1
    alpha = f"(0.7213 / (1 + 1.079 / {m}))"
    h = portable_hash_sql("user_id", 0)
    est = (
        f"round(CASE WHEN {alpha} * {m} * {m} / (present_sum + v_zero) <= 2.5 * {m} "
        f"AND v_zero > 0 THEN {m} * ln({m} * 1.0 / v_zero) "
        f"ELSE {alpha} * {m} * {m} / (present_sum + v_zero) END, 2)"
    )
    return f"""
    WITH hashes AS (
      SELECT DISTINCT event_type, {h} AS h FROM events
    ),
    regs AS (
      SELECT event_type, h % {m} AS reg,
             max(CASE WHEN h // {m} = 0 THEN {budget + 1}
                      ELSE {budget + 1} - length(printf('%b', h // {m}))
                 END) AS max_rho
      FROM hashes GROUP BY 1, 2
    ),
    per_group AS (
      SELECT event_type,
             CAST({m} - count(*) AS BIGINT) AS v_zero,
             sum(power(2.0, -max_rho)) AS present_sum
      FROM regs GROUP BY 1
    ),
    per_group_out AS (
      SELECT p.event_type, {est} AS est,
             CAST(x.n AS BIGINT) AS exact_distinct
      FROM per_group p JOIN (
        SELECT event_type, count(DISTINCT user_id) AS n FROM events GROUP BY 1
      ) x USING (event_type)
    ),
    merged AS (
      SELECT reg, max(max_rho) AS max_rho FROM regs GROUP BY reg
    ),
    merged_agg AS (
      SELECT CAST({m} - count(*) AS BIGINT) AS v_zero,
             sum(power(2.0, -max_rho)) AS present_sum
      FROM merged
    ),
    merged_out AS (
      SELECT 'ALL' AS event_type, {est} AS est,
             (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
               AS exact_distinct
      FROM merged_agg
    )
    SELECT * FROM per_group_out UNION ALL SELECT * FROM merged_out
    ORDER BY event_type
    """


@query(
    "q203_hll_merge_law",
    oracle=_hll_merge_oracle(),
    ref=(
        "HLL sketch MERGE, cross-engine hash-matched (beyond reference; "
        "q181 certifies one build — this certifies what sketches exist FOR: "
        "per-group registers merged by per-register max, with the merged "
        "relation pinned register-for-register equal to a direct global "
        "build, in-plan and against DuckDB)"
    ),
    tags=("sketch", "scale"),
)
def q203_hll_merge_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HLL sketches built in ONE groupBy, merged by
    per-register max into the global sketch — the mergeability that lets
    a 100 TB pipeline sketch each partition/day independently and combine
    at the end.  Output: each group's estimate + exact distinct, plus the
    merged 'ALL' row.  Two guards ride in-plan: the merged registers must
    equal a DIRECT global build register-for-register (full-outer
    mismatch relation poisons), and every estimate must sit inside the
    35% contract band of its exact count."""
    from python_async_sample_spark.operators.sketches import (
        hll_portable_estimate,
        hll_portable_estimate_grouped,
        hll_portable_registers,
        hll_portable_registers_grouped,
    )

    ev = load_table(spark, sf_dir, "events")
    grouped = hll_portable_registers_grouped(
        ev, "event_type", "user_id", m=_HLL_M
    ).localCheckpoint(eager=False)
    per_group = hll_portable_estimate_grouped(grouped, m=_HLL_M)
    exact_per = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    per_out = per_group.join(exact_per, "grp").select(
        F.col("grp").alias("event_type"), "est", "exact_distinct"
    )

    merged = grouped.groupBy("reg").agg(F.max("max_rho").alias("max_rho"))
    merged_est = hll_portable_estimate(merged, m=_HLL_M)
    exact_all = ev.agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    all_out = merged_est.crossJoin(F.broadcast(exact_all)).select(
        F.lit("ALL").alias("event_type"), "est", "exact_distinct"
    )
    out = per_out.unionByName(all_out)

    # guard 1: merge law — merged registers == direct global build
    direct = hll_portable_registers(ev, "user_id", m=_HLL_M)
    mismatch = (
        merged.withColumnRenamed("max_rho", "merged_rho")
        .join(direct.withColumnRenamed("max_rho", "direct_rho"), "reg", "full_outer")
        .where(
            F.col("merged_rho").isNull()
            | F.col("direct_rho").isNull()
            | (F.col("merged_rho") != F.col("direct_rho"))
        )
        .limit(1)
    )
    out = _union_poison_guard(
        out, mismatch, "HLL merge law violated: merged registers differ from direct build"
    )
    # guard 2: every estimate inside the 35% band of its exact count
    off_band = out.where(
        (F.col("est") / F.col("exact_distinct") - 1.0).isNull()
        | (F.abs(F.col("est") / F.col("exact_distinct") - 1.0) > 0.35)
    ).limit(1)
    return _union_poison_guard(
        out, off_band, "portable HLL estimate outside the 35% contract band"
    ).orderBy("event_type")


# --- q205: the CMS MERGE LAW, value-oracled ---------------------------------
#
# q203's additive sibling: CMS cells are SUMS, so merging per-group sketches
# is cell-wise addition, and (because the groups partition the stream) the
# merged sketch must equal a direct global build cell for cell.  q180
# certifies one build + estimate; this certifies the merge a 100 TB
# deployment actually runs — sketch per partition/day, add at the end —
# with the merged-vs-direct equality pinned in-plan AND by DuckDB.

_CMSM_ORACLE = f"""
    WITH per_key AS MATERIALIZED (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    gcells AS (
      SELECT event_type, r, col, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
        {"    UNION ALL ".join(
            f"SELECT event_type, {i} AS r, {cms_cell_sql('user_id', i, _CMS_WIDTH)} AS col, cnt FROM per_key "
            for i in range(_CMS_DEPTH)
        )}
      ) GROUP BY 1, 2, 3
    ),
    merged AS MATERIALIZED (
      SELECT r, col, CAST(sum(cnt) AS BIGINT) AS cnt FROM gcells GROUP BY 1, 2
    ),
    top AS (
      SELECT user_id, CAST(sum(cnt) AS BIGINT) AS true_count,
             CAST(row_number() OVER (ORDER BY sum(cnt) DESC, user_id) AS INT) AS rank
      FROM per_key GROUP BY user_id
      QUALIFY rank <= 10
    ),
    probes AS (
      {_cms_probe_sql('user_id')}
    ),
    est AS (
      SELECT p.user_id, CAST(min(coalesce(m.cnt, 0)) AS BIGINT) AS est_count
      FROM probes p LEFT JOIN merged m USING (r, col)
      GROUP BY p.user_id
    )
    SELECT t.rank, t.user_id, t.true_count, e.est_count,
           (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events)
             AS n_sketches_merged
    FROM top t JOIN est e USING (user_id)
    ORDER BY rank
"""


@query(
    "q205_cms_merge_law",
    oracle=_CMSM_ORACLE,
    ref=(
        "CMS sketch MERGE, cross-engine hash-matched (beyond reference; "
        "q180 certifies one build — this certifies cell-wise ADDITION of "
        "per-group sketches, pinned cell-for-cell equal to a direct global "
        "build in-plan and against DuckDB)"
    ),
    tags=("sketch", "scale"),
)
def q205_cms_merge_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CMS sketches built in ONE groupBy over per-key
    counts, merged by cell-wise sum into the global sketch; the top-10
    heavy hitters are then estimated FROM THE MERGED SKETCH.  Guards
    in-plan: merged cells must equal a direct global build cell-for-cell
    (full-outer mismatch poison — the merge law), and no estimate may
    undershoot its true count (CMS never underestimates)."""
    from python_async_sample_spark.operators.sketches import (
        cms_build_portable_from_counts,
        cms_build_portable_grouped_from_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    per_key = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    grouped = cms_build_portable_grouped_from_counts(
        per_key, "event_type", "user_id", "cnt", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    merged = grouped.groupBy("row", "col").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    global_counts = per_key.groupBy("user_id").agg(
        F.sum("cnt").cast("bigint").alias("true_count")
    ).localCheckpoint(eager=False)
    n_sketches = ev.agg(
        F.countDistinct("event_type").cast("bigint").alias("n_sketches_merged")
    )
    # guard 2 (inside the readout): CMS never underestimates
    out = _cms_heavy_hitters(global_counts, merged, "merged portable CMS").crossJoin(
        F.broadcast(n_sketches)
    )
    # guard 1: merge law — merged cells == direct global build cells
    direct = cms_build_portable_from_counts(
        global_counts, "user_id", "true_count", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    mismatch = (
        merged.withColumnRenamed("cnt", "m_cnt")
        .join(direct.withColumnRenamed("cnt", "d_cnt"), ["row", "col"], "full_outer")
        .where(
            F.col("m_cnt").isNull()
            | F.col("d_cnt").isNull()
            | (F.col("m_cnt") != F.col("d_cnt"))
        )
        .limit(1)
    )
    return _union_poison_guard(
        out, mismatch, "CMS merge law violated: merged cells differ from direct build"
    ).orderBy("rank")
