"""Rollup-maintenance and feature-engineering gate queries (beyond reference).

q107 exercises the mergeable-partial-aggregate path end-to-end: day-grain
partials merged to month grain, oracled against the direct month aggregate
from raw — the incremental form of the reference's full MV recompute
(``dbs/nikon.py:188-197``, q29's batch analog).

q109/q110 are the two feature-engineering staples every training pipeline
runs over tabular signals: exact-rank decile binning and per-group z-score
normalization — both pure window/aggregate plans, both exactly
SQL-oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from python_async_sample_spark.operators.partial_agg import build_partials, merge_partials
from python_async_sample_spark.plans.registry import query
from python_async_sample_spark.sources.readers import load_table

_PARTIAL_MERGE_ORACLE = """
    SELECT l_returnflag,
           strftime(l_shipdate, '%Y-%m') AS month,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           round(sum(l_quantity) / count(*), 4) AS avg_qty
    FROM lineitem
    GROUP BY l_returnflag, strftime(l_shipdate, '%Y-%m')
    ORDER BY l_returnflag, month
"""

_SPECS = [
    ("l_quantity", "sum", "sum_qty"),
    ("l_quantity", "count", "n_rows"),
    ("l_extendedprice", "min", "min_price"),
    ("l_extendedprice", "max", "max_price"),
]


@query(
    "q107_partial_agg_merge",
    oracle=_PARTIAL_MERGE_ORACLE,
    ref="mergeable rollup maintenance (beyond reference; incremental form of S13 dbs/nikon.py:188-197)",
    tags=("rollup", "incremental"),
)
def q107_partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grain partials merged to month grain. The month result is
    computed WITHOUT touching raw again — the merge's input is the partial
    relation only — and must equal the direct month aggregate (the oracle).
    At 100 TB the partial table is what the watermark pipeline appends to;
    every coarser rollup (month/quarter/year) is a merge over it."""
    li = load_table(spark, sf_dir, "lineitem")
    day = F.date_trunc("day", F.col("l_shipdate")).alias("day")
    partials = build_partials(li, [F.col("l_returnflag"), day], _SPECS)
    month = F.date_format(F.col("day"), "yyyy-MM").alias("month")
    merged = merge_partials(partials, [F.col("l_returnflag"), month], _SPECS)
    return (
        merged.select(
            "l_returnflag",
            "month",
            F.round("sum_qty", 2).alias("sum_qty"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.round("min_price", 2).alias("min_price"),
            F.round("max_price", 2).alias("max_price"),
            F.round(F.col("sum_qty") / F.col("n_rows"), 4).alias("avg_qty"),
        )
        .orderBy("l_returnflag", "month")
    )


_ZORDER_ORACLE = """
    WITH q AS (
      -- explicit floor: CAST(double AS INT) truncates in Spark but rounds
      -- in DuckDB
      SELECT event_id, user_id AS x, CAST(floor(value) AS INT) AS y FROM events
    ),
    sx AS (
      -- BIGINT throughout: INTEGER << overflows (DuckDB raises, Spark
      -- wraps negative) once spread bits reach position 30
      SELECT event_id, x, y,
             (CAST(x AS BIGINT) & 65535) AS a0,
             (CAST(y AS BIGINT) & 65535) AS b0
      FROM q
    ),
    sp AS (
      SELECT event_id, x, y,
             (((a0 | (a0 << 8)) & 16711935)) AS a1,
             (((b0 | (b0 << 8)) & 16711935)) AS b1
      FROM sx
    ),
    sp2 AS (
      SELECT event_id, x, y,
             (((a1 | (a1 << 4)) & 252645135)) AS a2,
             (((b1 | (b1 << 4)) & 252645135)) AS b2
      FROM sp
    ),
    sp3 AS (
      SELECT event_id, x, y,
             (((a2 | (a2 << 2)) & 858993459)) AS a3,
             (((b2 | (b2 << 2)) & 858993459)) AS b3
      FROM sp2
    ),
    sp4 AS (
      SELECT event_id, x, y,
             (((a3 | (a3 << 1)) & 1431655765)) AS a4,
             (((b3 | (b3 << 1)) & 1431655765)) AS b4
      FROM sp3
    )
    SELECT event_id, x, y, CAST(a4 | (b4 << 1) AS BIGINT) AS z
    FROM sp4
    ORDER BY z, event_id
    LIMIT 50
"""


@query(
    "q108_zorder_curve",
    oracle=_ZORDER_ORACLE,
    ref="multi-dim z-order clustering key (beyond reference; sources/layout.morton2, clustered by versioned.rewrite_layout)",
    tags=("layout",),
)
def q108_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Morton (Z-curve) clustering key ``versioned.rewrite_layout``
    sorts files with, surfaced as a query so the bit-interleave arithmetic
    is pinned cross-engine: first 50 events along the curve of (user_id,
    int(value)). The curve is what turns two-column box predicates into
    file-level min/max pruning (q202 and test_versioned prove the pruning;
    this pins the key)."""
    from python_async_sample_spark.sources.layout import morton2

    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_id",
            F.col("user_id").alias("x"),
            F.floor("value").cast("int").alias("y"),
        )
        .withColumn("z", morton2(F.col("x"), F.col("y")))
        .orderBy("z", "event_id")
        .limit(50)
    )


_DECILE_ORACLE = """
    WITH binned AS (
      SELECT o_orderpriority,
             CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile,
             o_totalprice
      FROM orders
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM binned GROUP BY decile ORDER BY decile
"""


@query(
    "q109_decile_binning",
    oracle=_DECILE_ORACLE,
    ref="feature binning (beyond reference)",
    tags=("feature", "window"),
)
def q109_decile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-rank decile binning of order totals (ntile with a
    deterministic orderkey tiebreak), summarized per bin. The global-order
    window is the EXACT form; at 100 TB the same feature ships via the
    approx-quantile sketch (q91) with this as its small-scale oracle."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.orderBy("o_totalprice", "o_orderkey")
    binned = orders.select(
        F.ntile(10).over(w).cast("bigint").alias("decile"),
        "o_totalprice",
    )
    return (
        binned.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("decile")
    )


_ZSCORE_ORACLE = """
    WITH stats AS (
      SELECT event_type,
             avg(value) AS mu,
             stddev_samp(value) AS sd
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round((e.value - s.mu) / s.sd, 6) AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE s.sd > 0 AND e.event_id % 37 = 0
    ORDER BY e.event_id
"""


@query(
    "q110_groupwise_zscore",
    oracle=_ZSCORE_ORACLE,
    ref="per-group normalization (beyond reference; cf. scale() R/basic_fun.R:83)",
    tags=("feature",),
)
def q110_groupwise_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score normalization (the reference z-scores
    x-coordinates driver-side at R/basic_fun.R:83; here it is one grouped
    aggregate broadcast back onto the stream — two scans, no window sort,
    the 100 TB-friendly shape). Output filtered to a deterministic sample
    to keep the gate row count bounded."""
    events = load_table(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    return (
        events.join(F.broadcast(stats), "event_type")
        .where((F.col("sd") > 0) & (F.col("event_id") % 37 == 0))
        .select(
            "event_id",
            "event_type",
            F.round((F.col("value") - F.col("mu")) / F.col("sd"), 6).alias("z"),
        )
        .orderBy("event_id")
    )


_ATTRIBUTION_ORACLE = """
    WITH touches AS (
      SELECT user_id, event_id, epoch_us(date_trunc('microseconds', ts)) AS tus
      FROM events WHERE event_type IN ('click', 'view')
    ),
    conv AS (
      SELECT user_id, event_id AS conv_id,
             epoch_us(date_trunc('microseconds', ts)) AS ctus
      FROM events WHERE event_type = 'purchase'
    ),
    joined AS (
      SELECT c.user_id, c.conv_id, t.event_id AS touch_id, t.tus
      FROM conv c JOIN touches t
        ON c.user_id = t.user_id AND t.tus <= c.ctus
    )
    SELECT user_id, conv_id,
           CAST(min_by(touch_id, tus) AS BIGINT) AS first_touch,
           CAST(max_by(touch_id, tus) AS BIGINT) AS last_touch,
           CAST(count(*) AS BIGINT) AS n_touches
    FROM joined GROUP BY user_id, conv_id ORDER BY user_id, conv_id
"""


@query(
    "q113_touch_attribution",
    oracle=_ATTRIBUTION_ORACLE,
    ref="first/last-touch attribution (beyond reference; asof-family analytics)",
    tags=("feature", "analytics"),
)
def q113_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch and last-touch attribution: every purchase is credited
    to the earliest and latest click/view at-or-before it for the same
    user.  ONE pass over the per-user event stream: running first/last/
    count of touches via an unbounded-preceding window, then keep the
    purchase rows — no conversion×touch join at all, so a heavy user
    (10^4 touches × 10^2 purchases) costs 10^4 window rows instead of a
    10^6-row join explosion.  Deterministic because (user, ts) is unique
    among touches in this corpus (checked at all scales; a corpus with
    ties would add an id tiebreak); touches sort before purchases at
    equal timestamps so the at-or-before predicate stays inclusive.  One
    shuffle (partitionBy user), per-partition sort, no global sort until
    the gate orderBy."""
    from pyspark.sql.window import Window as W

    events = load_table(spark, sf_dir, "events")
    tus = F.unix_micros(F.col("ts"))
    stream = events.where(
        F.col("event_type").isin("click", "view", "purchase")
    ).select(
        "user_id",
        "event_id",
        tus.alias("tus"),
        (F.col("event_type") == "purchase").cast("int").alias("is_conv"),
        F.when(F.col("event_type") != "purchase", F.col("event_id")).alias("touch_id"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("tus", "is_conv")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        stream.select(
            "user_id",
            "is_conv",
            F.col("event_id").alias("conv_id"),
            F.first("touch_id", ignorenulls=True).over(w).cast("bigint").alias("first_touch"),
            F.last("touch_id", ignorenulls=True).over(w).cast("bigint").alias("last_touch"),
            F.count("touch_id").over(w).alias("n_touches"),
        )
        .where((F.col("is_conv") == 1) & (F.col("n_touches") > 0))
        .select("user_id", "conv_id", "first_touch", "last_touch", "n_touches")
        .orderBy("user_id", "conv_id")
    )


@query(
    "q191_k_anonymity_ladder",
    oracle="""
    WITH base AS MATERIALIZED (
      SELECT CAST(c_mktsegment AS VARCHAR) AS segment,
             CAST(c_nationkey AS VARCHAR) AS nation,
             CAST(CAST(floor(c_acctbal / 1000) AS BIGINT) AS VARCHAR) AS bal_band
      FROM customer
    ),
    lvl0 AS MATERIALIZED (
      SELECT segment, nation, bal_band, CAST(count(*) AS BIGINT) AS n
      FROM base GROUP BY 1, 2, 3
    ),
    keep0 AS (
      SELECT segment, nation, bal_band, CAST(0 AS INT) AS level, n
      FROM lvl0 WHERE n >= 5
    ),
    lvl1 AS MATERIALIZED (
      SELECT segment, nation, CAST(sum(n) AS BIGINT) AS n
      FROM lvl0 WHERE n < 5 GROUP BY 1, 2
    ),
    keep1 AS (
      SELECT segment, nation, 'ANY' AS bal_band, CAST(1 AS INT) AS level, n
      FROM lvl1 WHERE n >= 5
    ),
    supp AS (
      SELECT 'SUPPRESSED' AS segment, 'SUPPRESSED' AS nation,
             'SUPPRESSED' AS bal_band, CAST(2 AS INT) AS level,
             CAST(sum(n) AS BIGINT) AS n
      FROM lvl1 WHERE n < 5 HAVING sum(n) > 0
    )
    SELECT * FROM keep0 UNION ALL SELECT * FROM keep1 UNION ALL
    SELECT * FROM supp
    ORDER BY level, segment, nation, bal_band
    """,
    ref=(
        "training-data release governance (beyond reference): k-anonymity "
        "audit with two-level local recoding (operators/anonymize.py); the "
        "reference's error-row side-output discipline (nikon_ETL.py) is the "
        "same divert-and-account contract suppression follows"
    ),
    tags=("llm-data", "governance"),
)
def q191_k_anonymity_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 anonymity over (segment, nation, acctbal-band): full-granularity
    combos that reach k keep level 0, failures coarsen the balance band to
    ANY and re-test at level 1, the remainder collapses into one
    SUPPRESSED row — the suppressed count is part of the output, so rows
    are diverted and accounted, never silently dropped.  Two groupBy
    passes, the second over only the level-0 failures."""
    from python_async_sample_spark.operators.anonymize import k_anonymize_ladder

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    )
    return k_anonymize_ladder(
        cust, ["segment", "nation"], "bal_band", k=5
    ).orderBy("level", "segment", "nation", "bal_band")


@query(
    "q192_interval_coalesce",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(date_trunc('microseconds', ts)) AS s,
             epoch_us(date_trunc('microseconds', ts)) + 300000000 AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN max(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR s > max(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island, min(s) AS island_s, max(e) AS island_e
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(island_e - island_s) AS BIGINT) AS covered_us,
           CAST(max(island_e - island_s) AS BIGINT) AS longest_us
    FROM merged GROUP BY user_id
    ORDER BY user_id
    """,
    ref=(
        "interval union / coverage (beyond reference): the gaps-and-islands "
        "running-max coalesce every temporal warehouse needs; q19/q60's "
        "sessionization is the gap<threshold special case of the same "
        "window shape"
    ),
    tags=("window", "temporal"),
)
def q192_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event opens a 5-minute activity interval; per user the
    overlapping intervals coalesce into maximal islands (running-max-end
    window, island id = prefix sum of gap flags), reported as island
    count, total covered microseconds, longest island.  All arithmetic in
    integer microseconds on both engines — no seconds-truncation or float
    drift.  One user-partitioned sort, no self-join, no explosion."""
    events = load_table(spark, sf_dir, "events")
    s = F.unix_micros(F.col("ts"))
    iv = events.select("user_id", "event_id", s.alias("s"), (s + 300_000_000).alias("e"))
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_max = F.max("e").over(w_prev)
    flagged = iv.select(
        "user_id", "event_id", "s", "e",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0).alias("new_island"),
    )
    # same (s, event_id) order key as the flag window: peers under a
    # tie-ambiguous ORDER BY would let the two engines assign tied rows to
    # different islands
    w_run = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island")
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("island_s"), F.max("e").alias("island_e")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_islands"),
            F.sum(F.col("island_e") - F.col("island_s")).cast("bigint").alias("covered_us"),
            F.max(F.col("island_e") - F.col("island_s")).cast("bigint").alias("longest_us"),
        )
        .orderBy("user_id")
    )


_EWMA_H = 16
_EWMA_WS = [0.75, 0.5625, 0.421875, 0.31640625, 0.2373046875, 0.177978515625, 0.13348388671875, 0.1001129150390625, 0.07508468627929688, 0.056313514709472656, 0.04223513603210449, 0.03167635202407837, 0.023757264018058777, 0.017817948013544083, 0.013363461010158062, 0.010022595757618546]  # 0.75**i, exact binary doubles for i <= 32


@query(
    "q194_ewma_anomaly",
    oracle="""
    WITH ev AS (
      SELECT event_type, event_id, value, ts,
             date_trunc('day', date_trunc('microseconds', ts)) AS day
      FROM events
    ),
    lagged AS MATERIALIZED (
      SELECT event_type, event_id, value,
             lag(value, 1) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l1,
             lag(value, 2) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l2,
             lag(value, 3) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l3,
             lag(value, 4) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l4,
             lag(value, 5) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l5,
             lag(value, 6) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l6,
             lag(value, 7) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l7,
             lag(value, 8) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l8,
             lag(value, 9) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l9,
             lag(value, 10) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l10,
             lag(value, 11) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l11,
             lag(value, 12) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l12,
             lag(value, 13) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l13,
             lag(value, 14) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l14,
             lag(value, 15) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l15,
             lag(value, 16) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS l16
      FROM ev
    ),
    scored AS (
      SELECT event_type, event_id, value,
             ((CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.75 * l1 END)
               + (CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.5625 * l2 END)
               + (CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.421875 * l3 END)
               + (CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.31640625 * l4 END)
               + (CASE WHEN l5 IS NULL THEN 0.0 ELSE 0.2373046875 * l5 END)
               + (CASE WHEN l6 IS NULL THEN 0.0 ELSE 0.177978515625 * l6 END)
               + (CASE WHEN l7 IS NULL THEN 0.0 ELSE 0.13348388671875 * l7 END)
               + (CASE WHEN l8 IS NULL THEN 0.0 ELSE 0.1001129150390625 * l8 END)
               + (CASE WHEN l9 IS NULL THEN 0.0 ELSE 0.07508468627929688 * l9 END)
               + (CASE WHEN l10 IS NULL THEN 0.0 ELSE 0.056313514709472656 * l10 END)
               + (CASE WHEN l11 IS NULL THEN 0.0 ELSE 0.04223513603210449 * l11 END)
               + (CASE WHEN l12 IS NULL THEN 0.0 ELSE 0.03167635202407837 * l12 END)
               + (CASE WHEN l13 IS NULL THEN 0.0 ELSE 0.023757264018058777 * l13 END)
               + (CASE WHEN l14 IS NULL THEN 0.0 ELSE 0.017817948013544083 * l14 END)
               + (CASE WHEN l15 IS NULL THEN 0.0 ELSE 0.013363461010158062 * l15 END)
               + (CASE WHEN l16 IS NULL THEN 0.0 ELSE 0.010022595757618546 * l16 END)) AS num,
             ((CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.75 END)
               + (CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.5625 END)
               + (CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.421875 END)
               + (CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.31640625 END)
               + (CASE WHEN l5 IS NULL THEN 0.0 ELSE 0.2373046875 END)
               + (CASE WHEN l6 IS NULL THEN 0.0 ELSE 0.177978515625 END)
               + (CASE WHEN l7 IS NULL THEN 0.0 ELSE 0.13348388671875 END)
               + (CASE WHEN l8 IS NULL THEN 0.0 ELSE 0.1001129150390625 END)
               + (CASE WHEN l9 IS NULL THEN 0.0 ELSE 0.07508468627929688 END)
               + (CASE WHEN l10 IS NULL THEN 0.0 ELSE 0.056313514709472656 END)
               + (CASE WHEN l11 IS NULL THEN 0.0 ELSE 0.04223513603210449 END)
               + (CASE WHEN l12 IS NULL THEN 0.0 ELSE 0.03167635202407837 END)
               + (CASE WHEN l13 IS NULL THEN 0.0 ELSE 0.023757264018058777 END)
               + (CASE WHEN l14 IS NULL THEN 0.0 ELSE 0.017817948013544083 END)
               + (CASE WHEN l15 IS NULL THEN 0.0 ELSE 0.013363461010158062 END)
               + (CASE WHEN l16 IS NULL THEN 0.0 ELSE 0.010022595757618546 END)) AS den,
             ((CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.75 * l1 * l1 END)
               + (CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.5625 * l2 * l2 END)
               + (CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.421875 * l3 * l3 END)
               + (CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.31640625 * l4 * l4 END)
               + (CASE WHEN l5 IS NULL THEN 0.0 ELSE 0.2373046875 * l5 * l5 END)
               + (CASE WHEN l6 IS NULL THEN 0.0 ELSE 0.177978515625 * l6 * l6 END)
               + (CASE WHEN l7 IS NULL THEN 0.0 ELSE 0.13348388671875 * l7 * l7 END)
               + (CASE WHEN l8 IS NULL THEN 0.0 ELSE 0.1001129150390625 * l8 * l8 END)
               + (CASE WHEN l9 IS NULL THEN 0.0 ELSE 0.07508468627929688 * l9 * l9 END)
               + (CASE WHEN l10 IS NULL THEN 0.0 ELSE 0.056313514709472656 * l10 * l10 END)
               + (CASE WHEN l11 IS NULL THEN 0.0 ELSE 0.04223513603210449 * l11 * l11 END)
               + (CASE WHEN l12 IS NULL THEN 0.0 ELSE 0.03167635202407837 * l12 * l12 END)
               + (CASE WHEN l13 IS NULL THEN 0.0 ELSE 0.023757264018058777 * l13 * l13 END)
               + (CASE WHEN l14 IS NULL THEN 0.0 ELSE 0.017817948013544083 * l14 * l14 END)
               + (CASE WHEN l15 IS NULL THEN 0.0 ELSE 0.013363461010158062 * l15 * l15 END)
               + (CASE WHEN l16 IS NULL THEN 0.0 ELSE 0.010022595757618546 * l16 * l16 END)) AS num2
      FROM lagged
      WHERE l8 IS NOT NULL
    ),
    z AS (
      SELECT event_type, event_id, value,
             num / den AS ewma,
             (num2 / den) - (num / den) * (num / den) AS var
      FROM scored
    )
    SELECT event_type, event_id,
           round(value, 6) AS value,
           round(ewma, 6) AS ewma,
           round((value - ewma) / sqrt(CASE WHEN var > 1e-12 THEN var ELSE 1e-12 END), 6) AS z
    FROM z
    WHERE (value - ewma) / sqrt(CASE WHEN var > 1e-12 THEN var ELSE 1e-12 END) > 3.0
    ORDER BY event_type, event_id
""",
    ref=(
        "bounded-window EWMA anomaly screen (beyond reference): the "
        "monitoring staple over metric streams; the reference's nearest "
        "shape is its EDC summary validation (eda_query.py aggregate "
        "checks).  Cross-engine EXACT by construction: decay 0.75**i is "
        "an exact binary double, every per-row score is a fixed-order "
        "expression chain (no aggregates), so both engines compute "
        "bit-identical doubles and the >3-sigma cut can never flip on "
        "summation order"
    ),
    tags=("temporal", "monitoring", "window"),
)
def q194_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event-type, day) EWMA (decay 0.75, 16-lag horizon, warmup
    >= 8 lags) with a 3-sigma anomaly cut on the EWMA-weighted variance.
    Daily series are the monitoring semantics AND the scale lever: a
    window partitioned only by event type has as many tasks as types
    (~5 here — 200k-row single-task sorts at sf0.1, one executor doing
    all the work at 100 TB); type x day keeps every partition
    calendar-bounded, so parallelism grows with the data.  Scores are
    expression-only, no Python, no second shuffle before the gate
    orderBy.  Horizon 16
    keeps the generated chains inside whole-stage-codegen method limits —
    the 32-lag variant fell out of codegen and ran 2x slower at identical
    semantics (EWMA weight below 0.75**16 ~ 1% contributes nothing
    anyway)."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    # ONE F.expr per chain: composing ~500 Column objects through py4j
    # costs seconds of DRIVER time at plan-build (measured 4s vs 0.6s of
    # actual executor work) — the expression tree is identical either way
    lagged = events.selectExpr("event_type", "event_id", "value", *[
        f"lag(value, {i}) OVER (PARTITION BY event_type, day "
        f"ORDER BY ts, event_id) AS l{i}"
        for i in range(1, _EWMA_H + 1)
    ]).where("l8 IS NOT NULL")

    def chain(fmt):
        return " + ".join(
            f"(CASE WHEN l{i} IS NULL THEN 0.0 ELSE {fmt.format(i=i, w=repr(_EWMA_WS[i - 1]))} END)"
            for i in range(1, _EWMA_H + 1)
        )

    # each chain appears ONCE, later stages reference the alias — inlining
    # num/den into ewma/var/z multiplies the Catalyst analysis cost ~6x
    # (measured: 6s vs 1s per fresh plan at identical runtime)
    sums = lagged.selectExpr(
        "event_type", "event_id", "value",
        f"({chain('{w} * l{i}')}) AS num",
        f"({chain('{w}')}) AS den",
        f"({chain('{w} * l{i} * l{i}')}) AS num2",
    )
    # optimizer barrier: CollapseProject would inline each 16-term chain
    # back into every downstream reference (num appears 3x in var, ewma/
    # var 3x in z) — the collapsed projection reaches thousands of nodes
    # and Catalyst spends ~6s PER RUN analyzing it at 0.5s of actual
    # executor work. The checkpoint cuts the plan at the narrow 6-column
    # relation; the materialization itself is sub-second.
    sums = sums.localCheckpoint(eager=False)
    scored = sums.selectExpr(
        "event_type", "event_id", "value",
        "num / den AS ewma",
        "(num2 / den) - (num / den) * (num / den) AS var",
    )
    z = "((value - ewma) / sqrt(CASE WHEN var > 1e-12 THEN var ELSE 1e-12 END))"
    return (
        scored.where(F.expr(f"{z} > 3.0"))
        .selectExpr(
            "event_type", "event_id",
            "round(value, 6) AS value",
            "round(ewma, 6) AS ewma",
            f"round({z}, 6) AS z",
        )
        .orderBy("event_type", "event_id")
    )


# ---------------------------------------------------------------------------
# q197: differentially-private release of a count histogram. The noise is
# the BINOMIAL mechanism (sum of 64 seeded coin flips - 32, sigma = 4), not
# Laplace: Laplace needs ln(uniform), and ln is not required to be
# correctly rounded by IEEE 754, so its ulps can differ across engines —
# bit_count over the portable xor-shift-multiply hash family (q180-q182)
# stays in exact integer arithmetic and the released histogram hash-matches
# DuckDB bit for bit. Small-count suppression (the q191 k-anonymity rule)
# composes with the noise: a row is released only when its NOISY count
# clears tau, so the release decision itself never reads the true count.
# ---------------------------------------------------------------------------

from python_async_sample_spark.operators.sketches import (  # noqa: E402
    portable_hash,
    portable_hash_sql,
)

_DP_TAU = 30

_DP_ORACLE = f"""
    WITH d AS (
      SELECT epoch_us(date_trunc('microseconds', ts)) // 86400000000 AS day_no
      FROM events
    ),
    counts AS (
      SELECT day_no, count(*) AS n FROM d GROUP BY day_no
    ),
    noised AS (
      SELECT day_no,
             n + (bit_count({portable_hash_sql('day_no', 0)}) - 16)
               + (bit_count({portable_hash_sql('day_no', 1)}) - 16) AS n_noisy
      FROM counts
    )
    SELECT strftime(DATE '1970-01-01' + CAST(day_no AS INT), '%Y-%m-%d') AS day,
           CAST(n_noisy AS BIGINT) AS n_noisy
    FROM noised WHERE n_noisy >= {_DP_TAU} ORDER BY day
"""


@query(
    "q197_dp_noisy_daily_counts",
    oracle=_DP_ORACLE,
    ref="beyond reference: differentially-private histogram release (binomial mechanism + noisy-threshold suppression) — the governance sibling of q191 k-anonymity; exactly portable because the noise is integer bit_count over the q180-q182 hash family",
    tags=("governance", "privacy"),
)
def q197_dp_noisy_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts released with deterministic seeded binomial noise
    and noisy-threshold suppression.

    Scale shape: ONE map-side-combinable groupBy on the integer day key;
    the noise and the release test are per-group expressions (the hash is
    seeded by the group key, so the mechanism is reproducible across
    retries/partitionings without any stored randomness). True counts
    never leave the plan.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.select(F.expr("unix_micros(ts) div 86400000000").alias("day_no"))
        .groupBy("day_no")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    noise = (F.bit_count(portable_hash(F.col("day_no"), 0)) - F.lit(16)) + (
        F.bit_count(portable_hash(F.col("day_no"), 1)) - F.lit(16)
    )
    noised = counts.select(
        "day_no", (F.col("n") + noise.cast("long")).alias("n_noisy")
    )
    return (
        noised.where(F.col("n_noisy") >= _DP_TAU)
        .select(
            F.date_format(
                F.date_add(F.to_date(F.lit("1970-01-01")), F.col("day_no").cast("int")),
                "yyyy-MM-dd",
            ).alias("day"),
            F.col("n_noisy").cast("bigint").alias("n_noisy"),
        )
        .orderBy("day")
    )
