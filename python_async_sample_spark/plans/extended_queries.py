"""Aggregation-surface extensions beyond the reference (driver gate):
rollup/grouping-set analytics (exact, oracled) and sketch aggregates
(approximate by construction — tolerance-tested in tests/test_sketches.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_async_sample_spark.operators.asof import asof_join
from python_async_sample_spark.operators.rangejoin import interval_point_join
from python_async_sample_spark.operators.sketches import (
    approx_distinct,
    cms_cell_sql,
    cms_estimate_portable,
)
from python_async_sample_spark.plans.registry import query
from python_async_sample_spark.sources.readers import load_table, register_views


@query(
    "q62_rollup_revenue",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
    ref="A5+ (rollup — beyond reference)",
    tags=("relational", "extended"),
)
def q62_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotal rollup — one pass computes all grouping levels
    (the reference would need one query per level)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "revenue",
        )
        .orderBy("returnflag", "linestatus")
    )


@query(
    "q70_cube_order_stats",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
    ref="A5+ (cube — beyond reference)",
    tags=("relational", "extended"),
)
def q70_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (status, priority): every grouping-set combination in
    one pass, money summed in exact decimal."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("status", "priority")
    )


@query(
    "q64_asof_click_purchase",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, date_trunc('microseconds', ts) AS ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id, epoch_us(c.ts) AS click_us,
           epoch_us(p.ts) AS purchase_us, round(p.value, 4) AS purchase_value
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts
    ORDER BY c.event_id
    """,
    ref="asof-join (beyond reference; checked against DuckDB's native ASOF)",
    tags=("extended", "asof"),
)
def q64_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click matched to the user's latest purchase at or before it —
    the distributed as-of join (tag + union + one window pass per key),
    value-checked against DuckDB's native ASOF LEFT JOIN."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks, purchases, ["user_id"], "ts", "ts", payload_cols=["ts", "value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("click_us"),
        F.unix_micros("asof_ts").alias("purchase_us"),
        F.round("asof_value", 4).alias("purchase_value"),
    ).orderBy("event_id")


@query(
    "q65_range_join_errors_in_windows",
    oracle="""
    WITH w AS (
      SELECT event_id AS window_id,
             date_trunc('microseconds', ts) AS w_start,
             date_trunc('microseconds', ts) + INTERVAL 6 HOUR AS w_end
      FROM events WHERE event_type = 'signup' AND user_id % 50 = 0
    ),
    e AS (
      SELECT event_id, date_trunc('microseconds', ts) AS ts
      FROM events WHERE event_type = 'error'
    )
    SELECT w.window_id, CAST(count(*) AS BIGINT) AS n_errors
    FROM w JOIN e ON e.ts >= w.w_start AND e.ts <= w.w_end
    GROUP BY 1 ORDER BY 1
    """,
    ref="range-join (beyond reference; keyless interval join via bucketing)",
    tags=("extended", "range-join"),
)
def q65_range_join_errors_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors landing inside sampled 6-hour incident windows — a keyless
    point-in-interval join. Bucketing turns the nested-loop plan into a
    hash join on the hour bucket + exact filter (see operators/rangejoin)."""
    events = load_table(spark, sf_dir, "events")
    windows = (
        events.where((F.col("event_type") == "signup") & (F.col("user_id") % 50 == 0))
        .select(
            F.col("event_id").alias("window_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("w_end"),
        )
    )
    errors = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "ts"
    )
    joined = interval_point_join(errors, windows, "ts", "w_start", "w_end")
    return (
        joined.groupBy("window_id")
        .agg(F.count(F.lit(1)).alias("n_errors"))
        .orderBy("window_id")
    )


@query(
    "q68_train_test_split",
    oracle="""
    SELECT CASE WHEN CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 10
                THEN 'test' ELSE 'train' END AS split,
           lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1, 2 ORDER BY 1, 2
    """,
    ref="train-test-split (content-hash, engine-stable)",
    tags=("llm-data", "sampling"),
)
def q68_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash 90/10 split: a document keeps its split across runs,
    partitionings, corpus growth, and engines — both sides compute the same
    md5 buckets, so the oracle checks the actual assignment."""
    from python_async_sample_spark.operators.sampling import train_test_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        train_test_split(docs, "doc_id", test_fraction=0.1)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )


@query(
    "q69_stratified_sample",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('sample' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT lang, doc_id FROM ranked WHERE rk <= 5 ORDER BY lang, doc_id
    """,
    ref="stratified-sample (deterministic hash-order take)",
    tags=("llm-data", "sampling"),
)
def q69_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 docs per language, chosen by content-hash order — the exact same
    rows on every engine and partitioning (asserted: DuckDB picks them too)."""
    from python_async_sample_spark.operators.sampling import stratified_take

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_take(docs, ["lang"], "doc_id", n_per_stratum=5)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


_EXISTS_SQL = """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      AND NOT EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = o.o_orderkey AND l2.l_quantity > 49)
    GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

_SCALAR_SUB_SQL = """
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_above
    FROM part p
    WHERE p_retailprice > (SELECT avg(p2.p_retailprice) FROM part p2
                           WHERE p2.p_brand = p.p_brand)
    GROUP BY p_brand ORDER BY p_brand
"""


@query(
    "q66_exists_correlated",
    oracle=_EXISTS_SQL,
    ref="J3,J5,J9 via SQL surface (EXISTS/NOT EXISTS decorrelation)",
    tags=("relational", "sql-surface"),
)
def q66_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same SQL text runs on both engines: Catalyst decorrelates the
    EXISTS into a semi join and the NOT EXISTS into an anti join — the
    rewrite the reference's subquery-vs-fanout experiment did by hand."""
    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


@query(
    "q67_scalar_subquery",
    oracle=_SCALAR_SUB_SQL,
    ref="correlated scalar subquery (decorrelated to aggregate+join)",
    tags=("relational", "sql-surface"),
)
def q67_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts above their brand's average price — correlated scalar subquery
    decorrelated by Catalyst into an aggregate + join; identical SQL on
    DuckDB is the oracle."""
    register_views(spark, sf_dir)
    return spark.sql(_SCALAR_SUB_SQL)


@query(
    "q63_approx_distinct_users",
    oracle=None,  # HLL++ estimates are engine-defined; relative error vs the
    # exact count is asserted in tests/test_sketches.py
    ref="sketch-hll (beyond reference)",
    tags=("extended", "sketch"),
)
def q63_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type approximate distinct users (HLL++, rsd 2%): the
    fixed-size mergeable alternative to countDistinct's value shuffle.

    The plan itself enforces the sketch's error contract: each group's
    estimate is joined to the exact countDistinct and the row RAISES if
    ``|approx − exact| > 5·rsd·exact`` — so even without a SQL oracle this
    gate query fails loudly on a bound violation instead of silently
    returning garbage. (5·rsd: rsd is one standard deviation, not a hard
    bound; 5σ keeps the check non-flaky while still catching any real
    defect.)"""
    events = load_table(spark, sf_dir, "events")
    rsd = 0.02
    approx = approx_distinct(events, ["event_type"], "user_id")
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("__exact")
    )
    bound_ok = (
        F.abs(F.col("approx_distinct") - F.col("__exact"))
        <= F.lit(5 * rsd) * F.col("__exact")
    )
    # exact side is the base (left join): a group the sketch path LOST would
    # vanish from an inner join before the bound ever saw it — here it
    # surfaces as a null estimate, bound_ok evaluates null, and the
    # otherwise(raise_error) branch fires.
    return (
        exact.join(approx, "event_type", "left")
        .where(F.when(bound_ok, F.lit(True)).otherwise(F.raise_error("HLL estimate outside 5*rsd bound")))
        .select("event_type", "approx_distinct")
        .orderBy("event_type")
    )


_WINDOW_SUITE_SQL = """
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             CAST(row_number() OVER w AS BIGINT) AS rn,
             CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             round(percent_rank() OVER w, 6) AS pct_rank,
             round(cume_dist() OVER w, 6) AS cdist,
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  - lag(CAST(o_totalprice AS DECIMAL(18,2)), 1,
                        CAST(0 AS DECIMAL(18,2))) OVER w AS DOUBLE) AS delta_prev,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey) AS DOUBLE) AS cust_total
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    )
    SELECT * FROM o WHERE o_custkey % 100 = 0 ORDER BY o_custkey, rn
"""


@query(
    "q81_window_suite",
    oracle=_WINDOW_SUITE_SQL,
    ref="O1-O7 via SQL surface (ranking/distribution/offset window functions)",
    tags=("relational", "sql-surface"),
)
def q81_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ANSI window-function family in one pass — ranking
    (row_number, ntile), distribution (percent_rank, cume_dist), offset
    (lag) and windowed aggregate — same SQL text on both engines. Offset
    deltas and the per-customer total ride DECIMAL so the values are exact,
    order-independent doubles."""
    register_views(spark, sf_dir)
    return spark.sql(_WINDOW_SUITE_SQL)


_GROUPING_SETS_SQL = """
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(grouping(r_name) AS BIGINT) AS g_region,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, o_orderpriority), (r_name),
                            (o_orderpriority), ())
    ORDER BY 1, 2, 4, 5
"""


@query(
    "q82_grouping_sets",
    oracle=_GROUPING_SETS_SQL,
    ref="grouping sets beyond rollup/cube (explicit lattice + GROUPING())",
    tags=("relational", "sql-surface"),
)
def q82_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS lattice with GROUPING() disambiguation — the
    general form behind q62's ROLLUP and q70's CUBE; one multi-level
    aggregate, no union of scans."""
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


_SET_OPS_SQL = """
    WITH high AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 150000
    ),
    urgent AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT 'high_and_urgent' AS op, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT k FROM high INTERSECT SELECT k FROM urgent)
    UNION ALL
    SELECT 'high_not_urgent', CAST(count(*) AS BIGINT)
    FROM (SELECT k FROM high EXCEPT SELECT k FROM urgent)
    UNION ALL
    SELECT 'high_or_urgent', CAST(count(*) AS BIGINT)
    FROM (SELECT k FROM high UNION SELECT k FROM urgent)
    ORDER BY op
"""


@query(
    "q83_set_operations",
    oracle=_SET_OPS_SQL,
    ref="set operations (INTERSECT/EXCEPT/UNION) via SQL surface",
    tags=("relational", "sql-surface"),
)
def q83_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over customer key sets — Catalyst plans
    them as semi/anti/distinct joins; same SQL text is the oracle."""
    register_views(spark, sf_dir)
    return spark.sql(_SET_OPS_SQL)


@query(
    "q91_approx_quantiles",
    oracle=None,  # sketch output is engine-defined; the rank-error contract
    # is enforced in-plan (raise_error) instead
    ref="sketch-quantiles (beyond reference)",
    tags=("extended", "sketch"),
)
def q91_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type p50/p95/p99 of value from the quantile sketch
    (``percentile_approx``, rank error ≤ 1/accuracy), q63's loud-bound
    pattern: for each estimate the plan recomputes its TRUE rank
    (fraction of rows at or below it) and raises unless it sits within
    2/accuracy of the target probability — so the rows-only driver check
    still fails on a broken sketch instead of recording plausible
    garbage."""
    from python_async_sample_spark.operators.sketches import approx_quantiles

    accuracy = 1_000
    probs = [0.5, 0.95, 0.99]
    events = load_table(spark, sf_dir, "events")
    est = approx_quantiles(events, ["event_type"], "value", probs, accuracy)
    est = est.select(
        "event_type",
        *[F.col("quantiles")[i].alias(f"p{int(p * 100)}") for i, p in enumerate(probs)],
    )

    counts = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("__n"))
    joined = events.join(est, "event_type")
    ranks = joined.groupBy("event_type").agg(
        *[
            (F.sum(F.when(F.col("value") <= F.col(f"p{int(p * 100)}"), 1).otherwise(0)))
            .alias(f"__le{int(p * 100)}")
            for p in probs
        ]
    )
    # counts (derived from the raw events, never the sketch) is the join
    # base: a group the sketch path lost shows up as null estimates, the
    # bound conjunction evaluates null, and otherwise(raise_error) fires —
    # an inner join would silently drop it instead.
    guarded = counts.join(est, "event_type", "left").join(ranks, "event_type", "left")
    ok = F.lit(True)
    for p in probs:
        frac = F.col(f"__le{int(p * 100)}") / F.col("__n")
        # rank error is two-sided (±n/accuracy), and the estimate is an
        # actual element so its own mass adds up to 1/n of overshoot
        slack = F.lit(2.0 / accuracy) + F.lit(1.0) / F.col("__n")
        ok = ok & (frac >= F.lit(p) - slack) & (frac <= F.lit(p) + slack)
    guard = F.when(ok, F.lit(True)).otherwise(
        F.raise_error("quantile sketch outside rank-error bound")
    )
    return (
        guarded.where(guard)
        .select(
            "event_type",
            *[F.round(F.col(f"p{int(p * 100)}"), 4).alias(f"p{int(p * 100)}") for p in probs],
        )
        .orderBy("event_type")
    )


_RESAMPLE_ORACLE = """
    WITH e AS (
      SELECT user_id, event_id, value,
             epoch_us(date_trunc('microseconds', ts)) AS tus,
             CAST(floor(epoch_us(date_trunc('microseconds', ts)) / 3600000000.0) AS BIGINT) AS bucket
      FROM events WHERE user_id % 50 = 0
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, bucket
                                   ORDER BY tus DESC, event_id DESC) AS rn
      FROM e
    ),
    obs AS (
      SELECT user_id, bucket,
             CAST(count(*) AS BIGINT) AS n_events,
             max(CASE WHEN rn = 1 THEN value END) AS obs
      FROM ranked GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY 1
    ),
    grid AS (
      SELECT user_id, g.b AS bucket
      FROM bounds CROSS JOIN unnest(generate_series(lo, hi)) AS g(b)
    ),
    filled AS (
      SELECT g.user_id, g.bucket,
             coalesce(o.n_events, 0) AS n_events,
             last_value(o.obs IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
      FROM grid g LEFT JOIN obs o USING (user_id, bucket)
    )
    SELECT user_id, bucket, n_events, round(value, 4) AS value
    FROM filled ORDER BY user_id, bucket
"""


@query(
    "q92_resample_ffill",
    oracle=_RESAMPLE_ORACLE,
    ref="time-series resample + forward fill (operator Spark lacks; beyond reference)",
    tags=("extended", "timeseries"),
)
def q92_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user grid over the event stream with last-observation
    forward fill — grid rows scale with keys × hours, never events; one
    keyed join + one ordered window per key."""
    from python_async_sample_spark.operators.resample import resample_ffill

    events = load_table(spark, sf_dir, "events").where(F.col("user_id") % 50 == 0)
    out = resample_ffill(events, "user_id", "ts", "value", "event_id", interval_s=3600)
    return out.select(
        "user_id", "bucket", "n_events", F.round("value", 4).alias("value")
    ).orderBy("user_id", "bucket")


_SLIDING_ORACLE = """
    WITH e AS (
      SELECT event_type, value,
             epoch_us(date_trunc('microseconds', ts)) AS tus
      FROM events
    ),
    hopped AS (
      SELECT event_type, value, tus,
             (CAST(floor(tus / 10800000000.0) AS BIGINT) - g.i) * 10800000000 AS start_us
      FROM e CROSS JOIN unnest(generate_series(0, 1)) AS g(i)
    )
    SELECT strftime(make_timestamp(start_us), '%Y-%m-%d %H:%M') AS w_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM hopped
    WHERE tus >= start_us AND tus < start_us + 21600000000 AND start_us >= 0
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@query(
    "q93_sliding_windows",
    oracle=_SLIDING_ORACLE,
    ref="hopping/sliding event-time windows (batch face of streaming windows)",
    tags=("extended", "timeseries"),
)
def q93_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour windows hopping every 3 hours over the event stream — each
    event lands in exactly 2 windows; Spark's window() explodes the
    assignment while the oracle derives it from floor arithmetic, so the
    epoch-aligned window boundaries are pinned cross-engine."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "6 hours", "3 hours").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("w_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("w_start", "event_type")
    )


_SNAPSHOT_DIFF_ORACLE = """
    WITH old AS (
      SELECT doc_id, md5(concat_ws(chr(31),
               coalesce(CAST(lang AS VARCHAR), chr(0)),
               coalesce(CAST(text AS VARCHAR), chr(0)))) AS sig
      FROM documents WHERE doc_id % 31 <> 0
    ),
    new AS (
      SELECT doc_id, md5(concat_ws(chr(31),
               coalesce(CAST(lang AS VARCHAR), chr(0)),
               coalesce(CAST(CASE WHEN doc_id % 17 = 0 THEN upper(text)
                                  ELSE text END AS VARCHAR), chr(0)))) AS sig
      FROM documents WHERE doc_id % 29 <> 0
    )
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.sig IS NULL THEN 'added'
                WHEN new.sig IS NULL THEN 'removed'
                WHEN old.sig <> new.sig THEN 'changed'
           END AS change_type
    FROM old FULL OUTER JOIN new USING (doc_id)
    WHERE old.sig IS NULL OR new.sig IS NULL OR old.sig <> new.sig
    ORDER BY doc_id
"""


@query(
    "q94_snapshot_diff",
    oracle=_SNAPSHOT_DIFF_ORACLE,
    ref="I2-adjacent: snapshot change capture (beyond reference)",
    tags=("extended", "cdc"),
)
def q94_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change capture between two deterministic snapshot views of the
    documents table (old drops doc_id%31, new drops doc_id%29 and
    uppercases text for doc_id%17): one content-hash full outer join
    classifies every key added/removed/changed — the snapshot-diff
    complement of the reference's timestamp-interval capture."""
    from python_async_sample_spark.operators.cdc import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 31 != 0).select("doc_id", "lang", "text")
    new = (
        docs.where(F.col("doc_id") % 29 != 0)
        .select(
            "doc_id",
            "lang",
            F.when(F.col("doc_id") % 17 == 0, F.upper("text"))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return snapshot_diff(old, new, "doc_id", ["lang", "text"]).orderBy("doc_id")


_FUNNEL_ORACLE = """
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us(date_trunc('microseconds', ts)) AS tus
      FROM events
    ),
    s AS (
      SELECT user_id, min(tus) AS s_us FROM e
      WHERE event_type = 'signup' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(tus) AS c_us
      FROM e JOIN s USING (user_id)
      WHERE event_type = 'click' AND tus > s_us GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(tus) AS p_us
      FROM e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND tus > c_us GROUP BY 1
    )
    SELECT s.user_id, s_us, c_us, p_us,
           CASE WHEN p_us IS NOT NULL THEN 3
                WHEN c_us IS NOT NULL THEN 2 ELSE 1 END AS stage
    FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    ORDER BY s.user_id
"""


@query(
    "q95_event_funnel",
    oracle=_FUNNEL_ORACLE,
    ref="ordered-sequence funnel analysis (beyond reference)",
    tags=("extended", "timeseries"),
)
def q95_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup → click → purchase funnel per user: each stage is the
    earliest qualifying event strictly after the previous stage. Three
    min-aggregations chained by key joins — one partitioner (user_id)
    reused across every stage, no window over the full stream."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("tus").alias("s_us"))
    )
    c = (
        e.join(s, "user_id")
        .where((F.col("event_type") == "click") & (F.col("tus") > F.col("s_us")))
        .groupBy("user_id")
        .agg(F.min("tus").alias("c_us"))
    )
    p = (
        e.join(c, "user_id")
        .where((F.col("event_type") == "purchase") & (F.col("tus") > F.col("c_us")))
        .groupBy("user_id")
        .agg(F.min("tus").alias("p_us"))
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "s_us",
            "c_us",
            "p_us",
            F.when(F.col("p_us").isNotNull(), 3)
            .when(F.col("c_us").isNotNull(), 2)
            .otherwise(1)
            .cast("int")
            .alias("stage"),
        )
        .orderBy("user_id")
    )


_ROLLING_ORACLE = """
    WITH e AS (
      SELECT user_id, event_id, value,
             epoch_us(date_trunc('microseconds', ts)) AS tus
      FROM events WHERE user_id % 50 = 0
    )
    SELECT user_id, event_id,
           round(avg(value) OVER w, 4) AS avg5,
           round(sum(value) OVER w, 4) AS sum5,
           round(min(value) OVER w, 4) AS min5,
           round(max(value) OVER w, 4) AS max5,
           CAST(count(*) OVER w AS BIGINT) AS n5
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, tus, event_id
"""


@query(
    "q96_rolling_aggregates",
    oracle=_ROLLING_ORACLE,
    ref="rolling/moving window aggregates (beyond reference)",
    tags=("extended", "timeseries"),
)
def q96_rolling_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-event rolling avg/sum/min/max per user — one bounded-frame
    window over the (user, time) sort; frame state is O(frame), never the
    stream."""
    from pyspark.sql.window import Window as W

    events = load_table(spark, sf_dir, "events").where(F.col("user_id") % 50 == 0)
    e = events.select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("tus")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(-4, W.currentRow)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.round(F.avg("value").over(w), 4).alias("avg5"),
            F.round(F.sum("value").over(w), 4).alias("sum5"),
            F.round(F.min("value").over(w), 4).alias("min5"),
            F.round(F.max("value").over(w), 4).alias("max5"),
            F.count(F.lit(1)).over(w).alias("n5"),
            "tus",
        )
        .orderBy("user_id", "tus", "event_id")
        .drop("tus")
    )


@query(
    "q97_json_extract",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_with_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE props IS NOT NULL
      AND json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
    ref="semi-structured JSON extraction (beyond reference)",
    tags=("extended", "json"),
)
def q97_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events payload column holds JSON strings; extract ``$.k`` JVM-side
    (``get_json_object``, no Python) and aggregate — the semi-structured
    path every event pipeline needs, pinned against DuckDB's JSON
    functions."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.where(F.col("props").isNotNull() & k.isNotNull())
        .withColumn("__k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_with_k"),
            F.sum("__k").alias("sum_k"),
            F.min("__k").alias("min_k"),
            F.max("__k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "q98_array_agg",
    oracle="""
    SELECT n_name,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
             AS priorities,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_buyers
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1 ORDER BY 1
    """,
    ref="array aggregation / collection functions (beyond reference)",
    tags=("extended", "sql-surface"),
)
def q98_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregation: the distinct order priorities per nation as
    a SORTED, comma-joined string — collect_set is unordered by contract,
    so the sort is what makes the value deterministic, and the join to a
    flat string is what makes it driver-portable (the driver's pandas
    canonicalizer cannot sort array-typed cells; see round-8 verdict)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("o_orderpriority")), ","
            ).alias("priorities"),
            F.countDistinct("o_custkey").alias("n_buyers"),
        )
        .orderBy("n_name")
    )


_QUANTILE_OUTLIER_ORACLE = """
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.50) AS q2,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           round(q1, 6) AS p25, round(q2, 6) AS p50, round(q3, 6) AS p75,
           CAST(count(*) FILTER (WHERE e.value < q1 - 1.5 * (q3 - q1)
                                    OR e.value > q3 + 1.5 * (q3 - q1))
                AS BIGINT) AS n_outliers
    FROM events e JOIN q USING (event_type)
    GROUP BY 1, q1, q2, q3 ORDER BY 1
"""


@query(
    "q99_exact_quantile_outliers",
    oracle=_QUANTILE_OUTLIER_ORACLE,
    ref="exact quantiles + IQR outlier screen (beyond reference)",
    tags=("extended", "stats"),
)
def q99_exact_quantile_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type quartiles (Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the linear-interpolation definition — pinned
    here cross-engine) plus the classic 1.5·IQR outlier count: one
    aggregation for the quartiles, one broadcast join back for the
    screen."""
    events = load_table(spark, sf_dir, "events")
    q = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.5)").alias("q2"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        events.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q2", "q3")
        .agg(
            F.sum(
                F.when((F.col("value") < lo) | (F.col("value") > hi), 1).otherwise(0)
            ).alias("n_outliers")
        )
        .select(
            "event_type",
            F.round("q1", 6).alias("p25"),
            F.round("q2", 6).alias("p50"),
            F.round("q3", 6).alias("p75"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


_TOPK_GROUP_ORACLE = """
    WITH ranked AS (
      SELECT n_name, o_orderkey, o_totalprice,
             dense_rank() OVER (PARTITION BY n_name
                                ORDER BY round(o_totalprice, 2) DESC) AS rnk
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT n_name, CAST(o_orderkey AS BIGINT) AS o_orderkey,
           round(o_totalprice, 2) AS totalprice, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY n_name, rnk, o_orderkey
"""


@query(
    "q100_topk_per_group",
    oracle=_TOPK_GROUP_ORACLE,
    ref="O5+ (top-k per group with tie semantics — dense_rank, not row_number)",
    tags=("relational", "sql-surface"),
)
def q100_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 order prices per nation with DENSE ties: every order at a
    winning price survives (row_number would drop tied rows
    nondeterministically) — the per-group pattern q12 covers for latest-1
    extended to k with ties, one window over the joined fact."""
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    w = W.partitionBy("n_name").orderBy(F.desc(F.round("o_totalprice", 2)))
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("rnk", F.dense_rank().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select(
            "n_name",
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "rnk",
        )
        .orderBy("n_name", "rnk", "o_orderkey")
    )


_SHARE_ORACLE = """
    WITH rev AS (
      SELECT n_name,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS r
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1
    )
    SELECT n_name,
           CAST(round(r, 2) AS DOUBLE) AS revenue,
           round(CAST(r AS DOUBLE) / CAST(sum(r) OVER () AS DOUBLE), 6) AS share
    FROM rev ORDER BY n_name
"""


@query(
    "q101_revenue_share",
    oracle=_SHARE_ORACLE,
    ref="percent-of-total analytics (windowed ratio over exact decimal sums)",
    tags=("relational", "sql-surface"),
)
def q101_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each nation's share of total revenue: per-nation DECIMAL sums (exact,
    order-independent), then one window total over the 25-row AGGREGATE —
    the unpartitioned window never sees fact rows, so the single-partition
    stage is 25 rows at any corpus size."""
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        # orders is a fact: no broadcast hint (AQE decides); dims are hinted
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
            ).alias("r")
        )
    )
    total = F.sum("r").over(W.partitionBy())
    return (
        rev.select(
            "n_name",
            F.round("r", 2).cast("double").alias("revenue"),
            F.round(F.col("r").cast("double") / total.cast("double"), 6).alias("share"),
        )
        .orderBy("n_name")
    )


_SCD2_ORACLE = """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_state
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev_state IS NULL OR event_type <> prev_state
    )
    SELECT user_id, event_type,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
             AS valid_to_us,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS BIGINT) AS version
    FROM changes
    ORDER BY user_id, version
"""


@query(
    "q123_scd2_user_state",
    oracle=_SCD2_ORACLE,
    ref="SCD Type-2 dimension build (beyond reference; the warehouse face of I2 change capture)",
    tags=("cdc", "window"),
)
def q123_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history of each user's event_type
    state: consecutive runs collapsed to (valid_from, valid_to] intervals
    with a per-user version counter — the dimension-table build every
    warehouse derives from a change stream. One shuffle on user_id; both
    window passes reuse the same partitioning and sort."""
    from python_async_sample_spark.operators.cdc import scd2_history

    ev = load_table(spark, sf_dir, "events")
    return scd2_history(ev, "user_id", "event_type", "ts", "event_id").orderBy(
        "user_id", "version"
    )


_SKEW_ORACLE = """
    WITH c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1
    ),
    tot AS (SELECT sum(n_rows) * 1.0 AS t FROM c),
    top AS (
      SELECT user_id, n_rows,
             CAST(row_number() OVER (ORDER BY n_rows DESC, user_id) AS BIGINT) AS rank
      FROM c QUALIFY rank <= 10
    )
    SELECT rank, user_id, n_rows,
           round(n_rows / t, 6) AS share,
           round(sum(n_rows) OVER (ORDER BY rank) / t, 6) AS cum_share
    FROM top CROSS JOIN tot
    ORDER BY rank
"""


@query(
    "q126_skew_report",
    oracle=_SKEW_ORACLE,
    ref="hot-key skew diagnostics (beyond reference; the decision input for X-family parallelism and salted joins)",
    tags=("scale", "skew"),
)
def q126_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 hottest event keys with per-key share and cumulative share —
    the diagnostic a pipeline runs before choosing salting or AQE skew
    handling for a join on user_id. Top-k is a distributed take-ordered,
    never a global sort of the key relation."""
    from python_async_sample_spark.operators.skew import skew_report

    ev = load_table(spark, sf_dir, "events")
    return skew_report(ev, "user_id", top_k=10).orderBy("rank")


_CUMULATIVE_USERS_ORACLE = """
    WITH first_seen AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS day FROM events GROUP BY 1
    ),
    daily AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM first_seen GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_new,
           CAST(sum(n_new) OVER (ORDER BY day) AS BIGINT) AS cum_users
    FROM daily ORDER BY day
"""


@query(
    "q128_cumulative_distinct_users",
    oracle=_CUMULATIVE_USERS_ORACLE,
    ref="cumulative distinct via first-seen (beyond reference; the scalable form of running COUNT DISTINCT)",
    tags=("analytics", "window"),
)
def q128_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new users and the running total of distinct users ever seen.
    The scalable formulation: distinct-per-day-then-window is wrong AND
    quadratic; first-seen (one groupBy on user) reduces the problem to a
    running sum over the tiny calendar relation. The only unpartitioned
    window runs over days — bounded by the calendar, not the data."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.to_date(F.min("ts")).alias("day"))
    daily = first.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_new",
        F.sum("n_new").over(w).cast("bigint").alias("cum_users"),
    ).orderBy("day")


_RETENTION_ORACLE = """
    WITH cohort AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY 1
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    )
    SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
           date_diff('day', c.cohort_week, a.week) // 7 AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM active a JOIN cohort c USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@query(
    "q129_retention_cohorts",
    oracle=_RETENTION_ORACLE,
    ref="cohort retention matrix (beyond reference; first-touch cohorting over the event stream)",
    tags=("analytics",),
)
def q129_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention: users cohorted by first-seen week, counted in every
    week they return (week_offset 0 = the cohort week itself). Two
    map-side-combinable aggregations plus one join on user_id; the output
    is bounded by weeks², never by events."""
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("week")
    ).distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(F.datediff("week", "cohort_week") / 7).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
        .orderBy("cohort_week", "week_offset")
    )


_TRANSITION_ORACLE = """
    WITH pairs AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    ),
    counts AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n_transitions
      FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, next_type, n_transitions,
           round(n_transitions * 1.0 /
                 sum(n_transitions) OVER (PARTITION BY event_type), 4) AS prob
    FROM counts ORDER BY event_type, next_type
"""


@query(
    "q130_event_transition_matrix",
    oracle=_TRANSITION_ORACLE,
    ref="Markov transition matrix (beyond reference; the generative complement of q95's funnel)",
    tags=("analytics", "window"),
)
def q130_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts and conditional probabilities
    between consecutive event types per user. The per-user lead() rides the
    user_id shuffle; the normalizing window runs over the aggregated
    |types|x|types| relation — bounded by the vocabulary of event types,
    not by events."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    counts = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions")
    )
    return counts.select(
        "event_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(W.partitionBy("event_type")),
            4,
        ).alias("prob"),
    ).orderBy("event_type", "next_type")


_PEAK_ORACLE = """
    WITH deltas AS (
      SELECT ts AS t, 1 AS delta FROM events
      UNION ALL
      SELECT ts + INTERVAL 30 MINUTE AS t, -1 AS delta FROM events
    ),
    cum AS (
      SELECT t, sum(delta) OVER (ORDER BY t, delta) AS conc FROM deltas
    )
    SELECT strftime(CAST(date_trunc('day', t) AS DATE), '%Y-%m-%d') AS day,
           CAST(max(conc) AS BIGINT) AS peak
    FROM cum GROUP BY 1 ORDER BY 1
"""


@query(
    "q132_peak_concurrency",
    oracle=_PEAK_ORACLE,
    ref="interval sweep-line / distributed prefix sum (beyond reference)",
    tags=("analytics", "window", "scale"),
)
def q132_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous 30-minute event intervals per day. The oracle is
    the textbook GLOBAL running sum; the Spark plan is the two-phase
    distributed prefix sum (bucket-local windows + a calendar-bounded
    carry scan) — same answer, no single-partition window over the data."""
    from python_async_sample_spark.operators.sweepline import peak_concurrency

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("s"), (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e")
    )
    out = peak_concurrency(ev, "s", "e", bucket="day")
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"), "peak"
    ).orderBy("day")


_CHECKSUM_ORACLE = """
    WITH sig AS (
      SELECT event_type,
             CAST(concat('0x', substr(md5(
               concat_ws(chr(31),
                 coalesce(CAST(event_id AS VARCHAR), chr(0)),
                 coalesce(CAST(user_id AS VARCHAR), chr(0)),
                 coalesce(CAST(epoch_us(ts) AS VARCHAR), chr(0)),
                 coalesce(CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR), chr(0)),
                 coalesce(props, chr(0))
               )), 1, 8)) AS BIGINT) AS s
      FROM events
    ),
    agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
             -- mod-2^32 ring (DuckDB sums in HUGEINT, so the plain sum
             -- cannot overflow here; Spark reaches the same value by
             -- summing 16-bit halves separately)
             CAST(sum(s) % 4294967296 AS BIGINT) AS checksum
      FROM sig GROUP BY 1
    )
    SELECT * FROM agg ORDER BY event_type
"""


@query(
    "q133_table_checksum",
    oracle=_CHECKSUM_ORACLE,
    ref="order-insensitive reconciliation checksum (beyond reference; migration/replica validation as an operator)",
    tags=("cdc", "scale"),
)
def q133_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type content checksum of the events table: additive sum of
    per-row md5 signatures, independent of row order and partitioning —
    the verb you run on both sides of an engine migration to prove the
    copy. Doubles are normalized to fixed-scale DECIMAL first (raw
    double→string rendering is engine-specific); the oracle computes the
    identical signature in DuckDB, so the query IS its own cross-engine
    demonstration."""
    from python_async_sample_spark.operators.cdc import table_checksum

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("event_id").cast("string").alias("c1"),
        F.col("user_id").cast("string").alias("c2"),
        F.unix_micros("ts").cast("string").alias("c3"),
        F.col("value").cast("decimal(18,6)").cast("string").alias("c4"),
        F.col("props").alias("c5"),
    )
    return table_checksum(ev, ["event_type"], ["c1", "c2", "c3", "c4", "c5"]).orderBy(
        "event_type"
    )


@query(
    "q134_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS n_distinct_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10)
                AS BIGINT) AS sum_k_mod10
    FROM events GROUP BY 1 ORDER BY 1
    """,
    ref="VARIANT semi-structured column (beyond reference; the parse-once binary encoding vs q97's per-path string parsing)",
    tags=("extended", "json"),
)
def q134_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern semi-structured path: ``parse_json`` converts the payload
    to a VARIANT column ONCE (binary-encoded, typed), and every extraction
    is a ``variant_get`` over the parsed form — q97's
    ``get_json_object`` re-parses the JSON string per path, which at
    100 TB multiplies the scan cost by the number of paths. Same oracle
    discipline: DuckDB computes the identical aggregates from its own JSON
    parser."""
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        events.select("event_type", k.alias("__k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("__k").alias("n_distinct_k"),
            F.sum(F.col("__k") % 10).alias("sum_k_mod10"),
        )
        .orderBy("event_type")
    )


@query(
    "q136_group_ols",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(regr_slope(value, epoch_us(ts) / CAST(3600000000 AS DOUBLE)), 6)
             AS slope,
           round(regr_intercept(value, epoch_us(ts) / CAST(3600000000 AS DOUBLE)), 6)
             AS intercept
    FROM events GROUP BY 1 ORDER BY 1
    """,
    ref="per-group OLS via mergeable moment aggregates (beyond reference; the SQL-native face of the X4/A7 fit kernels)",
    tags=("analytics", "kernels"),
)
def q136_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend of event value over time per event type, from
    covariance/variance moment aggregates — slope = cov(x,y)/var(x). The
    moments are map-side-combinable partial aggregates (the same algebra
    q107's mergeable partials pin down), so the fit costs ONE shuffle of
    five numbers per group — contrast the applyInPandas lstsq kernel
    (q22), which ships the group's rows. Pinned against DuckDB's native
    regr_slope/regr_intercept."""
    ev = load_table(spark, sf_dir, "events")
    x = F.unix_micros("ts") / F.lit(3.6e9)
    out = (
        ev.select("event_type", x.alias("__x"), F.col("value").alias("__y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.covar_pop("__x", "__y") / F.var_pop("__x")).alias("__slope"),
            F.avg("__y").alias("__my"),
            F.avg("__x").alias("__mx"),
        )
    )
    return out.select(
        "event_type",
        "n",
        F.round("__slope", 6).alias("slope"),
        F.round(F.col("__my") - F.col("__slope") * F.col("__mx"), 6).alias("intercept"),
    ).orderBy("event_type")


@query(
    "q137_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT nullif(user_id % 7, 0) AS k, CAST(count(*) AS BIGINT) AS n_click
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    b AS (
      SELECT nullif(user_id % 7, 0) AS k, CAST(count(*) AS BIGINT) AS n_view
      FROM events WHERE event_type = 'view' GROUP BY 1
    )
    SELECT coalesce(CAST(a.k AS VARCHAR), CAST(b.k AS VARCHAR), '<null>') AS k,
           coalesce(a.n_click, 0) AS n_click,
           coalesce(b.n_view, 0) AS n_view
    FROM a FULL JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY k
    """,
    ref="null-safe equality join (beyond reference; J-family completeness — NULL keys as matchable values)",
    tags=("relational", "join"),
)
def q137_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join where NULL keys MATCH each other (<=> / IS NOT
    DISTINCT FROM) — the semantics a plain equi-join silently drops (its
    null rows never pair, a classic reconciliation bug). One bucket of
    keys is deterministically nulled to prove the behavior."""
    ev = load_table(spark, sf_dir, "events")
    k = F.nullif(F.col("user_id") % 7, F.lit(0))
    a = (
        ev.where(F.col("event_type") == "click")
        .select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_click"))
    )
    b = (
        ev.where(F.col("event_type") == "view")
        .select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.k").eqNullSafe(F.col("b.k")), "full_outer"
    )
    return j.select(
        F.coalesce(
            F.col("a.k").cast("string"), F.col("b.k").cast("string"), F.lit("<null>")
        ).alias("k"),
        F.coalesce("a.n_click", F.lit(0)).cast("bigint").alias("n_click"),
        F.coalesce("b.n_view", F.lit(0)).cast("bigint").alias("n_view"),
    ).orderBy("k")


@query(
    "q138_try_functions",
    oracle="""
    WITH t AS (
      SELECT event_type,
             try_cast(CAST(user_id AS VARCHAR)
                      || CASE WHEN user_id % 3 = 0 THEN 'x' ELSE '' END
                      AS BIGINT) AS k,
             CAST(event_id AS DOUBLE) / nullif(CAST(user_id % 5 AS DOUBLE), 0.0) AS q
      FROM events
    )
    SELECT event_type,
           CAST(count(k) AS BIGINT) AS n_valid_k,
           CAST(count(*) - count(k) AS BIGINT) AS n_bad_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(count(*) - count(q) AS BIGINT) AS n_div_zero,
           round(sum(q), 2) AS sum_q
    FROM t GROUP BY 1 ORDER BY 1
    """,
    ref="ANSI-safe error handling (beyond reference; try_cast/try_divide as the dirty-input path P9 without a reject sink)",
    tags=("relational", "functions"),
)
def q138_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-input arithmetic that degrades to NULL instead of failing the
    job: try_cast over deterministically-corrupted numerics and try_divide
    with planted zero denominators, aggregated per event type. The
    fail-soft complement of q25's reject side-output — at 100 TB you
    often cannot afford a job abort on row 10^12. DuckDB oracles the same
    semantics via TRY_CAST and a nullif guard."""
    ev = load_table(spark, sf_dir, "events")
    dirty = F.concat(
        F.col("user_id").cast("string"),
        F.when(F.col("user_id") % 3 == 0, F.lit("x")).otherwise(F.lit("")),
    )
    t = ev.select(
        "event_type",
        dirty.try_cast("bigint").alias("k"),
        F.try_divide(
            F.col("event_id").cast("double"), (F.col("user_id") % 5).cast("double")
        ).alias("q"),
    )
    return (
        t.groupBy("event_type")
        .agg(
            F.count("k").cast("bigint").alias("n_valid_k"),
            (F.count(F.lit(1)) - F.count("k")).cast("bigint").alias("n_bad_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            (F.count(F.lit(1)) - F.count("q")).cast("bigint").alias("n_div_zero"),
            F.round(F.sum("q"), 2).alias("sum_q"),
        )
        .orderBy("event_type")
    )


_SPINE_ORACLE = """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    span AS (
      SELECT user_id, min(d) AS lo, max(d) AS hi,
             CAST(count(*) AS BIGINT) AS active_days
      FROM days GROUP BY 1
    ),
    spine AS (
      SELECT user_id, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
      FROM span
    ),
    gaps AS (
      SELECT s.user_id, s.d
      FROM spine s LEFT JOIN days USING (user_id, d)
      WHERE days.d IS NULL
    )
    SELECT sp.user_id,
           CAST(date_diff('day', sp.lo, sp.hi) + 1 AS BIGINT) AS span_days,
           sp.active_days,
           CAST(date_diff('day', sp.lo, sp.hi) + 1 AS BIGINT) - sp.active_days
             AS missing_days,
           strftime(min(g.d), '%Y-%m-%d') AS first_gap
    FROM span sp LEFT JOIN gaps g USING (user_id)
    GROUP BY 1, 2, 3, 4 ORDER BY 1
"""


@query(
    "q139_date_spine_gaps",
    oracle=_SPINE_ORACLE,
    ref="calendar-spine generation + gap detection (beyond reference; the scaffold behind q92's resample)",
    tags=("analytics", "window"),
)
def q139_date_spine_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity gaps: generate each user's calendar spine with
    sequence() (rows ∝ user-days, row-local, no shuffle to build), anti-join
    the observed days, report span/active/missing and the first gap date.
    The missing count is ALSO derivable arithmetically — the oracle computes
    it that way, so the match proves the generated spine is exact."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    span = days.groupBy("user_id").agg(
        F.min("d").alias("lo"),
        F.max("d").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("active_days"),
    )
    spine = span.select(
        "user_id", F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    gaps = spine.join(days, ["user_id", "d"], "left_anti")
    first_gap = gaps.groupBy("user_id").agg(F.min("d").alias("fg"))
    return (
        span.join(first_gap, "user_id", "left")
        .select(
            "user_id",
            (F.datediff("hi", "lo") + 1).cast("bigint").alias("span_days"),
            "active_days",
            ((F.datediff("hi", "lo") + 1).cast("bigint") - F.col("active_days")).alias(
                "missing_days"
            ),
            F.date_format("fg", "yyyy-MM-dd").alias("first_gap"),
        )
        .orderBy("user_id")
    )


# The count-min heavy-hitter report, one oracle for every CMS query: q142
# (raw-stream build), q165 (streamed build), q180 (build from per-key
# counts); q205's merge-law oracle reuses the probe fragment.
_CMS_DEPTH, _CMS_WIDTH = 4, 256


def _cms_probe_sql(expr: str) -> str:
    return "\n    UNION ALL ".join(
        f"SELECT user_id, {i} AS r, {cms_cell_sql(expr, i, _CMS_WIDTH)} AS col FROM top"
        for i in range(_CMS_DEPTH)
    )


_CMS_ORACLE = f"""
    WITH cells AS (
      SELECT r, col, CAST(count(*) AS BIGINT) AS cnt FROM (
        {"    UNION ALL ".join(
            f"SELECT {i} AS r, {cms_cell_sql('user_id', i, _CMS_WIDTH)} AS col FROM events "
            for i in range(_CMS_DEPTH)
        )}
      ) GROUP BY r, col
    ),
    top AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS true_count,
             CAST(row_number() OVER (ORDER BY count(*) DESC, user_id) AS INT) AS rank
      FROM events GROUP BY user_id
      QUALIFY rank <= 10
    ),
    probes AS (
      {_cms_probe_sql('user_id')}
    ),
    est AS (
      SELECT p.user_id, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_count
      FROM probes p LEFT JOIN cells c USING (r, col)
      GROUP BY p.user_id
    )
    SELECT t.rank, t.user_id, t.true_count, e.est_count
    FROM top t JOIN est e USING (user_id)
    ORDER BY rank
"""


def _cms_heavy_hitters(per_key: DataFrame, sketch: DataFrame, what: str) -> DataFrame:
    """The readout every CMS query here shares (q142, q165, q180, q205),
    the relation ``_CMS_ORACLE`` replays: the 10 hottest keys of a
    (user_id, true_count) relation, ranked by (count desc, user_id), with
    their exact counts and ``sketch``'s estimates side by side.  An in-plan
    guard poisons the query if ANY estimate undercuts its true count — the
    CMS hard property, checked on every run at full scale (belt and
    suspenders over the value oracle)."""
    from pyspark.sql.window import Window as W

    from python_async_sample_spark.plans.similarity_queries import _union_poison_guard

    order = (F.col("true_count").desc(), "user_id")
    top = (
        per_key.orderBy(*order)
        .limit(10)
        .select(
            F.row_number().over(W.orderBy(*order)).cast("int").alias("rank"),
            "user_id",
            "true_count",
        )
    )
    est = cms_estimate_portable(
        top.select("user_id"), sketch, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    out = top.join(est, "user_id").select("rank", "user_id", "true_count", "est_count")
    violation = out.where(F.col("est_count") < F.col("true_count")).limit(1)
    return _union_poison_guard(
        out, violation, f"{what} underestimated a key count — impossible by construction"
    ).orderBy("rank")


def _user_counts(ev: DataFrame) -> DataFrame:
    """(user_id, true_count): the exact per-key counts a heavy-hitter
    readout ranks."""
    return ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))


@query(
    "q142_cms_heavy_hitters",
    oracle=_CMS_ORACLE,
    ref="count-min frequency sketch (beyond reference; completes the sketch family — HLL distinct q63, KLL quantile q91, CMS frequency)",
    tags=("sketch", "scale"),
)
def q142_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 hottest event keys with their exact counts and count-min
    estimates side by side, the sketch built from the raw event stream
    (q180 builds the same cells from per-key counts, and both answer
    ``_CMS_ORACLE``). The sketch is depth*width-bounded by construction
    (broadcastable, mergeable by cell-sum); the readout's in-plan guard
    poisons the query if ANY estimate undercuts its true count."""
    from python_async_sample_spark.operators.sketches import cms_build_portable

    ev = load_table(spark, sf_dir, "events")
    sketch = cms_build_portable(ev, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    return _cms_heavy_hitters(_user_counts(ev), sketch, "CMS")


_PIT_ORACLE = """
    WITH profile AS (
      SELECT user_id, date_trunc('microseconds', ts) AS ts, event_type AS state
      FROM events WHERE event_type IN ('signup', 'purchase')
    ),
    fact AS (
      SELECT user_id, date_trunc('microseconds', ts) AS ts, event_type
      FROM events
    )
    SELECT f.event_type,
           coalesce(p.state, '<none>') AS active_state,
           CAST(count(*) AS BIGINT) AS n_events
    FROM fact f ASOF LEFT JOIN profile p
      ON f.user_id = p.user_id AND p.ts <= f.ts
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@query(
    "q143_pit_dimension_join",
    oracle=_PIT_ORACLE,
    ref="point-in-time-correct dimension join (beyond reference; the consumer of q123's SCD2 build — no leakage from future states)",
    tags=("cdc", "asof", "join"),
)
def q143_pit_dimension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event enriched with the profile state ACTIVE AT ITS TIME
    (latest signup/purchase at or before the event) — the
    point-in-time-correct join that feature stores and training pipelines
    need so a row never sees a future dimension version (label leakage).
    One union + window pass per user key (the as-of kernel); checked
    against DuckDB's native ASOF LEFT JOIN."""
    ev = load_table(spark, sf_dir, "events")
    profile = ev.where(F.col("event_type").isin("signup", "purchase")).select(
        "user_id", "ts", F.col("event_type").alias("state")
    )
    fact = ev.select("user_id", "ts", "event_type")
    out = asof_join(fact, profile, ["user_id"], "ts", "ts", payload_cols=["state"])
    return (
        out.groupBy(
            "event_type", F.coalesce("asof_state", F.lit("<none>")).alias("active_state")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .orderBy("event_type", "active_state")
    )


_SEQPAT_ORACLE = """
    WITH s AS (
      SELECT user_id,
             string_agg(CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                        WHEN 'purchase' THEN 'p' WHEN 'error' THEN 'e'
                        ELSE 's' END, '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(seq) AS BIGINT) AS n_events,
           regexp_matches(seq, 'v[^e]*c[^e]*p') AS matched
    FROM s ORDER BY user_id
"""


@query(
    "q152_sequence_pattern",
    oracle=_SEQPAT_ORACLE,
    ref="analytics-sequence-pattern (beyond reference)",
    tags=("analytics", "sequence"),
)
def q152_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style event-sequence detection: per user, does the
    time-ordered event string contain view → click → purchase with no
    error anywhere between the view and the purchase (`v[^e]*c[^e]*p`)?

    Each user's history is encoded to a one-char-per-event string via
    sort_array(collect_list(struct(ts, event_id, ch))) — one shuffle on
    user_id, regex entirely JVM-side.  The funnel (q95) answers ordered
    reachability; the regex form adds *negative* conditions (absence of an
    event between stages), which windowed min/max cannot express.  State
    is one string per user — the same O(user-history) bound as
    sessionization; a production run over unbounded history would window
    it first (q19/q60 are the windowed face)."""
    ev = load_table(spark, sf_dir, "events")
    ch = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "error", "e")
        .otherwise("s")
    )
    seq = (
        ev.select("user_id", F.struct("ts", "event_id", ch.alias("ch")).alias("s"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda x: x["ch"]), ""
            ).alias("seq")
        )
    )
    return seq.select(
        "user_id",
        F.length("seq").cast("bigint").alias("n_events"),
        F.col("seq").rlike("v[^e]*c[^e]*p").alias("matched"),
    ).orderBy("user_id")


_WELCH_ORACLE = """
    WITH g AS (
      SELECT event_type,
             count(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
             count(*) FILTER (WHERE user_id % 2 = 1) AS n_b,
             avg(value) FILTER (WHERE user_id % 2 = 0) AS m_a,
             avg(value) FILTER (WHERE user_id % 2 = 1) AS m_b,
             var_samp(value) FILTER (WHERE user_id % 2 = 0) AS v_a,
             var_samp(value) FILTER (WHERE user_id % 2 = 1) AS v_b
      FROM events GROUP BY event_type
      HAVING count(*) FILTER (WHERE user_id % 2 = 0) > 1
         AND count(*) FILTER (WHERE user_id % 2 = 1) > 1
    )
    SELECT event_type, n_a, n_b,
           round(m_a - m_b, 4) AS mean_diff,
           round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 4) AS t_stat,
           round(pow(v_a / n_a + v_b / n_b, 2)
                 / (pow(v_a / n_a, 2) / (n_a - 1) + pow(v_b / n_b, 2) / (n_b - 1)),
                 2) AS welch_dof
    FROM g ORDER BY event_type
"""


@query(
    "q153_ab_welch_ttest",
    oracle=_WELCH_ORACLE,
    ref="analytics-ab-test (beyond reference)",
    tags=("analytics", "stats"),
)
def q153_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: Welch's unequal-variance t-statistic and
    Satterthwaite degrees of freedom per event_type, variants assigned by
    the deterministic hash user_id % 2.

    One scan, one groupBy: counts/means/sample variances as conditional
    aggregations (map-side partial), the t/dof formulas as scalar
    arithmetic on the tiny grouped result — the canonical one-pass
    experiment-analysis shape at any event volume."""
    ev = load_table(spark, sf_dir, "events")
    a = F.col("user_id") % 2 == 0
    b = F.col("user_id") % 2 == 1
    g = ev.groupBy("event_type").agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(b, 1)).alias("n_b"),
        F.avg(F.when(a, F.col("value"))).alias("m_a"),
        F.avg(F.when(b, F.col("value"))).alias("m_b"),
        F.var_samp(F.when(a, F.col("value"))).alias("v_a"),
        F.var_samp(F.when(b, F.col("value"))).alias("v_b"),
    # a t-test needs >= 2 samples per arm; below that Spark's var_samp
    # yields NaN where DuckDB yields NULL, and the dof formula divides by
    # zero — degenerate cells are excluded on BOTH sides, not special-cased
    ).where((F.col("n_a") > 1) & (F.col("n_b") > 1))
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(F.col("m_a") - F.col("m_b"), 4).alias("mean_diff"),
        F.round((F.col("m_a") - F.col("m_b")) / F.sqrt(se2), 4).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v_a") / F.col("n_a"), 2) / (F.col("n_a") - 1)
                + F.pow(F.col("v_b") / F.col("n_b"), 2) / (F.col("n_b") - 1)
            ),
            2,
        ).alias("welch_dof"),
    ).orderBy("event_type")


@query(
    "q155_hll_rolling_distinct",
    oracle=None,  # Datasketches HLL estimates are engine-defined; the 5*rsd
    # bound vs exact is enforced IN the plan and merge semantics are pinned
    # in tests/test_sketches.py
    ref="sketch-hll-state rolling merge (beyond reference; the incremental-maintenance face of q63)",
    tags=("extended", "sketch", "incremental"),
)
def q155_hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users from MERGEABLE per-day HLL sketches
    (Datasketches, lgK=14): one sketch row per day is the persisted state a
    100 TB pipeline maintains incrementally — each new day aggregates once,
    and any window re-aggregates by UNIONING ≤7 fixed-size sketches instead
    of rescanning a week of raw events (countDistinct cannot merge;
    sketches exist precisely for this).

    Plan: daily = one groupBy(day) hll_sketch_agg pass; rolling = a
    calendar-bounded range self-join (≤7 sketch rows per day) +
    hll_union_agg + estimate.  The in-plan guard joins the exact rolling
    count (distinct (day,user) + the same range join — the full-rescan plan
    the sketch path replaces; at warehouse scale this certification side
    would be sampled) and RAISES outside |est − exact| ≤ 5·rsd·exact,
    rsd(lgK=14) ≈ 0.81%."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
        .localCheckpoint(eager=True)  # the state table; consumed per window
    )
    days = daily.select("day")
    s = daily.select(F.col("day").alias("sday"), "sk")
    rolling = (
        days.join(
            s,
            (F.col("sday") <= F.col("day"))
            & (F.col("sday") >= F.date_sub(F.col("day"), 6)),
        )
        .groupBy("day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_users_7d"),
            F.count(F.lit(1)).alias("n_days_merged"),
        )
    )
    du = ev.select(F.to_date("ts").alias("uday"), "user_id").distinct()
    exact = (
        days.join(
            du,
            (F.col("uday") <= F.col("day"))
            & (F.col("uday") >= F.date_sub(F.col("day"), 6)),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("__exact"))
    )
    rsd = 1.04 / (2**14) ** 0.5
    bound_ok = (
        F.abs(F.col("n_users_7d") - F.col("__exact"))
        <= F.lit(5 * rsd) * F.col("__exact")
    )
    return (
        exact.join(rolling, "day", "left")
        .where(
            F.when(bound_ok, F.lit(True)).otherwise(
                F.raise_error("rolling HLL estimate outside 5*rsd bound")
            )
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_users_7d").cast("bigint").alias("n_users_7d"),
            F.col("n_days_merged").cast("bigint").alias("n_days_merged"),
        )
        .orderBy("day")
    )


# 2024-01-16T00:00:00Z — the reference/current split point, in epoch-µs so
# the comparison is timezone-proof on both engines (the driver_sim TZ probe)
_PSI_SPLIT_US = 1705363200000000

_PSI_ORACLE = f"""
    WITH binned AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) < {_PSI_SPLIT_US} THEN 1 ELSE 2 END AS win,
             -- NULL values keep a NULL bin (excluded by the spine join on
             -- both engines) — mirrors operators/drift.fixed_bin exactly.
             CASE WHEN value IS NULL THEN NULL
                  ELSE CAST(least(greatest(floor(value / 50), 0), 9) AS BIGINT) END AS bin
      FROM events
    ),
    spine AS (
      SELECT DISTINCT event_type, g.b AS bin
      FROM binned CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS b) g
    ),
    cnt AS (
      SELECT event_type, bin,
             count(*) FILTER (WHERE win = 1) AS c1,
             count(*) FILTER (WHERE win = 2) AS c2
      FROM binned GROUP BY 1, 2
    ),
    full_bins AS (
      SELECT s.event_type, s.bin,
             coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
      FROM spine s LEFT JOIN cnt ON cnt.event_type = s.event_type AND cnt.bin = s.bin
    ),
    tot AS (
      SELECT event_type, sum(c1) AS n1, sum(c2) AS n2 FROM full_bins GROUP BY 1
    ),
    p AS (
      SELECT f.event_type,
             (f.c1 + 0.5) / (t.n1 + 5.0) AS p1,
             (f.c2 + 0.5) / (t.n2 + 5.0) AS p2,
             t.n1, t.n2
      FROM full_bins f JOIN tot t USING (event_type)
    )
    SELECT event_type,
           CAST(max(n1) AS BIGINT) AS n_ref, CAST(max(n2) AS BIGINT) AS n_cur,
           round(sum((p2 - p1) * ln(p2 / p1)), 6) AS psi
    FROM p GROUP BY event_type ORDER BY event_type
"""


@query(
    "q157_drift_psi",
    oracle=_PSI_ORACLE,
    ref="monitoring-drift-psi (beyond reference; dataset drift detection for pipeline health)",
    tags=("analytics", "monitoring"),
)
def q157_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the value distribution per event_type:
    first half of the month (reference window) vs second half (current),
    over 10 fixed-width bins with additive 0.5 smoothing so empty bins are
    well-defined.  PSI = Σ (p₂−p₁)·ln(p₂/p₁); > 0.2 is the conventional
    drift alarm.

    Fixed bin edges make the whole computation counting — one scan, one
    groupBy(type, window, bin), then arithmetic over the |types|×10 spine
    (quantile-derived edges would need a cross-engine-fragile percentile
    step; drift monitors pin edges for exactly this reproducibility
    reason).  The split point rides epoch-µs, timezone-proof."""
    from python_async_sample_spark.operators.drift import fixed_bin, psi_from_counts

    ev = load_table(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        F.when(F.unix_micros("ts") < _PSI_SPLIT_US, F.lit(1)).otherwise(2).alias("win"),
        fixed_bin("value", 50, 10).alias("bin"),
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("win") == 1, 1)).alias("c1"),
        F.count(F.when(F.col("win") == 2, 1)).alias("c2"),
    )
    return psi_from_counts(cnt, "event_type", nbins=10, smoothing=0.5)


_JOINEST_ORACLE = """
    WITH li AS (
      SELECT l_orderkey FROM lineitem
      WHERE CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 16 = 0
    ),
    o AS (
      SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'
        AND CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 16 = 0
    ),
    est AS (SELECT count(*) * 16 AS est_pairs FROM li JOIN o ON l_orderkey = o_orderkey),
    exact AS (
      SELECT count(*) AS exact_pairs
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'O'
    )
    SELECT CAST(est_pairs AS BIGINT) AS est_pairs,
           CAST(exact_pairs AS BIGINT) AS exact_pairs,
           round(abs(est_pairs - exact_pairs) * 1.0 / exact_pairs, 4) AS rel_err
    FROM est CROSS JOIN exact
"""


@query(
    "q162_join_size_estimate",
    oracle=_JOINEST_ORACLE,
    ref="join-cardinality estimation via coordinated key sampling (beyond reference; the planner-side sketch)",
    tags=("scale", "sketch"),
)
def q162_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation by COORDINATED key sampling: both sides keep
    only keys whose content-hash bucket is 0 of 16, so matching keys
    survive or die together and 16 × |sampled join| is an unbiased
    estimate of |lineitem ⋈ open orders| — the planner-side sketch for
    sizing shuffles/broadcasts before running a 100 TB join (independent
    per-side sampling would estimate nothing: matching pairs rarely
    co-survive).  The estimate's cost is 1/16th of each scan + a
    1/16th-sized join; the exact join runs here only as the certification
    side.  Content-hash buckets make the 'sample' reproducible on any
    engine — the oracle recomputes the identical estimate."""
    from python_async_sample_spark.operators.sampling import hash_bucket

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    li_s = li.where(hash_bucket("l_orderkey", 16) == 0)
    o_s = orders.where(hash_bucket("o_orderkey", 16) == 0)
    est = (
        li_s.join(o_s, li_s.l_orderkey == o_s.o_orderkey)
        .agg((F.count(F.lit(1)) * 16).cast("bigint").alias("est_pairs"))
    )
    exact = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_pairs"))
    )
    return est.crossJoin(exact).select(
        "est_pairs",
        "exact_pairs",
        F.round(
            F.abs(F.col("est_pairs") - F.col("exact_pairs")) / F.col("exact_pairs"), 4
        ).alias("rel_err"),
    )


@query(
    "q164_audience_overlap_hll",
    oracle=None,  # sketch estimates are engine-defined; the in-plan guard
    # bounds the inclusion-exclusion error vs the exact overlap and
    # test_sketches pins the algebra
    ref="sketch-hll set algebra (beyond reference; audience overlap from mergeable per-segment state)",
    tags=("extended", "sketch"),
)
def q164_audience_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event segments from HLL sketches
    alone: |A∩B| ≈ est(A) + est(B) − est(A∪B) (inclusion–exclusion over
    the union sketch).  With one persisted sketch per segment (q155's
    state), ANY of the k² pairwise overlaps is computable WITHOUT
    rescanning raw events — the sketch-algebra answer to "how many users
    do campaigns A and B share?" at 100 TB.

    The in-plan guard joins the exact overlap (distinct-pair self-join —
    the rescan the sketches replace; certification-only at gate scale) and
    RAISES outside ±5·rsd·(|A|+|B|): inclusion–exclusion compounds the
    error of three estimates, so the band scales with the set sizes, not
    the intersection."""
    ev = load_table(spark, sf_dir, "events")
    sk = (
        ev.groupBy("event_type")
        .agg(
            F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
            F.countDistinct("user_id").alias("__n_exact"),
        )
        .localCheckpoint(eager=True)
    )
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"),
        F.col("__n_exact").alias("__na"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"),
        F.col("__n_exact").alias("__nb"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b")).select(
        "type_a",
        "type_b",
        "__na",
        "__nb",
        (
            F.hll_sketch_estimate("sk_a")
            + F.hll_sketch_estimate("sk_b")
            - F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
        ).alias("est_overlap"),
    )
    du = ev.select("event_type", "user_id").distinct()
    da = du.select(F.col("event_type").alias("type_a"), "user_id")
    db = du.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        da.join(db, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").alias("__exact"))
    )
    rsd = 1.04 / (2**14) ** 0.5
    joined = exact.join(pairs, ["type_a", "type_b"], "left")
    bound_ok = F.abs(F.col("est_overlap") - F.col("__exact")) <= F.lit(5 * rsd) * (
        F.col("__na") + F.col("__nb")
    )
    return (
        joined.where(
            F.when(bound_ok, F.lit(True)).otherwise(
                F.raise_error("HLL overlap estimate outside 5*rsd*(|A|+|B|) band")
            )
        )
        .select(
            "type_a",
            "type_b",
            F.round("est_overlap", 0).cast("bigint").alias("est_overlap"),
        )
        .orderBy("type_a", "type_b")
    )


_CONTRACT_ORACLE = """
    WITH checks AS (
      SELECT 'customer_acctbal_not_null' AS constraint_name,
             CAST(count(*) FILTER (WHERE c_acctbal IS NULL) AS BIGINT) AS violations
      FROM customer
      UNION ALL
      SELECT 'lineitem_orders_ri',
             CAST(count(*) AS BIGINT)
      FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      UNION ALL
      SELECT 'lineitem_qty_range',
             CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'orders_pk_unique',
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders_priority_strict',
             CAST(count(*) FILTER (WHERE o_orderpriority NOT IN
                  ('1-URGENT', '2-HIGH', '3-MEDIUM')) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders_status_domain',
             CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
      FROM orders
    )
    SELECT constraint_name, violations, violations = 0 AS passed
    FROM checks ORDER BY constraint_name
"""


@query(
    "q166_data_contract_report",
    oracle=_CONTRACT_ORACLE,
    ref="data-contract validation report (beyond reference; the declarative expectations face of q25's row-level reject sink)",
    tags=("validate", "monitoring"),
)
def q166_data_contract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract validation in one report: primary-key
    uniqueness, value domains, numeric ranges, null-rate, and
    lineitem→orders referential integrity, each as ONE aggregate row
    (constraint, violation count, passed).  Complements q25's row-level
    reject side-output: this is the table-level gate a pipeline checks
    BEFORE publishing a snapshot (write-audit-publish), and every check is
    an aggregation or an anti-join — no row ever leaves the executors.
    The strict-priority constraint is deliberately violated by the data,
    proving the report surfaces failures rather than rubber-stamping."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def row(name: str, df_violations: DataFrame) -> DataFrame:
        return df_violations.select(
            F.lit(name).alias("constraint_name"),
            F.col("v").cast("bigint").alias("violations"),
        )

    checks = [
        row(
            "customer_acctbal_not_null",
            cust.agg(F.count(F.when(F.col("c_acctbal").isNull(), 1)).alias("v")),
        ),
        row(
            "lineitem_orders_ri",
            li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti").agg(
                F.count(F.lit(1)).alias("v")
            ),
        ),
        row(
            "lineitem_qty_range",
            li.agg(
                F.count(
                    F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
                ).alias("v")
            ),
        ),
        row(
            "orders_pk_unique",
            orders.agg(
                (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v")
            ),
        ),
        row(
            "orders_priority_strict",
            orders.agg(
                F.count(
                    F.when(
                        ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM"),
                        1,
                    )
                ).alias("v")
            ),
        ),
        row(
            "orders_status_domain",
            orders.agg(
                F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)).alias("v")
            ),
        ),
    ]
    report = checks[0]
    for c in checks[1:]:
        report = report.unionByName(c)
    return report.withColumn("passed", F.col("violations") == 0).orderBy(
        "constraint_name"
    )


_CHI2_ORACLE = """
    WITH d AS (
      SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow FROM events
    ),
    cnt AS (SELECT event_type, dow, count(*) AS n FROM d GROUP BY 1, 2),
    spine AS (
      SELECT DISTINCT event_type, g.dw AS dow
      FROM cnt CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS dw) g
    ),
    fullc AS (
      SELECT s.event_type, s.dow, coalesce(n, 0) AS n
      FROM spine s LEFT JOIN cnt ON cnt.event_type = s.event_type AND cnt.dow = s.dow
    ),
    tot AS (SELECT event_type, sum(n) * 1.0 AS total FROM fullc GROUP BY 1)
    SELECT f.event_type, CAST(t.total AS BIGINT) AS n_events,
           round(sum(pow(f.n - t.total / 7, 2) / (t.total / 7)), 4) AS chi2,
           CAST(6 AS BIGINT) AS dof
    FROM fullc f JOIN tot t USING (event_type)
    GROUP BY f.event_type, t.total ORDER BY f.event_type
"""


@query(
    "q168_dow_uniformity_chi2",
    oracle=_CHI2_ORACLE,
    ref="analytics-chi-square GOF (beyond reference; the categorical sibling of q153's Welch test)",
    tags=("analytics", "stats"),
)
def q168_dow_uniformity_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of each event type's day-of-week profile
    against the uniform expectation (dof 6) — the seasonality screen that
    decides whether a pipeline needs day-of-week stratification.  One scan
    + one groupBy(type, dow); the statistic is arithmetic over the
    |types|×7 spine (empty cells included — a day with zero events is the
    strongest evidence against uniformity, so the spine join must not
    drop it).  DuckDB's dayofweek(ts) and Spark's dayofweek(ts)-1 both
    yield 0=Sunday..6=Saturday once aligned."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("event_type", (F.dayofweek("ts") - 1).cast("bigint").alias("dow"))
    cnt = d.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("n"))
    spine = (
        cnt.select("event_type")
        .distinct()
        .select("event_type", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("dw"))
        .select("event_type", F.col("dw").cast("bigint").alias("dow"))
    )
    fullc = spine.join(cnt, ["event_type", "dow"], "left").select(
        "event_type", "dow", F.coalesce("n", F.lit(0)).alias("n")
    )
    tot = fullc.groupBy("event_type").agg((F.sum("n") * 1.0).alias("total"))
    exp = F.col("total") / 7
    return (
        fullc.join(tot, "event_type")
        .groupBy("event_type", "total")
        .agg(F.round(F.sum(F.pow(F.col("n") - exp, 2) / exp), 4).alias("chi2"))
        .select(
            "event_type",
            F.col("total").cast("bigint").alias("n_events"),
            "chi2",
            F.lit(6).cast("bigint").alias("dof"),
        )
        .orderBy("event_type")
    )


_BENFORD_ORACLE = """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    cnt AS (SELECT d, count(*) AS n FROM digits GROUP BY 1),
    spine AS (SELECT unnest(generate_series(1, 9)) AS d),
    fullc AS (
      SELECT s.d, coalesce(n, 0) AS n FROM spine s LEFT JOIN cnt ON cnt.d = s.d
    ),
    tot AS (SELECT sum(n) * 1.0 AS total FROM fullc)
    SELECT CAST(f.d AS BIGINT) AS leading_digit,
           CAST(f.n AS BIGINT) AS n_orders,
           round(f.n / t.total, 4) AS observed_p,
           round(log10(1.0 + 1.0 / f.d), 4) AS benford_p,
           round(pow(f.n - t.total * log10(1.0 + 1.0 / f.d), 2)
                 / (t.total * log10(1.0 + 1.0 / f.d)), 4) AS chi2_term
    FROM fullc f CROSS JOIN tot t ORDER BY leading_digit
"""


@query(
    "q169_benford_screen",
    oracle=_BENFORD_ORACLE,
    ref="analytics-benford audit (beyond reference; the forensic digit-distribution screen)",
    tags=("analytics", "stats", "monitoring"),
)
def q169_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen over order totals: observed leading-digit
    distribution vs log10(1+1/d), with per-digit chi-square terms — the
    classic forensic-audit verb for spotting fabricated or truncated
    monetary data.  One scan, one 9-row groupBy; the digit is extracted
    with an EXPLICIT floor() on both sides (DuckDB's double→bigint cast
    rounds while Spark's truncates — a .5+ price would flip its leading
    digit between engines; caught by the sf0.01 gate during development).  The per-digit terms let an auditor localize WHICH digit
    deviates, not just that the total chi-square is high."""
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.where(F.col("o_totalprice") >= 1).select(
        F.substring(F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1)
        .cast("bigint")
        .alias("d")
    )
    cnt = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    spine = spark.range(1, 10).select(F.col("id").alias("d"))
    fullc = spine.join(cnt, "d", "left").select(
        "d", F.coalesce("n", F.lit(0)).alias("n")
    )
    tot = fullc.agg((F.sum("n") * 1.0).alias("total"))
    bp = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        fullc.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").cast("bigint").alias("leading_digit"),
            F.col("n").cast("bigint").alias("n_orders"),
            F.round(F.col("n") / F.col("total"), 4).alias("observed_p"),
            F.round(bp, 4).alias("benford_p"),
            F.round(
                F.pow(F.col("n") - F.col("total") * bp, 2) / (F.col("total") * bp), 4
            ).alias("chi2_term"),
        )
        .orderBy("leading_digit")
    )


_KS_ORACLE = f"""
    WITH v AS (
      SELECT event_type, value,
             CASE WHEN epoch_us(ts) < {_PSI_SPLIT_US} THEN 1 ELSE 2 END AS win
      FROM events
    ),
    n AS (
      SELECT event_type,
             count(*) FILTER (WHERE win = 1) AS n1,
             count(*) FILTER (WHERE win = 2) AS n2
      FROM v GROUP BY 1
    ),
    c AS (
      SELECT event_type, value,
             count(*) FILTER (WHERE win = 1)
               OVER (PARTITION BY event_type ORDER BY value) AS c1,
             count(*) FILTER (WHERE win = 2)
               OVER (PARTITION BY event_type ORDER BY value) AS c2
      FROM v
    ),
    d AS (
      SELECT c.event_type, n.n1, n.n2,
             max(abs(c.c1 * n.n2 - c.c2 * n.n1)) AS ks_num
      FROM c JOIN n USING (event_type)
      GROUP BY 1, 2, 3
    )
    SELECT event_type, CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
           round(ks_num * 1.0 / (n1 * n2), 6) AS ks_stat,
           ks_num * 1.0 / (n1 * n2)
             > 1.358 * sqrt((n1 + n2) * 1.0 / (n1 * n2)) AS drifted
    FROM d ORDER BY event_type
"""


@query(
    "q170_ks_drift",
    oracle=_KS_ORACLE,
    ref="analytics-ks-two-sample (beyond reference; the bin-free, exact complement of q157's PSI)",
    tags=("analytics", "stats", "monitoring"),
)
def q170_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic per event_type between
    the reference and current windows, with the α=0.05 rejection verdict —
    the bin-free drift test that catches shape changes PSI's 10 fixed bins
    can smear away.

    D = max |F₁−F₂| evaluated at every observed value via ONE window pass:
    conditional cumulative counts under the default RANGE frame (ties are
    peers, so each ECDF jumps by its full tie group — the q132 lesson).
    The max rides integer cross-products |c₁·n₂ − c₂·n₁| so the supremum
    is EXACT on both engines; division happens once per group at the end.
    The per-type sort is the per-group-window bound every sessionization
    query already carries."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "value",
        F.when(F.unix_micros("ts") < _PSI_SPLIT_US, F.lit(1)).otherwise(2).alias("win"),
    )
    n = v.groupBy("event_type").agg(
        F.count(F.when(F.col("win") == 1, 1)).alias("n1"),
        F.count(F.when(F.col("win") == 2, 1)).alias("n2"),
    )
    w = W.partitionBy("event_type").orderBy("value")
    c = v.select(
        "event_type",
        F.count(F.when(F.col("win") == 1, 1)).over(w).alias("c1"),
        F.count(F.when(F.col("win") == 2, 1)).over(w).alias("c2"),
    )
    d = (
        c.join(n, "event_type")
        .groupBy("event_type", "n1", "n2")
        .agg(F.max(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))).alias("ks_num"))
    )
    ks = F.col("ks_num") / (F.col("n1") * F.col("n2"))
    crit = 1.358 * F.sqrt((F.col("n1") + F.col("n2")) * F.lit(1.0) / (F.col("n1") * F.col("n2")))
    return d.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n_ref"),
        F.col("n2").cast("bigint").alias("n_cur"),
        F.round(ks, 6).alias("ks_stat"),
        (ks > crit).alias("drifted"),
    ).orderBy("event_type")


_GINI_ORACLE = """
    WITH rev AS (
      SELECT c.c_custkey, c.c_nationkey AS nation,
             coalesce(sum(o.o_totalprice), 0.0) AS x
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT nation, x,
             row_number() OVER (PARTITION BY nation ORDER BY x, c_custkey) AS i
      FROM rev
    ),
    g AS (
      SELECT nation, count(*) AS n, sum(x) AS sx, sum(i * x) AS six
      FROM ranked GROUP BY 1
    )
    SELECT CAST(nation AS BIGINT) AS nation, CAST(n AS BIGINT) AS n_customers,
           round(2.0 * six / (n * sx) - (n + 1.0) / n, 6) AS gini
    FROM g ORDER BY nation
"""


@query(
    "q171_revenue_gini",
    oracle=_GINI_ORACLE,
    ref="analytics-gini concentration (beyond reference; the inequality diagnostic for revenue and training-mix shares)",
    tags=("analytics", "stats"),
)
def q171_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue within each nation — the
    concentration diagnostic (0 = equal, →1 = one customer is the whole
    market); the same operator reads a training mix's token-per-source
    concentration.  Zero-order customers enter as x = 0 via the left join
    (excluding them understates concentration).

    G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over ascending-sorted x: one per-group
    rank window + one aggregation.  Tie order between equal x doesn't
    change Σi·xᵢ (the i-sum over a tie group is fixed), so the statistic
    is deterministic under any tie-break."""
    from pyspark.sql.window import Window as W

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(
            F.col("c_custkey"), F.col("c_nationkey").alias("nation")
        )
        .agg(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("x"))
    )
    w = W.partitionBy("nation").orderBy(F.asc("x"), F.asc("c_custkey"))
    ranked = rev.withColumn("i", F.row_number().over(w))
    g = ranked.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    return g.select(
        F.col("nation").cast("bigint").alias("nation"),
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(
            2.0 * F.col("six") / (F.col("n") * F.col("sx"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    ).orderBy("nation")


# 2024-01-08T00:00:00Z — administrative censoring cutoff, in epoch-µs
_KM_CUTOFF_US = 1704672000000000

_KM_ORACLE = f"""
    WITH s AS (
      SELECT user_id, min(ts) FILTER (WHERE event_type = 'signup') AS signup
      FROM events GROUP BY 1
    ),
    su AS (
      SELECT user_id, signup FROM s
      WHERE signup IS NOT NULL AND epoch_us(signup) < {_KM_CUTOFF_US}
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS purch
      FROM events e JOIN su USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= su.signup
        AND epoch_us(e.ts) <= {_KM_CUTOFF_US}
      GROUP BY 1
    ),
    dur AS (
      SELECT su.user_id,
             CASE WHEN p.purch IS NOT NULL THEN 1 ELSE 0 END AS ev,
             CAST(floor((coalesce(epoch_us(p.purch), {_KM_CUTOFF_US})
                         - epoch_us(su.signup)) / 86400000000.0) AS BIGINT) AS t
      FROM su LEFT JOIN p ON p.user_id = su.user_id
    ),
    g AS (SELECT t, sum(ev) AS d, count(*) - sum(ev) AS c FROM dur GROUP BY 1),
    k AS (
      SELECT t, d, c,
             (SELECT count(*) FROM dur)
               - coalesce(sum(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
      FROM g
    ),
    ev_times AS (SELECT * FROM k WHERE d > 0)
    SELECT t AS day_offset, CAST(at_risk AS BIGINT) AS at_risk,
           CAST(d AS BIGINT) AS n_events, CAST(c AS BIGINT) AS n_censored,
           CASE WHEN max(CASE WHEN d = at_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1 THEN 0.0
                ELSE round(exp(sum(ln(CASE WHEN d = at_risk THEN 1.0
                                      ELSE 1.0 - d * 1.0 / at_risk END))
                     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6) END AS survival
    FROM ev_times ORDER BY day_offset
"""


@query(
    "q174_kaplan_meier",
    oracle=_KM_ORACLE,
    ref="analytics-kaplan-meier (beyond reference; right-censored time-to-event — conversion analysis done correctly)",
    tags=("analytics", "stats"),
)
def q174_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival of time-to-first-purchase after
    signup, with administrative right-censoring at a fixed cutoff — the
    estimator that makes conversion analysis correct when some users
    simply haven't had time to convert yet (dropping them biases every
    naive conversion rate).

    Ŝ(t) = Π (1 − dᵢ/nᵢ) over event days: durations from one groupBy per
    user, the risk set nᵢ from an exclusive running sum over DISTINCT day
    offsets (calendar-bounded — the only unpartitioned windows run over
    ≤ observation-days rows), and the product as exp of a running log-sum
    with the terminal dᵢ=nᵢ factor handled exactly (survival pinned to 0
    from that day).  Censored users leave the risk set without an event —
    the whole point of the estimator.  All arithmetic in epoch-µs."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.unix_micros("ts"))).alias(
            "signup_us"
        )
    )
    su = s.where(
        F.col("signup_us").isNotNull() & (F.col("signup_us") < _KM_CUTOFF_US)
    )
    p = (
        ev.where(
            (F.col("event_type") == "purchase")
            & (F.unix_micros("ts") <= _KM_CUTOFF_US)
        )
        .select("user_id", F.unix_micros("ts").alias("p_us"))
        .join(su, "user_id")
        .where(F.col("p_us") >= F.col("signup_us"))
        .groupBy("user_id")
        .agg(F.min("p_us").alias("purch_us"))
    )
    dur = su.join(p, "user_id", "left").select(
        F.when(F.col("purch_us").isNotNull(), 1).otherwise(0).alias("ev"),
        F.floor(
            (F.coalesce("purch_us", F.lit(_KM_CUTOFF_US)) - F.col("signup_us"))
            / F.lit(86400000000.0)
        )
        .cast("bigint")
        .alias("t"),
    )
    g = dur.groupBy("t").agg(
        F.sum("ev").alias("d"), (F.count(F.lit(1)) - F.sum("ev")).alias("c")
    )
    total = dur.agg(F.count(F.lit(1)).alias("__n"))
    w_excl = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    k = g.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        "c",
        (
            F.col("__n")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_excl), F.lit(0))
        ).alias("at_risk"),
    )
    ev_times = k.where(F.col("d") > 0)
    w_cum = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    dead = F.max(F.when(F.col("d") == F.col("at_risk"), 1).otherwise(0)).over(w_cum)
    log_factor = F.log(
        F.when(F.col("d") == F.col("at_risk"), F.lit(1.0)).otherwise(
            1.0 - F.col("d") / F.col("at_risk")
        )
    )
    surv = F.when(dead == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.sum(log_factor).over(w_cum)), 6)
    )
    return ev_times.select(
        F.col("t").alias("day_offset"),
        F.col("at_risk").cast("bigint").alias("at_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.col("c").cast("bigint").alias("n_censored"),
        surv.alias("survival"),
    ).orderBy("day_offset")


_SPEARMAN_ORACLE = """
    WITH base AS MATERIALIZED (
      SELECT source, CAST(n_chars AS BIGINT) AS x,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
      FROM documents
    ),
    rx AS (
      -- 2*average-rank is an exact INTEGER under ties:
      -- avg_rank = cnt_less + (ties+1)/2  =>  2*avg_rank = 2*rank() + ties - 1
      SELECT source,
             2 * rank() OVER (PARTITION BY source ORDER BY x)
               + count(*) OVER (PARTITION BY source, x) - 1 AS r2x,
             2 * rank() OVER (PARTITION BY source ORDER BY y)
               + count(*) OVER (PARTITION BY source, y) - 1 AS r2y
      FROM base
    ),
    s AS (
      -- per-row arithmetic stays BIGINT (4n³ < 2⁶³ up to ~10⁶ rows/group;
      -- the engine side carries the same bound in its docstring); only
      -- the 6-integer final combination promotes to DECIMAL(38,0)
      SELECT source, CAST(count(*) AS DECIMAL(38,0)) AS n,
             CAST(sum(r2x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(r2y) AS DECIMAL(38,0)) AS sy,
             CAST(sum(r2x * r2y) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(r2x * r2x) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(r2y * r2y) AS DECIMAL(38,0)) AS syy
      FROM rx GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS spearman_rho
    FROM s
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    ORDER BY source
"""


@query(
    "q218_spearman_length_vocab",
    oracle=_SPEARMAN_ORACLE,
    ref=(
        "Spearman rank correlation per corpus source (beyond reference): "
        "the monotonic-association screen a data-quality pipeline runs "
        "between document length and vocabulary size — tie-corrected "
        "average ranks kept EXACT by carrying 2·rank as an integer, so the "
        "whole statistic is hash-oracle-able (no float rank arithmetic)"
    ),
    tags=("analytics", "stats", "llm-data"),
)
def q218_spearman_length_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman ρ between ``n_chars`` and distinct-token
    count per source.  The trick that makes an inherently rank-based
    float statistic exactly oracle-able: the tie-averaged rank is always
    a multiple of ½, so ``2·avg_rank = 2·rank() + ties − 1`` is an exact
    INTEGER on both engines; the six sufficient statistics stay exact in
    BIGINT per row (4n³ < 2⁶³ holds to ~10⁶ rows per group — past that,
    promote the per-row products to DECIMAL; kept integer here because
    wide decimal expressions cost ~2× in whole-stage codegen compile),
    the 6-integer final combination promotes to DECIMAL(38,0), and only
    the last Pearson-on-ranks division touches doubles — identical IEEE
    ops on identical integers, rounded to 6 digits.  Constant groups
    (zero rank variance) are excluded on both sides.  One scan, two rank
    windows, one groupBy — no joins, no UDFs."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        F.size(F.array_distinct(F.split(F.col("text"), " "))).cast("bigint").alias("y"),
    )
    r2 = lambda c: (  # noqa: E731 — 2*average-rank as an exact integer
        2 * F.rank().over(W.partitionBy("source").orderBy(c))
        + F.count(F.lit(1)).over(W.partitionBy("source", c)) - 1
    )
    rx = base.select("source", r2("x").alias("r2x"), r2("y").alias("r2y"))
    s = rx.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r2x").alias("sx"),
        F.sum("r2y").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
        F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (d("n") * d("sxy") - d("sx") * d("sy")).cast("double")
    d1 = (d("n") * d("sxx") - d("sx") * d("sx")).cast("double")
    d2 = (d("n") * d("syy") - d("sy") * d("sy")).cast("double")
    return (
        s.where((d("n") * d("sxx") - d("sx") * d("sx") > 0)
                & (d("n") * d("syy") - d("sy") * d("sy") > 0))
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.round(num / (F.sqrt(d1) * F.sqrt(d2)), 6).alias("spearman_rho"),
        )
        .orderBy("source")
    )
