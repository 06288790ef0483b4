"""Physical-plan quality gates — the 100 TB posture, asserted.

Correctness tests prove the small-SF answer; these prove the *plan* is the
one that survives a 1000-executor scale-up: filters reach the parquet scan,
column pruning reaches ReadSchema, small dimensions broadcast, and nothing
degenerates into a cartesian product.
"""

from __future__ import annotations

import pytest

from python_async_sample_spark.plans.registry import load_all

SPECS = load_all()


def plan_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """q02's LIKE/IN predicates must appear as PushedFilters on the scan."""
    df = SPECS["q02_like_in_filter"].fn(spark, sf_dir)
    plan = plan_str(df)
    assert "PushedFilters" in plan
    assert "IsNotNull" in plan or "In(" in plan or "StringStartsWith" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    """q01 reads 7 of lineitem's 16 columns; ReadSchema must show only
    what the query needs (a full-width scan at 100 TB reads TBs for
    nothing)."""
    df = SPECS["q01_pricing_summary"].fn(spark, sf_dir)
    plan = plan_str(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    line = read_schema[0]
    assert "l_comment" not in line and "l_shipinstruct" not in line


def test_dimension_joins_broadcast(spark, sf_dir):
    """q04's region/nation joins must be broadcast, not shuffle-exchange."""
    df = SPECS["q04_region_nation_revenue"].fn(spark, sf_dir)
    plan = plan_str(df)
    assert "BroadcastHashJoin" in plan


def test_no_cartesian_products(spark, sf_dir):
    """No gate query may plan a cartesian/nested-loop join over fact data
    (q08's grid build is the one intentional tiny cross join)."""
    for name, spec in SPECS.items():
        if name in ("q08_cross_join_grid",):
            continue
        if name in ("q17_incremental_catchup", "q18_stream_window_counts",
                    "q29_summary_mv_recompute", "q60_stream_sessionization",
                    "q61_wide_tool_table", "q71_stream_exactly_once_dedup",
                    "q75_stream_stateful_profiles", "q77_stream_stream_join",
                    "q85_stream_static_enrich", "q103_stream_bounded_dedup",
                    "q131_stream_incremental_mv", "q148_stream_inference",
                    "q160_stream_drift_monitor", "q163_stream_pit_enrich"):
            continue  # side-effecting runners; plans checked via their outputs
        df = spec.fn(spark, sf_dir)
        plan = plan_str(df, "simple")
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_semi_join_rewrite(spark, sf_dir):
    """q05 must plan a semi join (the reference's IN-subquery mode) — not a
    full join + dedup."""
    df = SPECS["q05_semi_join_urgent_buyers"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "LeftSemi" in plan or "Semi" in plan


@pytest.mark.parametrize("name", ["q31_ngram_jaccard_pairs", "q34_embedding_cosine_pairs"])
def test_pair_miners_never_cross_join(spark, sf_dir, name):
    """The all-pairs miners must be keyed joins / blocked kernels — a
    cartesian self-join is the scale failure mode."""
    df = SPECS[name].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    """q73's fact-fact join reads bucketed tables: the only Exchange in the
    whole plan is the final aggregation's — the join itself is co-located
    (that's the point of paying the shuffle at write time)."""
    df = SPECS["q73_bucketed_join"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "SortMergeJoin" in plan, plan
    assert "Bucketed: true" in plan_str(df), "scan is not bucketed"
    # the plan prints top-down: everything after the join line is its input
    # side — no Exchange may appear there (post-join agg/sort shuffles are
    # data-reduced and fine)
    below_join = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join, f"bucketed join still shuffles:\n{plan}"


def test_decontaminate_broadcasts_eval_set(spark, sf_dir):
    """q49's screen must broadcast the (small) eval n-gram set against the
    corpus shingle stream — a shuffled join would move the whole corpus for
    a benchmark-sized probe side."""
    df = SPECS["q49_decontaminate"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_salted_join_scatters_on_salt(spark, sf_dir):
    """q76's fact→dim join must key on (user_id, __salt) — the scatter is
    visible in the plan's join/partitioning keys, and no cartesian appears."""
    df = SPECS["q76_salted_hot_key_join"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "__salt" in plan, plan
    assert "CartesianProduct" not in plan


def test_unigram_vocab_join_shuffles_not_broadcasts(spark, sf_dir):
    """q89's token→frequency join must NOT force a broadcast of the
    vocabulary — the vocabulary is O(distinct corpus tokens), billions of
    rows at 100 TB, far over any broadcast ceiling.  The scale-safe plan is
    a shuffle join on ``tok`` (AQE splits the Zipf-head skew); only the
    single-row corpus total may broadcast."""
    with Q89_NO_AUTO_BROADCAST(spark):
        df = SPECS["q89_unigram_logprob"].fn(spark, sf_dir)
        plan = plan_str(df, "simple")
    # the tok-keyed join is a shuffle join; the only broadcast left is the
    # single-row total via the explicit crossJoin(F.broadcast(total))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


class Q89_NO_AUTO_BROADCAST:
    """Disable the auto-broadcast threshold so the tiny test vocabulary
    can't be broadcast by stats — at 100 TB it never would be."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.saved = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.saved)
        return False


def test_packing_window_is_partitioned(spark, sf_dir):
    """q47's running sum must be partitioned by the stream key (lang), never
    a single global window (the 100 TB parallelism unit)."""
    df = SPECS["q47_sequence_packing"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "SinglePartition" not in plan, plan


def test_aqe_splits_planted_skewed_join(spark):
    """The session's pinned skew-join posture must actually split a
    planted hot key at runtime: with thresholds scaled to test data, the
    executed (adaptive) plan's sort-merge join shows skew=true. At 100 TB
    the same mechanism fires at the default 256 MB threshold."""
    from pyspark.sql import functions as F

    keys = [
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        ("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k"),
        ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k"),
        ("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0"),
        ("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k"),
    ]
    saved = {k: spark.conf.get(k) for k, _ in keys}
    try:
        for k, v in keys:
            spark.conf.set(k, v)
        hot = spark.range(0, 300_000).select(
            F.lit(7).alias("k"), F.col("id").alias("v")
        )
        rest = spark.range(0, 3_000).select(
            (F.col("id") % 64).alias("k"), F.col("id").alias("v")
        )
        left = hot.unionByName(rest)
        right = spark.range(0, 64).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("r")
        )
        # aggregate after the join so the collect is tiny; executing THIS
        # DataFrame (not a write-clone) finalizes its adaptive plan
        joined = left.join(right, "k").groupBy().agg(F.sum("r").alias("s"))
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final, final
        assert "skew=true" in final, final
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _final_adaptive_plan(df) -> str:
    """Collect ``df`` and return the Final Plan section of its adaptive
    plan (the executed tree, without the Initial Plan it was re-planned
    from)."""
    df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in text, text
    return text.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]


def test_keyed_lookup_has_no_shuffle(spark):
    """KeyedQuery.glass_raw_data is the per-request lookup path: keys and
    links reach their left-semi joins as broadcasts, never through a
    dedup shuffle (semi-join output does not depend on build-side
    duplicates, so a shuffle there is one more job per request). Without
    a shuffle AQE has no runtime size to broadcast from, so the two build
    sides must broadcast by hint, even with auto-broadcast off."""
    from pyspark.sql import functions as F

    from python_async_sample_spark.api.scatter_gather import KeyedQuery

    history = spark.range(0, 400).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("link")
    )
    result = spark.range(0, 2000).select(
        (F.col("id") % 400).alias("link"), F.col("id").alias("v")
    )
    summary = spark.range(0, 400, 2).select(F.col("id").alias("link"))
    keys = spark.createDataFrame([(1,), (2,), (2,), (7,)], "k bigint")
    api = KeyedQuery(history=history, result=result, key_col="k", link_cols=["link"])

    final = _final_adaptive_plan(api.glass_raw_data(keys, summary=summary))
    assert "ShuffleExchange" not in final, final
    assert "Exchange hashpartitioning" not in final, final

    with Q89_NO_AUTO_BROADCAST(spark):
        final = _final_adaptive_plan(api.glass_raw_data(keys))
    # the key join (inside the link broadcast) and the link join
    assert final.count("BroadcastHashJoin") == 2, final
    assert final.count("LeftSemi, BuildRight") == 2, final
    assert "SortMergeJoin" not in final, final


def test_fuzzy_join_never_cartesian(spark, sf_dir):
    """q106's candidate generation must be a key equi-join over blocking
    segments — an all-pairs/cartesian plan is the exact thing the blocking
    exists to avoid."""
    df = SPECS["q106_fuzzy_join_ed1"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bloom_probe_is_single_broadcast_map(spark, sf_dir):
    """q112's probe side must meet the filter as ONE broadcast single-row
    map (a BroadcastNestedLoopJoin against one row), never a cartesian or
    a per-bit shuffle; the exact verify is the only key-shuffled join."""
    df = SPECS["q112_bloom_semi_join"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_partial_merge_is_two_level_aggregate(spark, sf_dir):
    """q107 must aggregate twice (day partials, then month merge) with no
    join back to the fact table — the whole point is the merge touches
    only the partial relation."""
    df = SPECS["q107_partial_agg_merge"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final × two levels


def test_repeated_span_gram_join_shuffles_not_broadcasts(spark, sf_dir):
    """q121's duplicated-gram semi-join keys on the gram — a data-sized
    relation at 100 TB (same rule as q89's vocabulary): it must ride a
    shuffle join, never a broadcast, and no global window may appear (the
    run-length window is partitioned by doc)."""
    with Q89_NO_AUTO_BROADCAST(spark):
        df = SPECS["q121_repeated_ngram_spans"].fn(spark, sf_dir)
        plan = plan_str(df, "simple")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_bigram_model_joins_shuffle_not_broadcast(spark, sf_dir):
    """q125's bigram/unigram count joins key on vocabulary-sized relations —
    shuffle joins only; the one allowed broadcast is the single-row vocab
    size scalar."""
    with Q89_NO_AUTO_BROADCAST(spark):
        df = SPECS["q125_bigram_logprob"].fn(spark, sf_dir)
        plan = plan_str(df, "simple")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_pmi_vocab_is_broadcast_and_pairs_keyed_on_doc(spark, sf_dir):
    """q124 is the CONTRAST case: its vocabulary is capped at 50 rows by
    construction, so broadcasting it is the correct plan; the pair
    self-join must key on the doc id (no cartesian)."""
    df = SPECS["q124_cooccurrence_pmi"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_skew_report_topk_is_take_ordered(spark, sf_dir):
    """q126's top-k must plan as a distributed TakeOrdered, never a global
    sort of the full key relation."""
    df = SPECS["q126_skew_report"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_token_budget_window_is_partitioned(spark, sf_dir):
    """q122's running token sum must be partitioned by source — never a
    single global window."""
    df = SPECS["q122_token_budget_sample"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "SinglePartition" not in plan, plan


def test_kmeans_assignment_is_expression_only(spark, sf_dir):
    """q127's assignment path: centroids enter the plan as literals, so the
    predict DataFrame must contain no join, no python UDF, and no shuffle
    beyond the final count aggregation."""
    from python_async_sample_spark.operators.kmeans import kmeans_predict
    from python_async_sample_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [[0.0] * 32, [1.0] * 32]
    plan = plan_str(kmeans_predict(emb, "vec_id", "embedding", cents), "simple")
    for node in ("Join", "Exchange", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, (node, plan)


def test_geo_near_join_broadcasts_sites_never_cartesian(spark, sf_dir):
    """q135's candidate join keys on the grid cell with the exploded site
    side broadcast; the all-pairs plan exists only in the oracle."""
    df = SPECS["q135_geo_near_join"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_shingle_join_shuffles_not_broadcasts(spark, sf_dir):
    """q154's shingle self-join keys on the shingle — data-sized at corpus
    scale (the q89/q121 rule): shuffle join only, never broadcast/nested
    loop."""
    with Q89_NO_AUTO_BROADCAST(spark):
        df = SPECS["q154_containment_pairs"].fn(spark, sf_dir)
        plan = plan_str(df, "simple")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_rrf_topk_lists_are_take_ordered(spark, sf_dir):
    """q151's sparse and dense candidate lists are global top-k — both must
    plan as distributed TakeOrdered (per-partition heaps), and the only
    corpus-wide window allowed is none: rank windows run over the k-row
    lists, which AQE collapses to a single tiny partition."""
    df = SPECS["q151_hybrid_rrf_retrieval"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


def test_pagerank_edge_derivation_broadcasts_dims(spark, sf_dir):
    """q149 stage 1: customer/supplier dimension joins onto the fact side
    must broadcast; the groupBy(src,dst) is the only fact-sized shuffle.
    Audits the SAME `trade_edges` pipeline the query ships (q149's own
    returned plan is post-localCheckpoint, which truncates this lineage)."""
    from python_async_sample_spark.plans.graph_queries import trade_edges

    plan = plan_str(trade_edges(spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_triangle_wedge_join_is_equi_join(spark, sf_dir):
    """q150's wedge and closing joins are keyed equi-joins — a nested-loop
    or cartesian plan would be the all-pairs blowup the orientation
    exists to prevent."""
    df = SPECS["q150_triangle_copurchase"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_shingle_join_shuffles_not_broadcasts(spark, sf_dir):
    """q188's occurrence-vs-detected-set join keys on (source, shingle) —
    a data-sized relation at 100 TB (the q89/q121 vocabulary rule): it
    must ride a shuffle join with no cartesian anywhere; the reassembly
    window is groupBy-shaped (no global window)."""
    with Q89_NO_AUTO_BROADCAST(spark):
        df = SPECS["q188_boilerplate_removal"].fn(spark, sf_dir)
        plan = plan_str(df, "simple")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hierarchy_levels_are_equi_joins_no_cartesian(spark, sf_dir):
    """q189's per-level BFS joins and the closure expansion must all be
    keyed equi-joins; a missing join key would silently cartesian the
    frontier against the edge list."""
    df = SPECS["q189_hierarchy_rollup"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_portable_simhash_is_one_aggregate_no_python(spark, sf_dir):
    """q187: the 32 vote sums ride ONE hash aggregate pair (partial+final)
    over the token explode — no Python eval anywhere in the plan, exactly
    one exchange for the vote groupBy (plus the gate sort)."""
    df = SPECS["q187_simhash_portable_exact"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan


def test_cms_explode_carries_no_hash_arithmetic(spark, sf_dir):
    """q142's count-min build and estimate hash each key in a projection
    BELOW the explode: inside a Generate node Spark does not eliminate
    portable_hash's repeated sub-expressions, and the raw-stream build
    ran several times slower with the hash inlined there."""
    df = SPECS["q142_cms_heavy_hitters"].fn(spark, sf_dir)
    generates = [l for l in plan_str(df, "simple").splitlines() if "Generate " in l]
    assert len(generates) >= 2, generates  # the build and the estimate probes
    for line in generates:
        assert "pmod" not in line and "^" not in line, line


def test_semdedup_pairs_are_cluster_equi_joins(spark, sf_dir):
    """q200's pair mining must stay inside its quantizer blocks — the
    whole point of SemDeDup's cluster-first design; a cartesian or
    nested-loop anywhere would be the corpus x corpus blowup the
    blocking exists to prevent.  Round 6: the registered face blocks with
    the log-N-plane hyperplane quantizer and mines pairs via a per-bucket
    GEMM (FlatMapGroupsInPandas keyed on the bucket), so the same
    no-cartesian gate applies to both it and the k-means twin q212."""
    for name in (
        "q200_semdedup_prune",
        "q212_semdedup_kmeans",
        "q213_incremental_semdedup",
    ):
        df = SPECS[name].fn(spark, sf_dir)
        plan = plan_str(df, "simple")
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_histogram_sketch_is_partial_aggregate_no_python(spark, sf_dir):
    """q199's sketch build must be a partial+final hash aggregate (the
    partials ARE the per-partition histograms — the merge law) with no
    Python eval; the rank windows run over 64-row-per-key relations."""
    df = SPECS["q199_histogram_quantile_sketch"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_partition_filter_parser_rendering_cases():
    """q208's plan-text parser across the three renderings Spark actually
    produces: a COMPLETE bracket proves presence/absence; an ABBREVIATED
    bracket (metadata value cut at spark.sql.maxMetadataStringLength, the
    closing ']' dropped, '...' run straight into the next field) proves
    presence but never absence; a missing bracket proves nothing.  The
    abbreviated case previously spilled the section into PushedFilters
    text, matching literals that were never partition filters."""
    from python_async_sample_spark.plans.incremental_queries import (
        partition_filter_section_has as has,
    )

    complete = (
        "FileScan parquet [id#4L] Batched: true, DataFilters: [], "
        "PartitionFilters: [isnotnull(dt#6), (dt#6 >= 2024-01-08)], "
        "PushedFilters: [], ReadSchema: struct<id:bigint>"
    )
    assert has(complete, ("dt", "2024-01-08")) is True
    assert has(complete, ("event_type",)) is False  # complete → provable absence

    truncated = (
        "FileScan parquet [id#4L] Batched: true, DataFilters: [], "
        "PartitionFilters: [isnotnull(dt#6), event_type#5 IN (a,b), (dt#6 >= 2..., "
        "PushedFilters: [IsNotNull(x), EqualTo(other,2024-01-08)], "
        "ReadSchema: struct<id:bigint>"
    )
    assert has(truncated, ("event_type",)) is True   # found in the prefix
    assert has(truncated, ("2024-01-08",)) is None   # cut off → no proof
    # the spill bug: '2024-01-08' appears only in PushedFilters — must NOT
    # count as a partition filter
    assert has(truncated, ("other",)) is None

    assert has("Project [id#4L]\n+- Filter (id#4L > 1)", ("dt",)) is None


def test_merge_range_join_broadcasts_ranges_not_batch(spark, sf_dir):
    """The MERGE/DELETE/purge planning join (_affected_via_range_join) is
    intentionally a BroadcastNestedLoopJoin — the range condition is
    non-equi — but the BROADCAST side must be the O(files) RANGES
    relation, never the batch: broadcasting the batch would ship the CDC
    data to every task and cap batch size at the broadcast limit
    (ADVICE r6: no plan gate covered this path)."""
    from python_async_sample_spark.sources.readers import load_table
    from python_async_sample_spark.sources.versioned import _range_join_hits_plan

    orders = load_table(spark, sf_dir, "orders")
    ranges = [(f"f{i}.parquet", i * 1000, (i + 1) * 1000 - 1, 10) for i in range(64)]
    plan = plan_str(_range_join_hits_plan(spark, orders, "o_orderkey", ranges))
    # formatted mode prints the node in the tree AND the detail section;
    # assert on the tree line, which carries the build side
    assert plan.count("BroadcastNestedLoopJoin Inner BuildRight") == 1, plan
    assert "BuildLeft" not in plan, plan  # never broadcast the batch
    assert "CartesianProduct" not in plan, plan
    # the batch's scan prunes to the key column only
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l and "orders" in l]
    if read_schema:
        assert "o_totalprice" not in read_schema[0], read_schema[0]


def test_relation_verb_anti_join_broadcasts_victims(spark, sf_dir):
    """purge_relation/delete_relation rewrite shape: per-file kept rows =
    file LEFT ANTI JOIN broadcast(victims) — must plan as a
    BroadcastHashJoin (LeftAnti, BuildRight), never a sort-merge shuffle
    of the file side (each rewrite task would then shuffle its whole
    file) and never a nested loop."""
    from pyspark.sql import functions as F

    from python_async_sample_spark.sources.readers import load_table
    from python_async_sample_spark.sources.versioned import _drop_victims, _prepare_victims

    orders = load_table(spark, sf_dir, "orders")
    vic = _prepare_victims(
        spark,
        orders.where(F.col("o_orderkey") % 211 == 0).select("o_orderkey"),
        "o_orderkey",
        orders.schema["o_orderkey"],
    )
    kept = _drop_victims(orders, vic, "o_orderkey")
    plan = plan_str(kept)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pq_encode_has_no_exchange(spark, sf_dir):
    """q223/q224's encode is one narrow Arrow scan — codes must come off the
    corpus with NO shuffle (the relation a 100 TB index persists)."""
    from python_async_sample_spark.operators.pq import pq_encode, pq_fit
    from python_async_sample_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cbs = pq_fit(emb, "vec_id", "embedding", m=8, ksub=16, iters=0)
    plan = plan_str(pq_encode(emb, "vec_id", "embedding", cbs), "simple")
    assert "Exchange" not in plan, f"encode shuffles:\n{plan}"


def test_pq_rerank_broadcasts_shortlist_not_corpus(spark, sf_dir):
    """The exact re-rank joins the ADC shortlist to the float store: the
    SHORTLIST (Q x shortlist pairs, bounded by contract) must be the
    broadcast build side — never the corpus — and the join must be a hash
    join, not a nested loop."""
    from pyspark.sql import functions as F

    from python_async_sample_spark.operators.pq import (
        pq_encode,
        pq_fit,
        pq_topk_refined,
    )
    from python_async_sample_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    cbs = pq_fit(emb, "vec_id", "embedding", m=8, ksub=16, iters=0)
    codes = pq_encode(emb, "vec_id", "embedding", cbs)
    out = pq_topk_refined(codes, queries, cbs, emb, k=5, shortlist=20)
    plan = plan_str(out, "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # anchor BuildLeft to the join node itself (not anywhere in the plan:
    # another left-building join elsewhere must not satisfy this)
    import re

    join_lines = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
    assert join_lines, plan
    assert any(re.search(r"BroadcastHashJoin .*BuildLeft", l) for l in join_lines), plan
    # and the BroadcastExchange must sit over the WINDOWED shortlist branch
    # (rank <= shortlist), not the bare embeddings scan: the left-branch
    # gutter lines (':') under the exchange must contain the shortlist's
    # WindowGroupLimit before the branch ends
    lines = plan.splitlines()
    i = next(idx for idx, l in enumerate(lines) if "BroadcastExchange" in l)
    branch = []
    for l in lines[i + 1 :]:
        if re.match(r"^\s*:", l):
            branch.append(l)
        else:
            break
    assert any("WindowGroupLimit" in l for l in branch), plan


def test_ahash_pair_join_is_chunk_equi_join_no_python_hashing(spark, sf_dir):
    """q225: signatures come from two Arrow kernels (encode, decode+hash) —
    the PAIR MINING after them must be the chunk-equality shuffle join,
    never a cartesian/nested loop, and the Hamming distance is JVM
    bit_count, not Python."""
    df = SPECS["q225_ahash_near_pairs"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the signature relation is MATERIALIZED before the self-join (else
    # Spark re-runs the PNG encode+decode kernel chain once PER SIDE —
    # the pre-barrier plan showed 4 MapInPandas); downstream of the
    # barrier everything — chunk explode, join, bit_count — is JVM
    assert "MapInPandas" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_hash_sharding_adds_no_shuffle_over_packing(spark, sf_dir):
    """q226: shard assignment (portable-hash mixer over pack_id) is a pure
    projection — the sharded plan must carry exactly the same Exchange
    count as the packed plan it wraps (the packing window's shuffle and
    nothing else), and no Python anywhere."""
    from pyspark.sql import functions as F

    from python_async_sample_spark.operators.packing import (
        assign_shards,
        pack_sequences,
    )
    from python_async_sample_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " ")).cast("bigint")
    )
    packed = pack_sequences(docs, ["lang"], "doc_id", "n_tokens", budget=512)
    sharded = assign_shards(packed, n_shards=8, shard_key="hash")
    p_packed = plan_str(packed, "simple")
    p_sharded = plan_str(sharded, "simple")
    assert p_sharded.count("Exchange") == p_packed.count("Exchange"), p_sharded
    assert "BatchEvalPython" not in p_sharded and "ArrowEvalPython" not in p_sharded


def test_ivf_certified_scoring_broadcasts_probe_and_queries(spark, sf_dir):
    """q227's scoring stage: the corpus-side cell relation joins the
    (Q x n_probe) probe set and the Q-row query vectors as BROADCAST hash
    joins — the corpus is never the build side, never nested-looped, and
    the distance arithmetic is a JVM expression fold (no Python)."""
    from pyspark.sql import functions as F

    from python_async_sample_spark.operators.similarity import ivf_topk_certified
    from python_async_sample_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    out = ivf_topk_certified(emb, queries, k=5, n_cells=8, n_probe=2, iters=0)
    plan = plan_str(out, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "MapInPandas" not in plan, plan  # scoring is pure expression tree


def test_lsh_certified_no_vector_self_join(spark, sf_dir):
    """q229's scoring: the corpus vector rides THROUGH the bucketing
    kernel (exactly one MapInPandas over the corpus side), the query-side
    code/vector relations broadcast, and nothing nested-loops."""
    from pyspark.sql import functions as F

    from python_async_sample_spark.operators.similarity import lsh_topk_certified
    from python_async_sample_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    out = lsh_topk_certified(emb, queries, k=5, n_planes=4)
    plan = plan_str(out, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # ONE broadcast join: the query side carries codes AND vectors out of
    # a single kernel pass (round-8 review — was two scans + two joins)
    assert plan.count("BroadcastHashJoin") == 1, plan
    # corpus bucketing + query bucketing: two kernels, no third pass
    # (no self-join back onto the float store)
    assert plan.count("MapInPandas") == 2, plan


def test_mea_rejects_broadcast_design_and_smj_full_outer(spark, sf_dir):
    """q230's rejects path: the per-glass design expansion must be a
    BROADCAST cross join (design is the tiny side — never a shuffle of
    the measurement fact), and the measured-vs-design mismatch join must
    be a shuffled SortMergeJoin FullOuter on (glass, item_id), not a
    nested loop."""
    df = SPECS["q230_mea_mismatched_grid_rejects"].fn(spark, sf_dir)
    plan = plan_str(df)
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan, plan
    assert "SortMergeJoin FullOuter" in plan, plan
    # exactly the one (deliberate, broadcast) nested-loop: the design
    # cross-expansion; the full-outer itself must not degrade to one
    assert plan.count("BroadcastNestedLoopJoin Cross BuildRight (") == 1, plan


def test_semantic_decontaminate_is_one_kernel_pass_no_joins(spark, sf_dir):
    """q231: the eval matrix is driver-state closed over by the kernel, so
    the plan must contain NO join operator of any kind and exactly one
    MapInPandas over the corpus scan — the only exchange is the final
    orderBy's sort."""
    df = SPECS["q231_semantic_decontaminate"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "Join" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_dsir_ratio_rides_broadcast_corpus_shuffles_once(spark, sf_dir):
    """q233: the 1024-row log-ratio table must come back onto the per-doc
    counts as a BroadcastHashJoin (the corpus is never re-shuffled for the
    scoring join), the one-row totals must ride a broadcast nested loop
    (never a real cartesian over data), and the gram aggregation must be a
    two-phase HashAggregate so the wide shuffle carries per-(doc, bucket)
    partials, not raw grams."""
    df = SPECS["q233_dsir_selection"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    # scoring path stays JVM expression-tree — no Python workers anywhere
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan, plan


def test_epoch_mixing_windows_run_post_aggregation(spark, sf_dir):
    """q234: the corpus must collapse to the per-source relation (two-phase
    HashAggregate) BEFORE any window/rank runs — the single-partition
    window is then group-count-sized (fine at any corpus scale), and the
    one-row facts relation rides a broadcast nested loop, never a real
    cartesian. No Python workers anywhere."""
    df = SPECS["q234_epoch_capped_mixing"].fn(spark, sf_dir)
    plan = plan_str(df, "simple")
    assert plan.count("HashAggregate") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan, plan
    # the window consumes the aggregated relation: Window appears above the
    # aggregate in the tree, and the scan below feeds an aggregate first
    w_at = plan.find("Window")
    agg_at = plan.rfind("HashAggregate")
    assert w_at != -1 and agg_at != -1 and w_at < agg_at, plan
