"""Token-budget sampling determinism and budget adherence."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_async_sample_spark.operators.sampling import token_budget_take
from python_async_sample_spark.sources.readers import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )


def test_budget_is_inclusive_and_never_exceeded(spark, sf_dir):
    out = token_budget_take(_docs(spark, sf_dir), "source", "doc_id", "n_tokens", 600)
    per_source = (
        out.groupBy("source").agg(F.max("cum_tokens").alias("m")).collect()
    )
    assert per_source and all(r["m"] <= 600 for r in per_source)


def test_selection_is_partitioning_invariant(spark, sf_dir):
    base = _docs(spark, sf_dir)
    a = {
        r["doc_id"]
        for r in token_budget_take(base, "source", "doc_id", "n_tokens", 600).collect()
    }
    b = {
        r["doc_id"]
        for r in token_budget_take(
            base.repartition(13), "source", "doc_id", "n_tokens", 600
        ).collect()
    }
    assert a == b and a


def test_greedy_prefix_property(spark):
    # within one group, the kept set is a PREFIX of the hash order: no row
    # is skipped and a later row kept
    df = spark.createDataFrame(
        [(i, "g", 10) for i in range(20)], "doc_id long, source string, n_tokens long"
    )
    out = token_budget_take(df, "source", "doc_id", "n_tokens", 95)
    rows = out.collect()
    assert len(rows) == 9  # 9 * 10 = 90 <= 95 < 100
    assert max(r["cum_tokens"] for r in rows) == 90


def test_weighted_reservoir_exact_k_and_weight_bias(spark):
    from python_async_sample_spark.operators.sampling import weighted_reservoir_take

    rows = [("g", i, 1000 if i == 0 else 1) for i in range(10)]
    df = spark.createDataFrame(rows, "grp string, id long, w long")
    # exact-k invariant: never more than k per group; min(k, n) when short
    out = weighted_reservoir_take(df, "grp", "id", "w", k=3).collect()
    assert len(out) == 3
    short = spark.createDataFrame(rows[:2], "grp string, id long, w long")
    assert weighted_reservoir_take(short, "grp", "id", "w", k=5).count() == 2
    # weight bias: across 40 salts, the item with 1000x weight must win the
    # k=1 draw far more often than uniform (P(win)=1000/1009 per draw)
    wins = 0
    for s in range(40):
        top = weighted_reservoir_take(df, "grp", "id", "w", k=1, salt=f"s{s}").collect()
        wins += top[0]["id"] == 0
    assert wins >= 30


def test_weighted_reservoir_partitioning_invariant(spark):
    from python_async_sample_spark.operators.sampling import weighted_reservoir_take

    rows = [(f"g{i % 3}", i, (i * 7) % 13 + 1) for i in range(60)]
    df = spark.createDataFrame(rows, "grp string, id long, w long")
    a = sorted(
        (r["grp"], r["id"], r["sample_rank"])
        for r in weighted_reservoir_take(df, "grp", "id", "w", k=4).collect()
    )
    b = sorted(
        (r["grp"], r["id"], r["sample_rank"])
        for r in weighted_reservoir_take(df.repartition(7), "grp", "id", "w", k=4).collect()
    )
    assert a == b


def test_weighted_reservoir_fractional_weights_and_zero_exclusion(spark):
    """Review fix: weights in (0,1) must stay weight-proportional (no clamp
    to 1), and weight<=0 rows are never sampled."""
    from python_async_sample_spark.operators.sampling import weighted_reservoir_take

    rows = [("g", 0, 0.95), ("g", 1, 0.05), ("g", 2, 0.0), ("g", 3, -1.0)]
    df = spark.createDataFrame(rows, "grp string, id long, w double")
    wins = 0
    for s in range(40):
        got = weighted_reservoir_take(df, "grp", "id", "w", k=1, salt=f"f{s}").collect()
        assert len(got) == 1 and got[0]["id"] in (0, 1)  # 2,3 excluded
        wins += got[0]["id"] == 0
    assert wins >= 30  # 0.95 vs 0.05 → id 0 wins ~95% of salts


# ---------------------------------------------------------------------------
# epoch_capped_allocation (q234): the waterfilling optimality properties
# UNIQUELY characterize the allocation (up to the pinned largest-remainder
# placement), so hypothesis checks them instead of re-deriving the same
# closed form twice.
# ---------------------------------------------------------------------------


def _alloc(spark, sizes, budget, pct=120):
    from python_async_sample_spark.operators.sampling import (
        epoch_capped_allocation,
    )

    df = spark.createDataFrame(
        [(f"s{i}", n) for i, n in enumerate(sizes)], "src string, n bigint"
    )
    return {
        r.src: (r.n_tokens, r.cap_tokens, r.alloc_tokens, r.epochs_micro)
        for r in epoch_capped_allocation(
            df, "src", "n", budget=budget, max_epochs_pct=pct
        ).collect()
    }


def test_epoch_alloc_waterfilling_properties(spark):
    from hypothesis import HealthCheck, example, given, settings, strategies as st

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=12),
        st.integers(min_value=0, max_value=60000),
    )
    @example(sizes=[1, 1], budget=1)
    def check(sizes, budget):
        out = _alloc(spark, sizes, budget)
        caps = {s: c for s, (_, c, _, _) in out.items()}
        allocs = {s: a for s, (_, _, a, _) in out.items()}
        # conservation: every budget token lands somewhere, none invented
        assert sum(allocs.values()) == min(budget, sum(caps.values()))
        # caps respected, nothing negative
        assert all(0 <= allocs[s] <= caps[s] for s in allocs)
        uncapped = [s for s in allocs if allocs[s] < caps[s]]
        if uncapped:
            lvls = [allocs[s] for s in uncapped]
            # common water level: equal shares within the 1-token remainder
            assert max(lvls) - min(lvls) <= 1
            # optimality: a filled group's cap never exceeds the level (else
            # it should have been uncapped) ...
            over = [s for s in allocs if allocs[s] == caps[s] > max(lvls)]
            # ... unless the largest-remainder rule filled it with its one
            # extra token: then its cap is the level + 1 and it ranks ahead
            # of every uncapped group by (cap, src), the pinned order (sizes
            # (1, 1) at budget 1 fill s0 to 1 and leave s1 at 0)
            assert all(
                caps[s] == max(lvls) + 1
                and all((caps[s], s) < (caps[u], u) for u in uncapped)
                for s in over
            )

    check()


def test_epoch_alloc_exact_fixture(spark):
    """Hand-computed waterfill: caps (12, 24, 120) for sizes (10, 20, 100)
    at 120 pct; budget 70 → small groups cap out (12 + 24), the big one
    takes the remaining 34 < its 120 cap."""
    out = _alloc(spark, [10, 20, 100], budget=70)
    assert out["s0"] == (10, 12, 12, 1_200_000)
    assert out["s1"] == (20, 24, 24, 1_200_000)
    assert out["s2"] == (100, 120, 34, 340_000)


def test_epoch_alloc_remainder_goes_to_lowest_ranked(spark):
    """budget 10 over three equal groups (caps 12 each): 3,3,3 base and
    the 1-token remainder lands on the rank-1 (lowest cap, then name)
    group — deterministic largest-remainder placement."""
    out = _alloc(spark, [10, 10, 10], budget=10)
    assert sorted(a for _, _, a, _ in out.values()) == [3, 3, 4]
    assert out["s0"][2] == 4  # ties rank by (cap, name): s0 first


def test_epoch_alloc_partitioning_invariant(spark):
    from python_async_sample_spark.operators.sampling import (
        epoch_capped_allocation,
    )

    rows = [(f"s{i}", 37 * (i % 5) + 11) for i in range(11)]
    df = spark.createDataFrame(rows, "src string, n bigint")
    a = epoch_capped_allocation(df, "src", "n", budget=200).collect()
    b = epoch_capped_allocation(
        df.repartition(7), "src", "n", budget=200
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
