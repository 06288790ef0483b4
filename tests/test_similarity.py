"""Recall tests for the approximate similarity paths (LSH, IVF) against the
exact brute-force baseline, and blocking-correctness for MinHash/SimHash."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_async_sample_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from python_async_sample_spark.sources.readers import load_table


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(approx, exact):
    hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    return hits / total


def test_ann_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = _topk_sets(brute_force_topk(emb, queries, k=10))

    ivf = _topk_sets(ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=8))
    # probing half the cells of a 16-cell index must find most true neighbors
    assert _recall(ivf, exact) >= 0.8

    lsh = _topk_sets(lsh_topk(emb, queries, k=10, n_planes=4, dim=64))
    # 4 planes → 16 buckets; same-bucket candidates only. Random-hyperplane
    # recall on near-uniform synthetic vectors is modest by design — assert
    # it beats the ~1/16 random-bucket floor by a wide margin.
    assert _recall(lsh, exact) >= 0.25


def test_ivf_matches_exact_when_probing_everything(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = _topk_sets(brute_force_topk(emb, queries, k=5))
    full = _topk_sets(ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=8))
    # probing every cell degrades IVF to exact search
    assert full == exact


def test_int8_quantization_contract(spark, sf_dir):
    from pyspark.sql.types import ArrayType, ByteType

    from python_async_sample_spark.operators.similarity import (
        cosine_col,
        dequantize,
        quantize_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb, "embedding")
    assert isinstance(q.schema["q_vec"].dataType, ArrayType)
    assert isinstance(q.schema["q_vec"].dataType.elementType, ByteType)

    d = dequantize(q, "q_vec", "q_scale", "deq")
    worst = d.select(
        F.max(
            F.abs(
                cosine_col(F.col("embedding").cast("array<double>"), F.col("deq"))
                - 1.0
            )
        ).alias("e")
    ).collect()[0]["e"]
    assert worst < 1e-3  # int8 reconstruction keeps cosine within 0.001

    # zero vectors stay representable: scale 0, all-zero code
    z = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    row = quantize_int8(z, "embedding").collect()[0]
    assert row["q_scale"] == 0.0 and list(row["q_vec"]) == [0, 0, 0]


def test_recall_guard_fires_on_empty_output(spark):
    """The in-plan recall guard must fail loudly when the approximate
    result is COMPLETELY empty — the total-collapse scenario. A where()
    guard on output rows is never evaluated on zero rows; the union-poison
    construction is."""
    import pytest

    from python_async_sample_spark.plans.similarity_queries import _with_recall_guard

    exact = spark.createDataFrame(
        [(1, 2), (1, 3)], "query_id long, neighbor_id long"
    )
    empty = exact.where(F.lit(False))
    guarded = _with_recall_guard(empty, exact, floor=0.5, what="collapse-test")
    with pytest.raises(Exception, match="recall below floor"):
        guarded.collect()

    # and a clean result passes through unchanged
    ok = _with_recall_guard(exact, exact, floor=0.5, what="clean-test")
    assert sorted((r.query_id, r.neighbor_id) for r in ok.collect()) == [(1, 2), (1, 3)]


def test_guard_fires_under_count_only_actions(spark):
    """Regression: the driver's rows-only check is a count() — which never
    evaluates projected columns. A violated guard must fail count() too,
    and a clean guard must not disturb the row count."""
    import pytest
    from pyspark.sql import functions as F

    from python_async_sample_spark.plans.similarity_queries import _union_poison_guard

    out = spark.range(3).select(F.col("id").alias("v"))
    violated = spark.range(1).select(F.lit(1).alias("x"))
    with pytest.raises(Exception, match="count-path"):
        _union_poison_guard(out, violated, "count-path guard").count()
    clean = violated.where(F.lit(False))
    assert _union_poison_guard(out, clean, "unused").count() == 3


def test_all_pairs_topk_matches_broadcast_kernel(spark, sf_dir):
    """all_pairs_topk_gemm (blocked, nothing broadcast) must return exactly
    brute_force_topk's answer when the query set is the whole corpus —
    same ids, ranks, and cosines to fp tolerance."""
    from python_async_sample_spark.operators.similarity import (
        all_pairs_topk_gemm,
        brute_force_topk,
    )
    from python_async_sample_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cosine"], 9))
        for r in all_pairs_topk_gemm(emb, "vec_id", "embedding", k=3).collect()
    }
    b = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cosine"], 9))
        for r in brute_force_topk(emb, emb, "vec_id", "embedding", k=3).collect()
    }
    assert a == b


def test_all_pairs_topk_never_emits_self_pairs_when_k_exceeds_corpus(spark):
    """Review fix: with k >= N the masked -inf diagonal must not leak
    (v, v) self-matches into short candidate lists."""
    from python_async_sample_spark.operators.similarity import all_pairs_topk_gemm

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = all_pairs_topk_gemm(df, "vec_id", "embedding", k=10).collect()
    assert got, "expected neighbor rows"
    for r in got:
        assert r["query_id"] != r["neighbor_id"]
        assert r["cosine"] == r["cosine"] and r["cosine"] > float("-inf")
    # each of the 3 vectors sees exactly the other 2
    from collections import Counter
    c = Counter(r["query_id"] for r in got)
    assert c == {0: 2, 1: 2, 2: 2}


def test_blocked_gemm_matches_expression_pairs(spark, sf_dir):
    """q200's per-bucket GEMM kernel (cosine_pairs_blocked_gemm) must return
    exactly the expression-tree cosine_pairs answer on the same blocked
    input — same (d1, d2) set and cosines to fp tolerance. Same arithmetic,
    ~100x the speed; this pins that the speedup changed nothing."""
    from python_async_sample_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_blocked_gemm,
    )

    # two COARSE buckets (odd/even id) so planted near-dup pairs survive the
    # blocking at sf0.001 — random fine-grained blocking would separate them
    # and vacuously compare empty sets
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", F.pmod(F.col("vec_id"), F.lit(2))
    )
    a = {
        (r["d1"], r["d2"]): round(r["cosine"], 9)
        for r in cosine_pairs_blocked_gemm(
            emb, "vec_id", "embedding", threshold=0.45, block_col="bucket"
        ).collect()
    }
    b = {
        (r["d1"], r["d2"]): round(r["cosine"], 9)
        for r in cosine_pairs(
            emb, "vec_id", "embedding", 0.45, "bucket"
        ).collect()
    }
    assert set(a) == set(b) and a  # same pair set, non-empty
    assert all(abs(a[k] - b[k]) < 1e-6 for k in a)


def test_incremental_gemm_is_touching_subset_of_full(spark, sf_dir):
    """q213's kernel contract: cosine_pairs_blocked_gemm with is_new_col
    must emit EXACTLY the full blocked-GEMM pair set restricted to pairs
    touching the batch — nothing extra (no history x history), nothing
    missing (no dropped batch pair), each batch-batch pair exactly once."""
    from python_async_sample_spark.operators.similarity import cosine_pairs_blocked_gemm

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("bucket", F.pmod(F.col("vec_id"), F.lit(2)))
        .withColumn("is_new", F.col("vec_id") % 4 == 0)
    )
    full = {
        (r["d1"], r["d2"]): round(r["cosine"], 9)
        for r in cosine_pairs_blocked_gemm(
            emb, "vec_id", "embedding", threshold=0.45, block_col="bucket"
        ).collect()
    }
    touching = {k: v for k, v in full.items() if k[0] % 4 == 0 or k[1] % 4 == 0}
    inc_rows = cosine_pairs_blocked_gemm(
        emb, "vec_id", "embedding",
        threshold=0.45, block_col="bucket", is_new_col="is_new",
    ).collect()
    inc = {(r["d1"], r["d2"]): round(r["cosine"], 9) for r in inc_rows}
    assert len(inc_rows) == len(inc), "a pair was emitted more than once"
    assert set(inc) == set(touching) and touching
    assert all(abs(inc[k] - touching[k]) < 1e-6 for k in inc)


def test_portable_hyperplane_buckets_python_replayable(spark, sf_dir):
    """q200's quantizer contract: every plane coefficient derives from the
    portable 32-bit mixer, so a pure-Python replay (no numpy GEMM, no
    Spark) must reproduce every bucket code bit for bit — the property the
    DuckDB oracle depends on."""
    from python_async_sample_spark.operators.similarity import (
        portable_hyperplane_buckets,
    )
    from python_async_sample_spark.operators.sketches import portable_hash_py

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    n_planes = 5
    got = {
        r["vec_id"]: r["bucket"]
        for r in portable_hyperplane_buckets(
            emb, "vec_id", "embedding", n_planes=n_planes, dim=64
        ).collect()
    }
    planes = [
        [portable_hash_py(j * 64 + d, 0) / 2**32 * 2 - 1 for d in range(64)]
        for j in range(n_planes)
    ]
    for r in emb.select("vec_id", "embedding").collect():
        v = [float(x) for x in r["embedding"]]
        code = sum(
            (1 << j)
            for j in range(n_planes)
            if sum(p * x for p, x in zip(planes[j], v)) >= 0
        )
        assert got[r["vec_id"]] == code, r["vec_id"]


def test_multi_table_buckets_python_replayable(spark, sf_dir):
    """lsh_topk's index: table t of portable_hyperplane_buckets uses planes
    t*n_planes .. t*n_planes+n_planes-1 of the portable mixer and offsets
    its code by t*2^n_planes — every bucket must equal a pure-Python replay,
    and table 0 must be the single-table (q200/q213/q229) output."""
    from python_async_sample_spark.operators.similarity import (
        portable_hyperplane_buckets,
    )
    from python_async_sample_spark.operators.sketches import portable_hash_py

    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    n_planes, n_tables = 4, 2
    got = {}
    for r in portable_hyperplane_buckets(
        emb, "vec_id", "embedding", n_planes=n_planes, dim=64, n_tables=n_tables
    ).collect():
        got.setdefault(r["vec_id"], []).append(r["bucket"])
    single = {
        r["vec_id"]: r["bucket"]
        for r in portable_hyperplane_buckets(
            emb, "vec_id", "embedding", n_planes=n_planes, dim=64
        ).collect()
    }
    planes = [
        [portable_hash_py(j * 64 + d, 0) / 2**32 * 2 - 1 for d in range(64)]
        for j in range(n_tables * n_planes)
    ]
    rows = emb.select("vec_id", "embedding").collect()
    assert len(got) == len(rows) == len(single)
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        want = [
            t * 2**n_planes
            + sum(
                (1 << i)
                for i in range(n_planes)
                if sum(p * x for p, x in zip(planes[t * n_planes + i], v)) >= 0
            )
            for t in range(n_tables)
        ]
        assert sorted(got[r["vec_id"]]) == want, r["vec_id"]
        assert single[r["vec_id"]] == want[0], r["vec_id"]


def test_broadcast_topk_faces_are_exact(spark, sf_dir):
    """Both faces of the one broadcast top-k kernel — cosine
    (brute_force_topk) and squared L2 (pq.brute_force_topk_l2) — must equal
    a local numpy exact top-k on a 7-partition corpus: self excluded, ties
    broken by neighbor_id, exactly k rows per query. The reference uses
    each face's own arithmetic (unit-vector GEMM; the clamped expanded
    x2 - 2xq + q2 form) over the whole corpus at once."""
    import numpy as np

    from python_async_sample_spark.operators.pq import brute_force_topk_l2

    k = 7
    emb = load_table(spark, sf_dir, "embeddings").repartition(7)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    rows = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    x = np.vstack([r["v"] for r in rows])
    qi = np.where(ids % 50 == 0)[0]
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cos = xn @ xn[qi].T
    sq = (x * x).sum(axis=1)
    d2 = np.maximum(sq[:, None] - 2.0 * (x @ x[qi].T) + sq[qi][None, :], 0.0)

    def want(key):  # lower key = better
        out = {}
        for j, q in enumerate(qi):
            order = [i for i in np.lexsort((ids, key[:, j])) if i != q][:k]
            for rank, i in enumerate(order, start=1):
                out[(int(ids[q]), rank)] = int(ids[i])
        return out

    for df, key, col in (
        (brute_force_topk(emb, queries, k=k), -cos, "cosine"),
        (brute_force_topk_l2(emb, queries, k=k), d2, "d2"),
    ):
        got = df.collect()
        assert len(got) == k * len(qi), col
        assert {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got} == want(key), col
        assert all(r["query_id"] != r["neighbor_id"] for r in got), col


def test_cosine_pairs_requires_blocking_and_plans_equi_join(spark):
    """VERDICT r3 item 4: the unblocked quadratic variant is unreachable —
    block_col is required (falsy → ValueError), and the blocked path plans
    a keyed equi-join, never a cartesian/nested-loop product."""
    import pytest

    from python_async_sample_spark.operators.similarity import cosine_pairs

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], "a"), (1, [1.0, 0.0], "a"), (2, [0.0, 1.0], "b"),
         (3, [0.0, 1.0], "b")],
        "vid long, emb array<double>, bucket string",
    )
    with pytest.raises(TypeError):
        cosine_pairs(df, "vid", "emb", 0.9)  # block_col is not optional
    with pytest.raises(ValueError, match="blocking column"):
        cosine_pairs(df, "vid", "emb", 0.9, None)

    pairs = cosine_pairs(df, "vid", "emb", 0.9, "bucket")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r["d1"], r["d2"]) for r in pairs.collect()}
    assert got == {(0, 1), (2, 3)}  # cross-bucket pairs never compared


def test_ivf_auto_cell_sizing(spark, sf_dir):
    """n_centroids="auto" sizes the index at max(32, sqrt(N)) — the scale
    rule that keeps the probed-cell scan O(n_probe*sqrt(N)) instead of
    linear (round-8 SCALE fix) — and must keep recall above the q37
    floor on every test corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = _topk_sets(brute_force_topk(emb, queries, k=10))
    auto = _topk_sets(
        ivf_topk(emb, queries, k=10, n_centroids="auto", n_probe=8)
    )
    assert _recall(auto, exact) >= 0.5
    import pytest

    with pytest.raises(ValueError):
        ivf_topk(emb, queries, k=10, n_centroids="sqrt")


def _exact_l2_topk_certified_convention(emb, k):
    """Local top-k expectation under the CERTIFIED convention (d2 rounded
    to the 1e-9 grid, ties to the lower id) for queries vec_id % 100 == 0
    — shared by the q227/q229 full-probe degradation tests; comparing
    rank tuples against brute_force_topk_l2's raw expanded-GEMM distances
    would reintroduce the near-tie ordering hazard its docstring warns
    about."""
    import numpy as np

    rows = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.vstack([r["v"] for r in rows])
    want = set()
    for qi in np.where(ids % 100 == 0)[0]:
        d2 = np.round(((mat - mat[qi]) ** 2).sum(axis=1), 9)
        order = [j for j in np.lexsort((ids, d2)) if j != qi][:k]
        want |= {
            (int(ids[qi]), int(ids[j]), rank + 1) for rank, j in enumerate(order)
        }
    return want


def test_ivf_certified_full_probe_matches_exact_l2(spark, sf_dir):
    """q227's operator: probing EVERY cell degrades certified IVF to the
    exact L2 top-k (the same exactness sanity as the cosine IVF), and the
    result is invariant under input repartitioning (determinism is the
    whole point of the certified face)."""
    from python_async_sample_spark.operators.similarity import ivf_topk_certified

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    full = ivf_topk_certified(
        emb, queries, k=5, n_cells=8, n_probe=8, iters=1
    )
    got = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in full.collect()}
    assert got == _exact_l2_topk_certified_convention(emb, k=5)

    again = ivf_topk_certified(
        emb.repartition(13), queries, k=5, n_cells=8, n_probe=8, iters=1
    )
    assert {(r["query_id"], r["neighbor_id"], r["rank"]) for r in again.collect()} == got


def test_ivf_certified_candidates_only_from_probed_cells(spark, sf_dir):
    """At n_probe=1 every neighbor must share the query's own cell — a
    candidate from an unprobed cell means the blocking leaked."""
    from python_async_sample_spark.operators.kmeans import (
        assign_clusters,
        kmeans_fit,
    )
    from python_async_sample_spark.operators.similarity import ivf_topk_certified

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    cents, _ = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=1, round_digits=6)
    cells = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(
            emb.select("vec_id", F.col("embedding").cast("array<double>").alias("__v")),
            "__v",
            cents,
        ).collect()
    }
    out = ivf_topk_certified(emb, queries, k=10, n_cells=8, n_probe=1, iters=1)
    for r in out.collect():
        assert cells[r["neighbor_id"]] == cells[r["query_id"]], r


def test_lsh_certified_zero_planes_matches_exact_l2(spark, sf_dir):
    """q229's operator: 0 planes = one bucket = every candidate scored —
    certified LSH degrades to the exact L2 top-k, and the result is
    invariant under repartitioning. The expectation is computed locally
    under the CERTIFIED convention (d2 rounded to the 1e-9 grid, ties to
    the lower id) — comparing rank tuples against brute_force_topk_l2's
    raw expanded-GEMM distances would reintroduce exactly the
    near-tie ordering hazard its own docstring warns about."""
    from python_async_sample_spark.operators.similarity import lsh_topk_certified

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    full = lsh_topk_certified(emb, queries, k=5, n_planes=0)
    got = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in full.collect()}
    assert got == _exact_l2_topk_certified_convention(emb, k=5)
    again = lsh_topk_certified(emb.repartition(7), queries, k=5, n_planes=0)
    assert {(r["query_id"], r["neighbor_id"], r["rank"]) for r in again.collect()} == got


def test_lsh_certified_candidates_share_bucket(spark, sf_dir):
    """Every q229 neighbor must carry the query's own bucket code — a
    foreign-bucket candidate means the blocking leaked."""
    from python_async_sample_spark.operators.similarity import (
        lsh_topk_certified,
        portable_hyperplane_buckets,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    codes = {
        r["vec_id"]: r["bucket"]
        for r in portable_hyperplane_buckets(emb, "vec_id", "embedding", 4).collect()
    }
    out = lsh_topk_certified(emb, queries, k=10, n_planes=4)
    for r in out.collect():
        assert codes[r["neighbor_id"]] == codes[r["query_id"]], r


def test_ivf_auto_refuses_degenerate_sample(spark, sf_dir):
    """n_centroids='auto' with a sample too small for 4 points per centroid
    at the 32-cell floor must be a loud contract error, not a silent
    degenerate seeding (round-9 ADVICE: the max(32, ...) floor used to
    override the sample_size//4 cap)."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    # requested sample too small for the 32-cell floor
    with pytest.raises(ValueError, match="need 4 per"):
        ivf_topk(emb, queries, k=5, n_centroids="auto", sample_size=100)
    # corpus itself too small: the ACTUAL sample is the bound, not the
    # requested sample_size (review tightening)
    tiny = emb.limit(40)
    with pytest.raises(ValueError, match="need 4 per"):
        ivf_topk(tiny, queries, k=5, n_centroids="auto", sample_size=4096)


def test_certified_lsh_property_spark_equals_duckdb(spark):
    """Property sweep over the certified-LSH edges (VERDICT r8 item 6):
    n_planes in {0, 1, 8, 32} x random corpora x seeds, asserting (a) the
    Spark bucket codes equal DuckDB's replay through the SHARED
    hyperplane_cte_parts fragment (zero planes = LEFT-JOIN bucket 0 for
    every row — the edge the round-8 review fixed by hand), and (b) exact
    ties on the 1e-9 d2 grid (planted duplicate vectors, a zero vector)
    rank deterministically and survive repartitioning."""
    import duckdb
    import numpy as np
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from python_async_sample_spark.operators.similarity import (
        hyperplane_cte_parts,
        lsh_topk_certified,
        portable_hyperplane_buckets,
    )

    DIM = 8

    @given(
        n_planes=st.sampled_from([0, 1, 8, 32]),
        n_rows=st.integers(min_value=4, max_value=12),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def prop(n_planes: int, n_rows: int, seed: int) -> None:
        rng = np.random.RandomState(seed)
        vecs = rng.standard_normal((n_rows, DIM))
        vecs[1] = vecs[0]  # planted exact-duplicate: a guaranteed d2 tie
        vecs[2] = 0.0  # zero vector: every projection is exactly 0 (>= 0)
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(n_rows)]
        df = spark.createDataFrame(rows, "id bigint, v array<double>")

        spark_codes = {
            r["id"]: r["bucket"]
            for r in portable_hyperplane_buckets(df, "id", "v", n_planes, DIM).collect()
        }

        pdf = pd.DataFrame({"id": [r[0] for r in rows], "v": [r[1] for r in rows]})
        con = duckdb.connect()
        con.register("tbl", pdf)
        parts = ",\n".join(hyperplane_cte_parts(str(n_planes), DIM))
        duck_codes = dict(
            con.execute(
                f"""WITH pts AS MATERIALIZED (
                      SELECT id, CAST(v AS DOUBLE[]) AS v FROM tbl
                    ),
                    {parts}
                    SELECT id, bucket FROM codes"""
            ).fetchall()
        )
        con.close()
        assert spark_codes == duck_codes, (n_planes, seed)

        queries = df.where(F.col("id") % 3 == 0)
        out1 = {
            (r["query_id"], r["rank"], r["neighbor_id"], round(r["d2"], 9))
            for r in lsh_topk_certified(
                df, queries, id_col="id", vec_col="v", k=3,
                n_planes=n_planes, dim=DIM,
            ).collect()
        }
        out2 = {
            (r["query_id"], r["rank"], r["neighbor_id"], round(r["d2"], 9))
            for r in lsh_topk_certified(
                df.repartition(5), queries, id_col="id", vec_col="v", k=3,
                n_planes=n_planes, dim=DIM,
            ).collect()
        }
        assert out1 == out2, (n_planes, seed)

    prop()


def test_ivf_distributed_trainer_recall(spark, sf_dir):
    """trainer='distributed' must produce an index at least as usable as
    the sampled trainer at the same cell count (same recall floor as
    test_ann_recall), and probing every cell must degrade to exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = _topk_sets(brute_force_topk(emb, queries, k=10))
    dist = _topk_sets(
        ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=8,
                 train_iters=3, trainer="distributed")
    )
    assert _recall(dist, exact) >= 0.8
    full = _topk_sets(
        ivf_topk(emb, queries, k=10, n_centroids=8, n_probe=8,
                 train_iters=2, trainer="distributed")
    )
    assert _recall(full, exact) == 1.0


def test_ivf_distributed_trainer_retires_cell_cap(spark):
    """VERDICT r9 item 4: cells > 1024 must train WITHOUT a driver-side
    corpus sample. A 4,500-vector synthetic corpus trains 1,100 cells
    (over the sampled trainer's 4096//4 cap) end-to-end while every
    driver collect stays codebook-sized; and the auto-sizing rule keeps
    cells ∝ sqrt(N) past 1M only for the distributed trainer."""
    import numpy as np

    from python_async_sample_spark.operators.similarity import _auto_ivf_cells

    # the sizing rule itself: past N=1M the sampled trainer pins at 1024,
    # the distributed trainer keeps sqrt(N)
    assert _auto_ivf_cells(2_000_000, 4096, "sample") == 1024
    assert _auto_ivf_cells(2_000_000, 4096, "distributed") == 1414

    n, d, k = 4500, 8, 1100
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((n, d)).astype(float)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(n)],
        "vec_id: bigint, embedding: array<double>",
    )
    queries = df.where(F.col("vec_id") < 8)

    # meter every driver collect (Spark 4: patch the CLASSIC class — the
    # dispatch parent's collect is overridden and would count nothing)
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    counts: list[int] = []
    orig = CDF.collect

    def patched(self):
        out = orig(self)
        counts.append(len(out))
        return out

    CDF.collect = patched
    try:
        out = ivf_topk(
            df, queries, k=5, n_centroids=k, n_probe=4, train_iters=1,
            trainer="distributed",
        )
        n_rows = out.count()
    finally:
        CDF.collect = orig
    assert n_rows == 8 * 5
    # driver touches: k seed vectors + <= k combine rows per iteration +
    # the 8-query matrix — never a corpus-sized or sample-sized relation
    assert max(counts) <= k
    assert sum(counts) <= k * (1 + 1) + 8 + 50


def test_ivf_distributed_trainer_survives_empty_partitions(spark):
    """Regression (round-10 scale probe): an EMPTY corpus partition made
    the partial kernel yield a float64-typed empty 's' column, which Arrow
    refuses to convert to list<double>. 64 partitions over 300 rows forces
    sparse/empty partitions through the trainer."""
    import numpy as np

    rng = np.random.RandomState(0)
    df = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(300)],
        "vec_id: bigint, embedding: array<double>",
    ).repartition(64)
    q = df.where(F.col("vec_id") < 4)
    out = ivf_topk(df, q, k=3, n_centroids=16, n_probe=4, train_iters=2,
                   trainer="distributed")
    assert out.count() == 12
