"""Product quantization (PQ) for approximate nearest neighbor at 100 TB.

Beyond the reference's inventory, completing the ANN compression ladder the
similarity family already climbs: exact GEMM (q35) → int8 scalar quantization,
4x (q86) → IVF partition pruning (q37) → PQ, the 16-32x tier: each vector is
stored as ``m`` byte-sized codes (8 bytes for a 64-dim float32 vector vs 256),
which is what lets a trillion-vector index fit in cluster memory at all
(Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — the public FAISS IndexPQ design).

Pieces, each independently reusable:

* :func:`pq_fit` — per-subspace quantized Lloyd's. All ``m`` subspace
  codebooks train in the SAME pass: one Arrow-batched scan per iteration
  computes every subspace's assignment AND combines each batch down to
  partial (subspace, code, dim) sums, so the shuffle carries
  <= ``dim * ksub`` cells per batch. Cost per iteration is ONE corpus scan,
  not ``m`` of them.
* :func:`pq_encode` — codes from one narrow Arrow-batched scan (no
  shuffle): per subspace, argmin of the 9-decimal-quantized squared distance,
  ties to the lowest code — the same cross-engine determinism contract as
  ``operators/kmeans.assign_clusters`` (see its docstring for why the 1e-9
  grid exists). Assignment is vectorized numpy, not an expression tree:
  at m * ksub = 128 distance expressions Catalyst analysis/codegen dominates
  the scan (measured ~4x slower at identical arithmetic), the inverse of the
  k=8 tradeoff ``kmeans.assign_clusters`` sits on.
* :func:`pq_topk_adc` — asymmetric distance computation: the (small, by the
  same bounded-driver contract as ``similarity._collect_queries``) query set
  turns into a ``Q x m x ksub`` lookup table of quantized subspace
  distances; the shared broadcast top-k kernel (``similarity._broadcast_topk``)
  gathers ``lut[s, code_s]`` per corpus row and emits only its local top-k
  per query, so the shuffle into the global merge carries <= k rows per
  (query, batch) — the same kernel and scale bound as ``brute_force_topk``.
  The corpus side touches ONLY the codes relation (m small ints per row):
  at serving time the float vectors never leave storage.
* :func:`pq_oracle_sql` — chained-CTE DuckDB replay of the whole trajectory
  (init, every per-subspace assignment/update round, final encode, LUT, ADC
  ranking), the same oracle style as ``kmeans_oracle_sql``: PQ is exactly
  per-subspace quantized Lloyd's, so the certification strategy transfers.

Metric: squared L2 on the RAW vectors — the classical PQ form. Avoiding
cosine here is deliberate: unit-normalization needs a sum-of-squares fold
whose summation order differs across engines, while raw L2 keeps every
cross-engine comparison on the already-proven round-to-9 grid.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_async_sample_spark.operators.kmeans import init_centroids
from python_async_sample_spark.operators.similarity import (
    _broadcast_topk,
    _collect_queries,
    _id_vec,
    _rank_topk,
    exact_l2_rank_sql,
)

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _require_integral_id(df: DataFrame, id_col: str, where: str) -> None:
    """The PQ relations carry ids as ``bigint`` end to end (codes schema,
    LUT kernels, oracle CTEs) — an explicit contract, checked up front so a
    string/UUID corpus fails with THIS message instead of an opaque Arrow
    cast error deep inside a kernel. Callers with non-integral ids should
    zip a surrogate ``bigint`` id first (e.g. ``monotonically_increasing_id``
    joined back, or a dictionary-encoded key relation)."""
    dtype = dict(df.dtypes).get(id_col)
    if dtype not in _INTEGRAL:
        raise TypeError(
            f"{where}: id column {id_col!r} must be an integral type "
            f"(one of {_INTEGRAL}), got {dtype!r}; map non-integral ids to a "
            "surrogate bigint key before PQ"
        )


def _assign_codes(xs: np.ndarray, cb: np.ndarray, dsub: int) -> np.ndarray:
    """Nearest-centroid code per (row, subspace): argmin of the squared
    distance quantized to the 1e-9 grid, ties to the LOWEST code
    (``argmin`` takes the first hit) — the same grid-quantized argmin
    strategy as ``operators/kmeans.assign_clusters`` (see its docstring for
    why the grid exists; the oracle rounds its ``d2`` to the same grid).
    One honest difference from the kmeans characterization: this side
    rounds with ``np.round`` (half-to-even) where kmeans used F.round
    (HALF_UP) — vs DuckDB's half-away ``round`` that is a different
    rounding PAIR but the same residual class (divergence needs a sum
    within an ulp of a half-grid boundary; exact halves are not
    representable doubles)."""
    m = len(cb)
    codes = np.empty((len(xs), m), dtype=np.int32)
    for s in range(m):
        sl = xs[:, s * dsub : (s + 1) * dsub]
        diff = sl[:, None, :] - cb[s][None, :, :]
        d2 = np.round((diff * diff).sum(axis=2), 9)
        codes[:, s] = d2.argmin(axis=1)
    return codes


def pq_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    round_digits: int = 6,
) -> list[list[list[float]]]:
    """Train ``m`` subspace codebooks of ``ksub`` centroids each; returns
    ``codebooks[s][j] = centroid j of subspace s`` (length ``dim // m``).

    Init is content-addressed and SHARED across subspaces: the ``ksub`` rows
    with the smallest ``md5(id)`` (``operators/kmeans.init_centroids``),
    sliced per subspace — deterministic across runs, partitionings, and
    engines, and replayed verbatim by :func:`pq_oracle_sql`.

    Each iteration: ONE Arrow-batched scan assigns every subspace and
    pre-combines each batch to partial (subspace, code, dim) sums —
    <= ``dim * ksub`` cells leave each batch, the final aggregation reduces
    them to exactly ``dim * ksub`` means, and the driver touches
    ``dim * ksub`` doubles. Updated means are
    quantized to ``round_digits`` (quantized Lloyd's, same contract as
    ``kmeans_fit``) so the full trajectory is engine-reproducible. Empty
    clusters keep their previous centroid.
    """
    _require_integral_id(df, id_col, "pq_fit")
    vecs = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    # probe dim and validate BEFORE the checkpoint below: an invalid m must
    # fail on this one-row job, not after a full corpus materialization
    dim = len(vecs.select("__v").first()["__v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    # each iteration re-reads the vector relation; cut lineage once
    vecs = vecs.localCheckpoint(eager=True)
    seeds = init_centroids(vecs, "__id", "__v", ksub)
    ksub = len(seeds)  # inputs smaller than ksub seed fewer centroids
    codebooks = [[seed[s * dsub : (s + 1) * dsub] for seed in seeds] for s in range(m)]

    for _ in range(iters):
        cb = np.asarray(codebooks, dtype=np.float64)

        def kernel(batches, cb=cb):
            # per-batch PARTIAL sums: assignment is vectorized numpy (the
            # m * ksub expression-tree variant measured ~4x slower at
            # identical arithmetic — Catalyst analysis/codegen dominates at
            # 128 aggregate expressions), and each batch combines its rows
            # down to <= m * ksub * dsub cells before the shuffle — numpy
            # map-side combine, same bound as kmeans_fit's exploded agg.
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                xs = np.vstack(pdf["_v"].to_numpy())
                codes = _assign_codes(xs, cb, dsub)
                out_s, out_c, out_d, out_sum, out_n = [], [], [], [], []
                for s in range(len(cb)):
                    sl = xs[:, s * dsub : (s + 1) * dsub]
                    for j in np.unique(codes[:, s]):
                        mask = codes[:, s] == j
                        sums = sl[mask].sum(axis=0)
                        out_s.extend([s] * dsub)
                        out_c.extend([int(j)] * dsub)
                        out_d.extend(range(dsub))
                        out_sum.extend(sums.tolist())
                        out_n.extend([int(mask.sum())] * dsub)
                yield pd.DataFrame(
                    {"s": out_s, "cluster": out_c, "dim": out_d,
                     "psum": out_sum, "cnt": out_n}
                )

        agg = (
            vecs.select(F.col("__v").alias("_v"))
            .mapInPandas(kernel, schema="s int, cluster int, dim int, psum double, cnt bigint")
            .groupBy("s", "cluster", "dim")
            .agg(F.round(F.sum("psum") / F.sum("cnt"), round_digits).alias("mean"))
            .collect()
        )
        new = [[list(cent) for cent in cb_] for cb_ in codebooks]
        for r in agg:
            new[r["s"]][r["cluster"]][r["dim"]] = r["mean"]
        codebooks = new
    return codebooks


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(id, codes) — ``codes[s]`` is the nearest-centroid index of subspace
    ``s``. One narrow Arrow-batched scan, no shuffle; this is the relation a
    100 TB deployment would persist (``m`` bytes per vector)."""
    _require_integral_id(df, id_col, "pq_encode")
    dsub = len(codebooks[0][0])
    cb = np.asarray(codebooks, dtype=np.float64)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xs = np.vstack(pdf["_v"].to_numpy())
            codes = _assign_codes(xs, cb, dsub)
            yield pd.DataFrame(
                {"_id": pdf["_id"].to_numpy(), "codes": list(codes)}
            )

    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .mapInPandas(kernel, schema="_id bigint, codes array<int>")
        .select(F.col("_id").alias(id_col), "codes")
    )


def _collect_queries_raw(
    queries: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side (ids, RAW double matrix) of the query set
    (``similarity._collect_queries``) behind the PQ integral-id check."""
    _require_integral_id(queries, id_col, "pq query set")
    return _collect_queries(queries, id_col, vec_col)


def pq_topk_adc(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    _precollected: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: rank the ENCODED corpus against raw query
    vectors. Returns (query_id, neighbor_id, approx_d2, rank), distance
    ascending, ties to the lower neighbor id.

    The query set collapses to a ``Q x m x ksub`` LUT of per-subspace
    squared distances (quantized to 1e-9, matching the oracle's per-entry
    rounding); the kernel gathers+sums ``m`` LUT entries per corpus row —
    no float vectors are read — and emits its local top-k per query, so the
    global-merge shuffle carries <= k rows per (query, batch).

    Rounding residual, stated precisely: the kernel quantizes with
    ``np.round`` (half-to-even) while DuckDB's ``round`` is half-away — a
    DIFFERENT rounding pair than the F.round-vs-DuckDB one characterized in
    ``kmeans.assign_clusters``, but the same residual class: engines can
    disagree only for sums landing within an ulp of a half-grid boundary
    (no finite double is exactly k.5e-9, so exact halves cannot occur)."""
    _require_integral_id(codes, id_col, "pq_topk_adc codes")
    m, ksub = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    # ``_precollected`` lets pq_topk_refined run the query-set collect job
    # ONCE and thread (qids, qmat) into both its ADC and re-rank stages
    qids, qmat = (
        _precollected
        if _precollected is not None
        else _collect_queries_raw(queries, id_col, vec_col)
    )
    cb = np.asarray(codebooks, dtype=np.float64)  # m x ksub x dsub
    # lut[q, s, j] = round(||q_s - c_{s,j}||^2, 9): entries land on the same
    # 1e-9 grid the oracle's per-(query, s, cluster) sums round to
    lut = np.zeros((len(qids), m, ksub))
    for s in range(m):
        qs = qmat[:, s * dsub : (s + 1) * dsub]  # Q x dsub
        diff = qs[:, None, :] - cb[s][None, :, :]  # Q x ksub x dsub
        lut[:, s, :] = np.round((diff * diff).sum(axis=2), 9)

    def adc(cmat):
        cmat = cmat.astype(np.int64)  # n x m
        # fixed left-to-right subspace order; the final 1e-9 rounding
        # absorbs the oracle's unordered SUM over the same m entries
        scores = lut[:, 0, cmat[:, 0]]  # Q x n
        for s in range(1, m):
            scores = scores + lut[:, s, cmat[:, s]]
        return np.round(scores, 9).T

    rows = codes.select(F.col(id_col).alias("_id"), F.col("codes").alias("_v"))
    return _broadcast_topk(rows, qids, adc, k, "approx_d2", descending=False)


def pq_topk_refined(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist: int = 400,
) -> DataFrame:
    """ADC shortlist + exact re-rank — the production PQ serving shape
    (FAISS's ``IndexRefineFlat`` over ``IndexPQ``): the compressed codes
    relation does the heavy scan and nominates ``shortlist`` candidates per
    query; only those <= Q x shortlist float vectors are re-read and
    re-scored exactly. Returns (query_id, neighbor_id, d2, rank) with EXACT
    squared L2 distances, ascending, ties to the lower neighbor id.

    ``shortlist`` is FAISS's ``k_factor * k``: since re-ranking is exact,
    recall@k equals the probability the true top-k land in the shortlist,
    so it rises monotonically in ``shortlist`` while the re-rank cost is
    Q x shortlist point-lookups — measured FLAT in wall time on the
    synthetic corpora (fit+encode dominate; see q223's recorded curve).
    The default 400 = 40x the usual k=10, chosen where that curve passes
    0.89 at the worst measured scale. Recall at FIXED shortlist decays
    slowly as the corpus grows (more code collisions), so a deployment
    re-measures the curve at its own N rather than scaling shortlist
    with N — the re-rank stays O(Q x shortlist), never O(Q x N).

    100 TB posture: the float store is read by ONE narrow scan filtered
    through the broadcast (query_id, neighbor_id) shortlist — emitting
    <= Q x shortlist rows, no shuffle of the corpus — and each shortlist
    pair is scored exactly once, rowwise against its OWN query (the earlier
    shape that scored every candidate against every query and joined
    afterwards did Q x the kernel work and shuffled the excess away)."""
    # one collect job over the bounded query set, threaded into BOTH stages
    qids, qmat = _collect_queries_raw(queries, id_col, vec_col)
    short = pq_topk_adc(
        codes, queries, codebooks, id_col, vec_col, k=shortlist,
        _precollected=(qids, qmat),
    )
    # exactly one consumer (the broadcast build side below) — no
    # materialization barrier needed
    short = short.select("query_id", "neighbor_id")
    qidx = {int(q): i for i, q in enumerate(qids)}

    # one row per shortlist pair, carrying the candidate's float vector
    pairs = F.broadcast(short).join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ),
        "neighbor_id",
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xs = np.vstack(pdf["_v"].to_numpy())
            qrows_ = qmat[[qidx[int(q)] for q in pdf["query_id"]]]
            # direct sum-of-squared-diffs (not the expanded x2-2xq+q2 form)
            # so the arithmetic matches the oracle's per-dim sum modulo
            # ordering, which the 1e-9 rounding absorbs
            d2 = np.round(((xs - qrows_) ** 2).sum(axis=1), 9)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "d2": d2,
                }
            )

    scored = pairs.mapInPandas(
        kernel, schema="query_id bigint, neighbor_id bigint, d2 double"
    )
    return _rank_topk(scored, "d2", k, descending=False)


def brute_force_topk_l2(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact squared-L2 top-k (excluding self) — the float ground truth PQ's
    recall guard compares against: the shared broadcast top-k kernel
    (``similarity._broadcast_topk``, the one ``brute_force_topk`` runs)
    scoring squared L2. Distances ride the expanded ``x2 - 2xq + q2`` GEMM
    form (the scalable one: no n x Q x d intermediate), clamped at 0 —
    cancellation can push a near-duplicate pair a few ulps negative; fine
    for a recall guard whose denominator is the fixed Q*k, but do NOT
    oracle this form against a per-dim SQL sum."""
    qids, qmat = _collect_queries_raw(queries, id_col, vec_col)
    qsq = (qmat * qmat).sum(axis=1)

    def sq_l2(xs):
        return np.maximum(
            (xs * xs).sum(axis=1)[:, None] - 2.0 * (xs @ qmat.T) + qsq[None, :], 0.0
        )

    return _broadcast_topk(
        _id_vec(corpus, id_col, vec_col), qids, sq_l2, k, "d2", descending=False
    )


def pq_cte_parts(
    table: str,
    id_col: str,
    vec_col: str,
    m: int,
    ksub: int,
    iters: int,
    round_digits: int = 6,
    fit_pred: str = "TRUE",
    encode_pred: str | None = None,
) -> list[str]:
    """Bare CTE definitions replaying :func:`pq_fit` + :func:`pq_encode` in
    DuckDB: ``pts``/``dims`` (exploded vectors), ``cd0..cd{iters}`` (every
    subspace's centroid trajectory as (s, cluster, dim, val) rows over GLOBAL
    dim indices), ``a0..`` (per-iteration per-subspace assignments) and
    finally ``codes(id, s, cluster)`` — the encoded corpus. Mirrors of the
    Spark semantics, per subspace: shared md5-smallest-``ksub`` init,
    argmin on the 1e-9 grid with lowest-code ties, means quantized to
    ``round_digits`` with empty-cluster carry-over.

    ``fit_pred`` restricts the TRAINING rows (init + every Lloyd round);
    ``encode_pred``, when given, makes ``codes`` encode a DIFFERENT row set
    under the frozen trained codebooks — the incremental-ingest replay
    (:func:`pq_fit` on history, :func:`pq_encode` on the new batch)."""
    parts = [
        f"pts AS (SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v FROM {table} WHERE {fit_pred})",
        "dimspine AS (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM pts))) AS i)",
        # 0-based global dim; s = dim / dsub is derived, never stored twice
        "dims AS (SELECT id, i - 1 AS dim, v[i] AS val FROM pts CROSS JOIN dimspine WHERE i <= len(v))",
        f"""c0 AS (
          SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS cluster, v
          FROM pts ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {ksub}
        )""",
        "cd0 AS (SELECT cluster, i - 1 AS dim, v[i] AS val FROM c0 CROSS JOIN dimspine WHERE i <= len(v))",
    ]
    dsub_expr = f"(SELECT max(len(v)) FROM pts) / {m}"
    for i in range(iters):
        parts.append(
            f"""a{i} AS (
              SELECT id, s, cluster FROM (
                SELECT x.id, x.s, x.cluster,
                       row_number() OVER (PARTITION BY x.id, x.s
                                          ORDER BY x.d2, x.cluster) AS rn
                FROM (
                  SELECT p.id, CAST(floor(p.dim / ({dsub_expr})) AS INT) AS s, c.cluster,
                         round(sum((p.val - c.val) * (p.val - c.val)), 9) AS d2
                  FROM dims p JOIN cd{i} c ON c.dim = p.dim
                  GROUP BY 1, 2, 3
                ) x
              ) WHERE rn = 1
            )"""
        )
        parts.append(
            f"""cd{i + 1} AS (
              SELECT c.cluster, c.dim,
                     coalesce(round(u.mean, {round_digits}), c.val) AS val
              FROM cd{i} c LEFT JOIN (
                SELECT a.cluster, p.dim, avg(p.val) AS mean
                FROM a{i} a JOIN dims p
                  ON p.id = a.id AND CAST(floor(p.dim / ({dsub_expr})) AS INT) = a.s
                GROUP BY 1, 2
              ) u ON u.cluster = c.cluster AND u.dim = c.dim
            )"""
        )
    if encode_pred is None:
        enc_dims = "dims"
    else:
        parts.append(
            f"epts AS (SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v "
            f"FROM {table} WHERE {encode_pred})"
        )
        parts.append(
            "edims AS (SELECT id, i - 1 AS dim, v[i] AS val "
            "FROM epts CROSS JOIN dimspine WHERE i <= len(v))"
        )
        enc_dims = "edims"
    parts.append(
        f"""codes AS (
          SELECT id, s, cluster FROM (
            SELECT x.id, x.s, x.cluster,
                   row_number() OVER (PARTITION BY x.id, x.s
                                      ORDER BY x.d2, x.cluster) AS rn
            FROM (
              SELECT p.id, CAST(floor(p.dim / ({dsub_expr})) AS INT) AS s, c.cluster,
                     round(sum((p.val - c.val) * (p.val - c.val)), 9) AS d2
              FROM {enc_dims} p JOIN cd{iters} c ON c.dim = p.dim
              GROUP BY 1, 2, 3
            ) x
          ) WHERE rn = 1
        )"""
    )
    return parts


def pq_encode_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    m: int,
    ksub: int,
    iters: int,
    fit_pred: str,
    encode_pred: str,
    round_digits: int = 6,
) -> str:
    """DuckDB replay of INCREMENTAL encode: fit on the ``fit_pred`` rows
    (history), freeze the codebooks, encode the ``encode_pred`` rows (the
    new batch) — one (id, s, code) row per batch-vector subspace."""
    parts = pq_cte_parts(
        table, id_col, vec_col, m, ksub, iters, round_digits,
        fit_pred=fit_pred, encode_pred=encode_pred,
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT id AS {id_col}, CAST(s AS INT) AS s, CAST(cluster AS INT) AS code
        FROM codes ORDER BY {id_col}, s"""
    )


def pq_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    m: int,
    ksub: int,
    iters: int,
    query_pred: str,
    k: int,
    round_digits: int = 6,
    out_round: int = 6,
    refine: int | None = None,
) -> str:
    """Full DuckDB replay of the PQ ANN pipeline: fit + encode
    (:func:`pq_cte_parts`), then the ADC ranking — LUT = per-(query,
    subspace, centroid) squared distances on the 1e-9 grid, approximate
    distance = the m-entry LUT sum re-quantized to the same grid, rank by
    (distance, neighbor id), self excluded. ``query_pred`` selects the query
    rows from ``pts`` (e.g. ``id % 100 = 0``). With ``refine`` set, the
    ADC ranking nominates that many candidates per query and the final
    top-k is the EXACT squared distance over the shortlist — the replay of
    :func:`pq_topk_refined`."""
    dsub_expr = f"(SELECT max(len(v)) FROM pts) / {m}"
    parts = pq_cte_parts(table, id_col, vec_col, m, ksub, iters, round_digits)
    parts.append(
        f"""lut AS (
          SELECT qd.id AS query_id,
                 CAST(floor(qd.dim / ({dsub_expr})) AS INT) AS s, c.cluster,
                 round(sum((qd.val - c.val) * (qd.val - c.val)), 9) AS d2
          FROM (SELECT * FROM dims WHERE id IN (SELECT id FROM pts WHERE {query_pred})) qd
          JOIN cd{iters} c ON c.dim = qd.dim
          GROUP BY 1, 2, 3
        )"""
    )
    parts.append(
        """scored AS (
          SELECT l.query_id, e.id AS neighbor_id, round(sum(l.d2), 9) AS ad2
          FROM codes e JOIN lut l ON l.s = e.s AND l.cluster = e.cluster
          WHERE e.id <> l.query_id
          GROUP BY 1, 2
        )"""
    )
    if refine is None:
        return (
            "WITH "
            + ",\n".join(parts)
            + f"""
            SELECT query_id, neighbor_id, round(ad2, {out_round}) AS approx_d2, rank
            FROM (
              SELECT query_id, neighbor_id, ad2,
                     CAST(row_number() OVER (PARTITION BY query_id
                                             ORDER BY ad2, neighbor_id) AS BIGINT) AS rank
              FROM scored
            ) WHERE rank <= {k}
            ORDER BY query_id, rank"""
        )
    parts.append(
        f"""short AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY ad2, neighbor_id) AS rn
            FROM scored
          ) WHERE rn <= {refine}
        )"""
    )
    parts.append(exact_l2_rank_sql("short s", k, out_round, " " * 8))
    return "WITH " + ",\n".join(parts)
