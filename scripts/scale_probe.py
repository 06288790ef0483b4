#!/usr/bin/env python
"""Scale probe (VERDICT r3 item 5): do the pair miners and ANN paths grow
~linearly with their CANDIDATE volume — not quadratically with the corpus —
and do their driver-side touches stay bounded as the corpus grows?

The sf0.1 gate cannot distinguish an O(N²) constant from an O(N) one; this
probe can.  It synthesizes tiled corpora at 1×/3×/10× of sf0.1 (≈ sf1.0 at
the top) with per-copy perturbation chosen so TRUE pair density stays
constant per row (exact tiling would manufacture quadratically many
cross-copy duplicates and poison the measurement):

* documents — every 3rd token of each copy gets a per-copy suffix, so
  intra-copy near-dup structure is preserved (both members of a pair
  transform identically) while cross-copy shingle Jaccard collapses;
* customer — keys offset per copy and names re-derived from the new key,
  so q161's suffix blocks stay copy-unique and candidate volume linear;
* supplier/embeddings — keys offset; embeddings get per-copy deterministic
  jitter (ANN bucket sizes, the cost driver, depend on N, not on
  cross-copy similarity).

For each (query, scale) it records wall seconds, output rows, and —
via a DataFrame.collect shim — the TOTAL ROWS COLLECTED TO THE DRIVER.
Assertions (exit 1 on failure):

* wall time at 10× ≤ LINEAR_SLACK × the candidate-volume growth
  (candidates = output rows; q135's candidates legitimately grow ~s²
  with density, so time is held to its candidate curve, not to N);
* driver-collected rows stay under an absolute per-path cap at EVERY
  scale (the caps document the code's own bounds: IVF's 4096-vector
  training sample, the broadcast query matrix, one-row aggregates).

Writes SCALE.md at the repo root.  Usage:

    python scripts/scale_probe.py [work_dir]  # default /tmp/spark_graft_scale
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALES = (1, 3, 10)
ID_STRIDE = 10_000_000
LINEAR_SLACK = 3.0  # fixed overheads + noise; a true O(N²) path shows >> this

# VERDICT r9 item 3: the pair miners and ANN paths additionally run at x30
# (~sf3) — x10 still hides log-factors and bucket-occupancy effects; x30
# exposes slopes before a real cluster would.  Only these paths pay the
# extra build+measure cost, and the x30 corpus builds only the tables they
# read (documents + embeddings).
X30 = 30
X30_TABLES = ("documents", "embeddings")
X30_PATHS = {
    "q31_ngram_jaccard_pairs",
    "q32_minhash_lsh_pairs",
    "q38_jaccard_prefix_filter",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivf_distributed",
    "pq_refined_ann",
}

# absolute driver-row caps per probed path (documented code bounds + slack):
# ANN paths collect the broadcast query matrix (64 rows) and IVF's training
# sample (min(4096, N)); the pair miners collect nothing but one-row probes.
DRIVER_ROW_CAPS = {
    "q31_ngram_jaccard_pairs": 200,
    "q32_minhash_lsh_pairs": 200,
    "q38_jaccard_prefix_filter": 200,
    "q121_repeated_ngram_spans": 200,
    "q161_probabilistic_linkage": 200,
    "q135_geo_near_join": 200,
    # boilerplate collects nothing; hierarchy's per-level emptiness probes
    # are 0-row driver touches (isEmpty), its output is N rows but never
    # collected by the probe body
    "q188_boilerplate_removal": 200,
    "q189_hierarchy_rollup": 200,
    "ann_lsh_topk": 6000,
    "ann_ivf_topk": 6000,
    # q231's eval collect is the only driver state: 64 rows at every scale
    "semantic_decontaminate": 200,
    # q233 collects nothing: totals are an in-plan cross join, the ratio
    # table is a broadcast relation, output is the fixed top-50
    "dsir_selection": 200,
    # the LSH coarse quantizer collects nothing (one mapInPandas GEMM);
    # components' emptiness probes are 0-row driver touches
    "semdedup_prune": 200,
    # q213 additionally collects the corpus count (one row) for the plane
    # formula and the per-round convergence probes (limit(1) counts)
    "incremental_semdedup": 200,
    # q211's driver state is watermark rows + per-window boundary probes
    # (3 stages × ~30 one-day windows × 2 phases, a few rows each) — a
    # constant of the CHUNKING, independent of events-per-day
    "watermark_cascade": 1200,
    # the distributed IVF trainer's driver state is the CODEBOOK itself:
    # k seed vectors + <= k combine rows per Lloyd iteration + the 64-query
    # matrix; k = sqrt(N) ~ 245 at x30, so ~1.3k rows, corpus-blind in shape
    "ann_ivf_distributed": 6000,
    # PQ driver state is hyperparameter-sized, corpus-blind: the md5 init
    # (ksub=16 rows), dim×ksub=1024 mean cells per fit iteration ×2, the
    # dim probe (1), and the fixed 64-query matrix twice (ADC + re-rank)
    "pq_refined_ann": 4096,
}


def _perturb_tokens(text: str, k: int) -> str:
    if k == 0:
        return text
    toks = text.split(" ")
    return " ".join(
        f"{t}x{k}" if i % 3 == 0 else t for i, t in enumerate(toks)
    )


def build_scaled(work_dir: str, factor: int, tables: tuple[str, ...] | None = None) -> str:
    """Tile the sf0.1 tables by ``factor``.  ``tables=None`` builds all of
    them; a tuple builds only those (the x30 corpus builds just what its
    paths read — documents + embeddings — to bound build cost)."""
    out = f"{work_dir}/x{factor}"
    marker = "_DONE_v3" if tables is None else f"_DONE_v3_{'-'.join(sorted(tables))}"
    # a full build satisfies any subset request
    if os.path.isdir(out) and (
        os.path.exists(f"{out}/_DONE_v3") or os.path.exists(f"{out}/{marker}")
    ):
        return out
    os.makedirs(out, exist_ok=True)

    def wanted(name: str) -> bool:
        return tables is None or name in tables

    # orders — the storage-verb probes' base table (VERDICT r6 item 3):
    # keys offset per copy (custkeys follow the customer tiling) so keyed
    # MERGE/purge victims stay a constant FRACTION of the data
    if wanted("orders"):
        orders = pq.read_table(f"{SRC}/orders.parquet").to_pandas()
        parts = []
        for k in range(factor):
            c = orders.copy()
            c["o_orderkey"] = c["o_orderkey"] + k * ID_STRIDE
            c["o_custkey"] = c["o_custkey"] + k * ID_STRIDE
            parts.append(c)
        pq.write_table(
            pa.Table.from_pandas(pd.concat(parts, ignore_index=True), preserve_index=False),
            f"{out}/orders.parquet",
        )

    if wanted("documents"):
        docs = pq.read_table(f"{SRC}/documents.parquet").to_pandas()
        parts = []
        for k in range(factor):
            c = docs.copy()
            c["doc_id"] = c["doc_id"] + k * ID_STRIDE
            if k:
                c["text"] = [_perturb_tokens(t, k) for t in c["text"]]
                c["n_chars"] = c["text"].str.len()
            parts.append(c)
        pq.write_table(
            pa.Table.from_pandas(pd.concat(parts, ignore_index=True), preserve_index=False),
            f"{out}/documents.parquet",
        )

    if wanted("customer"):
        cust = pq.read_table(f"{SRC}/customer.parquet").to_pandas()
        parts = []
        for k in range(factor):
            c = cust.copy()
            c["c_custkey"] = c["c_custkey"] + k * ID_STRIDE
            if k:
                c["c_name"] = [f"Customer#{key % 10**9:09d}" for key in c["c_custkey"]]
            parts.append(c)
        pq.write_table(
            pa.Table.from_pandas(pd.concat(parts, ignore_index=True), preserve_index=False),
            f"{out}/customer.parquet",
        )

    if wanted("supplier"):
        supp = pq.read_table(f"{SRC}/supplier.parquet").to_pandas()
        parts = []
        for k in range(factor):
            c = supp.copy()
            c["s_suppkey"] = c["s_suppkey"] + k * ID_STRIDE
            parts.append(c)
        pq.write_table(
            pa.Table.from_pandas(pd.concat(parts, ignore_index=True), preserve_index=False),
            f"{out}/supplier.parquet",
        )

    if wanted("embeddings"):
        emb = pq.read_table(f"{SRC}/embeddings.parquet").to_pandas()
        parts = []
        for k in range(factor):
            c = emb.copy()
            c["vec_id"] = c["vec_id"] + k * ID_STRIDE
            if k:
                rng = np.random.RandomState(k)
                c["embedding"] = [
                    (np.asarray(v, dtype=np.float32)
                     * (1.0 + 0.05 * rng.standard_normal(len(v))).astype(np.float32))
                    for v in c["embedding"]
                ]
            parts.append(c)
        pq.write_table(
            pa.Table.from_pandas(pd.concat(parts, ignore_index=True), preserve_index=False),
            f"{out}/embeddings.parquet",
        )

    if not wanted("events"):
        open(f"{out}/{marker}", "w").close()
        return out

    ev = pq.read_table(f"{SRC}/events.parquet").to_pandas()
    parts = []
    for k in range(factor):
        c = ev.copy()
        c["event_id"] = c["event_id"] + k * ID_STRIDE
        # timestamps unchanged: ×k means ×k EVENTS PER DAY (a hotter
        # stream), so the cascade's day-window count stays constant and
        # each window job carries k× the rows — the realistic scale axis
        parts.append(c)
    pq.write_table(
        pa.Table.from_pandas(pd.concat(parts, ignore_index=True), preserve_index=False),
        f"{out}/events.parquet",
    )

    open(f"{out}/_DONE_v3", "w").close()
    return out


class CollectMeter:
    """Counts every row any DataFrame.collect() ships to the driver."""

    def __init__(self):
        # patch the CONCRETE class: in Spark 4 `pyspark.sql.DataFrame` is a
        # dispatch parent and classic instances override collect, so a
        # parent patch silently counts nothing
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # Spark < 4
            from pyspark.sql import DataFrame

        self.rows = 0
        self._cls = DataFrame
        self._orig = DataFrame.collect

    def __enter__(self):
        meter = self

        def patched(df):
            out = meter._orig(df)
            meter.rows += len(out)
            return out

        self._cls.collect = patched
        return self

    def __exit__(self, *exc):
        self._cls.collect = self._orig
        return False


def probed_paths(spark):
    """(name, fn(sf_dir) -> DataFrame) for every probed path."""
    from pyspark.sql import functions as F

    from python_async_sample_spark.operators.similarity import ivf_topk, lsh_topk
    from python_async_sample_spark.plans.registry import load_all
    from python_async_sample_spark.sources.readers import load_table

    specs = load_all()
    paths = [
        (n, (lambda n: lambda d: specs[n].fn(spark, d))(n))
        for n in (
            "q31_ngram_jaccard_pairs",
            "q32_minhash_lsh_pairs",
            "q38_jaccard_prefix_filter",
            "q121_repeated_ngram_spans",
            "q161_probabilistic_linkage",
            "q135_geo_near_join",
            # round-5 additions with pair-miner / closure shapes worth the
            # same scrutiny: the boilerplate shingle relation must stay
            # linear in tokens, the hierarchy closure Σdepth-sized
            "q188_boilerplate_removal",
            "q189_hierarchy_rollup",
        )
    ]

    def _ann(kernel):
        def run(sf_dir):
            emb = load_table(spark, sf_dir, "embeddings")
            # FIXED 64-query set regardless of corpus size — the scale
            # question is per-query cost vs corpus N
            queries = emb.where(F.col("vec_id") < 64)
            return kernel(emb, queries, "vec_id", "embedding", k=10)

        return run

    paths.append(("ann_lsh_topk", _ann(
        lambda e, q, i, v, k: lsh_topk(e, q, i, v, k=k, n_planes=6, dim=64))))
    paths.append(("ann_ivf_topk", _ann(
        # sqrt(N) auto cell sizing (VERDICT r7 item 5): fixed 32 cells made
        # the probed-cell scan linear in N (4.3x at x10 in round 7)
        lambda e, q, i, v, k: ivf_topk(e, q, i, v, k=k, n_centroids="auto"))))
    paths.append(("ann_ivf_distributed", _ann(
        # VERDICT r9 item 4: the distributed trainer keeps cells ∝ sqrt(N)
        # past the sampled trainer's 1024 cap — per-query scan must stay
        # sub-linear (O(n_probe·sqrt(N))) at x30 with codebook-sized
        # driver state
        lambda e, q, i, v, k: ivf_topk(
            e, q, i, v, k=k, n_centroids="auto", trainer="distributed",
            train_iters=3))))

    def _semdecon(sf_dir):
        # q231's operator at a FIXED 64-vector eval set regardless of
        # corpus size (benchmark suites don't grow with the corpus): one
        # broadcast-free GEMM pass over the corpus, so time must track
        # corpus N linearly and the ONLY driver state is the eval collect
        # (64 rows, capped at max_eval). Threshold lowered to 0.20 so the
        # flagged set stays non-empty on the jittered tiled copies.
        from python_async_sample_spark.operators.decontaminate import (
            semantic_contamination,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        ev = emb.where(F.col("vec_id") < 64)
        corpus = emb.where(F.col("vec_id") >= 64)
        return semantic_contamination(
            corpus, ev, "vec_id", "embedding", threshold=0.20
        )

    paths.append(("semantic_decontaminate", _semdecon))

    def _dsir(sf_dir):
        # q233: hashed-bigram DSIR selection. The gram explode + per-doc
        # bucket counts are token-proportional (the only wide shuffle);
        # the two distributions and the log-ratio table are 1024 fixed
        # rows broadcast back onto the counts — so time must track the
        # corpus linearly while output stays top-50 and the plan collects
        # NOTHING (totals ride an in-plan one-row cross join).
        from python_async_sample_spark.plans.registry import QUERIES, load_all

        if not QUERIES:
            load_all()
        return QUERIES["q233_dsir_selection"].fn(spark, sf_dir)

    paths.append(("dsir_selection", _dsir))

    def _semdedup(sf_dir):
        # Probes the REGISTERED q200 (round-6: the hyperplane-quantizer
        # face with planes ∝ log N was promoted from this probe to the
        # registry per VERDICT r5 item 3).  SemDeDup's scale contract is
        # constant expected block size — the quantizer is one linear GEMM
        # pass and within-block candidate pairs grow LINEARLY with the
        # corpus.  The previously-registered fixed-k k-means face (now
        # q212, the exactness twin) measured 25-30× time at 10× corpus
        # here: flat Lloyd's with k ∝ N is O(N·k·d) = quadratic, and
        # fixed k makes the pair mining O(N²/k).
        from python_async_sample_spark.plans.registry import QUERIES, load_all

        if not QUERIES:
            load_all()
        return QUERIES["q200_semdedup_prune"].fn(spark, sf_dir)

    paths.append(("semdedup_prune", _semdedup))

    def _incr_semdedup(sf_dir):
        # q213: the batch (1/4 of the corpus) grows WITH the corpus, but
        # per-bucket work is batch-rows x bucket-size — with the log-N
        # plane count holding bucket size constant, total time must track
        # the batch linearly, never history x history.
        from python_async_sample_spark.plans.registry import QUERIES, load_all

        if not QUERIES:
            load_all()
        return QUERIES["q213_incremental_semdedup"].fn(spark, sf_dir)

    paths.append(("incremental_semdedup", _incr_semdedup))

    def _cascade(sf_dir):
        # q211: the three-stage watermark cascade over a ×k-hotter event
        # stream (same day-window count, k× rows per window job).  The
        # incremental family's probe: wall must track the data linearly —
        # per-window fixed costs (watermark reads, delete-then-insert
        # swaps, 3 stages × ~30 windows × 2 phases of driver-issued jobs)
        # dominate at ×1, so slack well under 1 is expected; driver rows
        # stay O(watermarks), never O(events).
        from python_async_sample_spark.plans.registry import QUERIES, load_all

        if not QUERIES:
            load_all()
        return QUERIES["q211_watermark_cascade"].fn(spark, sf_dir)

    paths.append(("watermark_cascade", _cascade))

    def _pq(sf_dir):
        # q223's components with the probe's FIXED 64-query set: fit is
        # iters corpus scans (linear), encode one scan (linear), ADC one
        # codes scan emitting <= k per (query, batch), re-rank a bounded
        # Q × shortlist point-lookup — total time must track the corpus
        # linearly and driver rows stay hyperparameter-sized.
        from python_async_sample_spark.operators.pq import (
            pq_encode, pq_fit, pq_topk_refined,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.where(F.col("vec_id") < 64)
        cbs = pq_fit(emb, "vec_id", "embedding", m=8, ksub=16, iters=2)
        codes = pq_encode(emb, "vec_id", "embedding", cbs)
        # shortlist mirrors q223's k_factor=40 (round-8 recall-floor raise)
        return pq_topk_refined(codes, queries, cbs, emb, k=10, shortlist=400)

    paths.append(("pq_refined_ann", _pq))
    return paths


# ---------------------------------------------------------------------------
# Storage verbs (VERDICT r6 item 3): MERGE INTO, relation-keyed purge,
# RESTORE+vacuum, and the two-table atomic catalog commit.  File count is
# HELD FIXED (16) while data scales ×10, so the O(files) contract shows as
# FLAT driver rows (the caps below are absolute) while wall time tracks the
# data linearly (setup create_table dominates — it writes the whole table).
# ---------------------------------------------------------------------------

VERB_SCALES = (1, 10)
VERB_N_FILES = 16
# absolute driver-row caps: planning is manifest JSON (no Spark collect);
# the counted collects are the merge guard's 3-scalar aggregate, the range
# join's <= n_files hit names, purge's 1-row count+checksum aggregate, and
# emptiness/first probes — all O(files)+O(1), data-independent
VERB_DRIVER_ROW_CAPS = {
    "merge_into": 200,
    "purge_relation": 200,
    "restore_vacuum": 100,
    "catalog_atomic_pair": 400,
    # the streaming CDC source plans from manifest JSON (no collects);
    # the drain's foreachBatch counts rows via one scalar agg per batch
    "cdc_stream_drain": 200,
    # round-8 verbs (VERDICT r7 item 6): delete_relation plans via the
    # same range join as MERGE (victims never collected), clone_table is
    # pure os.link O(files) with zero Spark collects, drop_column is a
    # metadata-only commit, and the vacuum-pressure CDC drain counts one
    # scalar per batch
    "delete_relation": 200,
    "clone_diverge": 100,
    "drop_column": 100,
    "cdc_drain_vacuum": 200,
}


def probed_verbs(spark):
    import tempfile

    from pyspark.sql import functions as F

    from python_async_sample_spark.sources import catalog as cat
    from python_async_sample_spark.sources.readers import load_table
    from python_async_sample_spark.sources.versioned import (
        append_versioned,
        create_table,
        current_version,
        merge_into_versioned,
        purge_relation,
        read_version,
        restore_version,
        table_versions,
        vacuum,
    )

    def fresh_root(tag: str) -> str:
        return tempfile.mkdtemp(prefix=f"spark_graft_verb_{tag}_") + "/t"

    def merge_verb(sf_dir):
        orders = load_table(spark, sf_dir, "orders")
        root = fresh_root("merge")
        create_table(spark, root, orders, n_files=VERB_N_FILES,
                     layout_col="o_orderkey")
        upd = orders.where(F.col("o_orderkey") % 101 == 0).withColumn(
            "o_orderstatus", F.lit("M"))
        res = merge_into_versioned(spark, root, upd, "o_orderkey")
        assert res["upserted_rows"] > 0
        return {"rows": res["upserted_rows"]}

    def purge_verb(sf_dir):
        orders = load_table(spark, sf_dir, "orders")
        root = fresh_root("purge")
        create_table(spark, root, orders, n_files=VERB_N_FILES,
                     layout_col="o_orderkey")
        upd = orders.where(F.col("o_orderkey") % 97 == 0).withColumn(
            "o_orderstatus", F.lit("M"))
        merge_into_versioned(spark, root, upd, "o_orderkey")
        victims = orders.where(F.col("o_orderkey") % 211 == 0).select("o_orderkey")
        res = purge_relation(spark, root, "o_orderkey", victims)
        assert res["victim_keys"] > 0 and res["manifests_updated"] >= 1
        return {"rows": res["victim_keys"]}

    def restore_vacuum_verb(sf_dir):
        orders = load_table(spark, sf_dir, "orders")
        root = fresh_root("restore")
        create_table(spark, root, orders, n_files=VERB_N_FILES,
                     layout_col="o_orderkey")
        n0 = read_version(spark, root, 0).count()
        append_versioned(spark, root, orders.limit(1000), n_files=1)
        restore_version(spark, root, 0)  # metadata-only rollback
        vacuum(root, keep_last=len(table_versions(root)), grace_seconds=0)
        assert read_version(spark, root, current_version(root)).count() == n0
        return {"rows": n0}

    def catalog_verb(sf_dir):
        orders = load_table(spark, sf_dir, "orders")
        hdr_root, det_root = fresh_root("hdr"), fresh_root("det")
        cat_root = tempfile.mkdtemp(prefix="spark_graft_verb_cat_") + "/c"
        hdr = orders.select("o_orderkey", "o_orderstatus")
        det = orders.select("o_orderkey", F.col("o_totalprice").alias("price"))
        create_table(spark, hdr_root, hdr, n_files=VERB_N_FILES,
                     layout_col="o_orderkey")
        create_table(spark, det_root, det, n_files=VERB_N_FILES,
                     layout_col="o_orderkey")
        cat.catalog_create(cat_root, {"hdr": hdr_root, "det": det_root})
        upd_h = hdr.where(F.col("o_orderkey") % 97 == 0).withColumn(
            "o_orderstatus", F.lit("M"))
        upd_d = det.where(F.col("o_orderkey") % 97 == 0).withColumn(
            "price", F.col("price") + F.lit(1.0))
        r1 = merge_into_versioned(spark, hdr_root, upd_h, "o_orderkey")
        r2 = merge_into_versioned(spark, det_root, upd_d, "o_orderkey")
        cat.catalog_commit(cat_root, {
            "hdr": current_version(hdr_root), "det": current_version(det_root),
        })
        return {"rows": r1["upserted_rows"] + r2["upserted_rows"]}

    def cdc_stream_verb(sf_dir):
        from python_async_sample_spark.streaming.cdc_source import (
            VersionedCDCDataSource,
        )

        orders = load_table(spark, sf_dir, "orders")
        root = fresh_root("cdc")
        create_table(spark, root, orders, n_files=VERB_N_FILES,
                     layout_col="o_orderkey")
        upd = orders.where(F.col("o_orderkey") % 97 == 0).withColumn(
            "o_orderstatus", F.lit("M"))
        merge_into_versioned(spark, root, upd, "o_orderkey")
        spark.dataSource.register(VersionedCDCDataSource)
        seen = []

        def count_batch(b, _e):
            seen.append(b.count())

        q = (
            spark.readStream.format("versioned_cdc").option("path", root).load()
            .writeStream.foreachBatch(count_batch)
            .option("checkpointLocation", f"{root}_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n = sum(seen)
        assert n >= orders.count()  # v0 inserts + the merge's file deltas
        return {"rows": n}

    def delete_relation_verb(sf_dir):
        from python_async_sample_spark.sources.versioned import delete_relation

        orders = load_table(spark, sf_dir, "orders")
        root = fresh_root("delrel")
        create_table(spark, root, orders, n_files=VERB_N_FILES,
                     layout_col="o_orderkey")
        victims = orders.where(F.col("o_orderkey") % 211 == 0).select("o_orderkey")
        res = delete_relation(spark, root, "o_orderkey", victims)
        assert res["deleted_rows"] > 0
        # head-only: history (v0) keeps the victims
        assert read_version(spark, root, 0).count() == orders.count()
        return {"rows": res["deleted_rows"]}

    def clone_verb(sf_dir):
        from python_async_sample_spark.sources.versioned import clone_table

        orders = load_table(spark, sf_dir, "orders")
        src = fresh_root("clone_src")
        dst = fresh_root("clone_dst")
        create_table(spark, src, orders, n_files=VERB_N_FILES,
                     layout_col="o_orderkey")
        upd = orders.where(F.col("o_orderkey") % 101 == 0).withColumn(
            "o_orderstatus", F.lit("M"))
        merge_into_versioned(spark, src, upd, "o_orderkey")      # src v1
        clone_table(src, dst)                                    # dst v0 = src v1
        # diverge the SOURCE after the clone: the clone must not move
        merge_into_versioned(
            spark, src,
            orders.where(F.col("o_orderkey") % 103 == 0).withColumn(
                "o_orderstatus", F.lit("X")), "o_orderkey",
        )
        n = read_version(spark, dst, 0).count()
        assert n == orders.count()
        # the clone must pin src@HEAD (v1, which HAS the 'M' updates) —
        # a clone wrongly pinned at v0 matches on count alone
        assert read_version(spark, dst, 0).where("o_orderstatus = 'M'").count() > 0
        assert read_version(spark, dst, 0).where("o_orderstatus = 'X'").count() == 0
        return {"rows": n}

    def drop_column_verb(sf_dir):
        from python_async_sample_spark.sources.versioned import drop_column

        orders = load_table(spark, sf_dir, "orders")
        root = fresh_root("drop")
        create_table(spark, root, orders, n_files=VERB_N_FILES,
                     layout_col="o_orderkey")
        drop_column(spark, root, "o_orderpriority")              # O(1) commit
        append_versioned(
            spark, root,
            read_version(spark, root, 1).limit(1000), n_files=1,
        )
        head = read_version(spark, root, current_version(root))
        assert "o_orderpriority" not in head.columns
        # travel: the pre-drop version still serves the column
        assert "o_orderpriority" in read_version(spark, root, 0).columns
        return {"rows": head.count()}

    def cdc_vacuum_verb(sf_dir):
        """q222's drain UNDER VACUUM PRESSURE: the checkpointed stream
        consumes v0+v1, a vacuum reclaims everything BEFORE its committed
        offset (keep_last=2 retains v1+v2: the offset manifest is the
        delta BASE partitions() diffs against, so keep_last=1 correctly
        fails the resume loudly — this probe's first run proved that),
        and the RESUMED drain must still deliver v2's delta. The
        vacuumed-file loud-failure path is pinned in
        tests/test_cdc_source.py."""
        from python_async_sample_spark.streaming.cdc_source import (
            VersionedCDCDataSource,
        )

        orders = load_table(spark, sf_dir, "orders")
        root = fresh_root("cdcvac")
        create_table(spark, root, orders, n_files=VERB_N_FILES,
                     layout_col="o_orderkey")
        merge_into_versioned(
            spark, root,
            orders.where(F.col("o_orderkey") % 97 == 0).withColumn(
                "o_orderstatus", F.lit("M")), "o_orderkey",
        )                                                        # v1
        spark.dataSource.register(VersionedCDCDataSource)
        seen = []

        def count_batch(b, _e):
            seen.append(b.count())

        def drain():
            q = (
                spark.readStream.format("versioned_cdc").option("path", root)
                .load()
                .writeStream.foreachBatch(count_batch)
                .option("checkpointLocation", f"{root}_ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()                                                  # v0+v1 consumed
        first = sum(seen)
        merge_into_versioned(
            spark, root,
            orders.where(F.col("o_orderkey") % 89 == 0).withColumn(
                "o_orderstatus", F.lit("X")), "o_orderkey",
        )                                                        # v2
        vacuum(root, keep_last=2, grace_seconds=0)               # v0 reclaimed
        drain()                                                  # must still work
        n = sum(seen)
        assert first >= orders.count()  # v0 inserts + v1's file delta
        # the RESUMED drain specifically must deliver v2's delta — an
        # offset mishandled under vacuum (empty second drain) must FAIL
        # here, not hide inside the first drain's volume
        assert n > first, (first, n)
        return {"rows": n}

    return [
        ("merge_into", merge_verb),
        ("purge_relation", purge_verb),
        ("restore_vacuum", restore_vacuum_verb),
        ("catalog_atomic_pair", catalog_verb),
        ("cdc_stream_drain", cdc_stream_verb),
        ("delete_relation", delete_relation_verb),
        ("clone_diverge", clone_verb),
        ("drop_column", drop_column_verb),
        ("cdc_drain_vacuum", cdc_vacuum_verb),
    ]


# ---------------------------------------------------------------------------
# Rows-only error contracts (VERDICT r6 item 8): the no-oracle queries
# carry their bounds as IN-PLAN guards (recall floors, sketch error bands,
# completeness poisons) that fire under count() — running each on the ×10
# corpus makes a scale-induced degradation POISON the probe instead of
# passing silently.  The count-min reports q142/q165 have a DuckDB oracle
# now but keep their never-underestimate guard, so they stay probed.  Two structural exceptions carry no runtime guard and
# are documented in SCALE.md's notes instead:
#   q33_simhash_near_pairs — 4×16-bit chunk blocking is pigeonhole-complete
#     at d≤3 BY CONSTRUCTION at any N (and the oracled twin q187 hash-pins
#     the same kernel), so scale cannot change its bound, only its cost;
#   q144_pca_spectrum — the eigen-decomposition runs on the d×d (64×64)
#     Gram matrix, whose size is corpus-independent; scale changes only the
#     one linear Gram pass.
# ---------------------------------------------------------------------------

ROWS_ONLY_SCALES = (1, 10)
ROWS_ONLY_DRIVER_ROW_CAPS = {
    # sketch queries collect fixed-size register/cell relations (HLL m=512
    # registers, CMS w·d cells, quantile histogram bins) — corpus-blind
    "q91_approx_quantiles": 2000,
    "q142_cms_heavy_hitters": 6000,
    "q155_hll_rolling_distinct": 4000,
    "q164_audience_overlap_hll": 4000,
    "q165_stream_cms_heavy_hitters": 6000,
    "q63_approx_distinct_users": 2000,
    # ANN faces: 64-query broadcast matrix + IVF's min(4096, N) training
    # sample
    "q36_ann_lsh_topk": 6000,
    "q37_ann_ivf_topk": 6000,
    # pair miners: one-row probes only
    "q33_simhash_near_pairs": 200,
    "q87_media_phash_pairs": 200,
    # PCA collects its bounded min(4096, N) basis-fit sample (same
    # absolute bound as IVF's training sample) + the 64-row spectrum
    "q144_pca_spectrum": 6000,
}


def probed_rows_only(spark):
    from python_async_sample_spark.plans.registry import load_all

    specs = load_all()
    return [
        (n, (lambda n: lambda d: specs[n].fn(spark, d))(n))
        for n in ROWS_ONLY_DRIVER_ROW_CAPS
    ]


def main() -> int:
    work_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_scale"
    os.makedirs(work_dir, exist_ok=True)

    from python_async_sample_spark.session import get_spark

    spark = get_spark(app_name="scale_probe")
    dirs = {f: build_scaled(work_dir, f) for f in SCALES}
    dirs[X30] = build_scaled(work_dir, X30, X30_TABLES)
    print(f"scaled corpora ready under {work_dir}", flush=True)

    results: dict[str, dict[int, dict]] = {}
    paths = probed_paths(spark)
    # warm the codegen/session once on the smallest scale
    for name, fn in paths:
        fn(dirs[SCALES[0]]).write.format("noop").mode("overwrite").save()
    # PATH-major: each path's three scale measurements run back-to-back so
    # they share comparable session state (codegen cache, driver heap).
    # Factor-major measured one path's ×10 right after ANOTHER path's ×3
    # plans had bloated the JVM — q121's ×10 read 6× slower than the same
    # query on a quiet session, flagging a phantom superlinearity.
    for name, fn in paths:
        scales = SCALES + ((X30,) if name in X30_PATHS else ())
        for factor in scales:
            with CollectMeter() as meter:
                t0 = time.time()
                df = fn(dirs[factor])
                n_out = df.count()
                dt = time.time() - t0
            results.setdefault(name, {})[factor] = {
                "rows": n_out, "sec": dt, "driver_rows": meter.rows,
            }
            print(f"x{factor} {name}: {n_out} rows {dt:.1f}s "
                  f"driver={meter.rows}", flush=True)

    # storage verbs: O(files) driver contract (files fixed, data ×10)
    verb_results: dict[str, dict[int, dict]] = {}
    for name, fn in probed_verbs(spark):
        for factor in VERB_SCALES:
            with CollectMeter() as meter:
                t0 = time.time()
                out = fn(dirs[factor])
                dt = time.time() - t0
            verb_results.setdefault(name, {})[factor] = {
                "rows": out["rows"], "sec": dt, "driver_rows": meter.rows,
            }
            print(f"x{factor} verb {name}: {out['rows']} rows {dt:.1f}s "
                  f"driver={meter.rows}", flush=True)

    # rows-only error contracts: count() fires the in-plan guards at ×10
    ro_results: dict[str, dict[int, dict]] = {}
    for name, fn in probed_rows_only(spark):
        for factor in ROWS_ONLY_SCALES:
            with CollectMeter() as meter:
                t0 = time.time()
                n_out = fn(dirs[factor]).count()
                dt = time.time() - t0
            ro_results.setdefault(name, {})[factor] = {
                "rows": n_out, "sec": dt, "driver_rows": meter.rows,
            }
            print(f"x{factor} rows-only {name}: {n_out} rows {dt:.1f}s "
                  f"driver={meter.rows}", flush=True)

    lo, hi = SCALES[0], SCALES[-1]
    failures = []
    lines = [
        "# SCALE — pair-miner / ANN growth probe (generated by scripts/scale_probe.py)",
        "",
        f"Corpora: sf0.1 tiled ×{list(SCALES)} with per-copy perturbation "
        "(constant true-pair density per row; see the script docstring). "
        f"Top scale ≈ sf1.0 — documents ×{hi}, customers ×{hi}, embeddings "
        f"×{hi}, events ×{hi} (timestamps unchanged: a {hi}×-hotter stream, "
        "same day-window count).",
        "",
        "| path | scale | output rows | seconds | driver rows |",
        "|---|---|---|---|---|",
    ]
    for name, by_scale in results.items():
        for factor in sorted(by_scale):
            r = by_scale[factor]
            lines.append(
                f"| {name} | ×{factor} | {r['rows']} | {r['sec']:.1f} | {r['driver_rows']} |"
            )
    lines += ["", "## Growth (×1 → ×10)", "",
              "| path | candidate growth | time growth | time/candidate slack | driver-rows cap (max seen) | verdict |",
              "|---|---|---|---|---|---|"]
    for name, by_scale in results.items():
        cand_g = max(1.0, by_scale[hi]["rows"] / max(1, by_scale[lo]["rows"]))
        # a path's honest work floor is max(candidates, corpus): reading N
        # rows is linear in N even when qualifying pairs stay constant
        work_g = max(cand_g, hi / lo)
        time_g = by_scale[hi]["sec"] / max(1e-9, by_scale[lo]["sec"])
        slack = time_g / work_g
        max_driver = max(by_scale[f]["driver_rows"] for f in by_scale)
        cap = DRIVER_ROW_CAPS[name]
        ok_time = time_g <= LINEAR_SLACK * work_g
        ok_driver = max_driver <= cap
        verdict = "OK" if (ok_time and ok_driver) else "FAIL"
        if not ok_time:
            failures.append(
                f"{name}: time grew {time_g:.1f}× vs work growth {work_g:.1f}× "
                f"(slack {slack:.2f} > {LINEAR_SLACK})"
            )
        if not ok_driver:
            failures.append(
                f"{name}: driver rows {max_driver} exceed cap {cap}"
            )
        lines.append(
            f"| {name} | {cand_g:.1f}× | {time_g:.1f}× | {slack:.2f} | "
            f"{max_driver} ≤ {cap} | {verdict} |"
        )

    # ---- x30 frontier (VERDICT r9 item 3): the marginal x10 -> x30 slope
    # is where log-factors and bucket-occupancy effects first show; each
    # path's marginal time growth must stay within LINEAR_SLACK of its
    # marginal work growth (max of candidate growth and the 3x data step).
    lines += ["", "## ×10 → ×30 frontier (pair miners + ANN; VERDICT r9 item 3)", "",
              "Marginal slope over the last tripling: sec/row slopes flatten",
              "if the path is truly linear, and bucket-occupancy or log-factor",
              "growth shows here before it would on a real cluster. Driver",
              "rows may grow only with the CODEBOOK (sqrt N), never the corpus.",
              "",
              "| path | ×10 sec | ×30 sec | marginal time | marginal work | slope | driver rows ×30 | verdict |",
              "|---|---|---|---|---|---|---|---|"]
    for name, by_scale in results.items():
        if X30 not in by_scale:
            continue
        r10, r30 = by_scale[hi], by_scale[X30]
        cand_m = max(1.0, r30["rows"] / max(1, r10["rows"]))
        work_m = max(cand_m, X30 / hi)
        time_m = r30["sec"] / max(1e-9, r10["sec"])
        slope = time_m / work_m
        ok = time_m <= LINEAR_SLACK * work_m and r30["driver_rows"] <= DRIVER_ROW_CAPS[name]
        if not ok:
            failures.append(
                f"x30 {name}: marginal time {time_m:.1f}× vs work {work_m:.1f}× "
                f"(slope {slope:.2f}) driver={r30['driver_rows']}"
            )
        lines.append(
            f"| {name} | {r10['sec']:.1f} | {r30['sec']:.1f} | {time_m:.1f}× | "
            f"{work_m:.1f}× | {slope:.2f} | {r30['driver_rows']} | "
            f"{'OK' if ok else 'FAIL'} |"
        )
    vlo, vhi = VERB_SCALES[0], VERB_SCALES[-1]
    lines += [
        "",
        "## Storage verbs (×1 → ×10, file count FIXED at "
        f"{VERB_N_FILES} — VERDICT r6 item 3)",
        "",
        "Driver-resident planning state must be O(files): with files held",
        "fixed while data grows ×10, driver rows must stay FLAT under an",
        "absolute cap (merge guard = 3 scalars, range-join = hit file names,",
        "purge fingerprint = 1 row, catalog/restore = manifest JSON, no",
        "collects). Wall time tracks the data (setup writes the table).",
        "",
        "| verb | scale | affected rows | seconds | driver rows ≤ cap | verdict |",
        "|---|---|---|---|---|---|",
    ]
    for name, by_scale in verb_results.items():
        cap = VERB_DRIVER_ROW_CAPS[name]
        time_g = by_scale[vhi]["sec"] / max(1e-9, by_scale[vlo]["sec"])
        ok_time = time_g <= LINEAR_SLACK * (vhi / vlo)
        max_driver = max(by_scale[f]["driver_rows"] for f in VERB_SCALES)
        ok_driver = max_driver <= cap
        if not ok_time:
            failures.append(
                f"verb {name}: time grew {time_g:.1f}× vs ×{vhi // vlo} data "
                f"(> {LINEAR_SLACK}× linear)"
            )
        if not ok_driver:
            failures.append(
                f"verb {name}: driver rows {max_driver} exceed cap {cap} "
                "— planning state is no longer O(files)"
            )
        verdict = "OK" if (ok_time and ok_driver) else "FAIL"
        for factor in VERB_SCALES:
            r = by_scale[factor]
            lines.append(
                f"| {name} | ×{factor} | {r['rows']} | {r['sec']:.1f} | "
                f"{r['driver_rows']} ≤ {cap} | {verdict if factor == vhi else ''} |"
            )

    rlo, rhi = ROWS_ONLY_SCALES[0], ROWS_ONLY_SCALES[-1]
    lines += [
        "",
        "## Rows-only error contracts (×1 → ×10 — VERDICT r6 item 8)",
        "",
        "Each no-oracle query carries its bound as an IN-PLAN guard (recall",
        "floor, sketch error band, completeness poison) that fires under the",
        "probe's count() — a scale-induced degradation FAILS this probe",
        "instead of passing silently. Driver rows are the code's documented",
        "fixed-size collects (sketch registers/cells, the 64-query ANN",
        "matrix + IVF's min(4096, N) training sample).",
        "",
        "Structural exceptions (no runtime guard, bound scale-independent by",
        "construction): q33_simhash_near_pairs — 4×16-bit chunk blocking is",
        "pigeonhole-complete at d≤3 at ANY corpus size, and the oracled twin",
        "q187 hash-pins the same kernel; q144_pca_spectrum — the eigensolve",
        "runs on the corpus-independent 64×64 Gram matrix, scale changes only",
        "the one linear Gram pass. Both still run here so their linear-time",
        "and driver-cap envelopes are pinned.",
        "",
        "| query | scale | output rows | seconds | driver rows ≤ cap | verdict |",
        "|---|---|---|---|---|---|",
    ]
    for name, by_scale in ro_results.items():
        cap = ROWS_ONLY_DRIVER_ROW_CAPS[name]
        cand_g = max(1.0, by_scale[rhi]["rows"] / max(1, by_scale[rlo]["rows"]))
        work_g = max(cand_g, rhi / rlo)
        time_g = by_scale[rhi]["sec"] / max(1e-9, by_scale[rlo]["sec"])
        ok_time = time_g <= LINEAR_SLACK * work_g
        max_driver = max(by_scale[f]["driver_rows"] for f in ROWS_ONLY_SCALES)
        ok_driver = max_driver <= cap
        if not ok_time:
            failures.append(
                f"rows-only {name}: time grew {time_g:.1f}× vs work growth "
                f"{work_g:.1f}× (> {LINEAR_SLACK}× linear)"
            )
        if not ok_driver:
            failures.append(
                f"rows-only {name}: driver rows {max_driver} exceed cap {cap}"
            )
        verdict = "OK" if (ok_time and ok_driver) else "FAIL"
        for factor in ROWS_ONLY_SCALES:
            r = by_scale[factor]
            lines.append(
                f"| {name} | ×{factor} | {r['rows']} | {r['sec']:.1f} | "
                f"{r['driver_rows']} ≤ {cap} | {verdict if factor == rhi else ''} |"
            )

    lines += [
        "",
        "Interpretation: `time/candidate slack` ≈ 1 means wall time tracks the",
        "path's honest work (max of candidate volume and corpus size); a",
        "quadratic-in-N path with constant candidates would show slack ≈ N-growth",
        f"(×{hi // lo}). q135's candidates legitimately grow superlinearly (fixed",
        "coordinate space ⇒ density ∝ N on both sides), so its time is held to",
        "its candidate curve. Driver rows are absolute caps, scale-independent:",
        "the ANN paths collect only the 64-query broadcast matrix + IVF's",
        "min(4096, N) training sample; the miners collect one-row probes.",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SCALE.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    if failures:
        print("\nFAILURES:\n" + "\n".join(failures), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
