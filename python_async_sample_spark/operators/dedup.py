"""Deduplication operators for the training-data-pipeline surface.

Beyond the reference's own inventory (BASELINE.json north star): exact
content-hash dedup, n-gram Jaccard, MinHash+LSH banding, and SimHash — each
designed for the 100 TB posture:

* shingling/hashing is pure built-in expressions (JVM, codegen) — no Python
  in the hot path;
* the only shuffles are the groupBys on (doc) and (band, bucket); LSH
  candidate generation never goes quadratic — the pairwise verify runs
  only within buckets;
* MD5 is used for content keys because every engine computes the same hex
  (portable to the DuckDB oracle); xxhash64 (seeded) drives MinHash because
  it is cheap and native in Spark.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_async_sample_spark.operators.text import fan_out_small

# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def content_key(text_col: str, prefix_tokens: int | None = None) -> F.Column:
    """MD5 content key; optionally over only the first N tokens (prefix
    dedup catches near-identical heads)."""
    col = F.col(text_col)
    if prefix_tokens is not None:
        col = F.concat_ws(" ", F.slice(F.split(col, " "), 1, prefix_tokens))
    return F.md5(col)


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, prefix_tokens: int | None = None
) -> DataFrame:
    """One row per distinct content key: representative = min(id), plus the
    duplicate count. A single hash-partitioned groupBy; no data is compared
    pairwise."""
    return (
        df.withColumn("content_key", content_key(text_col, prefix_tokens))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def with_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows: distinct word n-grams per document. Built-ins
    only: split → sequence → transform → explode."""
    words = F.split(F.col(text_col), " ")
    # guard: sequence(0, -1) would count *down* in Spark, so short docs get
    # an explicitly empty gram list
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col).alias("doc"), F.explode(grams).alias("shingle"))
        .where(F.length("shingle") > 0)
        .distinct()
    )


def shingle_index(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """The (id, shingle) index, materialized once (eager localCheckpoint).

    Every similarity pipeline consumes the shingled relation 3+ times (doc
    sizes, both join sides, MinHash signatures); without materialization
    Spark re-runs the split→explode→distinct lineage per consumer — measured
    ~5× the whole query's cost at sf0.1. At warehouse scale this is the
    shingle index you would persist as a table; in-session,
    ``localCheckpoint`` stores the computed partitions on the executors and
    truncates lineage.

    A small source (fewer input splits than cores — e.g. one parquet file)
    is fanned out before the explode so shingling parallelizes; at real
    scale the scan already has more splits than cores and no shuffle is
    added."""
    return with_shingles(fan_out_small(df), id_col, text_col, n).localCheckpoint(eager=True)


def jaccard_pairs(
    shingled: DataFrame, threshold: float, candidates: DataFrame | None = None
) -> DataFrame:
    """Exact n-gram Jaccard over document pairs.

    Without ``candidates`` this self-joins on shingle (inverted-index join —
    only documents sharing a shingle ever meet, never a full cross product).
    With ``candidates`` (d1, d2) — the LSH path — intersections are computed
    ONLY for those pairs: candidates × d1-shingles, then a keyed join against
    d2-shingles. At corpus scale that is the whole point of LSH: the verify
    cost is Σ|shingles(candidate docs)|, not the inverted-index blowup over
    every co-occurring pair. Returns (d1, d2, jaccard) with d1 < d2.
    """
    sizes = shingled.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    if candidates is None:
        a = shingled.alias("a")
        b = shingled.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .agg(F.count(F.lit(1)).alias("i"))
        )
    else:
        a = shingled.toDF("d1", "shingle")
        b = shingled.toDF("d2", "shingle")
        inter = (
            candidates.join(a, "d1")
            .join(b, ["d2", "shingle"])
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("i"))
        )
    s1 = sizes.select(F.col("doc").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc").alias("d2"), F.col("sz").alias("sz2"))
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("jaccard", F.col("i") / (F.col("sz1") + F.col("sz2") - F.col("i")))
        .where(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def jaccard_pairs_prefix(shingled: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard pairs with positional prefix filtering (PPJoin-style).

    The inverted-index self-join indexes EVERY shingle; prefix filtering
    indexes only each document's ``|d| − ⌈t·|d|⌉ + 1`` globally-rarest
    shingles. Soundness: any pair with J ≥ t has overlap ≥ ⌈t·max(|d1|,|d2|)⌉
    and min ≥ t·max (length filter), so the two sorted shingle lists must
    collide inside those prefixes — no false negatives, while frequent
    shingles (the quadratic blowup at corpus scale) never enter the index.
    Candidates then go through the same exact-verify join as the LSH path.
    """
    from pyspark.sql.window import Window as W

    freq = shingled.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    sizes = shingled.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    ranked = (
        shingled.join(freq, "shingle")
        .withColumn(
            "pos",
            F.row_number().over(W.partitionBy("doc").orderBy("df_", "shingle")),
        )
        .join(sizes, "doc")
    )
    prefix = ranked.where(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("doc", "shingle", "sz")
    a = prefix.select(F.col("doc").alias("d1"), "shingle", F.col("sz").alias("sz1"))
    b = prefix.select(F.col("doc").alias("d2"), "shingle", F.col("sz").alias("sz2"))
    cands = (
        a.join(b, "shingle")
        .where(
            (F.col("d1") < F.col("d2"))
            & (
                F.least("sz1", "sz2")
                >= F.lit(threshold) * F.greatest("sz1", "sz2")
            )
        )
        .select("d1", "d2")
        .distinct()
    )
    return jaccard_pairs(shingled, threshold, candidates=cands)


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(shingled: DataFrame, num_hashes: int = 64) -> DataFrame:
    """Per-doc MinHash signature: min over seeded xxhash64 per hash slot.

    One groupBy with ``num_hashes`` min-aggregates — all JVM-side; the seed
    rides as an extra hash input, which is equivalent to a hash family.
    """
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(seed))).alias(f"h{seed}")
        for seed in range(num_hashes)
    ]
    return shingled.groupBy("doc").agg(*aggs)


def band_index(signatures: DataFrame, bands: int = 16, rows: int = 4) -> DataFrame:
    """(doc, band, bucket) LSH band index of a MinHash signature relation —
    the relation a warehouse PERSISTS for incremental dedup: new batches
    join their bands against this index instead of re-mining history."""
    band_cols = [
        F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)]).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = signatures.select("doc", *band_cols)
    return banded.select(
        "doc",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket")) for b in range(bands)])
        ).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def incremental_lsh_candidates(
    batch_index: DataFrame, history_index: DataFrame
) -> DataFrame:
    """Candidate pairs for a NEW batch against an existing banded corpus:
    batch-vs-history (join on the persisted band index — history pairs are
    never re-mined) plus batch-internal (self-join). Returns distinct
    (d1, d2), d1 < d2; every pair touches the batch by construction."""
    b = batch_index.alias("b")
    h = history_index.alias("h")
    vs_history = b.join(
        h,
        (F.col("b.band") == F.col("h.band"))
        & (F.col("b.bucket") == F.col("h.bucket"))
        # a doc present in BOTH indexes (re-ingest) must not pair with
        # itself — least/greatest would emit (d, d), a jaccard-1.0
        # "duplicate" that makes a keep-the-other consumer drop a unique doc
        & (F.col("b.doc") != F.col("h.doc")),
    ).select(
        F.least(F.col("b.doc"), F.col("h.doc")).alias("d1"),
        F.greatest(F.col("b.doc"), F.col("h.doc")).alias("d2"),
    )
    b2 = batch_index.alias("b2")
    internal = b.join(
        b2,
        (F.col("b.band") == F.col("b2.band"))
        & (F.col("b.bucket") == F.col("b2.bucket"))
        & (F.col("b.doc") < F.col("b2.doc")),
    ).select(F.col("b.doc").alias("d1"), F.col("b2.doc").alias("d2"))
    return vs_history.unionByName(internal).distinct()


def lsh_candidates(signatures: DataFrame, bands: int = 16, rows: int = 4) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any band bucket are
    candidates. Returns distinct (d1, d2), d1 < d2.

    For Jaccard j, detect probability is 1 − (1 − j^rows)^bands — at the
    default 16×4, j ≥ 0.9 is caught with P > 1 − 4e-8 while j ≤ 0.3 pairs
    are overwhelmingly filtered out before any pairwise work.
    """
    stacked = band_index(signatures, bands, rows)
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band → candidate
    → exact-Jaccard verify. The verify bounds false positives to zero, so
    the result equals exact Jaccard pairs minus (vanishingly unlikely at the
    threshold) LSH recall misses. Pass ``shingled`` to reuse an already
    materialized (doc, shingle) index."""
    rows = num_hashes // bands
    if shingled is None:
        shingled = shingle_index(df, id_col, text_col, n)
    cands = lsh_candidates(minhash_signatures(shingled, num_hashes), bands, rows)
    return jaccard_pairs(shingled, threshold, candidates=cands)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_hash: Callable[[Column], Column],
    bits: int,
) -> DataFrame:
    """The ONE SimHash vote-and-pack kernel: (id, simhash) with the low
    ``bits`` bits of ``token_hash(tok)`` voting — entirely JVM-side.

    Distinct tokens explode to one row each and are hashed in a projection
    below the aggregate; the per-bit vote is ``bits`` codegen'd
    conditional-sum aggregates in ONE groupBy (map-side partial
    aggregation applies, so the shuffle carries ``bits`` longs per
    document, not per token); the signature is reassembled from the vote
    signs with integer bit arithmetic.  An earlier Arrow-kernel version
    hashed tokens with Python md5 — ~10× slower and worker-CPU-bound at
    corpus scale."""
    toks = F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok")
    hashed = (
        df.select(F.col(id_col), toks)
        .where(F.length("tok") > 0)
        .select(id_col, token_hash(F.col("tok")).alias("h"))
    )
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    return hashed.groupBy(id_col).agg(*votes).select(F.col(id_col), sig.alias("simhash"))


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document on the native ``xxhash64`` token hash
    (q33's production path)."""
    return _simhash(df, id_col, text_col, F.xxhash64, 64)


def simhash32_md5(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per document on a token hash every engine computes
    bit-identically: the first 8 hex digits of ``md5(tok)``, digit j
    carrying bits 4j..4j+3 (``conv(reverse(...), 16, 10)`` reads the
    digits little-endian).  Same kernel as :func:`simhash`, so q187's
    DuckDB replay certifies q33's vote-and-pack algebra."""
    return _simhash(
        df, id_col, text_col,
        lambda tok: F.conv(F.reverse(F.substring(F.md5(tok), 1, 8)), 16, 10).cast("long"),
        32,
    )


def simhash_near_pairs(sim: DataFrame, id_col: str, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by Hamming distance on SimHash.

    Blocking: split the 64-bit signature into 4 × 16-bit chunks; any pair
    within Hamming ≤ 3·chunks must share at least one chunk (pigeonhole), so
    the join is on chunk equality, not a cross product. ``max_hamming`` up
    to 8 keeps ≥1 shared 16-bit chunk only heuristically — acceptable for
    near-dup mining; lower it for guarantees.
    """
    chunks = [
        (F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))).alias(f"c{i}")
        for i in range(4)
    ]
    # Barrier before the self-join: both join sides otherwise carry the full
    # upstream signature plan (for simhash() that is the 64-aggregate vote
    # tree), doubling Catalyst analysis + codegen per fresh plan (the
    # CollapseProject cost class from round-8; guide §3.3 "materialise an
    # intermediate to truncate the plan"). Lazy checkpoint: the join's first
    # action materializes the doc-sized signature relation once.
    keyed = sim.select(F.col(id_col).alias("doc"), "simhash", *chunks).localCheckpoint(
        eager=False
    )
    stacked = keyed.select(
        "doc",
        "simhash",
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("ci"), F.col(f"c{i}").alias("cv")) for i in range(4)])
        ).alias("ch"),
    ).select("doc", "simhash", "ch.ci", "ch.cv")
    a, b = stacked.alias("a"), stacked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("d1"),
            F.col("b.doc").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
        .where(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


# ---------------------------------------------------------------------------
# Asymmetric shingle containment (subset / quote detection)
# ---------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Ordered near-containment pairs: C(A→B) = |S(A) ∩ S(B)| / |S(A)|.

    Jaccard misses the asymmetric case a dedup pipeline cares about most —
    document A being a quote/excerpt/superset-trimmed copy of a much longer
    B (J(A,B) is tiny when |B| ≫ |A| even at containment 1.0).  Same
    inverted-index discipline as ``jaccard_pairs``: documents only meet on
    shared shingles (one shuffle on shingle, one on the pair key), never a
    cross product, so the plan scales with shared-shingle co-occurrence,
    not corpus².  Output is *directed*: (da, db, containment of da in db).
    """
    sh = shingle_index(df, id_col, text_col, n)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") != F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc").alias("da"), "n_sh"), "da")
        .withColumn("containment", F.col("inter") / F.col("n_sh"))
        .where(F.col("containment") >= threshold)
        .select("da", "db", "inter", "containment")
    )


def canopy_key(text_col: str = "text", prefix_chars: int = 40) -> F.Column:
    """The canonical canopy fingerprint: md5 of the lower-cased first
    ``prefix_chars`` characters.  q111 (incremental dedup), q116 (corpus
    health) and q120 (leakage-safe split) must agree on this definition —
    q120's no-leakage argument holds only if its canopy equals the dedup
    key — so it lives here once, mirrored verbatim by the oracles'
    ``md5(substr(lower(text), 1, 40))``."""
    return F.md5(F.substring(F.lower(F.col(text_col)), 1, prefix_chars))
