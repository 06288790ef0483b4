"""Manifest-versioned parquet tables: atomic snapshots, time travel,
optimistic concurrency — the Iceberg/Delta discipline distilled to its
load-bearing core on plain parquet + POSIX primitives.

Every mutation is a snapshot commit, so no crash or concurrent reader can
observe a half-applied rewrite:

* data files are IMMUTABLE once written — a snapshot is a MANIFEST (a JSON
  list of file names + the schema), never the directory listing;
* a commit publishes the next manifest through the manifest log
  (``sources/manifest_log.py``: a fully-written temp file, then an
  exclusive ``os.link``) — create-exclusive AND all-or-nothing, so readers
  can never observe a half-written manifest, and two racing writers cannot
  both win the same version (the loser raises and must rebase);
* nothing is ever deleted at write time; :func:`vacuum` later removes the
  manifests it does not retain, then only files unreachable from every
  retained manifest.

One manifest format: every manifest carries its ``files``, ``schema``,
``stats`` (one entry per file: row count plus the column ranges the footer
could summarise), the ``epochs`` stream ledger, ``checks``, ``dropped`` and
``committed_at``.  :func:`_commit` is the only writer and refuses a file it
has no stats entry for, so every reader plans from the manifest alone and
no reader falls back to data-file footers.

A crash at ANY step leaves every committed snapshot intact and readable:
while staging or moving data files the new files are orphans no manifest
references (vacuum reclaims them); before the manifest link lands the
commit simply never happened; after, it fully happened.  Re-running the
interrupted verb is always safe, and readers are never exposed to an
intermediate state.

Multiple writers are detected, not assumed away: the exclusive manifest
create is the commit lock on any namespace with atomic link/create
(POSIX, HDFS).  Object stores without an atomic create need a coordination
layer; ``manifest_log`` is the porting seam for it, and its
``_require_local_path`` refuses remote roots until then.

Keyed removal is one verb per semantics: :func:`delete_relation` (a new
head without the victims) and :func:`purge_relation` (the victims erased
from every snapshot).  Each takes its victims as a Python list of keys or
as a relation (``delete_keys_versioned`` / ``purge_keys`` name the list
form) and shares everything but the hit-file finder: one file-range
source (:func:`_file_ranges`), one victim normaliser
(:func:`_prepare_victims`), one file-rewrite job
(:func:`_rewrite_without`: one scan of every hit file, one broadcast
anti join, one write partitioned by source file, so each new file holds
the rows of exactly one old file), one count-plus-checksum purge ledger
entry.

Reference tie-in: the reference's watermark table + delete-then-insert
window (dbs/nikon.py:107-186) hand-rolls "readers see either the old or
the new interval"; the manifest generalizes that contract from one
interval to the whole table.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import tempfile
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_async_sample_spark.sources import manifest_log as mlog
from python_async_sample_spark.sources.layout import morton2
from python_async_sample_spark.sources.manifest_log import (  # noqa: F401
    ConcurrentWriteError,  # re-exported: callers catch it from this module
    _require_local_path,
)
from python_async_sample_spark.sources.readers import pin_reader_conf

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


def _log(root: str) -> str:
    return f"{root.rstrip('/')}/{_MANIFEST_DIR}"


def _manifest_path(root: str, version: int) -> str:
    return mlog.doc_path(_log(root), version)


def table_versions(root: str) -> list[int]:
    """All committed versions, ascending. Only fully-committed manifests
    are visible by construction (exclusive-link commit)."""
    return mlog.versions(_log(root))


def current_version(root: str) -> int:
    versions = table_versions(root)
    if not versions:
        raise FileNotFoundError(f"no committed manifest under {root!r}")
    return versions[-1]


def _read_manifest(root: str, version: int) -> dict:
    return mlog.read(
        _log(root), version,
        f"version {version} of {root!r} does not exist; it may have been vacuumed",
    )


def _stage_files(
    df: DataFrame, root: str, n_files: int, layout_col=None
) -> list[str]:
    """Write ``df`` as ``n_files`` immutable data files and return their
    data-dir-relative names (moved in by :func:`_adopt_staged`).

    ``layout_col`` clusters the write: range-partitioned and sorted within
    each file on that column, so the per-file [min, max] stats embedded in
    the manifest become DISJOINT ranges and keyed scans/merges prune to a
    handful of files (the plain ``repartition`` default gives every file
    the full key range — correct, but stats-pruning can then never drop
    anything).  A Column EXPRESSION also works (e.g. a Morton code over
    two columns — :func:`rewrite_layout`): the expression orders the
    write but is never stored."""
    stage = f"{root}/.stage-{uuid.uuid4().hex}"
    shaped = (
        df.repartitionByRange(max(1, n_files), layout_col).sortWithinPartitions(layout_col)
        if layout_col is not None
        else df.repartition(max(1, n_files))
    )
    shaped.write.mode("overwrite").parquet(stage)
    names = _adopt_staged(root, stage)
    shutil.rmtree(stage, ignore_errors=True)
    return names


def _adopt_staged(root: str, stage_dir: str) -> list[str]:
    """Move the part files of ``stage_dir`` under ``data/`` with fresh
    uuid names and return those names.  The files land BEFORE any
    manifest references them, so a crash here leaves only unreferenced
    orphans — invisible to every reader, reclaimed by :func:`vacuum`."""
    os.makedirs(f"{root}/{_DATA_DIR}", exist_ok=True)
    names = []
    for f in sorted(glob.glob(f"{stage_dir}/part-*.parquet")):
        name = f"part-{uuid.uuid4().hex}.parquet"
        shutil.move(f, f"{root}/{_DATA_DIR}/{name}")
        names.append(name)
    return names


def _rewrite_without(
    spark: SparkSession,
    root: str,
    names: list[str],
    schema: T.StructType,
    vic: DataFrame,
    key_col: str,
) -> tuple[dict[str, list[str]], dict]:
    """Rewrite the data files ``names`` without the victim rows, in ONE
    write job: the one file-rewrite kernel of DELETE and PURGE.

    One scan reads every file with ``schema`` and tags each row with the
    file it came from (``_metadata.file_name``), :func:`_drop_victims`
    runs the broadcast anti join, and the survivors are written once,
    ``partitionBy`` that tag, so each new file holds rows of exactly one
    old file (a clustered layout keeps its per-file ranges).  Returns
    ``{old: [new, ...]}`` — an empty list when every row of ``old`` was a
    victim — and the new files' stats (:func:`_collect_file_stats`)."""
    stage = f"{root}/.stage-{uuid.uuid4().hex}"
    src = spark.read.schema(schema).parquet(*[f"{root}/{_DATA_DIR}/{n}" for n in names])
    tagged = src.select("*", F.col("_metadata.file_name").alias("__src"))
    _drop_victims(tagged, vic, key_col).write.partitionBy("__src").mode(
        "overwrite"
    ).parquet(stage)
    replacement: dict[str, list[str]] = {n: [] for n in names}
    for d in glob.glob(f"{stage}/__src=*"):
        replacement[unquote(os.path.basename(d)[len("__src="):])] = _adopt_staged(root, d)
    shutil.rmtree(stage, ignore_errors=True)
    return replacement, _collect_file_stats(
        root, [n for new in replacement.values() for n in new]
    )


def _collect_file_stats(root: str, names: list[str]) -> dict:
    """Per-file row count + min/max per primitive column, read ONCE from
    the freshly staged local footers and embedded in the manifest.  At
    100 TB this is the difference between planning a keyed MERGE/DELETE
    from the manifest (one small JSON read) and opening every data file's
    footer over the network (Iceberg keeps file stats in manifests for
    exactly this reason).  Columns whose footer lacks statistics in any
    row group, or whose min/max is not a JSON scalar (int/float/str), are
    simply omitted — readers treat a missing column range as
    "conservatively affected", never as "prunable"."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for n in names:
        meta = pq.read_metadata(f"{root}/{_DATA_DIR}/{n}")
        cols: dict[str, list] = {}
        bad: set[str] = set()
        for rg in range(meta.num_row_groups):
            for i in range(meta.num_columns):
                c = meta.row_group(rg).column(i)
                name = c.path_in_schema
                if name in bad or "." in name:  # nested: skip
                    continue
                try:
                    st = c.statistics
                    lo, hi = (None, None) if st is None else (st.min, st.max)
                except Exception:
                    # pyarrow RAISES (ArrowNotImplementedError) for types it
                    # can't summarize (e.g. DECIMAL min/max) rather than
                    # returning None — same contract as missing stats:
                    # unsummarizable, the column range is treated as
                    # conservatively affected
                    lo, hi = None, None
                if (
                    lo is None
                    or hi is None
                    or not isinstance(lo, (int, float, str))
                    or isinstance(lo, bool)
                    # a NaN bound poisons every range comparison (x <= NaN
                    # is False), which would mark the file UNAFFECTED and
                    # silently skip keyed rewrites — unsummarizable instead
                    or (isinstance(lo, float) and lo != lo)
                    or (isinstance(hi, float) and hi != hi)
                ):
                    bad.add(name)
                    cols.pop(name, None)
                    continue
                if name in cols:
                    cols[name][0] = min(cols[name][0], lo)
                    cols[name][1] = max(cols[name][1], hi)
                else:
                    cols[name] = [lo, hi]
        out[n] = {"rows": meta.num_rows, "cols": cols}
    return out


def _file_ranges(manifest: dict, key_col: str) -> list[tuple[str, object, object, int]]:
    """Per-file ``(name, lo, hi, rows)`` for ``key_col``, the one input
    every keyed verb plans its affected files from, under the same rule as
    the read-side planner (:func:`prune_files_for_box`).  Ranges come from
    the manifest's stats alone; empty files are skipped (they contain no
    keys).  A ``None`` range — a column added after the file was written,
    or one the footers couldn't summarize (decimal, bool, timestamp) —
    means "no evidence", and every finder treats it as conservatively
    hit."""
    out = []
    for n in manifest["files"]:
        ent = manifest["stats"][n]
        if ent["rows"]:
            lo, hi = ent["cols"].get(key_col) or (None, None)
            out.append((n, lo, hi, ent["rows"]))
    return out


def _values_relation(spark, values: list):
    """``values`` as a one-column (``__v``) relation, the list form of a
    victim set before :func:`_prepare_victims` normalises it.
    A pure-JVM LocalRelation (``VALUES ...``) when every value has an
    exact SQL literal: a createDataFrame over a Python list is a pickled
    RDD in defaultParallelism slices, and every plan that broadcasts it
    (the rewrite's anti join included) re-runs its build as a Python job
    of defaultParallelism tasks, while a LocalRelation collects and
    broadcasts on the driver with no job at all.  Values
    without a literal form fall back to createDataFrame inference."""
    lits = _sql_key_literals(values)
    if lits is None:
        return spark.createDataFrame([(v,) for v in values], ["__v"])
    vals = ",".join(f"({v})" for v in lits)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS __vic(__v)")


def _sql_key_literals(clean: list) -> list[str] | None:
    """Exact SQL literals for the given keys, or None when a value has no
    lossless literal form (caller falls back to createDataFrame inference).
    bool is checked before int (bool is an int subclass)."""
    out = []
    for k in clean:
        if k is None:
            out.append("NULL")
        elif isinstance(k, bool):
            out.append("true" if k else "false")
        elif isinstance(k, int):
            out.append(f"{k}L" if -(2**63) <= k < 2**63 else None)
        elif isinstance(k, float):
            # repr round-trips finite doubles exactly; NaN and +-inf have
            # no numeric literal and go through their string casts
            out.append(repr(k) + "D" if math.isfinite(k) else f"CAST('{k}' AS DOUBLE)")
        elif isinstance(k, str):
            if "\x00" in k:  # NUL inside a SQL literal: not worth the risk
                return None
            out.append("'" + k.replace("\\", "\\\\").replace("'", "\\'") + "'")
        else:
            return None
        if out[-1] is None:
            return None
    return out


def _drop_victims(df, vic, key_col: str):
    """``df`` without the rows whose ``key_col`` is in the victims relation
    ``vic``: the one broadcast anti join every DELETE/PURGE rewrite runs.
    NULL keys never equi-match, so NULL-key rows always survive; a literal
    ``isin`` would instead cost seconds of plan analysis per query once
    the victim list runs to hundreds of keys."""
    return df.join(F.broadcast(vic), key_col, "left_anti").select(*df.columns)


def _prepare_victims(
    spark: SparkSession, victims, key_col: str, key_field: T.StructField
) -> DataFrame:
    """The one victim normaliser of the DELETE/PURGE verbs.  ``victims``
    is a Python list of keys or a relation carrying ``key_col`` (or a
    single-column relation); either way it becomes a one-column relation
    of the table's key type, holding only victims that can equi-match:

    * each victim is ``try_cast`` to the key type and KEPT ONLY IF the
      cast value still equals the original: 1.5 never truncates onto an
      integer key 1 (``isin([1.5])`` matches nothing either), and a NaN
      or out-of-range double against an integer key drops instead of
      aborting with CAST_OVERFLOW under ANSI; int victims against a
      double key still match, as they did under ``isin``;
    * NULLs drop (they never equi-match), and so do NaNs against a float
      key: join equality says NaN = NaN, which would erase NaN-key rows
      nobody targeted;
    * a relation is deduplicated.  A list is not: it becomes a VALUES
      LocalRelation that collects and broadcasts with no job at all, a
      distinct over it would cost one job per plan that broadcasts it,
      and duplicates are harmless in the anti join.  The list's keys are
      deduplicated where :func:`_victim_hits` collects them."""
    if not isinstance(victims, DataFrame):
        src = _values_relation(spark, list(victims) or [None])
    elif key_col in victims.columns:
        src = victims.select(F.col(key_col).alias("__v"))
    elif len(victims.columns) == 1:
        src = victims.select(F.col(victims.columns[0]).alias("__v"))
    else:
        raise ValueError(
            f"victims relation must carry {key_col!r} or be single-column; "
            f"got {victims.columns}"
        )
    key = F.col("__v").try_cast(key_field.dataType)
    exact = key == F.col("__v")
    if isinstance(key_field.dataType, (T.DoubleType, T.FloatType)):
        exact = exact & ~F.isnan(key)
    vic = src.where(exact).select(key.alias(key_col))
    return vic.distinct() if isinstance(victims, DataFrame) else vic


def _victim_hits(
    spark: SparkSession,
    victims,
    key_col: str,
    key_field: T.StructField,
    ranges: list[tuple[str, object, object, int]],
) -> tuple[DataFrame, list[str], int, int]:
    """Normalise ``victims`` and find the files they hit: the ONLY place
    the DELETE/PURGE verbs tell a list from a relation.  Returns the
    victims relation (for the anti join), the hit file names, the number
    of distinct victims, and their order-insensitive checksum (sum of
    32-bit md5 key signatures mod 2³², the purge audit ledger's entry).

    * A list's keys are driver-resident anyway: its VALUES relation is
      evaluated on the driver (no job) and each file costs one binary
      search over the sorted keys, O(files · log keys) with zero jobs.
    * A relation's keys never reach the driver: it is materialized once
      (it feeds the planning join and every rewrite), its count and
      checksum ride that same job as an ``Observation``, and the hit
      files come from the distributed :func:`_affected_via_range_join`.
      Driver state stays O(files) however many victims there are."""
    vic = _prepare_victims(spark, victims, key_col, key_field)
    sig = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    if isinstance(victims, DataFrame):
        from pyspark.sql import Observation

        obs = Observation()
        vic = vic.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # 16-bit halves: an int64 sum of 32-bit signatures overflows
            # (ANSI abort) at ~2^31 victims
            F.sum(sig.bitwiseAND(F.lit(0xFFFF))).alias("lo"),
            F.sum(F.shiftright(sig, 16)).alias("hi"),
        ).localCheckpoint(eager=True)
        m = obs.get
        n, ck = m["n"], ((m["lo"] or 0) + (m["hi"] or 0) * 65536) % 2**32
        hits = _affected_via_range_join(spark, vic, key_col, ranges)[0] if n else []
    else:
        from bisect import bisect_left

        sigs = dict(vic.select(key_col, sig).collect())
        keys = sorted(sigs)
        n, ck = len(keys), sum(sigs.values()) % 2**32
        hits = [
            name for name, lo, hi, _ in ranges
            if keys and (
                lo is None
                or (i := bisect_left(keys, lo)) < len(keys) and keys[i] <= hi
            )
        ]
    return vic, hits, n, ck


# Above this many candidate files, _affected_via_range_join spends one
# cheap min/max action to span-prune ranges before broadcasting them into
# the nested-loop join (cost model in the docstring below).
_RANGE_JOIN_PREFILTER_FILES = 4096


def _affected_via_range_join(
    spark: SparkSession,
    batch: DataFrame,
    key_col: str,
    ranges: list[tuple[str, object, object, int]],
) -> tuple[list[str], int]:
    """Which candidate files contain at least one batch key — computed
    DISTRIBUTEDLY, so the driver never holds the batch's keys.  The file
    ranges (O(files), already driver-resident from the manifest) become a
    small broadcast relation; one join against the batch's keys marks each
    file hit/miss, and only the HIT FILE NAMES come back — O(files
    rewritten) driver rows, however many distinct keys the CDC batch
    carries.  This is the planning path for MERGE and for DELETE/PURGE
    with a victim relation; a victim LIST keeps the driver-side
    binary-search finder (:func:`_victim_hits`), where the caller already
    owns the keys.

    COST MODEL: the non-equi range condition executes as a broadcast
    nested-loop join — O(broadcast ranges × batch rows) comparisons,
    executor-side and partition-parallel.  That is the right trade for
    CDC-sized batches against compaction-bounded file counts (the verbs
    that call this also run :func:`compact_versioned`); when the file
    count is large the driver pre-filters the ranges against the batch's
    GLOBAL key span first — one 2-scalar aggregate action, O(files)
    driver work on rows it already holds — so only span-overlapping
    ranges enter the broadcast.  scripts/scale_probe.py pins that the
    driver-resident planning state stays O(files) as data scales.

    A ``None`` range (no usable stats) is conservatively hit without
    entering the join: an always-true join range is impossible for
    arbitrary key types."""
    rows_by_name = {n: r for n, _, _, r in ranges}
    forced = [n for n, lo, _, _ in ranges if lo is None]
    ranges = [r for r in ranges if r[1] is not None]
    if len(ranges) > _RANGE_JOIN_PREFILTER_FILES:
        kmin, kmax = batch.select(
            F.min(key_col), F.max(key_col)
        ).first()
        # an all-NULL / empty batch can hit no ranged file
        ranges = [] if kmin is None else [
            r for r in ranges if not (r[2] < kmin or r[1] > kmax)
        ]
    hits = _range_join_hits_plan(spark, batch, key_col, ranges).collect() if ranges else []
    names = sorted({r["__file"] for r in hits} | set(forced))
    return names, sum(rows_by_name[n] for n in names)


def _range_join_hits_plan(
    spark: SparkSession,
    batch: DataFrame,
    key_col: str,
    ranges: list[tuple[str, object, object, int]],
) -> DataFrame:
    """The planning join itself, returned UNCOLLECTED so
    tests/test_plan_quality.py can gate its physical shape: the O(files)
    ranges relation must be the BROADCAST side of the (intentional)
    BroadcastNestedLoopJoin — broadcasting the batch would ship the CDC
    data to every task and cap batch size at the broadcast limit."""
    # Pure-JVM LocalRelation when the bounds have exact SQL literal forms:
    # a createDataFrame over a Python list is a pickled RDD whose broadcast
    # build is a defaultParallelism-task Python job on EVERY plan that
    # references it; a VALUES relation broadcast-collects on the driver with
    # no job at all (same rationale as _values_relation).
    names_l = _sql_key_literals([n for n, _, _, _ in ranges])
    lo_l = _sql_key_literals([lo for _, lo, _, _ in ranges])
    hi_l = _sql_key_literals([hi for _, _, hi, _ in ranges])
    if names_l is not None and lo_l is not None and hi_l is not None:
        vals = ",".join(f"({n},{lo},{hi})" for n, lo, hi in zip(names_l, lo_l, hi_l))
        rng_df = spark.sql(f"SELECT * FROM VALUES {vals} AS __rng(__file, __lo, __hi)")
    else:
        rng_df = spark.createDataFrame(
            [(n, lo, hi) for n, lo, hi, _ in ranges], ["__file", "__lo", "__hi"]
        )
    return (
        batch.select(F.col(key_col).alias("__k"))
        .where(F.col("__k").isNotNull())
        .join(
            F.broadcast(rng_df),
            (F.col("__k") >= F.col("__lo")) & (F.col("__k") <= F.col("__hi")),
        )
        .select("__file")
        .distinct()
    )


# what a first commit (no parent) inherits
_NO_PARENT = {"stats": {}, "epochs": {}, "checks": [], "dropped": [], "committed_at": 0.0}


def _commit(
    root: str,
    files: list[str],
    schema_json: str,
    op: str,
    parent: int | None,
    stats: dict | None = None,
    epochs: dict[str, str] | None = None,
    checks: list[dict] | None = None,
    dropped: list[str] | None = None,
) -> int:
    """Atomically publish the next manifest through
    :func:`manifest_log.publish_exclusive`: the final name is created
    EXCLUSIVELY (two writers racing for the same version — one loses with
    :class:`ConcurrentWriteError`) and the complete content becomes
    visible in one step (no reader can open a torn manifest).

    The one manifest writer, so the one place the format is decided.
    ``stats`` holds the entries of new files (or replaces existing ones,
    as :func:`add_file_blooms` does); a file the parent lists keeps the
    parent's entry (files are immutable), and a file with no entry either
    way is refused.  ``epochs``, ``checks`` and ``dropped`` left ``None``
    inherit the parent's, so no call site can forget them:

    * ``epochs`` is the exactly-once stream ledger (epoch id → batch
      fingerprint); carried into every child, replay detection survives
      :func:`vacuum` dropping the manifest that first recorded an epoch;
    * CHECK constraints persist until :func:`set_check_constraints`
      replaces them;
    * the dropped-column ledger lets :func:`add_column` refuse a name
      whose values still live in pre-drop data files (there is no
      column-mapping layer)."""
    version = 0 if parent is None else parent + 1
    base = _NO_PARENT if parent is None else _read_manifest(root, parent)
    known = {**base["stats"], **(stats or {})}
    unknown = sorted(set(files) - known.keys())
    if unknown:
        raise ValueError(
            f"commit of {root!r} v{version}: no stats entry for {len(unknown)} "
            f"file(s) (e.g. {unknown[:3]}); stage them through _collect_file_stats"
        )
    manifest = {
        "version": version,
        "parent": parent,
        "op": op,
        "files": sorted(files),
        "schema": schema_json,
        "epochs": dict(base["epochs"] if epochs is None else epochs),
        "stats": {n: known[n] for n in sorted(files)},
        "checks": list(base["checks"] if checks is None else checks),
        "dropped": sorted(base["dropped"] if dropped is None else dropped),
        # commit wall-clock, clamped to the parent's so AS-OF-timestamp
        # resolution stays monotone in version order even under clock
        # adjustment (Delta reads file mtimes and carries the same caveat;
        # recording it in the manifest survives copies/backups that reset
        # mtimes)
        "committed_at": max(time.time(), base["committed_at"]),
    }
    return mlog.publish_exclusive(
        _log(root), version, manifest,
        f"version {version} of {root!r} was committed by another writer "
        "after this one read its parent snapshot — rebase on the new "
        "current version and retry",
    )


def create_table(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    n_files: int = 4,
    layout_col=None,
) -> int:
    """Materialize ``df`` as version 0 of a new versioned table.
    ``layout_col`` writes the files key-clustered (disjoint per-file
    ranges) so manifest-stats pruning has something to prune — see
    :func:`_stage_files`."""
    _require_local_path(root, "create_table")
    root = root.rstrip("/")
    if table_versions(root):
        raise FileExistsError(f"versioned table already exists at {root!r}")
    os.makedirs(root, exist_ok=True)
    files = _stage_files(df, root, n_files, layout_col=layout_col)
    return _commit(
        root, files, df.schema.json(), "create", parent=None,
        stats=_collect_file_stats(root, files),
    )


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """The snapshot AS OF ``version`` (default: current).  Reads exactly
    the manifest's file list — never the directory listing, so concurrent
    commits, orphaned stage files and pending vacuums are all invisible.

    The read is pinned to the MANIFEST's schema, not whatever the files
    carry: a data file written before an :func:`add_column` commit lacks
    the evolved column and surfaces it as NULL (Iceberg's null-fill
    contract), and time travel to a pre-evolution version reads with that
    version's schema — the column does not exist there at all."""
    pin_reader_conf(spark)
    root = root.rstrip("/")
    manifest = _read_manifest(root, current_version(root) if version is None else version)
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    if not manifest["files"]:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[f"{root}/{_DATA_DIR}/{name}" for name in manifest["files"]]
    )


def prune_files_for_box(
    root: str, preds: dict, version: int | None = None
) -> tuple[list[str], int, int]:
    """Multi-column scan planning off the manifest: the data files whose
    recorded ``[min, max]`` overlaps EVERY column's ``[lo, hi]`` in
    ``preds`` (a conjunctive box predicate), plus the total file count —
    zero footer or data reads.  One dimension is :func:`prune_files_for_range`;
    two dimensions over a :func:`rewrite_layout`-ed (Z-ordered) table is
    the OPTIMIZE-ZORDER payoff: every file covers a small rectangle, so a
    box touching 1/32 of the key area reads ~1/32 of the files.

    Sound, not just fast: a file missing a recorded range for ANY predicate
    column is included (missing evidence can only widen the read set, never
    shrink the result).  Empty files are skipped — they contain no rows.

    Returns ``(picked, total_files, resolved_version)`` — pass the
    resolved version to :func:`read_box` along with ``picked`` so the
    prune and the read pin the SAME snapshot (re-resolving at read time
    would let a concurrent commit land in between and produce a
    mixed-snapshot read)."""
    root = root.rstrip("/")
    version = current_version(root) if version is None else version
    manifest = _read_manifest(root, version)
    picked = [
        n for n in manifest["files"]
        if (ent := manifest["stats"][n])["rows"]
        and all(
            # a column with no range is no evidence: it cannot exclude
            (rng := ent["cols"].get(col)) is None or (rng[0] <= hi and lo <= rng[1])
            for col, (lo, hi) in preds.items()
        )
    ]
    return picked, len(manifest["files"]), version


def read_box(
    spark: SparkSession,
    root: str,
    preds: dict,
    version: int | None = None,
    picked: list[str] | None = None,
) -> DataFrame:
    """Conjunctive BETWEEN scan planned from the manifest: file pruning via
    :func:`prune_files_for_box`, then the residual filters on the surviving
    files (pruning admits a superset; the filter plus parquet row-group
    pushdown make it exact).  NULL keys never match, matching SQL BETWEEN.

    The version is resolved ONCE and pins both the schema and the prune —
    resolving twice would let a concurrent commit land in between and
    produce a mixed-snapshot read that exists in no committed version.
    ``picked`` short-circuits the prune when the caller already planned
    the file set (e.g. for a pruning-ratio guard) — it must come from
    :func:`prune_files_for_box` at the SAME version, so passing it
    REQUIRES the version that prune resolved (its third return value):
    re-resolving current_version here would let a concurrent commit land
    between the prune and the read and produce a mixed-snapshot read
    (old version's files, new version's schema) that exists in no
    committed snapshot."""
    pin_reader_conf(spark)
    root = root.rstrip("/")
    if picked is not None and version is None:
        raise ValueError(
            "read_box: `picked` requires the version it was pruned at "
            "(prune_files_for_box returns it) — resolving the current "
            "version here could span two snapshots"
        )
    version = current_version(root) if version is None else version
    manifest = _read_manifest(root, version)
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    if picked is None:
        picked, _total, _v = prune_files_for_box(root, preds, version)
    if not picked:
        return spark.createDataFrame([], schema)
    df = spark.read.schema(schema).parquet(
        *[f"{root}/{_DATA_DIR}/{name}" for name in picked]
    )
    for col, (lo, hi) in preds.items():
        df = df.where(F.col(col).between(F.lit(lo), F.lit(hi)))
    return df


def rewrite_layout(
    spark: SparkSession,
    root: str,
    x_col: str,
    y_col: str,
    n_files: int = 8,
) -> int:
    """OPTIMIZE ... ZORDER BY (x, y) as a snapshot commit: rewrite the
    current snapshot's rows clustered along the Morton curve of the two
    columns (``layout.morton2`` — the same bit-interleave q108 pins), so
    the manifest's per-file stats become small RECTANGLES in both
    dimensions and :func:`prune_files_for_box` can prune box predicates on
    either or both.  Rows are preserved exactly; old versions stay
    time-travelable until :func:`vacuum`; a concurrent commit surfaces as
    :class:`ConcurrentWriteError` (standard rebase-and-retry).  Columns
    participate in the curve modulo 2^16 — quantize wider domains first,
    as production Z-order implementations do."""
    root = root.rstrip("/")
    _require_local_path(root, "rewrite_layout")
    pin_reader_conf(spark)
    parent = current_version(root)
    manifest = _read_manifest(root, parent)
    df = read_version(spark, root, parent)
    z = morton2(F.col(x_col), F.col(y_col))
    new_names = _stage_files(df, root, n_files, layout_col=z)
    return _commit(
        root, new_names, manifest["schema"], f"zorder:{x_col},{y_col}", parent,
        stats=_collect_file_stats(root, new_names),
    )


def prune_files_for_range(
    root: str, key_col: str, lo, hi, version: int | None = None
) -> tuple[list[str], int, int]:
    """Scan planning off the manifest alone: the data files whose recorded
    ``[min, max]`` for ``key_col`` overlaps ``[lo, hi]``, plus the total
    file count — ZERO footer or data reads.  This is the read-side twin of
    the keyed MERGE/DELETE pruning (:func:`_file_ranges`), and
    the reason manifests embed per-file column stats at all: at 100 TB a
    keyed range scan that plans from one small JSON touches a handful of
    files instead of opening a million footers over the network.

    Sound, not just fast: any file missing a recorded range for
    ``key_col`` (a column added after the file was written, an
    unsummarizable column type, an all-NULL column) is INCLUDED — a
    skipped maybe-match would silently drop rows.
    Empty files (rows == 0) are skipped; they contain no keys.

    Returns ``(picked, total_files, resolved_version)`` — same contract
    as :func:`prune_files_for_box`."""
    return prune_files_for_box(root, {key_col: (lo, hi)}, version)


def read_keyed_range(
    spark: SparkSession, root: str, key_col: str, lo, hi, version: int | None = None
) -> DataFrame:
    """``SELECT * WHERE key BETWEEN lo AND hi`` planned from the manifest —
    the one-column face of :func:`read_box` (delegates; same single-
    version-resolution snapshot guarantee)."""
    return read_box(spark, root, {key_col: (lo, hi)}, version)


def add_file_blooms(
    spark: SparkSession,
    root: str,
    col: str,
    m_bits: int = 1 << 17,
    k: int = 3,
) -> int:
    """Embed a per-file Bloom filter over ``col`` in the manifest — point-
    lookup file skipping for columns the clustered layout does NOT order
    (min/max ranges on a scattered column cover everything and prune
    nothing; Parquet/Iceberg attach column blooms for exactly this case).
    One distributed pass builds every file's filter (explode k portable
    hashes, bit_or per (file, word)); the driver collects at most
    ``n_files * m_bits/64`` words into the new manifest — metadata-sized,
    independent of row count.  Uses the PORTABLE hash so the driver-side
    probe (:func:`prune_files_for_points`) replays bits exactly.

    Commits a metadata-only snapshot (same files, same schema).  NULL
    values set no bits — point lookups never match NULL anyway."""
    from python_async_sample_spark.operators.bloom import _bit_positions
    from python_async_sample_spark.operators.sketches import portable_hash

    root = root.rstrip("/")
    _require_local_path(root, "add_file_blooms")
    pin_reader_conf(spark)
    parent = current_version(root)
    manifest = _read_manifest(root, parent)
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    if col not in schema.fieldNames():
        raise ValueError(f"column {col!r} not in table schema")
    paths = [f"{root}/{_DATA_DIR}/{n}" for n in manifest["files"]]
    if paths:
        rows = (
            spark.read.schema(schema)
            .parquet(*paths)
            .where(F.col(col).isNotNull())
            .select(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("__f"),
                F.explode(
                    _bit_positions(
                        F.col(col).cast("long"), k, m_bits, hash_fn=portable_hash
                    )
                ).alias("b"),
            )
            .groupBy("__f", F.col("b.word").alias("word"))
            .agg(F.bit_or("b.mask").alias("mask"))
            .collect()
        )
    else:
        rows = []
    by_file: dict[str, dict[str, int]] = {}
    for r in rows:
        by_file.setdefault(r["__f"], {})[str(r["word"])] = r["mask"]
    stats = {
        n: {**ent, "blooms": {
            **ent.get("blooms", {}),
            col: {"m": m_bits, "k": k, "words": by_file.get(n, {})},
        }}
        for n, ent in manifest["stats"].items()
    }
    return _commit(
        root, manifest["files"], manifest["schema"], f"bloom:{col}", parent, stats=stats
    )


# Above this many point-lookup keys the per-needle bloom probe stops paying:
# driver CPU is O(files × needles × k), and with needles ≫ files the
# expected hit fraction F·(1−(1−1/F)^n) approaches every file anyway — the
# blooms can no longer prune.  Past the bound we fall back to min/max range
# pruning (one binary search per file, O(files · log needles) driver CPU).
_BLOOM_PROBE_MAX_KEYS = 512


def prune_files_for_points(
    root: str, col: str, keys: list, version: int | None = None
) -> tuple[list[str], int, int]:
    """The data files whose manifest-embedded Bloom filter for ``col``
    might contain ANY of the point-lookup ``keys`` — planned entirely on
    the driver from the manifest (zero file/footer reads), probing with
    the Python twin of the portable hash.  Sound by the Bloom contract:
    no false negatives (a file truly containing a key always survives);
    false positives only widen the read set and the caller's residual
    filter removes them.  Files without a bloom for ``col`` are included
    conservatively; empty files are skipped.

    The per-needle probe is a POINT-LOOKUP tool: beyond
    ``_BLOOM_PROBE_MAX_KEYS`` needles it degrades to min/max range
    pruning (sorted keys, one binary search per file) — both sound, and
    the range path keeps the driver at O(files · log needles) where the
    bloom loop would be O(files · needles).

    Returns ``(picked, total_files, resolved_version)`` — pass the
    resolved version to :func:`read_keyed_points` with ``picked`` (same
    snapshot-spanning contract as :func:`prune_files_for_box`)."""
    from python_async_sample_spark.operators.sketches import portable_hash_py

    root = root.rstrip("/")
    version = current_version(root) if version is None else version
    manifest = _read_manifest(root, version)

    if len(keys) > _BLOOM_PROBE_MAX_KEYS:
        from bisect import bisect_left

        targets = sorted(k for k in keys if k is not None)
        picked = [
            n for n in manifest["files"]
            if (ent := manifest["stats"][n])["rows"]
            and (
                (rng := ent["cols"].get(col)) is None  # no evidence: affected
                or (i := bisect_left(targets, rng[0])) < len(targets)
                and targets[i] <= rng[1]
            )
        ]
        return picked, len(manifest["files"]), version

    def _may_contain(bloom: dict, key) -> bool:
        for i in range(bloom["k"]):
            pos = portable_hash_py(int(key), i) % bloom["m"]
            w = bloom["words"].get(str(pos // 64))
            if w is None or not ((w >> (pos % 64)) & 1):
                return False
        return True

    picked = [
        n for n in manifest["files"]
        if (ent := manifest["stats"][n])["rows"]
        and (
            (bloom := ent.get("blooms", {}).get(col)) is None  # no evidence: affected
            or any(_may_contain(bloom, key) for key in keys)
        )
    ]
    return picked, len(manifest["files"]), version


def read_keyed_points(
    spark: SparkSession,
    root: str,
    col: str,
    keys: list,
    version: int | None = None,
    picked: list[str] | None = None,
) -> DataFrame:
    """``SELECT * WHERE col IN (keys)`` planned from the manifest blooms:
    file skipping via :func:`prune_files_for_points`, then the residual
    IN filter (broadcastable-key-list semi-filter) makes it exact.  The
    version is resolved ONCE for schema and prune alike (same snapshot-
    isolation reasoning as :func:`read_box`) — so passing ``picked``
    REQUIRES the version the prune resolved (its third return value)."""
    pin_reader_conf(spark)
    root = root.rstrip("/")
    if picked is not None and version is None:
        raise ValueError(
            "read_keyed_points: `picked` requires the version it was pruned "
            "at (prune_files_for_points returns it) — resolving the current "
            "version here could span two snapshots"
        )
    version = current_version(root) if version is None else version
    manifest = _read_manifest(root, version)
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    if picked is None:
        picked, _total, _v = prune_files_for_points(root, col, keys, version)
    if not picked:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .parquet(*[f"{root}/{_DATA_DIR}/{name}" for name in picked])
        .where(F.col(col).isin([int(k) for k in keys]))
    )


def restore_version(spark: SparkSession, root: str, to_version: int) -> int:
    """Delta-style RESTORE: commit a NEW version whose file list, schema
    and stats are ``to_version``'s snapshot — the table's CURRENT content
    rolls back, but history stays append-only (the bad versions remain
    time-travelable and auditable, nothing is deleted).  Metadata-only:
    O(manifest) driver work, zero data files rewritten or moved.

    Two deliberate carry choices, both about what a restore MUSTN'T undo:

    * the exactly-once EPOCH LEDGER carries forward from the current
      HEAD, not from the restore target — a stream epoch that committed
      between target and head has been delivered; rolling the ledger back
      with the data would let a replay of that epoch double-apply after
      the restore;
    * CHECK CONSTRAINTS likewise stay the head's (``_commit``'s standard
      carry): a restore changes data, not policy.  If the head's checks
      do not ANALYZE against the target's (possibly older, pre-evolution)
      schema, the restore refuses loudly — committing them blind would
      brick every subsequent write verb with AnalysisException, exactly
      what :func:`set_check_constraints`' fail-fast exists to prevent;
      drop or rewrite the constraints first, restore second.

    Fails loudly (nothing committed) if ``to_version``'s manifest or any
    of its data files were already reclaimed by :func:`vacuum` — a
    restore target must be fully intact, partial restores are corruption.
    """
    root = root.rstrip("/")
    _require_local_path(root, "restore_version")
    head = current_version(root)
    if to_version == head:
        return head  # restoring to the head is a no-op, don't burn a version
    try:
        target = _read_manifest(root, to_version)
    except FileNotFoundError:
        raise ValueError(
            f"restore_version: version {to_version} of {root!r} has no "
            "manifest (never existed, or vacuumed) — pick a version from "
            "table_versions()"
        ) from None
    missing = [
        n for n in target["files"]
        if not os.path.exists(f"{root}/{_DATA_DIR}/{n}")
    ]
    if missing:
        raise ValueError(
            f"restore_version: {len(missing)} data file(s) of version "
            f"{to_version} were vacuumed (e.g. {sorted(missing)[:3]}) — "
            "the snapshot is no longer materializable"
        )
    carried_checks = _read_manifest(root, head)["checks"]
    if carried_checks:
        probe = spark.createDataFrame(
            [], T.StructType.fromJson(json.loads(target["schema"]))
        )
        for c in carried_checks:
            try:
                probe.where(F.expr(c["expr"])).schema
            except Exception as ex:
                raise ValueError(
                    f"restore_version: carried CHECK {c['name']!r} does not "
                    f"analyze against version {to_version}'s schema "
                    f"({c['expr']!r}: {ex}) — replace the constraints "
                    "(set_check_constraints) before restoring"
                ) from ex
    # the epoch ledger and checks are the head's: _commit inherits them
    return _commit(
        root, target["files"], target["schema"], f"restore({to_version})",
        parent=head, stats=target["stats"],
    )


def add_column(spark: SparkSession, root: str, name: str, ddl_type: str) -> int:
    """Schema evolution as a metadata-only snapshot commit: the new
    (nullable) column joins the manifest schema, NO data file rewrites.
    Readers of this and later versions see NULL for rows in pre-evolution
    files; time travel to earlier versions does not see the column.  At
    100 TB this is the difference between an O(1) commit and a full-table
    rewrite — exactly why manifests carry the schema instead of letting
    the file listing imply it."""
    root = root.rstrip("/")
    _require_local_path(root, "add_column")
    parent = current_version(root)
    manifest = _read_manifest(root, parent)
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    if name in schema.fieldNames():
        raise ValueError(f"column {name!r} already exists in {root!r}")
    if name in manifest["dropped"]:
        raise ValueError(
            f"column {name!r} was previously dropped from {root!r}: pre-drop "
            "data files still store its values under this name, and this "
            "engine has no column-mapping layer to keep them hidden — "
            "re-adding would silently resurrect the old values; use a new "
            "column name (Delta/Iceberg solve this with column IDs)"
        )
    new_schema = schema.add(T.StructField(name, _parse_ddl_type(ddl_type), True))
    return _commit(root, manifest["files"], new_schema.json(), f"alter-add:{name}", parent)


def drop_column(spark: SparkSession, root: str, name: str) -> int:
    """DROP COLUMN as a metadata-only snapshot commit — the twin of
    :func:`add_column`: the column leaves the manifest schema, NO data
    file rewrites (readers PROJECT by name, so the stored values simply
    stop being read).  Time travel to pre-drop versions still serves the
    column; at 100 TB this is an O(1) commit instead of a full-table
    rewrite.

    The dropped name joins a ledger carried into every child manifest,
    and :func:`add_column` REFUSES names on it: pre-drop files still
    store the old values under that name, so re-adding would silently
    resurrect them (the failure column-mapping layers exist to prevent —
    refusal is the honest contract at this engine's complexity).  CHECK
    constraints referencing the column make the drop refuse loudly
    (policy must be rewritten first, same fail-fast as restore)."""
    root = root.rstrip("/")
    _require_local_path(root, "drop_column")
    parent = current_version(root)
    manifest = _read_manifest(root, parent)
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    if name not in schema.fieldNames():
        raise ValueError(f"column {name!r} not in {root!r}'s head schema")
    if len(schema.fields) == 1:
        raise ValueError(f"cannot drop {name!r}: it is the only column")
    new_schema = T.StructType([f for f in schema.fields if f.name != name])
    probe = spark.createDataFrame([], new_schema)
    for c in manifest["checks"]:
        try:
            probe.where(F.expr(c["expr"])).schema
        except Exception as ex:
            raise ValueError(
                f"drop_column: CHECK {c['name']!r} references {name!r} "
                f"({c['expr']!r}) — drop or rewrite the constraint first "
                "(set_check_constraints)"
            ) from ex
    stats = {
        n: {**e, "cols": {k: v for k, v in e["cols"].items() if k != name}}
        for n, e in manifest["stats"].items()
    }
    return _commit(
        root, manifest["files"], new_schema.json(), f"alter-drop:{name}", parent,
        stats=stats, dropped=[*manifest["dropped"], name],
    )


def clone_table(
    src_root: str, dst_root: str, version: int | None = None
) -> int:
    """Deep clone at hardlink cost: ``dst_root`` version 0 becomes an
    exact copy of ``src_root@version`` (head by default).  Data files are
    ``os.link``'ed — same inode, zero bytes copied, O(files) driver work
    (cross-filesystem falls back to a real copy) — which makes the clone
    INDEPENDENT of the source's lifecycle where a manifest-only shallow
    clone would not be: vacuuming the source unlinks names but the
    clone's links keep the inodes alive, and every source verb (merge,
    purge, compaction) swaps in NEW file names rather than mutating
    content in place, so linked bytes are immutable by construction.

    The epoch ledger, CHECK constraints and dropped-column ledger carry:
    a clone pointed at the same stream must not re-admit replayed epochs,
    and policy follows data.  NOTE the erasure consequence: a purge on
    the source does NOT reach the clone (independent table, retained
    inodes) — right-to-be-forgotten must be run per table, exactly as
    with any physical copy.  Crash-safe and idempotent: links land before
    the manifest commit, a re-run skips existing links."""
    src_root = src_root.rstrip("/")
    dst_root = dst_root.rstrip("/")
    _require_local_path(src_root, "clone_table")
    _require_local_path(dst_root, "clone_table")
    v = current_version(src_root) if version is None else version
    try:
        manifest = _read_manifest(src_root, v)
    except FileNotFoundError:
        raise ValueError(
            f"clone_table: version {v} of {src_root!r} has no manifest "
            "(never existed, or vacuumed)"
        ) from None
    if table_versions(dst_root):
        raise FileExistsError(f"versioned table already exists at {dst_root!r}")
    missing = [
        n for n in manifest["files"]
        if not os.path.exists(f"{src_root}/{_DATA_DIR}/{n}")
    ]
    if missing:
        raise ValueError(
            f"clone_table: {len(missing)} data file(s) of version {v} were "
            f"vacuumed (e.g. {sorted(missing)[:3]}) — the snapshot is no "
            "longer materializable"
        )
    os.makedirs(f"{dst_root}/{_DATA_DIR}", exist_ok=True)
    for n in manifest["files"]:
        src = f"{src_root}/{_DATA_DIR}/{n}"
        dst = f"{dst_root}/{_DATA_DIR}/{n}"
        if os.path.exists(dst):
            continue  # idempotent re-run after a crash mid-clone
        try:
            os.link(src, dst)
        except OSError:  # cross-device: pay the copy, atomically published
            fd, tmp = tempfile.mkstemp(dir=f"{dst_root}/{_DATA_DIR}")
            os.close(fd)
            shutil.copy2(src, tmp)
            os.replace(tmp, dst)
    return _commit(
        dst_root, manifest["files"], manifest["schema"], f"clone:{src_root}@{v}",
        parent=None, stats=manifest["stats"], epochs=manifest["epochs"],
        checks=manifest["checks"], dropped=manifest["dropped"],
    )


def _parse_ddl_type(ddl_type: str) -> T.DataType:
    return T.StructType.fromDDL(f"__c {ddl_type}")["__c"].dataType


def set_check_constraints(spark: SparkSession, root: str, checks: list[dict]) -> int:
    """Declare Delta-style CHECK constraints on the table — enforced at
    every subsequent write (merge / append / stream epoch), so a bad batch
    fails ITS OWN commit loudly instead of poisoning the table for every
    reader.  A metadata-only commit; existing data is NOT retro-validated
    (validate first with ``operators.expectations`` if the table must
    already conform).

    Each check is a JSON-able dict: ``{"name": ..., "expr": <SQL boolean
    over the row>}`` — e.g. ``{"name": "price_nonneg", "expr":
    "o_totalprice >= 0"}``.  Rows where the expression is FALSE violate;
    NULL (SQL unknown) does not — declare an IS NOT NULL check separately,
    exactly like SQL CHECK semantics."""
    root = root.rstrip("/")
    _require_local_path(root, "set_check_constraints")
    for c in checks:
        if not isinstance(c.get("name"), str) or not isinstance(c.get("expr"), str):
            raise ValueError(f"check needs string name and expr: {c!r}")
    parent = current_version(root)
    manifest = _read_manifest(root, parent)
    # Fail fast on unparseable or unresolvable expressions: a typo'd check
    # would otherwise commit fine and then fail EVERY subsequent write verb
    # with AnalysisException (not CheckConstraintViolation) until replaced.
    # Analysis against an empty relation of the manifest schema costs no
    # data read — .schema forces the analyzer without an action.
    probe = spark.createDataFrame(
        [], T.StructType.fromJson(json.loads(manifest["schema"]))
    )
    for c in checks:
        try:
            probe.where(F.expr(c["expr"])).schema
        except Exception as ex:
            raise ValueError(
                f"check {c['name']!r} does not analyze against the table "
                f"schema: {c['expr']!r} ({ex})"
            ) from ex
    return _commit(
        root, manifest["files"], manifest["schema"],
        f"constrain:{','.join(c['name'] for c in checks)}", parent, checks=checks,
    )


class CheckConstraintViolation(ValueError):
    """A write batch violated a declared CHECK constraint."""


def _enforce_checks(df: DataFrame, manifest: dict, verb: str) -> None:
    """ONE aggregate scan over the batch counting violations of every
    declared check; raises :class:`CheckConstraintViolation` naming the
    failing checks and their row counts.  Violation = expression FALSE
    (NULL passes — SQL CHECK semantics)."""
    checks = manifest["checks"]
    if not checks:
        return
    agg = df.agg(
        *[
            F.sum(
                F.when(F.expr(c["expr"]).eqNullSafe(F.lit(False)), 1).otherwise(0)
            ).alias(f"__c{i}")
            for i, c in enumerate(checks)
        ]
    ).first()
    bad = [
        f"{c['name']} ({agg[f'__c{i}']} rows)"
        for i, c in enumerate(checks)
        if (agg[f"__c{i}"] or 0) > 0
    ]
    if bad:
        raise CheckConstraintViolation(
            f"{verb}: batch violates CHECK constraints: {', '.join(bad)}"
        )


def _conform_to_schema(df: DataFrame, schema_json: str, verb: str) -> DataFrame:
    """Select + CAST a write batch to the manifest schema.  Writers must
    stage files the PINNED schema can read back: Spark widens arithmetic
    results silently (decimal(18,2) + literal → decimal(19,2)), and a
    staged file whose physical type drifted from the manifest corrupts
    every future read of that snapshot (parquet decimal ≤18 digits is
    INT64; 19 becomes FIXED_LEN_BYTE_ARRAY — the reader throws).  Casts
    run under the session's ANSI setting, so a genuinely overflowing
    value fails the WRITE loudly instead of poisoning the table.

    A batch column the table does not have is refused rather than dropped
    (``add_column`` first); a missing one fails analysis, naming it.  The
    projection is one ``selectExpr`` call, casting only drifted columns."""
    schema = T.StructType.fromJson(json.loads(schema_json))
    have = {f.name.lower(): f for f in df.schema.fields}
    extra = sorted(have.keys() - {f.name.lower() for f in schema.fields})
    if extra:
        raise ValueError(
            f"{verb}: batch columns {[have[c].name for c in extra]} are not in "
            "the table schema; add them with add_column before writing"
        )
    exprs = []
    for f in schema.fields:
        q = "`" + f.name.replace("`", "``") + "`"
        src = have.get(f.name.lower())
        if src is not None and src.name == f.name and src.dataType == f.dataType:
            exprs.append(q)
        else:
            exprs.append(f"CAST({q} AS {f.dataType.simpleString()}) AS {q}")
    return df.selectExpr(*exprs)


def ansi_merge_guard(updates: DataFrame, key_col: str, verb: str) -> int:
    """ANSI MERGE cardinality + NULL-key rejection, detected DISTRIBUTEDLY
    in ONE action (VERDICT r5 item 2: O(1) driver rows, never O(batch
    keys)).

    Per-key counts aggregate to three scalars and only those reach the
    driver; offending keys are collected (capped at 5) solely on the
    failure path, for the error message.  Returns the batch row count
    (== distinct keys, since duplicates raise)."""
    probe = (
        updates.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(
            F.coalesce(F.sum("__n"), F.lit(0)).alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col(key_col).isNull(), 1).otherwise(0)), F.lit(0)
            ).alias("n_null"),
            F.coalesce(
                F.sum(F.when(F.col("__n") > 1, 1).otherwise(0)), F.lit(0)
            ).alias("n_dupe"),
        )
        .first()
    )
    if probe["n_null"]:
        raise ValueError(
            f"{verb}: updates contain NULL merge keys — a NULL never equals "
            "a target key, so 'merging' it is an unconditional insert the "
            "caller should state explicitly"
        )
    if probe["n_dupe"]:
        dup = sorted(
            r[key_col]
            for r in updates.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .limit(5)
            .collect()
        )
        raise ValueError(
            f"{verb}: duplicate merge key(s) (e.g. {dup}) — ANSI MERGE "
            "cardinality violation, no deterministic winner"
        )
    return probe["n_rows"]


def merge_into_versioned(
    spark: SparkSession, root: str, updates: DataFrame, key_col: str
) -> dict:
    """Keyed MERGE INTO as a snapshot commit: update rows replace matching
    target rows and unmatched keys insert; duplicate or NULL update keys
    raise (:func:`ansi_merge_guard`).  The rewrite lands as a NEW manifest —
    readers switch from the old snapshot to the merged one atomically, and
    the old version stays queryable for time travel until vacuumed.

    Reference tie-in: the delete-then-insert idempotency window
    (dbs/nikon.py:117-145) is a keyed merge done by hand, and this verb
    keeps its contract — the same batch merged twice leaves the same
    content (a second, identical snapshot).

    Scale shape: the driver touch is O(files), never O(batch keys).  The
    batch is localCheckpoint-materialized once (so a non-deterministic
    source can't pass the CHECK scan yet stage different rows, and the
    guard/prune/rewrite actions all read the same bytes); the ANSI
    cardinality/NULL guard is one distributed aggregate that collects at
    most 6 offending keys; file pruning joins the batch's keys against
    the manifest's per-file [min, max] ranges distributedly and collects
    only the HIT FILE NAMES (:func:`_affected_via_range_join`); and the
    matched-row removal anti-joins against the batch's own key column —
    no key list ever materializes on the driver, so a CDC batch with
    millions of distinct keys costs the driver the same as one with
    ten."""
    root = root.rstrip("/")
    _require_local_path(root, "merge_into_versioned")
    pin_reader_conf(spark)
    parent = current_version(root)
    manifest = _read_manifest(root, parent)
    schema_json = manifest["schema"]
    target_fields = [
        f["name"] for f in json.loads(schema_json)["fields"]
    ]
    updates = _conform_to_schema(
        updates, schema_json, "merge_into_versioned"
    ).localCheckpoint(eager=True)
    _enforce_checks(updates, manifest, "merge_into_versioned")

    n_updates = ansi_merge_guard(updates, key_col, "merge_into_versioned")
    if n_updates == 0:
        return {
            "version": parent, "rewritten": 0, "untouched": len(manifest["files"]),
            "upserted_rows": 0, "replaced_rows": 0,
        }

    names_hit, rows_before = _affected_via_range_join(
        spark, updates, key_col, _file_ranges(manifest, key_col)
    )
    affected = [f"{root}/{_DATA_DIR}/{n}" for n in names_hit]
    affected_names = set(names_hit)

    if affected:
        # read with the MANIFEST schema: files from before an add_column
        # commit surface the evolved column as NULL, so kept ∪ updates
        # always line up even across schema versions.  Matched rows are
        # removed by anti-joining against the batch's OWN key column — a
        # distributed relation, types already conformed, no driver list.
        kept = (
            spark.read.schema(T.StructType.fromJson(json.loads(schema_json)))
            .parquet(*affected)
            .join(updates.select(key_col), key_col, "left_anti")
            .select(*target_fields)
        )
        staged_df = kept.unionByName(updates)
    else:
        staged_df = updates
    new_names = _stage_files(staged_df, root, max(1, len(affected)))
    new_stats = _collect_file_stats(root, new_names)
    rows_after = sum(new_stats[n]["rows"] for n in new_names)
    kept_names = [n for n in manifest["files"] if n not in affected_names]
    version = _commit(
        root, kept_names + new_names, schema_json, f"merge:{key_col}", parent, stats=new_stats
    )
    return {
        "version": version,
        "rewritten": len(affected),
        "untouched": len(manifest["files"]) - len(affected),
        "upserted_rows": n_updates,
        "replaced_rows": rows_before + n_updates - rows_after,
    }


def delete_relation(
    spark: SparkSession, root: str, key_col: str, victims
) -> dict:
    """``DELETE WHERE key_col IN victims`` as a snapshot commit: the rows
    leave a NEW head while time travel keeps serving history (the
    erasure verb that rewrites history is :func:`purge_relation`).  The
    reference's delete is predicate-shaped (``dbs/nikon.py:117-136``);
    here the victims come in either of two forms and share everything
    but the hit-file finder (:func:`_victim_hits`):

    * a Python LIST of keys (``delete_keys_versioned``): files are found
      by a driver-side binary search over the file ranges, zero jobs;
    * a RELATION carrying ``key_col`` (or single-column): files are found
      by the distributed range join MERGE uses, and the keys never reach
      the driver, so driver state is O(files).

    Victims are normalised once (:func:`_prepare_victims`: exact key-type
    cast, NULL/NaN never targets), and NULL-key rows are never deleted.
    The hit files are read with the head schema and rewritten by one job
    (:func:`_rewrite_without`); each new file holds rows of one old file,
    so a ``layout_col``-clustered table keeps its disjoint file ranges.
    Returns ``{"version", "rewritten", "deleted_rows"}``; no hit file
    means no commit."""
    root = root.rstrip("/")
    _require_local_path(root, "delete_relation")
    pin_reader_conf(spark)
    parent = current_version(root)
    manifest = _read_manifest(root, parent)
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    if key_col not in schema.fieldNames():
        raise ValueError(f"column {key_col!r} not in {root!r}'s head schema")
    ranges = _file_ranges(manifest, key_col)
    vic, names_hit, _, _ = _victim_hits(spark, victims, key_col, schema[key_col], ranges)
    if not names_hit:
        return {"version": parent, "rewritten": 0, "deleted_rows": 0}
    hit = set(names_hit)
    rows_before = sum(r for n, _, _, r in ranges if n in hit)
    _, new_stats = _rewrite_without(spark, root, names_hit, schema, vic, key_col)
    rows_after = sum(e["rows"] for e in new_stats.values())
    kept_names = [n for n in manifest["files"] if n not in hit]
    version = _commit(
        root, kept_names + list(new_stats), manifest["schema"], f"delete:{key_col}", parent,
        stats=new_stats,
    )
    return {
        "version": version,
        "rewritten": len(names_hit),
        "deleted_rows": rows_before - rows_after,
    }


# the list form of the same verb (keys as a Python list)
delete_keys_versioned = delete_relation


def commit_stream_epoch(
    spark: SparkSession,
    root: str,
    batch_df: DataFrame,
    epoch_id: int,
    fingerprint: str,
) -> int | None:
    """Exactly-once APPEND of a streaming micro-batch as a snapshot commit,
    staged as one data file.

    Epoch identity is ``(epoch_id, content fingerprint)`` recorded in the
    manifest's ``epochs`` ledger — a dict :func:`_commit` carries into
    every child manifest, so the head's ledger is the one record of every
    epoch and replay detection survives :func:`vacuum` dropping the
    manifest that first recorded it.  (The ``op`` string names the epoch
    for humans only; nothing reads it back.)  Idempotence needs no sidecar
    files and inherits the manifest's atomicity:

    * a replay whose (id, fingerprint) pair is in the head's ledger is
      SKIPPED — even across checkpoint lifetimes, because the
      fingerprint, not the checkpoint, is the identity;
    * the same epoch id with a DIFFERENT fingerprint refuses loudly — a
      fresh checkpoint pointed at an old table would otherwise silently
      drop or double its first batches;
    * a crash after staging but before the manifest link leaves the table
      exactly at its previous snapshot, and the engine's replay of the
      epoch commits it cleanly (orphans go to :func:`vacuum`).

    Returns the committed version, or ``None`` when the replay was skipped.
    """
    root = root.rstrip("/")
    _require_local_path(root, "commit_stream_epoch")
    parent = current_version(root)
    manifest = _read_manifest(root, parent)
    key = str(epoch_id)
    prior_fp = manifest["epochs"].get(key)
    if prior_fp == fingerprint:
        return None  # durably committed — genuine replay
    if prior_fp is not None:
        raise RuntimeError(
            f"epoch {epoch_id} was already committed to {root!r} with a "
            f"different batch fingerprint ({prior_fp!r} vs {fingerprint!r}) "
            "— this is a fresh checkpoint reusing epoch ids against an old "
            "table, not a replay; refusing to guess which batch is real"
        )
    epoch_batch = _conform_to_schema(
        batch_df, manifest["schema"], "commit_stream_epoch"
    )
    if manifest["checks"]:
        # pin the batch bytes: without this, a non-deterministic source
        # could pass the CHECK scan yet stage different (violating) rows
        # in the second evaluation — the 'a bad batch fails its own
        # commit' guarantee must span both actions
        epoch_batch = epoch_batch.localCheckpoint(eager=True)
    _enforce_checks(epoch_batch, manifest, "commit_stream_epoch")
    new_names = _stage_files(epoch_batch, root, 1)
    return _commit(
        root, manifest["files"] + new_names, manifest["schema"],
        f"append-epoch:{epoch_id}:{fingerprint}", parent,
        stats=_collect_file_stats(root, new_names),
        epochs={**manifest["epochs"], key: fingerprint},
    )


def append_versioned(
    spark: SparkSession, root: str, df: DataFrame, n_files: int = 1
) -> int:
    """Plain INSERT INTO as a snapshot commit: the batch's files join the
    current manifest, nothing rewrites.  The cheapest write verb — O(batch)
    data, O(1) metadata — and the one a 100 TB ingest loop lives on."""
    root = root.rstrip("/")
    _require_local_path(root, "append_versioned")
    parent = current_version(root)
    manifest = _read_manifest(root, parent)
    batch = _conform_to_schema(df, manifest["schema"], "append_versioned")
    if manifest["checks"]:
        # same CHECK-vs-stage determinism pin as commit_stream_epoch
        batch = batch.localCheckpoint(eager=True)
    _enforce_checks(batch, manifest, "append_versioned")
    new_names = _stage_files(batch, root, n_files)
    return _commit(
        root, manifest["files"] + new_names, manifest["schema"], "append", parent,
        stats=_collect_file_stats(root, new_names),
    )


def compact(
    spark: SparkSession,
    root: str,
    small_file_bytes: int = 32 << 20,
    target_file_bytes: int = 128 << 20,
) -> dict:
    """Bin-pack small data files into target-sized ones as a snapshot
    commit — the OPTIMIZE verb.  An append-heavy table accretes one file
    per commit; at 100 TB that is millions of tiny files, and every scan
    pays per-file open/seek and per-task scheduling overhead.  Compaction
    rewrites ONLY the files under ``small_file_bytes`` (large files are
    left untouched — no full-table rewrite), packing their combined bytes
    into ``ceil(total/target_file_bytes)`` outputs.

    Content is preserved exactly (same rows, same schema; row order within
    the table is not part of the snapshot contract).  Crash-safety is the
    standard commit discipline: staged files are orphans until the
    manifest links, old files are never touched (time travel to
    pre-compaction versions keeps working until :func:`vacuum`), and a
    concurrent writer conflict surfaces as :class:`ConcurrentWriteError` —
    rerun on the new head."""
    root = root.rstrip("/")
    _require_local_path(root, "compact")
    pin_reader_conf(spark)
    parent = current_version(root)
    manifest = _read_manifest(root, parent)
    small, kept = [], []
    total = 0
    for n in manifest["files"]:
        size = os.path.getsize(f"{root}/{_DATA_DIR}/{n}")
        if size < small_file_bytes:
            small.append(n)
            total += size
        else:
            kept.append(n)
    if len(small) <= 1:
        return {"version": parent, "compacted": 0, "produced": 0, "untouched": len(manifest["files"])}
    n_out = max(1, -(-total // target_file_bytes))
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    packed = spark.read.schema(schema).parquet(
        *[f"{root}/{_DATA_DIR}/{n}" for n in small]
    )
    new_names = _stage_files(packed, root, n_out)
    version = _commit(
        root, kept + new_names, manifest["schema"], f"compact:{len(small)}->{len(new_names)}",
        parent, stats=_collect_file_stats(root, new_names),
    )
    return {
        "version": version,
        "compacted": len(small),
        "produced": len(new_names),
        "untouched": len(kept),
    }


def changes_between(
    spark: SparkSession, root: str, from_version: int, to_version: int
) -> DataFrame:
    """Row-level CDC between two snapshots: the multiset difference of the
    two versions, tagged ``change_type`` = 'insert' (in ``to`` but not
    ``from``) / 'delete' (in ``from`` but not ``to``); an updated row
    appears as its delete+insert pair.

    The scale lever is FILE pruning from the manifests alone: data files
    are immutable, so any file present in BOTH manifests contributes
    nothing to the diff and is never read.  A CDC consumer of a 100 TB
    table whose merge touched 3 files reads exactly the 3 rewritten files
    plus their replacements — the manifest diff is the incremental-read
    contract (the same reason :func:`merge_into_versioned` prunes by
    manifest stats).  Compaction rewrites files without changing content;
    its diff computes (over the repacked files) and is empty.

    Rows are compared on the FROM version's schema columns (a column added
    between the versions would otherwise tag every row as changed; callers
    diffing across an evolution compare the common prefix — the Iceberg
    convention)."""
    pin_reader_conf(spark)
    root = root.rstrip("/")
    if from_version == to_version:
        raise ValueError("changes_between: versions must differ")
    m_from = _read_manifest(root, from_version)
    m_to = _read_manifest(root, to_version)
    schema = T.StructType.fromJson(json.loads(m_from["schema"]))
    cols = schema.fieldNames()
    from_set, to_set = set(m_from["files"]), set(m_to["files"])
    only_from = [n for n in m_from["files"] if n not in to_set]
    only_to = [n for n in m_to["files"] if n not in from_set]

    def _read(names: list[str]) -> DataFrame:
        if not names:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(
            *[f"{root}/{_DATA_DIR}/{n}" for n in names]
        ).select(*cols)

    removed, added = _read(only_from), _read(only_to)
    return (
        added.exceptAll(removed).select(F.lit("insert").alias("change_type"), *cols)
        .unionByName(
            removed.exceptAll(added).select(F.lit("delete").alias("change_type"), *cols)
        )
    )


def table_history(spark: SparkSession, root: str) -> DataFrame:
    """One row per committed snapshot — (version, op_kind, n_files,
    n_rows) — computed ENTIRELY from manifests (their per-file row-count
    stats).  The DESCRIBE HISTORY face of the table: a 100 TB audit costs
    kilobytes of JSON, no data I/O."""
    root = root.rstrip("/")
    rows = []
    for v in table_versions(root):
        m = _read_manifest(root, v)
        n_rows = sum(m["stats"][n]["rows"] for n in m["files"])
        rows.append((v, m["op"].split(":", 1)[0], len(m["files"]), n_rows))
    return spark.createDataFrame(
        rows, "version int, op_kind string, n_files int, n_rows bigint"
    )


def version_as_of(root: str, ts: float) -> int:
    """``AS OF TIMESTAMP`` resolution: the latest version whose commit
    wall-clock is ≤ ``ts`` (epoch seconds).  Commit times are recorded in
    the manifests (clamped monotone along the parent chain at commit, so
    this binary-searchable mapping can never invert under clock
    adjustment); a purge preserves them — rewritten history keeps its
    original timeline.  Raises if ``ts`` predates the oldest retained
    version (vacuum may have dropped earlier ones — same contract as
    Delta's timestamp travel)."""
    root = root.rstrip("/")
    best = None
    for v in table_versions(root):
        if _read_manifest(root, v)["committed_at"] <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no version of {root!r} existed at ts={ts} (oldest retained "
            "version is newer)"
        )
    return best


def read_as_of(spark: SparkSession, root: str, ts: float) -> DataFrame:
    """Time travel by wall-clock: ``read_version`` at
    :func:`version_as_of`'s resolution."""
    return read_version(spark, root, version_as_of(root, ts))


def verify_table(root: str, deep: bool = False) -> dict:
    """fsck for a versioned table: walk every retained manifest and
    report — never raise — what a reader would hit.  Checks: manifest
    JSON parses and carries every field of the one manifest format,
    schema parses, each version's parent is the version before it
    (``_commit`` writes ``parent + 1``, so this holds across a hole in
    the version list, which is not damage: ``vacuum`` leaves one below
    the recent range for every ``keep_versions`` pin, and no read of a
    retained version crosses it), commit timestamps are monotone, the
    stats entries match the file list, every referenced data file exists
    (in every retained version, not only the head), and (``deep=True``)
    each file's footer row count matches its manifest stats entry (a
    stats/data divergence would silently corrupt MERGE/DELETE planning,
    which trusts the manifest).  O(manifests) shallow; deep adds one
    local footer read per referenced file.  Returns ``{"ok": bool,
    "versions": int, "problems": [str]}`` — the operational pre-flight
    before vacuum/purge maintenance."""
    root = root.rstrip("/")
    problems: list[str] = []
    versions = table_versions(root)
    if not versions:
        return {"ok": False, "versions": 0, "problems": ["no manifests found"]}
    fields = {"parent", "op", "files", "schema", "stats", "epochs", "checks",
              "dropped", "committed_at"}
    prev_ts = None
    for v in versions:
        try:
            m = _read_manifest(root, v)
        except (json.JSONDecodeError, OSError) as ex:
            problems.append(f"v{v}: manifest unreadable ({ex})")
            continue
        lacking = sorted(fields - m.keys())
        if lacking:
            problems.append(f"v{v}: manifest lacks {lacking}")
            continue
        try:
            T.StructType.fromJson(json.loads(m["schema"]))
        except Exception as ex:  # noqa: BLE001
            problems.append(f"v{v}: schema unparseable ({ex})")
        parent = v - 1 if v else None
        if m["parent"] != parent:
            problems.append(f"v{v}: parent={m['parent']} != {parent}")
        at = m["committed_at"]
        if prev_ts is not None and at < prev_ts:
            problems.append(f"v{v}: committed_at regressed ({at} < {prev_ts})")
        prev_ts = at
        stats = m["stats"]
        if stats.keys() != set(m["files"]):
            problems.append(f"v{v}: stats entries do not match the file list")
        for n in m["files"]:
            p = f"{root}/{_DATA_DIR}/{n}"
            if not os.path.exists(p):
                problems.append(f"v{v}: data file missing: {n}")
            elif deep and n in stats:
                import pyarrow.parquet as pq

                actual = pq.read_metadata(p).num_rows
                if actual != stats[n]["rows"]:
                    problems.append(
                        f"v{v}: {n} footer rows {actual} != manifest stats "
                        f"{stats[n]['rows']}"
                    )
    return {"ok": not problems, "versions": len(versions), "problems": problems}


def purge_relation(
    spark: SparkSession, root: str, key_col: str, victims
) -> dict:
    """Erase the victim keys from EVERY committed snapshot: the
    right-to-be-forgotten verb, and deliberately the ONE operation that
    rewrites history (:func:`delete_relation` removes rows from the head
    while time travel keeps serving them from older snapshots, which is
    exactly what an erasure request forbids).

    The victims come in the same two forms as :func:`delete_relation`,
    sharing everything but the hit-file finder (:func:`_victim_hits`): a
    Python LIST of keys (``purge_keys``; driver-side binary search, zero
    planning jobs) or a RELATION (a ``DELETE WHERE o_orderkey % 211 = 0``
    over 100 TB is not a key list; distributed range join, the keys never
    reach the driver and driver state stays O(files)).  Either way they
    are normalised once (:func:`_prepare_victims`; NULL/NaN are never
    targets), and every touched manifest's ``purged`` audit ledger gains
    one ``relation:<key_col>:n=<count>:ck=<checksum>`` entry: the victim
    count and an order-insensitive mod-2³² checksum, never the keys
    themselves (a ledger of erased keys would keep what it erased).

    Mechanics: the union of affected files across every retained manifest
    is found once (files are immutable and uniquely named, so a file
    shared by many manifests is planned and rewritten ONCE), and all of
    them are rewritten by ONE job (:func:`_rewrite_without`) under fresh
    immutable names — a file whose rows were all victims has no
    replacement.  Files are read with the by-name union of every retained
    manifest's schema, so a column dropped from the head keeps its values
    for the older snapshots that still read it.  Then every manifest that
    referenced a rewritten file is atomically REPLACED
    (:func:`manifest_log.replace`) with one referencing the new names;
    version numbers, ops, the epoch ledger and all other rows are
    preserved.  Readers see each manifest either before or after its
    single atomic replace, and both states are complete, valid snapshots
    (the old data file stays until :func:`vacuum` finds it unreferenced),
    so a crash mid-purge leaves every version readable and the purge
    re-runnable.  Manifests whose schema lacks the key column (it was
    added later) cannot contain victims.  Every file a retained manifest
    lists is on disk: :func:`vacuum` removes a manifest before the data
    only it referenced.

    Unlike every snapshot verb, purge is NOT safe against concurrent
    writers: a writer that read its parent manifest before the replace
    commits a child referencing the un-purged file names, resurrecting
    the rows.  MULTI-VERSION readers need the same window: a
    ``changes_between`` call racing the purge can observe one version
    flipped and the other not and report the victim rows as phantom
    inserts/deletes (single-version ``read_version`` always sees a
    complete, valid snapshot).  Run it in a maintenance window (the same
    exclusive contract every history-rewriting tool carries: git
    filter-branch, pg VACUUM FULL).

    Returns ``{"files_rewritten", "manifests_updated", "rows_removed"
    (per version), "victim_keys" (distinct victims)}``."""
    root = root.rstrip("/")
    _require_local_path(root, "purge_relation")
    pin_reader_conf(spark)
    versions = table_versions(root)
    empty = {"files_rewritten": 0, "manifests_updated": 0, "rows_removed": {}, "victim_keys": 0}
    if not versions:
        return empty
    manifests = {v: _read_manifest(root, v) for v in versions}
    # by-name union of every retained schema: columns are only added or
    # dropped (a dropped name never returns), so each name has one type,
    # and a rewritten file keeps every column any manifest reads from it
    schemas = [T.StructType.fromJson(json.loads(m["schema"])) for m in manifests.values()]
    union = T.StructType(list({f.name: f for s in schemas for f in s.fields}.values()))
    if key_col not in union.fieldNames():
        raise ValueError(f"column {key_col!r} exists in no version of {root!r}")
    ranges: dict[str, tuple] = {}
    for m, sch in zip(manifests.values(), schemas):
        if key_col in sch.fieldNames():
            ranges.update((r[0], r) for r in _file_ranges(m, key_col))
    vic, affected, n_vic, ck = _victim_hits(
        spark, victims, key_col, union[key_col], [r for _, r in sorted(ranges.items())]
    )
    if n_vic == 0:
        return empty
    entry = f"relation:{key_col}:n={n_vic}:ck={ck:08x}"
    replacement, new_stats = (
        _rewrite_without(spark, root, affected, union, vic, key_col)
        if affected else ({}, {})
    )
    removed_per_file = {
        old: ranges[old][3] - sum(new_stats[n]["rows"] for n in new)
        for old, new in replacement.items()
    }

    rows_removed: dict[int, int] = {}
    updated = 0
    for v in versions:
        m = manifests[v]
        hit = [n for n in m["files"] if n in replacement]
        rows_removed[v] = sum(removed_per_file[n] for n in hit)
        if not hit:
            continue
        next_files = sorted(
            n2 for n in m["files"] for n2 in replacement.get(n, [n])
        )
        stats = {**m["stats"], **new_stats}
        mlog.replace(_log(root), v, dict(
            m, files=next_files, stats={n: stats[n] for n in next_files},
            purged=sorted(set(m.get("purged", [])) | {entry}),
        ))
        updated += 1
    return {
        # emptied files count as rewritten: their content was re-examined
        # and their manifest entries dropped
        "files_rewritten": len(replacement),
        "manifests_updated": updated,
        "rows_removed": rows_removed,
        "victim_keys": n_vic,
    }


# the list form of the same verb (keys as a Python list)
purge_keys = purge_relation


def vacuum(
    root: str,
    keep_last: int = 2,
    grace_seconds: float = 600.0,
    keep_versions: set[int] | frozenset[int] | None = None,
    dry_run: bool = False,
    keep_newer_than_ts: float | None = None,
) -> dict:
    """Remove the manifests older than the ``keep_last`` most recent,
    then the data files no retained manifest references.

    ``keep_versions`` pins EXTRA versions beyond the recency window — the
    coordination hook for the multi-table catalog: pass
    ``catalog.pinned_versions(cat_root, name)`` so no retained catalog
    snapshot ever dangles (see catalog.py's retention note).

    Safe to run (and crash) at any time, INCLUDING concurrently with
    writers:

    * **Manifests before data.**  The manifests it does not retain go
      first, then the data files only they referenced.  A crash in
      between leaves orphan files, which are garbage by this module's
      contract; no listed manifest ever points at a reclaimed file.
    * **Orphan age threshold** (Iceberg-style): an unreferenced data file
      or stage dir younger than ``grace_seconds`` is SKIPPED.  Writers
      move staged files under ``data/`` BEFORE their manifest commits, so
      a zero-grace vacuum racing an in-flight commit would delete freshly
      staged files and let the writer commit a manifest referencing
      missing files — a corrupted committed snapshot.  The grace window
      must exceed the longest stage→commit gap (default 10 min; raise it
      for huge batch writes, or pass ``0`` only when no writer can be
      in flight).

    It deletes only what no retained snapshot (and no possibly-in-flight
    commit) references, so every surviving version stays exactly
    readable; an interrupted vacuum just leaves some garbage for the next
    one.  Exactly-once stream epochs need no manifest kept for them: the
    head's ``epochs`` ledger records every epoch."""
    _require_local_path(root, "vacuum")
    root = root.rstrip("/")
    versions = table_versions(root)
    if not versions:
        return {"data_files_removed": 0, "manifests_removed": 0}
    recent = versions[-keep_last:] if keep_last > 0 else versions[-1:]
    # age-based retention (Delta's retention-period face) rides the
    # manifest commit stamps: every version committed at-or-after the
    # cutoff is retained IN ADDITION to the keep_last window, so
    # AS-OF-timestamp travel stays answerable across the period
    by_age = set() if keep_newer_than_ts is None else {
        v for v in versions
        if _read_manifest(root, v)["committed_at"] >= keep_newer_than_ts
    }
    retained = set(recent) | by_age | (set(keep_versions or ()) & set(versions))
    live: set[str] = set()
    for v in retained:
        live.update(_read_manifest(root, v)["files"])
    dropped = 0
    for v in versions:
        if v in retained:
            continue
        if not dry_run:
            try:
                os.remove(_manifest_path(root, v))
            except FileNotFoundError:
                continue  # concurrent vacuum won the race
        dropped += 1
    now = time.time()
    removed = skipped_young = 0
    for path in glob.glob(f"{root}/{_DATA_DIR}/part-*.parquet"):
        if os.path.basename(path) in live:
            continue
        try:
            age = now - os.path.getmtime(path)
        except OSError:
            continue  # already gone (concurrent vacuum)
        if age < grace_seconds:
            skipped_young += 1  # possibly staged by an in-flight commit
            continue
        if not dry_run:
            try:
                os.remove(path)
            except FileNotFoundError:
                continue  # concurrent vacuum won the race
        removed += 1
    # stale stage dirs from crashed writers are unreferenced by definition,
    # but young ones may belong to a LIVE writer mid-stage — same grace
    for stale in glob.glob(f"{root}/.stage-*"):
        try:
            if now - os.path.getmtime(stale) < grace_seconds:
                continue
        except OSError:
            continue
        if not dry_run:
            shutil.rmtree(stale, ignore_errors=True)
    out = {
        "data_files_removed": removed,
        "manifests_removed": dropped,
        "young_orphans_skipped": skipped_young,
    }
    # ``dry_run=True`` REPORTS the same counters a real run would act on
    # and touches NOTHING — the operational what-if before a maintenance
    # window (pairs with verify_table's fsck)
    if dry_run:
        out["dry_run"] = True
    return out
