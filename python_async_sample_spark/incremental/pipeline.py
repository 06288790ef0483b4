"""Watermark-driven incremental pipeline — the reference's ETL core (§2.9).

Reference lifecycle (``nikon_ETL.py:293-336``, traced in SURVEY §3.1):

1. read own watermark from the state table (I1),
2. probe the source high-water ``max(endtime)`` (A1),
3. extract the half-open change window ``(own_wm, src_wm]`` (I2),
4. reconcile the batch against the target schema (§1.3),
5. delete-then-insert the window into the target (I3),
6. advance the watermark only after the write succeeds (I5),
7. loop in bounded 1-day chunks, hard stop at 30 iterations (I4),
8. downstream stages bound their window by the upstream's watermark (I7).

Every step is a DataFrame operation; the loop itself is driver logic, exactly
as in the reference — but each chunk is a distributed job instead of a
row-at-a-time coroutine insert.

A run reads its source once: the probe (2) and every window (5) see one
snapshot of the source's file listing. The probe is a one-job top-1 scan
(no shuffle), and a source that is an upstream target (``read_target``)
takes its schema from a parquet footer, so a run of N windows over it costs
N + 1 Spark jobs.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from python_async_sample_spark.incremental.sink import overwrite_window
from python_async_sample_spark.incremental.state import WatermarkStore
from python_async_sample_spark.sources.schema import reconcile

# Reference constants: 86 400 s chunk (nikon_ETL.py:463-466), 30-iteration cap
# (nikon_ETL.py:459-461).
CHUNK = timedelta(seconds=86_400)
MAX_ITER = 30


@dataclass
class IncrementalStage:
    """One (apname) stage: source DataFrame → overwrite-window target."""

    name: str
    source: Callable[[SparkSession], DataFrame]
    target_path: str
    ts_col: str
    target_schema: StructType | None = None  # None → source schema as-is
    transform: Callable[[DataFrame], DataFrame] | None = None
    upstream: str | None = None  # stage whose watermark bounds ours (I7)
    chunk: timedelta = field(default=CHUNK)
    max_iter: int = MAX_ITER


class IncrementalRunner:
    def __init__(self, spark: SparkSession, store: WatermarkStore, toolid: str = "NIKON"):
        self.spark = spark
        self.store = store
        self.toolid = toolid

    def source_high_water(self, stage: IncrementalStage) -> datetime | None:
        """Source max(ts) — the reference's Oracle watermark probe (A1,
        ``dbs/nikon.py:204-217``).

        Probed as integer microseconds, not as a timestamp row: collecting a
        TimestampType converts through the DRIVER's OS timezone, while the
        naive datetimes this pipeline feeds back into window predicates are
        interpreted in the SESSION timezone (UTC) — on a non-UTC driver the
        two disagree by the UTC offset and the catch-up silently drops the
        tail of the window. Integer micros → naive-UTC datetime is
        timezone-independent end to end.

        A top-1 scan (non-null ts, descending, limit 1) rather than a global
        ``max``: it runs as one job with no exchange, where the aggregate
        under AQE is a shuffle job plus a final job. The microseconds are
        converted with integer ``timedelta`` arithmetic, exactly.
        """
        ts = F.col(stage.ts_col)
        rows = (
            stage.source(self.spark)
            .where(ts.isNotNull())
            .orderBy(ts.desc())
            .limit(1)
            .select(F.unix_micros(ts).alias("us"))
            .collect()
        )
        if not rows:
            return None
        return datetime(1970, 1, 1) + timedelta(microseconds=rows[0]["us"])

    def run(self, stage: IncrementalStage) -> int:
        """Catch the stage up in bounded chunks. Returns chunk count."""
        own = self.store.get(self.toolid, stage.name)
        if own is None:
            raise ValueError(f"no enabled watermark row for ({self.toolid}, {stage.name})")

        # One source read per run: the probe and every window share this
        # DataFrame, so they see one snapshot of the source listing and the
        # reader (and any schema inference it does) runs once.
        src = stage.source(self.spark)
        stage = replace(stage, source=lambda _s: src)
        hi_bound = self.source_high_water(stage)
        if hi_bound is None:
            return 0
        if stage.upstream is not None:
            # Downstream window is bounded by the upstream stage's watermark
            # (reference: rot reads both wms, nikon_ETL.py:431-442).
            up_wm = self.store.get(self.toolid, stage.upstream)
            if up_wm is None:
                return 0
            hi_bound = min(hi_bound, up_wm)

        # Build the source plan once per catch-up run; each window re-filters
        # the same DataFrame (lazy — no data is held), instead of rebuilding
        # the transform/reconcile chain per chunk.
        prepared = self._prepared_source(stage)
        iters = 0
        while own < hi_bound and iters < stage.max_iter:
            hi = min(own + stage.chunk, hi_bound)
            overwrite_window(prepared, stage.target_path, stage.ts_col, own, hi)
            self.store.put(self.toolid, stage.name, hi)  # advance AFTER write (I5)
            own = hi
            iters += 1
        return iters

    def _prepared_source(self, stage: IncrementalStage) -> DataFrame:
        df = stage.source(self.spark)
        if stage.transform is not None:
            df = stage.transform(df)
        if stage.target_schema is not None:
            df = reconcile(df, stage.target_schema)
        return df

    def run_cascade(self, stages: list[IncrementalStage]) -> dict[str, int]:
        """Run stages in order (reference: EDC_Import → ROT_Transform →
        AVM_Process, ``nikon_ETL.py:627-632``)."""
        return {s.name: self.run(s) for s in stages}
