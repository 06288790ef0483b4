"""The three fab workloads, each driving the engine's public functions.

A workload generates its inputs from the seed (timed apart from set-up),
``prepare``s a fresh session-side state, ``warmup``s over the same path it
measures, then runs ``unit``s: one lookup, one catch-up round or one
product batch.  A unit returns the latencies of the operations it timed and
the rows those operations moved.  ``named`` turns the units into the
workload's own metrics; ``gated`` says which of them fill the benchmark's
shared end-to-end slots.  ``check`` recomputes every output independently
(DuckDB or numpy over the generated frames) and returns the failures.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from datetime import datetime

import duckdb
import numpy as np
import pandas as pd

from perfbench import gen

now = time.perf_counter


class Unit:
    """What one unit of work did."""

    def __init__(self):
        self.ops: list[float] = []  # latency of each timed operation
        self.rows = 0  # rows those operations returned or landed
        self.rows_time = 0.0  # wall time the rows are rated over
        self.extra: dict[str, list[float]] = {}  # named sub-latencies

    def add(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)


class Workload:
    name = ""
    op_name = ""  # root span name of one unit
    probe_units = 1  # traced units whose counts are replayed and compared
    whole = 1  # the measured loop stops only after a multiple of this many units
    gated: dict[str, str] = {}  # benchmark end-to-end slot -> this workload's named metric

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs: gen.Inputs | None = None

    def generate(self) -> gen.Inputs:
        raise NotImplementedError

    def prepare(self, spark, tracer, k: int) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def prime(self) -> None:
        """One untimed unit after the set-ups, when a light warm-up leaves
        the first measured unit slower than the rest."""

    def unit(self, i: int, req: int | None = None) -> Unit | None:
        """Unit ``i`` (None when the inputs are used up); ``req`` is its
        request id in the trace, ``i`` by default."""
        raise NotImplementedError

    def repeat(self, i: int, req: int) -> None:
        """Do unit ``i``'s work again from the state it started in, for the
        exact-repeat count check."""
        self.unit(i, req)

    def after_traced(self, i: int) -> None:
        """Extra traced-run work after unit ``i``, outside its timing."""

    def check(self) -> list[str]:
        raise NotImplementedError

    def named(self, units: list[Unit]) -> dict:
        raise NotImplementedError

    def rates(self, units: list[Unit]) -> tuple[float, float]:
        """Operations per second of wall time and rows per second of rated
        time, each the median over whole groups of units: a unit slowed by
        a passing stall moves one group, not the figure."""
        groups = [units[k:k + self.whole] for k in range(0, len(units) - self.whole + 1, self.whole)]
        return (statistics.median(sum(len(u.ops) for u in g) / sum(u.wall for u in g) for g in groups),
                statistics.median(sum(u.rows for u in g) / sum(u.rows_time for u in g) for g in groups))

    def layers(self, tr, traced: list[int]) -> dict:
        """Per-layer times and ratios from the traced units."""
        raise NotImplementedError

    def counts(self, tr, reqs: list[int]) -> dict:
        """Per-layer counts over the requests ``reqs``: these repeat exactly."""
        raise NotImplementedError

    def roots(self, tr, reqs) -> list[dict]:
        reqs = set(reqs)
        return [s for s in tr.roots() if s["name"] == self.op_name and s["req"] in reqs]


def per_span(tr, name: str) -> float:
    """Mean self time of the spans called ``name``."""
    return tr.self_times().get(name, 0.0) / max(1, len(tr.named(name)))


def tail(prefix: str, values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, if any."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return {}
    return {f"{prefix}_p{100.0 * (n - 10) / n:.3g}_s": (xs[n - 11], "s")}


# ---------------------------------------------------------------------------
# eda_lookup
# ---------------------------------------------------------------------------

LINK = ["glass_id", "step_id", "glass_start_time"]
WARMUP_LOOKUPS = 2


class EdaLookup(Workload):
    name = "eda_lookup"
    op_name = "eda_lookup.request"
    probe_units = 3
    whole = len(gen.SIZE_LADDER)  # whole passes over the size ladder
    gated = {"op_p50_s": "lookup_p50_s", "ops_per_s": "lookups_per_s", "rows_per_s": "lookup_rows_per_s"}

    def generate(self):
        self.inputs = gen.eda_inputs(self.seed, f"{self.work}/eda")
        self.results: list[tuple[list[str], list[tuple]]] = []
        return self.inputs

    def prepare(self, spark, tracer, k):
        from python_async_sample_spark.api.scatter_gather import KeyedQuery
        from python_async_sample_spark.sources.readers import pin_reader_conf

        self.spark, self.tr = spark, tracer
        pin_reader_conf(spark)
        p = self.inputs.paths
        self.kq = KeyedQuery(
            history=spark.read.parquet(p["history"]),
            result=spark.read.parquet(p["result"]),
            key_col="glass_id",
            link_cols=LINK,
        )
        self.summary = spark.read.parquet(p["summary"])

    def _lookup(self, keys: list[str]) -> list:
        tr = self.tr
        with tr.span("api.build"):
            kdf = self.spark.createDataFrame([(g,) for g in keys], "glass_id string")
            df = self.kq.glass_raw_data(kdf, self.summary)
        with tr.span("api.action"):
            return df.collect()

    def warmup(self):
        # requests the measured loop never asks
        for j in range(WARMUP_LOOKUPS):
            self._lookup(gen.lookup_request(self.seed + 1_000_003, j))

    def unit(self, i, req=None):
        keys = gen.lookup_request(self.seed, i)
        u = Unit()
        with self.tr.request(self.op_name, i if req is None else req) as a:
            t = now()
            rows = self._lookup(keys)
            u.ops.append(now() - t)
            a["rows"] = len(rows)
        u.rows, u.rows_time = len(rows), u.ops[0]
        self.results.append((keys, [tuple(r) for r in rows]))
        return u

    def check(self):
        f = self.inputs.frames
        con = duckdb.connect()
        for name in ("history", "result", "summary"):
            con.register(name, f[name])
        bad = []
        for n, (keys, got) in enumerate(self.results):
            con.register("keys", pd.DataFrame({"glass_id": keys}))
            want = con.execute(
                """
                SELECT r.* FROM result r
                WHERE EXISTS (SELECT 1 FROM history h JOIN keys k USING (glass_id)
                              WHERE h.glass_id = r.glass_id AND h.step_id = r.step_id
                                AND h.glass_start_time = r.glass_start_time)
                  AND EXISTS (SELECT 1 FROM summary s
                              WHERE s.glass_id = r.glass_id AND s.step_id = r.step_id
                                AND s.glass_start_time = r.glass_start_time)
                """
            ).fetchall()
            if sorted(map(_canon, got)) != sorted(map(_canon, want)):
                bad.append(f"lookup {n}: {len(got)} rows, semi-join gives {len(want)}")
        con.close()
        return bad

    def named(self, units):
        lat = [u.ops[0] for u in units]
        per_s, rows_per_s = self.rates(units)
        return {
            "lookup_p50_s": (statistics.median(lat), "s"),
            "lookups_per_s": (per_s, "1/s"),
            "lookup_rows_per_s": (rows_per_s, "rows/s"),
            **tail("lookup", lat),
        }

    def layers(self, tr, traced):
        st = tr.self_times()
        n = max(1, len(traced))
        roots = self.roots(tr, traced)
        returned = sum(s["attrs"].get("rows", 0) for s in roots)
        return {
            "api.build_s": (st.get("api.build", 0.0) / n, "s"),
            "api.action_s": (st.get("api.action", 0.0) / n, "s"),
            "api.rows_examined_per_row_returned": (
                tr.job_sum(roots, "input_rec") / max(1, returned), "ratio"),
        }

    def counts(self, tr, reqs):
        return {"api.jobs_per_lookup": (tr.job_count(self.roots(tr, reqs)) / len(reqs), "count")}


def _canon(row) -> tuple:
    return tuple(v.isoformat() if isinstance(v, datetime) else v for v in row)


# ---------------------------------------------------------------------------
# etl_catchup
# ---------------------------------------------------------------------------

STAGES = ("EDC_Import", "ROT_Transform", "AVM_Process")
AVM_MIN_UM = 8000.0


def _expected_stages(frame: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """The three targets recomputed in pandas from the raw events."""
    edc = frame.drop(columns=["login_time"]).assign(value=frame["value"].astype(float))
    rot = edc[edc["operationid"].isin(gen.ROT_OPS)].assign(value_um=lambda d: d["value"] * 1000.0)
    avm = rot.loc[rot["value_um"] > AVM_MIN_UM, ["toolid", "glassid", "productid", "endtime", "value_um"]]
    return {"EDC_Import": edc, "ROT_Transform": rot, "AVM_Process": avm}


class EtlCatchup(Workload):
    name = "etl_catchup"
    op_name = "etl_catchup.round"
    gated = {"op_p50_s": "window_commit_p50_s", "ops_per_s": "windows_per_s",
             "rows_per_s": "catchup_rows_per_s"}

    def generate(self):
        self.inputs = gen.etl_inputs(self.seed, f"{self.work}/etl")
        f = self.inputs.frames
        self.expected = _expected_stages(pd.concat([f["backlog"], f["late"]], ignore_index=True))
        self.catchup_rows = sum(len(x) for x in _expected_stages(f["backlog"]).values())
        # each stage's source high-water, capped by its upstream watermark
        self.high_water = {"EDC_Import": f["backlog"]["endtime"].max()}
        for up, s in zip(STAGES, STAGES[1:]):
            self.high_water[s] = min(self.high_water[up], self.expected[up]["endtime"].max())
        self.rounds: list[str] = []
        return self.inputs

    def prepare(self, spark, tracer, k):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from python_async_sample_spark.incremental import pipeline
        from python_async_sample_spark.incremental.state import WatermarkStore
        from python_async_sample_spark.sources import hadoop_fs

        self.spark, self.tr, self.k = spark, tracer, k
        self.F = F
        self.schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in
             ("toolid", "operationid", "productid", "chamberid", "glassid")]
            + [T.StructField("endtime", T.TimestampType()), T.StructField("tstamp", T.TimestampType()),
               T.StructField("recipeid", T.StringType()), T.StructField("value", T.DoubleType())]
        )
        self.fs_ops = 0
        self.commits: list[float] = []
        self._win_start: float | None = None
        if not getattr(pipeline, "_perfbench_hooked", False):
            _install_etl_hooks(pipeline, hadoop_fs)
        pipeline._perfbench_owner = self
        bench = self

        class TimedStore(WatermarkStore):
            """Times each watermark advance and closes the window commit
            it ends (overwrite, then advance: the I5 ordering)."""

            def put(self, toolid, apname, wm):
                with bench.tr.span("incremental.state.put"):
                    super().put(toolid, apname, wm)
                if bench._win_start is not None:
                    bench.commits.append(now() - bench._win_start)
                    bench._win_start = None

        self.store_cls = TimedStore

    def _stages(self, rd: str):
        from python_async_sample_spark.incremental import IncrementalStage, read_target

        F = self.F
        edc, rot, avm = (f"{rd}/{s}" for s in STAGES)
        return [
            IncrementalStage("EDC_Import", lambda s: s.read.parquet(f"{rd}/raw"), edc, "endtime",
                             target_schema=self.schema),
            IncrementalStage("ROT_Transform", lambda s: read_target(s, edc), rot, "endtime",
                             transform=lambda d: d.where(F.col("operationid").isin(*gen.ROT_OPS))
                             .withColumn("value_um", F.col("value") * 1000.0),
                             upstream="EDC_Import"),
            IncrementalStage("AVM_Process", lambda s: read_target(s, rot), avm, "endtime",
                             transform=lambda d: d.where(F.col("value_um") > AVM_MIN_UM)
                             .select("toolid", "glassid", "productid", "endtime", "value_um"),
                             upstream="ROT_Transform"),
        ]

    def _round(self, rd: str, start: datetime = gen.ETL_T0, redeliver: bool = True) -> Unit:
        """Catch the three stages up from ``start``; then, if ``redeliver``,
        the late-data fix: late rows land, every watermark rewinds off a day
        boundary, and the cascade re-delivers the tail."""
        from python_async_sample_spark.incremental import IncrementalRunner

        os.makedirs(f"{rd}/raw")
        shutil.copy(self.inputs.paths["backlog"], f"{rd}/raw/")
        store = self.store_cls(self.spark, f"{rd}/state")
        for s in STAGES:
            store.put("NIKON", s, start)
        stages = self._stages(rd)
        runner = IncrementalRunner(self.spark, store)
        u = Unit()
        self.commits = []
        self.phase = "catchup"
        t = now()
        with self.tr.span("etl.catchup"):
            runner.run_cascade(stages)
        catchup = now() - t
        if not redeliver:
            return u
        shutil.copy(self.inputs.paths["late"], f"{rd}/raw/")
        for s in STAGES:
            store.put("NIKON", s, gen.ETL_REWIND)
        self.phase = "redelivery"
        t = now()
        with self.tr.span("etl.redelivery"):
            runner.run_cascade(stages)
        u.add("redelivery_s", now() - t)
        u.ops.extend(self.commits)
        u.rows, u.rows_time = self.catchup_rows, catchup
        return u

    def warmup(self):
        # one window per stage: catch up the short tail after the rewind point
        self._round(f"{self.work}/etl/s{self.k}/warm", start=gen.ETL_REWIND, redeliver=False)

    def prime(self):
        self._round(f"{self.work}/etl/s{self.k}/prime")

    def unit(self, i, req=None):
        rd = f"{self.work}/etl/s{self.k}/r{i if req is None else req}"
        with self.tr.request(self.op_name, i if req is None else req):
            u = self._round(rd)
        self.rounds.append(rd)
        return u

    def check(self):
        bad = []
        con = duckdb.connect()
        for rd in self.rounds:
            for s in STAGES:
                got = con.execute(
                    f"SELECT * EXCLUDE (__dt) FROM read_parquet('{rd}/{s}/*/*.parquet', "
                    "hive_partitioning=true) ORDER BY glassid"
                ).df()
                want = self.expected[s].sort_values("glassid").reset_index(drop=True)
                if got["glassid"].duplicated().any():
                    bad.append(f"{rd}/{s}: duplicate rows after re-delivery")
                cols = list(want.columns)
                got_v = got[cols].reset_index(drop=True)
                for c in ("endtime", "tstamp"):
                    if c in cols:
                        got_v[c] = got_v[c].astype("datetime64[us]")
                        want = want.assign(**{c: want[c].astype("datetime64[us]")})
                if len(got_v) != len(want) or not got_v.equals(want[cols]):
                    bad.append(f"{rd}/{s}: target differs from its source window "
                               f"({len(got_v)} rows vs {len(want)})")
            wm = con.execute(
                f"SELECT apname, last_end_time FROM read_parquet('{rd}/state/lastendtime.parquet')"
            ).fetchall()
            for ap, ts in wm:
                if pd.Timestamp(ts) != self.high_water[ap]:
                    bad.append(f"{rd}: watermark {ap} at {ts}, high-water {self.high_water[ap]}")
        con.close()
        return bad

    def named(self, units):
        commits = [x for u in units for x in u.ops]
        per_s, rows_per_s = self.rates(units)
        return {
            "window_commit_p50_s": (statistics.median(commits), "s"),
            "windows_per_s": (per_s, "1/s"),
            "catchup_rows_per_s": (rows_per_s, "rows/s"),
            "redelivery_s": (statistics.median(x for u in units for x in u.extra["redelivery_s"]), "s"),
        }

    def layers(self, tr, traced):
        wins = tr.named("incremental.sink.window")
        redo_wins = [s for s in wins if s["attrs"].get("redelivery")]
        new_rows = sum(s["attrs"]["new_rows"] for s in redo_wins)
        return {
            "incremental.pipeline.probe_s": (per_span(tr, "incremental.pipeline.probe"), "s"),
            "sources.schema.reconcile_s": (per_span(tr, "sources.schema.reconcile"), "s"),
            "incremental.sink.window_s": (per_span(tr, "incremental.sink.window"), "s"),
            "incremental.state.put_s": (per_span(tr, "incremental.state.put"), "s"),
            "incremental.sink.rewrite_rows_per_new_row": (
                tr.job_sum(redo_wins, "output_rec") / max(1, new_rows), "ratio"),
        }

    def counts(self, tr, reqs):
        wins = [s for s in tr.named("incremental.sink.window") if s["req"] in set(reqs)]
        n = max(1, len(wins))
        return {
            "incremental.pipeline.windows": (len(wins) / len(reqs), "count"),
            "incremental.sink.jobs_per_window": (tr.job_count(wins) / n, "count"),
            "incremental.sink.fs_ops_per_window": (sum(s["attrs"]["fs_ops"] for s in wins) / n, "count"),
        }


def _install_etl_hooks(pipeline, hadoop_fs) -> None:
    """Wrap the incremental layer's public calls once per process: the
    window overwrite and the source probe and reconcile it sequences, plus
    a count of Hadoop FileSystem calls.  The wrappers only time and count;
    the owner is the workload object of the current set-up."""
    orig_overwrite = pipeline.overwrite_window
    orig_reconcile = pipeline.reconcile
    orig_probe = pipeline.IncrementalRunner.source_high_water

    def overwrite_window(df, target_path, ts_col, lo, hi):
        bench = pipeline._perfbench_owner
        bench._win_start = now()
        stage = os.path.basename(target_path)
        fs0 = bench.fs_ops
        with bench.tr.span("incremental.sink.window", stage=stage,
                           redelivery=bench.phase == "redelivery") as a:
            orig_overwrite(df, target_path, ts_col, lo, hi)
            if bench.tr.on:
                a["fs_ops"] = bench.fs_ops - fs0
                e = bench.expected[stage]["endtime"]
                a["new_rows"] = int(((e > pd.Timestamp(lo)) & (e <= pd.Timestamp(hi))).sum())

    def reconcile(df, target):
        with pipeline._perfbench_owner.tr.span("sources.schema.reconcile"):
            return orig_reconcile(df, target)

    def source_high_water(self, stage):
        with pipeline._perfbench_owner.tr.span("incremental.pipeline.probe"):
            return orig_probe(self, stage)

    def counted(fn):
        def wrapper(*args, **kwargs):
            pipeline._perfbench_owner.fs_ops += 1
            return fn(*args, **kwargs)
        return wrapper

    pipeline.overwrite_window = overwrite_window
    pipeline.reconcile = reconcile
    pipeline.IncrementalRunner.source_high_water = source_high_water
    for name in ("exists", "delete", "listdir", "rename"):
        setattr(hadoop_fs, name, counted(getattr(hadoop_fs, name)))
    pipeline._perfbench_hooked = True


# ---------------------------------------------------------------------------
# rot_batch
# ---------------------------------------------------------------------------

ROT_TABLES = ("header", "detail", "rejects")
KERNEL_REQ = 1_000_000  # request ids of the isolated kernel runs


def fit_np(x, y, dx, dy) -> tuple[float, float, float]:
    """Least-squares (shift_x, shift_y, tan_theta) by numpy lstsq."""
    n = len(x)
    a = np.zeros((2 * n, 3))
    a[:n, 0], a[:n, 2] = 1.0, -dy
    a[n:, 1], a[n:, 2] = 1.0, dx
    b = np.concatenate([-x, -y])
    sol = np.linalg.lstsq(a, b, rcond=None)[0]
    return float(sol[0]), float(sol[1]), float(sol[2])


class RotBatch(Workload):
    name = "rot_batch"
    op_name = "rot_batch.batch"
    whole = gen.ROT_MIX  # whole groups of batches with the same design/no-design mix
    gated = {"op_p50_s": "rot_batch_p50_s", "ops_per_s": "rot_batches_per_s",
             "rows_per_s": "rot_glasses_per_s"}

    def generate(self):
        self.inputs = gen.rot_inputs(self.seed, f"{self.work}/rot")
        self.batches = gen.rot_batches(self.seed)
        return self.inputs

    def prepare(self, spark, tracer, k):
        from pyspark.sql import functions as F

        from python_async_sample_spark.pipelines.rot_pipeline import run_rot
        from python_async_sample_spark.sources.readers import pin_reader_conf

        self.spark, self.tr, self.F, self.k = spark, tracer, F, k
        pin_reader_conf(spark)
        raw = self.inputs.frames["rawdata"]
        design = sorted(raw.loc[raw["product"].isin(self.inputs.frames["design_products"]), "glass"].unique())
        self.raw = spark.read.parquet(self.inputs.paths["rawdata"])
        self.design = spark.createDataFrame([(g,) for g in design], "glass string")
        self.empty = run_rot(self.raw.where(F.lit(False)), self.design, check_grid=True)
        self.tables = self._tables("main")
        self.done: list[tuple[str, int]] = []

    def _tables(self, tag: str) -> tuple[dict, str]:
        """Empty header, detail and rejects tables plus the catalog over them."""
        from python_async_sample_spark.sources import catalog, versioned

        base = f"{self.work}/rot/s{self.k}/{tag}"
        roots = {name: f"{base}/{name}" for name in ROT_TABLES}
        for name, root in roots.items():
            versioned.create_table(self.spark, root, getattr(self.empty, name), n_files=1)
        catalog.catalog_create(f"{base}/catalog", roots)
        return roots, f"{base}/catalog"

    def _batch_df(self, product: str, lot: int):
        F = self.F
        return self.raw.where((F.col("product") == product) & (F.col("lot") == lot))

    def _batch(self, b: int, tables: tuple[dict, str]) -> float:
        """Rawdata to catalog flip for batch ``b``; returns its latency."""
        from python_async_sample_spark.pipelines.rot_pipeline import run_rot
        from python_async_sample_spark.sources import catalog, versioned

        roots, cat = tables
        tr = self.tr
        t = now()
        with tr.span("pipelines.rot_pipeline.build"):
            out = run_rot(self._batch_df(*self.batches[b]), self.design, check_grid=True)
        pins = {}
        for name in ROT_TABLES:
            with tr.span("sources.versioned.append"):
                pins[name] = versioned.append_versioned(self.spark, roots[name], getattr(out, name))
        with tr.span("sources.catalog.commit"):
            catalog.catalog_commit(cat, pins)
        return now() - t

    def warmup(self):
        # prepare's empty run_rot plan and three table writes are the
        # warm-up; the priming batch finishes it outside set-up timing
        pass

    def prime(self):
        # the last batch; the measured loop stops before it
        self._batch(len(self.batches) - 1, self.tables)
        self.done.append(self.batches[-1])

    def unit(self, i, req=None):
        if i >= len(self.batches) - 1:
            return None
        u = Unit()
        with self.tr.request(self.op_name, i if req is None else req):
            u.ops.append(self._batch(i, self.tables))
        u.rows, u.rows_time = gen.ROT_GLASSES_PER_LOT, u.ops[0]
        self.done.append(self.batches[i])
        return u

    def repeat(self, i, req):
        # fresh tables that see the same appends as the main ones did up to
        # batch ``i``: the priming batch, then batches 0 .. i-1, untraced
        tables = self._tables(f"repeat{req}")
        on, self.tr.on = self.tr.on, False
        for b in [len(self.batches) - 1, *range(i)]:
            self._batch(b, tables)
        self.tr.on = on
        with self.tr.request(self.op_name, req):
            self._batch(i, tables)

    def after_traced(self, i):
        from python_async_sample_spark.kernels.rot import fit_rot

        clean = self._batch_df(*self.batches[i]).dropna(subset=["x", "y"])
        with self.tr.request("kernels.rot.fit", KERNEL_REQ + i):
            fit_rot(clean, ["glass"]).write.format("noop").mode("overwrite").save()

    def _expected(self):
        raw = self.inputs.frames["rawdata"]
        keys = pd.MultiIndex.from_tuples(self.done)
        sel = raw[pd.MultiIndex.from_arrays([raw["product"], raw["lot"]]).isin(keys)]
        design = set(self.inputs.frames["design_products"])
        header, detail, rejects = [], [], 0
        for glass, g in sel.groupby("glass", sort=True):
            if g["product"].iat[0] not in design:
                header.append((glass, -2, 0, "no design value"))
                continue
            miss = g["x"].isna() | g["y"].isna()
            rejects += int(miss.sum())
            c = g[~miss]
            if c["dx"].nunique() * c["dy"].nunique() != len(c):
                header.append((glass, -3, len(c), "broken position grid"))
                continue
            header.append((glass, 1, len(c), "ok"))
            x, y, dx, dy = (c[k].to_numpy(float) for k in ("x", "y", "dx", "dy"))
            sx, sy, t = fit_np(x, y, dx, dy)
            names = c["site_name"].to_numpy()
            detail.append(pd.DataFrame({
                "rot_id": glass,
                "item_name": np.concatenate([names + "_x", names + "_y"]),
                "want": np.concatenate([x + sx - dy * t, y + sy + dx * t]),
            }))
        return header, pd.concat(detail, ignore_index=True), rejects, len(sel)

    def check(self):
        from python_async_sample_spark.sources.catalog import catalog_read

        header, detail, n_rejects, n_raw = self._expected()
        cat = self.tables[1]
        bad = []
        got_h = catalog_read(self.spark, cat, "header").toPandas()
        got_h = sorted(zip(got_h["rot_id"], got_h["flag"], got_h["n_sites"], got_h["descr"]))
        if got_h != header:
            bad.append(f"header: {len(got_h)} rows differ from the recomputed {len(header)}")
        got_d = catalog_read(self.spark, cat, "detail").toPandas()
        both = detail.merge(got_d, on=["rot_id", "item_name"], how="outer", indicator=True)
        if (both["_merge"] != "both").any() or len(got_d) != len(detail):
            bad.append(f"detail: {len(got_d)} rows, expected {len(detail)}")
        elif not np.allclose(both["rot_rs"], both["want"], rtol=1e-9, atol=1e-9):
            err = float(np.max(np.abs(both["rot_rs"] - both["want"])))
            bad.append(f"detail: fit differs from numpy lstsq by up to {err:.3g}")
        got_r = catalog_read(self.spark, cat, "rejects").count()
        self.out_reject_share = got_r / max(1, n_raw)
        if got_r != n_rejects:
            bad.append(f"rejects: {got_r} rows, expected {n_rejects}")
        return bad

    def named(self, units):
        per_s, rows_per_s = self.rates(units)
        return {
            "rot_batch_p50_s": (statistics.median(u.ops[0] for u in units), "s"),
            "rot_batches_per_s": (per_s, "1/s"),
            "rot_glasses_per_s": (rows_per_s, "glasses/s"),
        }

    def layers(self, tr, traced):
        return {
            "pipelines.rot_pipeline.build_s": (per_span(tr, "pipelines.rot_pipeline.build"), "s"),
            "sources.versioned.append_s": (per_span(tr, "sources.versioned.append"), "s"),
            "sources.catalog.commit_s": (per_span(tr, "sources.catalog.commit"), "s"),
            "kernels.rot.fit_s": (per_span(tr, "kernels.rot.fit"), "s"),
            "operators.validate.reject_share": (self.out_reject_share, "share"),
        }

    def counts(self, tr, reqs):
        return {"pipelines.rot_pipeline.rawdata_scans": (
            tr.job_sum(self.roots(tr, reqs), "scan_stages") / len(reqs), "count")}


WORKLOADS = {w.name: w for w in (EdaLookup, EtlCatchup, RotBatch)}
