"""Seeded input generator for the fab-workload benchmark.

Every table follows a FIXTURES.md shape and is a pure function of the seed:
the same seed writes byte-identical inputs.  The engine only ever sees the
parquet files written here; the benchmark's output checks recompute the
expected results from the in-memory frames this module returns.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- eda_lookup: index_glassout-shaped history + array_result_v EAV facts ---
N_GLASS = 8_000
STEPS = ("DA60", "1360", "2300")
PARAMS = ("TP_X", "TP_Y", "OVL_X", "OVL_Y")
SITES = ("1", "2")
SUMMARY_SHARE = 0.9  # links whose params are present in the summary view
# request sizes: a log-spaced ladder over three orders of magnitude, visited
# in a seeded order, so every full pass asks for the same total work
SIZE_LADDER = tuple(int(round(v)) for v in np.geomspace(1, 1000, 6))
ZIPF_S = 0.8  # skew toward recent glasses

# --- etl_catchup: multi-day tool-event backlog (index_glassout shape) ---
ETL_T0 = datetime(2024, 1, 1)
ETL_DAYS = 2  # one-day windows: 2 per stage on catch-up, 1 on re-delivery
# a third of the density of a 1M-row backlog over 11 one-day windows, so a
# run measures several rounds
ETL_ROWS_PER_DAY = 30_000
ETL_ROWS = ETL_DAYS * ETL_ROWS_PER_DAY
ETL_LATE_ROWS = 600
ETL_OPS = ("2300", "D300", "1360", "DA60", "3100", "4100")
ROT_OPS = ("2300", "D300")  # the ROT_Transform stage's operations
# the late-data fix rewinds every watermark here: not on a day boundary
ETL_REWIND = ETL_T0 + timedelta(days=1, hours=10, minutes=17, seconds=23)

# --- rot_batch: long rawdata (glass x alignment site) ---
ROT_PRODUCTS = 8
ROT_NO_DESIGN = 2  # products without design values (flag -2)
ROT_LOTS = 6  # batches per product
ROT_MIX = 4  # batches per group: 3 with design values, 1 without
ROT_GLASSES_PER_LOT = 60
ROT_NULL_SHARE = 0.01
# alignment sites per glass: one grid, so batches do equal work; 24 sites
# is a multiple of 6 within the reference's 48-site cap (FIXTURES.md section 13)
ROT_GRID = (6, 4)


def _ts_us(values) -> pa.Array:
    return pa.array(pd.to_datetime(values).astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(df: pd.DataFrame, path: str, ts_cols=()) -> int:
    table = pa.Table.from_pandas(df, preserve_index=False)
    for c in ts_cols:
        table = table.set_column(table.schema.get_field_index(c), c, _ts_us(df[c]))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


@dataclass
class Inputs:
    """Paths of the written tables plus the frames the checks recompute from."""

    paths: dict
    frames: dict
    bytes_written: int

    @property
    def rows(self) -> int:
        return sum(len(f) for f in self.frames.values() if isinstance(f, pd.DataFrame))


def eda_inputs(seed: int, out: str) -> Inputs:
    rng = np.random.default_rng([seed, 1])
    glass = np.array([f"G{i:07d}" for i in range(N_GLASS)])
    t0 = np.datetime64("2024-01-01T00:00:00")
    g_start = t0 + (np.arange(N_GLASS) * 37).astype("timedelta64[s]")
    hist = pd.DataFrame(
        {
            "glass_id": np.repeat(glass, len(STEPS)),
            "step_id": np.tile(STEPS, N_GLASS),
            "glass_start_time": np.repeat(g_start, len(STEPS))
            + np.tile(np.arange(len(STEPS)) * 600, N_GLASS).astype("timedelta64[s]"),
            "toolid": np.repeat([f"TLCD0{k}01" for k in rng.integers(1, 9, N_GLASS)], len(STEPS)),
            "product_id": np.repeat([f"TL160A0{k}" for k in rng.integers(1, 9, N_GLASS)], len(STEPS)),
        }
    )
    per_link = len(PARAMS) * len(SITES)
    link_idx = np.repeat(np.arange(len(hist)), per_link)
    result = pd.DataFrame(
        {
            "glass_id": hist["glass_id"].to_numpy()[link_idx],
            "step_id": hist["step_id"].to_numpy()[link_idx],
            "glass_start_time": hist["glass_start_time"].to_numpy()[link_idx],
            "param_collection": np.where(
                hist["step_id"].to_numpy()[link_idx] == "DA60", "ARRAY_TP", "ARRAY_OVL"
            ),
            "param_name": np.tile(np.repeat(PARAMS, len(SITES)), len(hist)),
            "param_value": np.round(rng.normal(0.0, 1.5, len(link_idx)), 6),
            "site_name": np.tile(SITES, len(hist) * len(PARAMS)),
        }
    )
    present = rng.random(len(hist)) < SUMMARY_SHARE
    summary = hist.loc[present, ["glass_id", "step_id", "glass_start_time"]].reset_index(drop=True)
    paths = {
        "history": f"{out}/history/part-0.parquet",
        "result": f"{out}/result/part-0.parquet",
        "summary": f"{out}/summary/part-0.parquet",
    }
    size = _write(hist, paths["history"], ["glass_start_time"])
    size += _write(result, paths["result"], ["glass_start_time"])
    size += _write(summary, paths["summary"], ["glass_start_time"])
    return Inputs(
        paths={k: os.path.dirname(v) for k, v in paths.items()},
        frames={"history": hist, "result": result, "summary": summary},
        bytes_written=size,
    )


def lookup_request(seed: int, i: int) -> list[str]:
    """The i-th glass-ID list: size from the seeded ladder order, glasses
    drawn without replacement, Zipf-skewed toward the most recent."""
    order = np.random.default_rng([seed, 2]).permutation(len(SIZE_LADDER))
    size = SIZE_LADDER[order[i % len(SIZE_LADDER)]]
    rng = np.random.default_rng([seed, 3, i])
    w = 1.0 / np.arange(1, N_GLASS + 1) ** ZIPF_S
    recency_rank = rng.choice(N_GLASS, size=size, replace=False, p=w / w.sum())
    return [f"G{N_GLASS - 1 - r:07d}" for r in recency_rank]


def etl_inputs(seed: int, out: str) -> Inputs:
    rng = np.random.default_rng([seed, 4])

    def events(n: int, lo: datetime, span_s: float, tag: str) -> pd.DataFrame:
        end = pd.Timestamp(lo) + pd.to_timedelta(
            np.sort(rng.integers(1, int(span_s * 1e6), n)), unit="us"
        )
        return pd.DataFrame(
            {
                "toolid": [f"TLCD0{k}01" for k in rng.integers(1, 9, n)],
                "operationid": rng.choice(ETL_OPS, n),
                "productid": [f"TL160A0{k}" for k in rng.integers(1, 9, n)],
                "chamberid": rng.choice(["CH1", "CH2", "CH3"], n),
                "glassid": [f"{tag}{j:07d}" for j in range(n)],
                "endtime": end,
                "tstamp": end - pd.to_timedelta(rng.integers(1, 600, n), unit="s"),
                "recipeid": rng.choice(["R100", "R200"], n),
                # stored as text like the reference's rawdata; EDC casts it
                "value": [f"{v:.6f}" for v in rng.normal(10.0, 2.0, n)],
                # source-only column the EDC reconcile drops
                "login_time": end,
            }
        )

    backlog = events(ETL_ROWS, ETL_T0, ETL_DAYS * 86400 - 1, "E")
    hi = backlog["endtime"].max()
    late_span = (hi - pd.Timestamp(ETL_REWIND)).total_seconds()
    late = events(ETL_LATE_ROWS, ETL_REWIND, late_span, "L")
    late = late[late["endtime"] <= hi].reset_index(drop=True)
    ts = ["endtime", "tstamp", "login_time"]
    paths = {"backlog": f"{out}/backlog/part-0.parquet", "late": f"{out}/late/part-late.parquet"}
    size = _write(backlog, paths["backlog"], ts) + _write(late, paths["late"], ts)
    return Inputs(paths=paths, frames={"backlog": backlog, "late": late}, bytes_written=size)


def rot_inputs(seed: int, out: str) -> Inputs:
    rng = np.random.default_rng([seed, 5])
    frames, design = [], []
    for p in range(ROT_PRODUCTS):
        product = f"TL160B{p:02d}"
        nx, ny = ROT_GRID
        gx = np.linspace(-450.0, 450.0, nx)
        gy = np.linspace(-350.0, 350.0, ny)
        dx, dy = (a.ravel() for a in np.meshgrid(gx, gy, indexing="ij"))
        sites = np.array([f"plfn_al{1 + k % 3}x{1 + k // 3}" for k in range(nx * ny)])
        n_g = ROT_LOTS * ROT_GLASSES_PER_LOT
        sx = rng.normal(0, 2e-3, n_g)
        sy = rng.normal(0, 2e-3, n_g)
        t = rng.normal(0, 5e-6, n_g)
        gi = np.repeat(np.arange(n_g), nx * ny)
        ddx, ddy = np.tile(dx, n_g), np.tile(dy, n_g)
        x = -sx[gi] + ddy * t[gi] + rng.normal(0, 1e-4, len(gi))
        y = -sy[gi] - ddx * t[gi] + rng.normal(0, 1e-4, len(gi))
        df = pd.DataFrame(
            {
                "glass": [f"{product}-{g:05d}" for g in gi],
                "product": product,
                "lot": gi // ROT_GLASSES_PER_LOT,
                "site_name": np.tile(sites, n_g),
                "x": x,
                "y": y,
                "dx": ddx,
                "dy": ddy,
            }
        )
        frames.append(df)
        if p >= ROT_NO_DESIGN:
            design.append(product)
    raw = pd.concat(frames, ignore_index=True)
    miss = rng.random(len(raw)) < ROT_NULL_SHARE
    col = rng.choice(["x", "y"], len(raw))
    raw.loc[miss & (col == "x"), "x"] = np.nan
    raw.loc[miss & (col == "y"), "y"] = np.nan
    path = f"{out}/rawdata/part-0.parquet"
    size = _write(raw, path)
    return Inputs(
        paths={"rawdata": os.path.dirname(path)},
        frames={"rawdata": raw, "design_products": design},
        bytes_written=size,
    )


def rot_batches(seed: int) -> list[tuple[str, int]]:
    """(product, lot) batches in a seeded order, stratified so that every
    ``ROT_MIX`` consecutive batches hold the same share of products without
    design values: any whole number of groups asks for the same work."""
    rng = np.random.default_rng([seed, 6])
    lots = lambda ps: [(f"TL160B{p:02d}", lot) for p in ps for lot in range(ROT_LOTS)]  # noqa: E731
    bare = [lots(range(ROT_NO_DESIGN))[i] for i in rng.permutation(ROT_NO_DESIGN * ROT_LOTS)]
    full = lots(range(ROT_NO_DESIGN, ROT_PRODUCTS))
    full = [full[i] for i in rng.permutation(len(full))]
    per = ROT_MIX * ROT_NO_DESIGN // ROT_PRODUCTS  # no-design batches per group
    out = []
    for g in range(len(bare) // per):
        group = bare[g * per:(g + 1) * per] + full[g * (ROT_MIX - per):(g + 1) * (ROT_MIX - per)]
        out += [group[i] for i in rng.permutation(ROT_MIX)]
    return out
