"""``grid_aoi``: the paper's interactive path on a landed grid.

A four-month hourly grid is generated with NumPy (not timed), landed
through ``sources.ingest.land_grid_parquet`` and registered in a catalog
(timed as set-up). A request cuts an area of interest the size of the
ERA5 fixture (73 hours x 7 x 19 cells) out of it with
``catalog.get_dataset``, applies one ``GridFrame`` transform and collects
the result with ``toPandas``, or exports the AOI through a sink. Every
output is checked against a NumPy/pandas computation on the generated
cube, outside the timed region.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import shutil

import numpy as np
import pandas as pd

T0 = np.datetime64("2019-01-01T00", "h")
N_T = 24 * (31 + 28 + 31 + 30)  # January to April 2019: four partitions
X0, Y0, STEP = -84.0, 44.0, 0.25  # quarter degrees are exact in binary
N_X, N_Y = 20, 8
AOI_T, AOI_Y, AOI_X = 73, 7, 19
VARS = ("t2m", "u100")
R_EARTH = 6378137.0

#: request kinds, the slowest to warm up first (see ``run.WARMUP``)
KINDS = (
    "export_zarr",
    "points",
    "regrid_x2",
    "regrid_1x3",
    "interp_linear",
    "export_gssha",
    "zonal",
    "resample_mean",
    "collapse",
    "export_table",
    "to_crs",
)


def _close(got, want, what: str, rtol: float = 1e-9) -> None:
    got = np.asarray(got, dtype="float64")
    want = np.asarray(want, dtype="float64")
    if got.shape != want.shape:
        raise AssertionError(f"{what}: shape {got.shape} != {want.shape}")
    if not np.allclose(got, want, rtol=rtol, atol=1e-9, equal_nan=True):
        raise AssertionError(f"{what}: values differ")


def _pixel_axis(values: list[float], factor: float) -> list[float]:
    """Pixel-centre target axis: the same outer edges, n*factor cells."""
    n = len(values)
    n2 = max(1, round(n * factor))
    s2 = n * STEP / n2
    lo = values[0] - STEP / 2.0
    return [lo + s2 / 2.0 + i * s2 for i in range(n2)]


def _lerp_axis(a: np.ndarray, old: list[float], new: list[float], axis: int, nearest: bool):
    """Resample ``a`` along ``axis`` from ``old`` to ``new`` coordinates
    (ascending): left neighbour plus weight times the step to the right
    neighbour, the left value past either end of the axis."""
    out = []
    for nv in new:
        i = bisect.bisect_right(old, nv)
        lo = max(i - 1, 0)
        left = np.take(a, lo, axis=axis)
        if i == 0 or i == len(old):
            out.append(left)
            continue
        w = (nv - old[lo]) / (old[i] - old[lo])
        if nearest:
            w = 0.0 if (nv - old[lo]) <= (old[i] - nv) else 1.0
        out.append(left + (np.take(a, i, axis=axis) - left) * w)
    return np.stack(out, axis=axis)


def _inside(px: np.ndarray, py: np.ndarray, ring: list[tuple[float, float]]) -> np.ndarray:
    """Even-odd ray casting, the crossing rule of the zonal operator."""
    inside = np.zeros(px.shape, dtype=bool)
    pts = ring + [ring[0]]
    for (x1, y1), (x2, y2) in zip(pts, pts[1:]):
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xint)
    return inside


class GridAoi:
    name = "grid_aoi"
    kinds = KINDS

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.xs = [X0 + STEP * i for i in range(N_X)]
        self.ys = [Y0 - STEP * j for j in range(N_Y)]  # north to south
        self.times = T0 + np.arange(N_T)
        self.catalog = None

    # -- inputs ---------------------------------------------------------------
    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        h = np.arange(N_T, dtype="float64")[:, None, None]
        yy = np.array(self.ys)[None, :, None]
        xx = np.array(self.xs)[None, None, :]
        shape = (N_T, N_Y, N_X)
        phase = rng.uniform(0, 2 * np.pi)
        self.cube = {
            "t2m": 270.0 + 10.0 * np.sin(2 * np.pi * h / 24 + phase + 0.1 * xx)
            + 0.2 * yy + rng.normal(0.0, 0.5, shape),
            "u100": 5.0 + 2.0 * np.cos(2 * np.pi * h / 12 + 0.05 * yy)
            + rng.normal(0.0, 0.3, shape),
        }
        self.cube["u100"][rng.random(shape) < 0.01] = np.nan
        tt, yy, xx = np.meshgrid(self.times.astype("datetime64[us]"), self.ys, self.xs, indexing="ij")
        frame = pd.DataFrame({
            "time": tt.reshape(-1), "y": yy.reshape(-1), "x": xx.reshape(-1),
            **{v: self.cube[v].reshape(-1) for v in VARS},
        })
        self.raw = os.path.join(self.work, "raw_grid.parquet")
        frame.to_parquet(self.raw, index=False)

    def land(self, spark, tr) -> None:
        from xarray_dataaccessor_spark.catalog import DatasetCatalog
        from xarray_dataaccessor_spark.sources.ingest import (
            land_grid_parquet,
            register_landed_dataset,
        )

        with tr.span("sources.land"):
            path = land_grid_parquet(
                spark.read.parquet(self.raw), os.path.join(self.work, "landed"), "era5"
            )
            self.catalog = DatasetCatalog()
            register_landed_dataset(self.catalog, spark, "era5", path, list(VARS))
        self.n_files = sum(
            n.endswith(".parquet") for _, _, names in os.walk(path) for n in names
        )

    # -- requests -------------------------------------------------------------
    def draw(self, kind: str, rng: np.random.Generator) -> dict:
        t0 = int(rng.integers(0, N_T - AOI_T + 1))
        j0 = int(rng.integers(0, N_Y - AOI_Y + 1))
        i0 = int(rng.integers(0, N_X - AOI_X + 1))
        p = {"t0": t0, "j0": j0, "i0": i0}
        xs, ys = self.xs[i0 : i0 + AOI_X], self.ys[j0 : j0 + AOI_Y]
        # zone and point coordinates sit off every grid line and midline
        off = lambda lo, hi: float(lo + (hi - lo) * rng.uniform(0.05, 0.95)) + STEP * 0.173
        if kind == "points":
            p["points"] = [
                (float(rng.uniform(ys[-1], ys[0]) + 0.031), float(rng.uniform(xs[0], xs[-1]) + 0.017))
                for _ in range(3)
            ]
        if kind == "zonal":
            cx, cy = off(xs[0], xs[-1] - 1.5), off(ys[-1], ys[0] - 0.7)
            p["ring"] = [(cx, cy), (cx + 2.3, cy + 0.11), (cx + 1.7, cy + 1.2), (cx - 0.4, cy + 0.9)]
        return p

    def run(self, spark, tr, kind: str, p: dict):
        from xarray_dataaccessor_spark.catalog import get_dataset
        from xarray_dataaccessor_spark.meta import BoundingBox

        xs = self.xs[p["i0"] : p["i0"] + AOI_X]
        ys = self.ys[p["j0"] : p["j0"] + AOI_Y]
        start = self.times[p["t0"]].astype(dt.datetime)
        end = self.times[p["t0"] + AOI_T - 1].astype(dt.datetime)
        half = STEP / 2
        bbox = BoundingBox(west=xs[0] - half, south=ys[-1] - half,
                           east=xs[-1] + half, north=ys[0] + half)
        with tr.span("catalog.load"):
            gf = get_dataset(spark, "era5", variables=list(VARS), bbox=bbox,
                             start_time=start, end_time=end, catalog=self.catalog)
        if kind.startswith("export_"):
            out = os.path.join(self.work, "out", f"{kind}-{p['t0']}-{p['j0']}-{p['i0']}")
            os.makedirs(out, exist_ok=True)
            with tr.span("sinks.write"):
                self._export(kind, gf, out)
            return out
        with tr.span("gridframe.build"):
            df = self._transform(spark, kind, gf, p)
        with tr.span("gridframe.collect"):
            return df.toPandas()

    def _transform(self, spark, kind, gf, p):
        if kind == "resample_mean":
            return gf.temporal_resample("1D", agg_method="mean").df
        if kind == "interp_linear":
            return gf.temporal_resample("30min", interpolate_method="linear").df
        if kind == "regrid_x2":
            return gf.spatial_resample(resolution_factor=2, resample_method="bilinear").df
        if kind == "regrid_1x3":
            return gf.spatial_resample(xy_resolution_factors=(1, 3)).df
        if kind == "collapse":
            return gf.collapse_spatial("mean").df
        if kind == "points":
            from xarray_dataaccessor_spark.catalog import points_df

            return gf.points_to_table(points_df(spark, coords=p["points"]), "t2m")
        if kind == "zonal":
            return gf.zonal_stats(polygons=[[p["ring"]]], how="mean")
        if kind == "to_crs":
            return gf.to_crs(3857).df
        raise KeyError(kind)

    def _export(self, kind, gf, out):
        if kind == "export_gssha":
            from xarray_dataaccessor_spark.sinks.gssha import make_grass_ascii

            make_grass_ascii(gf.df, "t2m", file_dir=out)
        elif kind == "export_zarr":
            from xarray_dataaccessor_spark.sinks.zarr_sink import grid_to_zarr

            grid_to_zarr(gf.df, os.path.join(out, "aoi.zarr"), "t2m",
                         chunks=(AOI_T, AOI_Y, AOI_X), compressor=None)
        elif kind == "export_table":
            from xarray_dataaccessor_spark.sinks.tables import save_dataframe

            save_dataframe(gf.df, out, "aoi", file_format="parquet")

    # -- checks ---------------------------------------------------------------
    def _aoi(self, p):
        t, j, i = p["t0"], p["j0"], p["i0"]
        sl = (slice(t, t + AOI_T), slice(j, j + AOI_Y), slice(i, i + AOI_X))
        return ({v: self.cube[v][sl] for v in VARS}, self.times[sl[0]],
                self.ys[sl[1]], self.xs[sl[2]])

    @staticmethod
    def _long(cube, times, ys, xs) -> pd.DataFrame:
        tt, yy, xx = np.meshgrid(times.astype("datetime64[us]"), ys, xs, indexing="ij")
        return pd.DataFrame({"time": tt.reshape(-1), "y": yy.reshape(-1), "x": xx.reshape(-1),
                             **{v: cube[v].reshape(-1) for v in cube}})

    @staticmethod
    def _sorted(df: pd.DataFrame, keys) -> pd.DataFrame:
        df = df.copy()
        if "time" in df:
            df["time"] = pd.to_datetime(df["time"]).astype("datetime64[us]")
        return df.sort_values(list(keys)).reset_index(drop=True)

    def _frames(self, got, want, keys, what):
        got, want = self._sorted(got, keys), self._sorted(want, keys)
        if len(got) != len(want):
            raise AssertionError(f"{what}: {len(got)} rows, expected {len(want)}")
        for k in keys:
            if k == "time":
                if not (got[k].to_numpy() == want[k].to_numpy()).all():
                    raise AssertionError(f"{what}: time keys differ")
            else:
                _close(got[k], want[k], f"{what}.{k}", rtol=1e-12)
        for c in want.columns:
            if c not in keys:
                _close(got[c], want[c], f"{what}.{c}")

    def check(self, kind: str, p: dict, out) -> None:
        cube, times, ys, xs = self._aoi(p)
        long = self._long(cube, times, ys, xs)
        if kind == "resample_mean":
            day = long.assign(time=long["time"].dt.floor("D"))
            want = day.groupby(["time", "y", "x"], as_index=False)[list(VARS)].mean()
            self._frames(out, want, ["time", "y", "x"], kind)
        elif kind == "interp_linear":
            self._frames(out, self._interp(cube, times, ys, xs), ["time", "y", "x"], kind)
        elif kind in ("regrid_x2", "regrid_1x3"):
            fx, fy, nearest = (2, 2, False) if kind == "regrid_x2" else (1, 3, True)
            ys_up = ys[::-1]
            nxs, nys = _pixel_axis(xs, fx), _pixel_axis(ys_up, fy)
            res = {}
            for v in VARS:
                a = _lerp_axis(cube[v][:, ::-1, :], xs, nxs, 2, nearest)
                res[v] = _lerp_axis(a, ys_up, nys, 1, nearest)
            self._frames(out, self._long(res, times, nys, nxs), ["time", "y", "x"], kind)
        elif kind == "collapse":
            want = long.groupby("time", as_index=False)[list(VARS)].mean()
            self._frames(out, want, ["time"], kind)
        elif kind == "points":
            want = pd.DataFrame({"time": times.astype("datetime64[us]")})
            for n, (lat, lon) in enumerate(p["points"]):
                i = min(range(len(xs)), key=lambda k: (abs(xs[k] - lon), xs[k]))
                j = min(range(len(ys)), key=lambda k: (abs(ys[k] - lat), ys[k]))
                want[str(n)] = cube["t2m"][:, j, i]
            self._frames(out[want.columns], want, ["time"], kind)
        elif kind == "zonal":
            mask = _inside(long["x"].to_numpy(), long["y"].to_numpy(), p["ring"])
            sel = long[mask]
            want = sel.groupby("time", as_index=False).agg(
                n_cells=("x", "size"), t2m=("t2m", "mean"), u100=("u100", "mean"))
            want.insert(0, "zone_id", 0)
            self._frames(out[want.columns], want, ["zone_id", "time"], kind)
        elif kind == "to_crs":
            want = long.assign(
                x=R_EARTH * np.radians(long["x"]),
                y=R_EARTH * np.log(np.tan(np.pi / 4 + np.radians(long["y"]) / 2)),
            )
            self._frames(out[want.columns], want, ["time", "y", "x"], kind)
        elif kind == "export_gssha":
            self._check_grass(out, cube["t2m"], times, ys, xs)
        elif kind == "export_zarr":
            store = os.path.join(out, "aoi.zarr", "t2m")
            meta = json.load(open(os.path.join(store, ".zarray")))
            if meta["shape"] != [AOI_T, AOI_Y, AOI_X]:
                raise AssertionError(f"export_zarr: shape {meta['shape']}")
            raw = open(os.path.join(store, "0.0.0"), "rb").read()
            _close(np.frombuffer(raw, "<f8").reshape(AOI_T, AOI_Y, AOI_X), cube["t2m"], kind, 0)
        elif kind == "export_table":
            got = pd.read_parquet(os.path.join(out, "aoi.parquet"))
            self._frames(got[long.columns], long, ["time", "y", "x"], kind)
        else:
            raise KeyError(kind)

    def _interp(self, cube, times, ys, xs) -> pd.DataFrame:
        obs = (times - times[0]).astype("float64") * 3600.0
        spine = times[0].astype("datetime64[us]") + np.arange(2 * (AOI_T - 1) + 1) * np.timedelta64(30, "m")
        st = (spine - spine[0]).astype("timedelta64[s]").astype("float64")
        res = {}
        for v in VARS:
            a = cube[v]
            out = np.full((len(st),) + a.shape[1:], np.nan)
            for j in range(a.shape[1]):
                for i in range(a.shape[2]):
                    ok = ~np.isnan(a[:, j, i])
                    col = np.interp(st, obs[ok], a[ok, j, i])
                    col[(st < obs[ok][0]) | (st > obs[ok][-1])] = np.nan
                    out[:, j, i] = col
            res[v] = out
        return self._long(res, spine, ys, xs)

    @staticmethod
    def _check_grass(out, t2m, times, ys, xs) -> None:
        files = sorted(os.listdir(out))
        if len(files) != AOI_T:
            raise AssertionError(f"export_gssha: {len(files)} files, expected {AOI_T}")
        for k, name in enumerate(files):
            stamp = pd.Timestamp(times[k]).strftime("%Y%m%d%H")
            if not name.startswith(stamp):
                raise AssertionError(f"export_gssha: {name} is not hour {stamp}")
            lines = open(os.path.join(out, name)).read().split("\n")
            head = dict(line.split(": ") for line in lines[:6])
            if (float(head["north"]), float(head["west"]), int(head["rows"]), int(head["cols"])) != (
                ys[0], xs[0], AOI_Y, AOI_X):
                raise AssertionError(f"export_gssha: header {head}")
            vals = np.array([[float(v) for v in line.split()] for line in lines[6:]])
            _close(vals, t2m[k], "export_gssha", 0)

    def io_counts(self, kind: str, p: dict, out) -> dict:
        if not kind.startswith("export_"):
            return {}
        sizes = [os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(out) for n in names]
        return {"sinks.mb_out": sum(sizes) / 2**20, "sinks.files_out": float(len(sizes))}

    @staticmethod
    def corrupt(kind: str, out):
        """Damage one output value, to show the checks catch it."""
        if isinstance(out, pd.DataFrame):
            col = out.columns[-1]
            out.loc[out.index[0], col] = out[col].iloc[0] + 1.0
            return out
        files = [os.path.join(d, n) for d, _, names in os.walk(out) for n in names]
        os.remove(max(files, key=os.path.getsize))
        return out

    def discard(self, kind: str, out) -> None:
        if kind.startswith("export_"):
            shutil.rmtree(out, ignore_errors=True)
