"""``batch_slots``: the LLM-corpus and granule-ingest batch operators.

Inputs are generated from the seed (not timed): a corpus of documents,
clustered unit-norm embeddings and events in the layout
``sources.tables.load`` reads, at the sizes ``scripts/gen_sf.py`` gives
at sf0.1, and three granules of each format the ``sources`` readers
decode.
A request is one of

- ``decode_<format>``: read one NetCDF, GRIB2, Zarr or GeoTIFF granule
  through its ``sources.ingest`` reader and land it with
  ``land_grid_parquet``; the landed files are read back with pandas and
  compared with the generated values;
- ``slot_<name>``: build one ``queries_ext`` slot, collect it with
  ``toPandas``, release its tagged caches, and check it with
  ``slot_checks``.

``embedding_neardup_cosine`` is not among the slots: cold, it takes
about 22 s, warm about 9 s, which leaves a run no room for the second
warm-up cycle (STEADINESS.md). This workload never touches ``catalog``
or ``gridframe``.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pandas as pd

from perfbench import slot_checks

#: the table sizes ``scripts/gen_sf.py`` gives at sf0.1, where ROADMAP #5
#: profiles the similarity slots (a run at sf1 takes three times as long)
N_DOCS, N_EMB, N_EVENTS, N_USERS = 5000, 2000, 100_000, 1500
GRANULES = 3
#: 73 hours over a 14 x 19 degree region at 0.25 degrees: large enough that
#: decoding, not the fixed cost of a Spark job, is about half of a decode
#: request's time (STEADINESS.md has the measured shares)
G_T, G_Y, G_X = 73, 56, 76
T0 = dt.datetime(2019, 1, 30)
VOCAB = (
    "hash join order sort window customer query fast plan scan index shard "
    "merge spill cache batch stream token corpus model vector cluster filter "
    "grid cell time value table file page block row column key range"
).split()
SLOTS = {
    "slot_topk": "similarity_bruteforce_topk",
    "slot_sessions": "streaming_session_windows",
}
DECODES = ("decode_netcdf", "decode_grib2", "decode_zarr", "decode_geotiff")


class BatchSlots:
    name = "batch_slots"
    #: the slowest to warm up first (see ``run.WARMUP``)
    kinds = ("slot_topk", "slot_sessions",
             "decode_zarr", "decode_grib2", "decode_netcdf", "decode_geotiff")

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.sf = os.path.join(work, "tables")
        self.ys = 44.0 - 0.25 * np.arange(G_Y)
        self.xs = -84.0 + 0.25 * np.arange(G_X)

    # -- inputs ---------------------------------------------------------------
    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        os.makedirs(self.sf, exist_ok=True)
        words = rng.integers(0, len(VOCAB), (N_DOCS, 100))
        lens = rng.integers(10, 101, N_DOCS)
        self.docs = pd.DataFrame({
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": [" ".join(VOCAB[w] for w in row[:k]) for row, k in zip(words, lens)],
            "lang": "en", "source": "web",
        })
        self.docs["n_chars"] = self.docs["text"].str.len().astype(np.int64)
        self.docs.to_parquet(os.path.join(self.sf, "documents.parquet"), index=False)
        # scripts/gen_sf.py's recipe: unit vectors in weak label clusters
        cents = rng.standard_normal((10, 64))
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        label = rng.integers(0, 10, N_EMB)
        x = rng.standard_normal((N_EMB, 64)) + 0.57 * cents[label]
        emb32 = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
        self.ids = np.arange(N_EMB, dtype=np.int64)
        self.emb = emb32.astype(np.float64)
        pd.DataFrame({"vec_id": self.ids, "embedding": list(emb32),
                      "label": label.astype(np.int32)}
                     ).to_parquet(os.path.join(self.sf, "embeddings.parquet"), index=False)
        secs = np.sort(rng.integers(0, 3 * 86400, N_EVENTS))
        self.events = pd.DataFrame({
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": (np.datetime64("2024-03-01T00:00:00", "us") + secs * np.timedelta64(1, "s")),
            "user_id": rng.integers(1, N_USERS + 1, N_EVENTS).astype(np.int64),
            "event_type": rng.choice(["view", "click", "buy"], N_EVENTS),
            "value": np.round(rng.uniform(0, 100, N_EVENTS), 2),
            "props": "{}",
        })
        self.events.to_parquet(os.path.join(self.sf, "events.parquet"), index=False)
        self.granules = {fmt: [] for fmt in DECODES}
        for g in range(GRANULES):
            self._granules(rng, g)

    def _granules(self, rng, g: int) -> None:
        from xarray_dataaccessor_spark.sources.geotiff import write_geotiff
        from xarray_dataaccessor_spark.sources.grib2 import write_grib2
        from xarray_dataaccessor_spark.sources.netcdf3 import write_netcdf3
        from xarray_dataaccessor_spark.sources.zarr import write_zarr

        base = os.path.join(self.work, "granules", str(g))
        os.makedirs(base, exist_ok=True)
        hours = np.arange(G_T) + 24 * 30 * g
        times = np.datetime64(T0, "us") + hours * np.timedelta64(1, "h")
        # quarter units: exact in float32, GRIB2 (decimal scale 2) and float64
        cube = np.round(rng.uniform(250, 300, (G_T, G_Y, G_X)) * 4) / 4
        nc = os.path.join(base, "g.nc")
        write_netcdf3(nc, dims={"time": G_T, "latitude": G_Y, "longitude": G_X}, variables={
            "time": (["time"], ((times - np.datetime64("1900-01-01", "us"))
                               // np.timedelta64(1, "h")).astype("i4"),
                     {"units": "hours since 1900-01-01 00:00:00"}),
            "latitude": (["latitude"], self.ys.astype("f4"), {}),
            "longitude": (["longitude"], self.xs.astype("f4"), {}),
            "t2m": (["time", "latitude", "longitude"], cube, {}),
        })
        gb = os.path.join(base, "g.grib2")
        write_grib2(gb, [{
            "ref_time": T0, "forecast_hour": int(h), "category": 0, "number": 0,
            "lats": self.ys, "lons": self.xs, "data": cube[k], "d_scale": 2,
        } for k, h in enumerate(hours)])
        zs = os.path.join(base, "g.zarr")
        hrs_1970 = (times - np.datetime64("1970-01-01", "us")) / np.timedelta64(1, "h")
        write_zarr(zs, "t2m", cube, ["time", "latitude", "longitude"], chunks=[24, G_Y, G_X])
        write_zarr(zs, "time", hrs_1970.astype("f8"), ["time"],
                   attrs={"units": "hours since 1970-01-01"}, compress=False)
        write_zarr(zs, "latitude", self.ys, ["latitude"], compress=False)
        write_zarr(zs, "longitude", self.xs, ["longitude"], compress=False)
        tif = os.path.join(base, "g.tif")
        write_geotiff(tif, cube[0], self.xs[0] - 0.125, self.ys[0] + 0.125, (0.25, 0.25),
                      compress=True)
        self.granules["decode_netcdf"].append((nc, times, cube))
        self.granules["decode_grib2"].append((gb, times, cube))
        self.granules["decode_zarr"].append((zs, times, cube))
        tif_time = np.array([np.datetime64("2020-01-01", "us")])
        self.granules["decode_geotiff"].append((tif, tif_time, cube[:1]))

    def land(self, spark, tr) -> None:
        """Nothing to land ahead: each decode request lands its own granule."""

    # -- requests -------------------------------------------------------------
    def draw(self, kind: str, rng: np.random.Generator) -> dict:
        p = {"n": int(rng.integers(1 << 30))}
        if kind in DECODES:
            p["granule"] = int(rng.integers(GRANULES))
        return p

    def run(self, spark, tr, kind: str, p: dict):
        if kind in SLOTS:
            from xarray_dataaccessor_spark import queries_ext
            from xarray_dataaccessor_spark.operators.cachectl import unpersist_intermediates

            with tr.span("queries.build"):
                df = getattr(queries_ext, SLOTS[kind])(spark, self.sf)
            with tr.span("queries.run"):
                out = df.toPandas()
                unpersist_intermediates(df)
            return out
        from xarray_dataaccessor_spark.sources import ingest

        path = self.granules[kind][p["granule"]][0]
        with tr.span("sources.decode"):
            if kind == "decode_netcdf":
                df = ingest.netcdf_glob_to_grid(spark, path, "t2m")
            elif kind == "decode_grib2":
                df = ingest.grib_glob_to_grid(spark, path, "t2m")
            elif kind == "decode_zarr":
                df = ingest.zarr_to_grid(spark, path, "t2m")
            else:
                df = ingest.geotiff_glob_to_grid(spark, path, "t2m", year=2020)
        out = os.path.join(self.work, "landed", f"{kind}-{p['n']}")
        with tr.span("sources.land"):
            return ingest.land_grid_parquet(df, out, "t2m")

    # -- checks ---------------------------------------------------------------
    def check(self, kind: str, p: dict, out) -> None:
        if kind == "slot_topk":
            slot_checks.check_topk(self.docs, self.ids, self.emb, out)
        elif kind == "slot_sessions":
            slot_checks.check_sessions(self.events, out)
        else:
            self._check_landed(kind, p, out)

    def _check_landed(self, kind: str, p: dict, out: str) -> None:
        _, times, cube = self.granules[kind][p["granule"]]
        got = pd.read_parquet(out).sort_values(["time", "y", "x"], ascending=[True, False, True])
        nt = len(times)
        want_t = np.repeat(times, G_Y * G_X)
        if len(got) != nt * G_Y * G_X:
            raise AssertionError(f"{kind}: {len(got)} rows, expected {nt * G_Y * G_X}")
        if not (got["time"].to_numpy().astype("datetime64[us]") == want_t).all():
            raise AssertionError(f"{kind}: time axis differs")
        for col, want in (("y", np.tile(np.repeat(self.ys, G_X), nt)),
                          ("x", np.tile(self.xs, nt * G_Y)),
                          ("t2m", cube.reshape(-1))):
            # NetCDF stores the axes as float32; quarter degrees survive exactly
            if not np.allclose(got[col].to_numpy(float), want, rtol=0, atol=1e-6):
                raise AssertionError(f"{kind}: column {col} differs")

    def io_counts(self, kind: str, p: dict, out) -> dict:
        if kind not in DECODES:
            return {}
        path = self.granules[kind][p["granule"]][0]
        if os.path.isdir(path):
            size = sum(os.path.getsize(os.path.join(d, n)) for d, _, ns in os.walk(path) for n in ns)
        else:
            size = os.path.getsize(path)
        return {"sources.mb_in": size / 2**20}

    @staticmethod
    def corrupt(kind: str, out):
        """Damage one output value, to show the checks catch it."""
        if isinstance(out, pd.DataFrame):
            col = "cos" if "cos" in out else "n_events"
            out.loc[out[col].first_valid_index(), col] += 1
            return out
        files = [os.path.join(d, n) for d, _, ns in os.walk(out) for n in ns if n.endswith(".parquet")]
        os.remove(files[0])
        return out

    def discard(self, kind: str, out) -> None:
        if kind in DECODES and out is not None:
            shutil.rmtree(os.path.dirname(out), ignore_errors=True)
