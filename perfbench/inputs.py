"""Seeded, cached inputs for the flood pipeline benchmark.

Everything here is generated from ``--seed`` with numpy and written with
pyarrow, so the inputs never depend on the engine under test:

* ``daily``: 30 lead-time GRIB2 files x 51 members, CCSDS-packed
  (template 5.42) by the in-repo ``sources.grib2.build_ccsds_message``,
  and the static threshold and upstream-area tables;
* ``serve``: a multi-day published history (detailed + summary products,
  partitioned by ``issued_on``) in the schema a real pipeline writes.

The ensemble fields are integers ``X``; a decoded discharge is ``X / 10``.
Thresholds sit on half steps, ``(T + 0.5) / 10``, so exceedance is the
integer test ``X > T`` and ground truth never depends on float rounding.

Encoding the GRIB files is slow pure-Python work, so the files are cached
per (workload, seed, shape) with a content hash and are never timed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
RES = 0.05
PRECISION = 3
LAT0 = 10.025          # northernmost cell centre
LON0 = 20.025          # westernmost cell centre
ISSUE_DATE = dt.date(2024, 1, 1)
KEEP_FRACTION = 0.6    # share of cells whose upstream area passes the mask
YEARS = (2, 5, 20)

SHAPES = {
    "daily": {"nlat": 24, "nlon": 24, "members": 51, "steps": 30},
    "serve": {"nlat": 64, "nlon": 64, "steps": 30, "days": 7,
              "files_per_day": 4},
}

DETAILED_SCHEMA = pa.schema([
    ("latitude", pa.float64()), ("longitude", pa.float64()),
    ("valid_for", pa.date32()), ("step", pa.int32()),
    ("p_above_2y", pa.float64()), ("p_above_5y", pa.float64()),
    ("p_above_20y", pa.float64()),
    ("min_dis", pa.float32()), ("Q1_dis", pa.float32()),
    ("median_dis", pa.float32()), ("Q3_dis", pa.float32()),
    ("max_dis", pa.float32()), ("wkt", pa.string()),
])
SUMMARY_SCHEMA = pa.schema([
    ("latitude", pa.float64()), ("longitude", pa.float64()),
    ("peak_step", pa.int32()), ("peak_day", pa.date32()),
    ("peak_timing", pa.string()),
    ("max_median_dis", pa.float32()), ("min_median_dis", pa.float32()),
    ("control_dis", pa.float32()), ("max_max_dis", pa.float32()),
    ("min_min_dis", pa.float32()), ("tendency", pa.string()),
    ("max_p_above_20y", pa.float64()), ("max_p_above_5y", pa.float64()),
    ("max_p_above_2y", pa.float64()), ("intensity", pa.string()),
    ("wkt", pa.string()),
])


class Grid:
    """Cell-centre coordinates of an nlat x nlon grid, row-major from the
    north-west corner (the GRIB scan order)."""

    def __init__(self, nlat: int, nlon: int):
        self.nlat, self.nlon = nlat, nlon
        i, j = np.divmod(np.arange(nlat * nlon), nlon)
        # same arithmetic as the GRIB reader, then the engine's key rounding
        self.lat = np.round(LAT0 - i * RES, PRECISION)
        self.lon = np.round(LON0 + j * RES, PRECISION)
        self.ilat = np.floor(self.lat / RES).astype(np.int64)
        self.ilon = np.floor(self.lon / RES).astype(np.int64)

    def cell_of(self, lat, lon):
        """Index of the cell containing each point, -1 when outside."""
        ilat = np.floor(np.asarray(lat) / RES).astype(np.int64)
        ilon = np.floor(np.asarray(lon) / RES).astype(np.int64)
        i = self.ilat[0] - ilat
        j = ilon - self.ilon[0]
        inside = (i >= 0) & (i < self.nlat) & (j >= 0) & (j < self.nlon)
        return np.where(inside, i * self.nlon + j, -1)


class Fields:
    """The seeded ensemble and static tables of one workload, plus the
    numpy ground truth the benchmark checks the engine against."""

    def __init__(self, seed: int, nlat: int, nlon: int, members: int,
                 steps: int, **_):
        self.members, self.steps = members, steps
        self.grid = Grid(nlat, nlon)
        n = nlat * nlon
        rng = np.random.default_rng(seed)
        base = np.clip(np.exp(rng.normal(np.log(3000.0), 0.7, n)),
                       300.0, 20_000.0)
        peak = rng.integers(1, steps + 1, n)
        amp = rng.uniform(0.0, 1.0, n)
        s = np.arange(1, steps + 1)
        profile = 1.0 + amp[:, None] * np.exp(
            -((s[None, :] - peak[:, None]) / 6.0) ** 2)
        spread = rng.normal(0.0, 0.15, (members, n, steps))
        x = np.rint(base[None, :, None] * profile[None] * (1.0 + spread))
        # (members, cells, steps) packed integers
        self.x = np.clip(x, 0, 65_535).astype(np.int64)
        t2 = np.floor(base * rng.uniform(1.1, 1.6, n)).astype(np.int64)
        t5 = np.floor(t2 * 1.25).astype(np.int64)
        t20 = np.floor(t5 * 1.25).astype(np.int64)
        self.t = {2: t2, 5: t5, 20: t20}
        keep = np.zeros(n, dtype=bool)
        keep[rng.permutation(n)[:round(KEEP_FRACTION * n)]] = True
        self.keep = keep

    # ---- ground truth -------------------------------------------------
    def dis24(self) -> np.ndarray:
        """Decoded discharge as the engine holds it (float32 of X / 10)."""
        return (self.x / 10.0).astype(np.float32)

    def p_above(self, years: int) -> np.ndarray:
        """(cells, steps) share of members with dis24 >= threshold."""
        return (self.x > self.t[years][None, :, None]).sum(axis=0) \
            / self.members

    def non_gray(self) -> np.ndarray:
        """Cells the summary keeps: some step has p_above_2y >= 0.30."""
        return self.p_above(2).max(axis=1) >= 0.30

    def threshold_table(self) -> pa.Table:
        cols = {"latitude": self.grid.lat, "longitude": self.grid.lon}
        for y in YEARS:
            cols[f"threshold_{y}y"] = (self.t[y] + 0.5) / 10.0
        return pa.table(cols)

    def upstream_table(self) -> pa.Table:
        # either side of the engine's default 2.5e8 m2 mask threshold
        uparea = np.where(self.keep, 3.0e8, 1.0e8)
        return pa.table({"latitude": self.grid.lat,
                         "longitude": self.grid.lon, "uparea": uparea})


def _wkt(lat: np.ndarray, lon: np.ndarray) -> list[str]:
    h = RES / 2
    out = []
    for a, b in zip(lat, lon):
        y0, y1 = round(a - h, PRECISION), round(a + h, PRECISION)
        x0, x1 = round(b - h, PRECISION), round(b + h, PRECISION)
        out.append(f"POLYGON (({x0} {y0},{x0} {y1},{x1} {y1},"
                   f"{x1} {y0},{x0} {y0}))")
    return out


# ---- writers ------------------------------------------------------------

def _write_statics(fields: Fields, out: str) -> None:
    pq.write_table(fields.threshold_table(),
                   os.path.join(out, "thresholds.parquet"))
    pq.write_table(fields.upstream_table(),
                   os.path.join(out, "upstream.parquet"))


def _write_grib(fields: Fields, out: str) -> None:
    from flood_data_spark.sources.grib2 import build_ccsds_message

    g = fields.grid
    d = os.path.join(out, "grib")
    os.makedirs(d)
    for s in range(1, fields.steps + 1):
        msgs = [build_ccsds_message(
            fields.x[m, :, s - 1], nj=g.nlat, ni=g.nlon, la1=LAT0,
            lo1=LON0, d=RES, d_scale=1, nbits=16, member=m,
            year=ISSUE_DATE.year, month=ISSUE_DATE.month,
            day=ISSUE_DATE.day, ftime_hours=24 * s)
            for m in range(fields.members)]
        with open(os.path.join(d, f"dis24-{s:02d}.grib2"), "wb") as f:
            f.write(b"".join(msgs))


class History:
    """The serve workload's published history, drawn straight from the
    seed: per day, which cells the summary holds and their products."""

    def __init__(self, seed: int, nlat: int, nlon: int, steps: int,
                 days: int, **_):
        self.grid = Grid(nlat, nlon)
        self.steps = steps
        self.rng = np.random.default_rng([seed, 7])
        self.dates = [ISSUE_DATE + dt.timedelta(days=k - days + 1)
                      for k in range(days)]
        n = nlat * nlon
        # non-gray cells per day (~70 %), latest day last
        self.cells = [np.flatnonzero(self.rng.random(n) < 0.7)
                      for _ in range(days)]

    @property
    def latest(self) -> dt.date:
        return self.dates[-1]

    def latest_cells(self) -> np.ndarray:
        return self.cells[-1]

    def tables(self, k: int) -> tuple[pa.Table, pa.Table]:
        g, rng, steps = self.grid, self.rng, self.steps
        cells = self.cells[k]
        m = cells.size
        lat, lon = g.lat[cells], g.lon[cells]
        wkt = _wkt(lat, lon)
        day = self.dates[k]
        med = rng.uniform(50.0, 5000.0, (m, steps)).astype(np.float32)
        p = np.sort(rng.integers(0, 52, (m, steps, 3)), axis=2)[:, :, ::-1] \
            / 51.0
        detailed = pa.table({
            "latitude": np.repeat(lat, steps),
            "longitude": np.repeat(lon, steps),
            "valid_for": np.tile([day + dt.timedelta(days=s)
                                  for s in range(steps)], m),
            "step": np.tile(np.arange(1, steps + 1, dtype=np.int32), m),
            "p_above_2y": p[:, :, 0].reshape(-1),
            "p_above_5y": p[:, :, 1].reshape(-1),
            "p_above_20y": p[:, :, 2].reshape(-1),
            "min_dis": (med * 0.5).reshape(-1),
            "Q1_dis": (med * 0.8).reshape(-1),
            "median_dis": med.reshape(-1),
            "Q3_dis": (med * 1.2).reshape(-1),
            "max_dis": (med * 1.6).reshape(-1),
            "wkt": np.repeat(np.array(wkt, dtype=object), steps),
        }, schema=DETAILED_SCHEMA)
        peak = med.argmax(axis=1)
        labels = np.array(["P", "R", "Y"], dtype=object)
        summary = pa.table({
            "latitude": lat, "longitude": lon,
            "peak_step": (peak + 1).astype(np.int32),
            "peak_day": [day + dt.timedelta(days=int(s)) for s in peak],
            "peak_timing": np.array(["BB", "GC", "GB"],
                                    dtype=object)[peak % 3],
            "max_median_dis": med.max(axis=1),
            "min_median_dis": med.min(axis=1),
            "control_dis": med[:, 0],
            "max_max_dis": med.max(axis=1) * np.float32(1.6),
            "min_min_dis": med.min(axis=1) * np.float32(0.5),
            "tendency": np.array(["U", "C", "D"], dtype=object)[
                rng.integers(0, 3, m)],
            "max_p_above_20y": p[:, :, 2].max(axis=1),
            "max_p_above_5y": p[:, :, 1].max(axis=1),
            "max_p_above_2y": p[:, :, 0].max(axis=1),
            "intensity": labels[rng.integers(0, 3, m)],
            "wkt": wkt,
        }, schema=SUMMARY_SCHEMA)
        return detailed, summary


def _write_history(seed: int, shape: dict, out: str) -> None:
    hist = History(seed, **shape)
    parts = shape["files_per_day"]
    for k, day in enumerate(hist.dates):
        for name, tbl in zip(("detailed", "summary"), hist.tables(k)):
            d = os.path.join(out, "history", name, f"issued_on={day}")
            os.makedirs(d)
            # sorted row bands, like a range-partitioned sorted write
            bounds = np.linspace(0, tbl.num_rows, parts + 1).astype(int)
            for p in range(parts):
                pq.write_table(tbl.slice(bounds[p], bounds[p + 1] - bounds[p]),
                               os.path.join(d, f"part-{p:05d}.parquet"))


# ---- cache ----------------------------------------------------------------

def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if name == "manifest.json":
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _key(workload: str, seed: int) -> dict:
    return {"version": GENERATOR_VERSION, "workload": workload,
            "seed": seed, "shape": SHAPES[workload]}


def ensure_inputs(workload: str, seed: int, cache_root: str) -> str:
    """Directory holding the workload's inputs for `seed`, generated on a
    miss or when the cached files fail their content check."""
    key = _key(workload, seed)
    tag = hashlib.sha256(json.dumps(key, sort_keys=True).encode()) \
        .hexdigest()[:12]
    out = os.path.join(cache_root, f"{workload}-seed{seed}-{tag}")
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            saved = json.load(f)
        if saved.get("key") == key and saved.get("sha256") == _digest(out):
            return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    shape = SHAPES[workload]
    if workload == "serve":
        _write_history(seed, shape, tmp)
    else:
        fields = Fields(seed, **shape)
        _write_statics(fields, tmp)
        _write_grib(fields, tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"key": key, "sha256": _digest(tmp)}, f)
    os.replace(tmp, out)
    return out
