"""The workloads, driven only through the engine's public functions,
plus the numpy checks of every output.

A workload's ``step()`` is one closed-loop cycle:

* ``daily``: GRIB files → decode → mask → raw upsert → approx pipeline →
  staged products → publish;
* ``serve``: one round of lookups against the published history,
  ``ROUND_REQUESTS`` requests (neighbourhood lookup on the summary plus
  the 30-step point series, both collected) and one 1,000-point batch
  lookup.

``step()`` returns ``Sample`` records; every check runs after its clock
stops.  Spans (``tracer.span``) mark each call into an engine layer and
cost nothing unless the run is traced.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from flood_data_spark.operators.grid import upstream_mask
from flood_data_spark.operators.serving import (
    batch_point_lookup,
    neighborhood_lookup,
    point_lookup,
)
from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline
from flood_data_spark.functions.keys import round_keys
from flood_data_spark.sources.parquet import (
    publish_directory,
    read_forecast,
    read_thresholds,
    upsert_partitions,
    write_parquet,
)
from flood_data_spark.sources.raster import read_rasters

import inputs

BATCH_POINTS = 1000
ROUND_REQUESTS = 9     # requests per round; a batch lookup closes it


@dataclass
class Sample:
    kind: str        # "cycle", "request" or "batch"
    seconds: float
    ok: bool
    op: bool = True  # False when it only times other samples (serve cycle)


def retained_cache_bytes(spark) -> int:
    """Bytes of cached RDD storage the session still holds."""
    return sum(int(i.memSize()) + int(i.diskSize())
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _read_dir(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _by_cell(df: pd.DataFrame, grid: inputs.Grid) -> pd.DataFrame:
    """Add each row's grid cell index; -1 when its key is no cell centre."""
    cell = grid.cell_of(df["latitude"].to_numpy(), df["longitude"].to_numpy())
    same = np.isclose(grid.lat[cell], df["latitude"]) \
        & np.isclose(grid.lon[cell], df["longitude"])
    return df.assign(cell=np.where(same & (cell >= 0), cell, -1))


def check_products(detailed: pd.DataFrame, summary: pd.DataFrame,
                   fields: inputs.Fields) -> bool:
    """Compare the published products with numpy ground truth: the summary
    holds exactly the non-gray cells that pass the upstream mask, there is
    one detailed row per (summary cell, step) with the right valid_for,
    p_above_* equal the integer exceedance share, and min/max equal the
    float32 field.  (Quartiles come from the approximate percentile and are
    not checked.)"""
    grid = fields.grid
    want_cells = fields.non_gray() & fields.keep
    s = _by_cell(summary, grid)
    if (s["cell"] < 0).any() or s["cell"].duplicated().any():
        return False
    if set(s["cell"]) != set(np.flatnonzero(want_cells)):
        return False
    if (s["issued_on"] != inputs.ISSUE_DATE).any():
        return False
    d = _by_cell(detailed, grid)
    if (d["cell"] < 0).any() or len(d) != want_cells.sum() * fields.steps:
        return False
    d = d.sort_values(["cell", "step"])
    if d[["cell", "step"]].duplicated().any():
        return False
    cells = d["cell"].to_numpy()
    steps = d["step"].to_numpy() - 1
    if steps.min() < 0 or steps.max() >= fields.steps:
        return False
    want_valid = [inputs.ISSUE_DATE + dt.timedelta(days=int(k))
                  for k in steps]
    if list(d["valid_for"]) != want_valid:
        return False
    for y in inputs.YEARS:
        got = d[f"p_above_{y}y"].to_numpy()
        if not np.array_equal(got, fields.p_above(y)[cells, steps]):
            return False
    dis = fields.dis24()[:, cells, steps].astype(np.float64)
    if not np.array_equal(d["min_dis"].to_numpy(np.float64), dis.min(0)):
        return False
    if not np.array_equal(d["max_dis"].to_numpy(np.float64), dis.max(0)):
        return False
    return True


class Daily:
    """Landed GRIB files → decode → mask → raw upsert → approx pipeline →
    staged products → publish."""

    name = "daily"

    def __init__(self, spark, data: str, work: str, seed: int, tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.fields = inputs.Fields(seed, **inputs.SHAPES["daily"])
        self.grib = os.path.join(data, "grib", "*.grib2")
        self.thresholds = read_thresholds(
            spark, os.path.join(data, "thresholds.parquet"))
        self.upstream = round_keys(spark.read.parquet(
            os.path.join(data, "upstream.parquet")))
        self.thresholds.count()
        self.upstream.count()
        self.raw = os.path.join(work, "raw")
        self.published = os.path.join(work, "published")
        self.cycles = 0

    def step(self) -> list[Sample]:
        spark, tr = self.spark, self.tracer
        self.cycles += 1
        staging = os.path.join(self.work, f"staging-{self.cycles}")
        t0 = time.perf_counter()
        with tr.span("sources.raster.read_rasters"):
            raw = read_rasters(spark, self.grib)
        with tr.span("operators.grid.upstream_mask"):
            masked = upstream_mask(round_keys(raw), self.upstream)
        with tr.span("sources.parquet.upsert_partitions"):
            day = masked.withColumn("issued_on", F.to_date(
                F.timestamp_seconds(F.col("time") / 10**9)))
            upsert_partitions(day, self.raw, "issued_on")
        with tr.span("sources.parquet.read_forecast"):
            forecast = read_forecast(
                spark, os.path.join(self.raw,
                                    f"issued_on={inputs.ISSUE_DATE}"))
        with tr.span("plans.daily_pipeline.run"):
            products = DailyForecastPipeline().run(forecast, self.thresholds)
        with tr.span("sources.parquet.write_parquet"):
            write_parquet(products.detailed, os.path.join(staging, "detailed"))
            write_parquet(products.summary, os.path.join(staging, "summary"))
        with tr.span("sources.parquet.publish_directory"):
            for name in ("detailed", "summary"):
                publish_directory(spark, os.path.join(staging, name),
                                  os.path.join(self.published, name))
        elapsed = time.perf_counter() - t0
        tr.count("plans.daily_pipeline.retained_cache_bytes",
                 retained_cache_bytes(spark))
        spark.catalog.clearCache()
        shutil.rmtree(staging, ignore_errors=True)
        detailed = os.path.join(self.published, "detailed")
        summary = os.path.join(self.published, "summary")
        ok = check_products(_read_dir(detailed), _read_dir(summary),
                            self.fields)
        return [Sample("cycle", elapsed, ok)]


class Serve:
    """Lookups against a multi-day published history, for random points of
    the latest issue day's summary cells, checked against grid arithmetic.
    A step is one round, timed as a whole for the cycle."""

    name = "serve"

    def __init__(self, spark, data: str, work: str, seed: int, tracer):
        self.spark, self.tracer = spark, tracer
        history = inputs.History(seed, **inputs.SHAPES["serve"])
        self.grid, self.steps = history.grid, history.steps
        self.cell_list = history.latest_cells()
        self.cells = set(self.cell_list.tolist())
        self.rng = np.random.default_rng([seed, 11])
        latest = F.col("issued_on") == F.lit(str(history.latest)).cast("date")
        hist = os.path.join(data, "history")
        self.summary = spark.read.parquet(
            os.path.join(hist, "summary")).filter(latest)
        self.detailed = spark.read.parquet(
            os.path.join(hist, "detailed")).filter(latest)

    def step(self) -> list[Sample]:
        t0 = time.perf_counter()
        samples = [self.request() for _ in range(ROUND_REQUESTS)]
        samples.append(self.batch())
        elapsed = time.perf_counter() - t0
        return [Sample("cycle", elapsed, True, op=False)] + samples

    def _point_in(self, cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Random points strictly inside the given cells."""
        off = self.rng.uniform(-0.45, 0.45, (2, cell.size)) * inputs.RES
        return self.grid.lat[cell] + off[0], self.grid.lon[cell] + off[1]

    def _neighbours(self, cell: int) -> list[int]:
        g = self.grid
        i, j = divmod(cell, g.nlon)
        return sorted({a * g.nlon + b
                       for a in range(i - 1, i + 2)
                       for b in range(j - 1, j + 2)
                       if 0 <= a < g.nlat and 0 <= b < g.nlon} & self.cells)

    def _cells_of(self, rows) -> list[int]:
        lat = np.array([r["latitude"] for r in rows], dtype=np.float64)
        lon = np.array([r["longitude"] for r in rows], dtype=np.float64)
        return self.grid.cell_of(lat, lon).tolist()

    def request(self) -> Sample:
        tr = self.tracer
        cell = int(self.rng.choice(self.cell_list))
        lat, lon = self._point_in(np.array([cell]))
        lat, lon = float(lat[0]), float(lon[0])
        t0 = time.perf_counter()
        with tr.span("operators.serving.plan"):
            hood_df = neighborhood_lookup(self.summary, lat, lon)
            series_df = point_lookup(self.detailed, lat, lon)
        with tr.span("operators.serving.collect"):
            hood = hood_df.collect()
            series = series_df.collect()
        elapsed = time.perf_counter() - t0
        tr.queries(hood_df, series_df)
        tr.count("operators.serving.rows_returned", len(hood) + len(series))
        hood_cells = self._cells_of(hood)
        primary = [c for c, r in zip(hood_cells, hood) if r["is_primary"]]
        ok = (sorted(hood_cells) == self._neighbours(cell)
              and primary == [cell]
              and self._cells_of(series) == [cell] * self.steps
              and sorted(r["step"] for r in series)
              == list(range(1, self.steps + 1)))
        return Sample("request", elapsed, ok)

    def batch(self) -> Sample:
        g = self.grid
        cell = self.rng.integers(0, g.nlat * g.nlon, BATCH_POINTS)
        lat, lon = self._point_in(cell)
        points = pd.DataFrame({"id": np.arange(BATCH_POINTS),
                               "latitude": lat, "longitude": lon})
        t0 = time.perf_counter()
        with self.tracer.span("operators.serving.batch_point_lookup"):
            pts = self.spark.createDataFrame(points)
            rows = batch_point_lookup(self.summary, pts) \
                .select("query_id", "latitude", "longitude").collect()
        elapsed = time.perf_counter() - t0
        got = dict(zip((r["query_id"] for r in rows), self._cells_of(rows)))
        want = {k: int(c) for k, c in enumerate(cell) if int(c) in self.cells}
        return Sample("batch", elapsed, len(rows) == len(got) and got == want)


WORKLOADS = {w.name: w for w in (Daily, Serve)}
