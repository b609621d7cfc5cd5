"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The last test starts Spark and runs the benchmark end to end on a small
grid (about a minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from spans import parse_metric, stage_layer  # noqa: E402
from workloads import Sample, check_products  # noqa: E402

SMALL = {"nlat": 6, "nlon": 5, "members": 51, "steps": 30}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _products(fields: inputs.Fields) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The products a correct engine publishes, built with numpy."""
    g = fields.grid
    cells = np.flatnonzero(fields.non_gray() & fields.keep)
    steps = np.arange(fields.steps)
    c, s = np.repeat(cells, steps.size), np.tile(steps, cells.size)
    dis = fields.dis24()[:, c, s].astype(np.float64)
    day = inputs.ISSUE_DATE
    detailed = pd.DataFrame({
        "latitude": g.lat[c], "longitude": g.lon[c],
        "issued_on": day,
        "valid_for": [day + pd.Timedelta(days=int(k)).to_pytimedelta()
                      for k in s],
        "step": s + 1,
        **{f"p_above_{y}y": fields.p_above(y)[c, s] for y in inputs.YEARS},
        "min_dis": dis.min(0), "max_dis": dis.max(0)})
    summary = pd.DataFrame({"latitude": g.lat[cells],
                            "longitude": g.lon[cells], "issued_on": day})
    return detailed, summary


def test_metric_names_and_units_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
    assert {w["name"] for w in spec["workloads"]} == set(run.WARMUP)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]


def test_ground_truth_products_pass_the_check():
    fields = inputs.Fields(3, **SMALL)
    detailed, summary = _products(fields)
    assert len(summary) > 0
    assert check_products(detailed, summary, fields)


@pytest.mark.parametrize("plant", ["flip_p_above", "min", "drop_cell",
                                   "extra_cell", "valid_for"])
def test_planted_wrong_value_fails_the_check(plant):
    fields = inputs.Fields(3, **SMALL)
    detailed, summary = _products(fields)
    if plant == "flip_p_above":
        detailed.loc[7, "p_above_2y"] = 1.0 - detailed.loc[7, "p_above_2y"]
    elif plant == "min":
        detailed.loc[3, "min_dis"] += 0.1
    elif plant == "drop_cell":
        summary = summary.iloc[1:]
    elif plant == "extra_cell":
        masked_out = np.flatnonzero(~fields.keep)[0]
        summary = pd.concat([summary, pd.DataFrame({
            "latitude": [fields.grid.lat[masked_out]],
            "longitude": [fields.grid.lon[masked_out]],
            "issued_on": [inputs.ISSUE_DATE]})])
    else:
        detailed.loc[0, "valid_for"] = inputs.ISSUE_DATE
        detailed.loc[1, "valid_for"] = inputs.ISSUE_DATE
    assert not check_products(detailed, summary, fields)


def test_failed_checks_count_as_failed_operations():
    samples = [Sample("cycle", 1.0, False), Sample("request", 0.1, True),
               Sample("cycle", 2.0, True, op=False),
               Sample("batch", 0.2, False)]
    assert run.tally(samples) == (3, 2)


def test_seed_changes_inputs_not_metric_names(tmp_path):
    a = inputs.ensure_inputs("serve", 1, str(tmp_path))
    b = inputs.ensure_inputs("serve", 2, str(tmp_path))
    assert a != b
    files = sorted(os.path.relpath(os.path.join(d, f), a)
                   for d, _, fs in os.walk(a) for f in fs)
    assert files == sorted(os.path.relpath(os.path.join(d, f), b)
                           for d, _, fs in os.walk(b) for f in fs)
    assert inputs._digest(a) != inputs._digest(b)
    f1, f2 = inputs.Fields(1, **SMALL), inputs.Fields(2, **SMALL)
    assert not np.array_equal(f1.x, f2.x)
    # same seed, same inputs: a cache hit returns the same directory
    assert inputs.ensure_inputs("serve", 1, str(tmp_path)) == a


def test_cache_content_check_regenerates_tampered_inputs(tmp_path):
    out = inputs.ensure_inputs("serve", 5, str(tmp_path))
    digest = inputs._digest(out)
    victim = os.path.join(out, "history", "summary",
                          sorted(os.listdir(os.path.join(
                              out, "history", "summary")))[0],
                          "part-00000.parquet")
    with open(victim, "ab") as f:
        f.write(b"x")
    assert inputs._digest(out) != digest
    assert inputs.ensure_inputs("serve", 5, str(tmp_path)) == out
    assert inputs._digest(out) == digest


def test_parse_metric_and_stage_layers():
    assert parse_metric("10,380") == 10380
    assert parse_metric("1.5 KiB") == 1536
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "1.3 s (13 ms, 27 ms, 138 ms (stage 13.0: task 1))") \
        == pytest.approx(1300)
    assert stage_layer(["Scan binaryFile", "MapInPandas", "WriteFiles"]) \
        == "sources.raster"
    assert stage_layer(["Exchange", "ObjectHashAggregate"]) \
        == "operators.threshold"
    assert stage_layer(["ObjectHashAggregate", "InMemoryTableScan"]) is None
    assert stage_layer(["AQEShuffleRead", "WriteFiles"]) == "sources.parquet"


def test_history_schema_matches_a_real_pipeline_output(tmp_path):
    """The serve history is generated without the engine; its schema must
    still be the one the daily pipeline publishes."""
    pq = pytest.importorskip("pyarrow.parquet")
    from flood_data_spark.session import get_spark
    from flood_data_spark.functions.keys import round_keys
    from flood_data_spark.functions.temporal import normalize_forecast_times
    from flood_data_spark.plans.daily_pipeline import DailyForecastPipeline
    from flood_data_spark.sources.raster import (read_rasters,
                                                 synthetic_grib_decoder)

    os.environ["PYTHONPATH"] = ROOT
    spark = get_spark(master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    t0 = 1_704_067_200 * 10**9
    for s in range(1, 4):
        (tmp_path / f"fc-{s}.grib").write_text(json.dumps(
            {"step_days": s, "time_ns": t0, "members": 4, "lat0": 0.025,
             "lon0": 0.025, "nlat": 3, "nlon": 3, "resolution": 0.05}))
    raw = read_rasters(spark, str(tmp_path / "*.grib"),
                       decoder=synthetic_grib_decoder)
    thresholds = spark.createDataFrame(
        [(round(0.025 + i * 0.05, 3), round(0.025 + j * 0.05, 3),
          100.0, 200.0, 300.0) for i in range(3) for j in range(3)],
        "latitude double, longitude double, threshold_2y double,"
        " threshold_5y double, threshold_20y double")
    products = DailyForecastPipeline().run(
        normalize_forecast_times(round_keys(raw)), thresholds)
    for name, df, want in (("detailed", products.detailed,
                            inputs.DETAILED_SCHEMA),
                           ("summary", products.summary,
                            inputs.SUMMARY_SCHEMA)):
        out = str(tmp_path / name)
        df.write.partitionBy("issued_on").parquet(out)
        got = pq.read_table(out).schema
        got = got.remove(got.get_field_index("issued_on"))
        assert [(f.name, f.type) for f in got] \
            == [(f.name, f.type) for f in want], name
    spark.stop()


def test_run_prints_every_metric_and_checks_outputs():
    """serve end to end for one second: the last stdout line carries every
    end-to-end metric with its unit, and every lookup passed its check."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve",
         "--seed", "4", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} \
        == run.E2E_UNITS
    assert all(v["value"] > 0 for v in result["metrics"].values())
