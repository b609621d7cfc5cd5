"""Per-layer metrics of a traced run, named ``<module>.<metric>``.

Each metric is computed per traced step, then the median over traced
steps is reported.  README.md lists which end-to-end metric each one
should move.  Layers that do no work in a workload report 0.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from collections import defaultdict

UNITS = {
    "session.start_s": "s",
    "bench.first_step_s": "s",
    "bench.trace_overhead_ms": "ms",
    "bench.peak_rss_mb": "MB",
    "sources.grib2.decode_ns_per_value": "ns",
    "sources.grib2.values": "count",
    "sources.raster.tasks": "count",
    "sources.raster.stage_ms": "ms",
    "sources.raster.exec_run_ms": "ms",
    "sources.raster.exec_cpu_ms": "ms",
    "sources.raster.task_max_over_median": "ratio",
    "sources.raster.arrow_bytes": "bytes",
    "sources.raster.failed_tasks": "count",
    "operators.grid.rows_in": "count",
    "operators.grid.rows_kept": "count",
    "operators.threshold.exec_run_ms": "ms",
    "operators.threshold.shuffle_write_bytes": "bytes",
    "operators.threshold.spill_bytes": "bytes",
    "operators.threshold.gc_ms": "ms",
    "operators.threshold.failed_tasks": "count",
    "plans.daily_pipeline.plan_ms": "ms",
    "plans.daily_pipeline.plan_jobs": "count",
    "plans.daily_pipeline.jobs": "count",
    "plans.daily_pipeline.stages": "count",
    "plans.daily_pipeline.tasks": "count",
    "plans.daily_pipeline.exec_run_ms": "ms",
    "plans.daily_pipeline.shuffle_read_bytes": "bytes",
    "plans.daily_pipeline.driver_ms": "ms",
    "plans.daily_pipeline.retained_cache_bytes": "bytes",
    "plans.daily_pipeline.failed_tasks": "count",
    "sources.parquet.write_ms": "ms",
    "sources.parquet.output_bytes": "bytes",
    "sources.parquet.files_written": "count",
    "sources.parquet.publish_ms": "ms",
    "sources.parquet.files_read_per_request": "count",
    "sources.parquet.bytes_read_per_request": "bytes",
    "sources.parquet.rows_scanned_per_row_returned": "ratio",
    "sources.parquet.failed_tasks": "count",
    "operators.serving.plan_ms": "ms",
    "operators.serving.catalyst_ms": "ms",
    "operators.serving.jobs_per_request": "count",
    "operators.serving.driver_ms_per_request": "ms",
    "operators.serving.exec_run_ms_per_request": "ms",
    "operators.serving.batch_exec_run_ms": "ms",
    "operators.serving.batch_shuffle_bytes": "bytes",
    "operators.serving.failed_tasks": "count",
    "operators.serving.request_ms_p50": "ms",
    "operators.serving.request_ms_p95": "ms",
    "operators.serving.batch_ms_p50": "ms",
}

_WRITE_SPANS = ("sources.parquet.write_parquet",
                "sources.parquet.upsert_partitions")
_INSERT = "Execute InsertIntoHadoopFsRelationCommand"
DECODE_FILES = 6       # GRIB files decoded in-process for the ns/value


def _sql(spans, node: str, metric: str) -> float:
    return sum(m.get(metric, 0.0) for s in spans for name, m in s.sql
               if name == node)


def _stages(spans, layer=None):
    return [st for s in spans for st in s.stages
            if st.tasks and (layer is None or st.layer == layer)]


def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


def _step_metrics(spans, counts) -> dict[str, float]:
    """Every per-layer metric of one traced step, from its spans."""
    out = defaultdict(float)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    raster = _stages(spans, "sources.raster")
    out["sources.raster.tasks"] = sum(st.tasks for st in raster)
    out["sources.raster.stage_ms"] = sum(st.wall_ms for st in raster)
    out["sources.raster.exec_run_ms"] = sum(st.run_ms for st in raster)
    out["sources.raster.exec_cpu_ms"] = sum(st.cpu_ms for st in raster)
    out["sources.raster.task_max_over_median"] = max(
        (st.task_max_over_median for st in raster), default=0.0)
    out["sources.raster.arrow_bytes"] = _sql(
        spans, "MapInPandas", "data returned from Python workers")
    out["sources.raster.failed_tasks"] = sum(st.failed_tasks for st in raster)

    mask = by_name["operators.grid.upstream_mask"]
    if mask:
        ingest = by_name["sources.parquet.upsert_partitions"][:1]
        out["operators.grid.rows_in"] = _sql(
            ingest, "MapInPandas", "number of output rows")
        out["operators.grid.rows_kept"] = _sql(
            ingest, _INSERT, "number of output rows")

    thr = _stages(spans, "operators.threshold")
    out["operators.threshold.exec_run_ms"] = sum(st.run_ms for st in thr)
    out["operators.threshold.shuffle_write_bytes"] = sum(
        st.shuffle_write_bytes for st in thr)
    out["operators.threshold.spill_bytes"] = sum(st.spill_bytes for st in thr)
    out["operators.threshold.gc_ms"] = sum(st.gc_ms for st in thr)
    out["operators.threshold.failed_tasks"] = sum(
        st.failed_tasks for st in thr)

    plan = by_name["plans.daily_pipeline.run"]
    if plan:
        # the pipeline executes in the writes that follow its planning
        t_plan = plan[0].start
        execs = plan + [s for s in spans if s.name in _WRITE_SPANS
                        and s.start > t_plan]
        stages = _stages(execs)
        p = "plans.daily_pipeline."
        out[p + "plan_ms"] = plan[0].wall_ms
        out[p + "plan_jobs"] = plan[0].jobs
        out[p + "jobs"] = sum(s.jobs for s in execs)
        out[p + "stages"] = len(stages)
        out[p + "tasks"] = sum(st.tasks for st in stages)
        out[p + "exec_run_ms"] = sum(st.run_ms for st in stages)
        out[p + "shuffle_read_bytes"] = sum(
            st.shuffle_read_bytes for st in stages)
        out[p + "driver_ms"] = sum(s.wall_ms - s.job_ms for s in execs)
        out[p + "failed_tasks"] = sum(
            st.failed_tasks for st in stages if st.layer is None)
    retained = counts.get("plans.daily_pipeline.retained_cache_bytes")
    if retained:
        out["plans.daily_pipeline.retained_cache_bytes"] = retained[0]

    writes = [s for s in spans if s.name in _WRITE_SPANS]
    out["sources.parquet.write_ms"] = sum(
        st.run_ms for st in _stages(writes, "sources.parquet"))
    out["sources.parquet.output_bytes"] = _sql(writes, _INSERT,
                                               "written output")
    out["sources.parquet.files_written"] = _sql(writes, _INSERT,
                                                "number of written files")
    out["sources.parquet.publish_ms"] = sum(
        s.wall_ms for s in by_name["sources.parquet.publish_directory"])
    out["sources.parquet.failed_tasks"] = sum(
        st.failed_tasks for st in _stages(spans, "sources.parquet"))

    collect = by_name["operators.serving.collect"]
    plans = by_name["operators.serving.plan"]
    n = len(collect)
    scanned = _sql(collect, "Scan parquet", "number of output rows")
    returned = sum(counts.get("operators.serving.rows_returned", []))
    q = "operators.serving."
    out["sources.parquet.files_read_per_request"] = _mean(
        _sql(collect, "Scan parquet", "number of files read"), n)
    out["sources.parquet.bytes_read_per_request"] = _mean(
        _sql(collect, "Scan parquet", "size of files read"), n)
    out["sources.parquet.rows_scanned_per_row_returned"] = _mean(
        scanned, returned)
    out[q + "plan_ms"] = _mean(sum(s.wall_ms for s in plans), n)
    out[q + "catalyst_ms"] = _mean(sum(s.catalyst_ms for s in collect), n)
    out[q + "jobs_per_request"] = _mean(sum(s.jobs for s in collect), n)
    out[q + "driver_ms_per_request"] = _mean(
        sum(s.wall_ms - s.job_ms for s in collect + plans), n)
    out[q + "exec_run_ms_per_request"] = _mean(
        sum(st.run_ms for st in _stages(collect)), n)
    batch = by_name["operators.serving.batch_point_lookup"]
    out[q + "batch_exec_run_ms"] = _mean(
        sum(st.run_ms for st in _stages(batch)), len(batch))
    out[q + "batch_shuffle_bytes"] = _mean(
        sum(st.shuffle_write_bytes for st in _stages(batch)), len(batch))
    out[q + "failed_tasks"] = sum(
        st.failed_tasks for st in _stages(collect + plans + batch))
    return out


def decode_in_process(data: str) -> tuple[float, int]:
    """Single-thread grib_decoder over the first DECODE_FILES GRIB files,
    outside Spark: (ns per decoded value, values decoded)."""
    from flood_data_spark.sources.raster import grib_decoder

    files = sorted(glob.glob(os.path.join(data, "grib", "*.grib2")))
    blobs = []
    for path in files[:DECODE_FILES]:
        with open(path, "rb") as f:
            blobs.append(f.read())
    t0 = time.perf_counter_ns()
    values = sum(len(grib_decoder(b)) for b in blobs)
    return (time.perf_counter_ns() - t0) / max(values, 1), values


def _percentile(values: list[float], q: int) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def per_layer(tracer, workload: str, data: str, *, session_start_s: float,
              first_step_s: float, peak_rss_mb: float,
              traced, untraced) -> dict:
    """The per_layer metrics of BENCHMARK.json for one traced run.
    Latencies and the overhead come from the untraced steps."""
    by_op = defaultdict(list)
    for s in tracer.spans:
        by_op[s.op].append(s)
    counts_by_op = defaultdict(lambda: defaultdict(list))
    for name, values in tracer.counts.items():
        for op, v in values:
            counts_by_op[op][name].append(v)
    steps = [_step_metrics(by_op[op], counts_by_op[op])
             for op in sorted(by_op)]
    values = {k: statistics.median(m.get(k, 0.0) for m in steps)
              if steps else 0.0 for k in UNITS}

    def ms(group, kind):
        return [s.seconds * 1e3 for step in group for s in step
                if s.kind == kind]

    def cycle_ms(group):
        return statistics.median(ms(group, "cycle") or [0.0])

    requests = ms(untraced, "request")
    values["operators.serving.request_ms_p50"] = _percentile(requests, 50)
    values["operators.serving.request_ms_p95"] = _percentile(requests, 95)
    values["operators.serving.batch_ms_p50"] = _percentile(
        ms(untraced, "batch"), 50)
    values["bench.peak_rss_mb"] = peak_rss_mb
    values["session.start_s"] = session_start_s
    values["bench.first_step_s"] = first_step_s
    values["bench.trace_overhead_ms"] = cycle_ms(traced) - cycle_ms(untraced)
    if workload == "daily":
        ns, n = decode_in_process(data)
        values["sources.grib2.decode_ns_per_value"] = ns
        values["sources.grib2.values"] = n
    return {k: {"value": float(values[k]), "unit": UNITS[k]} for k in UNITS}
