"""Flood pipeline benchmark.

    python3 perfbench/run.py --workload daily --seed 1 --seconds 20 --trace 0

Run from the repository root.  Workloads (see README.md): ``daily``
and ``serve``.  One process, one closed-loop client.

1. Inputs for (workload, seed) are generated or taken from the cache in
   ``.perfbench_work/inputs`` (off the clock).
2. Set-up runs ``SETUPS`` times: ``session.get_spark`` (the first launches
   the JVM, later ones start a fresh SparkContext in it) and loading the
   workload's static tables.  ``setup_s`` is the median.
3. ``WARMUP[workload]`` steps run untimed, the first of them cold.
4. Steps run until ``--seconds`` have passed; the metrics are taken from
   them.  Every output is checked against numpy ground truth.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
traced and untraced steps (spans.py), prints the per-layer metrics
(layers.py) and writes the spans to ``.perfbench_work/traces``.  The last
stdout line is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUPS = 3
WARMUP = {"daily": 3, "serve": 3}
E2E_UNITS = {"setup_s": "s", "cycle_s": "s"}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(pid: int) -> int:
    """Summed resident memory of `pid` and all its descendants: the Python
    driver, the JVM and the Python workers the JVM forks."""
    kids, todo, total = _children(), [pid], 0
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak of tree_rss_bytes, sampled every `interval` s between start()
    and stop()."""

    def __init__(self, interval: float = 0.1):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()


def tally(samples) -> tuple[int, int]:
    """(operations attempted, operations failed); a failed output check or
    an exception is a failed operation."""
    ops = [s for s in samples if s.op]
    return len(ops), sum(not s.ok for s in ops)


def _isolate_scratch() -> None:
    """Keep Python workers importable and every scratch file of Spark and
    the JVM inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the launcher JVM that spark-submit starts first writes no hsperfdata
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def _start(get_spark):
    n = len(os.sched_getaffinity(0))
    tmp = os.environ["TMPDIR"]
    return get_spark(master=f"local[{n}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # -UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    })


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _guarded(step) -> list:
    """Run one step; an exception counts as one failed operation."""
    from workloads import Sample

    try:
        return step()
    except Exception:  # the loop must keep running and report it
        traceback.print_exc()
        return [Sample("error", 0.0, False)]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_scratch()
    import inputs
    import layers
    from flood_data_spark.session import get_spark
    from spans import Tracer
    from workloads import WORKLOADS

    data = inputs.ensure_inputs(args.workload, args.seed,
                                os.path.join(WORK, "inputs"))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cls = WORKLOADS[args.workload]

    setup_s, spark, session_start = [], None, 0.0
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _start(get_spark)
        if k == 0:
            session_start = time.perf_counter() - t0
        tracer = Tracer(spark if args.trace else None)
        workload = cls(spark, data, run_dir, args.seed, tracer)
        setup_s.append(time.perf_counter() - t0)

    samples = []
    t0 = time.perf_counter()
    for _ in range(WARMUP[args.workload]):
        samples += _guarded(workload.step)
    first_step_s = samples[0].seconds if samples else 0.0
    warm_end = time.perf_counter()
    print(f"[perfbench] {args.workload} seed={args.seed} "
          f"setup={[round(s, 2) for s in setup_s]} "
          f"warmup={warm_end - t0:.1f}s", file=sys.stderr)

    measured, traced = [], []
    rss = RssSampler()
    if args.trace:  # the sampler thread stays out of untraced timings
        rss.start()
    start = time.perf_counter()
    steps = 0
    # a traced run needs one traced and one untraced step at least
    while (time.perf_counter() - start < args.seconds
           or steps < 1 + args.trace):
        tracer.active = bool(args.trace) and steps % 2 == 0
        tracer.next_op()
        got = _guarded(workload.step)
        (traced if tracer.active else measured).append(got)
        steps += 1
    tracer.active = False
    rss.stop()

    attempted, failed = tally(
        samples + [s for step in measured + traced for s in step])

    cycles = [s.seconds for step in measured for s in step
              if s.kind == "cycle"]
    print(f"[perfbench] measured cycles (s): "
          f"{[round(c, 3) for c in cycles]}", file=sys.stderr)
    if args.trace:
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path)
        print(f"[perfbench] spans written to {path}", file=sys.stderr)
        metrics = layers.per_layer(
            tracer, args.workload, data,
            session_start_s=session_start, first_step_s=first_step_s,
            peak_rss_mb=rss.peak / 2**20, traced=traced, untraced=measured)
    else:
        values = {"setup_s": statistics.median(setup_s),
                  "cycle_s": statistics.median(cycles or [0.0])}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in values.items()}

    _shutdown(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    for name, m in metrics.items():
        print(f"{name:48s} {m['value']:>16.4f} {m['unit']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
