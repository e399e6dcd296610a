"""Elevation-engine benchmark: one workload, one run, one JSON result.

    python3 perfbench/run.py --workload docs_elevation --seed 1 \
        --seconds 10 --trace 0

Runs from the root of a source checkout and imports the library from
there. One driver process on local[nproc] runs one job at a time (a
closed loop with one client). The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A fuller run record (input sizes, box controls, every rep)
goes to .perfbench/runs/. Exit status is 0 only when every rep produced
the expected rows and the oracle subset matched. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
MIN_REPS = 3
WARM_REPS = 1

# cpu_us_per_point (tree CPU per point, median over reps) goes to the
# run record only: on a shared 4-core box it moves by more than a tenth
# between runs of the same code, so it cannot gate
END_TO_END = {
    "points_per_s": "points/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "config.load_s": "s",
    "elevation.resolver_init_s": "s",
    "elevation.salt_prepass_s": "s",
    "elevation.hot_cells": "count",
    "elevation.candidate_rows_per_point": "ratio",
    "elevation.resolve_wall_s": "s",
    "elevation.shuffle_bytes_per_point": "B",
    "elevation.sample_task_skew": "ratio",
    "extract.wall_s": "s",
    "extract.points_per_s": "points/s",
    "extract.valid_frac": "ratio",
    "geotiff.open_ms_per_tile": "ms",
    "geotiff.cold_decode_mb_per_s": "MB/s",
    "geotiff.decoded_mb_vs_cache_mb": "ratio",
    "interpolate.us_per_point.nearest": "us",
    "interpolate.us_per_point.bilinear": "us",
    "interpolate.us_per_point.cubic": "us",
    "crs.reproject_us_per_point.epsg3035": "us",
    "crs.reproject_us_per_point.epsg4326": "us",
    "geodesic.us_per_sample": "us",
    "paths.sample_wall_s": "s",
    "paths.fold_wall_s": "s",
    "lineage.write_wall_s": "s",
    "lineage.files_written": "count",
    "lineage.bytes_per_point": "B",
    "lineage.verify_wall_s": "s",
    "trace.e2e_wall_s": "s",
    "trace.overhead_frac": "ratio",
}
# layers with spans after set-up (session and config only run in set-up)
LAYERS = ("extract", "elevation", "geotiff", "interpolate", "crs",
          "geodesic", "paths", "lineage")
PER_LAYER.update({f"self_s.{layer}": "s" for layer in LAYERS})


def _confine_to_checkout() -> str:
    """Point every scratch location Spark, the JVM and the library use at
    the checkout's own work directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the engine's 8g default heap is sized for large jobs; these inputs
    # fit in 2g and the box's memory is shared
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    return tmp


def _box_controls(procs: int) -> dict | None:
    """Short same-session CPU and memory-bandwidth reading from
    tools/bench_controls.py, so a drift in the metrics can be put down to
    the box or to the code."""
    path = os.path.join(ROOT, "tools", "bench_controls.py")
    if not os.path.exists(path):
        return None
    spec = importlib.util.spec_from_file_location("bench_controls", path)
    bc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bc)
    return {
        f"bandwidth_gbps_{procs}_streams": bc.run(bc._bw_worker, procs, 0.5) / 1e9,
        "cpu_hashes_per_s_1_proc": bc.run(bc._cpu_worker, 1, 0.5),
    }


def _start_spark(procs: int, trace: bool, tmp: str):
    from opentopodata_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:  # the status REST API is served by the UI
        conf["spark.ui.enabled"] = "true"
    spark = get_spark(app_name="perfbench", cores=procs, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    from perfbench import procstat

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    procstat.reap_descendants()


class Runner:
    def __init__(self, workload, tracer, expected: int):
        self.w = workload
        self.tracer = tracer
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def rep(self) -> tuple[float, float] | None:
        """One complete job with its row check: (wall s, tree CPU s), or
        None if it raised or produced the wrong number of rows."""
        from perfbench import procstat

        self.attempted += 1
        try:
            cpu0 = procstat.tree_cpu_s()
            with self.tracer.span("rep", "e2e"):
                t0 = time.monotonic()
                result = self.w.rep()
                wall = time.monotonic() - t0
            cpu = procstat.tree_cpu_s() - cpu0
            rows = self.w.rows(result)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None
        finally:
            self.w.cleanup()
        if rows != self.expected:
            self.failed += 1
            self.errors.append(f"rep produced {rows} rows, expected {self.expected}")
            return None
        return wall, cpu

    def check_rep(self):
        """The cold rep that also collects the oracle subset; returns what
        ``verify`` needs, or None if it failed."""
        self.attempted += 1
        try:
            rows, got = self.w.check_rep()
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            self.w.cleanup()
            return None
        if rows != self.expected:
            self.failed += 1
            self.errors.append(f"cold rep produced {rows} rows, expected {self.expected}")
            self.w.cleanup()
            return None
        return got

    def verify(self, got) -> None:
        """Oracle comparison of the cold rep's subset (outside set-up)."""
        try:
            bad = self.w.verify(got)
        except Exception:
            bad = [traceback.format_exc(limit=3)]
        finally:
            self.w.cleanup()
        if bad:
            self.failed += 1
            self.errors += bad[:20]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs tiny inputs)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "opentopodata_spark", "__init__.py")):
        print("perfbench: the opentopodata_spark package is not in this "
              f"checkout ({ROOT}); nothing to measure", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import procstat
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    tmp = _confine_to_checkout()
    procs = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-trace{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=trace)

    w = WORKLOADS[args.workload](WORK, args.seed, args.scale, tracer, procs)
    controls = _box_controls(procs)
    runner = Runner(w, tracer, w.expected_rows)
    m: dict[str, float] = {}
    layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    reps: list[tuple[float, float]] = []
    rep_rss: list[float] = []
    traced_walls: list[float] = []
    untraced_walls: list[float] = []
    spark = None
    try:
        t_setup = time.monotonic()
        with tracer.span("setup", "setup"):
            with tracer.span("session.get_spark", "session"):
                t0 = time.monotonic()
                spark = _start_spark(procs, trace, tmp)
                layer["session.start_s"] = time.monotonic() - t0
            w.setup(spark)
            with tracer.span("cold rep", "e2e"):
                got = runner.check_rep()
        m["setup_s"] = time.monotonic() - t_setup
        layer.update(w.setup_times)
        layer["elevation.hot_cells"] = float(len(w.salts))
        if got is not None:
            runner.verify(got)
        # JIT compilation still speeds the second rep up by ~15%
        for _ in range(WARM_REPS):
            runner.rep()
        with procstat.PeakRss() as rss:
            t_start = time.monotonic()
            while (time.monotonic() - t_start < args.seconds
                   or len(reps) < MIN_REPS) and runner.failed < 3:
                # a traced run alternates traced and untraced reps, so
                # the tracing overhead comes from one session
                tracer.enabled = trace and len(reps) % 2 == 0
                rss.take()
                r = runner.rep()
                if r is not None:
                    reps.append(r)
                    rep_rss.append(rss.take())
                    (traced_walls if tracer.enabled else untraced_walls).append(r[0])
            tracer.enabled = trace
        if trace and runner.failed == 0:
            trace_dir = os.path.join(WORK, "trace-work", run_id)
            try:
                w.trace_layers(layer, trace_dir)
            finally:
                shutil.rmtree(trace_dir, ignore_errors=True)
    except Exception:
        runner.failed += 1
        runner.errors.append(traceback.format_exc(limit=5))
    finally:
        _stop_spark(spark)

    if reps:
        wall = statistics.median(r[0] for r in reps)
        m["points_per_s"] = w.n_points / wall
        m["cpu_us_per_point"] = statistics.median(r[1] for r in reps) * 1e6 / w.n_points
        m["peak_rss_mb"] = statistics.median(rep_rss)
    correct = runner.failed == 0 and len(reps) >= MIN_REPS
    if trace and traced_walls:
        layer["trace.e2e_wall_s"] = statistics.median(traced_walls)
        if untraced_walls:
            base = statistics.median(untraced_walls)
            layer["trace.overhead_frac"] = layer["trace.e2e_wall_s"] / base - 1.0
        # set-up has its own metrics; self time covers the steady state
        for name, secs in tracer.self_seconds(skip_under="setup").items():
            if name in LAYERS:
                layer[f"self_s.{name}"] = secs

    chosen = PER_LAYER if trace else END_TO_END
    values = layer if trace else m
    metrics = {k: {"value": values[k], "unit": u} for k, u in chosen.items()
               if k in values}
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        "procs": procs, "sizes": w.sizes, "box_controls": controls,
        "rep_walls_s": [r[0] for r in reps], "rep_cpu_s": [r[1] for r in reps],
        "rep_peak_rss_mb": rep_rss,
        "cpu_us_per_point": m.get("cpu_us_per_point"),
        "attempted": runner.attempted, "failed": runner.failed,
        "error_rate": runner.failed / max(1, runner.attempted),
        "errors": runner.errors, "metrics": metrics,
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if trace:
        tracer.write(os.path.join(WORK, "runs", f"{run_id}.spans.json"),
                     {k: layer[k] for k in PER_LAYER})
    for e in runner.errors:
        print(e, file=sys.stderr)
    print(json.dumps({"run_id": run_id, "sizes": w.sizes, "box_controls": controls,
                      "rep_walls_s": record["rep_walls_s"]}), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
