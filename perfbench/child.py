"""One fresh Spark application running one workload: the unit the
benchmark repeats to sample set-up and cold-job time.

It starts the session and runs the first (cold) job. Unless
``--cold-only``, it then runs one untimed warm-up job and timed warm
jobs for ``--seconds`` (at least one), or, with ``--trace 1``, traced
jobs and prefix materializations (at least ``MIN_REPEATS``). Every
job's output is checked. The result is one JSON file; the parent
(``run.py``) aggregates across applications.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import session
from workloads import WORKLOADS

# traced repeats per run whatever --seconds is, so every per-layer value
# is a median of several samples even when one repeat outlasts the run
MIN_REPEATS = 3


def _dir_bytes(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes


class Runner:
    def __init__(self, args, spark):
        self.args = args
        self.spark = spark
        with open(os.path.join(args.root, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.out_base = os.path.join(args.work, "out")
        self.n = 0
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.bytes_per_cell: list[float] = []
        self.last_files = (0, 0)

    def workload(self, **kw):
        return WORKLOADS[self.args.workload](self.spark, self.manifest, self.args.root, **kw)

    def job(self, fn) -> float | None:
        """Run one job writing to a fresh directory, check the output
        and delete it. Returns wall seconds, or None if the job raised
        or failed its check."""
        self.n += 1
        self.attempted += 1
        out = os.path.join(self.out_base, f"job-{self.n}")
        shutil.rmtree(out, ignore_errors=True)
        wl = None
        try:
            t0 = time.perf_counter()
            wl = fn(out)
            wall = time.perf_counter() - t0
            err = wl.check(out)
        except Exception:  # a failed job is counted, not fatal
            wall, err = None, traceback.format_exc(limit=4)
        if err is None:
            files, nbytes = _dir_bytes(out)
            self.bytes_per_cell.append(nbytes / wl.out_cells)
            self.last_files = (files, nbytes)
        else:
            self.failed += 1
            self.errors.append(err)
            wall = None
        shutil.rmtree(out, ignore_errors=True)
        return wall

    def plain(self, out):
        wl = self.workload()
        wl.run(out)
        return wl


def _traced_job(r: Runner, tracer, counters: dict):
    """The job split at the sink, under spans, with the benchmark-owned
    fetcher and model instrumented through accumulators."""
    from openeo_processes_dask_ml_spark.graph import executor
    from openeo_processes_dask_ml_spark.io import load, raster
    from openeo_processes_dask_ml_spark.ml import inference, random_forest
    from openeo_processes_dask_ml_spark.operators import aggregate

    sc = r.spark.sparkContext
    for k in ("fetch_calls", "fetch_bytes", "model_calls", "model_tiles", "model_loads"):
        counters[k] = sc.accumulator(0)
    counters["model_s"] = sc.accumulator(0.0)
    kw = {}
    if r.args.workload == "zonal_ndvi":
        kw["fetch_counters"] = (counters["fetch_calls"], counters["fetch_bytes"])
    elif r.args.workload == "tiled_inference":
        kw["predict_fn"] = _counting_predictor(r.manifest["model_item"], counters)
    wrapped = [
        (executor, "execute_graph", "graph.execute_graph"),
        (raster, "decode_assets_to_cube", "io.decode_assets_to_cube"),
        (aggregate, "assign_cells_to_zones", "operators.assign_cells_to_zones"),
        (aggregate, "aggregate_spatial", "operators.aggregate_spatial"),
        (inference, "run_model_tiled", "ml.run_model_tiled"),
        (random_forest, "ml_fit", "ml.ml_fit"),
        (random_forest, "ml_predict", "ml.ml_predict"),
        (load, "save_result", "io.save_result"),
    ]

    def run(out):
        wl = r.workload(**kw)
        tracer.job = r.n
        with contextlib.ExitStack() as stack:
            for mod, attr, name in wrapped:
                stack.enter_context(tracer.wrap(mod, attr, name))
            with tracer.span("job"):
                with tracer.span("graph.build"):
                    result = wl.build()
                with tracer.span("io.sink"):
                    wl.sink(result, out)
        r.traced_wl = wl
        return wl

    return run


def _counting_predictor(item_path: str, counters: dict):
    """The scikit-learn predictor the graph would resolve by itself,
    wrapped to ship the model's own counters home per call."""
    from openeo_processes_dask_ml_spark.ml.executors import predictor_for
    from openeo_processes_dask_ml_spark.mlm.descriptor import load_stac_ml

    inner = predictor_for(load_stac_ml(item_path))
    calls, tiles = counters["model_calls"], counters["model_tiles"]
    loads, secs = counters["model_loads"], counters["model_s"]

    def predict(batch):
        import pixel_mlp

        before = dict(pixel_mlp.STATS)
        out = inner(batch)
        after = pixel_mlp.STATS
        calls.add(after["calls"] - before["calls"])
        tiles.add(after["tiles"] - before["tiles"])
        loads.add(after["loads"] - before["loads"])
        secs.add(after["seconds"] - before["seconds"])
        return out

    return predict


def _prefix_times(r: Runner, counters: dict) -> tuple[dict, dict]:
    """Wall seconds of each prefix's noop write, and the model seconds
    (summed over tasks) spent inside that same write."""
    wl = r.traced_wl
    times, model_s = {}, {}
    for layer, build in wl.prefixes():
        df = build()
        m0 = counters["model_s"].value
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times[layer] = time.perf_counter() - t0
        model_s[layer] = counters["model_s"].value - m0
    return times, model_s


def traced(r: Runner, setup_s: float, seconds: float) -> dict:
    from spans import Tracer

    tracer = Tracer(r.spark)
    cold_counters: dict = {}
    r.job(_traced_job(r, tracer, cold_counters))
    cold_loads = cold_counters["model_loads"].value
    r.job(r.plain)  # warm-up, so the overhead pair below compares warm jobs
    deadline = time.perf_counter() + seconds
    rows = []
    while len(rows) < MIN_REPEATS or time.perf_counter() < deadline:
        untraced = r.job(r.plain)
        counters: dict = {}
        traced_wall = r.job(_traced_job(r, tracer, counters))
        job_id = r.n
        # read before the prefixes run: they reuse the instrumented job
        counts = {k: acc.value for k, acc in counters.items()}
        prefixes = _prefix_times(r, counters)
        rows.append((job_id, untraced, traced_wall, counts, prefixes, r.last_files))
    tracer.settle()
    per_job = [_layer_metrics(r, tracer, row, setup_s, cold_loads) for row in rows]
    metrics = {k: statistics.median(m[k] for m in per_job) for k in per_job[0]}
    path = os.path.join(r.args.work, f"trace-{r.args.workload}-{r.args.seed}.json")
    tracer.dump(path, {"workload": r.args.workload, "seed": r.args.seed,
                       "per_job": per_job, "metrics": metrics})
    return metrics


def _layer_metrics(r, tracer, row, setup_s, cold_loads) -> dict:
    job_id, untraced, traced_wall, c, prefix_row, (files, nbytes) = row
    prefixes, prefix_model_s = prefix_row

    def dur(name):
        spans = tracer.find(name, job_id)
        outer = [s for s in spans if s["parent"] is None or tracer.spans[s["parent"]]["name"] != name]
        return sum(s["end"] - s["start"] for s in outer), sum(s["jobs"] for s in outer)

    layers = list(prefixes)
    delta = {
        l: prefixes[l] - (prefixes[layers[i - 1]] if i else 0.0)
        for i, l in enumerate(layers)
    }
    build_s, build_jobs = dur("graph.build")
    job = tracer.find("job", job_id)[0]
    calls = c["model_calls"]
    model_s = c["model_s"]
    assets = r.manifest.get("assets", 0)
    fit_s, fit_jobs = dur("ml.ml_fit")
    return {
        "session.start_s": setup_s,
        "graph.build_s": build_s,
        "graph.build_jobs": build_jobs,
        "spark.jobs": job["jobs"],
        "spark.tasks": job["tasks"],
        "io.read_s": prefixes[layers[0]],
        "io.fetch_calls": c["fetch_calls"],
        "io.fetch_bytes": c["fetch_bytes"],
        "io.decode_ratio": c["fetch_calls"] / assets if assets else 0.0,
        "operators.zone_assign_s": delta.get("operators.zonal", 0.0),
        "cube.composite_s": delta.get("cube.composite", 0.0),
        "ml.axis_scan_s": dur("ml.run_model_tiled")[0],
        "ml.model_calls": calls,
        "ml.tiles_per_call": c["model_tiles"] / calls if calls else 0.0,
        "ml.model_s": model_s,
        "ml.harness_s": (
            delta["ml.predict"] - prefix_model_s["ml.predict"] / session.cores()
            if r.args.workload == "tiled_inference" else 0.0
        ),
        "ml.model_loads": cold_loads,
        "ml.fit_s": fit_s,
        "ml.fit_jobs": fit_jobs,
        "ml.predict_s": delta.get("ml.predict", 0.0),
        "io.sink_s": dur("io.sink")[0],
        "io.files_written": files,
        "io.bytes_written": nbytes,
        "trace.overhead_s": (traced_wall or 0.0) - (untraced or 0.0),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--root", required=True, help="generated input directory")
    ap.add_argument("--work", required=True, help="scratch directory")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--cold-only", action="store_true")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    sys.path.insert(0, session.REPO_DIR)
    spark, setup_s = session.start(args.work)
    try:
        r = Runner(args, spark)
        result: dict = {"setup_s": setup_s}
        if args.trace:
            result["layers"] = traced(r, setup_s, args.seconds)
        else:
            result["cold_s"] = r.job(r.plain)
            # one batch job per application is how openEO backends run
            # jobs, so peak memory is taken once the first job is done
            result["peak_rss_mb"] = session.peak_rss_mb(spark)
            warm = []
            if not args.cold_only:
                r.job(r.plain)  # warm-up: JIT and caches settle, not timed
                deadline = time.perf_counter() + args.seconds
                while True:
                    warm.append(r.job(r.plain))
                    if time.perf_counter() >= deadline:
                        break
            result["warm_s"] = warm
        result["bytes_per_cell"] = r.bytes_per_cell
        result["attempted"], result["failed"] = r.attempted, r.failed
        result["errors"] = r.errors[:3]
    finally:
        spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
