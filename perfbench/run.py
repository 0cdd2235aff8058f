"""openEO batch-job benchmark for openeo_processes_dask_ml_spark.

    python3 perfbench/run.py --workload zonal_ndvi --seed 1 --seconds 8 --trace 0

Closed loop, one client: jobs run back to back on ``local[nproc]``. The
run generates its inputs from ``--seed`` (not timed), then starts
``APPS`` fresh Spark applications one after the other. Each times its
set-up and its first (cold) job; the last one then runs one untimed
warm-up job and timed warm jobs for ``--seconds``. Every job's output
is checked against a numpy reference. The last stdout line is the JSON
result: end-to-end metrics with ``--trace 0``, per-layer metrics (from
``child.py``'s traced mode) with ``--trace 1``.
Exits non-zero, without a result line, if any job failed or the package
is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_DIR = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO_DIR)

from gen import RfSize, Size, generate  # noqa: E402

APPS = 2  # fresh applications per run, each sampling set-up and cold job
RUN_TIMEOUT_S = 165  # all applications of one run, so the run ends within 180 s

SIZES = {
    "full": {
        "zonal_ndvi": Size(dates=8, side=128),
        "tiled_inference": Size(dates=4, side=128),
        "rf_classify": RfSize(dates=4, side=48, labels=300, trees=10),
    },
    "tiny": {
        "zonal_ndvi": Size(dates=4, side=32),
        "tiled_inference": Size(dates=2, side=64),
        "rf_classify": RfSize(dates=4, side=32, labels=200, trees=5),
    },
}

END_TO_END_UNITS = {
    "cells_per_s": "cells/s",
    "cold_job_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "bytes_written_per_cell": "B/cell",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "graph.build_s": "s",
    "graph.build_jobs": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "io.read_s": "s",
    "io.fetch_calls": "count",
    "io.fetch_bytes": "B",
    "io.decode_ratio": "ratio",
    "operators.zone_assign_s": "s",
    "cube.composite_s": "s",
    "ml.axis_scan_s": "s",
    "ml.model_calls": "count",
    "ml.tiles_per_call": "tiles",
    "ml.model_s": "s",
    "ml.harness_s": "s",
    "ml.model_loads": "count",
    "ml.fit_s": "s",
    "ml.fit_jobs": "count",
    "ml.predict_s": "s",
    "io.sink_s": "s",
    "io.files_written": "count",
    "io.bytes_written": "B",
    "trace.overhead_s": "s",
}


def _child(args, root: str, work: str, n: int, cold_only: bool, deadline: float) -> dict:
    result = os.path.join(work, f"child-{n}.json")
    cmd = [
        sys.executable, os.path.join(BENCH_DIR, "child.py"),
        "--workload", args.workload, "--root", root, "--work", work,
        "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--seed", str(args.seed),
        "--result", result,
    ] + (["--cold-only"] if cold_only else [])
    err_path = os.path.join(work, f"child-{n}.err")
    with open(err_path, "w") as err:
        code = _run_group(cmd, work, err, deadline)
    if code != 0 or not os.path.exists(result):
        with open(err_path) as err:
            sys.stderr.write(err.read()[-4000:])
        raise SystemExit(f"{args.workload}: application {n} exited {code}")
    with open(result) as f:
        return json.load(f)


def _run_group(cmd: list[str], cwd: str, err, deadline: float) -> int:
    """Run ``cmd`` in its own process group and return its exit code
    once every process of the group (the child's JVM and its Python
    workers too) has ended. Past ``deadline`` the whole group is killed
    and -9 returned."""
    proc = subprocess.Popen(
        cmd, cwd=cwd, stdout=subprocess.DEVNULL, stderr=err,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = -9
    # the JVM exits shortly after its Python driver; wait for it
    while _group_alive(proc.pid):
        if code == -9 or time.monotonic() > deadline:
            code = -9
            os.killpg(proc.pid, signal.SIGKILL)
        time.sleep(0.05)
    proc.wait()
    return code


def _group_alive(pgid: int) -> bool:
    """True while a live (not zombie) process is in group ``pgid``."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO_DIR, "openeo_processes_dask_ml_spark")):
        sys.stderr.write("openeo_processes_dask_ml_spark not found next to perfbench/\n")
        return 2

    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        size = SIZES[args.size][args.workload]
        root = os.path.join(work, "inputs")
        t0 = time.perf_counter()
        manifest = generate(args.workload, root, args.seed, size)
        gen_s = time.perf_counter() - t0

        n_apps = 1 if args.trace else APPS
        deadline = time.monotonic() + RUN_TIMEOUT_S
        apps = [
            _child(args, root, work, i, cold_only=i < n_apps - 1, deadline=deadline)
            for i in range(n_apps)
        ]
        if args.trace:
            trace_src = os.path.join(work, f"trace-{args.workload}-{args.seed}.json")
            trace_dst = os.path.join(BENCH_DIR, ".work", os.path.basename(trace_src))
            shutil.copyfile(trace_src, trace_dst)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(a["attempted"] for a in apps)
    failed = sum(a["failed"] for a in apps)
    for a in apps:
        for err in a["errors"]:
            sys.stderr.write(err + "\n")
    print(
        f"{args.workload}: seed {args.seed}, {manifest['cells']} input cells, "
        f"inputs generated in {gen_s:.2f} s, {attempted} jobs, {failed} failed "
        f"(failed_frac {failed / attempted:.3f})"
    )
    if failed:
        return 1

    if args.trace:
        values = apps[-1]["layers"]
        units = LAYER_UNITS
        print(f"trace written to {os.path.relpath(trace_dst, REPO_DIR)}")
    else:
        warm = [w for a in apps for w in a["warm_s"]]
        values = {
            "cells_per_s": manifest["cells"] / statistics.median(warm),
            "cold_job_s": statistics.median(a["cold_s"] for a in apps),
            "setup_s": statistics.median(a["setup_s"] for a in apps),
            "peak_rss_mb": statistics.median(a["peak_rss_mb"] for a in apps),
            "bytes_written_per_cell": statistics.median(
                b for a in apps for b in a["bytes_per_cell"]
            ),
        }
        units = END_TO_END_UNITS
        print(f"warm jobs: {len(warm)}, median {statistics.median(warm):.3f} s")
    for k, v in values.items():
        print(f"  {k:<26} {v:>16.6g} {units[k]}")
    print(json.dumps({
        "correct": True,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
