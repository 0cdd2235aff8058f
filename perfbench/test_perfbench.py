"""The benchmark's own tests: generator determinism, the output checks
rejecting wrong answers, and a tiny-size run of every workload (plain
and traced) through the real command.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))
sys.path.insert(0, BENCH_DIR)

from gen import GENERATORS, generate  # noqa: E402
from run import SIZES  # noqa: E402
from workloads import RfClassify, ZonalNdvi  # noqa: E402

TINY = SIZES["tiny"]


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_generator_is_deterministic(workload, tmp_path):
    roots = [str(tmp_path / n) for n in ("a", "b", "c")]
    generate(workload, roots[0], 5, TINY[workload])
    generate(workload, roots[1], 5, TINY[workload])
    generate(workload, roots[2], 6, TINY[workload])
    # manifests and the model item name their own directory: drop the
    # manifest and write the item's paths relative before comparing
    for r in roots:
        os.remove(os.path.join(r, "manifest.json"))
        item = os.path.join(r, "pixel_mlp.json")
        if os.path.exists(item):
            with open(item) as f:
                text = f.read().replace(r, "ROOT")
            with open(item, "w") as f:
                f.write(text)
    assert _same_tree(roots[0], roots[1])
    assert not _same_tree(roots[0], roots[2])


def test_zonal_check_rejects_a_wrong_mean(tmp_path):
    m = generate("zonal_ndvi", str(tmp_path / "in"), 2, TINY["zonal_ndvi"])
    rows = pd.DataFrame(m["expected"], columns=["zone_id", "month", "value"])
    out = str(tmp_path / "out")
    os.makedirs(out)

    def write(values):
        pq.write_table(
            pa.table({
                "zone_id": rows["zone_id"],
                "time": pd.to_datetime(rows["month"] + "-01"),
                "value": values,
            }),
            os.path.join(out, "part-0.parquet"),
        )

    wl = ZonalNdvi(None, m, str(tmp_path / "in"))
    write(rows["value"])
    assert wl.check(out) is None
    write(rows["value"] + np.where(np.arange(len(rows)) == 3, 1e-5, 0.0))
    assert "zone" in wl.check(out)


def test_rf_check_rejects_out_of_domain_and_inaccurate_maps(tmp_path):
    from openeo_processes_dask_ml_spark.io.gtiff import encode_gtiff

    m = generate("rf_classify", str(tmp_path / "in"), 2, TINY["rf_classify"])
    wl = RfClassify(None, m, str(tmp_path / "in"))
    out = str(tmp_path / "out")
    os.makedirs(out)

    def write(arr):
        with open(os.path.join(out, "tile.tif"), "wb") as f:
            f.write(encode_gtiff(arr.astype(np.float64)))

    write(wl.classes)
    assert wl.check(out) is None
    write(np.where(wl.classes == 0, 7, wl.classes))
    assert "domain" in wl.check(out)
    write((wl.classes + 1) % 4)
    assert "accuracy" in wl.check(out)


def _run(workload: str, trace: int, cwd: str, script: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, script, "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_tiny_run_passes_its_checks(workload, trace):
    repo = os.path.dirname(BENCH_DIR)
    proc = _run(workload, trace, repo, os.path.join("perfbench", "run.py"))
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    metrics = result["metrics"]
    if trace:
        assert metrics["spark.jobs"]["value"] > 0
        fetches = metrics["io.fetch_calls"]["value"]
        assert (fetches > 0) == (workload == "zonal_ndvi")
        assert (metrics["ml.fit_jobs"]["value"] > 0) == (workload == "rf_classify")
    else:
        assert all(v["value"] > 0 for v in metrics.values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run("zonal_ndvi", 0, str(tmp_path), os.path.join("perfbench", "run.py"))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
