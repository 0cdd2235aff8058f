"""The benchmark's Spark session: the package's own factory
(``session.get_spark``) fed an explicit configuration, so nothing
depends on the caller's environment.

- cores: ``local[nproc]``, shuffle partitions = nproc;
- driver memory: ``DRIVER_MEMORY`` (leaves room for the Python workers
  on a 16 GB host; the package default of 8g assumes a larger one);
- Python workers import the package and the benchmark's own modules
  (``pixel_mlp``, ``canned``) through ``spark.executorEnv.PYTHONPATH``,
  never through an ambient ``PYTHONPATH``;
- scratch (``spark.local.dir``, warehouse, model cache) stays inside
  the benchmark's work directory.
"""

from __future__ import annotations

import os
import shlex
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_DIR = os.path.dirname(BENCH_DIR)
DRIVER_MEMORY = "2g"
YOUNG_GEN = "256m"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.executorEnv.PYTHONPATH": os.pathsep.join([REPO_DIR, BENCH_DIR]),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.session.timeZone": "UTC",
        # the throughput collector with a fixed young generation: G1's
        # adaptive sizing and humongous regions made the driver's peak
        # resident memory swing by +-10% between identical runs;
        # no perf-data file, temp files inside the work directory
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -Xmn{YOUNG_GEN} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }


def start(work: str):
    """Start the session and run a trivial warm-up job; returns
    (spark, seconds). The model cache variable must be set before the
    package is imported."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["OPENEO_SPARK_MODEL_CACHE_DIR"] = os.path.join(work, "model_cache")
    # Python workers run the interpreter named here, whatever the conf says
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # few malloc arenas: native allocations from the JVM's many threads
    # must not each open a 64 MB arena, which would add to peak_rss_mb
    # by chance rather than by what the driver holds
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in session_conf(work).items()
    ) + " pyspark-shell"
    t0 = time.perf_counter()
    from openeo_processes_dask_ml_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus this Python
    process, in MB."""

    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm(jvm) + hwm("self")) / 1024.0
