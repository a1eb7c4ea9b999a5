"""The benchmark's Spark session: the same confs as ``bench.py``.

``BENCH_CONFS`` restates the ``.config(...)`` calls of ``bench.main``;
``test_perfbench.py`` parses ``bench.py`` and fails when the two drift.
On top of them the data directory's size picks the scale confs through
``tuning.scale_confs``, exactly as ``bench.py`` does.  A traced run adds
only the event-log confs, so the untraced session is ``bench.py``'s.
"""

from __future__ import annotations

import os
import subprocess
import time

APP_NAME = "datasketches-spark-bench"

BENCH_CONFS = {
    "spark.python.daemon.module": "datasketches_spark.fastworker",
    "spark.sql.shuffle.partitions": "2",
    "spark.sql.adaptive.enabled": "false",
    "spark.locality.wait": "0",
    "spark.sql.files.maxPartitionBytes": "8m",
    "spark.sql.files.openCostInBytes": "65536",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "16g",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.execution.arrow.maxBytesPerBatch": "2147483647b",
}


def cpus() -> int:
    """Cores for ``local[n]``: every core this process may use."""
    return len(os.sched_getaffinity(0))


def steal_ticks() -> int | None:
    """Steal ticks of the whole host so far (``/proc/stat``), as in bench.py."""
    import bench

    return bench._steal_ticks()


def prepend_pythonpath(*dirs: str) -> None:
    """Put ``dirs`` first on PYTHONPATH, which Spark's Python workers inherit."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(list(dirs) + ([old] if old else []))


def start(repo: str, data_dir: str, n_cpus: int, event_log_dir: str | None = None):
    """Start (or restart) the session and register the SQL functions.

    Returns ``(spark, seconds)``; the seconds cover the session start and
    ``register()``.
    """
    from pyspark.sql import SparkSession

    from datasketches_spark import register, tuning

    t0 = time.perf_counter()
    b = SparkSession.builder.master(f"local[{n_cpus}]").appName(APP_NAME)
    for k, v in BENCH_CONFS.items():
        b = b.config(k, v)
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = b.config("spark.eventLog.enabled", "true")
        b = b.config("spark.eventLog.dir", "file://" + os.path.abspath(event_log_dir))
        b = b.config("spark.eventLog.compress", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in tuning.scale_confs(tuning.dir_bytes(data_dir), cores=n_cpus).items():
        spark.conf.set(k, v)
    register(spark)
    spark._dsks_registered = True  # what __spark_entry__._ensure checks
    return spark, time.perf_counter() - t0


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the JVM this process launched and wait until it has exited
    (its Python workers are stopped with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits at EOF on its stdin
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
