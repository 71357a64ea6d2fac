"""One Spark session shape for every workload, sized for a small box, and
its complete shutdown."""

from __future__ import annotations

import os
import subprocess
import sys

#: the driver heap, fixed from the start (``-Xms`` = ``-Xmx``): room
#: for the inputs and whatever a pass caches, on a 15 GB box. A heap
#: left to grow resized itself differently from run to run, which swung
#: ``peak_rss_mb`` by up to 0.9 GB.
DRIVER_MEMORY = "3g"


def session_settings(work_dir: str) -> dict:
    cores = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000",
        "spark.ui.retainedStages": "1000",
        "spark.local.dir": os.path.join(work_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}",
    }


def start_session(work_dir: str, settings: dict):
    """Start the JVM and session with every scratch file under
    ``work_dir``."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    # the JVM and the Python workers it forks inherit these
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = settings["spark.local.dir"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("perfbench")
    for k, v in settings.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited;
    the Python workers exit with the JVM that forked them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
