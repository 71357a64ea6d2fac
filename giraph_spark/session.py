"""The one SparkSession policy of the package's entry points: the CLI,
``bench.py`` and the test session all start their session here."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .plans.gear import jvm_memory_bytes


def _clamp_driver_memory(requested: str, phys_bytes: int) -> str:
    """``requested`` if it fits in half of ``phys_bytes``, else that half
    in MiB. A local-mode driver JVM grows its heap toward ``-Xmx`` before
    it collects, and the Python workers and the OS need the other half;
    an unparsable value passes through for Spark to reject."""
    want = jvm_memory_bytes(requested)
    cap = phys_bytes // 2
    return requested if want is None or want <= cap else f"{cap >> 20}m"


def spark_session(
    app_name: str,
    master: str,
    shuffle_partitions: int | str,
    driver_memory: str | None = None,
    log_level: str = "WARN",
) -> SparkSession:
    """Start (or join) a session with AQE and Arrow on, the UI and the
    console progress bar off, and a 2-minute periodic GC.

    The periodic GC reclaims dead superstep checkpoint blocks promptly:
    the ContextCleaner only acts after a JVM GC, and a large heap may
    not GC for many minutes on its own (Spark's default interval is
    30 min; much more often and the forced full GC stalls queries).
    ``driver_memory`` None keeps Spark's default heap; a request above
    half of this machine's physical memory is clamped to that half."""
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if driver_memory is not None:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        builder = builder.config(
            "spark.driver.memory", _clamp_driver_memory(driver_memory, phys)
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(log_level)
    return spark
