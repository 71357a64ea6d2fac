"""The one SparkSession policy of the package's entry points: the CLI,
``bench.py`` and the test session all start their session here."""

from __future__ import annotations

from pyspark.sql import SparkSession


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
    ``driver_memory`` None keeps Spark's default heap."""
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
        builder = builder.config("spark.driver.memory", driver_memory)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(log_level)
    return spark
