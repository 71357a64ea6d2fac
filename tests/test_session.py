def test_session_factory_policy(spark):
    """The conftest session comes from ``giraph_spark.session``: its
    start-up conf carries the shared policy and the partitions passed."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.enabled") == "false"
    assert conf.get("spark.ui.showConsoleProgress") == "false"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.cleaner.periodicGC.interval") == "2min"
    assert conf.get("spark.sql.shuffle.partitions") == "8"
    assert conf.get("spark.driver.memory") == "6g"


def test_driver_memory_clamped_to_half_of_physical():
    """A requested driver heap above half of physical memory is clamped
    to that half (in MiB); one that fits, or one Spark must reject,
    passes through unchanged. Pure Python: no session."""
    from giraph_spark.session import _clamp_driver_memory

    phys = 16 << 30
    assert _clamp_driver_memory("32g", phys) == "8192m"
    assert _clamp_driver_memory("16g", phys) == "8192m"
    assert _clamp_driver_memory("9000m", phys) == "8192m"
    assert _clamp_driver_memory("8g", phys) == "8g"
    assert _clamp_driver_memory("6g", phys) == "6g"
    assert _clamp_driver_memory("512", phys) == "512"  # unitless = MiB
    assert _clamp_driver_memory("lots", phys) == "lots"
