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
