"""Session defaults that the engine relies on (session.get_spark)."""


def test_dataframe_debugging_is_off(spark):
    """pyspark 4's per-call call-site capture costs py4j round trips on
    every ``F.*`` call; ``get_spark`` turns it off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
