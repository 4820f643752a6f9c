"""Session defaults that the engine relies on (session.get_spark)."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dataframe_debugging_is_off(spark):
    """pyspark 4's per-call call-site capture costs py4j round trips on
    every ``F.*`` call; ``get_spark`` turns it off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_get_spark_starts_no_job():
    """A new session runs no warm-up job: the worker daemon pre-imports the
    stages' modules instead (worker_daemon.py).  The shared test session has
    run jobs already, so a fresh JVM is started in its own process."""
    code = """
from incremental_entity_extraction_spark.session import get_spark
spark = get_spark(cores=1, app_name="iee-no-warmup")
print(list(spark.sparkContext.statusTracker().getJobIdsForGroup(None)))
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.splitlines()[-1] == "[]"
