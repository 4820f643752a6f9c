"""SparkSession factory tuned for this engine.

Local mode stands in for the multi-executor cluster (the benchmark runs
the job at local[N]); on a real cluster the same configs apply, plus
Iceberg catalog configs.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

# worker_daemon.py: imports the stages' modules once before it forks the
# workers, and re-reads a zip on sys.path only when it changed
DAEMON_MODULE = "incremental_entity_extraction_spark.worker_daemon"


def daemon_importable(env: Mapping[str, str], cwd: str) -> bool:
    """Whether the Python worker daemon that the JVM this process launches
    starts (``python -m <module>``, in the JVM's cwd, with its PYTHONPATH)
    can import ``DAEMON_MODULE``: the package root is on ``PYTHONPATH``, or
    it is ``cwd``, which ``-m`` puts on ``sys.path`` unless
    ``PYTHONSAFEPATH`` is set.  A ``--py-files`` zip does not count: it
    reaches a worker per task, after the daemon has started."""
    roots = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if not env.get("PYTHONSAFEPATH"):
        roots.append(cwd)
    rel = os.path.join(*DAEMON_MODULE.split(".")) + ".py"
    return any(os.path.isfile(os.path.join(cwd, r, rel)) for r in roots)


def get_spark(
    cores: int | None = None,
    app_name: str = "incremental-entity-extraction",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The engine's local session: ``local[cores]``, AQE, Arrow, dynamic
    partition overwrite and the ``worker_daemon`` when the package is
    importable.  ``extra_conf`` is applied last and overrides any of these.

    It runs no Spark job.  The first Python job of a SparkContext starts
    the worker daemon, which imports the libraries the stages use once and
    forks each worker from there (``worker_daemon``), so no warm-up job is
    needed to keep that import cost out of later jobs.

    DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``)
    is off: pyspark 4 otherwise captures the Python call site of every
    ``F.*`` and DataFrame call, at several py4j round trips plus an
    ``inspect.stack`` each.  The price is that an analysis error's
    DataFrame query context no longer names the Python line that built
    the failing expression; pass the setting as ``"true"`` in
    ``extra_conf`` to get it back."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # idempotent batch re-runs: overwrite only the batch_id partitions
        # being written (resume semantics, SURVEY.md §2.10)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # no per-call Python call-site capture (docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if daemon_importable(os.environ, os.getcwd()):
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
