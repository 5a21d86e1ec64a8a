"""SparkSession factory tuned for the sandbox (local[N]) while keeping
cluster-scale defaults: AQE on, skew-join handling on, shuffle
partitions sized to parallelism, UTC session timezone (required for
bit-exact parity with the DuckDB oracle), Arrow enabled for the
pandas-UDF slow path. Python workers start through
``vaero_spark.worker_daemon``, which stops each task from re-parsing
``pyspark.zip`` (~0.28 CPU-s per Python task); the package's parent directory
goes on the workers' ``PYTHONPATH`` so they find it from any working
directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "vaero_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster this function is a no-op passthrough: spark-submit
    sets the master and executor topology; we only pin semantics-critical
    confs (timezone, AQE, Arrow).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    conf = dict(extra_conf or {})
    worker_path = [conf.pop("spark.executorEnv.PYTHONPATH", None), _PACKAGE_PARENT]
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        # task-side parallel commit renames (v1 renames serially on the
        # driver — measured as all-executors-parked phases per epoch)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.python.daemon.module", "vaero_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(filter(None, worker_path)))
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
