"""SparkSession builder.

The reference runs eagerly in one R process (no parallelism, no
optimizer — SURVEY.md §4). Here every plan goes through Catalyst; the
session defaults below are the 100 TB design point scaled to local
testing: AQE owns runtime re-planning (partition coalescing, skew
splitting, dynamic broadcast), shuffle partitions are explicit and
environment-tunable, and Arrow is on for the few pandas boundaries.

Python workers start from ``worker_daemon``, which drops SPARK_HOME's
``pyspark.zip``, py4j zip and spark-core jar from the worker's path when
the installed pyspark is the same version, so no task pays pyspark's
per-task re-read of those archives (0.12-0.24 s a task). It leaves the
path alone when no installed pyspark or py4j resolves, or when the
versions differ. ``get_spark`` puts the repository root on the workers'
``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``, which Spark merges into
the worker's path), so the workers import this package wherever the
session is launched from.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "big-data-bowl-spark",
    cpus: str | int | None = None,
    shuffle_partitions: str | int | None = None,
) -> SparkSession:
    """Build (or fetch) the local SparkSession.

    On a real cluster these configs move to spark-submit/cluster conf;
    nothing in the engine assumes local mode.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle = str(
        shuffle_partitions or os.environ.get("SPARK_SHUFFLE_PARTITIONS") or 32
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of small post-shuffle partitions,
        # skew-join splitting, dynamic sort-merge->broadcast demotion.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        # Arrow for toPandas()/pandas UDF boundaries (similarity, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamps in oracle comparisons.
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read it as raw int64 nanos and
        # convert in the loader (sources/io.py) — same truncation DuckDB
        # applies when it casts TIMESTAMP_NS to TIMESTAMP.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Workers start from worker_daemon, importing this package from
        # the repository root wherever the session is launched.
        .config("spark.python.daemon.module", "big_data_bowl_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
    )
    return builder.getOrCreate()
