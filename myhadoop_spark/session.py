"""SparkSession factory.

Scale stance (SURVEY.md §4): the reference's entire optimization story —
combiner placement and three shuffle/reduce scheduling plans
(HADOOP/ICPP/NEW, /root/reference/namenode.py:147-341) — maps onto
Spark's partial aggregation + AQE. We therefore enable AQE everywhere
(runtime partition coalescing, skew-join splitting) instead of
reimplementing any scheduler. `spark.sql.shuffle.partitions` is the
analog of the reference's fixed ``partition_number = 100``
(/root/reference/config.py:26) but is sized to the machine locally and
would be sized to ~2-3× total cores on a real cluster (AQE coalesces
down, so erring high is safe at 100 TB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """16g, capped at half the host's physical RAM: in local mode the
    executors run inside the driver JVM, beside everything else the
    host runs."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "16g"
    return f"{max(1, min(16, ram // 2 // 2**30))}g"


def get_spark(app_name: str = "myhadoop-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build the engine's SparkSession.

    Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default: every core
    of the host) with a ``$SPARK_GRAFT_DRIVER_MEM`` driver (default: 16g,
    capped at half the host's RAM); on a real cluster the master/memory
    settings come from spark-submit and everything here except the master
    remains the right default.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    if shuffle_partitions is None:
        # local: ~cores; cluster: submit-time override (AQE coalesces anyway)
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)))
    builder = SparkSession.builder
    # respect an externally configured master (spark-submit --master /
    # MASTER env); only default to local[] when none is set — otherwise a
    # cluster submission would silently run single-node
    from pyspark import SparkConf

    if not SparkConf().contains("spark.master") and not os.environ.get("MASTER"):
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow-optimized Python UDTFs (off by default in Spark 4.1):
        # flips udtf_tokens' BatchEvalPython to ArrowEvalPythonUDTF —
        # the last row-at-a-time Python node in any declared plan
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read ns as long and convert in catalog.load()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # reliable checkpoints (materialize.py under
        # SPARK_GRAFT_RELIABLE_CHECKPOINT=1) are deleted once their RDD
        # is unreferenced; local checkpoints are unaffected
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        # UI off for tests; bench turns it on to scrape shuffle metrics
        # from the REST API
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Python-path operators (RDD map/reduce API, pandas decode) need the
    # package importable on executor workers regardless of driver cwd
    from myhadoop_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    return spark
