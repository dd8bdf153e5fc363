"""SparkSession factory.

Scale notes: these defaults target correctness tests on ``local[N]``; on a
real cluster the same code runs unchanged — only ``master``, memory and
``spark.sql.shuffle.partitions`` move to cluster-appropriate values (rule of
thumb: 2-3× total executor cores, or rely on AQE coalescing with a high
initial count).  AQE is enabled so skewed joins re-plan at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hfp_loader_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the canonical SparkSession.

    Session timezone is pinned to UTC: HFP timestamps are ``timestamptz``
    (reference DDL postgres_schema.sql:25) and the DuckDB oracle compares
    UTC-naive timestamps.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Files: pack small test files but keep 128 MiB splits for real data.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # The driver's synthetic parquet stores TIMESTAMP(NANOS); Spark has
        # no nanos timestamp — read as epoch-nanos LONG and convert at the
        # source (plans/catalog.py load_table) with integer division.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # No per-call origin capture: with it on, every ``functions.*`` and
        # ``Column`` call adds ~10 py4j round trips (session lookup, conf
        # read, call-site stack set/clear); ``F.col`` makes 3 instead of
        # 13.  PySpark caches this flag once per process, at the first
        # wrapped call, so it must be set here, not by a later
        # ``spark.conf.set``.  Cost: analysis errors lose their
        # ``== DataFrame ==`` call-site fragment.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
