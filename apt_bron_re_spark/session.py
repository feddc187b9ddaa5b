"""SparkSession factory with the pipeline's scale-oriented defaults."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(app_name: str = "apt_bron_re_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a session.

    Defaults favor the 100 TB design point: AQE on (runtime coalescing +
    skew-join splitting), Arrow on (all heavy per-row logic is pandas UDFs),
    shuffle partitions sized to the active parallelism instead of the 200
    default.  ``SPARK_GRAFT_CPUS`` mirrors the driver's bench contract.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder
        .master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # zstd halves stage-table bytes vs snappy: the shared-disk IO is
        # the main non-scaling resource in single-box runs, and scan-bound
        # stages win at cluster scale too
        .config("spark.sql.parquet.compression.codec", "zstd")
        # allow joins to reuse SUBSET co-partitioning: the link stage
        # establishes ONE HashPartitioning(url) and its score/merge joins
        # key on (category, url, ...) supersets — with the default (true)
        # Spark re-shuffles both sides onto the full key set, re-paying
        # the wide shuffle this layout exists to avoid.  url is the
        # high-cardinality component (page urls), so subset clustering
        # loses no skew resistance here; aggregation already defaults to
        # subset reuse (requireAllClusterKeysForDistribution=false).
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # default 10MB broadcast threshold on purpose: broadcast builds are
        # single-threaded driver work — a data-sized build side serializes
        # the whole stage.  Only dimension tables should broadcast.
    )
    # pyspark's workers call importlib.invalidate_caches() on every task,
    # which re-reads each archive on their path (pyspark.zip, the py4j zip
    # and the spark-core jar): the daemon in worker_daemon.py starts
    # without them.  The daemon imports this package at start, so that
    # needs the package on a directory; a package shipped as a zip
    # (--py-files) keeps pyspark's daemon.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if os.path.isdir(root):
        builder = (builder
                   .config("spark.python.daemon.module",
                           f"{__package__}.worker_daemon")
                   .config("spark.executorEnv.PYTHONPATH", root))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_table(spark: SparkSession, rows: list[tuple],
                ddl: str) -> DataFrame:
    """A driver-side table of ``rows`` with the schema ``ddl``, built from
    a pandas frame: with Arrow on, the driver hands the rows to the JVM as
    Arrow data (a small table becomes a local relation).
    ``createDataFrame`` on the list itself converts the rows in Python
    worker tasks, which cost far more than the work on a catalog-sized
    table."""
    schema = T.StructType.fromDDL(ddl)
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names),
                                 schema)
