"""SparkSession factory.

Local testing runs one JVM (``local[N]``); the configs below are chosen so
the same code is correct on a multi-executor cluster at 100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- shuffle partitions sized to cores locally — on a real cluster this would
  be ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` driven,
  with AQE coalescing down;
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are cluster-location-independent;
- Arrow enabled for any pandas exchange (vectorized UDF path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "market_data_ingestion_scraper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; unset, the
    env defaults to the cores this process may run on
    (``sched_getaffinity``), so a small host is never oversubscribed.
    On a cluster, pass ``master=None`` and let spark-submit decide.
    """
    host_cpus = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(host_cpus)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = host_cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # idempotent partition-grain re-runs (reference semantics L6,
        # div_link_handler.py:291-293: overwrite same file per unit of work)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
