"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the configs below are the ones
that matter at cluster scale too (AQE, adaptive skew join, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "coa_codesearch_mcp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or all cores).
    ``shuffle_partitions`` defaults to the core count — at cluster
    scale you would size this to ~2-3x total executor cores instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        n = cpus or os.cpu_count() or 8
        shuffle_partitions = int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE size-coalesce INSIDE cached plans too: a cached
        # relation otherwise materializes with the static
        # shuffle-partition count, so every scan of a small cached
        # index pays tasks proportional to the cluster, not the data
        # (scale-adaptive partitioning, guide §2.2)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # InferFiltersFromGenerate duplicates Python UDFs: exploding a
        # UDF-produced array infers a size()>0 pre-filter whose pushed
        # copy re-evaluates the UDF below the exchange (guide §4.4's
        # double-BatchEvalPython shape — seen on the embedding
        # posexplode). Generate itself already skips empty/null arrays
        # when outer=false, so the inferred filter buys nothing here.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # workers share the driver's environment here, so they can run
        # this package's daemon (see worker_daemon.py)
        builder = builder.config(
            "spark.python.daemon.module", "coa_codesearch_mcp_spark.worker_daemon"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
