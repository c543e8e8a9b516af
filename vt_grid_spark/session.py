"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "vt-grid-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """local[N] session with AQE + Arrow on.

    On a real cluster these confs ride along unchanged; master comes from
    spark-submit instead.  shuffle_partitions defaults to 2x cores locally —
    at 100 TB you set it (or let AQE coalesce) to keep post-shuffle
    partitions in the 100-200 MB range.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(2 * cores, 32)
    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # coalesce small post-shuffle outputs aggressively: upper pyramid
        # levels shrink 4x per step and would otherwise write `shuffle`
        # near-empty files each (pure scheduler overhead)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # functions.sqltext.sq doubles backslashes, which is right only
        # while string literals are unescaped by the parser (the default)
        .config("spark.sql.parser.escapedStringLiterals", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # shuffle spill/local files on tmpfs when available: this sandbox
        # has ONE virtio disk, so disk-bound shuffle caps multi-core scaling
        # at any thread count; a real cluster's aggregate disk bandwidth
        # scales with executors, which tmpfs models more honestly here
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS",
                               "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp"))
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_EXTERNAL_MASTER"):
        builder = builder.master(f"local[{cores}]")
    return builder.getOrCreate()
