"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the config choices are the ones that
also hold on a real cluster (AQE on, Arrow on, UTC session time zone so
results are timezone-stable, shuffle partitions sized to parallelism rather
than the 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "flink_cdc_connectors_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    Shuffle partitions default to the same number — right-sized for local
    mode; on a real cluster this would be ~2-3x total executor cores and AQE
    coalesces the excess at runtime.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Files of the small fixtures should still fan out across cores.
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # A suite/session that executes 100+ DISTINCT plans churns Spark's
        # generated-class cache (spark.sql.codegen.cache.maxEntries is a
        # 100-entry LRU): a plan warmed early is evicted by the time it
        # re-runs and pays full Janino compile + HotSpot JIT again —
        # measured ~8-16 s for the heaviest envelope-codec plan
        # (cdc_multi_table_route: ~4.5 s analysis + ~4 s compile at
        # sf0.01, the round-3 driver bench's unexplained 21 s outlier).
        # Keep every plan of a long-lived session compiled, and give the
        # JIT enough code cache that compiled methods aren't flushed
        # (default ReservedCodeCacheSize=240m fills under whole-stage
        # codegen churn; Spark's own tuning guide recommends raising it).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        # functions/text.py writes its regexes as '\\s+' inside SQL string
        # literals, which lexes to the regex \s+ only under the DEFAULT
        # escapedStringLiterals=false; pin it so a global conf flip cannot
        # silently change the normalized text and the dedup keys.
        .config("spark.sql.parser.escapedStringLiterals", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
