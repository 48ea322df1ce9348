"""SparkSession factory tuned for the engine.

Local-mode defaults sized for the test/bench harness (local[32], 128 GiB
box); the same settings are sensible starting points on a real cluster —
AQE handles skew-join splitting and partition coalescing at runtime, which
is our substitute for the reference's hand-tuned kernel load balancing
(SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Whole-stage codegen classes kept per JVM (the static
# ``spark.sql.codegen.cache.maxEntries``; Spark's default is 100). The
# engine's kernels are these Janino-compiled classes, and an evicted one
# is recompiled on the driver the next time its plan shape runs (11-15 ms
# each). One pass of the perfbench workloads needs ~180-200 distinct
# classes (deep_frontier 178-184, rmat_power_law 191-200), so at 100
# entries the LRU cache thrashed and every warm pass recompiled all of
# them (~2-2.7 s of driver time a pass on a 4-core box); with room for
# them the second pass on compiles none. One run of the 50-query contract
# suite (scripts/check_contract.py, sf0.01) compiles 2790 distinct
# classes, so the cache holds 3000. A class is ~7 KB of source and
# ~2.4 KB of bytecode, so a full cache is tens of MB of driver heap. The
# conf is static: a session not made here keeps Spark's default unless it
# sets the conf at launch.
CODEGEN_CACHE_ENTRIES = 3000


def get_spark(
    app_name: str = "cugraph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
