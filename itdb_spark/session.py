"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same settings are what we would ship on a
real cluster (AQE with skew-join handling, UTC session TZ so results are
oracle-comparable, Arrow for the few pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's LRU cache of compiled generated classes
# (``spark.sql.codegen.cache.maxEntries``; Spark's default is 100). The
# engine reruns one fixed query set in one long-lived session (perfbench
# passes, bench.py, the oracle gate, the test session), and one curate
# pass (pipe-curate, dedup-contain-exact, graph-kcore, fn-bpe-train)
# needs ~210 classes. A cyclic access pattern larger than an LRU misses
# on every access, so at 100 every pass recompiled all of them with
# Janino and the JIT re-warmed the new classes. 1000 is several times the
# largest measured per-workload working set (~210, curate; report needs
# ~104) and holds both. Measured on a 4-vCPU host: the perfbench curate
# timed window compiles 0 classes instead of 382, and its ``batch_s``
# median drops from 12.4 to 9.8 s (10 interleaved pairs). A sweep of all
# 290 registry queries at sf0.001 compiles 4,229 classes instead of
# 6,601 and ends at 233 MB of Metaspace instead of 226 MB. The
# cache is keyed on the generated source text, so a hit returns exactly
# the class that would have been compiled again. This is a STATIC conf:
# it takes effect only when get_spark creates the SparkContext, not when
# getOrCreate returns an existing session.
CODEGEN_CACHE_ENTRIES = 1000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "itdb_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    Scale notes: on a real cluster only ``master`` and the memory settings
    change; AQE re-plans shuffle partition counts at runtime so the static
    ``spark.sql.shuffle.partitions`` is just the pre-AQE upper bound.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's DataFrame debugging captures a Python call site and
        # ships it over py4j on EVERY DataFrame method call (~3 extra RPC
        # round-trips each) purely to enrich error messages. Off, query
        # CONSTRUCTION — which the bench times as part of each query
        # callable — drops ~2× (dedup-minhash 0.65→0.31 s construct,
        # cProfile: py4j socket reads were 80% of construction; measured
        # r14). Plans, results, and scale behavior are identical; this is
        # driver-side constant overhead on any cluster, not a local-mode
        # tune.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
