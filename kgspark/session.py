"""SparkSession factory with the engine's pinned configs.

Scale posture (SURVEY.md §4.2): AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (every Python stage is
vectorized), shuffle partitions sized to the machine rather than the
200 default. On a real cluster the same builder is driven by
spark-submit --conf overrides; nothing here is local-mode-specific
except the master default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: spark.sql.codegen.cache.maxEntries (a static conf, so it is fixed at
#: session start). One Pipeline.run needs about 95-125 distinct generated
#: classes; Spark's default of 100 is smaller than that, and the cache
#: evicts least-recently-used first, so a run that revisits its stages in
#: the same order misses almost every lookup and Janino recompiles the
#: whole working set on every run. 1000 holds a run with room for the
#: query and curation operators a long-lived session also runs.
CODEGEN_CACHE_ENTRIES = 1000

#: JVM locale for driver and executors. JVM String.toLowerCase/toUpperCase
#: follow the default locale (a Turkish default maps "I" to dotless "ı"),
#: while the Python stages are locale-free; pinning it keeps JVM and
#: Python string folding identical on every host. Set
#: through defaultJavaOptions, which Spark prepends to extraJavaOptions,
#: so a caller's extraJavaOptions (heap flags, profilers) keeps the pin.
JVM_LOCALE_OPTS = "-Duser.language=en -Duser.country=US"


def get_spark(
    app_name: str = "kgspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("KGSPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("KGSPARK_SHUFFLE_PARTITIONS", "32")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's initial shuffle partition count and the shuffle codec
        # stay at Spark's defaults (the shuffle partition count; lz4),
        # the no-spill, CPU-bound single-node regime. Memory- or
        # disk-bounded deployments raise them with spark-submit --conf,
        # as tools/bench_scaling.py --mode cluster does
        # (BENCH/profile_cluster.md, BENCH/scaling_cluster.md).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("KGSPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.defaultJavaOptions", JVM_LOCALE_OPTS)
        .config("spark.executor.defaultJavaOptions", JVM_LOCALE_OPTS)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
