"""Session-wide pins set by kgspark.session.get_spark."""

import os
import sys
from pathlib import Path

from kgspark.session import CODEGEN_CACHE_ENTRIES

TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")


def test_jvm_locale_is_pinned_to_english(spark):
    """JVM case folding follows the default locale; get_spark pins it so
    the JVM lowercases like the locale-free Python stages."""
    locale = spark._jvm.java.util.Locale.getDefault()
    assert locale.getLanguage() == "en"
    assert locale.getCountry() == "US"


def test_codegen_cache_is_sized_for_a_pipeline_run(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_cluster_scaling_run_passes_partition_and_codec_confs(spark):
    """get_spark leaves AQE's initial partition count and the shuffle
    codec at Spark's defaults; the cluster scaling protocol passes both
    on its spark-submit command line, and the pinned one passes
    neither."""
    initial = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    codec = "spark.io.compression.codec"
    assert spark.conf.get(initial, None) is None
    assert spark.sparkContext.getConf().get(codec, None) is None

    sys.path.insert(0, TOOLS)
    try:
        import bench_scaling
    finally:
        sys.path.remove(TOOLS)

    def confs(cpus, mode):
        cmd, _ = bench_scaling.build_command(
            "sf", cpus, Path("kgspark.zip"), 10, 10, mode
        )
        return [cmd[i + 1] for i, a in enumerate(cmd) if a == "--conf"]

    for executors, parts in ((1, 64), (4, 64), (16, 128)):
        got = confs(executors, "cluster")
        assert f"{initial}={parts}" in got
        assert f"{codec}=zstd" in got
    assert not any(
        c.startswith((initial, codec)) for c in confs(2, "pinned")
    )
