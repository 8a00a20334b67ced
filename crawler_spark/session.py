"""SparkSession factory with scale-oriented defaults.

Single place where engine-relevant Spark config is set so tests, bench
and the entry contract all run the same way.  Defaults are tuned for
the sandbox (local[N], 128 GiB, parquet inputs) but every knob is the
one you would set on a real 1000-executor cluster too: AQE on (runtime
coalescing + skew-join splitting), Arrow on (all pandas UDF transfer),
shuffle partitions sized to cores, and broadcast threshold left to AQE.

The codegen cache is sized for the crawl's round loop.  Spark keeps 100
compiled whole-stage-codegen classes by default, but one crawl round
compiles 105-154, so every round evicted the classes of the round
before and Janino compiled them all again: ~300 compilations per
two-round crawl pass, every pass.  Measured on the benchmark's two
crawl workloads, a steady round plus a compaction round generate 219
distinct classes; the cap of 1000 holds that working set with
headroom, so a session compiles each round's code once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N; at cluster scale this would be 2-3x total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # iterative driver loops leak dereferenced RDD/broadcast state
        # until a JVM GC runs; the default periodic GC (30 min) is far
        # too lazy for a round-per-seconds engine
        .config("spark.cleaner.periodicGC.interval", "60s")
        .config("spark.ui.enabled", "false")
        # a crawl pass generates 219 distinct classes, Spark keeps 100
        # by default (see the module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
