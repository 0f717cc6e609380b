"""SparkSession factory with scale-oriented defaults.

The same builder is used by tests, bench.py and the driver entry
points; configuration is chosen for a 1000-executor / 100 TB target
even though CI runs local[N]:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- zstd parquet (best scan-bytes/cpu tradeoff at fleet scale)
- UTC session timezone (determinism + oracle parity)
- Arrow for any pandas exchange (vectorized, never row-at-a-time)
- a codegen cache of 1000 classes (``spark.sql.codegen.cache.maxEntries``)

The codegen cache maps generated source to its compiled class. The
engine's class population is larger than Spark's default of 100: the
21 bench headline queries generate about 245 distinct classes, and
with the 4 heavy extras about 455 (sf0.001 and sf0.01 together). At
100 entries every class is evicted before its query runs again, so
each pass recompiles all ~245 at 9-14 ms apiece (2.3-3.5 s per
headline pass on 4 cores). 1000 keeps over 2x headroom. A cached
class holds about 9 KB of source and 2.9 KB of bytecode, so a full
cache costs about 12 MB of driver heap; metaspace measured 176-180 MB
with either size. ``extra_conf`` overrides the value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hi-csa-db-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all
    cores). Shuffle partitions default to the core count — at cluster
    scale this is overridden by AQE coalescing anyway.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = shuffle_partitions or int(cpus or os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver fixtures carry TIMESTAMP(NANOS) parquet columns, which
        # Spark's vectorized reader rejects by default; read as int64 ns
        # and normalize in the catalog layer (catalog.load_tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Opt-in wide start for big local fixtures: start reduce stages at
    # mult x cores and let AQE coalesce down (sf10 sixth decade: the
    # core-count default hit ~2M-row partitions/spill — graph_degrees
    # 69.9 s -> 29.9 s at 128 partitions; but always-wide costs ~5% at
    # sf0.1, so the default stays core-count and big-SF runs opt in;
    # moot on a real cluster where partitions scale with executors).
    # Set initialPartitionNum ONLY when the multiplier is active
    # (ADVICE r11): that way an extra_conf override of
    # spark.sql.shuffle.partitions keeps driving AQE's initial count
    # through Spark's own fallback; and parse the env var defensively
    # — a malformed value falls back to 1 instead of raising.
    try:
        parts_mult = int(os.environ.get("SPARK_GRAFT_INITIAL_PARTS_MULT", "1"))
    except ValueError:
        parts_mult = 1
    if parts_mult > 1:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(n_shuffle * parts_mult),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def codegen_compilations(spark: SparkSession) -> int:
    """Generated classes compiled in this JVM so far, from Spark's
    ``CodegenMetrics``. A codegen-cache hit does not move it."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
