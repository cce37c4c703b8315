"""SparkSession bootstrap tuned for OLAP workloads.

The reference engine's physical-execution machinery (SURVEY.md §4.2 —
columnar pages, codegen, spill, CBO join reordering, dynamic filtering) is
covered by Spark built-ins; this module only has to turn the right knobs.

Scale posture: these configs are sized by *ratios*, not absolutes — shuffle
partitions follow core count, AQE coalesces/rebalances at runtime, skew-join
handling is on. On a 1000-executor cluster the same settings hold; only
``spark.sql.shuffle.partitions`` should be raised to ~2-3x total cores
(AQE coalesce makes over-partitioning cheap and under-partitioning is the
real danger at 100 TB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)


def default_driver_memory() -> str:
    """The default JVM heap: half of the memory this host gives the process
    (physical memory, or the cgroup's limit when that is lower), rounded up
    to whole GiB, at most 16g. The other half is left to the Python side
    and to a second Spark process beside this one."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                text = f.read().strip()
        except OSError:
            continue
        if text.isdigit():  # cgroup v2 writes "max" for no limit
            limit = min(limit, int(text))
    gib = -(-limit // (2 << 30))
    return f"{min(max(gib, 1), 16)}g"


def get_spark(
    app_name: str = "sensql_presto_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with OLAP-tuned defaults."""
    cpus = cpus or default_parallelism()
    # 2x cores: enough waves to smooth stragglers; AQE coalesces the rest.
    shuffle_partitions = shuffle_partitions or 2 * cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-planning (replaces the reference's
        # DetermineJoinDistributionType / RuntimeReorderJoinSides CBO rules).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Oracle comparison requires UTC-naive timestamps on both sides.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every Python<->JVM exchange (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime bloom filters ~= the reference's DynamicFilterSourceOperator.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # CBO + stats-based join reordering (SURVEY §7.6): replaces the
        # reference's ReorderJoins/CostCalculator when ANALYZE'd stats
        # exist (managed tables); temp-view parquet scans fall back to
        # size-based estimates + AQE runtime re-planning.
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # Nested-column pruning (reference: PushdownSubfields.java).
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
