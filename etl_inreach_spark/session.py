"""SparkSession construction with scale-conscious defaults.

The driver hands queries an externally-built session, so nothing in the
query library may *depend* on these settings — they are defaults for
tests, bench.py and standalone use. ``tune(spark)`` applies the subset
of runtime-settable confs to a foreign session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs, safe to apply to any session (including the
# driver's). Everything timezone- or semantics-sensitive that the query
# library relies on belongs here.
RUNTIME_CONF: dict[str, str] = {
    # Oracle parity: DuckDB timestamps are naive/UTC.
    "spark.sql.session.timeZone": "UTC",
    # The driver's parquet carries isAdjustedToUTC=false timestamps;
    # Spark 4 defaults to inferring those as TIMESTAMP_NTZ, which
    # breaks time arithmetic (unix_micros etc.) that expects TIMESTAMP.
    # Read them as TIMESTAMP (exact: session tz pinned UTC above).
    # catalog.load_table also casts any residual NTZ column as a
    # belt-and-braces for sessions this conf never reached.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's runtime broadcast decision uses ACTUAL materialized shuffle
    # sizes (not estimates), so raising it is size-adaptive by
    # construction: a 20 MB edge set broadcasts (triangle counting's
    # closing-edge join stops shuffling its 70M two-path rows,
    # 8.3 -> ~5.5 s at sf0.1), a 100 TB-scale relation never qualifies
    # and keeps the shuffle join. The static (planning-time) threshold
    # stays at its default — only runtime-proven sizes get the upgrade.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # Arrow batches for the few pandas-UDF operators.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # MIN/MAX/COUNT answered from parquet footer statistics when the
    # plan allows (off by default upstream; harmless otherwise).
    "spark.sql.parquet.aggregatePushdown": "true",
    # Reference EAV semantics: extended[name] = value is last-wins
    # (task.ts:111). Native policy instead of a quadratic HOF dedup in
    # eav_to_map — the default EXCEPTION policy would kill a job on
    # one duplicate-key feed, violating feed-granular isolation.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}

# STATIC SQL confs: settable only at builder time (spark.conf.set raises
# CANNOT_MODIFY_STATIC_CONFIG). Externally-built sessions (the driver's)
# keep the upstream defaults — do NOT rely on these for correctness.
BUILDER_ONLY_CONF: dict[str, str] = {
    # The default generated-class cache (100 entries) thrashes across
    # this library's large unrolled plans (polynomial hash chains,
    # lane-packed sketch sums): successive heavy queries evicted each
    # other's classes and paid multi-second recompiles.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # DataFrame origin capture: with it on, every functions.* / Column
    # call fetches the active session, reads the stack-trace depth conf,
    # walks the Python stack and sets then clears the JVM's
    # PySparkCurrentOrigin, so `F.col("a") == F.lit(1)` costs 27 py4j
    # round trips instead of 7, and plan builds that unroll expression
    # families pay it thousands of times. Off, a runtime error keeps its
    # class and message but loses the Python call-site block; plans are
    # unchanged (an origin is metadata `explain` does not print).
    # PySpark reads it once per process (errors.utils.is_debugging_enabled
    # caches the first answer), and sessions get_spark does not build
    # keep the upstream default and the capture.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def default_parallelism() -> int:
    """SPARK_GRAFT_CPUS, else the CPUs this process may run on (its
    affinity mask, which a container or taskset narrows below
    ``os.cpu_count()``). Hosts without affinity masks (macOS, Windows)
    fall back to ``os.cpu_count()``."""
    if hasattr(os, "sched_getaffinity"):
        usable = len(os.sched_getaffinity(0))
    else:
        usable = os.cpu_count() or 8
    return int(os.environ.get("SPARK_GRAFT_CPUS", usable))


def _default_driver_mem() -> str:
    """~40% of physical RAM, clamped to [4g, 48g]."""
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(fh.readline().split()[1])
        gib = max(4, min(48, int(total_kb * 0.4 / 1048576)))
    except Exception:
        # /proc unreadable (macOS, restricted containers): fall back to
        # the pre-sizing fixed default, NOT a smaller number — halving
        # memory on exactly the hosts we cannot measure reintroduces
        # the GC/eviction stalls the sizing change was meant to fix.
        gib = 16
    return f"{gib}g"


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime on this build — keep going;
            # the query library uses try_* functions and explicit casts
            # so it does not hard-depend on any single conf.
            pass
    return spark


def get_spark(app_name: str = "etl-inreach-spark", cpus: int | None = None) -> SparkSession:
    """Build (or get) a local session with scale-appropriate defaults.

    On a real cluster most of these are cluster-managed; locally they
    make local[N] behave like a small cluster: shuffle partitions sized
    to cores (AQE coalesces down), generous driver memory for the
    single-JVM layout.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        # Single-JVM local mode: driver heap IS the executor heap for
        # all N threads plus every lingering localCheckpoint block.
        # 16g showed eviction/GC stalls across a ~100-query bench run
        # on a 128 GiB host; default to ~40% of physical RAM capped at
        # 48g so big hosts stop thrashing WITHOUT the fixed value
        # OOM-killing a 16-32 GB contributor machine. Cluster
        # deployments size executors explicitly and never read this.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**RUNTIME_CONF, **BUILDER_ONLY_CONF}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
