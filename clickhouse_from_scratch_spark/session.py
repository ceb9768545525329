"""SparkSession builder tuned for this engine.

ClickHouse-compatibility decisions (SURVEY.md §7 M0):
- session timezone = UTC (CH DateTime is tz-aware epoch; oracle = DuckDB
  naive-UTC, so UTC pinning makes them comparable).
- ANSI mode off: ClickHouse arithmetic is overflow-lenient
  (reference ``src/Core/Settings.h`` has no ANSI-style strictness).
- AQE on: replaces the reference's intended runtime knobs
  (``join_algorithm`` hash/partial_merge, two-level aggregation).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the directory holding this package: on the workers' PYTHONPATH so they
# import the daemon module and by-reference-pickled UDFs from any cwd
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "clickhouse_from_scratch_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    local[N] with shuffle partitions ≈ cores: on a real cluster the same
    config scales by letting AQE coalesce; nothing here is single-node-only.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # native ns type — read as long, catalog converts to µs timestamp
        # (matches DuckDB's ns→µs truncation, SURVEY §1.2 DateTime64(9))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # let InferWindowGroupLimit fire for the dedup bucket caps
        # (rank-filter limit 10001 > the 1000 default): the partial
        # WindowGroupLimit before the exchange stops a hot LSH bucket
        # from shipping more than cap+1 rows per map task (guide §2.5;
        # scale-neutral — a semantics-preserving optimizer rule)
        .config("spark.sql.optimizer.windowGroupLimitThreshold",
                str(1 << 20))
        # the per-call Python call-site capture (error attribution) adds
        # ~2ms and 3 JVM round-trips to EVERY pyspark.sql.functions call
        # — a plan built from thousands of F.* calls pays seconds for
        # it; the engine surfaces its own errors, so turn it off
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # the generated-class cache (keyed on the source text) at 100
        # entries, split over 4 LRU segments, is smaller than one
        # ingest cycle's ~90 classes, so every cycle recompiled with
        # Janino what it compiled one cycle earlier. Static: a session
        # this function does not start keeps Spark's 100
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Python workers start from worker_daemon, which takes Spark's
        # archives off their import path: each task's invalidate_caches()
        # otherwise re-reads every archive (~220 ms of worker CPU a task)
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
