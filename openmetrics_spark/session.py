"""SparkSession factory.

Local test harness runs on ``local[N]`` (single JVM), but every conf
here is chosen to also make sense on a large multi-executor cluster:
AQE on (runtime coalesce + skew-join handling), shuffle partitions
sized explicitly, Arrow enabled for the Pandas-UDF slow path, UTC
session timezone so results compare bit-for-bit against UTC-naive
oracles (DuckDB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_mem() -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    a quarter of the machine's memory (MemTotal, or the cgroup limit if
    lower), capped at 48g. A fixed 48g heap on a smaller host lets the
    JVM grow past physical memory until the kernel kills it."""
    cap_mb = 48 * 1024
    try:
        with open("/proc/meminfo") as f:
            mem_mb = int(f.readline().split()[1]) // 1024
    except OSError:  # no procfs: keep the cap
        return f"{cap_mb}m"
    for limit_file in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(limit_file) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            mem_mb = min(mem_mb, int(limit) >> 20)
    return f"{max(1024, min(cap_mb, mem_mb // 4))}m"


def get_spark(app_name: str = "openmetrics_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster, drop ``master`` and submit with
    ``--conf spark.sql.adaptive.enabled=true`` etc.; the session-level
    confs below are cluster-size independent.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Shuffle sizing: ~1 partition per core locally. On a 1000-executor
        # cluster this would be set to ~2-3x total cores (or left to AQE
        # initialPartitionNum) — AQE coalesces down from there.
        # local mode = driver-only JVM; this is the one memory knob
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching. Non-negotiable at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for any pandas_udf / applyInPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic oracle comparison: UTC everywhere.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) (pandas-written test data) is not a
        # Spark type; read it as long and normalize in tables.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Tz-naive parquet micros should surface as TimestampType (LTZ),
        # not TIMESTAMP_NTZ — unix_millis & friends require TIMESTAMP.
        # tables.py also casts defensively for driver-built sessions.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Quiet the UI in headless runs.
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # Broadcast threshold: generous — dimension tables (region,
        # nation, supplier, content) should always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (guide §3.1/§9): SHJ skips the per-side
        # sort, and AQE's skew-join splitting covers SHJ as well. The
        # join-back of every inferred join (the right rows against their
        # ranked picks) plans as an SHJ here, and as an SMJ that sorts
        # both sides under Spark's default; scale-neutral planner
        # preference, not a local-mode constant.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # ... and let AQE rewrite a planned SMJ to SHJ at runtime when
        # every post-shuffle partition's build side is small (default 0
        # = off; guide §3.1). Catches the joins whose STATIC size
        # estimate is too bad to flip at plan time (e.g. joins whose
        # build side is an aggregate of match ids).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
    )
    # AQE initial shuffle width: start wide, let coalesce shrink.
    # The mid-r8 8x profiling measured the fused counter fan-out ~20%
    # faster with 256 initial partitions at 8x sf0.1 — at real scale
    # the heavy shuffles want partition counts sized to the data, and
    # AQE coalesces the small ones back to ~core-count parallelism.
    # Env-gated so A/Bs and the driver-built vanilla session stay
    # comparable; unset = Spark default (= shuffle.partitions).
    initial = os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS")
    if initial:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", initial
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
