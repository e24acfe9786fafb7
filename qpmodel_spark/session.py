"""SparkSession factory.

The reference engine (qpmodel) hand-builds a binder, cascades memo optimizer,
cost model and codegen (SURVEY.md §3-§4).  All of that maps onto Spark's
Catalyst + Tungsten; our job is to configure them for scale:

- AQE on (runtime re-plan, skew-join handling, partition coalescing) —
  replaces qpmodel's static cost-based exchange placement
  (reference: qpmodel/optimizer.cs:143-205 enforcer framework).
- CBO on (join reorder from ANALYZE stats) — replaces the DPccp/DPBushy
  join-order solvers (reference: qpmodel/JoinOrder.cs:364-773).
- UTC session timezone — deterministic timestamp semantics vs the DuckDB
  oracle.
- shuffle partitions sized to the local core count; on a real cluster this
  is left to AQE's coalescing with a high initial partition number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def _driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else 48g capped at half the host's
    physical memory.  In local mode the whole heap lives on this host: a
    maximum above RAM lets G1 grow the heap until the kernel kills the JVM
    (on a 16 GB host the test-suite JVM was OOM-killed at 15 GB RSS)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):  # no physical-memory query on this platform
        return "48g"
    return f"{min(48 * 1024, phys_mb // 2)}m"


def get_spark(
    app_name: str = "qpmodel_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    In local mode there is one JVM; ``spark.driver.memory`` is the only
    memory knob.  On a cluster the same conf applies per-executor and AQE
    handles partition sizing at runtime.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert in catalog.load().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    # Only set master/driver-memory when no session exists yet (they are
    # ignored after JVM start).
    if SparkSession.getActiveSession() is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        builder = builder.master(master)
        builder = builder.config("spark.driver.memory", _driver_mem())
        if master.startswith("local"):
            # Testdata tables are single ~20 MB parquet files: at the 128 MB
            # default they scan as ONE partition (no parallelism — measured
            # 3x slowdown on scan-bound queries).  Smaller splits only for
            # local mode; on a cluster with many files the default is right
            # (4 MB splits at 100 TB would mean tens of millions of tasks).
            builder = builder.config("spark.sql.files.maxPartitionBytes", "8m")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
