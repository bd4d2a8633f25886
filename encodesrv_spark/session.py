"""SparkSession factory.

Local-mode defaults are tuned for the test harness (local[N], one JVM);
the conf is written so the same code runs unchanged on a real cluster:
AQE handles runtime re-planning (partition coalescing, skew-join
splitting, broadcast demotion), shuffle partitions are sized for the
local core count but would be overridden by cluster conf, and all
operators in this package express plans declaratively so Catalyst can
push filters/prune columns regardless of deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_DRIVER_MEM_CAP_MB = 16 * 1024


def default_driver_memory() -> str:
    """Half the host's MemTotal, capped at 16g (16g where /proc/meminfo
    is unreadable).  In local mode one JVM heap serves every executor,
    so a request above the host's RAM invites the OOM killer."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return f"{_DRIVER_MEM_CAP_MB}m"
    return f"{min(_DRIVER_MEM_CAP_MB, total_kb // 2048)}m"


def get_spark(app_name: str = "encodesrv_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or 32 (the harness size);
    ``spark.driver.memory`` to $SPARK_GRAFT_DRIVER_MEM or
    :func:`default_driver_memory`.
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
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Normalize runtime conf on a session we did not create.

    The driver harness hands us its own SparkSession; the engine's
    semantics (timestamp rendering, adaptive exec) must not depend on
    who built the session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
