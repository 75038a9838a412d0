"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); production target is a
multi-executor cluster via ``spark-submit --py-files`` — every knob here is
cluster-safe (nothing assumes local mode except the master default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 32g, capped at
    half of this host's physical RAM so a small host is never asked for
    more heap than it has."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32 << 10, ram // 2 >> 20)}m"


def get_spark(
    app_name: str = "go_log_forwarder_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard config.

    - AQE on: runtime coalescing + skew-join handling for the skewed
      ``source`` distribution the north rule calls out.
    - UTC session timezone: required for byte-exact timestamp parity with
      the DuckDB oracle and with the reference's RFC3339 output
      (internal/output/stdout/stdout.go:124 serializes UTC-normalized).
    - Arrow enabled: all Python-side kernels are pandas UDFs (vectorized);
      there is no row-at-a-time Python in any hot path.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    if shuffle_partitions is None:
        # match cores in local mode; on a real cluster the submitter overrides
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # default 4MB models HDFS seek cost; log corpora are MANY tiny files
        # and the default gives one task per file (500 files -> 500 tasks).
        # 64KB packs them into size-based splits on local/NVMe/object stores.
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
