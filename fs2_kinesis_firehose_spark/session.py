"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default: the cores this
process may run on) in one JVM with a ``$SPARK_DRIVER_MEMORY`` heap (default:
min(24g, ¾ of physical memory)); the configuration below is chosen so the
*same logical plans* scale to a 1000-executor cluster reading ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting, dynamic
  broadcast conversion) — the single most important knob at scale.
- ``spark.sql.shuffle.partitions`` sized for the local box; on a real cluster
  AQE re-coalesces from a deliberately high initial number, so queries must not
  depend on an exact partition count.
- Arrow enabled for every pandas UDF / toPandas hop.
- Session timezone pinned to UTC so event-time semantics are
  deployment-independent (and match the DuckDB oracle, which reads the naive
  parquet timestamps as-is).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "fs2-kinesis-firehose-spark"


def default_parallelism() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY``, else min(24g, ¾ of MemTotal) — a fixed 24g
    heap overcommits any box with less than ~32 GB of RAM."""
    mem = os.environ.get("SPARK_DRIVER_MEMORY")
    if mem:
        return mem
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(24 * 1024, total_kib * 3 // 4 // 1024)}m"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the process-wide SparkSession.

    ``shuffle_partitions`` defaults to the local core count; on a cluster you
    would set it high (e.g. 2000) and let AQE coalesce.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- scale-critical defaults -------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert in tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Cap task memory pages at 32 MiB.  Spark auto-sizes pages from
        # heap/cores (~256 MiB at 24 g × 32 threads); wide-transient stages
        # (the sf1 triangles wedge join moves ~20 GB / 411 M wedge rows
        # through one exchange) then overshoot in 256 MiB steps — observed
        # as repeated "Failed to allocate a page" + GCLocker retries, and
        # the r12b end-of-session OOM.  32 MiB pages make the same stage
        # spill smoothly: zero allocation warnings, identical wall time
        # (50.3 s vs 48.7 s isolated sf1 run; PLANS.md r13 adjudication).
        .config("spark.buffer.pageSize", "32m")
        # --- local-mode ergonomics ---------------------------------------
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.streaming.schemaInference", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
