"""SparkSession factory with engine defaults (local-mode testing;
multi-executor design — every setting here is cluster-safe)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """``MVTSPARK_DRIVER_MEM`` when set (a deployment setting), else
    ``min(24g, half of physical memory)`` read from ``/proc/meminfo`` —
    a fixed 24g heap gets the JVM OOM-killed on smaller hosts."""
    env = os.environ.get("MVTSPARK_DRIVER_MEM")
    if env:
        return env
    cap_mb = 24 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(cap_mb, int(line.split()[1]) // 2048)}m"
    except OSError:  # no /proc (non-Linux): keep the fixed cap
        pass
    return f"{cap_mb}m"


def get_spark(
    app: str = "mvtspark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build/get a session.

    - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
    - Arrow on (every kernel crosses JVM↔Python as Arrow batches)
    - shuffle partitions ~ cores (local) — on a real cluster, pass
      ``shuffle_partitions ≈ 2-3 × total executor cores``
    - UTC session TZ for DuckDB-oracle comparability
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level filtering: a selective dim predicate builds a
        # bloom filter that prunes the FACT scan before the shuffle join
        # — at 100 TB the application side always clears the (default
        # 10 GB) scan-size threshold, so the filter injects exactly when
        # it pays; tests/test_runtime_filter.py pins the injection by
        # lowering the threshold to simulate at-scale conditions
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # fall back from whole-stage codegen when the generated method
        # would exceed HotSpot's DontCompileHugeMethods limit (8000
        # bytecodes): beyond it the method never JITs and runs in the
        # bytecode interpreter — observed as 10-60x slowdowns on
        # expression-heavy stages (many regex/string features per row)
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
