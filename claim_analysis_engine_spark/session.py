"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench environment (local[N] with
N≈cores, shuffle partitions ≈ cores); on a real cluster the same
builder works — only master/shuffle-partitions change. AQE is left on
so skewed joins and small post-shuffle partitions self-heal at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated-class cache size (spark.sql.codegen.cache.maxEntries, Spark's
# default 100). Measured with perfbench's generators on 4 vCPU: the 11
# dashboard panels, the forecast fan-out and both upload kinds compile 657
# distinct classes over a reads warm-up, two data versions and three
# uploads; with 100 entries LRU eviction made that 1,830 compiles (a
# version's first views: 345 → 12, its 11 repeat views: 132 → 2). 2048
# holds the working set three times over for about 5 MB more Metaspace.
CODEGEN_CACHE_MAX_ENTRIES = 2048

# Heap default: at most 12g, and never the whole host — each task slot
# runs a Python worker (pandas/Arrow UDFs) beside the JVM, and the JVM
# itself needs metaspace, code cache and direct buffers off the heap.
DRIVER_MEM_CAP_MB = 12 * 1024
PY_WORKER_RESERVE_MB = 512


def _mem_total_mb(meminfo: str) -> int | None:
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except (OSError, ValueError, IndexError):
        pass
    return None


def driver_memory(cpus: int, meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` for a session with ``cpus`` task slots.

    ``SPARK_GRAFT_DRIVER_MEM`` wins when set. Otherwise three quarters of
    what ``MemTotal`` leaves after one Python worker reserve per slot,
    capped at 12g and never below a quarter of ``MemTotal``; 12g when
    ``meminfo`` cannot be read."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total = _mem_total_mb(meminfo)
    if total is None:
        return f"{DRIVER_MEM_CAP_MB}m"
    heap = max(total // 4, (total - PY_WORKER_RESERVE_MB * cpus) * 3 // 4)
    return f"{min(DRIVER_MEM_CAP_MB, heap)}m"


def get_spark(
    app_name: str = "claim-analysis-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's session.

    Static confs — ``spark.driver.memory`` (see ``driver_memory``) and
    ``spark.sql.codegen.cache.maxEntries`` — only take effect when this
    call launches the JVM; on an already-running JVM they are no-ops and
    the running values stay."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    # Local mode runs every executor thread inside the DRIVER JVM, so
    # spark.driver.memory is the entire heap all concurrent tasks share.
    # The pyspark default (1g) OOM'd spilling hash aggregates once the
    # bench's query count grew (round 8); harmless when a real cluster
    # manager overrides it.
    mem = driver_memory(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", mem)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # runtime skew-join splitting: oversized post-shuffle partitions
        # split automatically — the safety net behind the explicit
        # salting pattern (operators/scale_patterns.agg_salted)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # dynamic partition overwrite: hub merge-upsert rewrites only
        # touched (year, month) partitions, not the whole hub
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # events.parquet stores TIMESTAMP(NANOS); read nanos as long
        # (tables._load_events converts). Set here so it never has to
        # flip mid-session.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_stats(spark: SparkSession) -> dict:
    """JVM-wide generated-code compile totals since the JVM started:
    ``compiles`` (Janino compiles, i.e. codegen cache misses, from
    ``CodegenMetrics``) and ``compile_s`` (their summed wall time). Diff
    two readings to count the misses of the work in between."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return {"compiles": int(compiles), "compile_s": nanos / 1e9}
