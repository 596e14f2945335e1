"""SparkSession factory with scale-oriented defaults.

The reference is a single process (no session concept); here we centralize the
knobs that matter at cluster scale: AQE (skew joins + partition coalescing),
Arrow for pandas UDF exchange, bounded Arrow batch sizes (the pair-feature UDF
is quadratic in string length), and shuffle parallelism tied to core count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Pair-feature UDFs do O(len_a * len_b) work per row; keep Arrow batches small
# enough that a single batch never stalls an executor thread for minutes.
ARROW_MAX_RECORDS_PER_BATCH = 10_000


def _mem_total_mb() -> int:
    """Physical RAM in MB (equals MemTotal on Linux)."""
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1024 * 1024)


def default_driver_memory() -> str:
    """About half of MemTotal, rounded down to 256 MB, at least 1 GB.

    In local mode the driver heap is the executor heap, and the other half
    of RAM is left to the Python workers and the OS page cache.  A fixed
    size tuned on one machine can exceed the RAM of another and get the JVM
    OOM-killed."""
    return f"{max(1024, _mem_total_mb() // 2 // 256 * 256)}m"


def get_spark(
    app_name: str = "lab02-er-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[N]`` from ``$SPARK_GRAFT_CPUS`` (32 in the
    sandbox); on a real cluster pass ``None`` and let spark-submit decide.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, DEFAULT_SHUFFLE_PARTITIONS)))
        )

    # Whole-stage codegen for the wide feature projections generates methods
    # near HotSpot's DontCompileHugeMethods threshold (8k bytecode); such
    # methods run INTERPRETED when the JIT blacklists them, and the round-7
    # event-log capture measured first executions of the scoring stage at up
    # to 19x the steady-state CPU (2404 s vs 128 s executor run time for the
    # identical stage, uniform across all tasks) from exactly this.  Rather
    # than forcing C2 to compile huge methods (-XX:-DontCompileHugeMethods
    # measurably degraded warm legs ~15% here — compiling 64 KB methods is
    # itself expensive), split the generated code into smaller, normally
    # JIT-able methods: methodSplitThreshold 1024 -> 128 removed the
    # 150-280 s interpreted-tail legs in every observed run while keeping
    # warm-leg times unchanged.  A bigger code cache holds the extra
    # (smaller) methods.  Deployment-neutral; both knobs overridable.
    jvm_opts = os.environ.get(
        "SPARK_GRAFT_JAVA_OPTS", "-XX:ReservedCodeCacheSize=512m"
    )
    method_split = os.environ.get("SPARK_GRAFT_CODEGEN_SPLIT", "128")
    # single-JVM local mode: the driver heap IS the executor heap
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.executor.extraJavaOptions", jvm_opts)
        .config("spark.sql.codegen.methodSplitThreshold", method_split)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64m advisory coalesces mid-size stages to ~one task wave per
        # core; 16m keeps ~4 waves so stragglers overlap instead of stalling
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
    )
    # shuffle/spill directory: $SPARK_GRAFT_LOCAL_DIR, else Spark's default
    # (java.io.tmpdir, or $SPARK_LOCAL_DIRS).  A tmpfs such as /dev/shm can be
    # faster than a slow virtual disk but draws on the same RAM as the heap,
    # so it is opt-in only.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
