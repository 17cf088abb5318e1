"""SparkSession factory tuned for the dedup workload.

Local testing runs on local[N]; the same settings map onto multi-executor
clusters (spark-submit --py-files) — AQE, Arrow, and shuffle-partition sizing
are the knobs that matter at 100 TB. The generated-code cache
(CODEGEN_CACHE_ENTRIES) is the knob that matters for a long-lived session
that runs many passes: sized too small, every pass compiles its whole plan
again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's generated-class cache (spark.sql.codegen.cache.maxEntries,
# a static conf; the cache is built once per JVM, at its first codegen
# compile). Spark's default of 100 is under one code pass. Distinct Janino
# classes of a first pass, each shape in a fresh local[4] session:
#   code pass (Catalyst containment verify)      194
#   code pass, use_exact_jaccard                 193
#   dnsbl pass, C order                           50
#   dnsbl pass, pointer / standard order          79 / 202 over three passes
#   all six shapes, two passes each, one session 463
# (the six shapes were taken with a suffix-array containment verify, 211
# classes on its own, which the engine no longer has)
# At 100, each warm code pass evicted and recompiled 193 classes (1.2-1.4 s
# of Janino per pass, then JIT warm-up of the new classes). 1024 holds
# every shape at once with about 2x headroom, so a session that runs them
# all (the test suite, the bench reps) compiles nothing on a repeat.
CODEGEN_CACHE_ENTRIES = 1024


def host_parallelism() -> int:
    """Default core count: $SPARK_GRAFT_CPUS, else the host's CPUs."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def host_ram_mb() -> int:
    """Physical memory of the host, in MB."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def get_spark(
    app_name: str = "dedup-domains-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    parallelism: local core count (defaults to host_parallelism()).
    master: override, e.g. "local-cluster[8,4,4096]" — separate executor
    JVMs, the faithful in-sandbox stand-in for a multi-executor cluster
    (single-JVM local[N] saturates around 8 threads on shared hosts).
    """
    if parallelism is None:
        parallelism = host_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism, 8)

    # ship this package to executor python workers (the spark-submit
    # --py-files analog; required for local-cluster / real clusters where
    # executors are separate JVMs that don't inherit the driver's sys.path)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    exec_pythonpath = os.environ.get("PYTHONPATH", "")
    exec_pythonpath = (
        f"{pkg_root}:{exec_pythonpath}" if exec_pythonpath else pkg_root
    )

    # shuffle/broadcast spill dir on tmpfs: the sandbox's virtio disk caps
    # shuffle transport at a few MB/s and is the dominant noise source; on a
    # real cluster this is NVMe-backed local storage (or remote shuffle svc)
    local_dir = os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-tmp")
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = None

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{parallelism}]")
        .config("spark.executorEnv.PYTHONPATH", exec_pythonpath)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        # AQE (runtime coalescing + skew-join splitting) governs the sinks
        # and the dnsbl pass. run_pipeline turns it off for its own stages
        # (plans/pipeline.PIPELINE_AQE), whose skew is handled explicitly,
        # and restores this value on exit.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas traffic: the signature kernel, the regex-kill
        # fallback UDF, the Bloom prefilter, the streaming state and the
        # driver union-find's toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Keep broadcast autodetection on; dims like the FULL-key set are
        # explicitly hinted where we know better than the stats.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # broadcast builds queue behind running shuffle stages on a busy
        # cluster; the 300 s default killed an otherwise-healthy 3.84M-row
        # run mid-pipeline (BroadcastExchange timeout while stage 103's
        # shuffle held all cores). An hour matches the long-job posture a
        # 10^12-file run needs — a genuinely stuck broadcast still fails,
        # just not by racing a healthy stage.
        .config("spark.sql.broadcastTimeout", "3600")
        # driver heap: half of host RAM, at most 24g. In local mode the
        # driver JVM also runs every task, so it takes the larger share; the
        # rest is left to the Python workers and the OS
        .config("spark.driver.memory", os.environ.get(
            "SPARK_DRIVER_MEM", f"{min(24 * 1024, host_ram_mb() // 2)}m"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """Janino compiles in this JVM since it started: (classes compiled,
    total compile ms). A cache hit compiles nothing, so the difference over
    a pass counts the classes the cache could not serve. In local mode the
    JVM runs the tasks too, so executor-side compiles are counted."""
    jvm = spark._jvm
    classes = (jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME().getCount())
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return classes, ns / 1e6
