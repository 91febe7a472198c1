"""SparkSession factory tuned for the dedup pipeline.

The master defaults to ``local[*]`` (``local[SPARK_GRAFT_CPUS]`` when that
variable is set), one JVM; on a real cluster the same settings apply except
master/memory come from spark-submit. Local masters also get the
``worker_daemon`` Python daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``,
# default 100) is smaller than what one pass generates, so every warm pass
# recompiled nearly all of its classes with Janino. Measured classes per
# pass (local[4]): a `planted` benchmark pass ~205 (201-210; 201 recompiled
# on every warm pass at the default), a warm streaming micro-batch ~278
# (276-279). 1000 holds either several times over.
CODEGEN_CACHE_ENTRIES = 1000

# Static codegen settings for every session the package builds (get_spark
# and jobs/dedup.py). The cache is keyed by source text, and the default
# class name carries the whole-stage codegen id, which AQE assigns in the
# order concurrent query stages finish: the same pipeline then came back
# under a new name and was compiled again (4 classes in about one warm
# `planted` pass in two).
CODEGEN_CONF = {
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    "spark.sql.codegen.useIdInClassName": "false",
}

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _daemon_importable() -> bool:
    """Whether a Python worker daemon started by a local JVM can import this
    package: ``python -m`` puts the JVM's working directory (the driver's)
    first on ``sys.path``, then come the PYTHONPATH entries."""
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    root = os.path.realpath(_PACKAGE_ROOT)
    return any(p and os.path.realpath(p) == root for p in paths)


def get_spark(
    app_name: str = "deduplicate_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    # shuffle spill dir: RAM-backed tmpfs when available (the local-mode
    # analog of per-executor NVMe on a real cluster; a single spinning
    # /tmp serializes every shuffle across all task slots)
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.local.dir", local_dir or "/tmp")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # PARTITION-SIZE INVARIANT (VERDICT r5 #2): every AQE shuffle starts
        # fine-grained and coalesces by measured bytes, so no exchange can
        # produce partitions sized corpus/cores. With shuffle_partitions ==
        # cores at local[2] on a 26M-turn corpus, the assembly groupBy used
        # to emit TWO ~6 GiB partitions; localCheckpoint then cached 6 GiB
        # blocks and a concurrent sort-page request aborted with
        # UNABLE_TO_ACQUIRE_MEMORY ~1 run in 7. Deriving the count from
        # bytes (advisory 128 MB) instead of parallelism is what a real
        # 1000-executor cluster needs anyway: partition count must track
        # DATA, not slot count. parallelismFirst stays at its default (true):
        # AQE then coalesces only down to minPartitionSize (1 MB), so small
        # corpora keep their parallelism while big shuffles keep ~48-128 MB
        # partitions instead of corpus/cores.
        # never BELOW the caller's shuffle_partitions: AQE only coalesces
        # DOWN from the initial count, so a flat 256 would cap a big
        # cluster's exchanges at 256 pre-coalesce tasks — multi-GB
        # partitions at multi-TB shuffles, the very pathology this setting
        # exists to prevent (ADVICE r6). Extra initial partitions are
        # cheap: byte-coalescing merges them right back.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(256, shuffle_partitions)),
        )
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # survive long full-GC pauses on big heaps at low core counts
        # (measured: a 26M-turn local[2]/24g run died at the default 120s
        # executor-liveness timeout during a ~140s GC pause inside a giant
        # localCheckpoint — the job itself was healthy). 10 min matches
        # what production clusters commonly run for spark.network.timeout.
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
        .config(map=CODEGEN_CONF)
    )
    if master.startswith("local") and _daemon_importable():
        # each Python task stops re-reading pyspark.zip's directory
        # (DESIGN §4); a cluster's executors may not have this package on
        # their path when the daemon starts, so only local masters get it
        builder = builder.config(
            "spark.python.daemon.module", "deduplicate_spark.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
