"""SparkSession factory tuned for this engine.

Defaults target local[N] testing but every knob is the one you would
set on a 1000-executor cluster too: AQE on (runtime re-plan, skew-join
splitting, dynamic coalescing), UTC session timezone (oracle parity and
cross-cluster determinism), Arrow for any Python exchange, and shuffle
partitions sized to the parallelism at hand rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Sized from the host unless the environment pins them: every core this
# process may run on, and a third of the RAM within 2..8 GB, so the heap
# holds each local task's working set without crowding other processes.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
_RAM_GB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024**3
DEFAULT_DRIVER_MEM = os.environ.get("SPARK_DRIVER_MEM") or f"{max(2, min(8, _RAM_GB // 3))}g"


def build_session(
    app_name: str = "flinkproj_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    On a real cluster the same config applies — only master/memory come
    from spark-submit. shuffle.partitions is set to the core count for
    local runs; at 100 TB you size it so each shuffle partition holds
    100-200 MB (AQE coalesces the excess automatically).
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # UTC everywhere: window boundaries/epoch math must not depend on
        # the host timezone, and the DuckDB oracle compares naive-UTC.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # and join-strategy switching — the scale-survival knobs.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        # Arrow for every Python<->JVM exchange (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small files at test SF: don't spawn thousands of tiny tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Keep broadcast threshold at default 10MB; dims here are tiny.
        # local[N] runs executors inside the driver JVM, so the heap must
        # hold N concurrent task working sets; with a big heap full GC is
        # rare, so force periodic GC or broadcast/shuffle blocks from
        # earlier queries pile up and long sessions degrade.
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        # Periodic GC keeps multi-hour sessions from accumulating dead
        # broadcast/shuffle blocks — but the System.gc() it triggers
        # stalls whatever query is running when it fires (measured: a
        # 0.3 s query charged 4-10 s). 5min clears a full bench run;
        # ExplicitGCInvokesConcurrent turns the remaining explicit GCs
        # into concurrent cycles instead of stop-the-world fulls.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # reliable checkpoints (dedup_cluster) are deleted once their
        # RDDs are GC'd — without this the checkpoint dir grows forever
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.extraJavaOptions", "-XX:+ExplicitGCInvokesConcurrent")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        # Checkpoint files (offset/commit logs, state commits) through the
        # FileSystem API. The default FileContext manager resolves
        # symlinks on every rename, and without the native Hadoop library
        # the local file system forks a `readlink` for that: a 9-trigger
        # report stream forked 808 of them on a 4-core host, and its
        # offset-log commits took 31-52 ms against 7-24 ms here. These
        # sessions are local, where FileSystem.rename is a POSIX rename:
        # atomic, and it replaces the target. HDFS rename does not replace
        # an existing target, so the cluster jobs (deploy/) keep Spark's
        # default manager.
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
        # Compiled codegen classes live in one JVM-wide LRU of this many
        # entries (default 100). The catalog outgrows it: the 18
        # perfbench catalog_small keys compile ~195 distinct classes and
        # one bench.py pass over every key at sf0.1 4,159, so with the
        # default each pass recompiled them all (188 Janino compiles,
        # ~3 ms each, per catalog_small pass; 6,421 in a full pass 2).
        # 8192 is the smallest power of two that holds the registry and
        # a pass of run-to-run drift: at 4096 a full pass 2 still compiled
        # 2,785, at 8192 337. The report stream's 74 classes fit the
        # default, so deploy/ keeps it.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
