"""SparkSession construction and scale-aware defaults.

Local test mode runs ``local[N]`` in one JVM; the same configs are the
right starting point on a real cluster (AQE on, skew-join handling,
partition sizing), where ``spark.sql.shuffle.partitions`` should be
raised to ~2-3× total cores and executor memory set by the deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime SQL confs every engine entry point must guarantee, even on a
# SparkSession we did not build (the test driver owns its own session):
# - nanosAsLong: the test parquet stores TIMESTAMP(NANOS), which Spark
#   refuses to read natively; read as long and convert explicitly
#   (sources.testdata handles the conversion).
# - UTC session timezone: oracle comparisons (DuckDB) use naive UTC
#   timestamps; date_part/hour results must not depend on host tz.
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}

# Entries of Spark's compiled-class cache (the static conf
# spark.sql.codegen.cache.maxEntries, an LRU). An entry is one class
# Janino compiled from generated source, keyed by that exact source: a
# hit reuses compiled code, never data or a result. The entry count
# grows with the distinct plan shapes a session runs, never with data
# volume. Spark's default of 100 is below one pass of either benchmark
# workload (registry_fixed_cost: 169 classes, esds_pipeline: 220-253 by
# seed), so a repeated pass evicted each class before it came round
# again and recompiled all of them. 1024 holds the larger pass four
# times over, or both workloads' passes in one session.
# A cached class costs about 8 KB of metaspace and 33 KB of heap (the
# whole registry in one session, 5762 distinct classes, retained vs
# evicted), so a full cache costs about 40 MB.
CODEGEN_CACHE_ENTRIES = 1024


import weakref

_CONFS_APPLIED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set must-have runtime confs on an existing session (idempotent).

    Applied once per live session object: this runs on EVERY
    load_table call (hundreds of times per bench run), and each
    conf.set is a py4j round trip — a per-query driver constant for no
    new information. Weak identity keying: a stopped/collected session
    drops out, and a NEW session object (even in the same process)
    gets the confs applied."""
    if spark in _CONFS_APPLIED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable on some builds; reads then fail loudly later
    try:
        _CONFS_APPLIED.add(spark)
    except TypeError:
        pass  # non-weakrefable session implementation: re-apply each call
    return spark


def get_spark(
    app_name: str = "eventstreamml_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so tests and bench share one knob. On a real cluster pass
    ``master=None`` with a pre-set ``spark.master``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by shuffle BYTES; text/hash pipelines are
        # CPU-dense per byte (shingle explode, md5×64 bits), so the 1MB
        # default floor collapses them to ~3 tasks on small inputs. 64k
        # keeps tiny stages coalesced while letting CPU-heavy narrow
        # data spread; at production shuffle sizes the 64MB advisory
        # target governs and this floor never binds.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom filters: a selective dim-side filter makes the
        # optimizer inject might_contain() on the fact side BEFORE its
        # shuffle — the 100 TB semi-join-reduction pattern, free when
        # Catalyst owns it (pinned on; thresholds stay at defaults so
        # tiny local relations don't pay sketch-build overhead)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Streaming state (ST3-ST5 stateful ops): RocksDB provider keeps
        # state off-heap and spillable — the HDFS-backed default holds
        # every key in executor heap, which caps state size long before
        # 100 TB-scale key cardinalities. Changelog checkpointing keeps
        # commit cost proportional to the delta, not the store size.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # ContextCleaner only reclaims shuffle files / broadcast blocks
        # when driver GC collects their references; the 30min default
        # periodicGC never fires inside a multi-query job segment, so
        # hundreds of queries on one session accumulate shuffle state
        # and slow later queries (round-3 bench regression on unchanged
        # code). 1min keeps long-lived sessions flat; single-query jobs
        # never notice it.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate may have returned a pre-existing session → re-assert.
    return apply_runtime_confs(spark)
