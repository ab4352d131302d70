"""Storage-layout operators: bucketed tables for co-located joins and
partitioned layouts for scan pruning.

At 100 TB the dominant costs are the shuffle a repeated fact-to-fact
join pays and the bytes a full scan reads; both are LAYOUT decisions
made at write time. These helpers make the two canonical layouts
first-class engine operations, and the companion plan tests pin the
payoff (no Exchange above bucketed scans; PartitionFilters reaching the
parquet scan). Declared-new per SURVEY §2.8b.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    path: str,
) -> None:
    """Persist ``df`` as an external bucketed+sorted table: rows are
    hash-distributed into ``n_buckets`` files by ``key`` and sorted
    within each, so ANY later equi-join or aggregation on ``key``
    between tables sharing the layout runs with ZERO exchange — the
    shuffle is paid once at write time and amortized over every read.
    (``saveAsTable`` is required: bucketing metadata lives in the
    catalog, a bare ``parquet(path)`` write silently drops it.)"""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )


def bucketed_pair(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    key: str,
    cache_tag: str,
    src_paths: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Materialize two relations as same-bucketed tables (content
    cached under a tag-keyed temp path, table re-registered per
    session) and return them as catalog-backed DataFrames ready for a
    co-located join. The cache key includes the tag, the layout, a
    source-freshness fingerprint (mtime of each ``src_paths`` entry —
    data changing under the tag yields a NEW table, never a stale
    reuse), and the Spark application id (two concurrent sessions get
    disjoint paths instead of racing ``mode("overwrite")`` on a shared
    one — bucketing metadata lives in the per-session catalog, so the
    path was never shareable across sessions anyway)."""
    missing = [p for p in src_paths if not os.path.exists(p)]
    if missing:
        # silently skipping a typo'd path would freeze the fingerprint
        # and quietly revive the stale-reuse bug this parameter fixes
        raise FileNotFoundError(f"bucketed_pair src_paths not found: {missing}")
    # full mtime precision: a same-second rewrite must still miss the cache
    fp = ":".join(f"{p}@{os.path.getmtime(p)!r}" for p in src_paths)
    app = spark.sparkContext.applicationId
    key_hash = hashlib.md5(
        f"{cache_tag}:{key}:8:{fp}:{app}".encode()
    ).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"esml_bucketed_{key_hash}")
    names = (f"esml_b_{key_hash}_l", f"esml_b_{key_hash}_r")
    for name, df, sub in ((names[0], left, "l"), (names[1], right, "r")):
        if not spark.catalog.tableExists(name):
            write_bucketed(df, name, key, 8, os.path.join(base, sub))
    return spark.table(names[0]), spark.table(names[1])


def partitioned_copy(
    df: DataFrame, src_path: str, partition_col: str = "event_type"
) -> str:
    """Hive-partitioned copy of a table (caller passes the frame loaded
    through the engine's ts-unit-sniffing reader; cached per source,
    built into a fresh dir renamed into place so concurrent readers
    never see a half-written layout — same protocol as the
    schema-evolution fixture). A filter on the partition column then
    prunes entire directories at planning time: the scan reads
    1/|partitions| of the bytes, which at 100 TB is the difference
    between a query and an outage.

    The cache key includes the Spark **applicationId** (same contract
    as :func:`bucketed_pair`): every new bench/oracle process re-pays
    the one-time layout write, so nothing derived from the inputs
    survives a process — within one session the write-once-prune-many
    behavior is exactly what the operator demonstrates. The source
    mtime stays in the freshness check so changed data is never served
    stale even within a session."""
    src = src_path
    app = df.sparkSession.sparkContext.applicationId
    key = hashlib.md5(
        (os.path.abspath(src_path) + ":" + partition_col + ":" + app).encode()
    ).hexdigest()[:12]
    dst = os.path.join(tempfile.gettempdir(), f"esml_events_part_{key}")
    marker = os.path.join(dst, "_done")

    def _fresh(path: str) -> bool:
        return os.path.exists(path) and os.path.getmtime(path) >= os.path.getmtime(
            src
        )

    if not _fresh(marker):
        build = tempfile.mkdtemp(prefix=f"esml_events_part_{key}_")
        out = os.path.join(build, "data")
        df.write.mode("overwrite").partitionBy(partition_col).parquet(out)
        with open(os.path.join(build, "_done"), "w") as fh:
            fh.write("ok")
        old = None
        if os.path.exists(dst):
            old = dst + "." + os.path.basename(build)
            os.rename(dst, old)
        try:
            os.rename(build, dst)
        except OSError:
            pass  # lost the race; the winner's layout is complete
    return os.path.join(dst, "data")


def zone_map_audit(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Zone-map (min/max data-skipping) effectiveness audit for a
    ``value > T`` predicate over day-partitioned data: per-day zones
    carry (min, max, rows); a partition is PRUNED when max ≤ T (never
    scanned), FULL when min > T (scanned, every row matches), PARTIAL
    otherwise. Emits one row: partition counts per class, the scan
    ratio a zone-map-aware reader would pay, and the predicate's true
    selectivity — the layout readout that decides whether a 100 TB
    table needs sort-clustering on the filter column (Z-order's
    cheaper cousin).

    T is derived engine-stably as an integer: floor of the global
    mean via exact integer arithmetic on floor(value·100) (a float
    mean floored at an integer edge is the KS-grid trap). Two
    map-side-combined passes: the global T aggregate (broadcast back)
    and the per-day zone aggregate."""
    from pyspark.sql import functions as F

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    day = ((us - F.pmod(us, F.lit(86_400_000_000))) / F.lit(86_400_000_000)).cast(
        "long"
    )
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(
        day.alias("_day"),
        v.alias("_v"),
        F.floor(v * 100).cast("long").alias("_v100"),
    )
    t_rel = base.groupBy().agg(
        F.floor(
            F.sum("_v100") / (F.lit(100) * F.count(F.lit(1)))
        ).cast("long").alias("_t")
    )
    zones = base.crossJoin(F.broadcast(t_rel)).groupBy("_day").agg(
        F.count(F.lit(1)).alias("_rows"),
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
        F.sum(
            F.when(F.col("_v") > F.col("_t").cast("double"), 1).otherwise(0)
        ).alias("_match"),
        F.max("_t").alias("_t"),
    )
    pruned = F.col("_mx") <= F.col("_t").cast("double")
    full = F.col("_mn") > F.col("_t").cast("double")
    return zones.groupBy().agg(
        F.max("_t").cast("long").alias("threshold"),
        F.count(F.lit(1)).cast("long").alias("n_partitions"),
        F.sum(F.when(pruned, 1).otherwise(0)).cast("long").alias("n_pruned"),
        F.sum(F.when(full, 1).otherwise(0)).cast("long").alias("n_full"),
        F.sum(F.when(~pruned & ~full, 1).otherwise(0))
        .cast("long")
        .alias("n_partial"),
        F.sum("_rows").cast("long").alias("n_rows"),
        F.sum(F.when(~pruned, F.col("_rows")).otherwise(0))
        .cast("long")
        .alias("n_rows_scanned"),
        F.sum("_match").cast("long").alias("n_rows_matching"),
        F.round(
            F.try_divide(
                F.sum(F.when(~pruned, F.col("_rows")).otherwise(0)).cast(
                    "double"
                ),
                F.sum("_rows").cast("double"),
            ),
            6,
        ).alias("scan_ratio"),
        F.round(
            F.try_divide(
                F.sum("_match").cast("double"), F.sum("_rows").cast("double")
            ),
            6,
        ).alias("selectivity"),
    )
