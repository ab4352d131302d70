"""Bucketed catalog sinks — the co-located-join scale path.

Directory-partitioned parquet (``EventStreamDataset.save``) prunes
*scans*; catalog **bucketing** (``bucketBy`` + ``saveAsTable``) goes
further: the table metadata records that every file holds one hash
bucket of the key, so a join or aggregation on that key consumes the
bucketing directly — **no Exchange on either side** when both tables
share (key, n_buckets). On a 100 TB events/metadata pair that removes
the dominant shuffle from every per-subject pipeline stage: ingest
writes once, every downstream join/window reads co-located.

``sortBy`` within buckets additionally lets sort-merge joins skip the
per-task sort (files are read pre-sorted).

Bucketing requires a table catalog (in-memory/Hive/Glue); plain
``.parquet(path)`` writes cannot carry bucket metadata — that is a
Spark contract, not an engine choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str = "subject_id",
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Write ``df`` as a catalog table hash-bucketed on ``bucket_col``
    (optionally sorted within buckets). Joins/groupBys on the bucket
    column across tables written with the same (col, n_buckets) then
    plan with zero Exchange."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — carries bucketing metadata into the plan."""
    return spark.table(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_within: list[str] | None = None,
) -> None:
    """Directory-partitioned parquet sink: one directory per partition
    value, so any read filtering on the partition columns prunes whole
    directories at planning time (PartitionFilters in the scan — zero
    IO for pruned partitions). The scan-side complement to bucketing:
    partition on the coarse filter axes (date, split), bucket on the
    join key.

    ``sort_within`` sorts rows inside each task's output files (e.g.
    by subject_id, timestamp) so parquet row-group min/max statistics
    also prune within files. Cardinality warning: every distinct
    partition-column tuple becomes a directory — keep it to coarse
    columns (a date, not a timestamp)."""
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
