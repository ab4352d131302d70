"""EventStreamDataset — the unified three-relation dataset object.

Spark-native re-expression of the reference's ``EventStreamDataset``
(event_stream_dataset.py:18-666): three DataFrames —

- ``events``   (event_id, subject_id, timestamp, event_type, ...)
- ``metadata`` (metadata_id, event_id, event_type, subject_id, <measurements...>)
- ``subjects`` (subject_id, <static cols...>)

Construction (E1, event_stream_dataset.py:476-666):
  1. timestamp parse to TimestampType;
  2. metadata normalization — backfill ``event_type``/``subject_id``
     from events by ``event_id`` join when absent;
  3. surrogate ``event_id`` assignment if missing (pinned total order);
  4. nested ``metadata`` column, if present, exploded into the flat
     metadata relation (S4);
  5. canonical sort by (subject_id, timestamp, event_id).

Derived state (``event_types``, ``n_events_per_subject``) are lazy
aggregate DataFrames, not driver lists — at 100 TB the histogram is
itself big data. Persistence (S5) is parquet per relation + a JSON
sidecar, replacing the reference's dill pickle
(event_stream_dataset.py:42-44) with an open, scan-pushdown-friendly
layout partitioned for subject-local access.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from eventstreamml_spark.operators.aggregations import event_type_histogram, events_per_subject
from eventstreamml_spark.operators.filters import drop_all_null_columns
from eventstreamml_spark.operators.windows import assign_event_ids, sort_events
from eventstreamml_spark.sources.ingest import (
    MANDATORY_EVENT_COLS,
    MANDATORY_METADATA_COLS,
    _ordered,
    backfill_metadata,
    explode_metadata,
)


class EventStreamDataset:
    """Three-relation event-stream dataset with reference construction
    semantics. All members are lazy DataFrames; nothing collects."""

    def __init__(
        self,
        events: DataFrame,
        metadata: DataFrame | None = None,
        subjects: DataFrame | None = None,
        id_strategy: str = "dense",
    ) -> None:
        spark = events.sparkSession

        # 1. timestamp parse (event_stream_dataset.py:526-528)
        if not str(events.schema["timestamp"].dataType).lower().startswith("timestamp"):
            events = events.withColumn("timestamp", F.to_timestamp("timestamp"))

        # 3. surrogate ids (:645-649)
        if "event_id" not in events.columns:
            events = assign_event_ids(events, tiebreakers=["event_type"])

        # 4. nested-metadata explode (:651-653 → :569-593)
        if "metadata" in events.columns:
            if metadata is not None:
                raise ValueError("pass nested events OR a metadata frame, not both")
            events, metadata = explode_metadata(events, id_strategy=id_strategy)

        # 2. metadata normalization (:530-548)
        if metadata is not None:
            if "event_id" not in metadata.columns:
                raise ValueError("metadata frame requires an event_id column")
            if "event_type" not in metadata.columns or "subject_id" not in metadata.columns:
                metadata = backfill_metadata(metadata, events)
            if "metadata_id" not in metadata.columns:
                metadata = metadata.withColumn(
                    "metadata_id", F.monotonically_increasing_id()
                )
            metadata = _ordered(metadata, MANDATORY_METADATA_COLS)
        else:
            metadata = spark.createDataFrame(
                [], "metadata_id long, event_id long, event_type string, subject_id long"
            )

        # 5. canonical order (:656, 668-671); stays a lazy sort
        self.events = sort_events(_ordered(events, MANDATORY_EVENT_COLS))
        self.metadata = metadata
        self.subjects = subjects

    # -- derived state (event_stream_dataset.py:658-666) ---------------
    def event_types(self) -> DataFrame:
        """A2: event types by descending frequency."""
        return event_type_histogram(self.events)

    def n_events_per_subject(self) -> DataFrame:
        """A3: per-subject event counts; zero-event subjects included
        when a subjects relation exists."""
        return events_per_subject(self.events, self.subjects)

    # -- filtered views (P2/P3, event_stream_dataset.py:781-863) -------
    def metadata_view(
        self,
        event_types: list[str] | None = None,
        drop_null_cols: bool = False,
    ) -> DataFrame:
        """P2: event_type membership filter, then optionally drop
        all-null measurement columns (one agg pass)."""
        df = self.metadata
        if event_types is not None:
            df = df.filter(F.col("event_type").isin(event_types))
        if drop_null_cols:
            df = drop_all_null_columns(df, keep=MANDATORY_METADATA_COLS)
        return df

    def restrict_subjects(self, subject_df: DataFrame) -> "EventStreamDataset":
        """P3/J8: semi-join every relation to a subject set (e.g. one
        split's assignment table)."""
        s = subject_df.select("subject_id")
        out = object.__new__(EventStreamDataset)
        out.events = self.events.join(s, "subject_id", "left_semi")
        out.metadata = self.metadata.join(s, "subject_id", "left_semi")
        out.subjects = (
            self.subjects.join(s, "subject_id", "left_semi") if self.subjects is not None else None
        )
        return out

    # -- persistence (S5) ----------------------------------------------
    def save(self, path: str, partition_events_by_subject_bucket: int | None = None) -> None:
        """Parquet per relation + JSON sidecar. At scale pass a bucket
        count so events/metadata land subject-co-partitioned (joins and
        per-subject windows then shuffle-free on read with bucketed
        tables; plain parquet still benefits via partition pruning)."""
        ev, md = self.events, self.metadata
        if partition_events_by_subject_bucket:
            b = F.pmod(F.xxhash64("subject_id"), F.lit(partition_events_by_subject_bucket))
            ev = ev.withColumn("subject_bucket", b)
            md = md.withColumn("subject_bucket", b)
            ev.write.partitionBy("subject_bucket").mode("overwrite").parquet(
                os.path.join(path, "events")
            )
            md.write.partitionBy("subject_bucket").mode("overwrite").parquet(
                os.path.join(path, "metadata")
            )
        else:
            ev.write.mode("overwrite").parquet(os.path.join(path, "events"))
            md.write.mode("overwrite").parquet(os.path.join(path, "metadata"))
        if self.subjects is not None:
            self.subjects.write.mode("overwrite").parquet(os.path.join(path, "subjects"))
        sidecar = {
            "relations": ["events", "metadata"] + (["subjects"] if self.subjects is not None else []),
            "bucketed": bool(partition_events_by_subject_bucket),
            "n_buckets": partition_events_by_subject_bucket,
        }
        with open(os.path.join(path, "dataset.json"), "w") as f:
            json.dump(sidecar, f, indent=2)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "EventStreamDataset":
        with open(os.path.join(path, "dataset.json")) as f:
            sidecar = json.load(f)
        out = object.__new__(cls)
        out.events = spark.read.parquet(os.path.join(path, "events")).drop("subject_bucket")
        out.metadata = spark.read.parquet(os.path.join(path, "metadata")).drop("subject_bucket")
        out.subjects = (
            spark.read.parquet(os.path.join(path, "subjects"))
            if "subjects" in sidecar["relations"]
            else None
        )
        return out
