"""Task frames — SURVEY §2.9 U3, §2.3 J5/J6.

A task relation is ``(subject_id, start_time, end_time, <label cols…>)``
(event_stream_pytorch_dataset.py:96-105). This module provides:

- ``normalize_task_labels`` (U3): the reference's dtype-dispatch table
  (event_stream_pytorch_dataset.py:62-81) as Spark-type dispatch —
  integer → multi_class_classification (as-is), string/categorical →
  multi_class_classification via frequency-ranked codes (pandas
  ``cat.codes`` analog, deterministic: rank by desc frequency then
  value), boolean → binary_classification cast to double, float →
  regression (as-is); any other type raises.
- ``events_in_task_windows`` (J5): the subject-equi + time-range join
  binding events to task windows, inclusive on both ends (P4,
  event_stream_pytorch_dataset.py:288-292).
- ``restrict_tasks_to_subjects`` (J6): semi-join.

Scale: J5 is Spark's non-equi range join on top of a subject equi-key —
the equi part drives the shuffle, so it executes as a hash/sort-merge
join with a range post-filter, not a cartesian.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

_INT_TYPES = (ByteType, ShortType, IntegerType, LongType)
_FLOAT_TYPES = (FloatType, DoubleType)


def normalize_task_labels(
    task_df: DataFrame,
    label_cols: list[str] | None = None,
) -> tuple[DataFrame, dict[str, str], dict[str, DataFrame]]:
    """U3: returns ``(normalized_df, task_types, label_vocabs)``.

    ``task_types`` maps label → 'multi_class_classification' |
    'binary_classification' | 'regression'. String labels are encoded
    to dense integer codes via a frequency-ranked vocabulary (returned
    in ``label_vocabs`` as (element, code) for decode).
    """
    reserved = {"subject_id", "start_time", "end_time"}
    label_cols = label_cols or [c for c in task_df.columns if c not in reserved]
    task_types: dict[str, str] = {}
    vocabs: dict[str, DataFrame] = {}
    out = task_df
    for c in label_cols:
        dt = task_df.schema[c].dataType
        if isinstance(dt, BooleanType):
            task_types[c] = "binary_classification"
            out = out.withColumn(c, F.col(c).cast("double"))
        elif isinstance(dt, _INT_TYPES):
            task_types[c] = "multi_class_classification"
        elif isinstance(dt, _FLOAT_TYPES):
            task_types[c] = "regression"
        elif isinstance(dt, StringType):
            task_types[c] = "multi_class_classification"
            vocab = (
                task_df.filter(F.col(c).isNotNull())
                .groupBy(F.col(c).alias("element"))
                .agg(F.count(F.lit(1)).alias("_n"))
                .withColumn(
                    "code",
                    F.row_number().over(
                        W.orderBy(F.col("_n").desc(), F.col("element").asc())
                    )
                    - 1,
                )
                .select("element", "code")
            )
            vocabs[c] = vocab
            out = (
                out.join(
                    F.broadcast(vocab.withColumnRenamed("element", c)), c, "left"
                )
                .withColumn(c, F.col("code"))
                .drop("code")
            )
        else:
            raise TypeError(f"can't normalize task label {c!r} of type {dt}")
    return out, task_types, vocabs


def events_in_task_windows(
    events: DataFrame,
    task_df: DataFrame,
) -> DataFrame:
    """J5: events × task windows — subject equi-join plus
    ``start_time <= ts <= end_time`` (inclusive both ends). One output
    row per (event, covering window)."""
    t = task_df.alias("t")
    e = events.alias("e")
    return e.join(
        t,
        (F.col("e.subject_id") == F.col("t.subject_id"))
        & F.col("e.timestamp").between(F.col("t.start_time"), F.col("t.end_time")),
        "inner",
    ).select("e.*", "t.start_time", "t.end_time")


def restrict_tasks_to_subjects(task_df: DataFrame, subjects: DataFrame) -> DataFrame:
    """J6: ``task_df[subject_id.isin(subject_ids)]`` as a semi-join."""
    return task_df.join(subjects.select("subject_id"), "subject_id", "left_semi")


def churn_labels(
    events: DataFrame,
    subject_col: str = "user_id",
    ts_col: str = "ts",
    churn_days: int = 14,
    active_days: int = 7,
) -> DataFrame:
    """Churn-label builder: per subject, the last-activity watermark,
    activity volume in the trailing ``active_days`` window, and a
    ``churned`` label (no activity in the last ``churn_days`` of the
    observation horizon) — the canonical supervised-label derivation a
    training pipeline runs over the raw event log, with the horizon
    anchored to the DATA's high watermark so backfills are
    reproducible (wall-clock anchors are not).

    Two scans, both cheap where it matters: the horizon is a bare
    max(ts) over the pruned timestamp column (parquet footer stats
    answer it without reading data pages), broadcast as a one-row
    scalar onto the single map-side-combined per-subject groupBy whose
    conditional aggregates produce every label column — per-subject
    state is a handful of counters, never a timestamp list. Returns
    (subject, last_ts, n_events, n_events_recent, days_inactive,
    churned)."""
    ts = F.col(ts_col).cast("timestamp")
    day_us = 86_400_000_000
    horizon = events.agg(F.max(F.unix_micros(ts)).alias("_hz_us"))
    us = F.unix_micros(ts)
    recent_cut = F.col("_hz_us") - active_days * day_us
    churn_cut = F.col("_hz_us") - churn_days * day_us
    return (
        events.crossJoin(F.broadcast(horizon))
        .groupBy(F.col(subject_col))
        .agg(
            F.max(ts.cast("timestamp_ntz")).alias("last_ts"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(us >= recent_cut, 1).otherwise(0))
            .cast("long")
            .alias("n_events_recent"),
            F.floor((F.max(F.col("_hz_us")) - F.max(us)) / F.lit(day_us))
            .cast("long")
            .alias("days_inactive"),
            (F.max(us) < F.max(churn_cut)).alias("churned"),
        )
    )
