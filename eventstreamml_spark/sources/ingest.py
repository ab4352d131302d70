"""Ingestion builders — SURVEY §2.1 S1-S4.

Converts arbitrary "one row per event" source frames into the engine's
canonical relations:

- ``events``: ``(event_id, subject_id, timestamp, event_type, ...)``
- ``metadata``: ``(metadata_id, event_id, event_type, subject_id,
  <measurement cols...>)`` — N:1 joinable to events on ``event_id``

The reference packs per-event measurements into ``ExpandableDfDict``
python-object cells (event_stream_dataset.py:370-413); Spark-side the
nested form is a typed ``array<struct<...>>`` column built with
``collect_list(struct(...))`` — never an opaque object column
(SURVEY §1.4).

Surrogate-id discipline: the reference numbers events 0..n-1 by pandas
input order (event_stream_dataset.py:415-474). A distributed engine has
no input order, so ids are assigned over a pinned total order
(subject, timestamp, tiebreakers). At cluster scale prefer
``id_strategy="monotonic"`` (non-dense, no global shuffle) when
density/parity is not required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MANDATORY_EVENT_COLS = ["event_id", "subject_id", "timestamp", "event_type"]
MANDATORY_METADATA_COLS = ["metadata_id", "event_id", "event_type", "subject_id"]


def _ordered(df: DataFrame, mandatory: list[str]) -> DataFrame:
    """P1 canonical column order: mandatory first, rest sorted by name
    (event_stream_dataset.py:542-544)."""
    rest = sorted(c for c in df.columns if c not in mandatory)
    return df.select(*[c for c in mandatory if c in df.columns], *rest)


def _assign_id(df: DataFrame, out_col: str, order_cols: list[str], strategy: str) -> DataFrame:
    if strategy == "monotonic":
        return df.withColumn(out_col, F.monotonically_increasing_id())
    if strategy == "dense":
        from eventstreamml_spark.operators.windows import dense_ids

        return dense_ids(df, order_cols, out_col)
    raise ValueError(f"unknown id strategy {strategy!r}")


def to_events(
    df: DataFrame,
    event_type: str,
    subject_col: str,
    time_col: str,
    metadata_cols: list[str] | None = None,
) -> DataFrame:
    """S1 (event_stream_dataset.py:370-413): canonicalize one
    single-event-type source frame; measurements ride along as one
    nested ``metadata: array<struct<...>>`` cell per event (single-row
    here; S4 explode handles the general ragged case)."""
    metadata_cols = metadata_cols or []
    cols = [
        F.col(subject_col).alias("subject_id"),
        F.to_timestamp(F.col(time_col)).alias("timestamp"),
        F.lit(event_type).alias("event_type"),
    ]
    if metadata_cols:
        cols.append(F.array(F.struct(*[F.col(c) for c in metadata_cols])).alias("metadata"))
    return df.select(*cols)


def to_events_and_metadata(
    df: DataFrame,
    event_type: str,
    subject_col: str,
    time_col: str,
    metadata_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """S2 (event_stream_dataset.py:415-474): split one source frame into
    (events, metadata) sharing a generated ``event_id``.

    The id is computed ONCE on the source frame and both outputs are
    projections of it — the join-free analog of the reference's "same
    np.arange twice" (:437-474); recomputing a window per output would
    risk divergent numbering under non-deterministic input order.
    """
    metadata_cols = metadata_cols or []
    base = df.select(
        F.col(subject_col).alias("subject_id"),
        F.to_timestamp(F.col(time_col)).alias("timestamp"),
        *[F.col(c) for c in metadata_cols],
    )
    base = _assign_id(base, "event_id", ["subject_id", "timestamp"], "dense")
    base = base.withColumn("event_type", F.lit(event_type))
    events = _ordered(base.select("event_id", "subject_id", "timestamp", "event_type"), MANDATORY_EVENT_COLS)
    metadata = base.select(
        F.col("event_id").alias("metadata_id"),  # 1:1 here; general case renumbers
        "event_id",
        "event_type",
        "subject_id",
        *metadata_cols,
    )
    return events, _ordered(metadata, MANDATORY_METADATA_COLS)


def backfill_metadata(metadata: DataFrame, events: DataFrame) -> DataFrame:
    """S3 (event_stream_dataset.py:530-548): a metadata frame carrying
    only ``event_id`` + measurements gets ``event_type``/``subject_id``
    backfilled from the events table (inner equi-join on event_id; the
    reference's ``.loc`` gather)."""
    ev = events.select("event_id", "event_type", "subject_id")
    drop = [c for c in ("event_type", "subject_id") if c in metadata.columns]
    return _ordered(metadata.drop(*drop).join(ev, "event_id", "inner"), MANDATORY_METADATA_COLS)


def explode_metadata(
    events: DataFrame,
    nested_col: str = "metadata",
    id_strategy: str = "dense",
) -> tuple[DataFrame, DataFrame]:
    """S4 (event_stream_dataset.py:569-593): explode nested per-event
    measurement arrays into the flat ``joint_metadata`` relation with a
    fresh ``metadata_id``. Events lose the nested column.

    ``posexplode`` pins within-event measurement order so the dense
    metadata_id is reproducible: ordered by (event_id, pos).
    """
    flat_events = events.drop(nested_col)
    exploded = events.select(
        "event_id",
        "event_type",
        "subject_id",
        F.posexplode_outer(F.col(nested_col)).alias("_pos", "_m"),
    ).filter(F.col("_m").isNotNull())
    exploded = exploded.select("event_id", "event_type", "subject_id", "_pos", "_m.*")
    exploded = _assign_id(exploded, "metadata_id", ["event_id", "_pos"], id_strategy).drop("_pos")
    return flat_events, _ordered(exploded, MANDATORY_METADATA_COLS)


def nest_metadata(
    events: DataFrame,
    metadata: DataFrame,
) -> DataFrame:
    """J3 (event_stream_dataset.py:611-624): the denormalized
    ``events_df_with_metadata`` view — metadata rows grouped per event
    into a typed array cell, attached by left join (events without
    measurements keep an empty array).

    Unlike the reference's manually-invalidated cache (:598-631) this is
    a pure derivation; pin it per invocation (``localCheckpoint``) if
    reused.
    """
    meas_cols = [c for c in metadata.columns if c not in MANDATORY_METADATA_COLS]
    packed = (
        metadata.orderBy("metadata_id")
        .groupBy("event_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("metadata_id"), *[F.col(c) for c in meas_cols]))
            ).alias("metadata")
        )
    )
    joined = events.join(packed, "event_id", "left")
    return joined.withColumn(
        "metadata", F.coalesce(F.col("metadata"), F.array().cast(joined.schema["metadata"].dataType))
    )
