"""Structured Streaming operators — SURVEY §2.8.

The reference is batch-only; "event stream" names the data shape, not
incremental execution. These are *new* engine capabilities (declared as
such, not ports), mapping the reference's per-subject sequence
semantics onto Spark Structured Streaming:

- ``canonicalize_stream``: S1 ingestion projection on a streaming
  DataFrame (``readStream`` → same select as batch ``to_events``);
- ``windowed_event_type_counts``: A2 histogram as a watermarked
  tumbling-window aggregation (late data beyond the watermark dropped);
- ``stream_inter_event_times``: W2 inter-event time as a stateful
  per-subject operator (``applyInPandasWithState``) — state is the
  subject's last-seen event time, carried across micro-batches.

Scale notes: state is keyed by subject_id (huge key space — state
store shards across executors; use RocksDB state store in production).
Within a micro-batch events are sorted per subject before the state
update, so intra-batch order is correct; cross-batch disorder must be
bounded by an upstream watermark, the same contract as any
event-time-stateful Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)


def canonicalize_stream(
    df: DataFrame,
    event_type: str,
    subject_col: str,
    time_col: str,
) -> DataFrame:
    """S1 on a stream: rename to canonical columns and add the literal
    event_type — identical projection to the batch builder, applied to
    a ``readStream`` frame."""
    return df.select(
        F.col(subject_col).alias("subject_id"),
        F.to_timestamp(F.col(time_col)).alias("timestamp"),
        F.lit(event_type).alias("event_type"),
    )


def windowed_event_type_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
    ts_col: str = "timestamp",
    type_col: str = "event_type",
) -> DataFrame:
    """A2 as an incremental watermarked aggregation: per (tumbling
    window, event_type) counts; rows finalize once the watermark passes
    the window end."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("window"), F.col(type_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            type_col,
            "n_events",
        )
    )


def stream_exact_dedup(
    events: DataFrame,
    keys: list[str],
    watermark_delay: str = "10 minutes",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Exact dedup on an unbounded stream: emit the first row seen per
    ``keys`` tuple, suppress later duplicates arriving within the
    watermark horizon (``dropDuplicatesWithinWatermark`` — dedup state
    expires once the watermark passes, so state is bounded by the
    duplicate-arrival window, not the stream length). The streaming
    analog of the batch digest-groupBy exact dedup.

    Scale: state is hash-partitioned by key across executors; the
    watermark bounds per-key state lifetime, which is what makes exact
    dedup feasible on an unbounded 100 TB/day feed.
    """
    return events.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(keys)


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Gap-based sessionization as a native ``session_window``
    aggregation: consecutive events of a subject merge into one session
    while each arrives strictly within ``gap`` of the previous; the
    session closes ``gap`` after its last event (window end = last
    event time + gap, Spark's session-window convention).

    Emits (subject_id, session_start, session_end, n_events). Session
    state merges incrementally across micro-batches; the watermark
    finalizes sessions and bounds state.
    """
    return (
        events.withWatermark("timestamp", watermark_delay)
        .groupBy(F.col("subject_id"), F.session_window(F.col("timestamp"), gap).alias("_w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "subject_id",
            F.col("_w.start").alias("session_start"),
            F.col("_w.end").alias("session_end"),
            "n_events",
        )
    )


_TTE_OUTPUT = StructType(
    [
        StructField("subject_id", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("tte", DoubleType()),
    ]
)
_TTE_OUTPUT_US = StructType(
    [
        StructField("subject_id", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("tte", LongType()),
    ]
)
# state: the subject's last event time in epoch micros
_TTE_STATE = StructType([StructField("last_ts_us", LongType())])


def stream_inter_event_times(
    events: DataFrame,
    unit_seconds: float | None = 60.0,
) -> DataFrame:
    """W2 incrementally: per-subject Δt in ``unit_seconds`` units, null
    for each subject's first-ever event. The batch analog is
    ``with_inter_event_time``; here the "previous timestamp" lives in
    keyed state instead of a ``lag`` window, so one pass over an
    unbounded stream yields the same column the reference computes with
    ``groupby.diff()`` (event_stream_dataset.py:873-876).

    ``unit_seconds=None`` emits the exact integer microsecond delta as
    a nullable bigint — exact-hashable across engines.

    Per-group body on raw numpy (the stream_ewma note): ``update``
    fires once per key per micro-batch, so pandas ops inside it are
    per-group overhead; ``np.argsort(kind="quicksort")`` reproduces
    ``sort_values``' permutation exactly and the µs math is the same
    int64 floor division."""
    import numpy as np
    import pandas as pd

    raw_micros = unit_seconds is None

    def update(key, pdfs, state: GroupState):
        last_us = state.get[0] if state.exists else None
        frames = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts = pdf["timestamp"].to_numpy()
            order = np.argsort(ts, kind="quicksort")
            ts = ts[order]
            ts_us = ts.astype("int64") // 1000  # ns since epoch → µs
            delta = np.empty(len(ts_us), dtype="int64")
            delta[1:] = ts_us[1:] - ts_us[:-1]
            first_null = last_us is None
            delta[0] = 0 if first_null else ts_us[0] - last_us
            namask = np.zeros(len(ts_us), dtype=bool)
            namask[0] = first_null
            if raw_micros:
                # exact integer µs, null only for a subject's first-ever row
                tte = pd.arrays.IntegerArray(delta, namask)
            else:
                tte = delta.astype("float64") / (unit_seconds * 1_000_000.0)
                tte[namask] = np.nan
            frames.append(
                pd.DataFrame(
                    {
                        "subject_id": pdf["subject_id"].to_numpy()[order],
                        "timestamp": ts,
                        "tte": tte,
                    }
                )
            )
            last_us = int(ts_us[-1])
        if last_us is not None:
            state.update((last_us,))
        yield from frames

    schema = _TTE_OUTPUT_US if raw_micros else _TTE_OUTPUT
    return events.groupBy("subject_id").applyInPandasWithState(
        update, schema, _TTE_STATE, "append", GroupStateTimeout.NoTimeout
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    keys: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join (J4 on a stream): each micro-batch
    joins against the static dimension, re-planned per batch so the
    dimension may be refreshed between batches. The dimension is
    broadcast — the stream side never shuffles, which is the only
    stream-static join shape that survives an unbounded input; if the
    dimension outgrows broadcast, restructure it as a second stream
    with a stream-stream join + watermarks instead."""
    return events.join(F.broadcast(dim), keys, how)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (ST7): pair each left event with
    right events of the same key whose event time falls in
    ``[left_ts − lookback, left_ts)`` — the attribution shape ("which
    clicks preceded this purchase"), the canonical stream-stream join.

    Both sides carry watermarks and the join condition bounds event
    time on BOTH ends; that pair is what lets Spark expire buffered
    state (right rows older than left watermark − lookback are dropped
    from the state store) — an unbounded-time condition would grow
    state forever. Callers must pass sides with disjoint column names
    apart from ``key`` (rename before calling); the output carries
    every column of both sides.

    ``how="leftOuter"`` additionally emits unmatched left rows with
    null right columns — but only once the watermark has passed the
    row's match window, because "unmatched" is undecidable before
    then. Rows near the end of a bounded run whose window the final
    watermark never clears stay buffered and are NOT emitted — an
    inherent property of watermarked outer joins, so outer results are
    not batch-replayable near the stream tail (inner results are).
    """
    l = left.withWatermark(left_ts, "10 minutes")
    r = right.withWatermark(right_ts, "10 minutes")
    cond = (
        (l[key] == r[key])
        & (r[right_ts] < l[left_ts])
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {lookback}"))
    )
    joined = l.join(r, cond, how)
    # the key arrives from both sides under one name; keep the left one
    return joined.select(*[l[c] for c in left.columns], *[r[c] for c in right.columns if c != key])


def with_ingest_metrics(
    df: DataFrame,
    ts_col: str = "timestamp",
    value_col: str | None = "value",
) -> DataFrame:
    """Attach observed metrics to a (streaming or batch) relation:
    per-micro-batch row count, null-value count, and min/max event
    time, surfaced through ``StreamingQueryProgress.observedMetrics``
    — pipeline observability with ZERO extra passes (metrics ride the
    existing plan as accumulator-style aggregates; no second scan, no
    action).

    This is the production answer to "how late is my data and how
    much am I dropping": alert on ``n_rows == 0`` or a stuck
    ``max_ts`` without ever running a separate monitoring query."""
    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        F.min(ts_col).alias("min_ts"),
        F.max(ts_col).alias("max_ts"),
    ]
    if value_col is not None:
        metrics.append(
            F.sum(F.when(F.col(value_col).isNull(), 1).otherwise(0)).alias("n_null_values")
        )
    return df.observe("ingest_metrics", *metrics)


def incremental_count_mv(
    stream_df: DataFrame,
    mv_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    query_name: str = "count_mv",
):
    """Streaming → serving: maintain a parquet-backed materialized
    view of per-key counts via ``foreachBatch`` incremental upsert —
    the pattern that turns an unbounded stream into a cheap, always-
    current table readers hit directly (no streaming query on the
    read path).

    Each micro-batch aggregates ONLY its own rows (map-side combined,
    batch-sized work), then merges into the MV by key. Writes are
    versioned (``v{batch_id}`` subdir + ``_CURRENT`` pointer, written
    last): readers resolve the pointer and never see a half-written
    version. Batch N always merges into the latest version STRICTLY
    OLDER than N — never its own — so a batch replayed after a crash
    (written but not checkpoint-committed) rebuilds the identical
    ``v{N}`` from the same base instead of double-counting itself;
    versions older than that base are dropped only then, because a
    replay may still need the base.

    Returns the StreamingQuery (caller awaits termination)."""
    import os
    import shutil

    spark = stream_df.sparkSession

    def versions() -> list[int]:
        if not os.path.isdir(mv_path):
            return []
        out = []
        for d in os.listdir(mv_path):
            if d.startswith("v") and d[1:].isdigit():
                out.append(int(d[1:]))
        return sorted(out)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
        bases = [v for v in versions() if v < batch_id]
        base = bases[-1] if bases else None
        if base is not None:
            old = spark.read.parquet(os.path.join(mv_path, f"v{base}"))
            agg = (
                old.unionByName(agg)
                .groupBy(*key_cols)
                .agg(F.sum("n").alias("n"))
            )
        vdir = os.path.join(mv_path, f"v{batch_id}")
        agg.write.mode("overwrite").parquet(vdir)
        with open(os.path.join(mv_path, "_CURRENT"), "w") as fh:
            fh.write(f"v{batch_id}")
        for v in versions():
            if base is not None and v < base:
                shutil.rmtree(os.path.join(mv_path, f"v{v}"), ignore_errors=True)

    os.makedirs(mv_path, exist_ok=True)
    return (
        stream_df.writeStream.foreachBatch(upsert)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_count_mv(spark, mv_path: str) -> DataFrame:
    """Resolve the MV's _CURRENT pointer and read that version."""
    import os

    ptr = os.path.join(mv_path, "_CURRENT")
    with open(ptr) as fh:
        rel = fh.read().strip()
    return spark.read.parquet(os.path.join(mv_path, rel))


_EWMA_OUTPUT = StructType(
    [
        StructField("subject_id", LongType()),
        StructField("n_obs", LongType()),
        StructField("ewma", DoubleType()),
    ]
)
# state: (running smoothed value, observation count)
_EWMA_STATE = StructType(
    [StructField("ewma", DoubleType()), StructField("n_obs", LongType())]
)


def stream_ewma(
    events: DataFrame,
    alpha: float = 0.3,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Per-subject EWMA as a stateful streaming operator: the keyed
    state is the smoothed value itself (s₁=x₁; sₜ=(1−α)s+αx, pandas
    ``ewm(adjust=False)``), updated per micro-batch in event-time
    order and emitted per batch in update mode — the streaming twin
    of the batch ``ewma_by_subject`` array fold, and the template for
    ANY per-sequence recurrence carried across micro-batches (state =
    the recurrence's carry, O(1) per subject regardless of stream
    length).

    Nulls are dropped before folding (``ignore_na``); intra-batch
    rows sort by event time, cross-batch disorder must be bounded
    upstream (same contract as every stateful op here). Over a finite
    source the final row per subject equals the batch fold exactly —
    same doubles, same order.

    The per-group body runs on raw numpy arrays, not pandas ops:
    ``update`` is called once per KEY per micro-batch, so with ~10³-10⁶
    keys per batch each pandas operation inside it (boolean filter
    copy, ``sort_values``, ``astype``, Series iteration) multiplies
    into seconds of pure per-group overhead — the §4.5 amortization
    lesson applied within the function. ``np.argsort(kind="quicksort")``
    is the same algorithm ``sort_values`` uses, so tie permutations
    (and hence the fold order) are byte-identical to the pandas form;
    the scalar fold itself runs the identical IEEE op sequence."""
    import numpy as np
    import pandas as pd

    one_minus = 1.0 - alpha

    def update(key, pdfs, state: GroupState):
        if state.exists:
            s, n = state.get
        else:
            s, n = None, 0
        for pdf in pdfs:
            vals = pdf[value_col].to_numpy(dtype="float64", na_value=np.nan)
            mask = ~np.isnan(vals)
            if not mask.any():
                continue
            order = np.argsort(
                pdf[ts_col].to_numpy()[mask], kind="quicksort"
            )
            for v in vals[mask][order]:
                s = v if s is None else s * one_minus + alpha * v
            n += int(mask.sum())
        if s is not None:
            state.update((float(s), int(n)))
            yield pd.DataFrame(
                {"subject_id": [key[0]], "n_obs": [n], "ewma": [float(s)]}
            )

    return events.groupBy(subject_col).applyInPandasWithState(
        update, _EWMA_OUTPUT, _EWMA_STATE, "update", GroupStateTimeout.NoTimeout
    )


def stream_running_counts_tws(
    events: DataFrame,
    subject_col: str = "subject_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-subject running (count, sum) on the ``transformWithState``
    API (Spark 4's successor to ``applyInPandasWithState``): state is a
    named, typed ValueState with no TTL, so every subject's state is
    kept. Emits one updated (subject, n_events, sum_value) row per key
    per micro-batch.

    Requires ``google.protobuf`` (the transformWithState wire protocol
    dependency, absent from this build environment — the test skips
    without it; raise early here instead of crashing the streaming
    Python runner mid-query)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf (pyspark's "
            "streaming state protocol); install protobuf to use this "
            "operator — applyInPandasWithState ops (stream_ewma, "
            "stream_inter_event_times) cover the same semantics without it"
        ) from exc
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", "n BIGINT, s DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, s = (0, 0.0)
            if self._state.exists():
                n, s = self._state.get()
            for pdf in rows:
                vals = pdf[value_col].dropna()
                n += int(len(pdf))
                s += float(vals.sum())
            self._state.update((n, s))
            yield pd.DataFrame(
                {"subject_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )

        def close(self) -> None:
            pass

    return events.groupBy(subject_col).transformWithStateInPandas(
        RunningCounts(),
        outputStructType="subject_id LONG, n_events BIGINT, sum_value DOUBLE",
        outputMode="Update",
        timeMode="None",
    )


def windowed_quantile_bins(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
    ts_col: str = "timestamp",
    value_col: str = "value",
) -> DataFrame:
    """The streaming half of the engine's log-binned quantile sketch
    (operators/sketches.py quantile_sketch): per (tumbling window, type,
    log-bin) counts as an incremental watermarked aggregation. The
    sketch property is what makes quantiles STREAMABLE at all — bin
    counts merge by addition, so every micro-batch folds into bounded
    per-window state (|bins| counters, never raw values), while an
    exact streaming percentile would need unbounded value retention.
    The quantile read-off is a batch select over the finalized
    histogram (the caller composes it); an availableNow run therefore
    equals the batch sketch bit-for-bit."""
    x = F.col(value_col).cast("double")
    b = F.when(x > 0, F.floor(F.log(x) * 20)).alias("bin")
    return (
        events.withWatermark(ts_col, watermark_delay)
        .filter(x.isNotNull())
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("window"),
            F.col("event_type"),
            b,
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "bin",
            "c",
        )
    )


def windowed_value_bins(
    events: DataFrame,
    ts_col: str = "timestamp",
) -> DataFrame:
    """Fixed-width value binning as an incremental watermarked windowed
    aggregation — the streaming substrate for the PSI drift monitor:
    per (tumbling window, bin) counts with bounded per-window state
    (10 counters). The PSI read-off against a static baseline
    is a batch join over the finalized histogram (the caller composes
    it), so an availableNow run equals the batch computation
    bit-for-bit."""
    x = F.col("value").cast("double")
    b = F.least(
        F.greatest(F.floor(x / 100.0), F.lit(0)), F.lit(9)
    ).cast("int")
    return (
        events.withWatermark(ts_col, "10 minutes")
        .filter(x.isNotNull())
        .groupBy(
            F.window(F.col(ts_col), "1 hour").alias("window"),
            b.alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("window.start").alias("window_start"), "bin", "c")
    )


def rate_alerts(
    counts_sink: DataFrame,
    key_col: str = "event_type",
    window_col: str = "window_start",
    count_col: str = "n_events",
    factor: float = 1.5,
    trailing: int = 3,
) -> DataFrame:
    """Rate-spike alerting over a finalized windowed-count sink: per
    key, each window's count against the average of the ``trailing``
    preceding windows; alert when count > ``factor`` × trailing mean.
    This is the serving half of the monitor — the streaming half is
    the incremental watermarked count (windowed_event_type_counts),
    whose per-window state Structured Streaming already bounds; the
    lag comparison is NOT incremental (it reads completed windows), so
    it runs over the sink relation, which is windows×keys — tiny next
    to the stream. The first ``trailing`` windows of a key have no
    baseline and never alert (trailing_avg NULL)."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(key_col)
        .orderBy(window_col)
        .rowsBetween(-trailing, -1)
    )
    trailing_avg = F.avg(F.col(count_col).cast("double")).over(w)
    full = F.count(F.lit(1)).over(w) >= trailing
    return counts_sink.select(
        window_col,
        key_col,
        count_col,
        F.round(F.when(full, trailing_avg), 6).alias("trailing_avg"),
        F.coalesce(
            F.when(
                full, F.col(count_col) > factor * trailing_avg
            ),
            F.lit(False),
        ).alias("alert"),
    )
