"""Per-subject sequence (window) operators — SURVEY §2.5 W1-W8.

All operators are pure DataFrame→DataFrame transforms over a canonical
event table ``(subject_id, timestamp, event_type, ...)``; column names
are parameterized because the driver test table uses ``user_id``/``ts``.

Scale notes: every window here partitions by ``subject_id`` only —
subject cardinality is huge (≫ #executors) in real deployments, so the
shuffle is well-spread; ordering within a subject is bounded by
per-subject sequence length. No global windows (``Window.orderBy``
without partition) appear in any hot path; the only global ordering is
the deterministic surrogate-id assignment (W5), whose ``dense_ids``
default is size-gated: exact global ``row_number`` below a single-task
byte threshold, a persisted zipWithIndex-style distributed numbering
above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def sort_events(df: DataFrame) -> DataFrame:
    """W1: order events by (subject asc, timestamp asc).

    The reference relies on pandas stable sort for ties
    (event_stream_dataset.py:668-671); a distributed engine has no
    input-order notion, so we pin ``event_id`` as the explicit final
    tiebreaker for determinism.
    """
    return df.orderBy(
        F.col("subject_id").asc(), F.col("timestamp").asc(), F.col("event_id").asc()
    )


def subject_window(
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    id_col: str | None = "event_id",
):
    order = [F.col(ts_col).asc()]
    if id_col is not None:
        order.append(F.col(id_col).asc())
    return W.partitionBy(subject_col).orderBy(*order)


def with_inter_event_time(
    df: DataFrame,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    id_col: str | None = "event_id",
    out_col: str = "tte",
) -> DataFrame:
    """W2: inter-event time per subject, in minutes.

    Null for each subject's first event (pandas ``.diff()`` semantics,
    event_stream_dataset.py:873-876). Timedelta is converted to a
    scalar (minutes) by division, never an interval type.
    """
    w = subject_window(subject_col, ts_col, id_col)
    prev = F.lag(F.col(ts_col)).over(w)
    delta_us = F.unix_micros(F.col(ts_col).cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp")
    )
    return df.withColumn(out_col, delta_us / F.lit(60.0 * 1_000_000.0))


def with_time_since_start(
    df: DataFrame,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    unit_seconds: float | None = 60.0,
    out_col: str = "time_since_start",
) -> DataFrame:
    """W3: timestamp - min(timestamp) per subject, scalar units
    (event_stream_pytorch_dataset.py:296,309-310).

    ``unit_seconds=None`` emits the exact integer microsecond delta
    (bigint) — the canonical hashable representation; division into
    float units is presentation, not semantics.
    """
    w = W.partitionBy(subject_col)
    start = F.min(F.col(ts_col)).over(w)
    delta_us = F.unix_micros(F.col(ts_col).cast("timestamp")) - F.unix_micros(
        start.cast("timestamp")
    )
    if unit_seconds is None:
        return df.withColumn(out_col, delta_us.cast("long"))
    return df.withColumn(out_col, delta_us / F.lit(unit_seconds * 1_000_000.0))


#: ``strategy="auto"`` flips to the distributed numbering path when the
#: optimizer's size estimate for the frame exceeds this many bytes —
#: the bound on what one task should sort/number. 1 GiB ≈ tens of
#: millions of typical event rows, the measured crossover region where
#: the window strategy's single final task stops being the faster plan.
AUTO_DISTRIBUTED_THRESHOLD_BYTES = 1 << 30


def _plan_size_estimate(df: DataFrame) -> int | None:
    """Catalyst's pre-execution ``sizeInBytes`` estimate for ``df`` —
    free (no job). ``None`` when the plan carries no statistics."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # non-SQL plans / internals drift
        return None


def dense_ids(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "event_id",
    strategy: str = "auto",
    auto_threshold_bytes: int | None = None,
) -> DataFrame:
    """Dense 0..n-1 ids over a pinned total order.

    ``strategy="auto"`` (default): size-gate on Catalyst's plan-size
    estimate — ``window`` below ``auto_threshold_bytes`` (default
    :data:`AUTO_DISTRIBUTED_THRESHOLD_BYTES`), ``distributed`` above it
    or when the estimate is unavailable (scale-safe default: the only
    cost of a false positive is an extra shuffle, while a false
    negative is a single-task global sort). Both strategies produce
    identical ids for a total order, so the gate is a pure physical
    choice.

    ``strategy="window"``: global ``row_number`` — exact and
    deterministic. The final numbering stage runs in ONE task, but its
    input is only the (narrow) ordering columns plus already-computed
    rows, and measured at bench scale it beats the distributed variant.
    Appropriate up to tens of millions of rows to number.

    ``strategy="distributed"``: the ``zipWithIndex`` pattern without
    RDDs, for inputs too large to order in one task:
      1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order
         key (parallel cluster sort); ``monotonically_increasing_id``
         encodes ``(partition_id << 33) | local_counter`` in row order,
         so pid/local-rank decode with shifts — no window, no extra
         exchange;
      2. per-partition counts → cumulative offsets (tiny aggregate,
         broadcast back); ``id = offset(pid) + local_rank``.
    CORRECTNESS CONSTRAINT: range boundaries are *sampled per
    evaluation*, and the offsets branch re-reads the sorted frame — so
    the frame is eagerly ``localCheckpoint``-ed here to pin one set of
    boundaries for both branches. Without the pin, the branches can see
    different boundaries and produce colliding ids (observed under
    AQE). Per-invocation by construction: a second call re-sorts and
    re-numbers from its inputs (a plan-keyed ``persist`` here would let
    a repeat invocation in one session silently reuse the first's
    materialized frame — the cross-run-reuse mechanism removed
    everywhere in round 11).

    Both strategies are stable across runs when ``order_cols`` is a
    total order (no duplicate keys).
    """
    order = [F.col(c).asc() for c in order_cols]
    if strategy == "auto":
        limit = (
            AUTO_DISTRIBUTED_THRESHOLD_BYTES
            if auto_threshold_bytes is None
            else auto_threshold_bytes
        )
        est = _plan_size_estimate(df)
        strategy = "window" if est is not None and est <= limit else "distributed"
    if strategy == "window":
        w = W.orderBy(*order)
        return df.withColumn(out_col, (F.row_number().over(w) - 1).cast("long"))
    if strategy != "distributed":
        raise ValueError(f"unknown dense_ids strategy {strategy!r}")

    n = df.sparkSession.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(n, *order)
        .sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
        # eager materialization: pin partition boundaries for both branches
        .localCheckpoint(eager=True)
    )
    d = d.withColumn("_pid", F.shiftright("_mid", 33)).withColumn(
        "_rn", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    )
    offsets = (
        d.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_cnt").over(
                    W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_off")
    )
    return (
        d.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_off", "_mid")
    )


def assign_event_ids(
    df: DataFrame,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """W5/S2: deterministic 0..n-1 surrogate ids over a pinned total order.

    The reference assigns ids by pandas input order
    (event_stream_dataset.py:645-649); Spark pins an explicit order
    (subject, ts, tiebreakers) and numbers via :func:`dense_ids`."""
    order = ["subject_id", "timestamp"] + list(tiebreakers or [])
    return dense_ids(df, order)


def with_normalized_log_tte_cumsum(
    df: DataFrame,
    mean_log_tte: float,
    std_log_tte: float,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    id_col: str | None = "event_id",
) -> DataFrame:
    """W4: ``exp((log(Δt+1) − μ)/σ)`` then per-subject cumulative sum
    with first element 0 (event_stream_pytorch_dataset.py:278-321)."""
    w = subject_window(subject_col, ts_col, id_col).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    norm = F.exp((F.log(F.col("tte") + F.lit(1.0)) - F.lit(mean_log_tte)) / F.lit(std_log_tte))
    step = F.coalesce(norm, F.lit(0.0))  # first event per subject: Δt null → 0
    return df.withColumn("norm_time", F.sum(step).over(w))


def random_fixed_length_subsequence(
    df: DataFrame,
    max_seq_len: int,
    seed: int = 1,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    id_col: str | None = "event_id",
) -> DataFrame:
    """W6: for subjects with > max_seq_len events, take a contiguous
    window at a seeded-random start (event_stream_pytorch_dataset.py:299-304).

    Engine-canonical seeded randomness: ``xxhash64(subject_id, seed)``
    → uniform offset in [0, n-L]. Reproduces the reference's *contract*
    (same seed ⇒ same window; uniform over legal starts), not its exact
    numpy draws (SURVEY §4 determinism note).
    """
    w = subject_window(subject_col, ts_col, id_col)
    cnt_w = W.partitionBy(subject_col)
    df = df.withColumn("_rn", F.row_number().over(w) - F.lit(1)).withColumn(
        "_n", F.count(F.lit(1)).over(cnt_w)
    )
    span = F.greatest(F.col("_n") - F.lit(max_seq_len) + F.lit(1), F.lit(1))
    start = F.pmod(F.xxhash64(F.col(subject_col), F.lit(seed)), span)
    out = df.filter(
        (F.col("_rn") >= start) & (F.col("_rn") < start + F.lit(max_seq_len))
    )
    return out.drop("_rn", "_n")


def with_tte_target(
    df: DataFrame,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    id_col: str | None = "event_id",
    unit_seconds: float | None = 60.0,
    out_col: str = "tte_target",
) -> DataFrame:
    """W8: the next-event time delta as a per-event prediction target —
    ``time.diff()`` shifted onto the EARLIER event with a validity mask
    (mask = both this and the next position are real events; torch-side
    ``event_mask[1:] & event_mask[:-1]``, EventStreamTransformer/
    model.py:115-117). Each subject's last event has a null target and
    a False mask.

    ``unit_seconds=None`` emits the exact integer microsecond delta
    (bigint) instead of float units.
    """
    w = subject_window(subject_col, ts_col, id_col)
    nxt = F.lead(F.col(ts_col)).over(w)
    delta_us = F.unix_micros(nxt.cast("timestamp")) - F.unix_micros(
        F.col(ts_col).cast("timestamp")
    )
    target = (
        delta_us.cast("long")
        if unit_seconds is None
        else delta_us / F.lit(unit_seconds * 1_000_000.0)
    )
    return df.withColumn(out_col, target).withColumn("tte_target_mask", nxt.isNotNull())


def rolling_time_agg(
    df: DataFrame,
    window_seconds: float,
    aggs: dict[str, tuple[str, str]],
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
) -> DataFrame:
    """W9 (declared-new): per-subject rolling time-window aggregation —
    for each event, aggregate over that subject's events inside
    ``[ts − window, ts]`` (inclusive both ends; exact microsecond
    range arithmetic). ``aggs`` maps output column → (function, input
    column), e.g. ``{"n_1h": ("count", "*"), "v_1h": ("sum", "value")}``.

    Plan shape: ONE shuffle on the subject key, then a rangeBetween
    window over integer microseconds — no self-join, no per-row range
    probe; the sliding frame advances incrementally within each
    partition. The batch analog of a sliding-window streaming
    aggregation, and the feature extractor for "activity in the last
    hour" style model inputs.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    win = (
        W.partitionBy(subject_col)
        .orderBy(F.col("_ts_us"))
        .rangeBetween(-int(window_seconds * 1_000_000), 0)
    )
    out = df.withColumn("_ts_us", us)
    for name, (fn, col) in aggs.items():
        expr = F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(F.col(col))
        out = out.withColumn(name, expr.over(win))
    return out.drop("_ts_us")


def resample_ffill(
    df: DataFrame,
    step: str = "1 hour",
) -> DataFrame:
    """Per-subject resampling to a regular time grid with forward
    fill: grid points run from each subject's first observation
    (truncated to the hour) to its last, and each carries the last
    non-null observed value at-or-before that instant — the
    irregular→regular conversion every downstream fixed-Δt model
    consumes.

    Form: the grid (one `sequence`+`explode` off a per-subject min/max
    aggregate) is unioned with the observations and a single keyed
    window `last(value, ignorenulls=True)` carries values forward onto
    grid rows; grid rows are then kept. Two shuffles total (the
    min/max agg and the window) and the carried state never leaves the
    subject partition — no as-of join, no per-grid-point probe. Grid
    density is step-bounded per subject, so row explosion is
    span/step, independent of observation count.

    Output: (subject, grid_ts, value) — value null only before a
    subject's first non-null observation.
    """
    span = df.groupBy("subject_id").agg(
        F.date_trunc("hour", F.min("timestamp")).alias("_lo"),
        F.max("timestamp").alias("_hi"),
    )
    grid = span.select(
        "subject_id",
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr(f"INTERVAL {step}"))
        ).alias("timestamp"),
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("_is_grid"),
    )
    obs = df.select(
        "subject_id",
        "timestamp",
        F.col("value").cast("double").alias("value"),
        F.lit(0).alias("_is_grid"),
    )
    # observations sort before the grid point at the same instant, so
    # an exactly-on-grid observation is included in that grid point;
    # simultaneous observations resolve deterministically to the
    # maximum value (final value tiebreak)
    w = (
        W.partitionBy("subject_id")
        .orderBy("timestamp", "_is_grid", "value")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        obs.unionByName(grid)
        .select(
            "subject_id",
            F.col("timestamp"),
            F.last("value", ignorenulls=True).over(w).alias("value"),
            "_is_grid",
        )
        .filter(F.col("_is_grid") == 1)
        .drop("_is_grid")
    )


def ewma_by_subject(
    df: DataFrame,
    alpha: float = 0.3,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-subject exponentially weighted moving average of
    ``value_col`` over the time-ordered event sequence, returning one
    row per subject with the FINAL smoothed state — the "decayed
    activity level" feature a recency-weighted model reads per entity.

    s₁ = x₁; sₜ = (1−α)·sₜ₋₁ + α·xₜ (pandas ``ewm(adjust=False)``).

    A left-fold is inherently sequential, but only WITHIN a subject:
    the plan is one keyed shuffle (collect_list per subject), an
    ordered array sort, and a codegen'd higher-order ``aggregate``
    fold — no Python, no window-function trick with
    ``pow(1−α, −i)`` terms that overflow on long sequences. Sequence
    length per subject is bounded (the reference's per-subject
    sequences cap at thousands), so the per-row array stays small
    even when the corpus is 100 TB; the fold never crosses rows.
    Nulls in ``value_col`` are dropped before folding (pandas
    ``ignore_na=True`` convention); subjects with no non-null values
    emit null."""
    seq = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(subject_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("_t"),
                        F.col(id_col).alias("_i"),
                        F.col(value_col).cast("double").alias("_v"),
                    )
                )
            ).alias("_seq")
        )
    )
    vals = F.transform(F.col("_seq"), lambda s: s["_v"])
    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.get(vals, 0),
        lambda acc, x: acc * F.lit(1.0 - alpha) + F.lit(alpha) * x,
    )
    return seq.select(
        subject_col,
        F.size(F.col("_seq")).alias("n_obs"),
        folded.alias("ewma"),
    )


def rolling_percentiles(
    df: DataFrame,
    value_col: str,
    percentiles: dict[str, float],
    window_seconds: float,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Per-subject rolling exact interpolated percentiles over an
    event-time range frame: for each event, the percentile of
    ``value_col`` across that subject's events in ``[ts − window,
    ts]`` (inclusive; exact integer-microsecond range arithmetic, so
    timestamp peers share one frame). ``percentiles`` maps output
    column → fraction, e.g. ``{"med_1h": 0.5, "p90_1h": 0.9}``.
    The robust-statistics sibling of rolling_time_agg — rolling
    medians/p90s are the standard robust baseline features and
    anomaly denominators.

    Plan shape: ONE shuffle on the subject key; the rangeBetween
    frame slides incrementally within each partition (no self-join,
    no per-row range probe). ``percentile`` is exact linear
    interpolation — matching quantile_cont — not a sketch; frames are
    per-subject-hour sized, so exactness is cheap even at 100 TB.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    win = (
        W.partitionBy(subject_col)
        .orderBy(F.col("_ts_us"))
        .rangeBetween(-int(window_seconds * 1_000_000), 0)
    )
    out = df.withColumn("_ts_us", us)
    for name, frac in percentiles.items():
        out = out.withColumn(
            name, F.expr(f"percentile({value_col}, {frac!r})").over(win)
        )
    return out.drop("_ts_us")


def rolling_distinct_subjects(
    df: DataFrame,
    subject_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Trailing-N-day distinct active subjects per day (the DAU/WAU
    surface): a sliding COUNT DISTINCT, which no window frame computes
    directly — distinct doesn't decompose over overlapping frames. The
    scalable shape: dedup to the (subject, active-day) relation first
    (one map-side-combined groupBy — the only pass over the raw log),
    then fan each active-day out to the ``window_days`` report days it
    contributes to (bounded ×N explode on the DEDUPED relation, not the
    log) and count per report day. Report days with no activity in
    range simply don't appear (no zero-fill — compose with a calendar
    scaffold if needed). Returns (day, n_active, n_active_today)."""
    day = F.date_trunc("DAY", F.col(ts_col).cast("timestamp"))
    active = df.select(
        F.col(subject_col).alias("_s"), day.alias("_d")
    ).distinct()
    offsets = F.explode(
        F.sequence(F.lit(0), F.lit(window_days - 1))
    ).alias("_o")
    fanned = active.select(
        "_s", "_d", offsets
    ).select(
        "_s",
        "_d",
        F.date_add(F.col("_d").cast("date"), F.col("_o")).alias("_report"),
    )
    per_day = fanned.groupBy(F.col("_report").alias("day")).agg(
        F.count_distinct("_s").cast("long").alias("n_active")
    )
    # count_distinct (not count(*)) so a NULL subject row in the deduped
    # relation is excluded, matching the oracle's count(DISTINCT s)
    today = active.groupBy(F.col("_d").cast("date").alias("day")).agg(
        F.count_distinct("_s").cast("long").alias("n_active_today")
    )
    joined = per_day.join(today, "day", "left")
    # the fan-out projects up to N-1 days past the last active day —
    # clip to the data's horizon (a window over the |days| relation)
    gmax = F.max(F.when(F.col("n_active_today").isNotNull(), F.col("day"))).over(
        W.partitionBy()
    )
    return (
        joined.withColumn("_gmax", gmax)
        .filter(F.col("day") <= F.col("_gmax"))
        .select(
            F.col("day").cast("date").alias("day"),
            "n_active",
            F.coalesce("n_active_today", F.lit(0)).cast("long").alias(
                "n_active_today"
            ),
        )
    )


def peak_concurrency_by_day(intervals: DataFrame) -> DataFrame:
    """Peak concurrency per day over an interval table (sessions,
    connections, jobs): for each day with at least one interval
    boundary, the maximum number of simultaneously-open intervals —
    conc(t) = #{start ≤ t} − #{end < t}, evaluated at boundary points
    (concurrency is piecewise-constant between them; ends at exactly t
    still count as open, the closed-interval convention).

    Distributed shape — NO global ordered window over boundaries (the
    naive sweep line funnels every boundary through one partition):
    boundaries fold to the |distinct timestamp| grid, per-DAY windows
    compute within-day cumulative starts/ends, and cross-day carry-in
    comes from a cumulative window over the |days| relation only (the
    classic two-level prefix-sum decomposition). Emitted days are the
    days owning ≥1 boundary; a fully-covered quiet day holds the carry
    level and is omitted. ``day_index`` is the epoch-day integer
    (µs div 86400e6) — integer arithmetic, engine-portable."""
    day_us = 86_400_000_000
    s_us = F.unix_micros(F.col("session_start").cast("timestamp"))
    e_us = F.unix_micros(F.col("session_end").cast("timestamp"))
    # ONE pass over the interval relation: each interval contributes a
    # (t, start-flag) and a (t, end-flag) boundary row, folded by a
    # single groupBy. The former per-side groupBys + full_outer join
    # referenced ``intervals`` twice — Catalyst re-expands the caller's
    # (often window-heavy) session pipeline per reference, and the join
    # added a second shuffle for a relation this explode produces
    # value-identically (zero-filled counts per distinct timestamp).
    boundaries = intervals.select(
        F.explode(
            F.array(
                F.struct(
                    s_us.alias("_t"),
                    F.lit(1).cast("long").alias("_cs"),
                    F.lit(0).cast("long").alias("_ce"),
                ),
                F.struct(
                    e_us.alias("_t"),
                    F.lit(0).cast("long").alias("_cs"),
                    F.lit(1).cast("long").alias("_ce"),
                ),
            )
        ).alias("_b")
    )
    grid = (
        boundaries.groupBy(F.col("_b._t").alias("_t"))
        .agg(
            F.sum("_b._cs").alias("_cs"),
            F.sum("_b._ce").alias("_ce"),
        )
        .select(
            "_t",
            "_cs",
            "_ce",
            (F.col("_t") - (F.col("_t") % day_us)).alias("_dt"),
        )
    )
    days = grid.groupBy("_dt").agg(
        F.sum("_cs").alias("_ds"), F.sum("_ce").alias("_de")
    )
    wdays = W.orderBy("_dt").rowsBetween(W.unboundedPreceding, -1)
    carry = days.select(
        "_dt",
        F.coalesce(F.sum("_ds").over(wdays), F.lit(0)).alias("_carry_s"),
        F.coalesce(F.sum("_de").over(wdays), F.lit(0)).alias("_carry_e"),
    )
    win = W.partitionBy("_dt").orderBy("_t")
    wcs = F.sum("_cs").over(win.rowsBetween(W.unboundedPreceding, 0))
    wce_strict = F.sum("_ce").over(win.rowsBetween(W.unboundedPreceding, -1))
    conc = grid.join(carry, "_dt").select(
        "_dt",
        (
            F.col("_carry_s")
            + wcs
            - (F.col("_carry_e") + F.coalesce(wce_strict, F.lit(0)))
        ).alias("_conc"),
    )
    return conc.groupBy(
        (F.col("_dt") / F.lit(day_us)).cast("long").alias("day_index")
    ).agg(F.max("_conc").cast("long").alias("peak_concurrency"))


def watermark_lateness(
    df: DataFrame,
    order_col: str = "event_id",
    ts_col: str = "ts",
    by_col: str = "event_type",
    threshold_sec: int = 900,
    bucket_size: int = 10_000,
) -> DataFrame:
    """Batch replay of a streaming watermark audit: in arrival order
    (``order_col`` — the monotone ingest id), the watermark before each
    event is the running max event-time strictly earlier in arrival;
    an event later than the watermark by more than ``threshold_sec``
    would have been DROPPED by a streaming job with that watermark.
    Returns per-``by_col``: event count, late count/ratio, and the
    worst lateness — the number that tells you what watermark delay a
    streaming deployment of this pipeline needs.

    Distributed shape: the arrival sequence is bucketed
    (order div bucket_size), the running max runs within each bounded
    bucket, and cross-bucket carry is a cumulative max over the
    |buckets| relation — the same two-level prefix decomposition as
    :func:`peak_concurrency_by_day`; no global ordered window."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    d = df.select(
        F.col(by_col).alias("_by"),
        F.col(order_col).alias("_o"),
        us.alias("_us"),
        (F.col(order_col) - (F.col(order_col) % bucket_size)).alias("_bk"),
    )
    win = W.partitionBy("_bk").orderBy("_o")
    local = F.max("_us").over(win.rowsBetween(W.unboundedPreceding, -1))
    bmax = d.groupBy("_bk").agg(F.max("_us").alias("_bm"))
    wb = W.orderBy("_bk").rowsBetween(W.unboundedPreceding, -1)
    carry = bmax.select("_bk", F.max("_bm").over(wb).alias("_carry"))
    wm = F.greatest(
        F.coalesce(local, F.col("_carry")), F.coalesce(F.col("_carry"), local)
    )
    lateness = wm - F.col("_us")
    flagged = d.join(F.broadcast(carry), "_bk").select(
        "_by",
        lateness.alias("_late_us"),
        F.coalesce(
            lateness > F.lit(threshold_sec * 1_000_000), F.lit(False)
        ).cast("int").alias("_is_late"),
    )
    return flagged.groupBy(F.col("_by").alias(by_col)).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("_is_late").cast("long").alias("n_late"),
        F.round(F.sum("_is_late") / F.count(F.lit(1)), 6).alias("late_ratio"),
        F.round(F.max("_late_us") / 1_000_000.0, 6).alias("max_lateness_sec"),
    )


def holt_linear_by_key(
    series: DataFrame,
    key_col: str = "key",
    order_col: str = "h",
    y_col: str = "y",
) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per key over an
    ordered series, returning the final level/trend state, the
    one-step-ahead forecast, and the in-sample one-step MAE — the
    trend-aware upgrade of the seasonal-naive baseline.

    l₁ = y₁, b₁ = 0; then lₜ = α·yₜ + (1−α)(lₜ₋₁+bₜ₋₁),
    bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁, with the absolute one-step error
    |yₜ − (lₜ₋₁+bₜ₋₁)| accumulated INSIDE the fold so the error sum
    is a fixed-order sequential reduction — bit-identical across
    engines for identical inputs, never at the mercy of parallel
    summation order.

    Same distributed shape as ewma_by_subject: one keyed shuffle
    (collect_list), a sort, and a codegen'd higher-order ``aggregate``
    fold over the per-key array — series length per key is the time
    span (hours/days), bounded regardless of corpus size. α = β = 0.5
    (dyadic, so intermediate state stays exactly
    representable for long prefixes)."""
    seq = series.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("_o"),
                    F.col(y_col).cast("double").alias("_y"),
                )
            )
        ).alias("_seq")
    )
    vals = F.transform(F.col("_seq"), lambda s: s["_y"])
    a, b = F.lit(0.5), F.lit(0.5)
    init = F.struct(
        F.get(vals, 0).alias("l"),
        F.lit(0.0).alias("b"),
        F.lit(0.0).alias("errsum"),
    )

    def _step(acc, y):
        pred = acc["l"] + acc["b"]
        l_new = a * y + (F.lit(1.0) - a) * pred
        b_new = b * (l_new - acc["l"]) + (F.lit(1.0) - b) * acc["b"]
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            (acc["errsum"] + F.abs(y - pred)).alias("errsum"),
        )

    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        init,
        _step,
    )
    n = F.size(vals)
    return seq.select(
        F.col(key_col),
        n.cast("long").alias("n_points"),
        F.round(folded["l"], 6).alias("level"),
        F.round(folded["b"], 6).alias("trend"),
        F.round(folded["l"] + folded["b"], 6).alias("forecast_next"),
        F.when(
            n > 1, F.round(folded["errsum"] / (n - 1).cast("double"), 6)
        ).alias("one_step_mae"),
    )


def page_hinkley_by_key(
    series: DataFrame,
    key_col: str = "key",
    order_col: str = "h",
    y_col: str = "y",
    lam: float = 50.0,
) -> DataFrame:
    """Page-Hinkley mean-increase drift detector per key over an
    ordered series: m_t = Σ (x_i − x̄_i − δ) with the running mean
    folded in step-by-step, M_t = min m, PH = m_T − M_T, alarm when
    PH > λ — the classic sequential changepoint monitor.

    The whole state (running sum, m, min-m) lives INSIDE one
    sequential array fold, so every intermediate division runs in a
    fixed order — bit-identical across engines for identical inputs
    (the holt_linear_by_key discipline; δ is a dyadic 0.5).
    Shape: one keyed shuffle (collect_list) + a codegen'd aggregate
    fold; series length per key is the time span, bounded regardless
    of corpus size."""
    seq = series.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("_o"),
                    F.col(y_col).cast("double").alias("_y"),
                )
            )
        ).alias("_seq")
    )
    vals = F.transform(F.col("_seq"), lambda s: s["_y"])
    d = F.lit(0.5)
    y1 = F.get(vals, 0)
    m1 = y1 - y1 / F.lit(1.0) - d
    init = F.struct(
        F.lit(1.0).alias("t"),
        y1.alias("s"),
        m1.alias("m"),
        m1.alias("mn"),
    )

    def _step(acc, y):
        t_new = acc["t"] + F.lit(1.0)
        s_new = acc["s"] + y
        m_new = acc["m"] + (y - s_new / t_new - d)
        return F.struct(
            t_new.alias("t"),
            s_new.alias("s"),
            m_new.alias("m"),
            F.least(acc["mn"], m_new).alias("mn"),
        )

    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        init,
        _step,
    )
    ph = folded["m"] - folded["mn"]
    return seq.select(
        F.col(key_col),
        F.size(vals).cast("long").alias("n_points"),
        F.round(folded["m"], 6).alias("m_stat"),
        F.round(folded["mn"], 6).alias("min_m"),
        F.round(ph, 6).alias("ph_stat"),
        (ph > F.lit(float(lam))).cast("int").alias("alarm"),
    )


def croston_by_key(
    series: DataFrame,
    key_col: str = "key",
    order_col: str = "h",
    y_col: str = "y",
) -> DataFrame:
    """Croston's method for intermittent demand per key: separate
    exponential smoothing of the nonzero demand SIZE (z) and the
    INTERVAL between demands (p), forecast rate = z/p — the standard
    forecaster when most periods are zero and plain EWMA collapses
    toward the zeros.

    State (initialized flag, z, p, periods-since-demand, demand
    count) folds sequentially with a dyadic α = 0.5, so both engines
    replay it bit-identically; zero periods only increment the gap
    counter. Same collect_list + aggregate fold shape as
    holt_linear_by_key."""
    seq = series.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("_o"),
                    F.col(y_col).cast("double").alias("_y"),
                )
            )
        ).alias("_seq")
    )
    vals = F.transform(F.col("_seq"), lambda s: s["_y"])
    a = F.lit(0.5)
    init = F.struct(
        F.lit(0.0).alias("ini"),
        F.lit(0.0).alias("z"),
        F.lit(0.0).alias("p"),
        F.lit(0.0).alias("q"),
        F.lit(0.0).alias("nd"),
    )

    def _step(acc, y):
        q_new = acc["q"] + F.lit(1.0)
        first = (acc["ini"] == 0.0) & (y > 0)
        later = (acc["ini"] == 1.0) & (y > 0)
        z_new = (
            F.when(first, y)
            .when(later, a * y + (F.lit(1.0) - a) * acc["z"])
            .otherwise(acc["z"])
        )
        p_new = (
            F.when(first, q_new)
            .when(later, a * q_new + (F.lit(1.0) - a) * acc["p"])
            .otherwise(acc["p"])
        )
        return F.struct(
            F.when(y > 0, F.lit(1.0)).otherwise(acc["ini"]).alias("ini"),
            z_new.alias("z"),
            p_new.alias("p"),
            F.when(y > 0, F.lit(0.0)).otherwise(q_new).alias("q"),
            (acc["nd"] + F.when(y > 0, F.lit(1.0)).otherwise(F.lit(0.0)))
            .alias("nd"),
        )

    folded = F.aggregate(vals, init, _step)
    ok = folded["ini"] == 1.0
    return seq.select(
        F.col(key_col),
        F.size(vals).cast("long").alias("n_periods"),
        folded["nd"].cast("long").alias("n_demands"),
        F.when(ok, F.round(folded["z"], 6)).alias("demand_size"),
        F.when(ok, F.round(folded["p"], 6)).alias("demand_interval"),
        F.when(
            ok & (folded["p"] > 0), F.round(folded["z"] / folded["p"], 6)
        ).alias("forecast_rate"),
    )


def holt_winters_additive_by_key(
    series: DataFrame,
    key_col: str = "key",
    order_col: str = "h",
    y_col: str = "y",
    period: int = 24,
) -> DataFrame:
    """Additive Holt-Winters (triple exponential) smoothing per key:
    level + trend + a ``period``-slot seasonal array, all folded
    sequentially, with the one-step absolute error accumulated inside
    the fold — the seasonal upgrade of :func:`holt_linear_by_key`.

    The 1-based element p smooths against seasonal slot (p−1) mod
    period; l₁=y₁, b₁=0, s=0⃗ (the cold-start convention both engines
    replay). α = β = γ = 0.5 (dyadic); the seasonal array updates
    ONE slot per step via an index-rebuild (Spark indexed transform ≡
    DuckDB list_transform over range), so the whole state — array
    included — is bit-identical across engines. Shape: one keyed
    shuffle + a codegen'd fold; state is O(period) per key."""
    seq = series.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("_o"),
                    F.col(y_col).cast("double").alias("_y"),
                )
            )
        ).alias("_seq")
    )
    vals = F.transform(F.col("_seq"), lambda s: s["_y"])
    a = F.lit(0.5)
    bta = F.lit(0.5)
    g = F.lit(0.5)
    zeros = F.array(*[F.lit(0.0) for _ in range(period)])
    init = F.struct(
        F.lit(1.0).alias("t"),
        F.get(vals, 0).alias("l"),
        F.lit(0.0).alias("b"),
        zeros.alias("s"),
        F.lit(0.0).alias("err"),
    )

    def _step(acc, y):
        idx = F.pmod(acc["t"], F.lit(float(period))).cast("int")
        s_old = F.get(acc["s"], idx)
        pred = acc["l"] + acc["b"] + s_old
        l_new = a * (y - s_old) + (F.lit(1.0) - a) * (acc["l"] + acc["b"])
        b_new = bta * (l_new - acc["l"]) + (F.lit(1.0) - bta) * acc["b"]
        s_new_val = g * (y - l_new) + (F.lit(1.0) - g) * s_old
        s_new = F.transform(
            acc["s"],
            lambda v, i: F.when(i == idx, s_new_val).otherwise(v),
        )
        return F.struct(
            (acc["t"] + F.lit(1.0)).alias("t"),
            l_new.alias("l"),
            b_new.alias("b"),
            s_new.alias("s"),
            (acc["err"] + F.abs(y - pred)).alias("err"),
        )

    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        init,
        _step,
    )
    n = F.size(vals)
    next_idx = F.pmod(folded["t"], F.lit(float(period))).cast("int")
    return seq.select(
        F.col(key_col),
        n.cast("long").alias("n_points"),
        F.round(folded["l"], 6).alias("level"),
        (F.round(folded["b"], 6) + F.lit(0.0)).alias("trend"),
        (F.round(F.get(folded["s"], next_idx), 6) + F.lit(0.0)).alias(
            "seasonal_next"
        ),
        (
            F.round(
                folded["l"] + folded["b"] + F.get(folded["s"], next_idx), 6
            )
            + F.lit(0.0)
        ).alias("forecast_next"),
        F.when(
            n > 1, F.round(folded["err"] / (n - 1).cast("double"), 6)
        ).alias("one_step_mae"),
    )
