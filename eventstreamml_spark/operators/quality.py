"""Data-quality operators for training-data pipelines: profiling and
referential-integrity checks.

A 100 TB ingest needs cheap, always-on answers to "which columns are
rotting" (null-rate drift, cardinality collapse, range excursions) and
"do the relations still line up" (orphaned foreign keys). Both are
expressed as ordinary aggregations so they ride the same scan the
pipeline already pays for.

Scale notes: ``profile_table`` unpivots the candidate columns into
(column, value) cells, counts each distinct cell in one grouped
aggregation and folds those counts into one row per column: one scan,
#cols×rows cells before the first shuffle, the same volume as Spark's
multi-distinct ``Expand`` but without it. ``orphaned_keys`` is one
left-anti join on the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column profile: (col_name, n_rows, n_nonnull, null_rate,
    n_distinct, min_num, max_num).

    ``min_num``/``max_num`` are over ``try_cast(col AS DOUBLE)`` so the
    profile has one uniform schema across column types (non-numeric
    columns profile as null min/max, numeric strings still profile).

    Distinct values are counted as distinct (column, value-as-string)
    cells, not with one ``count_distinct`` per column: several distinct
    aggregates in one ``agg`` make Catalyst add an ``Expand`` whose group
    order follows expression-id hashes, so each build of the same
    profile generated different code and missed the codegen cache.
    """
    columns = columns or df.columns
    types = dict(df.dtypes)

    def key(c: str):
        v = F.col(c)
        if types[c] in ("float", "double"):
            v = v + 0.0  # -0.0 and 0.0 are one value, as in count(DISTINCT)
        return v.cast("string")

    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        key(c).alias("v"),
                        F.col(c).try_cast("double").alias("x"),
                    )
                    for i, c in enumerate(columns)
                ]
            )
        ).alias("_c")
    ).select("_c.*")
    values = cells.groupBy("i", "v").agg(
        F.count(F.lit(1)).alias("_cnt"), F.min("x").alias("_min"), F.max("x").alias("_max")
    )

    def of(i: int, col):
        return F.when(F.col("i") == i, col)

    # a global aggregate: one row even on an empty table
    aggs = [F.coalesce(F.sum(of(0, F.col("_cnt"))), F.lit(0)).alias("_n")]
    for i, c in enumerate(columns):
        aggs += [
            F.coalesce(
                F.sum(of(i, F.when(F.col("v").isNotNull(), F.col("_cnt")))), F.lit(0)
            ).alias(f"{c}__nn"),
            F.count(of(i, F.col("v"))).alias(f"{c}__ndv"),
            F.min(of(i, F.col("_min"))).alias(f"{c}__min"),
            F.max(of(i, F.col("_max"))).alias(f"{c}__max"),
        ]
    wide = values.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("_n").alias("n_rows"),
                F.col(f"{c}__nn").alias("n_nonnull"),
                # try_divide: an empty table has a NULL rate (DuckDB's
                # x/0), where ANSI division would raise
                F.round(
                    F.try_divide(F.col("_n") - F.col(f"{c}__nn"), F.col("_n")), 6
                ).alias("null_rate"),
                F.col(f"{c}__ndv").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_num"),
                F.col(f"{c}__max").alias("max_num"),
            )
            for c in columns
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


def orphaned_keys(
    child: DataFrame,
    parent: DataFrame,
    key: str,
) -> DataFrame:
    """Referential integrity: child rows whose ``key`` has no match in
    ``parent`` (nulls excluded — null FKs are a null-rate concern, not
    an orphan). One left-anti join, broadcast when the parent's key
    column is small."""
    p = parent.select(key).distinct()
    return child.filter(F.col(key).isNotNull()).join(p, key, "left_anti")


def population_stability_index(
    baseline: DataFrame,
    current: DataFrame,
    value_col: str,
    breaks: list[float],
) -> DataFrame:
    """Distribution-drift detection between two slices of a numeric
    column: fixed-break histograms of both sides and the per-bin
    Population Stability Index contribution
    ``(p − q)·ln(p/q)`` (p = current share, q = baseline share,
    floored at 1e-6 so empty bins stay finite). ``sum(psi)`` > 0.2 is
    the conventional "significant drift" alarm between a training
    snapshot and serving traffic.

    ``breaks`` are explicit (take them from a quantile sketch of the
    baseline) so binning is a pure expression: each side is one scan +
    one tiny groupBy on bin id; no join of raw rows — the two
    bin-share relations (|breaks|+1 rows each) join at the end.
    Out-of-range values clamp into the edge bins. Returns one row per
    bin: (bin, lo, hi, q_base, p_curr, psi)."""
    if sorted(breaks) != list(breaks):
        raise ValueError("breaks must be ascending")

    def binned(df: DataFrame, share_name: str) -> DataFrame:
        v = F.col(value_col)
        b = F.lit(len(breaks))
        for i, edge in enumerate(reversed(breaks)):
            b = F.when(v < F.lit(float(edge)), F.lit(len(breaks) - 1 - i)).otherwise(b)
        counts = (
            df.filter(v.isNotNull())
            .select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        total = counts.agg(F.sum("_n").alias("_tot"))
        return counts.crossJoin(F.broadcast(total)).select(
            "bin", (F.col("_n") / F.col("_tot")).alias(share_name)
        )

    edges = [float("-inf")] + [float(x) for x in breaks] + [float("inf")]
    spark = baseline.sparkSession
    bins = spark.createDataFrame(
        [(i, edges[i], edges[i + 1]) for i in range(len(breaks) + 1)],
        "bin int, lo double, hi double",
    )
    q = binned(baseline, "q_base")
    p = binned(current, "p_curr")
    out = (
        bins.join(q, "bin", "left")
        .join(p, "bin", "left")
        .select(
            "bin",
            "lo",
            "hi",
            F.coalesce("q_base", F.lit(0.0)).alias("q_base"),
            F.coalesce("p_curr", F.lit(0.0)).alias("p_curr"),
        )
    )
    pe = F.greatest(F.col("p_curr"), F.lit(1e-6))
    qe = F.greatest(F.col("q_base"), F.lit(1e-6))
    return out.withColumn("psi", (pe - qe) * F.log(pe / qe))


def order_violations(
    df: DataFrame,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    id_col: str = "event_id",
) -> DataFrame:
    """Sequence-order QA: per subject, how many events arrived with an
    id ordered differently than their event time — the "was this feed
    ingested in order" check run before trusting any id-as-tiebreaker
    convention. An id inversion is a row whose ``id_col`` is smaller
    than some earlier-timestamped row's id (detected via a running max
    over the time order — one keyed window, one shuffle).

    Returns (subject, n_events, n_inversions, ordered) — ordered ⟺
    zero inversions."""
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy(subject_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = df.select(
        subject_col,
        (F.col(id_col) < F.max(id_col).over(w)).alias("_inv"),
    )
    return flagged.groupBy(subject_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("_inv"), 1).otherwise(0)).alias("n_inversions"),
        (F.sum(F.when(F.col("_inv"), 1).otherwise(0)) == 0).alias("ordered"),
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_identifiers: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit before a data release: group by the
    quasi-identifier tuple, count, and flag equivalence classes
    smaller than ``k`` — every flagged row is a re-identification
    risk the release must generalize or suppress. One keyed groupBy
    (map-side combined); the QI-class relation is what generalization
    loops iterate on, never the raw rows.

    Returns (quasi-identifiers..., class_size, at_risk)."""
    return (
        df.groupBy(*quasi_identifiers)
        .agg(F.count(F.lit(1)).alias("class_size"))
        .withColumn("at_risk", F.col("class_size") < k)
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """ε-differentially-private counts via the Laplace mechanism with
    SEEDED noise: u ~ Uniform(0,1) derived from md5(group key ‖ seed)
    (engine-portable integer arithmetic), noise = −(1/ε)·sign(u−½)·
    ln(1−2|u−½|) — the inverse-CDF draw. Deterministic given (key,
    seed), so runs are reproducible and the whole mechanism is
    replayable by the oracle; rotate the seed per release in
    production (a fixed seed across releases leaks the noise).

    Count sensitivity is 1, so scale b = 1/ε. One keyed groupBy; the
    noise is a pure expression over the group key."""
    key = F.concat_ws("␟", *[F.col(c).cast("string") for c in group_cols])
    u = (
        F.conv(F.substring(F.md5(F.concat_ws("#", key, F.lit(str(seed)))), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(16**8))
    )
    centered = u - F.lit(0.5)
    noise = (
        -(1.0 / epsilon)
        * F.signum(centered)
        * F.log(1.0 - 2.0 * F.abs(centered))
    )
    return (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("true_count"))
        .select(
            *group_cols,
            "true_count",
            F.round(F.col("true_count") + noise, 6).alias("noisy_count"),
        )
    )


def table_diff(
    before: DataFrame,
    after: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Snapshot reconciliation: full-outer join of two table versions
    on the key, comparing an md5 digest of all non-key columns —
    emits one row per differing key with status ``added`` /
    ``removed`` / ``changed`` (unchanged rows drop out). The
    CDC-validation / migration-check primitive.

    Digests are computed BEFORE the join, so the shuffle carries
    (key, 32-byte digest), never the payload; at 100 TB the join is
    the only exchange and both inputs are digest-skinny."""
    def digested(df: DataFrame, name: str) -> DataFrame:
        payload = [c for c in df.columns if c not in key_cols]
        # concat_ws SKIPS nulls, so ("a", null) and (null, "a") would
        # collide — null-sentinel every column first
        cols = [
            F.coalesce(F.col(c).cast("string"), F.lit("\u2400")) for c in payload
        ]
        return df.select(*key_cols, F.md5(F.concat_ws("␟", *cols)).alias(name))

    b = digested(before, "_hb")
    a = digested(after, "_ha")
    j = b.join(a, key_cols, "full_outer")
    status = (
        F.when(F.col("_hb").isNull(), "added")
        .when(F.col("_ha").isNull(), "removed")
        .when(F.col("_hb") != F.col("_ha"), "changed")
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*key_cols, "status")
    )


def cusum_changepoint(
    df: DataFrame,
    value_col: str = "value",
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-subject CUSUM change-point score: standardize the subject's
    values (sample std), take the running cumulative sum of deviations
    S_i = Σ_{j≤i}(x_j − x̄)/s, and report the maximum |S_i| with the
    earliest timestamp achieving it — the classic level-shift detector
    (a subject whose mean drifts mid-sequence scores high; a stable
    one stays near 0). Returns (subject, n_obs, cusum_max, ts_at_max).

    One shuffle on the subject key serves the per-partition moment
    window, the ordered cumsum window, and the final groupBy — the
    partitioning is reused across all three. Subjects with zero
    variance (or a single point) score 0 at their first timestamp.
    """
    w_all = W.partitionBy(subject_col)
    w_ord = (
        W.partitionBy(subject_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    x = F.col(value_col)
    scored = (
        df.filter(x.isNotNull())
        .withColumn("_mu", F.avg(x).over(w_all))
        .withColumn("_sd", F.stddev_samp(x).over(w_all))
        .withColumn(
            "_s",
            F.when(
                F.col("_sd") > 0,
                F.sum(x - F.col("_mu")).over(w_ord) / F.col("_sd"),
            ).otherwise(0.0),
        )
        .withColumn("_abs", F.abs(F.col("_s")))
        .withColumn("_mx", F.max(F.abs(F.col("_s"))).over(w_all))
    )
    return (
        scored.groupBy(subject_col)
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(F.max("_abs"), 6).alias("cusum_max"),
            F.min(F.when(F.col("_abs") == F.col("_mx"), F.col(ts_col))).alias(
                "ts_at_max"
            ),
        )
    )


def seasonal_hourweek_anomaly(events: DataFrame) -> DataFrame:
    """Seasonal-profile anomaly detection: per (type, hour-of-week)
    slot, compare the LAST week's event count against the mean/std of
    all prior weeks in the same slot — the weekly-seasonality z-score
    that separates "quiet Sunday 3am" from "the pipeline stopped".
    Complements the CUSUM detector (level shifts in values) with a
    rate detector that respects periodicity.

    Portability/scale: hour-of-week and week index are pure integer
    arithmetic on epoch seconds (no locale-dependent dow functions, so
    the oracle replays bit-exactly); the whole computation is two
    map-side-combined groupBys — (type, week, slot) counts, then slot
    baselines — with the global last-week index riding as a broadcast
    one-row aggregate. Output is |types|×168-bounded.

    Emits (type, hour_of_week, n_weeks, mean_c, std_c, last_c, z); z
    is NULL when the slot lacks ≥2 prior weeks or has zero variance.
    """
    epoch = F.unix_timestamp(F.col("ts"))
    slot = ((epoch / 3600).cast("long") % 168).alias("hour_of_week")
    week = (epoch / (168 * 3600)).cast("long").alias("_wk")
    counts = events.select(F.col("event_type"), slot, week).groupBy(
        "event_type", "hour_of_week", "_wk"
    ).agg(F.count(F.lit(1)).alias("_c"))
    # Zero-fill: a week with NO events in a slot is a 0 observation —
    # the exact signal an anomaly detector must not silently drop from
    # its baseline. The scaffold is (types×168)×weeks — vocabulary-
    # bounded, broadcastable, never corpus-sized.
    wk_dim = counts.agg(
        F.min("_wk").alias("_w0"), F.max("_wk").alias("_w1")
    ).select(F.explode(F.sequence("_w0", "_w1")).alias("_wk"))
    slot_dim = counts.select("event_type", "hour_of_week").distinct()
    wc = (
        slot_dim.crossJoin(F.broadcast(wk_dim))
        .join(counts, ["event_type", "hour_of_week", "_wk"], "left")
        .withColumn("_c", F.coalesce(F.col("_c"), F.lit(0)))
    )
    last_wk = wc.agg(F.max("_wk").alias("_last"))
    wc = wc.crossJoin(F.broadcast(last_wk))
    base = wc.groupBy("event_type", "hour_of_week").agg(
        F.sum(F.when(F.col("_wk") < F.col("_last"), 1).otherwise(0))
        .cast("long")
        .alias("n_weeks"),
        F.avg(F.when(F.col("_wk") < F.col("_last"), F.col("_c"))).alias("_mean"),
        F.stddev_samp(
            F.when(F.col("_wk") < F.col("_last"), F.col("_c"))
        ).alias("_std"),
        F.sum(F.when(F.col("_wk") == F.col("_last"), F.col("_c")))
        .cast("long")
        .alias("last_c"),
    )
    z = F.when(
        (F.col("n_weeks") >= 2) & (F.col("_std") > 0),
        (F.coalesce(F.col("last_c"), F.lit(0)) - F.col("_mean")) / F.col("_std"),
    )
    return base.select(
        "event_type",
        "hour_of_week",
        "n_weeks",
        F.round("_mean", 6).alias("mean_c"),
        F.round("_std", 6).alias("std_c"),
        "last_c",
        F.round(z, 6).alias("z"),
    )


def cascade_delete_audit(
    tables: list[tuple[str, DataFrame, str]],
    subjects: DataFrame,
) -> DataFrame:
    """Right-to-erasure cascade audit: given a deletion list of
    subjects and the tables referencing them, report per table how many
    rows the cascade removes and retains — the verification artifact a
    GDPR/CCPA deletion pipeline must produce BEFORE the destructive
    rewrite.

    The deletion list broadcasts (it is human-scale by construction);
    each table pays one scan with a conditional count — no anti-join
    materialization, no rewrite. The retained relations themselves are
    one ``left_anti`` join away using the same broadcast, so audit and
    execution share a plan shape."""
    outs = []
    keys = F.broadcast(
        subjects.select(F.col("subject_id").alias("_k")).distinct()
    )
    for name, df, key_col in tables:
        joined = df.join(
            keys, df[key_col] == F.col("_k"), "left"
        )
        outs.append(
            joined.agg(
                F.lit(name).alias("table_name"),
                F.count(F.lit(1)).cast("long").alias("n_before"),
                F.sum(F.col("_k").isNotNull().cast("long"))
                .cast("long")
                .alias("n_deleted"),
                F.sum(F.col("_k").isNull().cast("long"))
                .cast("long")
                .alias("n_after"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def l_diversity_audit(
    df: DataFrame,
    quasi_identifiers: list[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit (the k-anonymity companion): per
    quasi-identifier equivalence class, the number of DISTINCT
    sensitive values and the entropy of their distribution — a class
    can be k-anonymous yet leak the sensitive attribute outright when
    every member shares one value. Flags classes with < ``l`` distinct
    sensitive values (distinct l-diversity) and reports the entropy
    (nats) for the entropy-l-diversity variant.

    One groupBy to the (QI, sensitive) relation, one rollup to the QI
    class — both map-side combined; entropy computes on the grouped
    relation, never the rows. Returns (quasi-identifiers...,
    class_size, l_distinct, sensitive_entropy, at_risk)."""
    cell = df.groupBy(
        *quasi_identifiers, F.col(sensitive_col).alias("_s")
    ).agg(F.count(F.lit(1)).cast("double").alias("_c"))
    p = F.col("_c") / F.sum("_c").over(W.partitionBy(*quasi_identifiers))
    cells = cell.select(*quasi_identifiers, "_c", (-p * F.log(p)).alias("_h"))
    return (
        cells.groupBy(*quasi_identifiers)
        .agg(
            F.sum("_c").cast("long").alias("class_size"),
            F.count(F.lit(1)).cast("long").alias("l_distinct"),
            F.round(F.sum("_h"), 6).alias("sensitive_entropy"),
        )
        .withColumn("at_risk", F.col("l_distinct") < l)
    )


def freshness_lag(
    df: DataFrame,
    ts_col: str,
    by: str,
    stale_after_sec: int = 3600,
) -> DataFrame:
    """Per-partition data-freshness audit: each group's high watermark
    vs the table's global high watermark, lag in whole seconds, and a
    staleness flag — the first dashboard any multi-source ingest needs
    (one dead upstream shows up as a growing lag, not a hard failure).

    One map-side-combined groupBy to |groups| watermarks; the global
    watermark is a SinglePartition window over THAT relation (|groups|
    rows — a scalar-aggregate branch would make Spark re-scan the raw
    table for the broadcast side, since subplans aren't shared without
    caching), so the raw table is scanned exactly once."""
    per = df.groupBy(by).agg(
        F.max(F.col(ts_col).cast("timestamp")).alias("max_ts"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    gmax = F.max("max_ts").over(W.partitionBy())
    lag = F.unix_micros(gmax) - F.unix_micros(F.col("max_ts"))
    return per.select(
        by,
        "n",
        F.col("max_ts").cast("timestamp_ntz").alias("max_ts"),
        F.floor(lag / 1_000_000).cast("long").alias("lag_sec"),
        (lag > stale_after_sec * 1_000_000).alias("stale"),
    )
