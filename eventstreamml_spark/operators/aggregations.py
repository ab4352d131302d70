"""Grouped aggregation operators — SURVEY §2.4 A1-A16 (relational subset).

All aggregations are expressed with built-in ``pyspark.sql.functions``
(JVM-side, whole-stage-codegen, map-side partial aggregation for free).
Per-key model fitting (A11/A13/A14) lives in ``preprocessing``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def agg_by_time_type(
    df: DataFrame,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    type_col: str = "event_type",
    id_col: str = "event_id",
    id_strategy: str = "auto",
) -> DataFrame:
    """A1: deduplicate events on (subject, timestamp, event_type).

    Reference semantics (event_stream_dataset.py:673-700; golden test
    test_event_stream_dataset.py:497-546): group duplicate events,
    collect the old event ids per group, renumber groups 0..n-1 in
    (subject, ts) sort order.

    Returns ``(event_id, subject_col, ts_col, type_col, old_event_ids
    array<long>, n_merged)``. Use :func:`remap_event_ids` (J7) to point
    a metadata table at the new ids.

    Scale: one shuffle on the full grouping key; the 0..n-1 renumbering
    goes through ``dense_ids`` size-gated (``auto``): exact global
    window below the single-task threshold, the persisted distributed
    numbering above it — no single-partition global-window exchange on
    large inputs.
    """
    from eventstreamml_spark.operators.windows import dense_ids

    grouped = df.groupBy(subject_col, ts_col, type_col).agg(
        F.sort_array(F.collect_set(F.col(id_col))).alias("old_event_ids"),
        F.count(F.lit(1)).alias("n_merged"),
    )
    return dense_ids(grouped, [subject_col, ts_col, type_col], id_col, strategy=id_strategy).select(
        id_col, subject_col, ts_col, type_col, "old_event_ids", "n_merged"
    )


def remap_event_ids(
    metadata: DataFrame,
    dedup: DataFrame,
    id_col: str = "event_id",
) -> DataFrame:
    """J7: point metadata at post-dedup event ids via a join-based remap
    (the reference's dict ``replace`` OOM workaround,
    event_stream_dataset.py:687-699, redesigned as a join)."""
    mapping = dedup.select(
        F.explode("old_event_ids").alias("_old_id"), F.col(id_col).alias("_new_id")
    )
    return (
        metadata.withColumnRenamed(id_col, "_old_id")
        .join(mapping, "_old_id", "left")
        .withColumn(id_col, F.col("_new_id"))
        .drop("_old_id", "_new_id")
    )


def event_type_histogram(df: DataFrame, type_col: str = "event_type") -> DataFrame:
    """A2: event types by descending frequency
    (``Counter.most_common()``, event_stream_dataset.py:658)."""
    return (
        df.groupBy(type_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col(type_col).asc())
    )


def events_per_subject(
    df: DataFrame,
    subjects: DataFrame | None = None,
    subject_col: str = "subject_id",
) -> DataFrame:
    """A3: events per subject; zero-event subjects get 0 when a
    ``subjects`` table is supplied (event_stream_dataset.py:660-666)."""
    counts = df.groupBy(subject_col).agg(F.count(F.lit(1)).alias("n_events"))
    if subjects is None:
        return counts
    return (
        subjects.select(subject_col)
        .distinct()
        .join(counts, subject_col, "left")
        .withColumn("n_events", F.coalesce(F.col("n_events"), F.lit(0)))
    )


def inter_event_time_stats(
    df: DataFrame,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    id_col: str | None = "event_id",
    unit_seconds: float = 60.0,
    by: list[str] | None = None,
) -> DataFrame:
    """A9: stats of log(Δt+1) over per-subject inter-event times.

    Reference (event_stream_dataset.py:873-892, golden at
    test_event_stream_dataset.py:667-707): per-subject ``.diff()`` of
    timestamps, divided into scalar units, ``log(x+1)``, then mean and
    **sample** std (ddof=1 ⇒ ``stddev_samp``). First-event nulls are
    dropped. ``by`` adds grouping columns (empty = global, one row).
    """
    from eventstreamml_spark.operators.windows import with_inter_event_time

    with_tte = with_inter_event_time(
        df, subject_col, ts_col, id_col, unit_seconds=unit_seconds, out_col="_tte"
    ).filter(F.col("_tte").isNotNull())
    log_tte = F.log(F.col("_tte") + F.lit(1.0))
    aggs = [
        F.count(F.lit(1)).alias("n_ttes"),
        F.avg(log_tte).alias("mean_log_tte"),
        F.stddev_samp(log_tte).alias("std_log_tte"),
        F.avg(F.col("_tte")).alias("mean_tte"),
    ]
    if by:
        return with_tte.groupBy(*by).agg(*aggs)
    return with_tte.agg(*aggs)


def running_moments(df: DataFrame, col: str, by: list[str] | None = None) -> DataFrame:
    """A10: (N, ΣX, ΣX²) sufficient statistics — the distributed form of
    the reference's ``DataStats`` running moments
    (variance_impact_outlier_detector.py:8-42). Mean/var/std derive on
    the driver; removal math is O(1) on these three numbers."""
    c = F.col(col)
    aggs = [
        F.count(c).alias("n"),
        F.sum(c).alias("sum_x"),
        F.sum(c * c).alias("sum_x2"),
    ]
    if by:
        return df.groupBy(*by).agg(*aggs)
    return df.agg(*aggs)


def safe_weighted_avg(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    by: list[str] | None = None,
    out_col: str = "weighted_avg",
) -> DataFrame:
    """A15: zero-safe weighted mean — ``sum(x*w)/sum(w)`` guarded to 0
    when total weight is 0 (EventStreamTransformer/utils.py:13-38)."""
    x, w_ = F.col(value_col), F.col(weight_col)
    expr = F.when(F.sum(w_) > 0, F.sum(x * w_) / F.sum(w_)).otherwise(F.lit(0.0))
    if by:
        return df.groupBy(*by).agg(expr.alias(out_col))
    return df.agg(expr.alias(out_col))


def two_level_macro_avg(
    df: DataFrame,
    value_col: str,
    subject_col: str = "subject_id",
    weight_col: str | None = None,
    out_col: str = "macro_avg",
) -> DataFrame:
    """A15/A16: macro average — mean per subject first, then mean over
    subjects (weighted_loss / TTE LL aggregation,
    EventStreamTransformer/utils.py:40-62, model.py:112-142)."""
    x = F.col(value_col)
    if weight_col is not None:
        w_ = F.col(weight_col)
        per_subj = df.groupBy(subject_col).agg(
            F.when(F.sum(w_) > 0, F.sum(x * w_) / F.sum(w_)).otherwise(F.lit(0.0)).alias("_m")
        )
    else:
        per_subj = df.groupBy(subject_col).agg(F.avg(x).alias("_m"))
    return per_subj.agg(F.avg("_m").alias(out_col))


def cohort_retention(
    df: DataFrame,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    period: str = "week",
) -> DataFrame:
    """Cohort retention: subjects grouped by first-activity period
    (their cohort), then for each (cohort, periods-since) offset the
    count and share of cohort members active in that later period —
    the standard product-analytics retention triangle.

    Shape: one groupBy for cohort assignment (min ts per subject), a
    broadcast-joinable (subject → cohort) relation back onto the
    activity rows, one distinct on (cohort, offset, subject), one
    final count groupBy — all keyed shuffles; at 100 TB the cohort
    relation is |subjects| rows of two scalars (skinny) and everything
    else is map-side-combinable counting.

    ``period``: a FIXED-LENGTH unit — week, day, or hour (offsets are
    exact integer divisions; month/year are variable-length and need
    months_between arithmetic instead)."""
    cohorts = df.groupBy(subject_col).agg(
        F.date_trunc(period, F.min(ts_col)).alias("cohort")
    )
    seconds = {"week": 604800, "day": 86400, "hour": 3600}[period]
    active = (
        df.join(cohorts, subject_col)
        .select(
            "cohort",
            (
                (
                    F.unix_timestamp(F.date_trunc(period, F.col(ts_col)).cast("timestamp"))
                    - F.unix_timestamp(F.col("cohort").cast("timestamp"))
                )
                / seconds
            )
            .cast("long")
            .alias("offset"),
            F.col(subject_col),
        )
        .distinct()
    )
    sizes = cohorts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        active.groupBy("cohort", "offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort")
        .select(
            F.col("cohort").cast("timestamp_ntz").alias("cohort"),
            "offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
        )
    )


def transition_matrix(
    df: DataFrame,
    subject_col: str = "subject_id",
    ts_col: str = "timestamp",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition statistics over per-subject event
    sequences: for each (current type → next type) pair, the count and
    the row-normalized probability — the path-analysis / next-event-
    model baseline, and the input to any sequence-sanity diagnostic
    ("do purchases ever follow errors?").

    One keyed window (lead over the subject sequence) + one pair
    groupBy; the per-source normalizing sum rides on a window over the
    (|types|²)-row count relation, so nothing subject-sized shuffles
    twice."""
    w = W.partitionBy(subject_col).orderBy(ts_col, id_col)
    pairs = (
        df.select(
            F.col(type_col).alias("src"),
            F.lead(type_col).over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = W.partitionBy("src")
    return pairs.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Fixed-iteration weighted PageRank over an edge list — node
    centrality for event-transition graphs, link graphs, and entity-
    resolution graphs. pr⁰(v) = 1/N; pr(v) = (1−d)/N + d·(Σ_{u→v}
    pr(u)·w(u,v)/outw(u) + dangling/N), where dangling is the rank
    mass sitting on nodes with no out-edges.

    Distributed shape: each iteration is one contribution groupBy on
    the destination key plus a left join back to the node set; the
    (N, dangling-mass) scalars ride as broadcast one-row aggregates —
    NO driver-side .count()/.collect() anywhere, the whole fit is
    plan-side. Iterations localCheckpoint to keep lineage flat (same
    discipline as the connected-components fixpoint, dedup.py). Rank
    mass is conserved to float precision each iteration.

    (Measured dead end, do not re-try: coalescing the per-iteration
    relations to one partition — the trick that paid 2.5x on the PCA
    iteration — made THIS loop 35% slower at sf0.1, because each
    iteration's localCheckpoint re-materializes through the coalesced
    single task while AQE already right-sizes these tiny shuffles.)
    """
    if weight is None:
        e0 = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"),
                          F.lit(1.0).alias("_w"))
    else:
        e0 = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"),
                          F.col(weight).cast("double").alias("_w"))
    # Materialize the edge list ONCE before the loop: nodes/outw/e/
    # nstats below all reference e0, and every iteration's checkpoint
    # re-expanded the full upstream edge pipeline (for the event-type
    # transition graph: the subject-window scan) at each of ~5
    # references per iteration — ~15 redundant upstream executions over
    # a 3-iteration run, measured as the dominant cost at sf0.1. The
    # edge relation is the graph itself (small by the operator's
    # contract); per-invocation eager materialization, never reused
    # across calls.
    e0 = e0.localCheckpoint()
    nodes = (
        e0.select(F.col("_s").alias("node"))
        .union(e0.select(F.col("_d").alias("node")))
        .distinct()
    )
    # Zero/negative-weight edges carry no rank mass; keeping their
    # source in outw would exclude it from the dangling set while its
    # contributions are 0/0 → null, silently dropping rank mass. Drop
    # them from the propagation relations (nodes keeps the endpoints),
    # so an all-zero-out-weight source is dangling and mass conserves.
    e_pos = e0.filter(F.col("_w") > 0)
    outw = e_pos.groupBy("_s").agg(F.sum("_w").alias("_ow"))
    e = e_pos.join(outw, "_s").select(
        "_s", "_d", (F.col("_w") / F.col("_ow")).alias("_p")
    )
    nstats = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    ranks = nodes.crossJoin(F.broadcast(nstats)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("pr")
    )
    has_out = outw.select(F.col("_s").alias("node"))
    for _ in range(n_iter):
        dangling = (
            ranks.join(has_out, "node", "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dm"))
        )
        contrib = (
            e.join(ranks.withColumnRenamed("node", "_s"), "_s")
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum(F.col("pr") * F.col("_p")).alias("_c"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(nstats))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("_n")
                    + damping
                    * (F.coalesce(F.col("_c"), F.lit(0.0)) + F.col("_dm") / F.col("_n"))
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    return ranks


def merge_moments(
    base: DataFrame,
    delta: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Incremental aggregate maintenance: merge two per-key moment
    relations (``n``, ``s1`` = Σx, ``s2`` = Σx²) into one, deriving
    mean and sample std from the merged power sums — the algebraic-
    aggregate pattern that lets a 100 TB nightly table absorb a delta
    batch WITHOUT rescanning the base: moments are associative, so
    state(old) ⊕ moments(delta) ≡ recompute(old ∪ delta).

    Full outer join on the keys (either side may introduce new keys),
    null-safe addition, derived stats guarded for n ≤ 1. The merged
    relation is the same shape as its inputs, so merging chains
    (base ⊕ day1 ⊕ day2 …) without ever widening.
    """
    b = base.select(
        *keys,
        F.col("n").alias("_bn"),
        F.col("s1").alias("_bs1"),
        F.col("s2").alias("_bs2"),
    )
    d = delta.select(
        *keys,
        F.col("n").alias("_dn"),
        F.col("s1").alias("_ds1"),
        F.col("s2").alias("_ds2"),
    )
    z = F.lit(0)
    merged = b.join(d, keys, "full_outer").select(
        *keys,
        (F.coalesce("_bn", z) + F.coalesce("_dn", z)).alias("n"),
        (F.coalesce("_bs1", F.lit(0.0)) + F.coalesce("_ds1", F.lit(0.0))).alias("s1"),
        (F.coalesce("_bs2", F.lit(0.0)) + F.coalesce("_ds2", F.lit(0.0))).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var_samp = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    return merged.select(
        *keys,
        "n",
        "s1",
        "s2",
        F.when(F.col("n") > 0, mean).alias("mean"),
        F.when(F.col("n") > 1, F.sqrt(F.greatest(var_samp, F.lit(0.0)))).alias(
            "std"
        ),
    )


def moments_of(
    df: DataFrame, value_col: str, keys: list[str]
) -> DataFrame:
    """Per-key power sums (n, Σx, Σx²) over non-null values — the
    mergeable state produced once per ingest batch and consumed by
    :func:`merge_moments`. One map-side-combined groupBy."""
    x = F.col(value_col)
    return df.filter(x.isNotNull()).groupBy(*keys).agg(
        F.count(x).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
    )


def type_cooccurrence_lift(
    events: DataFrame,
    subject_col: str = "user_id",
    type_col: str = "event_type",
    min_subjects: int = 5,
) -> DataFrame:
    """Market-basket lift over per-subject event-type sets:
    lift(a,b) = P(a,b)/(P(a)·P(b)) with probabilities over subjects —
    the association measure behind "users who error also churn"
    co-behavior mining and feature-pair pruning.

    Scale shape: the corpus first collapses to the DISTINCT
    (subject, type) relation (one shuffle, output ≤ subjects×|types|);
    pairs come from a self-equi-join on the subject key with a,b
    ordered (never all-pairs across subjects — each subject contributes
    at most |types|² rows, and |types| is vocabulary-bounded); the
    per-type marginals are a |types|-row broadcast. min_subjects
    thresholds membership so output is not float-rank sensitive.
    """
    st = events.select(subject_col, type_col).distinct()
    n_subj = st.agg(
        F.count_distinct(F.col(subject_col)).cast("double").alias("_ns")
    )
    marg = st.groupBy(type_col).agg(F.count(F.lit(1)).alias("_n"))
    a = st.select(F.col(subject_col).alias("_s"), F.col(type_col).alias("type_a"))
    b = st.select(F.col(subject_col).alias("_s"), F.col(type_col).alias("type_b"))
    pairs = (
        a.join(b, "_s")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= min_subjects)
    )
    ma = marg.select(F.col(type_col).alias("type_a"), F.col("_n").alias("_na"))
    mb = marg.select(F.col(type_col).alias("type_b"), F.col("_n").alias("_nb"))
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(n_subj))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both") * F.col("_ns") / (F.col("_na") * F.col("_nb")), 6
            ).alias("lift"),
        )
    )


def time_decay_features(
    events: DataFrame,
    half_life_hours: float = 24.0,
    subject_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Exponential time-decay features per subject — the feature-store
    recency encoding: each event contributes 2^(−Δt/half_life) toward a
    decayed event count and a decayed value sum, with Δt measured from
    the corpus max timestamp ("now"). A subject's burst last hour and a
    subject's identical burst last month land orders of magnitude
    apart, which plain counts can't express.

    One scalar aggregate (the reference instant) broadcasts into a pure
    projection; one map-side-combined groupBy does the rest — the decay
    weights never materialize per row beyond the projection."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    now = events.agg(F.max(us).alias("_now"))
    hl_us = half_life_hours * 3_600_000_000.0
    w = F.pow(F.lit(2.0), -(F.col("_now") - us) / F.lit(hl_us))
    x = F.col(value_col).cast("double")
    return (
        events.crossJoin(F.broadcast(now))
        .select(F.col(subject_col), w.alias("_w"), (w * x).alias("_wx"))
        .groupBy(subject_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("_w"), 6).alias("decayed_count"),
            F.round(F.sum("_wx"), 6).alias("decayed_value_sum"),
        )
    )


def hashed_feature_cross(
    df: DataFrame,
    cols: list[str],
    n_buckets: int = 1024,
) -> DataFrame:
    """Hashed feature cross (the wide-model / hashing-trick primitive):
    the categorical tuple ``cols`` concatenates to one cross feature
    and hashes into ``n_buckets`` md5 buckets, with a collision audit —
    per bucket, the count and how many DISTINCT raw crosses landed
    there (a bucket with n_crosses > 1 is a hash collision the model
    will conflate; the audit sizes n_buckets before training, which at
    100 TB beats discovering collisions from a loss curve).

    One groupBy to the |distinct crosses| relation, one rollup to
    |buckets| — both map-side combined, hash computed once per distinct
    cross, never per row. The md5-substring bucket is the engine's
    portable convention, replayable by any engine with md5. Columns are
    null-sentineled (␀) before the concat — concat_ws silently SKIPS
    nulls, which would conflate ('a', NULL) with (NULL, 'a') and with a
    bare 'a', corrupting the collision audit (same guard as
    quality.table_diff)."""
    cross = F.concat_ws(
        "␟",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("␀"))
            for c in cols
        ],
    )
    per_cross = df.groupBy(cross.alias("cross_key")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("cross_key")), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    )
    return (
        per_cross.groupBy(bucket.alias("bucket"))
        .agg(
            F.sum("_n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_crosses"),
            F.min("cross_key").alias("example_cross"),
        )
        .withColumn("collided", F.col("n_crosses") > 1)
    )


def revenue_concentration(
    df: DataFrame,
    key_col: str,
    value_col: str,
    top_frac: float = 0.2,
) -> DataFrame:
    """Revenue-concentration (Pareto/80-20) readout: the share of total
    value captured by the top ``top_frac`` of keys, plus the Gini
    coefficient — one row that tells a marketplace/corpus owner how
    head-heavy the distribution is (a corpus where 1% of sources carry
    80% of tokens is a dedup and diversity risk, same math).

    One map-side-combined groupBy folds the raw table to the |keys|
    relation; ranking and the cumulative share run as windows over
    THAT relation. Gini via the rank identity
    G = 2·Σᵢ i·yᵢ / (n·Σy) − (n+1)/n over ascending-sorted y. The
    |keys| relation is the scale ceiling here (fine for customers or
    sources; for billion-key cardinalities switch to the engine's
    quantile sketch and integrate the Lorenz curve on the sketch).

    The report emits the MEAN per-key value, not the raw total: a
    global float total over 100k+ keys carries summation-order noise
    larger than a fine rounding grid (about sqrt(n)*eps*total), while
    the mean divides that noise back below any rounding edge — and
    every other output is a ratio of same-engine sums, immune by
    construction."""
    from pyspark.sql import Window as W

    per = df.groupBy(F.col(key_col).alias("_k")).agg(
        F.sum(F.col(value_col).cast("double")).alias("_v")
    )
    asc = W.orderBy(F.col("_v").asc(), F.col("_k").asc())
    desc = W.orderBy(F.col("_v").desc(), F.col("_k").asc())
    ranked = per.select(
        "_v",
        F.row_number().over(asc).alias("_i"),
        F.row_number().over(desc).alias("_rd"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("_n"),
    )
    flagged = ranked.select(
        "_v",
        "_i",
        "_n",
        (F.col("_rd") <= F.ceil(F.lit(top_frac) * F.col("_n"))).alias("_top"),
    )
    n = F.max("_n")
    total = F.sum("_v")
    return flagged.groupBy().agg(
        n.cast("long").alias("n_keys"),
        F.round(total / n, 4).alias("mean_value"),
        F.round(
            F.sum(F.when(F.col("_top"), F.col("_v"))) / total, 6
        ).alias("top_share"),
        F.round(
            2.0 * F.sum(F.col("_i") * F.col("_v")) / (n * total)
            - (n + 1) / n,
            6,
        ).alias("gini"),
    )
