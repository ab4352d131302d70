"""Sorts / limits / set ops / splits — SURVEY §2.6 O1-O7.

The interesting operator is O6: the reference's seeded random disjoint
subject split (event_stream_dataset.py:702-740) — a seeded permutation
+ ``np.split`` by rounded fraction sizes. A distributed engine cannot
reproduce numpy's permutation bitwise (SURVEY §4 determinism note);
the engine contract is: deterministic given (subject_id, seed),
disjoint, fractions approached as N grows, same seed ⇒ identical
assignment on any cluster/partitioning. We use a Knuth multiplicative
hash on the subject id — plain integer arithmetic, so the DuckDB
oracle can verify assignments exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

#: 2654435761 = floor(2^32 / φ), Knuth's multiplicative hash constant.
_KNUTH = 2654435761
_MOD = 2**32


def split_uniform(subject_col: str, seed: int) -> F.Column:
    """u ∈ [0,1): deterministic per (subject, seed), pure int arithmetic
    (overflow-free for ids ≪ 2^31 after the initial mod)."""
    h = F.pmod(
        (F.pmod(F.col(subject_col).cast("long"), F.lit(_MOD)) + F.lit(seed)) * F.lit(_KNUTH),
        F.lit(_MOD),
    )
    return h / F.lit(float(_MOD))


def assign_splits(
    subjects: DataFrame,
    fractions: dict[str, float],
    seed: int = 1,
    subject_col: str = "subject_id",
) -> DataFrame:
    """O6: disjoint split assignment table ``(subject_id, split)``.

    ``fractions`` maps split name → fraction; fractions must sum to
    ≤ 1.0 and, mirroring the reference (event_stream_dataset.py:723-728),
    a remainder bucket gets the leftover mass — callers pass e.g.
    ``{"train": .8, "tuning": .1, "held_out": .1}``. Persist the
    output table; all split restrictions are then semi-joins (J8).
    """
    names = list(fractions)
    cuts = []
    acc = 0.0
    for n in names:
        acc += fractions[n]
        cuts.append((n, acc))
    if acc > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {acc} > 1")

    u = split_uniform(subject_col, seed)
    expr = None
    for n, c in cuts:  # ascending cut order — first match wins
        expr = F.when(u < F.lit(c), F.lit(n)) if expr is None else expr.when(u < F.lit(c), F.lit(n))
    expr = expr.otherwise(F.lit(names[-1]) if acc >= 1.0 - 1e-9 else F.lit("held_out"))
    return subjects.select(subject_col).distinct().withColumn("split", expr)


def assign_splits_exact(
    subjects: DataFrame,
    fractions: dict[str, float],
    seed: int = 1,
    subject_col: str = "subject_id",
    id_strategy: str = "auto",
) -> DataFrame:
    """O6, exact-size variant: reproduce the reference's
    ``np.split(permutation, round(fracs × N).cumsum())`` contract
    (event_stream_dataset.py:723-740, round at :736) — split sizes are
    EXACTLY ``round(fraction × N)`` per split (banker's rounding, as
    ``np.round``), remainder mass in the last/implicit bucket.

    The seeded permutation is the ``split_uniform`` hash order (a
    distributed engine cannot reproduce numpy's permutation bitwise —
    module docstring); positions come from the size-gated ``dense_ids``
    numbering, so no single-task global window above the gate. One
    extra tiny job computes N. Use :func:`assign_splits` (pure
    per-row hash, no global numbering at all) as the scale default when
    exact sizes are not contractually required.
    """
    from eventstreamml_spark.operators.windows import dense_ids

    names = list(fractions)
    fracs = [fractions[n] for n in names]
    if sum(fracs) > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {sum(fracs)} > 1")
    if sum(fracs) < 1.0 - 1e-9:
        names.append("held_out" if "held_out" not in names else "_remainder")
        fracs.append(1.0 - sum(fracs))

    subj = subjects.select(subject_col).distinct().withColumn(
        "_u", split_uniform(subject_col, seed)
    )
    pos = dense_ids(subj, ["_u", subject_col], "_pos", strategy=id_strategy).drop("_u")

    n = pos.count()
    # every named split gets EXACTLY round(f_i × N) subjects; like the
    # reference's zip over np.split segments, any tail beyond the last
    # cumulative boundary (possible when the rounds undershoot N) is
    # dropped from the assignment table
    bounds = []
    acc = 0
    for f in fracs:
        acc += round(f * n)  # Python round == np.round (half-even)
        bounds.append(acc)

    expr = F.lit(None).cast("string")
    for name, b in reversed(list(zip(names, bounds))):
        expr = F.when(F.col("_pos") < F.lit(b), F.lit(name)).otherwise(expr)
    return (
        pos.withColumn("split", expr)
        .filter(F.col("split").isNotNull())
        .drop("_pos")
    )


def restrict_to_split(
    df: DataFrame,
    split_table: DataFrame,
    split: str,
    subject_col: str = "subject_id",
) -> DataFrame:
    """J8/P3: semi-join a fact table down to one split's subjects."""
    keep = split_table.filter(F.col("split") == split).select(subject_col)
    return df.join(F.broadcast(keep), subject_col, "left_semi")


def subjects_without_events(
    subjects: DataFrame, events: DataFrame, subject_col: str = "subject_id"
) -> DataFrame:
    """O4: set difference via anti-join (event_stream_dataset.py:663-666)."""
    return subjects.join(events, subject_col, "left_anti")


def union_distinct(*dfs: DataFrame) -> DataFrame:
    """O5: union of subject sets (event_stream_dataset.py:746-755)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.distinct()


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float] | float,
    seed: int = 1,
) -> DataFrame:
    """Deterministic stratified downsampling: keep a row iff its
    ``split_uniform(id, seed)`` value falls under the stratum's
    fraction. The workhorse of corpus rebalancing (downweight
    boilerplate-heavy sources, cap majority classes) — and unlike
    Bernoulli ``sampleBy`` it is exactly reproducible on any cluster,
    any partitioning, and in the DuckDB oracle, because the keep
    decision is pure integer arithmetic on (id, seed).

    ``fractions``: per-stratum keep fraction (strata not listed are
    DROPPED — an explicit keep-list doubles as source filtering), or
    one global float. Same id-domain caveat as split_uniform: ids must
    stay well under 2^31 for overflow-free arithmetic.
    """
    u = split_uniform("event_id", seed)
    if isinstance(fractions, float):
        return df.filter(u < F.lit(fractions))
    expr = None
    for name, frac in fractions.items():
        cond = (F.col("event_type") == name) & (u < F.lit(frac))
        expr = cond if expr is None else expr | cond
    return df.filter(expr)


def pps_systematic_sample(
    df: DataFrame,
    n_target: int,
    size_col: str,
) -> DataFrame:
    """Probability-proportional-to-size systematic sample: order rows
    by a content-free md5 of the id (deterministic shuffle), take the
    exact integer prefix-sum of the integer sizes, and select every
    row whose weight interval crosses a step-grid point
    (step = total // n_target) — heavy rows are proportionally likely
    to straddle a grid line. The sampler behind "pick ~N docs weighted
    by token count": deterministic, seed-free, engine-exact (every
    comparison is BIGINT arithmetic — no float rank to flip between
    engines), and one keyed-window pass.

    Rows with size ≥ step are selected with certainty (they span ≥1
    grid line); expected DISTINCT-row count is Σ min(wᵢ/step, 1) —
    equal to ~n_target when all sizes ≪ step, lower when heavy rows
    absorb several grid lines each (they still count once). The prefix sum
    runs over the md5 order — a single global window over (id, size)
    pairs; at 100 TB shard it per stratum like pack_documents."""
    h = F.md5(F.col("doc_id").cast("string"))
    w = W.orderBy(h).rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = df.select(F.sum(F.col(size_col).cast("long")).alias("_tot"))
    cum = df.select(
        F.col("doc_id"),
        F.col(size_col).cast("long").alias("_w"),
        F.sum(F.col(size_col).cast("long")).over(w).alias("_cum"),
    )
    out = cum.crossJoin(F.broadcast(tot)).withColumn(
        # integer division end to end — no double rounding anywhere
        "_step",
        F.greatest(F.expr(f"_tot DIV {int(n_target)}"), F.lit(1).cast("long")),
    )
    crosses = F.expr("(_cum - _w) DIV _step") < F.expr("_cum DIV _step")
    return out.filter(crosses).select(
        "doc_id", F.col("_w").alias("size"), F.col("_cum").alias("cum_size")
    )


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "event_id",
    stratum_col: str | None = None,
) -> DataFrame:
    """Efraimidis–Spirakis A-Res weighted sampling WITHOUT
    replacement: each row draws u = md5-uniform(id) ∈ (0,1] and the k
    rows maximizing u^(1/w) — equivalently ln(u)/w — form an exact
    weighted sample (inclusion probability proportional to weight,
    sequentially without replacement). Deterministic and seed-free
    across engines/runs because u comes from the id's md5, the same
    portable-uniform convention as quota_sample; rows with
    non-positive or null weight are excluded (the estimator requires
    w > 0).

    Per-stratum when ``stratum_col`` is given (one keyed window —
    this is the scale path); global selection plans as a bounded
    TakeOrderedAndProject, not a full sort. Returns (stratum?, id,
    weight, rk).
    """
    w = F.col(weight_col).cast("double")
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / F.lit(4294967296.0)
    base = df.filter(w.isNotNull() & (w > 0)).select(
        *([F.col(stratum_col)] if stratum_col else []),
        F.col(id_col),
        w.alias("weight"),
        (F.log(u) / w).alias("_key"),
    )
    if stratum_col:
        rk = F.row_number().over(
            W.partitionBy(stratum_col).orderBy(F.col("_key").desc(), F.col(id_col))
        )
        return base.withColumn("rk", rk).filter(F.col("rk") <= k).drop("_key")
    top = base.orderBy(F.col("_key").desc(), F.col(id_col)).limit(k)
    rk = F.row_number().over(W.orderBy(F.col("_key").desc(), F.col(id_col)))
    return top.withColumn("rk", rk).drop("_key")


def class_balanced_resample(
    df: DataFrame, label_col: str, value_col: str
) -> DataFrame:
    """Integer-factor oversampling plan for class imbalance: every
    minority-class row replicates ⌊max_class_n / class_n⌋ times (the
    factor every row of a class shares, so the resampled distribution
    stays within one replication step of balanced and NO row of the
    majority class is dropped — the deterministic alternative to
    fractional random oversampling).

    The replication itself is an explode over a per-row
    ``sequence(1, factor)`` — a bounded generator, not a join — and the
    class factors ride a broadcast of the |classes|-sized count
    relation. Emits per-class audit rows (orig_n, factor, resampled_n,
    value_checksum) where the checksum (sum of replicated values
    rounded) pins that the explode actually happened — the caller's
    trainer consumes the same exploded relation."""
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("_n"))
    from pyspark.sql import Window as W

    mx = F.max("_n").over(W.partitionBy())
    factors = counts.select(
        label_col, "_n", F.floor(mx / F.col("_n")).cast("int").alias("_k")
    )
    x = F.col(value_col).cast("double")
    resampled = (
        df.select(label_col, x.alias("_x"))
        .join(F.broadcast(factors), label_col)
        .select(
            label_col,
            "_n",
            "_k",
            F.explode(F.sequence(F.lit(1), F.col("_k"))).alias("_r"),
            "_x",
        )
    )
    return resampled.groupBy(label_col).agg(
        F.max("_n").cast("long").alias("orig_n"),
        F.max("_k").cast("long").alias("factor"),
        F.count(F.lit(1)).cast("long").alias("resampled_n"),
        F.round(F.sum("_x"), 4).alias("value_checksum"),
    )


def temporal_embargo_split(
    events: DataFrame,
    test_frac: float = 0.2,
    embargo_us: int = 3_600_000_000,
) -> DataFrame:
    """Leakage-safe temporal split: the newest ``test_frac`` of events
    (by exact time quantile) becomes test, an ``embargo_us`` gap before
    the cutoff is EXCLUDED from training (events whose labels/windows
    could straddle the boundary — the purge step financial ML calls
    embargoing), and everything earlier trains. Returns per-split
    counts and time extents.

    The cutoff is one exact-percentile aggregate broadcast as a
    one-row relation (the engine's scalar-crossJoin convention); the
    split itself is a pure projection — no sort, no repartition."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = events.agg(
        F.percentile(us, F.lit(1.0 - test_frac)).alias("_cut")
    )
    tagged = events.select(us.alias("_us")).crossJoin(F.broadcast(cut))
    split = (
        F.when(F.col("_us") >= F.col("_cut"), F.lit("test"))
        .when(F.col("_us") >= F.col("_cut") - embargo_us, F.lit("embargoed"))
        .otherwise(F.lit("train"))
    )
    return (
        tagged.select(split.alias("split"), "_us")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("_us").alias("min_us"),
            F.max("_us").alias("max_us"),
        )
    )
