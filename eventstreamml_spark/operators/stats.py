"""Distributed experiment-analysis statistics.

Experiment readouts over engine output (A/B uplift, drift, data-mix
ablations) have to run at the same scale as the data: resampling a
10¹¹-row metric table on a driver is not an option. These operators
keep everything plan-side — the Poisson bootstrap runs ALL replicates
in one map-side-combined aggregation pass (no row fan-out, no reshuffle
per replicate), which is the standard way to bootstrap on a cluster
where rows can't be globally indexed. No reference analog (the
reference computes summary stats in pandas, e.g. EventStreamData's
describe paths); declared-new per SURVEY §2.8b.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

# Poisson(1) CDF thresholds: P(X <= k) for k = 0..5; a hash-uniform
# draw u picks the smallest k with u < CDF(k), capped at 6. Shared
# verbatim by the DuckDB oracle so replicate weights are bit-identical.
POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
]


def _hash_uniform(*cols: Column) -> Column:
    """Deterministic uniform in [0, 1) from the first 8 hex chars of an
    md5 over the concatenated inputs — portable to any engine with md5
    (the DuckDB oracle replays it exactly), unlike xxhash64 seeds."""
    key = F.concat_ws(":", *cols)
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double")
        / F.lit(4294967296.0)
    )


def poisson1_hex16_thresholds() -> list[str]:
    """The Poisson(1) CDF quantized to a 16-bit hex grid: replicate b
    draws its uniform from FOUR md5 hex chars, and the CDF inversion is
    pure lexicographic string comparison (lowercase fixed-width hex
    sorts numerically), so no base conversion runs in the hot path.
    seg/65536 < CDF(k)  ⇔  seg < ⌈CDF(k)·65536⌉  ⇔  seg_str < hex4(⌈·⌉).
    Shared verbatim with the DuckDB oracle."""
    return [format(math.ceil(c * 65536), "04x") for c in POISSON1_CDF]


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    by: str,
    n_replicates: int = 48,
) -> DataFrame:
    """Percentile-bootstrap confidence interval for the per-group mean
    via the Poisson bootstrap (Poisson(1) replicate weights ≈
    multinomial resampling without needing a global row index — the
    only bootstrap that works when rows live on 1000 executors).

    Distributed shape: replicates compute in aggregation passes of at
    most ~24 aggregate expressions each — each row contributes
    (wᵦ, wᵦ·x) for every replicate b, so there is no B× row fan-out
    and each pass is one map-side-combined shuffle on the group key;
    the passes join on the |groups|-sized key relation (broadcast-tiny).
    A single 2·B-expression pass would be fewer scans but EXITS
    whole-stage codegen (the measured >~50-aggregate rule): at B=48,
    sf0.1, local[32], one 96-agg pass ran 5.1-6.6s vs 3.75s for four
    24-agg codegen'd passes — the scan is cheap, interpreted
    aggregation is not. The B replicate means then explode from a
    B-element array on the |groups|-sized relation — negligible.

    The weight hot path is tuned from measurement (sf0.1, local[32]):
    one md5 feeds EIGHT replicates (4 hex chars each — 26s → 7s vs one
    md5+conv per replicate), the Poisson CDF inverts by lexicographic
    hex comparison (``conv`` alone cost ~4s/150k rows), and weights
    materialize once in a projection BELOW each aggregate so the sums
    read plain columns instead of re-evaluating the hash chain per
    aggregate. Deterministic: seg = md5(id:⌊b/8⌋)[4(b%8)+1 ..+4],
    so the oracle and any rerun reproduce the interval bit-for-bit.
    """
    hex_thresholds = poisson1_hex16_thresholds()
    b_range = list(range(n_replicates))
    # identifiers are interpolated into SQL text below — escape
    # backticks so arbitrary column names parse as the intended
    # identifier instead of breaking out of the quoting
    bq_id = id_col.replace("`", "``")
    bq_val = value_col.replace("`", "``")
    bq_by = by.replace("`", "``")

    def _pass(bs: list[int], with_stats: bool) -> DataFrame:
        # Weight expressions are generated as SQL TEXT and parsed once:
        # composing the same ~25-node when-chain per replicate through
        # the Python Column API costs one py4j round trip per node
        # (~800 per pass at B=32) and dominated this operator's wall
        # time as pure plan construction (the measured >~500-node rule,
        # same fix as pq_encode). The parsed CASE chain is the same
        # expression the nested when/otherwise tree evaluated — first
        # matching branch wins — so values are bit-identical.
        wcols = []
        for g in sorted({b // 8 for b in bs}):
            h = f"md5(concat_ws(':', CAST(`{bq_id}` AS STRING), '{g}'))"
            for j in range(8):
                b = g * 8 + j
                if b not in bs:
                    continue
                seg = f"substring({h}, {1 + 4 * j}, 4)"
                whens = " ".join(
                    f"WHEN {seg} < '{hex_thresholds[k]}' THEN {k}"
                    for k in range(len(hex_thresholds))
                )
                wcols.append(
                    f"CAST(CASE {whens} ELSE 6 END AS DOUBLE) AS _v{b}"
                )
        proj = df.selectExpr(
            f"`{bq_by}`", f"CAST(`{bq_val}` AS DOUBLE) AS _x", *wcols
        )
        stats = (
            [
                F.count(F.lit(1)).alias("n"),
                F.round(F.avg("_x"), 6).alias("mean_value"),
            ]
            if with_stats
            else []
        )
        return proj.groupBy(by).agg(
            *stats,
            *[F.sum(F.col(f"_v{b}")).alias(f"_w{b}") for b in bs],
            *[
                F.sum(F.col(f"_v{b}") * F.col("_x")).alias(f"_wx{b}")
                for b in bs
            ],
        )

    # ≤24 aggregate expressions (12 replicates × 2) per pass keeps every
    # pass inside whole-stage codegen with headroom
    chunk = max(1, min(12, n_replicates))
    parts = [
        b_range[i : i + chunk] for i in range(0, n_replicates, chunk)
    ]
    agg = _pass(parts[0], True)
    for bs in parts[1:]:
        # null-SAFE key equality: a NULL group key is a legitimate group
        # out of the groupBy, and a plain equi-join would silently drop
        # its CI row (the single-pass form never had this hazard)
        nxt = _pass(bs, False).withColumnRenamed(by, "_by_r")
        agg = agg.join(
            nxt, F.col(by).eqNullSafe(F.col("_by_r"))
        ).drop("_by_r")
    means = F.array(
        *[F.try_divide(F.col(f"_wx{b}"), F.col(f"_w{b}")) for b in b_range]
    )
    rep = agg.select(
        by, "n", "mean_value", F.explode(means).alias("_rep_mean")
    )
    lo, hi = 0.025, 1.0 - 0.025
    return rep.groupBy(by, "n", "mean_value").agg(
        F.round(F.percentile(F.col("_rep_mean"), F.lit(lo)), 6).alias("ci_lo"),
        F.round(F.percentile(F.col("_rep_mean"), F.lit(hi)), 6).alias("ci_hi"),
    )


def _contingency_chi2(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """One row ``(_chi2, _r, _k, _n)``: the unrounded Pearson χ² of the
    ``a_col`` × ``b_col`` contingency table, its level counts and N.

    One groupBy over the data builds the |A|·|B| contingency relation;
    the marginals come from window sums OVER THAT TINY RELATION (not
    the raw data), so the raw table is read exactly once. Cells with
    zero observations never appear in the groupBy output, but each
    contributes (0−E)²/E = E to χ²; since ΣE over the FULL r×c grid is
    exactly N, the missing-cell mass is N − ΣE(observed) — added as a
    closed-form correction, no dense grid materialized. The level
    counts are ``size(collect_set)`` over that relation: two
    ``count_distinct``s in one aggregate would plan an ``Expand``
    whose group order follows expression-id hashes, so the plan would
    change from build to build."""
    from pyspark.sql import Window as W

    obs = df.groupBy(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).agg(F.count(F.lit(1)).cast("double").alias("_o"))
    row_t = F.sum("_o").over(W.partitionBy("_a"))
    col_t = F.sum("_o").over(W.partitionBy("_b"))
    n_t = F.sum("_o").over(W.partitionBy())
    e = row_t * col_t / n_t
    cells = obs.select(
        "_a",
        "_b",
        "_o",
        ((F.col("_o") - e) ** 2 / e).alias("_c"),
        e.alias("_e"),
    )
    return cells.groupBy().agg(
        (F.sum("_c") + (F.sum("_o") - F.sum("_e"))).alias("_chi2"),
        F.size(F.collect_set("_a")).cast("long").alias("_r"),
        F.size(F.collect_set("_b")).cast("long").alias("_k"),
        F.sum("_o").alias("_n"),
    )


def chi_square_independence(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns: χ² = Σ (O−E)²/E over the contingency table, E = (row
    total · column total)/N, dof = (|A|−1)(|B|−1), from the single-scan
    plan of ``_contingency_chi2``. Output is a single row (chi2, dof,
    n) — the p-value lookup is a client-side table concern, the
    cluster's job is the statistic."""
    return _contingency_chi2(df, a_col, b_col).select(
        F.round(F.col("_chi2"), 6).alias("chi2"),
        ((F.col("_r") - 1) * (F.col("_k") - 1)).alias("dof"),
        F.col("_n").cast("long").alias("n"),
    )


def welch_ttest(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Welch's unequal-variance t statistic between the two arms of
    ``group_col``: t = (m₁−m₀)/√(s₁²/n₁+s₀²/n₀) with the
    Welch–Satterthwaite dof. One map-side-combined groupBy computes
    each arm's (n, mean, variance); the two-row result pivots on the
    driver-free path (conditional aggregation over the tiny relation).
    Emits the statistic and dof — p-values are a lookup-table concern.
    An ``n_arms`` column carries the observed arm count; with anything
    other than exactly two arms the statistic columns are NULLed (a
    third arm silently dropped by the pivot must fail loudly, not
    produce a plausible two-arm t)."""
    arms = df.groupBy(F.col(group_col).alias("arm")).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg(F.col(value_col).cast("double")).alias("_m"),
        F.var_samp(F.col(value_col).cast("double")).alias("_v"),
    )
    pick = lambda c, which: F.max(  # noqa: E731
        F.when(F.col("_rk") == which, F.col(c))
    )
    from pyspark.sql import Window as W

    ranked = arms.withColumn(
        "_rk", F.row_number().over(W.partitionBy().orderBy("arm"))
    )
    two = ranked.groupBy().agg(
        pick("arm", 1).alias("arm_a"),
        pick("arm", 2).alias("arm_b"),
        pick("_n", 1).alias("_n1"),
        pick("_n", 2).alias("_n2"),
        pick("_m", 1).alias("_m1"),
        pick("_m", 2).alias("_m2"),
        pick("_v", 1).alias("_v1"),
        pick("_v", 2).alias("_v2"),
        F.max("_rk").alias("_n_arms"),
    )
    se2_1 = F.col("_v1") / F.col("_n1")
    se2_2 = F.col("_v2") / F.col("_n2")
    # try_divide: two constant arms give x/0, which ANSI mode raises on;
    # NULL is the DuckDB oracle's x/0
    t = F.try_divide(F.col("_m2") - F.col("_m1"), F.sqrt(se2_1 + se2_2))
    dof = F.try_divide(
        (se2_1 + se2_2) ** 2,
        se2_1**2 / (F.col("_n1") - 1) + se2_2**2 / (F.col("_n2") - 1),
    )
    exactly_two = F.col("_n_arms") == 2
    return two.select(
        "arm_a",
        "arm_b",
        F.col("_n_arms").cast("long").alias("n_arms"),
        F.col("_n1").cast("long").alias("n_a"),
        F.col("_n2").cast("long").alias("n_b"),
        F.when(exactly_two, F.round(F.col("_m2") - F.col("_m1"), 6)).alias(
            "mean_diff"
        ),
        F.when(exactly_two, F.round(t, 6)).alias("t_stat"),
        F.when(exactly_two, F.round(dof, 6)).alias("welch_dof"),
    )


def conformal_calibration(
    scored: DataFrame,
    id_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split conformal prediction: hash-split the scored relation into
    calibration/test, take q̂ = the ⌈(n+1)(1−α)⌉-th smallest
    calibration nonconformity |y − score|, and report the achieved
    test coverage of the interval score ± q̂ (valid coverage ≥ 1−α by
    the conformal guarantee, up to the nonconformity rounding).

    The order statistic is computed WITHOUT a global sort: scores are
    rounded to 6 dp and histogrammed (one map-side-combined
    groupBy — the distinct-value relation is bounded by 10^6), and
    q̂ reads off the cumulative histogram — same selection trick as the
    engine's quantile sketch, exact on the rounded grid. The split is
    the engine's portable md5-uniform, so calib membership is
    bit-reproducible by the oracle."""
    from pyspark.sql import Window as W

    u = _hash_uniform(F.col(id_col).cast("string"), F.lit("conformal"))
    nc = F.round(
        F.abs(F.col("label").cast("double") - F.col("score")), 6
    )
    tagged = scored.select(
        (u < 0.5).alias("_calib"), nc.alias("_nc")
    )
    hist = (
        tagged.filter(F.col("_calib"))
        .groupBy("_nc")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    cum = F.sum("_c").over(W.partitionBy().orderBy("_nc"))
    n_cal = F.sum("_c").over(W.partitionBy())
    h = hist.select(
        "_nc", cum.alias("_cum"), n_cal.alias("_n")
    )
    k = F.ceil((F.col("_n") + 1) * F.lit(1.0 - alpha))
    qhat = h.filter(F.col("_cum") >= k).groupBy().agg(
        F.min("_nc").alias("qhat"), F.max("_n").cast("long").alias("n_calib")
    )
    cov = (
        tagged.filter(~F.col("_calib"))
        .crossJoin(F.broadcast(qhat))
        .groupBy("qhat", "n_calib")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.round(
                F.avg((F.col("_nc") <= F.col("qhat")).cast("double")), 6
            ).alias("coverage"),
        )
    )
    return cov.select(
        "n_calib",
        "n_test",
        "qhat",
        "coverage",
        F.round(F.lit(1.0 - alpha), 6).alias("target"),
    )


def woe_bins(
    df: DataFrame,
    value_col: str,
    target_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Weight-of-evidence feature binning (the credit-scoring encoder):
    bin a numeric feature at its exact deciles and report per bin the
    event rate, WOE = ln((posᵢ/pos)/(negᵢ/neg)) with 0.5 Laplace
    smoothing, and the information-value contribution
    IV_i = (posᵢ/pos − negᵢ/neg)·WOE.

    Distributed shape: the bin BOUNDARIES are one exact-percentile
    aggregate broadcast as a one-row array relation (no ntile — a
    global ntile window would funnel every row through one task); bin
    assignment is a pure expression (count of boundaries below the
    value); one groupBy aggregates the counts. Total: two passes, one
    shuffle of |bins| rows."""
    x = F.col(value_col).cast("double")
    y = F.col(target_col).cast("int")
    probs = F.array(
        *[F.lit(i / n_bins) for i in range(1, n_bins)]
    )
    bnds = df.agg(F.percentile(x, probs).alias("_bnds"))
    binned = (
        df.select(x.alias("_x"), y.alias("_y"))
        .filter(F.col("_x").isNotNull())
        .crossJoin(F.broadcast(bnds))
        .select(
            F.size(F.filter(F.col("_bnds"), lambda b: b < F.col("_x"))).alias(
                "bin"
            ),
            "_y",
        )
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_y").cast("long").alias("n_pos"),
    )
    tot = agg.agg(
        F.sum("n").cast("double").alias("_tn"),
        F.sum("n_pos").cast("double").alias("_tp"),
    )
    w = agg.crossJoin(F.broadcast(tot))
    pos_share = (F.col("n_pos") + 0.5) / (F.col("_tp") + 0.5)
    neg_share = (F.col("n") - F.col("n_pos") + 0.5) / (
        F.col("_tn") - F.col("_tp") + 0.5
    )
    woe = F.log(pos_share / neg_share)
    return w.select(
        "bin",
        "n",
        "n_pos",
        F.round(F.col("n_pos") / F.col("n"), 6).alias("event_rate"),
        F.round(woe, 6).alias("woe"),
        F.round((pos_share - neg_share) * woe, 6).alias("iv_contrib"),
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    arm_col: str,
    grid_dp: int = 2,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic D = sup|F₁(x) − F₂(x)|
    between the two arms of ``arm_col``, computed on a value grid
    (grid key = ``floor(value·10^grid_dp)`` — an INTEGER key, so every
    engine bins identically; ``round`` would re-open cross-engine
    half-way-tie daylight) — the nonparametric distribution-shift test
    an experiment readout runs next to the t-test (no reference
    analog; declared-new per SURVEY §2.8b). Arms must be encoded 0/1
    (welch_ttest's arbitrary-label pivot doesn't apply here — the
    conditional counts are the cheap binary form); a side with zero
    rows yields NULL ks_d via try_divide rather than an ANSI
    divide-by-zero.

    Scale shape: one map-side-combined groupBy folds the data to a
    per-grid-point count relation (size = |grid|, bounded by the value
    range × 10^dp, NOT the row count); the cumulative CDFs and the sup
    run as a window over that bounded relation, so the single-partition
    ordered window touches |grid| rows — the same bounded-relation
    trick as the quantile sketch, never a global sort of the data. On
    the grid, the binned empirical CDF is exact at every grid point, so
    D is the exact KS statistic of the rounded data.
    """
    from pyspark.sql import Window as W

    x = F.floor(
        F.col(value_col).cast("double") * F.lit(float(10**grid_dp))
    ).cast("long")
    t = df.filter(F.col(value_col).isNotNull()).select(
        x.alias("_x"), F.col(arm_col).alias("_arm")
    )
    arms = t.groupBy("_x").agg(
        F.sum(F.when(F.col("_arm") == 0, 1).otherwise(0)).alias("_c0"),
        F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0)).alias("_c1"),
    )
    w = W.orderBy("_x").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = W.partitionBy()
    cdf = arms.select(
        "_x",
        F.try_divide(F.sum("_c0").over(w), F.sum("_c0").over(tot)).alias(
            "_f0"
        ),
        F.try_divide(F.sum("_c1").over(w), F.sum("_c1").over(tot)).alias(
            "_f1"
        ),
        F.sum("_c0").over(tot).alias("_n0"),
        F.sum("_c1").over(tot).alias("_n1"),
    )
    return cdf.groupBy().agg(
        F.max("_n0").cast("long").alias("n_a"),
        F.max("_n1").cast("long").alias("n_b"),
        F.round(F.max(F.abs(F.col("_f0") - F.col("_f1"))), 6).alias("ks_d"),
    )


def spc_control_limits(
    df: DataFrame,
    value_col: str,
    by: str,
) -> DataFrame:
    """Statistical-process-control audit per group: mean, sample
    stddev, ±3σ control limits, and the count of
    out-of-control points beyond each limit (Shewhart rule 1) — the
    monitoring primitive a metrics pipeline runs over every batch.

    Two map-side-combined passes: a |groups|-sized stats aggregate
    broadcast-joined back onto the rows (never a per-group window sort,
    whose per-key ordering is wasted work here), then the violation
    counts. Limits compare UNROUNDED; only the report rounds."""
    x = F.col(value_col).cast("double")
    stats = df.filter(x.isNotNull()).groupBy(by).agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg(x).alias("_m"),
        F.stddev_samp(x).alias("_sd"),
    )
    ucl = F.col("_m") + 3.0 * F.col("_sd")
    lcl = F.col("_m") - 3.0 * F.col("_sd")
    # eqNullSafe: a plain equi-join would drop the NULL-key group the
    # groupBy itself produced (same hazard bootstrap_mean_ci fixed)
    rows = df.filter(x.isNotNull())
    joined = rows.join(
        F.broadcast(stats), rows[by].eqNullSafe(stats[by])
    ).drop(stats[by])
    return (
        joined.groupBy(by)
        .agg(
            F.max("_n").cast("long").alias("n"),
            F.round(F.max("_m"), 6).alias("mean_value"),
            F.round(F.max("_sd"), 6).alias("stddev_value"),
            F.round(F.max(ucl), 6).alias("ucl"),
            F.round(F.max(lcl), 6).alias("lcl"),
            F.sum(F.when(x > ucl, 1).otherwise(0))
            .cast("long")
            .alias("n_above_ucl"),
            F.sum(F.when(x < lcl, 1).otherwise(0))
            .cast("long")
            .alias("n_below_lcl"),
        )
    )


def sample_ratio_mismatch(
    df: DataFrame,
    arm_col: str,
    expected_frac: float = 0.5,
) -> DataFrame:
    """Sample-ratio-mismatch check for a two-arm assignment: observed
    arm counts vs the expected split as a one-dof chi-square
    (χ² = Σ(O−E)²/E) — the first thing to audit before reading ANY
    experiment metric, since a biased assignment invalidates them all.
    One aggregation pass; χ² > 3.84 ≈ p < 0.05. An empty input reads
    0/0 counts with NULL fraction, χ² and flag."""
    agg = df.groupBy().agg(
        F.count(F.when(F.col(arm_col) == 0, 1)).cast("double").alias("_n0"),
        F.count(F.when(F.col(arm_col) == 1, 1)).cast("double").alias("_n1"),
    )
    n = F.col("_n0") + F.col("_n1")
    e0 = n * (1.0 - expected_frac)
    e1 = n * expected_frac
    chi2 = F.try_divide((F.col("_n0") - e0) ** 2, e0) + F.try_divide(
        (F.col("_n1") - e1) ** 2, e1
    )
    return agg.select(
        F.col("_n0").cast("long").alias("n_a"),
        F.col("_n1").cast("long").alias("n_b"),
        F.round(F.try_divide(F.col("_n0"), n), 6).alias("frac_a"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841458820694124).alias("srm_flag"),
    )


def _midranks_by_value(
    df: DataFrame, group_col: str, value_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared substrate for global-rank tests (Mann-Whitney, Kruskal-
    Wallis): per (value, group) tie counts joined with per-value
    midranks, computed WITHOUT ranking raw rows.

    A global rank window would funnel every row through one partition;
    instead the raw table folds once into the |distinct values × groups|
    contingency relation (map-side-combined groupBy), and the ordered
    cumulative that midranks need runs over the |distinct values|
    relation only — the same "window over the tiny relation, never the
    data" discipline as :func:`chi_square_independence`.

    Cross-engine exactness: tie counts are integers and midranks are
    half-integers, so every rank sum downstream is EXACT in double —
    summation order cannot perturb it. The Σ(t³−t) tie term is
    therefore returned as its own one-row relation built from the
    per-VALUE relation (one integer term per distinct value), not
    smeared across (value, group) rows through a float division.

    Returns (joined, tie) where joined = (_g, _v, _t_vg, _t_v, _r) and
    tie = one row (_tie = Σ(t³−t)).
    """
    from pyspark.sql import Window as W

    vg = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(value_col).cast("double").alias("_v"),
            F.col(group_col).alias("_g"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("_t_vg"))
    )
    vt = vg.groupBy("_v").agg(F.sum("_t_vg").alias("_t_v"))
    cum = F.sum("_t_v").over(
        W.partitionBy().orderBy("_v").rowsBetween(W.unboundedPreceding, 0)
    )
    mr = vt.select(
        "_v",
        "_t_v",
        (cum - F.col("_t_v") + (F.col("_t_v") + 1) / 2.0).alias("_r"),
    )
    tie = vt.groupBy().agg(
        F.sum(F.col("_t_v") ** 3 - F.col("_t_v")).alias("_tie")
    )
    return vg.join(mr, "_v"), tie


def mann_whitney_u(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the two arms of
    ``group_col``: U₁ = R₁ − n₁(n₁+1)/2 with midrank ties and the
    tie-corrected normal approximation
    z = (U₁ − n₀n₁/2) / √(n₀n₁/12 · (N+1 − ΣT/(N(N−1)))), ΣT = Σ(t³−t)
    over tie groups. No continuity correction (keeps the arithmetic
    identical across engines). The nonparametric complement to
    :func:`welch_ttest` — rank arithmetic rides the contingency
    relation (see :func:`_midranks_by_value`), never a global row sort.
    Like welch_ttest, an ``n_arms`` column guards the two-arm contract:
    anything else NULLs the statistic rather than reporting a plausible
    two-arm z. Arm identity: arm "a" is the smaller group key."""
    j, tie = _midranks_by_value(df, group_col, value_col)
    arms = j.groupBy().agg(
        F.count_distinct("_g").cast("long").alias("n_arms"),
        F.min("_g").alias("_ga"),
        F.max("_g").alias("_gb"),
    )
    per = (
        j.crossJoin(F.broadcast(arms))
        .groupBy()
        .agg(
            # an empty j (no non-NULL value) still has 0 arms
            F.coalesce(F.max("n_arms"), F.lit(0)).alias("n_arms"),
            F.sum(F.when(F.col("_g") == F.col("_ga"), F.col("_t_vg"))).alias(
                "_n0"
            ),
            F.sum(F.when(F.col("_g") == F.col("_gb"), F.col("_t_vg"))).alias(
                "_n1"
            ),
            F.sum(
                F.when(
                    F.col("_g") == F.col("_ga"), F.col("_t_vg") * F.col("_r")
                )
            ).alias("_r0"),
        )
        .crossJoin(F.broadcast(tie))
    )
    n, n0, n1 = (
        F.col("_n0") + F.col("_n1"),
        F.col("_n0"),
        F.col("_n1"),
    )
    u1 = F.col("_r0") - n0 * (n0 + 1) / 2.0
    var = n0 * n1 / 12.0 * ((n + 1) - F.col("_tie") / (n * (n - 1)))
    z = F.try_divide(u1 - n0 * n1 / 2.0, F.sqrt(var))
    two_arms = F.col("n_arms") == 2
    return per.select(
        "n_arms",
        n0.cast("long").alias("n_a"),
        n1.cast("long").alias("n_b"),
        F.when(two_arms, F.round(u1, 6)).alias("u_stat"),
        F.when(two_arms, F.round(z, 6)).alias("z"),
    )


def kruskal_wallis(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Kruskal-Wallis H across k groups: H = 12/(N(N+1))·ΣR²_g/n_g −
    3(N+1) with midrank ties, tie-corrected H' = H/(1 − ΣT/(N³−N)) —
    the k-arm generalization of Mann-Whitney, for "does ANY segment's
    value distribution differ". Same contingency-relation rank
    substrate as :func:`mann_whitney_u`; one extra |groups|-sized
    aggregate. All-tied data (correction 0) NULLs H' instead of
    dividing by zero."""
    j, tie = _midranks_by_value(df, group_col, value_col)
    per_g = j.groupBy("_g").agg(
        F.sum("_t_vg").alias("_ng"),
        F.sum(F.col("_t_vg") * F.col("_r")).alias("_rg"),
    )
    agg = (
        per_g.groupBy()
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_groups"),
            F.sum("_ng").alias("_n"),
            F.sum(F.round(F.col("_rg") ** 2 / F.col("_ng"), 6)).alias("_s"),
        )
        .crossJoin(F.broadcast(tie))
    )
    n = F.col("_n")
    h = 12.0 / (n * (n + 1)) * F.col("_s") - 3.0 * (n + 1)
    corr = 1.0 - F.col("_tie") / (n**3 - n)
    return agg.select(
        "k_groups",
        n.cast("long").alias("n"),
        (F.col("k_groups") - 1).cast("long").alias("dof"),
        F.round(h, 6).alias("h_stat"),
        F.round(F.try_divide(h, corr), 6).alias("h_tie_corrected"),
    )


def bayes_ab_beta_posterior(
    converted: DataFrame,
    arm_col: str = "arm",
    conv_col: str = "converted",
) -> DataFrame:
    """Bayesian A/B readout on a per-unit conversion table: Beta(1,1)
    prior → per-arm posterior Beta(1+c, 1+n−c) mean/sd, and
    P(B > A) by the normal approximation of the posterior difference
    with Φ via the logistic surrogate Φ(x) ≈ σ(1.702x) (|err| < 0.01;
    no erf primitive is shared across engines, so the surrogate IS the
    contract and the oracle replays it). One groupBy over the unit
    table; everything else is arithmetic on the two-row relation.
    Arm "a" is the smaller arm key."""
    # aggregate per arm first, then pivot the 2-row relation (a min()
    # inside a conditional sum is not legal in one aggregate)
    arms = converted.groupBy(F.col(arm_col).alias("_g")).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(F.col(conv_col).cast("int")).cast("double").alias("_c"),
    )
    lo = arms.agg(F.min("_g").alias("_ga")).select("_ga")
    piv = arms.crossJoin(F.broadcast(lo)).groupBy().agg(
        F.sum(F.when(F.col("_g") == F.col("_ga"), F.col("_n"))).alias("_na"),
        F.sum(F.when(F.col("_g") == F.col("_ga"), F.col("_c"))).alias("_ca"),
        F.sum(F.when(F.col("_g") != F.col("_ga"), F.col("_n"))).alias("_nb"),
        F.sum(F.when(F.col("_g") != F.col("_ga"), F.col("_c"))).alias("_cb"),
    )
    def post(nc, cc):
        a = F.col(cc) + 1.0
        b = F.col(nc) - F.col(cc) + 1.0
        mean = a / (a + b)
        # (a+b)*(a+b), not **2: pow() is only 1-ulp-accurate while the
        # product of exact integer-valued doubles is EXACT, keeping the
        # whole posterior bit-identical to the oracle's replay
        var = a * b / (((a + b) * (a + b)) * (a + b + 1.0))
        return mean, var

    ma, va = post("_na", "_ca")
    mb, vb = post("_nb", "_cb")
    zdiff = F.try_divide(mb - ma, F.sqrt(va + vb))
    p_b_gt_a = 1.0 / (1.0 + F.exp(-1.702 * zdiff))
    return piv.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_ca").cast("long").alias("conv_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.col("_cb").cast("long").alias("conv_b"),
        F.round(ma, 6).alias("post_mean_a"),
        F.round(mb, 6).alias("post_mean_b"),
        F.round(F.sqrt(va), 6).alias("post_sd_a"),
        F.round(F.sqrt(vb), 6).alias("post_sd_b"),
        F.round(p_b_gt_a, 6).alias("p_b_gt_a"),
    )


Z975 = 1.959963984540054  # Φ⁻¹(0.975)
Z80 = 0.8416212335729143  # Φ⁻¹(0.80)
# Wald SPRT bounds at α = β = 0.05: reject H0 at ln((1−β)/α), accept at
# ln(β/(1−α)).
SPRT_A = math.log((1.0 - 0.05) / 0.05)
SPRT_B = math.log(0.05 / (1.0 - 0.05))


def ab_power_mde(
    df: DataFrame,
    arm_col: str,
    value_col: str,
    rel_effect: float = 0.05,
) -> DataFrame:
    """Experiment power planning from observed data: the minimum
    detectable effect at α=0.05 / power=0.80 given the current arm
    sizes (MDE = (z₀.₉₇₅+z₀.₈)·√(s₀²/n₀+s₁²/n₁)), and the required
    per-arm n to detect a ``rel_effect`` relative lift of the pooled
    mean (n = (z₀.₉₇₅+z₀.₈)²·(s₀²+s₁²)/Δ²). Pure arithmetic over a
    two-row groupBy — the pre-registration readout every experiment
    platform computes before launch. Arm "a" is the smaller arm key."""
    x = F.col(value_col).cast("double")
    arms = df.filter(x.isNotNull()).groupBy(F.col(arm_col).alias("_g")).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg(x).alias("_m"),
        F.var_samp(x).alias("_v"),
    )
    lo = arms.agg(F.min("_g").alias("_ga")).select("_ga")
    piv = arms.crossJoin(F.broadcast(lo)).groupBy().agg(
        F.sum(F.when(F.col("_g") == F.col("_ga"), F.col("_n"))).alias("_na"),
        F.sum(F.when(F.col("_g") == F.col("_ga"), F.col("_v"))).alias("_va"),
        F.sum(F.when(F.col("_g") == F.col("_ga"), F.col("_m") * F.col("_n"))).alias("_sma"),
        F.sum(F.when(F.col("_g") != F.col("_ga"), F.col("_n"))).alias("_nb"),
        F.sum(F.when(F.col("_g") != F.col("_ga"), F.col("_v"))).alias("_vb"),
        F.sum(F.when(F.col("_g") != F.col("_ga"), F.col("_m") * F.col("_n"))).alias("_smb"),
    )
    zsum = F.lit(Z975 + Z80)
    mde = zsum * F.sqrt(F.col("_va") / F.col("_na") + F.col("_vb") / F.col("_nb"))
    pooled_mean = (F.col("_sma") + F.col("_smb")) / (F.col("_na") + F.col("_nb"))
    delta = F.lit(rel_effect) * pooled_mean
    # round to 6dp BEFORE ceil on both engines: var_samp summation-order
    # noise near an integer boundary must not flip the ceiling
    n_req = F.ceil(
        F.round(zsum**2 * (F.col("_va") + F.col("_vb")) / delta**2, 6)
    )
    return piv.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(pooled_mean, 6).alias("pooled_mean"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(F.try_divide(mde, pooled_mean), 6).alias("mde_rel"),
        n_req.cast("long").alias("n_per_arm_for_rel_effect"),
    )


def theil_sen_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    min_points: int = 3,
) -> DataFrame:
    """Per-key Theil-Sen trend: the MEDIAN of all pairwise slopes
    (y_j−y_i)/(x_j−x_i) — the 29%-breakdown robust alternative to the
    OLS slope in :mod:`value_trend_by_subject`-style readouts, immune
    to a single wild value per key.

    Distributed shape: the pair fan-out is a PER-KEY self-join
    (shuffle on the key, then pairs form within each key's bounded
    event sequence — O(m²) per key where m is the per-key sequence
    length, never a global pair explosion); the median is an exact
    percentile over each key's pair relation. Keys with fewer than
    ``min_points`` non-null points are dropped; zero-dx pairs
    (identical timestamps) are excluded from the slope set."""
    from pyspark.sql import Window as W

    seq = W.partitionBy("_k").orderBy("_x", "_y")
    base = (
        df.select(
            F.col(key_col).alias("_k"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).cast("double")
            .alias("_x"),
            F.col(value_col).cast("double").alias("_y"),
        )
        .filter(F.col("_y").isNotNull())
        .withColumn("_i", F.row_number().over(seq))
    )
    counts = base.groupBy("_k").agg(F.count(F.lit(1)).alias("n_points"))
    # eqNullSafe on the subject key: a NULL subject is still a series
    # and a plain equi-join would silently drop it (spc lesson)
    cnt = counts.filter(F.col("n_points") >= min_points).withColumnRenamed(
        "_k", "_kc"
    )
    eligible = base.join(
        F.broadcast(cnt), F.col("_k").eqNullSafe(F.col("_kc"))
    ).drop("_kc")
    a = eligible.select("_k", "n_points", "_i", "_x", "_y")
    b = eligible.select(
        F.col("_k").alias("_k2"),
        F.col("_i").alias("_j"),
        F.col("_x").alias("_x2"),
        F.col("_y").alias("_y2"),
    )
    pairs = a.join(
        b,
        F.col("_k").eqNullSafe(F.col("_k2"))
        & (F.col("_i") < F.col("_j"))
        & (F.col("_x") != F.col("_x2")),
    ).select(
        "_k",
        "n_points",
        ((F.col("_y2") - F.col("_y")) / (F.col("_x2") - F.col("_x")))
        .alias("_slope"),
    )
    return pairs.groupBy(F.col("_k").alias(key_col)).agg(
        F.max("n_points").cast("long").alias("n_points"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        # `+ 0.0` normalizes IEEE signed zero: when the median slope is a
        # tiny negative, round(x, 6) yields -0.0 here but DuckDB preserves
        # the sign too — the driver's hasher distinguishes -0.0 from 0.0,
        # so BOTH engines append + 0.0 (-0.0 + 0.0 == +0.0 in IEEE754).
        (
            F.round(
                F.percentile(F.col("_slope"), F.lit(0.5)) * 1_000_000.0, 6
            )
            + F.lit(0.0)
        ).alias("slope_per_sec"),
    )


def _phi_logistic(x: Column) -> Column:
    """Φ via the logistic surrogate Φ(x) ≈ σ(1.702x) (|err| < 0.01) —
    the same cross-engine normal-CDF contract as
    :func:`bayes_ab_beta_posterior`: no erf primitive is shared with
    the oracle engine, so the surrogate IS the spec and oracles replay
    ``1/(1+exp(-1.702*x))`` verbatim."""
    return 1.0 / (1.0 + F.exp(-1.702 * x))


def spearman_corr(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Per-group Spearman rank correlation with midrank ties: Pearson
    correlation of the within-group midranks of x and y.

    Distributed shape — the same "rank the contingency relation, never
    the rows" discipline as :func:`_midranks_by_value`, but per group
    and per axis: each axis folds to the |group × distinct values|
    relation (map-side-combined groupBy), midranks come from a
    cumulative window over that small relation (partitioned by group,
    so no single-partition funnel), and the row relation equi-joins
    the two rank relations back on (group, value). Midranks are exact
    half-integers, so the correlation sums are exact (sf0.1 scale) or
    deterministic-to-the-ulp beyond; the final ρ rounds at 6dp on
    both engines.
    """
    from pyspark.sql import Window as W

    d = df.select(
        F.col(group_col).alias("_g"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())

    def ranks(col: str) -> DataFrame:
        vt = d.groupBy("_g", col).agg(
            F.count(F.lit(1)).cast("double").alias("_t")
        )
        cum = F.sum("_t").over(W.partitionBy("_g").orderBy(col))
        return vt.select(
            "_g", col, (cum - F.col("_t") + (F.col("_t") + 1) / 2.0).alias(f"_r{col}")
        )

    # group key may be NULL: join null-safely (values are non-null by
    # the filter above, so only _g needs the null-safe form)
    rx = ranks("_x").withColumnRenamed("_g", "_gx")
    ry = ranks("_y").withColumnRenamed("_g", "_gy")
    j = (
        d.join(
            rx,
            F.col("_g").eqNullSafe(F.col("_gx"))
            & (d["_x"] == rx["_x"]),
        )
        .drop(rx["_x"]).drop("_gx")
        .join(
            ry,
            F.col("_g").eqNullSafe(F.col("_gy"))
            & (d["_y"] == ry["_y"]),
        )
        .drop(ry["_y"]).drop("_gy")
    )
    agg = j.groupBy("_g").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_r_x").alias("_sx"),
        F.sum("_r_y").alias("_sy"),
        F.sum(F.col("_r_x") * F.col("_r_y")).alias("_sxy"),
        F.sum(F.col("_r_x") * F.col("_r_x")).alias("_sxx"),
        F.sum(F.col("_r_y") * F.col("_r_y")).alias("_syy"),
    )
    n = F.col("_n")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.sqrt(
        (n * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
        * (n * F.col("_syy") - F.col("_sy") * F.col("_sy"))
    )
    return agg.select(
        F.col("_g").alias(group_col),
        n.cast("long").alias("n"),
        F.round(F.try_divide(num, den), 6).alias("spearman_rho"),
    )


def anova_oneway(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One-way ANOVA F across the groups of ``group_col``: F =
    (SSB/(k−1)) / (SSW/(n−k)) from per-group moments (n, Σx, Σx²).

    One map-side-combined groupBy folds the data to the k-row moment
    relation; SSB/SSW and F are pure arithmetic on those k rows. Only
    RATIOS are emitted (f_stat, eta_sq): the raw sums of squares are
    global float sums whose summation-order noise (~√n·ε·Σx²) exceeds
    a 6dp grid at 100k+ rows — the ratio cancels it (CLAUDE.md rule).
    Groups with NULL values contribute nothing; k<2 NULLs the
    statistic rather than dividing by zero. Degeneracy is tested
    exactly on per-group min/max, never on the float sums (on constant
    data SSB and SSW are summation noise whose sign follows the
    partition layout): f_stat is NULL when every group is constant
    (exactly SSW = 0), eta_sq when all values are equal."""
    v = F.col(value_col).cast("double")
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("_g"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.sum(v).alias("_s1"),
            F.sum(v * v).alias("_s2"),
            F.min(v).alias("_lo"),
            F.max(v).alias("_hi"),
        )
    )
    tot = g.groupBy().agg(
        F.count(F.lit(1)).cast("double").alias("_k"),
        F.sum("_n").alias("_nt"),
        F.sum("_s1").alias("_st"),
        F.sum(F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("_n")).alias(
            "_ssw"
        ),
        F.sum(F.col("_s1") * F.col("_s1") / F.col("_n")).alias("_sb_part"),
        F.min("_lo").alias("_lo"),
        F.max("_hi").alias("_hi"),
        F.count(F.when(F.col("_hi") > F.col("_lo"), F.lit(1))).alias("_k_spread"),
    )
    ssb = F.col("_sb_part") - F.col("_st") * F.col("_st") / F.col("_nt")
    ssw = F.col("_ssw")
    fstat = F.try_divide(
        F.try_divide(ssb, F.col("_k") - 1.0),
        F.try_divide(ssw, F.col("_nt") - F.col("_k")),
    )
    return tot.select(
        F.col("_k").cast("long").alias("k_groups"),
        F.col("_nt").cast("long").alias("n_total"),
        F.when(F.col("_k_spread") > 0, F.round(fstat, 6)).alias("f_stat"),
        F.when(
            F.col("_hi") > F.col("_lo"), F.round(F.try_divide(ssb, ssb + ssw), 6)
        ).alias("eta_sq"),
    )


def brown_forsythe(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test (the median-centered
    Levene): one-way ANOVA F on z = |x − median_g|. Robust to
    non-normality where the mean-centered Levene is not — the standard
    pre-check before pooling variances in a Welch/ANOVA readout.

    Group medians are exact interpolated percentiles computed per
    group (broadcast-joined back; the |groups|-row relation is tiny),
    then the deviations reuse :func:`anova_oneway`'s moment shape.
    """
    med = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("_mg"))
        .agg(F.percentile(F.col(value_col).cast("double"), F.lit(0.5)).alias("_med"))
    )
    z = (
        df.filter(F.col(value_col).isNotNull())
        .join(F.broadcast(med), F.col(group_col).eqNullSafe(F.col("_mg")))
        .select(
            F.col(group_col),
            F.abs(F.col(value_col).cast("double") - F.col("_med")).alias("_z"),
        )
    )
    return anova_oneway(z, group_col, "_z").withColumnsRenamed(
        {"f_stat": "bf_stat"}
    )


def two_proportion_ztest(
    df: DataFrame, arm_col: str, success_col: str
) -> DataFrame:
    """Two-proportion z-test between the two arms of ``arm_col``
    (arm "a" = smaller arm key): pooled-variance z and the two-sided
    p-value via the logistic Φ surrogate (:func:`_phi_logistic`).
    One groupBy to the 2-row arm relation; counts are exact integers
    so z is deterministic to the ulp on both engines. Degenerate
    pooled variance (all successes / all failures) NULLs z instead of
    dividing by zero."""
    arms = df.groupBy(F.col(arm_col).alias("_g")).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(F.col(success_col).cast("int")).cast("double").alias("_c"),
    )
    lo = arms.agg(F.min("_g").alias("_ga")).select("_ga")
    piv = arms.crossJoin(F.broadcast(lo)).groupBy().agg(
        F.sum(F.when(F.col("_g") == F.col("_ga"), F.col("_n"))).alias("_na"),
        F.sum(F.when(F.col("_g") == F.col("_ga"), F.col("_c"))).alias("_ca"),
        F.sum(F.when(F.col("_g") != F.col("_ga"), F.col("_n"))).alias("_nb"),
        F.sum(F.when(F.col("_g") != F.col("_ga"), F.col("_c"))).alias("_cb"),
    )
    pa = F.col("_ca") / F.col("_na")
    pb = F.col("_cb") / F.col("_nb")
    pp = (F.col("_ca") + F.col("_cb")) / (F.col("_na") + F.col("_nb"))
    se = F.sqrt(pp * (1.0 - pp) * (1.0 / F.col("_na") + 1.0 / F.col("_nb")))
    z = F.try_divide(pb - pa, se)
    p2 = 2.0 * (1.0 - _phi_logistic(F.abs(z)))
    return piv.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_ca").cast("long").alias("succ_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.col("_cb").cast("long").alias("succ_b"),
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.round(z, 6).alias("z_stat"),
        F.round(p2, 6).alias("p_value"),
    )


def poisson_rate_ratio(df: DataFrame, arm_col: str) -> DataFrame:
    """Poisson rate-ratio test between the two arms of ``arm_col``
    (event counts n_a, n_b over equal exposures t_a = t_b = 1):
    RR = (n_b/t_b)/(n_a/t_a), the log-RR
    normal approximation z = ln(RR)/√(1/n_a+1/n_b), two-sided p via
    the logistic Φ surrogate. The incident-rate comparison behind
    "did the error rate really double this week". Counts are exact
    integers; a zero count NULLs the statistic (ln(0))."""
    arms = df.groupBy(F.col(arm_col).alias("_g")).agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    lo = arms.agg(F.min("_g").alias("_ga")).select("_ga")
    piv = arms.crossJoin(F.broadcast(lo)).groupBy().agg(
        F.sum(F.when(F.col("_g") == F.col("_ga"), F.col("_n"))).alias("_na"),
        F.sum(F.when(F.col("_g") != F.col("_ga"), F.col("_n"))).alias("_nb"),
    )
    rr = F.try_divide(F.col("_nb") / F.lit(1.0), F.col("_na") / F.lit(1.0))
    z = F.try_divide(
        F.log(rr), F.sqrt(1.0 / F.col("_na") + 1.0 / F.col("_nb"))
    )
    p2 = 2.0 * (1.0 - _phi_logistic(F.abs(z)))
    return piv.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(rr, 6).alias("rate_ratio"),
        F.round(z, 6).alias("z_stat"),
        F.round(p2, 6).alias("p_value"),
    )


def bh_fdr(
    df: DataFrame, id_col: str, p_col: str, alpha: float = 0.05
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment over a table of test
    p-values: rank ascending (id tiebreak, so both engines agree on
    tied p), p_adj_i = min_{j≥i}(m·p_j/j) capped at 1 (the reverse
    running-min form), reject where p_adj ≤ alpha.

    Ranking and the reverse running-min both order (and compute) on
    the p-value ROUNDED to 9dp: exp/ln can differ by an ulp between
    DuckDB's libm and the JVM, so ordering on the raw double would let
    two near-tied p-values swap rank_i between engines and shift p_adj
    past the 6dp output grid — the 9dp grid makes the ordering and the
    min arithmetic engine-stable while sitting 1000× below the output
    grid.

    Windows run over the |tests|-sized relation — the thing being
    ranked is a derived test table (one row per metric/segment), never
    the raw data, so the unpartitioned window is bounded by
    construction (same rationale as the vocabulary sort, O2); m rides
    the same window pass instead of a separate count() action, so the
    upstream p-value pipeline computes once."""
    from pyspark.sql import Window as W

    w = W.orderBy("_pr", id_col)
    wall = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    wrev = (
        W.orderBy(F.col("_pr").desc(), F.col(id_col).desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    ranked = (
        df.withColumn("_pr", F.round(F.col(p_col), 9))
        .withColumn("rank_i", F.row_number().over(w))
        .withColumn("_m", F.count(F.lit(1)).over(wall).cast("double"))
        .withColumn(
            "p_adj",
            F.least(
                F.lit(1.0),
                F.min(F.col("_m") * F.col("_pr") / F.col("rank_i")).over(wrev),
            ),
        )
    )
    return ranked.select(
        F.col(id_col),
        F.col("rank_i").cast("long").alias("rank_i"),
        F.round(F.col(p_col), 6).alias("p_value"),
        F.round("p_adj", 6).alias("p_adj"),
        (F.col("p_adj") <= F.lit(alpha)).alias("reject"),
    )


def sprt_bernoulli(
    df: DataFrame,
    arm_col: str,
    day_col: str,
    success_col: str,
    p0: float,
    p1: float,
) -> DataFrame:
    """Wald's sequential probability ratio test (SPRT) for a Bernoulli
    rate, evaluated per arm on the DAILY aggregate sequence: after each
    day the cumulative log-likelihood ratio
    Λ_t = Σ c_d·ln(p1/p0) + (n_d−c_d)·ln((1−p1)/(1−p0)) crosses
    ln((1−β)/α) → reject H0 (rate is p1), crosses ln(β/(1−α)) →
    accept H0 (α = β = 0.05: ``SPRT_A``/``SPRT_B``), else continue —
    the always-valid peeking monitor a batch z-test cannot provide.

    Distributed shape: the raw stream folds map-side to the
    |arm × day| relation; the cumulative window runs per arm over that
    bounded relation, never the events (the same daily-aggregation
    discipline as :func:`cusum`-style monitors — a per-event cumsum
    would funnel each arm's full history through one partition at
    100 TB). ln() constants are Python-float literals injected into
    both engines, and day increments are integer-count multiples of
    them, so Λ is ulp-deterministic."""
    l1 = math.log(p1 / p0)
    l0 = math.log((1.0 - p1) / (1.0 - p0))
    from pyspark.sql import Window as W

    daily = df.groupBy(
        F.col(arm_col).alias("arm"),
        F.date_trunc("DAY", F.col(day_col)).alias("day"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(F.col(success_col).cast("int")).cast("double").alias("_c"),
    )
    w = W.partitionBy("arm").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    llr = F.sum(
        F.col("_c") * F.lit(l1) + (F.col("_n") - F.col("_c")) * F.lit(l0)
    ).over(w)
    return daily.select(
        "arm",
        "day",
        F.col("_n").cast("long").alias("n_day"),
        F.col("_c").cast("long").alias("succ_day"),
        F.round(llr, 6).alias("llr_cum"),
        F.when(llr >= F.lit(SPRT_A), F.lit("reject_h0"))
        .when(llr <= F.lit(SPRT_B), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


def t_closeness(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int = 10,
    t: float = 0.15,
) -> DataFrame:
    """t-closeness audit for a numeric sensitive attribute: per
    quasi-identifier group, the ordered earth-mover's distance between
    the group's value distribution and the global one over ``n_bins``
    fixed-width bins — EMD = Σ|cumP_g − cumP| / (k−1) — flagged when
    it exceeds ``t``. The release gate l-diversity misses: a group can
    be diverse yet still skew far from the corpus distribution.

    Bin arithmetic is IDENTICAL on both engines (the round-5 KS-grid
    lesson): bin = least(floor((v−min)·k/(max−min)), k−1) on global
    min/max doubles. The group×bin grid is densified (explode of a
    k-element sequence per group) so zero-count bins contribute to the
    cumulative; every window runs over the |groups × k| relation."""
    from pyspark.sql import Window as W

    d = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    mm = d.groupBy().agg(F.min("_v").alias("_mn"), F.max("_v").alias("_mx"))
    binned = (
        d.crossJoin(F.broadcast(mm))
        .filter(F.col("_mx") > F.col("_mn"))
        .select(
            "_g",
            F.least(
                F.floor(
                    (F.col("_v") - F.col("_mn"))
                    * float(n_bins)
                    / (F.col("_mx") - F.col("_mn"))
                ),
                F.lit(n_bins - 1),
            ).cast("long").alias("_b"),
        )
    )
    gb = binned.groupBy("_g", "_b").agg(F.count(F.lit(1)).cast("double").alias("_c"))
    # The former shape referenced the contingency FOUR times (per-group
    # totals, per-bin totals, grand total, densify join) and Catalyst
    # re-expanded the scan+bin subtree per reference — the executed
    # plan carried 16 scan copies. One reference instead: collapse each
    # group's bins to a map (one shuffle), densify by exploding the
    # fixed 0..k-1 bin sequence against the map, and take per-bin /
    # grand totals as windows over the dense |groups × k| grid — the
    # dense grid's zero bins contribute nothing to those sums, and
    # every sum adds integer-valued doubles (exact far below 2^53), so
    # all probabilities are bit-identical to the join form.
    per_g = gb.groupBy("_g").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_b"), F.col("_c")))
        ).alias("_m"),
        F.sum("_c").alias("_ng"),
    )
    dense = per_g.select(
        "_g",
        "_ng",
        "_m",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_bins - 1).cast("long"))
        ).alias("_b"),
    ).select(
        "_g",
        "_ng",
        "_b",
        # try_element_at: missing bin → NULL → 0.0 (ANSI-safe lookup)
        F.coalesce(F.try_element_at("_m", F.col("_b")), F.lit(0.0)).alias("_c"),
    )
    # per-bin totals: a _b-partitioned window over the dense grid (k
    # partitions of |groups| rows — parallel and bounded at any group
    # cardinality; never an unpartitioned window, which would funnel
    # the whole grid through one task). Grand total: a one-row
    # broadcast aggregate of the per-group sums (the second and last
    # reference of the contingency subtree — down from four).
    tot = per_g.groupBy().agg(F.sum("_ng").alias("_nt"))
    wb = W.partitionBy("_b")
    grid = dense.crossJoin(F.broadcast(tot)).select(
        "_g",
        "_b",
        "_ng",
        (F.col("_c") / F.col("_ng")).alias("_p"),
        (F.sum("_c").over(wb) / F.col("_nt")).alias("_pg"),
    )
    w = W.partitionBy("_g").orderBy("_b").rowsBetween(W.unboundedPreceding, 0)
    cum = grid.select(
        "_g",
        "_ng",
        "_b",
        (F.sum("_p").over(w) - F.sum("_pg").over(w)).alias("_dc"),
    )
    return cum.groupBy(F.col("_g").alias(group_col)).agg(
        F.max("_ng").cast("long").alias("n"),
        F.round(F.sum(F.abs(F.col("_dc"))) / float(n_bins - 1), 6).alias("emd"),
        (F.sum(F.abs(F.col("_dc"))) / float(n_bins - 1) > F.lit(t)).alias(
            "violates_t"
        ),
    )


def ridge_regression_3f(
    df: DataFrame,
    y_col: str,
    x_cols: tuple[str, str, str],
    lam: float = 1.0,
    decimals: int = 6,
) -> DataFrame:
    """Closed-form ridge regression with three features: center
    everything, solve (XᵀX + λI)β = Xᵀy by Cramer's rule on the 3×3
    normal equations, recover the intercept from the means — the
    entire fit is ONE map-side-combined aggregation pass plus scalar
    arithmetic, the pattern for fitting small linear models on 100 TB
    without any iterative solver or collect.

    Every output is a ratio of moment sums (the summation-order rule);
    the λ ridge keeps the system well-conditioned so the Cramer
    cancellations don't amplify float noise. A singular system
    (det = 0, λ = 0 with collinear features) NULLs the coefficients.
    R² is computed on the centered system: 1 − SSE/Syy with
    SSE = Syy − 2βᵀb + βᵀSβ (S WITHOUT the ridge — the fit is
    penalized, the reported fit quality is not)."""
    x1, x2, x3 = (F.col(c).cast("double") for c in x_cols)
    y = F.col(y_col).cast("double")
    d = df.filter(
        y.isNotNull() & x1.isNotNull() & x2.isNotNull() & x3.isNotNull()
    ).select(
        y.alias("_y"), x1.alias("_x1"), x2.alias("_x2"), x3.alias("_x3")
    )
    c = {}
    cols = {"_y": F.col("_y"), "_x1": F.col("_x1"), "_x2": F.col("_x2"),
            "_x3": F.col("_x3")}
    aggs = [F.count(F.lit(1)).cast("double").alias("_n")]
    for name, col in cols.items():
        aggs.append(F.sum(col).alias(f"_s{name}"))
    for i, (ni, ci) in enumerate(cols.items()):
        for nj, cj in list(cols.items())[i:]:
            aggs.append(F.sum(ci * cj).alias(f"_s{ni}{nj}"))
    m = d.groupBy().agg(*aggs)

    n = F.col("_n")

    def cen(a: str, b: str) -> Column:
        # centered moment S_ab = Σab − ΣaΣb/n
        return F.col(f"_s{a}{b}") - F.col(f"_s{a}") * F.col(f"_s{b}") / n

    syy = cen("_y", "_y")
    a11 = cen("_x1", "_x1") + F.lit(lam)
    a22 = cen("_x2", "_x2") + F.lit(lam)
    a33 = cen("_x3", "_x3") + F.lit(lam)
    a12 = cen("_x1", "_x2")
    a13 = cen("_x1", "_x3")
    a23 = cen("_x2", "_x3")
    b1 = F.col("_s_y_x1") - F.col("_s_y") * F.col("_s_x1") / n
    b2 = F.col("_s_y_x2") - F.col("_s_y") * F.col("_s_x2") / n
    b3 = F.col("_s_y_x3") - F.col("_s_y") * F.col("_s_x3") / n

    det = (
        a11 * (a22 * a33 - a23 * a23)
        - a12 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * a23 - a22 * a13)
    )
    beta1 = F.try_divide(
        b1 * (a22 * a33 - a23 * a23)
        - a12 * (b2 * a33 - a23 * b3)
        + a13 * (b2 * a23 - a22 * b3),
        det,
    )
    beta2 = F.try_divide(
        a11 * (b2 * a33 - a23 * b3)
        - b1 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * b3 - b2 * a13),
        det,
    )
    beta3 = F.try_divide(
        a11 * (a22 * b3 - b2 * a23)
        - a12 * (a12 * b3 - b2 * a13)
        + b1 * (a12 * a23 - a22 * a13),
        det,
    )
    s11, s22, s33 = a11 - F.lit(lam), a22 - F.lit(lam), a33 - F.lit(lam)
    sse = (
        syy
        - 2.0 * (beta1 * b1 + beta2 * b2 + beta3 * b3)
        + (
            beta1 * (s11 * beta1 + a12 * beta2 + a13 * beta3)
            + beta2 * (a12 * beta1 + s22 * beta2 + a23 * beta3)
            + beta3 * (a13 * beta1 + a23 * beta2 + s33 * beta3)
        )
    )
    intercept = (
        F.col("_s_y")
        - beta1 * F.col("_s_x1")
        - beta2 * F.col("_s_x2")
        - beta3 * F.col("_s_x3")
    ) / n
    # ``decimals`` applies to the coefficient columns only (callers on
    # ill-scaled data pass 4 — the det-ratio amplifies summation noise
    # past a 6dp grid, see q_ridge_regression_price); r2 is a bounded
    # ratio and always rounds at 6dp. Single rounding — a 6dp-then-4dp
    # double round can cross a 4dp boundary the oracle's single round
    # does not.
    return m.select(
        n.cast("long").alias("n"),
        F.round(intercept, decimals).alias("intercept"),
        F.round(beta1, decimals).alias("beta_1"),
        F.round(beta2, decimals).alias("beta_2"),
        F.round(beta3, decimals).alias("beta_3"),
        F.when(syy > 0, F.round(1.0 - sse / syy, 6)).alias("r2"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str = "duration",
    observed_col: str = "observed",
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator over a
    (duration, observed) relation: one map-side-combined groupBy folds
    the data to the |distinct durations| relation, then the at-risk
    counts and the running product S(t) = Π (1 - d_i/n_i) come from
    window cumulatives OVER THAT TINY RELATION — the raw table is
    scanned exactly once and nothing row-proportional is sorted.

    The product runs as exp(Σ ln(1 - d/n)) restricted to positive
    terms, with a cumulative zero-term counter forcing S(t) = 0 from
    the first time every at-risk subject exits by event — Spark's
    ln(0) is NULL while DuckDB's is -inf, so the log-sum must never
    see a zero term on either engine. Emits one row per duration with
    at least one observed event: (t, n_at_risk, n_events, survival).
    Durations should be integers (e.g. whole days); survival rounds
    at 6dp (a product of <= |distinct t| factors, each a ratio of
    integers — summation-order noise is bounded far below the grid).
    """
    from pyspark.sql import Window as W

    t = F.col(duration_col).cast("long")
    g = (
        df.filter(t.isNotNull())
        .groupBy(t.alias("t"))
        .agg(
            F.count(F.lit(1)).alias("_exits"),
            F.sum(
                F.when(F.col(observed_col).cast("int") == 1, 1).otherwise(0)
            ).alias("n_events"),
        )
    )
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    total = F.sum("_exits").over(
        W.orderBy("t").rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )
    )
    n_at_risk = total - (F.sum("_exits").over(w) - F.col("_exits"))
    term = 1.0 - F.col("n_events") / F.col("n_at_risk").cast("double")
    staged = g.select(
        "t",
        "n_events",
        n_at_risk.alias("n_at_risk"),
    ).select(
        "t",
        "n_events",
        "n_at_risk",
        F.when(term > 0, F.log(term)).otherwise(F.lit(0.0)).alias("_lt"),
        F.when(term <= 0, 1).otherwise(0).alias("_z"),
    )
    surv = F.when(
        F.sum("_z").over(w) > 0, F.lit(0.0)
    ).otherwise(F.exp(F.sum("_lt").over(w)))
    return (
        staged.select(
            "t",
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            F.col("n_events").cast("long").alias("n_events"),
            F.round(surv, 6).alias("survival"),
        )
        .filter(F.col("n_events") > 0)
    )


def wasserstein_grid(
    df: DataFrame,
    value_col: str = "value",
    arm_col: str = "arm",
    grid_dp: int = 2,
) -> DataFrame:
    """1-Wasserstein (earth-mover) distance between the two arms'
    value distributions on a 10^-grid_dp grid: W1 = Σ |F_a - F_b| · Δx
    over the binned support. Like ks_two_sample, the data folds to a
    bounded per-grid-cell relation in one map-side pass (integer
    floor(value·10^dp) keys — both engines bin identically, the
    round-5 KS grid lesson applied), and the CDF cumulative runs over
    that bounded relation, never a row-proportional sort. Emits
    (n_a, n_b, w1) with w1 rounded 6dp — each term is a bounded
    |CDF gap| · cell width, so the sum's summation-order noise is
    orders below the grid."""
    from pyspark.sql import Window as W

    scale = float(10**grid_dp)
    v = F.col(value_col).cast("double")
    binned = df.filter(v.isNotNull()).select(
        F.floor(v * scale).cast("long").alias("xb"),
        F.col(arm_col).alias("_arm"),
    )
    g = binned.groupBy("xb").agg(
        F.sum(F.when(F.col("_arm") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0)).alias("c1"),
    )
    wcum = W.orderBy("xb").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("xb").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    # try_divide: a dataset where one arm is empty must yield a NULL
    # distance (DuckDB's x/0 is NULL), not an ANSI DIVIDE_BY_ZERO crash
    f0 = F.try_divide(F.sum("c0").over(wcum), F.sum("c0").over(wall))
    f1 = F.try_divide(F.sum("c1").over(wcum), F.sum("c1").over(wall))
    gap = (F.lead("xb").over(W.orderBy("xb")) - F.col("xb")) / F.lit(scale)
    c = g.select(
        F.sum("c0").over(wall).alias("_n0"),
        F.sum("c1").over(wall).alias("_n1"),
        (F.abs(f0 - f1) * gap).alias("_term"),
    )
    # a single shared grid cell has no gap rows: identical
    # distributions are W1 = 0, not NULL — but an EMPTY arm (every
    # term NULL through the null CDF) must stay NULL
    return c.groupBy().agg(
        F.max("_n0").cast("long").alias("n_a"),
        F.max("_n1").cast("long").alias("n_b"),
        F.when(
            (F.max("_n0") > 0) & (F.max("_n1") > 0),
            F.round(F.coalesce(F.sum("_term"), F.lit(0.0)), 6),
        ).alias("w1"),
    )


def cramers_v(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cramér's V association strength between two categoricals:
    V = √(χ² / (N · (min(r,c) − 1))), the bounded-[0,1] effect size
    the chi-square statistic alone doesn't give. Same single-scan
    contingency plan as chi_square_independence (``_contingency_chi2``);
    a single-level factor on either side NULLs V (0/0) via
    try_divide."""
    agg = _contingency_chi2(df, a_col, b_col)
    mindim = F.least(F.col("_r"), F.col("_k")) - 1
    return agg.select(
        F.round(F.col("_chi2"), 6).alias("chi2"),
        ((F.col("_r") - 1) * (F.col("_k") - 1)).cast("long").alias("dof"),
        F.col("_n").cast("long").alias("n"),
        F.col("_r").cast("long").alias("n_rows_levels"),
        F.col("_k").cast("long").alias("n_col_levels"),
        F.round(
            F.sqrt(
                F.try_divide(
                    F.col("_chi2"), F.col("_n") * mindim.cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


def mcnemar_test(
    df: DataFrame,
    before_col: str = "before",
    after_col: str = "after",
) -> DataFrame:
    """McNemar's test for paired binary outcomes (one row per unit,
    0/1 before/after flags): the statistic lives entirely on the
    discordant counts b = 1→0 and c = 0→1, χ²_cc = (|b−c|−1)²/(b+c)
    with the standard continuity correction. One map-side-combined
    aggregation over the pair relation; b + c = 0 NULLs the statistic
    via try_divide (no discordance = no test, not a zero)."""
    bf = F.col(before_col).cast("int")
    af = F.col(after_col).cast("int")
    agg = df.groupBy().agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when((bf == 1) & (af == 0), 1).otherwise(0)).alias("_b"),
        F.sum(F.when((bf == 0) & (af == 1), 1).otherwise(0)).alias("_c"),
    )
    num = (F.abs(F.col("_b") - F.col("_c")) - 1) ** 2
    return agg.select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("_b").cast("long").alias("n_yes_no"),
        F.col("_c").cast("long").alias("n_no_yes"),
        F.round(
            F.try_divide(
                num.cast("double"),
                (F.col("_b") + F.col("_c")).cast("double"),
            ),
            6,
        ).alias("mcnemar_chi2_cc"),
    )


def decision_stump(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    grid: int = 10,
) -> DataFrame:
    """Best single-threshold split of a numeric feature for a binary
    label by information gain — the one-node decision tree a feature-
    relevance pass fits per candidate column before any real training.

    Candidate thresholds are the feature's values binned to a fixed
    1/``grid`` lattice (``floor(x · grid)``), so the search runs over
    the |distinct bins| contingency relation — one scan to build it,
    cumulative windows over the bounded relation, never a per-row
    sort. Gain = H(parent) − Σ weighted child entropies. The argmax
    ranks on the 9dp-ROUNDED gain with the bin as tiebreak (the
    BH-FDR lesson: exp/ln can differ by an ulp between libm and the
    JVM, so ordering on raw doubles is engine-unstable). Splits with
    an empty side are excluded; a single-bin relation returns the
    no-split row with NULL gain."""
    from pyspark.sql import Window as W

    y = F.col(label_col).cast("long")
    b = F.floor(F.col(feature_col) * grid).cast("long")
    g = (
        df.filter(F.col(feature_col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.sum(y).alias("np"), F.count(F.lit(1)).alias("n"))
    )
    wcum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cp = F.sum("np").over(wcum)
    cn = F.sum("n").over(wcum)
    tp = F.sum("np").over(wall)
    tn = F.sum("n").over(wall)

    def _h(p: Column) -> Column:
        # binary entropy with 0·ln0 = 0
        return -(
            F.when((p > 0) & (p < 1), p * F.log(p) + (1 - p) * F.log(1 - p))
            .otherwise(F.lit(0.0))
        )

    parent = _h(tp / tn)
    left = _h(cp / cn)
    right = _h((tp - cp) / (tn - cn))
    gain = F.when(
        (F.col("_cn") > 0) & (F.col("_cn") < F.col("_tn")),
        F.col("_parent")
        - (F.col("_cn") / F.col("_tn")) * F.col("_left")
        - ((F.col("_tn") - F.col("_cn")) / F.col("_tn")) * F.col("_right"),
    )
    scored = g.select(
        "bin",
        cn.alias("_cn"),
        tn.alias("_tn"),
        tp.alias("_tp"),
        parent.alias("_parent"),
        left.alias("_left"),
        right.alias("_right"),
    ).withColumn("_gain", gain)
    wbest = W.orderBy(F.round(F.col("_gain"), 9).desc_nulls_last(), F.col("bin").asc())
    best = scored.withColumn("_rk", F.row_number().over(wbest)).filter(
        F.col("_rk") == 1
    )
    return best.select(
        ((F.col("bin") + 1) / F.lit(float(grid))).alias("threshold"),
        F.col("_cn").cast("long").alias("n_left"),
        (F.col("_tn") - F.col("_cn")).cast("long").alias("n_right"),
        F.col("_tp").cast("long").alias("n_pos"),
        F.round(F.col("_parent"), 6).alias("parent_entropy"),
        F.round(F.col("_gain"), 6).alias("info_gain"),
    )


def fisher_exact_2x2(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Fisher's exact test on the 2×2 contingency table of two binary
    columns: cell counts, the sample odds ratio, and the two-sided
    p-value (sum of hypergeometric pmfs ≤ the observed table's pmf,
    the scipy/R convention, with a (1+1e-7) inclusion slack so a
    libm-vs-JVM ulp in ln can never flip a table in or out of the
    tail sum).

    Spark has no lgamma, so log-factorials materialize as a RELATION:
    ln over sequence(1, n) with an ordered cumulative window — an
    |n|-sized table built once and broadcast into the |k-grid| pmf
    lookups (8 equi-joins of a ≤min(margin)-row grid). Everything
    after the one contingency aggregation is arithmetic over
    broadcast-tiny relations; the corpus is scanned exactly once.
    """
    from pyspark.sql import Window as W

    r = F.col(row_col).cast("int")
    c = F.col(col_col).cast("int")
    tab = df.groupBy().agg(
        F.sum(((r == 1) & (c == 1)).cast("long")).alias("a"),
        F.sum(((r == 1) & (c == 0)).cast("long")).alias("b"),
        F.sum(((r == 0) & (c == 1)).cast("long")).alias("cc"),
        F.sum(((r == 0) & (c == 0)).cast("long")).alias("d"),
    )
    # One row; its subtree is the only corpus scan in the operator.
    # Materialized per invocation: m is referenced by the lf builder,
    # the k-grid AND (via tab) the output projection, and lf itself is
    # broadcast NINE times below — without the pin Catalyst re-expands
    # the corpus aggregation per reference (measured on
    # fisher_exact_purchase_cohort: a 2,432-line physical plan with 78
    # scan copies and 160 Exchanges; round-12 paired A/B below).
    m = tab.select(
        "a", "b", "cc", "d",
        (F.col("a") + F.col("b")).alias("r1"),
        (F.col("cc") + F.col("d")).alias("r2"),
        (F.col("a") + F.col("cc")).alias("c1"),
        (F.col("b") + F.col("d")).alias("c2"),
        (F.col("a") + F.col("b") + F.col("cc") + F.col("d")).alias("n"),
    ).localCheckpoint()
    tab = m.select("a", "b", "cc", "d")
    # log-factorial relation lf(i) = ln(i!) for i in 0..n — |n| rows,
    # looked up by 8 broadcast equi-joins: materialized once
    lf = (
        m.select(F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"))
        .withColumn(
            "lf",
            F.sum(F.log(F.col("i").cast("double"))).over(
                W.orderBy("i").rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .unionByName(
            m.select(F.lit(0).cast("long").alias("i"), F.lit(0.0).alias("lf"))
        )
        .localCheckpoint()
    )

    def _lf(expr, alias):
        return (
            F.broadcast(
                lf.select(
                    F.col("i").alias(f"_i_{alias}"),
                    F.col("lf").alias(alias),
                )
            ),
            expr,
        )

    kgrid = m.select(
        "*",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.col("r1") - F.col("c2")),
                F.least(F.col("r1"), F.col("c1")),
            )
        ).alias("k"),
    )
    # 8 broadcast lookups into the lf relation
    lookups = {
        "lf_r1": F.col("r1"),
        "lf_r2": F.col("r2"),
        "lf_c1": F.col("c1"),
        "lf_c2": F.col("c2"),
        "lf_n": F.col("n"),
        "lf_k": F.col("k"),
        "lf_r1k": F.col("r1") - F.col("k"),
        "lf_c1k": F.col("c1") - F.col("k"),
        "lf_rest": F.col("c2") - F.col("r1") + F.col("k"),
    }
    cur = kgrid
    for alias, expr in lookups.items():
        rel, e = _lf(expr, alias)
        cur = cur.join(rel, e == F.col(f"_i_{alias}")).drop(f"_i_{alias}")
    logpmf = (
        F.col("lf_r1")
        + F.col("lf_r2")
        + F.col("lf_c1")
        + F.col("lf_c2")
        - F.col("lf_n")
        - F.col("lf_k")
        - F.col("lf_r1k")
        - F.col("lf_c1k")
        - F.col("lf_rest")
    )
    # ≤min(margin) rows; referenced by BOTH the observed-table filter
    # and the tail sum — pin so the 8-join chain executes once
    scored = cur.withColumn("pmf", F.exp(logpmf)).localCheckpoint()
    obs = scored.filter(F.col("k") == F.col("a")).select(
        F.col("pmf").alias("pmf_obs")
    )
    p = (
        scored.crossJoin(F.broadcast(obs))
        .groupBy()
        .agg(
            F.sum(
                F.when(
                    F.col("pmf") <= F.col("pmf_obs") * (1.0 + 1e-7),
                    F.col("pmf"),
                ).otherwise(0.0)
            ).alias("_p")
        )
    )
    return tab.crossJoin(F.broadcast(p)).select(
        F.col("a"),
        F.col("b"),
        F.col("cc").alias("c"),
        F.col("d"),
        F.round(
            F.try_divide(
                (F.col("a") * F.col("d")).cast("double"),
                (F.col("b") * F.col("cc")).cast("double"),
            ),
            6,
        ).alias("odds_ratio"),
        F.round(F.least(F.lit(1.0), F.col("_p")), 6).alias("p_two_sided"),
    )


def mann_kendall_trend(
    df: DataFrame,
    key_col: str,
    order_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key Mann-Kendall monotonic-trend test over an ordered series:
    S = Σ_{i<j} sign(y_j − y_i), the tie-corrected variance, and the
    continuity-corrected normal z — the nonparametric companion to
    :func:`theil_sen_trend` (MK tests the trend's existence, Theil-Sen
    sizes it).

    Engine-exactness: S is an INTEGER sum of {-1,0,+1} flags (never a
    float signum sum), the tie-corrected variance numerator
    ``var18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5)`` is exact integer
    arithmetic, and z divides once at the end — nothing depends on
    summation order. Distributed shape mirrors theil_sen_trend: a
    PER-KEY self-join on the key (pairs form inside each key's bounded
    series, O(m²) per key where m is the series length — use
    pre-aggregated hourly/daily series, never raw events)."""
    a = df.select(
        F.col(key_col).alias("_k"),
        F.col(order_col).alias("_o"),
        F.col(y_col).alias("_y"),
    )
    b = a.select(
        F.col("_k").alias("_k2"),
        F.col("_o").alias("_o2"),
        F.col("_y").alias("_y2"),
    )
    sg = (
        F.when(F.col("_y2") > F.col("_y"), 1)
        .when(F.col("_y2") < F.col("_y"), -1)
        .otherwise(0)
    )
    s = (
        a.join(
            b,
            F.col("_k").eqNullSafe(F.col("_k2"))
            & (F.col("_o") < F.col("_o2")),
        )
        .groupBy("_k")
        .agg(
            F.sum(sg).cast("long").alias("s_stat"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    n = a.groupBy("_k").agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    ties = (
        a.groupBy("_k", "_y")
        .agg(F.count(F.lit(1)).cast("long").alias("_t"))
        .groupBy("_k")
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).cast("long").alias("_tie18")
        )
    )
    s = s.withColumnRenamed("_k", "_ks")
    ties = ties.withColumnRenamed("_k", "_kt")
    j = (
        n.join(s, F.col("_k").eqNullSafe(F.col("_ks")))
        .drop("_ks")
        .join(ties, F.col("_k").eqNullSafe(F.col("_kt")))
        .drop("_kt")
    )
    var18 = (
        F.col("n_points")
        * (F.col("n_points") - 1)
        * (2 * F.col("n_points") + 5)
        - F.col("_tie18")
    ).cast("long")
    sd = F.sqrt(F.col("var18") / 18.0)
    z = (
        F.when(F.col("s_stat") > 0, F.round((F.col("s_stat") - 1) / sd, 6))
        .when(F.col("s_stat") < 0, F.round((F.col("s_stat") + 1) / sd, 6))
        .otherwise(F.lit(0.0))
    )
    return (
        j.withColumn("var18", var18)
        .select(
            F.col("_k").alias(key_col),
            "n_points",
            "n_pairs",
            "s_stat",
            "var18",
            F.when(F.col("var18") > 0, z).otherwise(
                F.when(F.col("s_stat") == 0, F.lit(0.0))
            ).alias("z"),
        )
    )


def wilcoxon_signed_rank(
    pairs: DataFrame,
    id_col: str,
    d_col: str,
) -> DataFrame:
    """Wilcoxon signed-rank test over INTEGER paired differences: the
    matched-pairs alternative to the paired t-test. ``d_col`` must be
    an exact integer difference (digest the raw floats to milli-units
    per row BEFORE differencing — the caller owns that contract), so
    ranks, tie groups, and both test-statistic numerators are exact
    integer arithmetic on any engine; z divides once at the end.

    Zero differences are excluded (standard practice); ties in |d|
    take midranks, carried as 2×avg-rank = min_rank + max_rank of the
    tie run so the statistic stays integral. Emits the integer
    diagnostics (w2_plus = 2·W⁺, num4 = 4(W⁺−μ), var48 = 48σ²) plus
    the continuity-free normal z. The N³-magnitude terms (Σ(t³−t) and
    2n(n+1)(2n+1)) ride int128 intermediates — BIGINT would throw past
    ~1.3M pairs under ANSI — and var48 is emitted as DOUBLE (exact
    cast) so no output column re-narrows. Shape: one rank window over the
    non-zero pairs plus a tie-group aggregate — a single exchange on
    a per-key relation that is already small (one row per subject)."""
    from pyspark.sql import Window as W

    nz = pairs.select(
        F.col(id_col).alias("_id"), F.col(d_col).cast("long").alias("_d")
    ).filter(F.col("_d") != 0)
    nz = nz.withColumn("_ad", F.abs(F.col("_d")))
    rk = nz.withColumn(
        "_rk", F.row_number().over(W.orderBy("_ad", "_id"))
    )
    grp = W.partitionBy("_ad")
    rk = rk.withColumn(
        "_r2", F.min("_rk").over(grp) + F.max("_rk").over(grp)
    )
    tie = (
        rk.groupBy("_ad")
        .agg(F.count(F.lit(1)).cast("long").alias("_t"))
        .agg(
            # no non-zero pair has no tie group: 0, not NULL
            F.coalesce(
                F.sum(
                    F.col("_t").cast("decimal(38,0)") * F.col("_t")
                    * F.col("_t")
                    - F.col("_t")
                ),
                F.lit(0),
            ).cast("decimal(38,0)").alias("tie3")
        )
    )
    agg = rk.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("_d") > 0, F.col("_r2")).otherwise(0))
        .cast("long")
        .alias("w2_plus"),
    )
    j = agg.crossJoin(F.broadcast(tie))
    n = F.col("n_pairs")
    num4 = (2 * F.col("w2_plus") - n * (n + 1)).cast("long")
    var48 = (
        F.lit(2).cast("decimal(38,0)") * n * (n + 1) * (2 * n + 1)
        - F.col("tie3")
    )
    return j.select(
        "n_pairs",
        "w2_plus",
        num4.alias("num4"),
        var48.cast("double").alias("var48"),
        F.when(
            var48 > 0,
            F.round(
                (num4 / 4.0) / F.sqrt(var48.cast("double") / 48.0), 6
            ),
        ).alias("z"),
    )
