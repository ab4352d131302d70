"""Distributed model-evaluation metrics over scored relations.

A training-data engine's output gets consumed by models whose quality
must be measured at the same scale the data was built at — scoring
100 TB of eval traffic and THEN computing AUC/calibration on a single
node defeats the point. These operators keep the whole computation
plan-side: rank statistics via one window shuffle, calibration and
threshold sweeps via groupBy over pure expressions. No reference
analog (the reference delegates metrics to torch-side code, e.g.
EventStreamML's pytorch eval loop); declared-new per SURVEY §2.8b.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def binary_auc(
    scored: DataFrame,
    by: str | None = None,
) -> DataFrame:
    """ROC AUC via the Mann-Whitney U rank statistic with midrank tie
    handling — exactly the trapezoidal-ROC AUC, no curve construction:
    AUC = (Σ midrank(positives) − n⁺(n⁺+1)/2) / (n⁺·n⁻).

    Distributed shape: ONE shuffle (the rank window, partitioned by
    the group key and ordered by score); everything after is a
    map-side-combined groupBy. Sorting within key partitions is how a
    1000-executor cluster ranks 10¹¹ scores — there is no global sort
    and no driver collection. Ties get the midrank (rank_min +
    rank_max)/2, so duplicate scores are handled exactly, not by
    epsilon jitter. Groups with a single class emit NULL auc (the
    statistic is undefined), not a crash.
    """
    keys = [by] if by else []
    part = W.partitionBy(*keys) if keys else W.partitionBy()
    rk_min = F.rank().over(part.orderBy(F.col("score").asc()))
    n_ties = F.count(F.lit(1)).over(
        part.orderBy(F.col("score").asc()).rangeBetween(0, 0)
    )
    midrank = rk_min + (n_ties - F.lit(1)) / F.lit(2.0)
    ranked = scored.select(
        *keys,
        F.col("label").cast("int").alias("_y"),
        midrank.alias("_r"),
    )
    agg = ranked.groupBy(*keys).agg(
        F.sum(F.when(F.col("_y") == 1, F.col("_r"))).alias("_rpos"),
        F.sum(F.when(F.col("_y") == 1, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("_y") == 0, 1).otherwise(0)).cast("long").alias("n_neg"),
    )
    # n_pos stays left of the double literals so the products run in
    # DOUBLE — a BIGINT n_pos*(n_pos+1) would throw past ~3e9 positives
    auc = (
        F.col("_rpos")
        - F.col("n_pos").cast("double") * (F.col("n_pos") + 1) / 2.0
    ) / (F.col("n_pos").cast("double") * F.col("n_neg"))
    return agg.select(
        *keys,
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0), F.round(auc, 6)
        ).alias("auc"),
    )


def calibration_bins(
    scored: DataFrame,
    label_col: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins: equal-width probability buckets with
    (count, mean predicted, empirical rate, |gap|) per bin — the
    substrate for ECE = Σ (nᵇ/N)·|conf(b) − acc(b)| and for the
    calibration plot itself. One map-side-combined groupBy; scores at
    exactly 1.0 fold into the top bin rather than spilling into an
    n_bins+1st."""
    b = F.least(
        F.floor(F.col("score") * n_bins).cast("long"), F.lit(n_bins - 1)
    )
    return (
        scored.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.col("score")), 6).alias("mean_score"),
            F.round(F.avg(F.col(label_col).cast("double")), 6).alias("event_rate"),
        )
        .withColumn(
            "abs_gap", F.round(F.abs(F.col("mean_score") - F.col("event_rate")), 6)
        )
    )


def threshold_metrics(
    scored: DataFrame,
    thresholds: list[float],
    label_col: str = "label",
) -> DataFrame:
    """Operating-point sweep: precision / recall / F1 at each cut in
    ``thresholds``. The threshold list rides as an exploded literal
    array (|thresholds| ≪ rows — a bounded fan-out, not a join), so a
    single pass over the scored relation feeds every operating point;
    one groupBy on the threshold key aggregates the confusion counts.
    Zero-denominator points emit NULL, not NaN."""
    t = F.explode(
        F.array(*[F.lit(float(x)) for x in sorted(thresholds)])
    ).alias("threshold")
    y = F.col(label_col).cast("int")
    pred = (F.col("score") >= F.col("threshold")).cast("int")
    base = scored.select(y.alias("_y"), F.col("score"), t).select(
        "threshold",
        (F.col("_y") * pred).alias("_tp"),
        ((1 - F.col("_y")) * pred).alias("_fp"),
        (F.col("_y") * (1 - pred)).alias("_fn"),
    )
    agg = base.groupBy("threshold").agg(
        F.sum("_tp").cast("long").alias("tp"),
        F.sum("_fp").cast("long").alias("fp"),
        F.sum("_fn").cast("long").alias("fn"),
    )
    # try_divide: 0-denominator operating points are NULL, and ANSI
    # mode (Spark 4 default) would otherwise throw on the 0/0.
    prec = F.try_divide(F.col("tp"), F.col("tp") + F.col("fp"))
    rec = F.try_divide(F.col("tp"), F.col("tp") + F.col("fn"))
    return agg.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(F.try_divide(2 * prec * rec, prec + rec), 6).alias("f1"),
    )

def ndcg_at_k(
    results: DataFrame,
    k: int = 10,
) -> DataFrame:
    """nDCG@k per query over a (query, item, score, graded-relevance)
    relation: DCG@k = Σ_{i≤k} (2^rel−1)/log2(i+1) down the score
    ranking, IDCG@k the same sum down the ideal (relevance-sorted)
    ranking, nDCG = DCG/IDCG.

    Distributed shape: two rank windows over the SAME partitioning key
    (the query id), so Catalyst plans one exchange and two sorts — no
    per-query collection, no cross-query coordination; 10⁹ queries
    scale linearly. Ranking ties break on the item's natural order via
    a deterministic secondary sort fed by the caller (score desc,
    item asc) so both rankings are reproducible. Queries whose IDCG is
    0 (no relevant items) emit NULL, not NaN.
    """
    part = W.partitionBy("query_id")
    item_cols = [
        c for c in results.columns if c not in ("query_id", "score", "rel")
    ]
    tiebreak = [F.col(c).asc() for c in item_cols]
    r_score = F.row_number().over(
        part.orderBy(F.col("score").desc(), *tiebreak)
    )
    r_ideal = F.row_number().over(
        part.orderBy(F.col("rel").desc(), *tiebreak)
    )
    gain = F.pow(F.lit(2.0), F.col("rel").cast("double")) - 1.0
    ranked = results.select(
        "query_id",
        gain.alias("_g"),
        r_score.alias("_rs"),
        r_ideal.alias("_ri"),
    )
    disc = lambda r: F.log2(r.cast("double") + 1.0)  # noqa: E731
    agg = ranked.groupBy("query_id").agg(
        F.sum(F.when(F.col("_rs") <= k, F.col("_g") / disc(F.col("_rs")))).alias(
            "_dcg"
        ),
        F.sum(F.when(F.col("_ri") <= k, F.col("_g") / disc(F.col("_ri")))).alias(
            "_idcg"
        ),
    )
    return agg.select(
        "query_id",
        F.round(F.coalesce(F.col("_dcg"), F.lit(0.0)), 6).alias("dcg"),
        F.round(F.coalesce(F.col("_idcg"), F.lit(0.0)), 6).alias("idcg"),
        F.round(F.try_divide(F.col("_dcg"), F.col("_idcg")), 6).alias("ndcg"),
    )


def multiclass_metrics(preds: DataFrame) -> DataFrame:
    """Per-class precision / recall / F1 from a (label, pred) relation.

    ONE map-side-combined groupBy over the data reduces 10¹¹ rows to a
    |C|² confusion relation; the per-class one-vs-rest counts (tp =
    diagonal, fp = column sum − tp, fn = row sum − tp) then derive from
    that tiny relation with two more groupBys that never touch the raw
    data again. Classes appearing only in labels or only in preds still
    get a row (full outer merge of the two marginals), with NULL where
    the ratio is 0/0 — macro-F1 is then a trivial avg over this output.
    """
    counts = preds.groupBy(
        F.col("label").alias("_l"), F.col("pred").alias("_p")
    ).agg(F.count(F.lit(1)).alias("_n"))
    # Both marginals from ONE pass over the confusion relation: each
    # (label, pred, n) row is exploded into a label-role and a
    # pred-role contribution and a single clazz groupBy reduces them.
    # The old two-groupBy + outer-join form referenced `counts` twice,
    # and Catalyst re-expands the ENTIRE preds subtree per reference
    # (for the language-ID callers that is the per-doc text heuristic
    # pipeline, executed 2x). Sums are exact integers, so the values
    # are order-independent and identical to the joined form (a class
    # missing from one role contributes the same coalesced 0).
    expl = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_l").alias("clazz"),
                    F.lit(True).alias("_is_label"),
                    F.col("_n").alias("_n"),
                    (F.col("_l") == F.col("_p")).alias("_diag"),
                ),
                F.struct(
                    F.col("_p").alias("clazz"),
                    F.lit(False).alias("_is_label"),
                    F.col("_n").alias("_n"),
                    F.lit(False).alias("_diag"),
                ),
            )
        ).alias("_e")
    ).select("_e.*")
    m = expl.groupBy("clazz").agg(
        F.coalesce(
            F.sum(F.when(F.col("_is_label") & F.col("_diag"), F.col("_n"))),
            F.lit(0),
        ).cast("long").alias("tp"),
        F.coalesce(
            F.sum(F.when(F.col("_is_label"), F.col("_n"))), F.lit(0)
        ).cast("long").alias("n_label"),
        F.coalesce(
            F.sum(F.when(~F.col("_is_label"), F.col("_n"))), F.lit(0)
        ).cast("long").alias("n_pred"),
    )
    prec = F.try_divide(F.col("tp"), F.col("n_pred"))
    rec = F.try_divide(F.col("tp"), F.col("n_label"))
    return m.select(
        "clazz",
        "tp",
        "n_label",
        "n_pred",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(F.try_divide(2 * prec * rec, prec + rec), 6).alias("f1"),
    )


def average_precision_at_k(
    results: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Average precision @k per query (the per-query term of MAP):
    AP = Σ_{i≤k, rel(i)} P(i) / min(R, k) with P(i) the precision at
    cut i down the score ranking and R the query's total relevant
    count. Binary relevance: rel > 0.

    Same distributed shape as nDCG: one rank window on the query key
    (deterministic item tiebreak) plus a cumulative-hit window over the
    SAME partitioning — Catalyst plans a single exchange; the final
    groupBy is map-side combined. Queries with zero relevant items
    emit NULL ap."""
    part = W.partitionBy("query_id")
    item_cols = [
        c for c in results.columns if c not in ("query_id", "score", "rel")
    ]
    tiebreak = [F.col(c).asc() for c in item_cols]
    order = part.orderBy(F.col("score").desc(), *tiebreak)
    rk = F.row_number().over(order)
    hit = (F.col("rel") > 0).cast("int")
    cum_hits = F.sum(hit).over(order.rowsBetween(W.unboundedPreceding, 0))
    ranked = results.select(
        "query_id",
        hit.alias("_h"),
        rk.alias("_rk"),
        cum_hits.alias("_ch"),
    )
    agg = ranked.groupBy("query_id").agg(
        F.sum(
            F.when(
                (F.col("_rk") <= k) & (F.col("_h") == 1),
                F.col("_ch") / F.col("_rk"),
            )
        ).alias("_psum"),
        F.sum("_h").cast("long").alias("n_rel"),
    )
    denom = F.least(F.col("n_rel"), F.lit(k))
    return agg.select(
        "query_id",
        "n_rel",
        F.round(
            F.try_divide(F.coalesce(F.col("_psum"), F.lit(0.0)), denom), 6
        ).alias("ap"),
    )


def regression_metrics(
    df: DataFrame, y_col: str, yhat_col: str, by: str
) -> DataFrame:
    """Per-group regression eval: RMSE, MAE, MAPE and R² of a
    prediction column against truth — the standard forecast/regression
    readout. One map-side-combined groupBy folds the data to per-group
    moment sums; every emitted number is a RATIO of those sums (the
    summation-order rule: raw SS never leaves the plan). R² uses the
    moment identity Σ(y−ȳ)² = Σy² − (Σy)²/n; a constant-truth group
    NULLs R² instead of dividing by zero. Rows with NULL prediction or
    truth are excluded from every metric (count rides along as n)."""
    d = df.select(
        F.col(by),
        F.col(y_col).cast("double").alias("_y"),
        F.col(yhat_col).cast("double").alias("_f"),
    ).filter(F.col("_y").isNotNull() & F.col("_f").isNotNull())
    e = F.col("_y") - F.col("_f")
    agg = d.groupBy(by).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(e * e).alias("_se2"),
        F.sum(F.abs(e)).alias("_sae"),
        F.sum(F.try_divide(F.abs(e), F.abs(F.col("_y")))).alias("_sape"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    sst = F.col("_syy") - F.col("_sy") * F.col("_sy") / F.col("_n")
    return agg.select(
        F.col(by),
        F.col("_n").cast("long").alias("n"),
        F.round(F.sqrt(F.col("_se2") / F.col("_n")), 6).alias("rmse"),
        F.round(F.col("_sae") / F.col("_n"), 6).alias("mae"),
        F.round(F.col("_sape") / F.col("_n"), 6).alias("mape"),
        F.when(
            sst > 0, F.round(1.0 - F.col("_se2") / sst, 6)
        ).alias("r2"),
    )


def brier_decomposition(
    df: DataFrame, y_col: str, p_col: str, n_bins: int = 10
) -> DataFrame:
    """Murphy decomposition of the Brier score over fixed-width
    probability bins: BS = reliability − resolution + uncertainty
    (the binned identity), where reliability = Σ n_k(p̄_k−ȳ_k)²/n,
    resolution = Σ n_k(ȳ_k−ȳ)²/n, uncertainty = ȳ(1−ȳ) — the readout
    that says WHY a model's probabilities are bad (miscalibrated vs
    undiscriminating). The directly-computed mean (p−y)² rides along;
    with binned p̄ it differs from the identity by the within-bin
    variance of p (emitted as within_bin_var so the identity is
    checkable). Bins are least(floor(p·k), k−1) — fixed arithmetic,
    both engines identical; one groupBy to the k-bin relation, then
    arithmetic on k rows."""
    b = F.least(
        F.floor(F.col(p_col) * float(n_bins)), F.lit(n_bins - 1)
    ).cast("long")
    d = df.select(
        F.col(y_col).cast("double").alias("_y"),
        F.col(p_col).cast("double").alias("_p"),
        b.alias("_b"),
    ).filter(F.col("_y").isNotNull() & F.col("_p").isNotNull())
    binned = d.groupBy("_b").agg(
        F.count(F.lit(1)).cast("double").alias("_nk"),
        F.sum("_y").alias("_syk"),
        F.sum("_p").alias("_spk"),
        F.sum(
            (F.col("_p") - F.col("_y")) * (F.col("_p") - F.col("_y"))
        ).alias("_sbk"),
        F.sum(F.col("_p") * F.col("_p")).alias("_sppk"),
    )
    tot = binned.groupBy().agg(
        F.sum("_nk").alias("_n"),
        F.sum("_syk").alias("_sy"),
        F.sum("_sbk").alias("_sb"),
        F.sum(
            (F.col("_spk") / F.col("_nk") - F.col("_syk") / F.col("_nk"))
            * (F.col("_spk") / F.col("_nk") - F.col("_syk") / F.col("_nk"))
            * F.col("_nk")
        ).alias("_rel"),
        F.sum(
            F.col("_nk")
            * (F.col("_syk") / F.col("_nk")) * (F.col("_syk") / F.col("_nk"))
        ).alias("_res_part"),
        F.sum(
            F.col("_sppk")
            - F.col("_spk") * F.col("_spk") / F.col("_nk")
        ).alias("_wvar"),
    )
    ybar = F.col("_sy") / F.col("_n")
    return tot.select(
        F.col("_n").cast("long").alias("n"),
        F.round(F.col("_sb") / F.col("_n"), 6).alias("brier"),
        F.round(F.col("_rel") / F.col("_n"), 6).alias("reliability"),
        F.round(
            F.col("_res_part") / F.col("_n") - ybar * ybar, 6
        ).alias("resolution"),
        F.round(ybar * (1.0 - ybar), 6).alias("uncertainty"),
        F.round(F.col("_wvar") / F.col("_n"), 6).alias("within_bin_var"),
    )


def cohens_kappa(preds: DataFrame) -> DataFrame:
    """Cohen's kappa chance-corrected agreement between two labelings:
    κ = (p_o − p_e)/(1 − p_e) with p_o the diagonal mass and p_e the
    product-of-marginals mass Σ_k (row_k · col_k)/N². Same
    single-scan confusion reduction as multiclass_metrics — one
    map-side-combined groupBy to the |C|² relation, marginals reduced
    from that tiny relation. Perfect chance agreement
    (p_e = 1, a single shared class) NULLs κ via try_divide rather
    than fabricating 0/0."""
    counts = preds.groupBy(
        F.col("label").alias("_l"), F.col("pred").alias("_p")
    ).agg(F.count(F.lit(1)).cast("double").alias("_n"))
    # p_e = Σ_k row_k · col_k / N² where k ranges over classes seen in
    # EITHER role. ONE pass over the confusion relation: each (l, p, n)
    # row explodes into a label-role and a pred-role contribution, a
    # clazz groupBy yields both marginals plus the diagonal mass, and a
    # global aggregate folds them to (N, diag, Σ row·col). The old
    # three-reference form (by_l, by_p, tot) re-expanded the ENTIRE
    # preds subtree per reference — 3 executions of the language-ID
    # text pipeline per call. All sums are exact integers carried in
    # doubles (< 2^53), so every value is order-independent and
    # bit-identical to the joined form (a class missing from one role
    # contributes the same coalesced 0 to the product).
    expl = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_l").alias("clazz"),
                    F.lit(True).alias("_is_label"),
                    F.col("_n").alias("_n"),
                    (F.col("_l") == F.col("_p")).alias("_diag_f"),
                ),
                F.struct(
                    F.col("_p").alias("clazz"),
                    F.lit(False).alias("_is_label"),
                    F.col("_n").alias("_n"),
                    F.lit(False).alias("_diag_f"),
                ),
            )
        ).alias("_e")
    ).select("_e.*")
    per_class = expl.groupBy("clazz").agg(
        F.coalesce(
            F.sum(F.when(F.col("_is_label"), F.col("_n"))), F.lit(0.0)
        ).alias("_row"),
        F.coalesce(
            F.sum(F.when(~F.col("_is_label"), F.col("_n"))), F.lit(0.0)
        ).alias("_col"),
        F.coalesce(
            F.sum(
                F.when(F.col("_is_label") & F.col("_diag_f"), F.col("_n"))
            ),
            F.lit(0.0),
        ).alias("_diag_n"),
    )
    j = per_class.groupBy().agg(
        F.sum("_row").alias("_nt"),
        F.sum("_diag_n").alias("_diag"),
        F.sum(F.col("_row") * F.col("_col")).alias("_sum_rc"),
    )
    po = F.col("_diag") / F.col("_nt")
    pe = F.col("_sum_rc") / (F.col("_nt") * F.col("_nt"))
    return j.select(
        F.col("_nt").cast("long").alias("n"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round(F.try_divide(po - pe, 1.0 - pe), 6).alias("kappa"),
    )


def kendall_tau_groups(
    df: DataFrame,
    group_col: str,
    item_col: str,
    score_a_col: str,
    score_b_col: str,
) -> DataFrame:
    """Per-group Kendall tau-a rank agreement between two scoring
    functions over a BOUNDED per-group item set (hours of day, top-k
    candidates, ...): concordant/discordant pairs via a within-group
    self-join on item_i < item_j — O(k²) per group with k bounded by
    construction, never a cross-group pair. Ties on either score
    count as neither (tau-a: denominator stays k(k−1)/2). Scores
    should be exact integers (counts, integer-scaled sums) so the
    pairwise comparisons are bit-identical across engines — float
    scores risk summation-order rank flips at scale."""
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(item_col).alias("_i"),
        F.col(score_a_col).alias("_sa"),
        F.col(score_b_col).alias("_sb"),
    )
    left = base.select(
        "_g",
        F.col("_i").alias("_i1"),
        F.col("_sa").alias("_sa1"),
        F.col("_sb").alias("_sb1"),
    )
    right = base.select(
        "_g",
        F.col("_i").alias("_i2"),
        F.col("_sa").alias("_sa2"),
        F.col("_sb").alias("_sb2"),
    )
    # eqNullSafe: a NULL group key is still a group — a plain equi-join
    # would silently drop its pairs (the spc_control_limits lesson)
    pairs = left.join(
        right, left["_g"].eqNullSafe(right["_g"])
    ).drop(right["_g"]).filter(F.col("_i1") < F.col("_i2"))
    sga = F.signum((F.col("_sa1") - F.col("_sa2")).cast("double"))
    sgb = F.signum((F.col("_sb1") - F.col("_sb2")).cast("double"))
    scored = pairs.select(
        "_g",
        F.when(sga * sgb > 0, 1).otherwise(0).alias("_conc"),
        F.when(sga * sgb < 0, 1).otherwise(0).alias("_disc"),
    )
    per_group_n = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n_items")
    )
    agg = scored.groupBy("_g").agg(
        F.sum("_conc").alias("n_concordant"),
        F.sum("_disc").alias("n_discordant"),
    )
    denom = (
        F.col("n_items") * (F.col("n_items") - 1) / F.lit(2.0)
    )
    return (
        per_group_n.join(
            agg,
            per_group_n["_g"].eqNullSafe(agg["_g"]),
            "left",
        )
        .drop(agg["_g"])
        .select(
            F.col("_g").alias(group_col),
            F.col("n_items").cast("long").alias("n_items"),
            F.coalesce(F.col("n_concordant"), F.lit(0))
            .cast("long")
            .alias("n_concordant"),
            F.coalesce(F.col("n_discordant"), F.lit(0))
            .cast("long")
            .alias("n_discordant"),
            F.round(
                F.try_divide(
                    (
                        F.coalesce(F.col("n_concordant"), F.lit(0))
                        - F.coalesce(F.col("n_discordant"), F.lit(0))
                    ).cast("double"),
                    denom,
                ),
                6,
            ).alias("kendall_tau"),
        )
    )


def pr_auc(
    scored: DataFrame,
    by: str | None = None,
) -> DataFrame:
    """Precision-recall AUC (average precision over the full ranking):
    AP = Σ_t ΔR(t)·P(t) summed over DISTINCT score thresholds t in
    descending order, with ΔR(t) the recall gained at t — sklearn's
    average_precision_score, tie-exact because ties collapse into one
    threshold instead of being ordered arbitrarily.

    Distributed shape (house rule for rank statistics): aggregate to
    the |group × distinct score| contingency relation FIRST, then run
    the cumulative windows over that bounded relation — never a
    per-row global sort. Groups with zero positives emit NULL.
    """
    keys = [by] if by else []
    g = scored.groupBy(
        *keys, F.col("score").alias("_s")
    ).agg(
        F.sum(F.col("label").cast("long")).alias("_np"),
        F.count(F.lit(1)).alias("_n"),
    )
    part = W.partitionBy(*keys) if keys else W.partitionBy()
    wcum = part.orderBy(F.col("_s").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    wall = part.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum_pos = F.sum("_np").over(wcum)
    cum_n = F.sum("_n").over(wcum)
    tot_pos = F.sum("_np").over(wall)
    contrib = F.try_divide(F.col("_np"), tot_pos) * (cum_pos / cum_n)
    ranked = g.select(
        *keys,
        F.col("_np"),
        F.col("_n"),
        contrib.alias("_c"),
    )
    return ranked.groupBy(*keys).agg(
        F.sum("_np").cast("long").alias("n_pos"),
        F.sum("_n").cast("long").alias("n"),
        F.round(F.sum("_c"), 6).alias("pr_auc"),
    )


def mrr_at_k(
    results: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Per-query reciprocal rank @k (the per-query term of MRR): the
    rank of the FIRST relevant item down the score ordering, 1/rank if
    it lands within the top k, else 0.0; queries with no relevant item
    at all emit NULL rr (undefined, excluded from a mean by design).

    Same single-exchange shape as average_precision_at_k: one rank
    window on the query key with a deterministic item tiebreak, then a
    map-side-combined groupBy — the min-over-relevant reduction never
    materializes a global sort."""
    part = W.partitionBy("query_id")
    item_cols = [
        c for c in results.columns if c not in ("query_id", "score", "rel")
    ]
    tiebreak = [F.col(c).asc() for c in item_cols]
    rk = F.row_number().over(
        part.orderBy(F.col("score").desc(), *tiebreak)
    )
    ranked = results.select(
        "query_id",
        (F.col("rel") > 0).cast("int").alias("_h"),
        rk.alias("_rk"),
    )
    agg = ranked.groupBy("query_id").agg(
        F.min(F.when(F.col("_h") == 1, F.col("_rk"))).alias("first_rel_rank"),
        F.sum("_h").cast("long").alias("n_rel"),
    )
    rr = F.when(
        F.col("first_rel_rank") <= k, F.round(1.0 / F.col("first_rel_rank"), 6)
    ).otherwise(F.lit(0.0))
    return agg.select(
        "query_id",
        "n_rel",
        "first_rel_rank",
        F.when(F.col("n_rel") > 0, rr).alias("rr"),
    )


def expected_calibration_error(
    scored: DataFrame,
    label_col: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """ECE / MCE scalars over the calibration_bins relation:
    ECE = Σ (nᵇ/N)·|conf(b) − acc(b)| weighted over equal-width bins,
    MCE = max |gap|. Computed from the bins' 6dp-ROUNDED per-bin
    means, so the scalar is a deterministic function of the already
    oracle-stable bin relation — engine float drift can't leak in
    below the output grid. One groupBy over |bins| rows."""
    bins = calibration_bins(
        scored, label_col=label_col, n_bins=n_bins
    )
    return bins.groupBy().agg(
        F.sum("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        F.round(
            F.sum(F.col("n") * F.col("abs_gap")) / F.sum("n"), 6
        ).alias("ece"),
        F.round(F.max("abs_gap"), 6).alias("mce"),
    )
