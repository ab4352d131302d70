"""Per-key normalizers — SURVEY §2.4 A13 (fit on train values,
transform everywhere).

Two models, mirroring the reference's METADATA_MODELS registry shape
(event_stream_dataset.py:48-54):

- ``standard_scaler``: (x − μ)/σ; model state = (key, mean, std);
  transform is a pure broadcast-join expression.
- ``quantile_transformer``: sklearn-style uniform-output CDF mapping;
  model state = (key, quantiles array<double>); transform interpolates
  the empirical CDF with pure array expressions over the broadcast
  quantile table — no Python on the hot path, the whole transform
  stays inside whole-stage codegen.

Fit never mutates shared state: both fits are pure aggregations.
Every fit and apply takes ``by``: grouping columns in front of the
key (e.g. the measurement name), carried in the model state and
joined on at apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def fit_standard_scaler(
    df: DataFrame, key_col: str, value_col: str, by: list[str] | None = None
) -> DataFrame:
    """Model state (*by, key, mean, std) — population std (ddof=0),
    matching sklearn's StandardScaler."""
    v = F.col(value_col)
    return df.filter(v.isNotNull()).groupBy(*(by or []), key_col).agg(
        F.avg(v).alias("mean"), F.stddev_pop(v).alias("std")
    )


def apply_standard_scaler(
    df: DataFrame,
    model: DataFrame,
    key_col: str,
    value_col: str,
    out_col: str | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """(x − μ)/σ with σ=0 → 0 (constant keys); missing keys pass
    through unscaled."""
    out_col = out_col or value_col
    keys = [*(by or []), key_col]
    m = model.select(*keys, F.col("mean").alias("_mu"), F.col("std").alias("_sd"))
    joined = df.join(F.broadcast(m), keys, "left")
    v = F.col(value_col)
    scaled = (
        F.when(F.col("_mu").isNull(), v)
        .when(F.col("_sd") == 0, F.lit(0.0))
        .otherwise((v - F.col("_mu")) / F.col("_sd"))
    )
    return joined.withColumn(out_col, scaled).drop("_mu", "_sd")


def fit_quantile_transformer(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_quantiles: int = 101,
    exact: bool = True,
    approx_accuracy: int = 10000,
    by: list[str] | None = None,
) -> DataFrame:
    """Model state (*by, key, quantiles array<double>): the per-key empirical
    quantiles at n evenly spaced probabilities.

    ``exact=True`` uses ``percentile`` (full sort per key — right at
    test scale and for keys with bounded cardinality). ``exact=False``
    uses the ``approx_percentile`` sketch: one pass, mergeable
    map-side, rank error ≤ 1/approx_accuracy — the 100 TB path, where
    the sketch error is far below any downstream sensitivity of a CDF
    normalizer. Both produce the same model schema; the transform is
    oblivious to which fit built it."""
    probs = F.array(*[F.lit(i / (n_quantiles - 1)) for i in range(n_quantiles)])
    v = F.col(value_col)
    q = (
        F.percentile(v, probs)
        if exact
        else F.percentile_approx(v, probs, F.lit(approx_accuracy))
    )
    return (
        df.filter(v.isNotNull())
        .groupBy(*(by or []), key_col)
        .agg(q.cast("array<double>").alias("quantiles"))
    )


def apply_quantile_transformer(
    df: DataFrame,
    model: DataFrame,
    key_col: str,
    value_col: str,
    out_col: str | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Map each value to its empirical CDF position in [0,1] by linear
    interpolation between fitted quantiles (sklearn QuantileTransformer
    with uniform output, forward interpolation — ``np.interp``
    semantics re-expressed as array expressions).

    Pure JVM plan: broadcast-join the per-key quantile table, then
    `size(filter(q, e -> e <= v))` locates the interpolation interval —
    the count of quantiles ≤ v is the 1-based index of the LAST such
    quantile, so duplicated quantile values never produce a zero-width
    interval (mirroring np.interp's last-index binary search). Keys
    without a model row and null values pass through; NaN values map to
    null (the prior Arrow path's contract).
    """
    out_col = out_col or value_col
    keys = [*(by or []), key_col]
    m = model.select(*keys, F.col("quantiles").alias("_q"))
    joined = df.join(F.broadcast(m), keys, "left")

    v = F.col(value_col).cast("double")
    q = F.col("_q")
    n = F.size(q)
    # 1-based index of the last quantile <= v (0 if v below all)
    cnt = F.size(F.filter(q, lambda e: e <= v))
    x0 = F.get(q, cnt - 1)  # F.get is 0-based
    x1 = F.get(q, cnt)
    span = (n - 1).cast("double")
    interp = (cnt - 1).cast("double") / span + (v - x0) / (x1 - x0) / span
    result = (
        F.when(q.isNull() | v.isNull(), v)
        .when(F.isnan(v), F.lit(None).cast("double"))
        .when(cnt == 0, F.lit(0.0))  # below the fitted range → CDF 0
        .when(cnt == n, F.lit(1.0))  # at/above the max → CDF 1
        .otherwise(interp)
    )
    out = joined.withColumn(value_col, result).drop("_q")
    if out_col != value_col:
        out = out.withColumnRenamed(value_col, out_col)
    return out
