"""Variance-impact outlier detection — SURVEY §2.4 A10-A12.

The detector learns per-key (thresh_small, thresh_large) bounds by
iteratively stripping extremal runs whose removal shifts the standard
deviation more than a size-dependent threshold
(variance_impact_outlier_detector.py:157-216 in the reference; the
statistical contracts it must satisfy are the reference's tests:
≥99.9% of inliers kept under common distributions, planted outliers
recovered).

Distribution strategy: the fit is inherently sequential over a sorted
value array, but it is *per key* — so the engine runs it as a grouped
``applyInPandas`` stage (one key's values fit in one task; keys fan
out across executors). Predict/transform is a pure broadcast-join +
comparison expression — no Python.

This is a fresh implementation from the published math; it fixes the
reference's side-coupled run-length scan (the min-side scan in
``_std_delta_for_side`` stops at *either* end's run boundary) in favor
of independent per-side run lengths. The deviation is proven
contract-equivalent: tests/test_viod_reference_agreement.py replays
the reference algorithm (side-coupled scan included) on the
reference's own statistical draws and asserts identical learned
bounds and classifications.
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np

from pyspark.sql import DataFrame, functions as F


def default_std_delta_thresh(n: int) -> float:
    """Size-dependent std-shift threshold 10·N^-0.6 (reference default,
    variance_impact_outlier_detector.py:52)."""
    return 10.0 * n ** (-0.6)


class VarianceImpactOutlierDetector:
    """Single-array fit/predict (driver- or task-local numpy).

    Parameters mirror the reference: ``subsample_frac`` and
    ``max_prob_of_exclusion`` bound the length of an extremal run that
    may be removed at once (the probability that an iid subsample of
    fraction r misses all L removed elements must stay below p):
    ``L_max = min(N-1, floor(N(1 - p^(1/(rN)))))``.
    """

    def __init__(
        self,
        subsample_frac: float = 0.1,
        max_prob_of_exclusion: float = 0.05,
        max_std_delta_thresh: float | Callable[[int], float] = default_std_delta_thresh,
        thresh_small_: float | None = None,
        thresh_large_: float | None = None,
    ) -> None:
        if not (0 < subsample_frac < 1) or not (0 < max_prob_of_exclusion < 1):
            raise ValueError("subsample_frac and max_prob_of_exclusion must be in (0,1)")
        self.subsample_frac = subsample_frac
        self.max_prob_of_exclusion = max_prob_of_exclusion
        self.max_std_delta_thresh = max_std_delta_thresh
        self.thresh_small_ = thresh_small_
        self.thresh_large_ = thresh_large_

    # -- scalar helpers -------------------------------------------------
    def _thresh(self, n: int) -> float:
        t = self.max_std_delta_thresh
        return t if isinstance(t, (int, float)) else t(n)

    def _max_run(self, n: int) -> int:
        p, r = self.max_prob_of_exclusion, self.subsample_frac
        return min(n - 1, int(math.floor(n * (1.0 - p ** (1.0 / (r * n))))))

    def _max_deviation_factor(self, n: int) -> float:
        """Starting-bound width: how many stds a single new point may
        sit from the mean before it alone would shift std beyond the
        threshold (closed form from the reference's derivation)."""
        delta = self._thresh(n + 1)
        if abs(delta - 1.0) >= math.sqrt((n + 1) / n):
            return float("inf")
        return (n + 1) * math.sqrt(1.0 / (n * (1.0 - delta) ** 2) - 1.0 / (n + 1))

    # -- fit / predict --------------------------------------------------
    def fit(self, values) -> "VarianceImpactOutlierDetector":
        x = np.sort(np.asarray(values, dtype=float).reshape(-1))
        n = len(x)
        if n == 0:
            raise ValueError("cannot fit on empty values")
        s, s2 = float(x.sum()), float((x * x).sum())

        def std_of(n_, s_, s2_):
            var = s2_ / n_ - (s_ / n_) ** 2
            return math.sqrt(max(var, 0.0))

        mean, std = s / n, std_of(n, s, s2)
        dev = self._max_deviation_factor(n)
        self.thresh_small_ = mean - std * dev
        self.thresh_large_ = mean + std * dev
        # std=0 with dev=inf gives 0*inf=NaN bounds; under numpy's NaN
        # comparison semantics that means "no bound" (everything inlier).
        # Canonicalize to ±inf so the Spark transform (where NaN sorts
        # above all doubles) agrees with the numpy predict path.
        if math.isnan(self.thresh_small_):
            self.thresh_small_ = float("-inf")
        if math.isnan(self.thresh_large_):
            self.thresh_large_ = float("inf")

        lo, hi = 0, n  # active window [lo, hi) of the sorted array
        while hi - lo > 1:
            m = hi - lo
            cap = self._max_run(m)
            cur_std = std_of(m, s, s2)
            if cur_std == 0.0:
                break

            def run_len(start, step):
                L = 1
                while L < cap and x[start + step * L] == x[start]:
                    L += 1
                return L

            # candidate removal at each end: the full equal-value run,
            # only if it terminates within the probabilistic cap
            cands = []
            for side, idx, step in (("min", lo, 1), ("max", hi - 1, -1)):
                L = run_len(idx, step)
                if L >= cap:
                    cands.append((0.0, side, 0, 0.0))
                    continue
                v = float(x[idx])
                ns, ns2 = s - v * L, s2 - v * v * L
                new_std = std_of(m - L, ns, ns2)
                delta = abs(cur_std - new_std) / cur_std
                cands.append((delta, side, L, v))

            delta, side, L, v = max(cands, key=lambda c: c[0])
            if delta <= self._thresh(m) or L == 0:
                break
            if side == "min":
                self.thresh_small_ = v
                lo += L
            else:
                self.thresh_large_ = v
                hi -= L
            s -= v * L
            s2 -= v * v * L
        return self

    def predict(self, values) -> np.ndarray:
        """+1 inlier / −1 outlier; the thresholds themselves are
        outliers (strict inequalities, reference :218-223)."""
        x = np.asarray(values, dtype=float).reshape(-1)
        out = np.ones(len(x))
        out[(x <= self.thresh_small_) | (x >= self.thresh_large_)] = -1.0
        return out


def fit_viod_per_key(
    df: DataFrame,
    key_col: str,
    value_col: str,
    subsample_frac: float = 0.1,
    max_prob_of_exclusion: float = 0.05,
    by: list[str] | None = None,
) -> DataFrame:
    """A14-style per-key grouped fit: one VIOD per key via
    ``applyInPandas`` (pure per-group output — the reference's
    mutate-shared-config-in-groupby is redesigned away, SURVEY §4).

    Returns (*by, key, thresh_small, thresh_large, n_train,
    all_outliers); ``all_outliers`` marks keys where every train point
    lands outside the learned bounds → the key is DROPPED downstream
    (event_stream_dataset.py:1204-1206). ``by`` columns group in front
    of the key.
    """
    import pandas as pd

    keys = [*(by or []), key_col]
    out_cols = [*keys, "thresh_small", "thresh_large", "n_train", "all_outliers"]
    by_schema = "".join(f"{c} {df.schema[c].dataType.simpleString()}, " for c in by or [])
    schema = (
        f"{by_schema}{key_col} string, thresh_small double, thresh_large double, "
        "n_train long, all_outliers boolean"
    )

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].dropna().to_numpy()
        group = [pdf[c].iloc[0] for c in keys]
        if len(vals) == 0:
            return pd.DataFrame([(*group, None, None, 0, False)], columns=out_cols)
        det = VarianceImpactOutlierDetector(subsample_frac, max_prob_of_exclusion)
        det.fit(vals)
        inl = det.predict(vals)
        return pd.DataFrame(
            [
                (
                    *group,
                    float(det.thresh_small_),
                    float(det.thresh_large_),
                    len(vals),
                    bool((inl == -1).all()),
                )
            ],
            columns=out_cols,
        )

    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, value_col)
        .groupBy(*keys)
        .applyInPandas(fit_group, schema=schema)
    )


def apply_viod(
    df: DataFrame,
    model: DataFrame,
    key_col: str,
    value_col: str,
    out_col: str | None = None,
    inlier_col: str | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """A12 transform: broadcast-join learned bounds (on ``(*by, key)``)
    and null values at or beyond them; companion boolean
    ``{value_col}_is_inlier`` column mirrors the reference's
    ``_is_inlier`` writeback (event_stream_dataset.py:1525-1540). Keys
    without a model pass through (inlier flag null)."""
    out_col = out_col or value_col
    inlier_col = inlier_col or f"{value_col}_is_inlier"
    keys = [*(by or []), key_col]
    m = model.select(
        *keys,
        F.col("thresh_small").alias("_ts"),
        F.col("thresh_large").alias("_tl"),
    )
    joined = df.join(F.broadcast(m), keys, "left")
    v = F.col(value_col)
    is_inlier = F.when(
        v.isNull() | F.col("_ts").isNull(), F.lit(None).cast("boolean")
    ).otherwise((v > F.col("_ts")) & (v < F.col("_tl")))
    return (
        joined.withColumn(inlier_col, is_inlier)
        .withColumn(out_col, F.when(is_inlier | is_inlier.isNull(), v))
        .drop("_ts", "_tl")
    )


def fit_stddev_cutoff_per_key(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_stddevs: float = 4.0,
    by: list[str] | None = None,
) -> DataFrame:
    """Stddev-cutoff outlier detector: per-key thresholds at
    ``mean ± n_stddevs · std`` (sample std, ddof=1).

    The SQL-expressible registry alternative to VIOD — same pluggable
    contract as the reference's ``METADATA_MODELS`` registry
    (event_stream_dataset.py:48-54); shares :func:`apply_viod` for the
    transform side. One aggregation, no Python, map-side combinable —
    the 100 TB-preferred detector when VIOD's iterative fit isn't
    required. Keys with zero/undefined spread get null thresholds
    (→ inlier flag null downstream, values pass through). ``by``
    columns group in front of the key."""
    keys = [*(by or []), key_col]
    v = F.col(value_col)
    agg = (
        df.filter(v.isNotNull())
        .groupBy(*keys)
        .agg(
            F.avg(v).alias("_mu"),
            F.stddev_samp(v).alias("_sd"),
            F.count(F.lit(1)).alias("n_train"),
        )
    )
    ok = F.col("_sd").isNotNull() & (F.col("_sd") > 0)
    k = F.lit(float(n_stddevs))
    return agg.select(
        *keys,
        F.when(ok, F.col("_mu") - k * F.col("_sd")).alias("thresh_small"),
        F.when(ok, F.col("_mu") + k * F.col("_sd")).alias("thresh_large"),
        "n_train",
        F.lit(False).alias("all_outliers"),
    )


def mad_outlier_bounds(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    n_sigmas: float = 3.0,
    approx: bool = False,
) -> DataFrame:
    """Robust per-key outlier bounds via median ± n·1.4826·MAD (the
    normal-consistent median-absolute-deviation scale): the
    breakdown-resistant alternative to mean±kσ and the cheap
    complement to the VIOD fit — two percentile aggregations, no
    iteration, no Python.

    Scale: the exact ``percentile`` path (``approx=False``, the
    oracle-parity default) buffers every value per key in an
    ObjectHashAggregate — row-proportional memory per key, the one
    thing here that does not survive 100 TB. ``approx=True`` swaps
    both medians to ``approx_percentile`` (a fixed-size mergeable
    sketch with map-side partial merge; rank error ≤ n/accuracy),
    leaving the contract (bounds, outlier counts) unchanged. Returns
    (key, median, mad, lo, hi, n, n_outliers)."""
    if approx:
        pct = lambda c: f"approx_percentile({c}, 0.5, 10000)"  # noqa: E731
    else:
        pct = lambda c: f"percentile({c}, 0.5)"  # noqa: E731
    med = df.groupBy(key_col).agg(
        F.expr(pct(value_col)).alias("median"),
        F.count(value_col).alias("n"),
    )
    dev = df.join(F.broadcast(med), key_col).select(
        key_col,
        F.col(value_col),
        F.abs(F.col(value_col) - F.col("median")).alias("_ad"),
        "median",
        "n",
    )
    mad = dev.groupBy(key_col, "median", "n").agg(
        F.expr(pct("_ad")).alias("mad")
    )
    c = 1.4826022185056018  # 1/Φ⁻¹(3/4): MAD → σ under normality
    bounds = mad.select(
        key_col,
        "median",
        "mad",
        (F.col("median") - n_sigmas * c * F.col("mad")).alias("lo"),
        (F.col("median") + n_sigmas * c * F.col("mad")).alias("hi"),
        "n",
    )
    flagged = df.join(F.broadcast(bounds), key_col).groupBy(
        key_col, "median", "mad", "lo", "hi", "n"
    ).agg(
        F.sum(
            F.when(
                (F.col(value_col) < F.col("lo")) | (F.col(value_col) > F.col("hi")), 1
            ).otherwise(0)
        ).alias("n_outliers")
    )
    return flagged


def winsorize_by_key(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    lower_q: float = 0.05,
    upper_q: float = 0.95,
) -> DataFrame:
    """Per-key winsorization: clamp values to the key's exact
    interpolated [lower_q, upper_q] quantiles — the gentler sibling of
    drop_or_censor (P5) that preserves row count while killing tail
    leverage, the standard pre-normalization step for heavy-tailed
    measurements.

    Shape: quantile fit is one groupBy over the keys (Spark's
    ``percentile`` is a single-pass exact aggregate); the per-key
    bounds relation is |keys|-sized, so it broadcast-joins back onto
    the data — same fit/transform join discipline as the VIOD and
    normalizer paths. Nulls pass through unclamped (they carry "not
    measured", not "extreme").
    """
    bounds = df.groupBy(key_col).agg(
        F.percentile(value_col, F.lit(lower_q)).alias("_lo"),
        F.percentile(value_col, F.lit(upper_q)).alias("_hi"),
    )
    clamped = F.when(
        F.col(value_col).isNotNull(),
        F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi")),
    )
    return (
        df.join(F.broadcast(bounds), key_col)
        .withColumn(value_col, clamped)
        .drop("_lo", "_hi")
    )
