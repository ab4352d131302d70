"""The fit → model-state → transform pipeline — SURVEY §3 E2, §7 step 5.

``NumericPreprocessor`` mirrors the reference's
``preprocess_metadata`` numeric path (event_stream_dataset.py:1005-1277
fit, :1366-1549 transform) as an MLlib-style Estimator/Transformer:

fit (train split only — the caller passes the restricted frame):
  1. merge unit-implied bounds into the per-key bounds table;
  2. bound drop/censor on train values (P6);
  3. per-key value-type inference (A6-A8);
  4. INTEGER keys: round half-even before model fits;
  5. per-key VIOD fit (A11) — keys whose train points are *all*
     outliers become DROPPED (event_stream_dataset.py:1204-1206);
  6. per-key normalizer fit (A13) on inlier values.

The fitted model is ONE small DataFrame (key → value_type, bounds,
outlier thresholds, normalizer params) — broadcast-joinable
everywhere, JSON/parquet-persistable.

``by`` adds grouping columns in front of the key. With
``by=["measurement"]`` one fit covers every numeric measurement: each
(measurement, key) group gets exactly the state a separate fit over
that measurement's rows would give it (value-type totals are taken per
measurement), while the fit still runs its four eager materializations
(types, outlier thresholds, normalizer, state) once in total rather
than once per measurement. Unit bounds stay keyed by ``key`` alone at
fit; the fitted state carries them per (measurement, key). This is how
``EventStreamPreprocessor`` fits every numeric measurement in one
keyed pass.

Saved layout (``NumericPreprocessorModel.save``): ``state/`` (one row
per ``(*by, key)``), ``norm_state/`` when the normalizer keeps a table
(quantiles, also keyed by ``(*by, key)``), and ``model.json`` naming
the key/value columns, the normalizer and ``by``.

transform (all splits):
  drop/censor → int rounding → ``_is_inlier`` flag + outlier nulling →
  normalization → final double cast, plus categorical ``__EQ_`` token
  rewriting for categorical_{integer,float} keys (token column added,
  value nulled — the reference moves those observations into the
  categorical vocabulary space).

Pure derivation from raw + model state: no column backup/restore
protocol (SURVEY §4 — the reference's mutable-config groupby is
redesigned into pure grouped outputs).
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from eventstreamml_spark.functions.tokens import float_token, int_token
from eventstreamml_spark.operators.filters import (
    BOUND_COLS,
    drop_oob_and_censor_outliers,
    drop_or_censor,
    merge_unit_inferred_bounds,
)
from eventstreamml_spark.preprocessing.config import PreprocessingConfig
from eventstreamml_spark.preprocessing.types_infer import infer_value_types


@dataclasses.dataclass
class NumericPreprocessorModel:
    """Fitted state: one row per ``(*by, key)``. ``normalizer_cls``
    names the registry entry (U2); ``norm_state`` carries
    non-expression model state (quantile tables) when the normalizer
    needs one."""

    state: DataFrame
    key_col: str
    value_col: str
    normalizer_cls: str = "standard_scaler"
    norm_state: DataFrame | None = None
    by: list[str] = dataclasses.field(default_factory=list)

    def transform(self, df: DataFrame) -> DataFrame:
        key, val, by = self.key_col, self.value_col, self.by
        keys = [*by, key]
        bounds = [f"_b_{c}" for c in BOUND_COLS]
        m = self.state.select(
            *keys,
            *[F.col(c).alias(b) for c, b in zip(BOUND_COLS, bounds)],
            F.col("value_type").alias("_vt"),
            F.col("thresh_small").alias("_ts"),
            F.col("thresh_large").alias("_tl"),
            F.col("norm_mean").alias("_mu"),
            F.col("norm_std").alias("_sd"),
        )
        out = df.join(F.broadcast(m), keys, "left")
        v, vt = F.col(val), F.col("_vt")
        inlier_col = f"{val}_is_inlier"

        # Each intermediate is its own column, computed once: written as
        # one nested expression, every use re-inlined its subtree and the
        # fused per-row loop outgrew the JVM's 8000-byte JIT limit, so it
        # ran interpreted (tests/test_codegen_limits.py guards this).
        result = (
            # bound drop/censor (P6), then integer rounding (half-even)
            # before outlier/normalizer checks
            out.withColumn(val, drop_or_censor(v, *[F.col(b) for b in bounds]))
            .withColumn("_v", F.when(vt == "integer", F.bround(v)).otherwise(v))
            .withColumn("_num", vt.isin("integer", "float"))
            .withColumn(
                inlier_col,
                F.when(
                    ~F.col("_num") | F.col("_v").isNull() | F.col("_ts").isNull(),
                    F.lit(None).cast("boolean"),
                ).otherwise((F.col("_v") > F.col("_ts")) & (F.col("_v") < F.col("_tl"))),
            )
            .withColumn(
                "_vi",
                F.when(F.col(inlier_col).isNull() | F.col(inlier_col), F.col("_v")),
            )
            .withColumn(
                f"{val}_token",
                F.when(vt == "categorical_integer", int_token(F.col(key), v))
                .when(vt == "categorical_float", float_token(F.col(key), v))
                .otherwise(F.lit(None).cast("string")),
            )
            .withColumn(
                val,
                F.when(
                    vt.isin("dropped", "categorical_integer", "categorical_float"),
                    F.lit(None).cast("double"),
                ).otherwise(
                    F.when(
                        F.col("_num") & F.col("_mu").isNotNull() & F.col("_vi").isNotNull(),
                        F.when(F.col("_sd") == 0, F.lit(0.0)).otherwise(
                            (F.col("_vi") - F.col("_mu")) / F.col("_sd")
                        ),
                    )
                    .otherwise(F.col("_vi"))
                    .cast("double")
                ),
            )
            .drop(*bounds, "_vt", "_ts", "_tl", "_mu", "_sd", "_v", "_num", "_vi")
        )
        if self.normalizer_cls == "quantile_transformer" and self.norm_state is not None:
            from eventstreamml_spark.preprocessing.registry import NORMALIZERS

            # fitted on numeric keys only — categorical/dropped keys have
            # no quantile row and pass through untouched
            result = NORMALIZERS["quantile_transformer"]["apply"](
                result, self.norm_state, key, val, by=by
            )
        return result

    # -- persistence (reference contract: fitted state round-trips,
    #    event_stream_dataset.py:42-44 dill; here parquet + JSON) ------
    def save(self, path: str) -> None:
        """Fitted state as parquet relations + a JSON manifest — a
        fit-once/transform-later flow across sessions and clusters
        (state is one row per ``(*by, key)``; the write is trivially
        small)."""
        os.makedirs(path, exist_ok=True)
        self.state.write.mode("overwrite").parquet(os.path.join(path, "state"))
        if self.norm_state is not None:
            self.norm_state.write.mode("overwrite").parquet(
                os.path.join(path, "norm_state")
            )
        manifest = {
            "model": "numeric_preprocessor",
            "key_col": self.key_col,
            "value_col": self.value_col,
            "normalizer_cls": self.normalizer_cls,
            "has_norm_state": self.norm_state is not None,
            "by": self.by,
        }
        with open(os.path.join(path, "model.json"), "w") as f:
            json.dump(manifest, f, indent=2)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "NumericPreprocessorModel":
        with open(os.path.join(path, "model.json")) as f:
            m = json.load(f)
        norm_state = None
        if m["has_norm_state"]:
            norm_state = spark.read.parquet(os.path.join(path, "norm_state"))
        return cls(
            state=spark.read.parquet(os.path.join(path, "state")),
            key_col=m["key_col"],
            value_col=m["value_col"],
            normalizer_cls=m["normalizer_cls"],
            norm_state=norm_state,
            by=m.get("by", []),
        )


class NumericPreprocessor:
    """Estimator over a long-format measurements relation
    ``(*by, key, value, ...)``."""

    def __init__(
        self,
        key_col: str,
        value_col: str,
        config: PreprocessingConfig | None = None,
        param_round_dp: int | None = None,
        by: list[str] | None = None,
    ) -> None:
        self.key_col = key_col
        self.value_col = value_col
        self.config = config or PreprocessingConfig()
        # Oracle-parity mode: round fitted params (thresholds, scaler
        # mean/std) to this many decimals at each stage boundary, BEFORE
        # the next stage consumes them. Aggregates are the only cross-
        # engine nondeterminism (summation order); per-row arithmetic on
        # identical doubles is IEEE-deterministic, so rounding at stage
        # boundaries makes downstream values hash-exact across engines.
        self.param_round_dp = param_round_dp
        self.by = list(by or [])

    def fit(
        self, train: DataFrame, bounds: DataFrame | None = None
    ) -> NumericPreprocessorModel:
        key, val, by = self.key_col, self.value_col, self.by
        keys = [*by, key]

        # 1-2. bounds merge + train-side drop/censor (keyed by key alone)
        if bounds is not None:
            if "unit" in bounds.columns:
                bounds = merge_unit_inferred_bounds(bounds)
            bounds_state = bounds
            train = drop_oob_and_censor_outliers(train, bounds, key, val)
        else:
            bounds_state = None

        # 3. value types — materialized per fit() call (one row per
        # key): typed/numeric/inliers and the final state each
        # reference this relation, and without the checkpoint every
        # reference re-expands the full inference subtree (three chained
        # aggregations over train) inside its own job. A NULL key is a
        # missing key (the reference's per-key pandas groupby drops NaN
        # keys; SURVEY P6): it gets no state row, so transform passes
        # its values through raw. Its values still count in the column
        # totals that type every other key.
        types = (
            infer_value_types(train, key, val, self.config, by=by)
            .where(F.col(key).isNotNull())
            .localCheckpoint()
        )

        # 4. typed view for model fitting (integer keys rounded)
        typed = train.join(
            F.broadcast(types.select(*keys, "value_type")), keys, "left"
        ).withColumn(
            val,
            F.when(F.col("value_type") == "integer", F.bround(F.col(val))).otherwise(
                F.col(val)
            ),
        )
        numeric = typed.filter(F.col("value_type").isin("integer", "float"))

        # 5. per-key outlier fit (registry-resolved, U2)
        from eventstreamml_spark.preprocessing.registry import NORMALIZERS, OUTLIER_DETECTORS

        od_cfg = dict(self.config.outlier_detector_config or {})
        od_cls = od_cfg.pop("cls", "variance_impact")
        if od_cls not in OUTLIER_DETECTORS:
            raise KeyError(f"unknown outlier detector {od_cls!r}")
        od = OUTLIER_DETECTORS[od_cls]
        viod = od["fit"](numeric, key, val, by=by, **od_cfg)
        if self.param_round_dp is not None:
            dp = self.param_round_dp
            viod = viod.withColumn("thresh_small", F.round("thresh_small", dp)).withColumn(
                "thresh_large", F.round("thresh_large", dp)
            )
        # per-key thresholds, tiny: materialize so the inlier apply and
        # the state assembly reference the computed relation instead of
        # re-running the detector fit
        viod = viod.localCheckpoint()
        inliers = od["apply"](numeric, viod, key, val, by=by)

        # 6. normalizer fit on surviving values (registry-resolved, U2)
        n_cfg = dict(self.config.normalizer_config or {})
        normalizer_cls = n_cfg.pop("cls", "standard_scaler")
        if normalizer_cls not in NORMALIZERS:
            raise KeyError(f"unknown normalizer {normalizer_cls!r}")
        norm = NORMALIZERS[normalizer_cls]["fit"](inliers, key, val, by=by, **n_cfg)
        if self.param_round_dp is not None and normalizer_cls == "standard_scaler":
            dp = self.param_round_dp
            norm = norm.withColumn("mean", F.round("mean", dp)).withColumn(
                "std", F.round("std", dp)
            )
        # per-key normalizer params, tiny: materialize once (the state
        # join and non-scaler norm_state both reference it)
        norm = norm.localCheckpoint()

        state = types
        if bounds_state is not None:
            state = state.join(
                bounds_state.select(key, *[c for c in BOUND_COLS if c in bounds_state.columns]),
                key,
                "left",
            )
        for c in BOUND_COLS:
            if c not in state.columns:
                typ = "boolean" if c.endswith("_inclusive") else "double"
                state = state.withColumn(c, F.lit(None).cast(typ))
        state = state.join(
            viod.select(*keys, "thresh_small", "thresh_large", "all_outliers"), keys, "left"
        )
        # all-outlier keys → DROPPED (reference :1204-1206)
        state = state.withColumn(
            "value_type",
            F.when(F.coalesce(F.col("all_outliers"), F.lit(False)), "dropped").otherwise(
                F.col("value_type")
            ),
        ).drop("all_outliers")
        norm_state = None
        if normalizer_cls == "standard_scaler":
            state = state.join(
                norm.select(
                    *keys, F.col("mean").alias("norm_mean"), F.col("std").alias("norm_std")
                ),
                keys,
                "left",
            )
        else:
            state = state.withColumn("norm_mean", F.lit(None).cast("double")).withColumn(
                "norm_std", F.lit(None).cast("double")
            )
            norm_state = norm  # already checkpointed above

        # model state is tiny (one row per key) — materialize it per
        # fit() call so every downstream transform reuses the computed
        # relation. localCheckpoint, NOT .cache(): a cache would be
        # plan-keyed in CacheManager and silently reused by a later
        # identical fit() in the same session (cross-run result reuse).
        state = state.localCheckpoint()
        return NumericPreprocessorModel(
            state=state,
            key_col=key,
            value_col=val,
            normalizer_cls=normalizer_cls,
            norm_state=norm_state,
            by=by,
        )
