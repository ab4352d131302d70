"""Numeric value-type inference — SURVEY §2.4 A6-A8, reference
``_infer_val_type`` (event_stream_dataset.py:1216-1277).

Decision per (measurement) key, in reference order:

1. too few key observations (vs. column total, count-or-proportion) →
   DROPPED;
2. integral fraction of non-null values > 1 − min_true_float_frequency
   → INTEGER (values subsequently rounded half-even);
3. few distinct values (count-or-proportion vs. n values) OR modal
   value share > max_numerical_value_frequency → CATEGORICAL_{INTEGER,
   FLOAT}; single distinct value → DROPPED.

Distinct/modal statistics are computed on the *rounded* values when
step 2 fired (the reference converts before value_counts). Everything
is two aggregation passes over the measurements table — no Python.

``by`` adds grouping columns in front of the key (e.g. the measurement
name), so one call types the keys of many measurements at once; the
column total in step 1 is then taken per ``by`` group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from eventstreamml_spark.preprocessing.config import PreprocessingConfig

VALUE_TYPES = ("dropped", "integer", "float", "categorical_integer", "categorical_float")


def infer_value_types(
    df: DataFrame,
    key_col: str,
    value_col: str,
    config: PreprocessingConfig,
    by: list[str] | None = None,
) -> DataFrame:
    """Returns one row per key: ``(*by, key, value_type, n_key_obs,
    n_vals, int_freq, n_distinct, modal_share)``.

    ``n_key_obs`` counts key rows including null values (a key row with
    a missing value is still an observation of the key); the drop test
    compares it against the total column observations.
    """
    by = list(by or [])
    keys = [*by, key_col]
    v = F.col(value_col)
    vr = F.bround(v)  # half-even, matching numpy/pandas .round(0)

    per_key = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_key_obs"),
        F.count(v).alias("n_vals"),
        F.avg((v == F.floor(v)).cast("double")).alias("int_freq"),
    )

    # distinct/modal stats for both raw and rounded variants in one
    # extra pass; the when-chain picks the variant the type decision
    # needs (rounded iff INTEGER fired)
    vc_raw = (
        df.filter(v.isNotNull())
        .groupBy(*keys, v.alias("_val"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_distinct_raw"),
            F.max("_c").alias("modal_raw"),
        )
    )
    vc_round = (
        df.filter(v.isNotNull())
        .groupBy(*keys, vr.alias("_val"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_distinct_round"),
            F.max("_c").alias("modal_round"),
        )
    )
    stats = per_key.join(vc_raw, keys, "left").join(vc_round, keys, "left")

    # column-level total = sum of per-key row counts — computed as a
    # window over the (one row per key) stats relation instead of a
    # df.count() driver action, which executed the full train subtree
    # one extra time per fit (stats is tiny, so the single-partition
    # window is free). Exactly count(*): n_key_obs counts every key
    # row including null values. Taken per ``by`` group.
    total_col_obs = F.sum("n_key_obs").over(W.partitionBy(*by))

    def lt_cop(count_col, threshold, total_col):
        if threshold is None:
            return F.lit(False)
        if isinstance(threshold, float):
            return count_col < F.lit(threshold) * total_col
        return count_col < F.lit(threshold)

    is_int = (
        F.lit(config.min_true_float_frequency is not None)
        & (F.col("int_freq") > F.lit(1.0 - (config.min_true_float_frequency or 0.0)))
    )
    n_distinct = F.when(is_int, F.col("n_distinct_round")).otherwise(F.col("n_distinct_raw"))
    modal = F.when(is_int, F.col("modal_round")).otherwise(F.col("modal_raw"))

    few_distinct = lt_cop(
        n_distinct, config.min_unique_numerical_observations, F.col("n_vals")
    )
    modal_heavy = (
        F.lit(config.max_numerical_value_frequency is not None)
        & (modal / F.col("n_vals") > F.lit(config.max_numerical_value_frequency or 1.0))
    )
    to_categorical = few_distinct | modal_heavy

    value_type = (
        F.when(
            lt_cop(
                F.col("n_key_obs"),
                config.min_valid_vocab_element_observations,
                total_col_obs,
            ),
            F.lit("dropped"),
        )
        .when(to_categorical & (n_distinct == 1), F.lit("dropped"))
        .when(to_categorical & is_int, F.lit("categorical_integer"))
        .when(to_categorical, F.lit("categorical_float"))
        .when(is_int, F.lit("integer"))
        .otherwise(F.lit("float"))
    )

    return stats.select(
        *keys,
        value_type.alias("value_type"),
        "n_key_obs",
        "n_vals",
        "int_freq",
        n_distinct.alias("n_distinct"),
        (modal / F.col("n_vals")).alias("modal_share"),
    )
