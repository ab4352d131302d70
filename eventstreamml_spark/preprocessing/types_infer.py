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
is one read of the measurements table and three chained aggregations —
per (key, value), per (key, rounded value), per key — with no join and
no Python.

``by`` adds grouping columns in front of the key (e.g. the measurement
name), so one call types the keys of many measurements at once; the
column total in step 1 is then taken per ``by`` group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from eventstreamml_spark.preprocessing.config import PreprocessingConfig


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
    val = F.col("_val")

    # One read, three chained groupBys, no joins. Every statistic is an
    # exact integer sum or max of counts, so the result equals per-row
    # aggregates over the raw values.
    # 1. count per (key, raw value); the NULL-value group is kept so
    #    n_key_obs still counts key rows whose value is missing
    per_val = df.groupBy(*keys, F.col(value_col).alias("_val")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    # 2. regroup per (key, rounded value) — half-even, matching
    #    numpy/pandas .round(0); the NULL group stays a NULL group, and
    #    its raw-value statistics are NULL
    per_rnd = per_val.groupBy(*keys, F.bround(val).alias("_rnd")).agg(
        F.sum("_c").alias("_c"),
        F.count(val).alias("_n_raw"),
        F.max(F.when(val.isNotNull(), F.col("_c"))).alias("_modal_raw"),
        F.sum(F.when(val == F.floor(val), F.col("_c")).when(val.isNotNull(), 0)).alias("_n_int"),
    )
    # 3. per key. sum/max over ``when`` (not count) leave a key with no
    #    non-null value at NULL distinct/modal counts and int_freq
    num = F.col("_rnd").isNotNull()
    n_vals = F.sum(F.when(num, F.col("_c")).otherwise(0))
    stats = per_rnd.groupBy(*keys).agg(
        F.sum("_c").alias("n_key_obs"),
        n_vals.alias("n_vals"),
        # == avg of 0/1 doubles: an exact integer sum over a count
        F.try_divide(F.sum("_n_int"), n_vals).alias("int_freq"),
        F.sum(F.when(num, F.col("_n_raw"))).alias("n_distinct_raw"),
        F.max("_modal_raw").alias("modal_raw"),
        F.sum(F.when(num, 1)).alias("n_distinct_round"),
        F.max(F.when(num, F.col("_c"))).alias("modal_round"),
    )

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
