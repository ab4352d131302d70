"""Categorical fit/transform — SURVEY §3 E2 step 3
(event_stream_dataset.py:1279-1364).

Long-format input: one row per observation ``(measurement, element)``
(plus any payload columns). Numeric measurements destined for
categorical treatment are rewritten to ``__EQ_`` tokens *upstream* by
``NumericPreprocessor`` — this stage sees final string elements.

fit (train split; per measurement):
  1. observation frequency = N_nonnull / total_possible; drop the
     measurement when it fails ``min_valid_column_observations``
     (count-or-proportion, reference utils.py:11-26);
  2. build the frequency-ranked vocabulary over non-null observations
     (denominator = N_nonnull — the reference filters nulls before
     ``build_vocab``, :1315);
  3. fold rare elements into UNK per
     ``min_valid_vocab_element_observations`` (threshold total = the
     measurement's N_nonnull, :1357-1359);
  4. a vocabulary collapsed to ``['UNK']`` drops the measurement
     (:1361-1364).

The fitted model is two small DataFrames — per-measurement status and
the stacked vocabulary — both broadcast-joinable.

transform:
  - dropped measurements: element → null;
  - out-of-vocab elements → the literal ``'UNK'`` (index-time J9 then
    maps UNK → 0 inside the measurement's offset block).
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from eventstreamml_spark.preprocessing.config import PreprocessingConfig
from eventstreamml_spark.vocabulary import UNK


@dataclasses.dataclass
class CategoricalPreprocessorModel:
    """status: (measurement, n_obs, total_possible, observation_frequency,
    dropped); vocab: (measurement, element, freq, idx) with idx 0 = UNK
    for every kept measurement."""

    status: DataFrame
    vocab: DataFrame
    measurement_col: str
    element_col: str

    def transform(self, df: DataFrame) -> DataFrame:
        m, e = self.measurement_col, self.element_col
        dropped = self.status.select(m, "dropped")
        known = self.vocab.filter(F.col("element") != UNK).select(
            m, F.col("element").alias(e), F.lit(True).alias("_in_vocab")
        )
        out = (
            df.join(F.broadcast(dropped), m, "left")
            .join(F.broadcast(known), [m, e], "left")
        )
        new_elem = (
            F.when(F.coalesce(F.col("dropped"), F.lit(True)), F.lit(None).cast("string"))
            .when(F.col(e).isNull(), F.lit(None).cast("string"))
            .when(F.col("_in_vocab").isNotNull(), F.col(e))
            .otherwise(F.lit(UNK))
        )
        return out.withColumn(e, new_elem).drop("dropped", "_in_vocab")

    # -- persistence ---------------------------------------------------
    def save(self, path: str) -> None:
        """status + vocab as parquet, column names in a JSON manifest."""
        os.makedirs(path, exist_ok=True)
        self.status.write.mode("overwrite").parquet(os.path.join(path, "status"))
        self.vocab.write.mode("overwrite").parquet(os.path.join(path, "vocab"))
        manifest = {
            "model": "categorical_preprocessor",
            "measurement_col": self.measurement_col,
            "element_col": self.element_col,
        }
        with open(os.path.join(path, "model.json"), "w") as f:
            json.dump(manifest, f, indent=2)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "CategoricalPreprocessorModel":
        with open(os.path.join(path, "model.json")) as f:
            m = json.load(f)
        return cls(
            status=spark.read.parquet(os.path.join(path, "status")),
            vocab=spark.read.parquet(os.path.join(path, "vocab")),
            measurement_col=m["measurement_col"],
            element_col=m["element_col"],
        )


class CategoricalPreprocessor:
    """Estimator over long-format categorical observations."""

    def __init__(
        self,
        measurement_col: str = "measurement",
        element_col: str = "element",
        config: PreprocessingConfig | None = None,
    ) -> None:
        self.measurement_col = measurement_col
        self.element_col = element_col
        self.config = config or PreprocessingConfig()

    def fit(
        self, train: DataFrame, total_possible: DataFrame | int | None = None
    ) -> CategoricalPreprocessorModel:
        """``total_possible``: rows in the measurement's source frame
        (events / subjects / metadata restricted to its event types),
        the denominator of observation_frequency. A DataFrame
        ``(measurement, total_possible)``, a scalar shared by all
        measurements, or None (defaults to the measurement's own row
        count including null elements)."""
        m, e = self.measurement_col, self.element_col
        cfg = self.config

        # Single pass over train: per-(measurement, element) counts with
        # null elements kept as their own group (vocabulary-sized, one
        # row per distinct element).
        base = train.groupBy(m, F.col(e).cast("string").alias("element")).agg(
            F.count(F.lit(1)).alias("_cnt")
        )

        if isinstance(total_possible, DataFrame):
            base = base.join(F.broadcast(total_possible), m, "left")

        # After the grouped count, one shuffle (partitionBy measurement)
        # derives all fitted state: the first window takes the
        # per-measurement totals, the second,
        # over the same partitioning, ranks the vocabulary and sums what
        # it folds into UNK. n_obs counts non-null elements (a non-null
        # element casts to a non-null string, so the grouped form is
        # exactly F.count(F.col(e))); _rows counts all rows.
        w_meas = W.partitionBy(m)
        fitted = base.select(
            "*",
            F.sum(
                F.when(F.col("element").isNotNull(), F.col("_cnt")).otherwise(F.lit(0))
            ).over(w_meas).alias("n_obs"),
            F.sum("_cnt").over(w_meas).alias("_rows"),
        )
        if total_possible is None:
            fitted = fitted.withColumn("total_possible", F.col("_rows"))
        elif isinstance(total_possible, int):
            fitted = fitted.withColumn("total_possible", F.lit(total_possible))
        fitted = fitted.withColumn(
            "observation_frequency", F.col("n_obs") / F.col("total_possible")
        )

        # 1. column-level drop (A6)
        t = cfg.min_valid_column_observations
        if t is None:
            col_ok = F.lit(True)
        elif isinstance(t, float):
            col_ok = F.col("n_obs") >= F.lit(t) * F.col("total_possible")
        else:
            col_ok = F.col("n_obs") >= F.lit(t)

        # 2. vocab frequencies over non-null elements; denominator = n_obs
        fitted = fitted.withColumn(
            "freq", F.when(F.col("element").isNotNull(), F.col("_cnt") / F.col("n_obs"))
        )

        # 3. rare-element fold into UNK (per-measurement threshold)
        te = cfg.min_valid_vocab_element_observations
        if te is None:
            keep = F.lit(True)
        elif isinstance(te, float):
            keep = F.col("freq") >= F.lit(te)
        else:
            keep = F.col("_cnt") >= F.lit(te)
        fitted = fitted.withColumn(
            "_keep", F.coalesce(F.col("element").isNotNull() & col_ok & keep, F.lit(False))
        )

        # kept elements rank first (freq desc, ties by element), so their
        # row numbers are their vocabulary indices; the sums run over the
        # whole partition in that same order
        w = W.partitionBy(m).orderBy(
            F.col("_keep").desc(), F.col("freq").desc(), F.col("element").asc()
        )
        w_all = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        fitted = (
            fitted.select(
                "*",
                F.row_number().over(w).alias("idx"),
                F.sum(F.col("_keep").cast("int")).over(w_all).alias("_n_kept"),
                F.sum(
                    F.when(F.col("element").isNotNull() & ~F.col("_keep"), F.col("freq"))
                    .otherwise(F.lit(0.0))
                ).over(w_all).alias("_unk_freq"),
            )
            # 4. all-rare ⇒ vocab collapses to [UNK] ⇒ measurement dropped
            .withColumn("dropped", ~col_ok | (F.col("_n_kept") == 0))
            .localCheckpoint()
        )

        # Pinned once above (vocabulary-sized), status and vocab are
        # narrow filters over it, so save, transform and vocabs() each
        # read finished rows, and the (possibly explode/join-heavy) train
        # plan runs once per fit: every measurement has an idx-1 row,
        # and only kept elements carry their rank.
        first = fitted.filter(F.col("idx") == 1)
        status = first.select(
            m, "n_obs", "total_possible", "observation_frequency", "dropped"
        )
        unk = first.filter(~F.col("dropped")).select(
            m,
            F.lit(UNK).alias("element"),
            F.col("_unk_freq").alias("freq"),
            F.lit(0).alias("idx"),
        )
        kept = fitted.filter(F.col("_keep") & ~F.col("dropped")).select(
            m, "element", "freq", "idx"
        )
        # one partition, as one file when saved: each further partition
        # of a vocabulary is one more task in every plan that reads it
        vocab = unk.unionByName(kept).coalesce(1)

        return CategoricalPreprocessorModel(
            status=status,
            vocab=vocab,
            measurement_col=m,
            element_col=e,
        )
