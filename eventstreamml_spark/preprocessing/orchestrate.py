"""End-to-end preprocessing orchestration — SURVEY §3 E2
(``preprocess_metadata``, event_stream_dataset.py:930-1549).

``EventStreamPreprocessor`` drives the full fit → model-state →
transform lifecycle over an ``EventStreamDataset`` + ``DatasetConfig``:

fit (train split ONLY — the reference reads ``split='train'`` at
:1043/:1125/:1304; callers pass the train-restricted dataset):
  1. functional time-dependent columns: registered functors attached to
     events (U1/J4);
  2. numeric fit (``NumericPreprocessor``: bounds → value types →
     outliers → normalizer): ONE keyed pass over every numeric
     observation, grouped by (measurement, key) — each
     MULTIVARIATE_REGRESSION measurement contributes its (key, value)
     pairs, each FUNCTIONAL_TIME_DEPENDENT numeric column (e.g. Age)
     its values with the measurement name as the single key
     (reference :1100-1156). The measurement name is just one more
     grouping key, so the fit's four eager materializations run once,
     not once per measurement;
  3. categorical fit (``CategoricalPreprocessor``) over ALL
     measurements' elements — classification measurements contribute
     their values; regression measurements contribute their keys with
     categorical-subtype keys rewritten to ``__EQ_`` tokens first
     (:1320-1331), in one join of the observations to the numeric
     state on (measurement, element);
  4. static measurements: vocabularies over ``subjects`` columns.

Steps 2 and 3 read the melted train observations from one
``localCheckpoint`` taken per fit() call, so the melt runs once.

transform (any split): produces a LONG-format observations relation
``(metadata_id, event_id, subject_id, measurement, element, value)``
with numeric transforms applied (drop/censor/outlier-null/normalize),
categorical rewrites done, and out-of-vocab elements mapped to UNK —
exactly the shape :func:`eventstreamml_spark.export.tensorize`
consumes, closing the E1→E2→E3 pipeline.

The wide→long melt is a union of one filtered scan per measurement (no
UDF). The union stays on purpose: the inputs are often single-row-group
parquet files, where each scan is one task, and a merged one-scan melt
gave the final write half the tasks and a slower pass. Model state is
small DataFrames throughout, broadcast at transform.

Saved model layout (``EventStreamPreprocessorModel.save``)::

    config.json     the DatasetConfig
    model.json      manifest: numeric measurements, static vocab names
    numeric/        the one NumericPreprocessorModel (by=measurement):
                    state/ holds one row per (measurement, key)
    categorical/    status/ and vocab/ of the CategoricalPreprocessorModel
    static_vocabs/<name>/   one vocabulary per static measurement
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from eventstreamml_spark.config import (
    DataModality,
    DatasetConfig,
    TemporalityType,
)
from eventstreamml_spark.dataset import EventStreamDataset
from eventstreamml_spark.functions.tokens import float_token, int_token
from eventstreamml_spark.preprocessing.categorical import (
    CategoricalPreprocessor,
    CategoricalPreprocessorModel,
)
from eventstreamml_spark.preprocessing.functors import FUNCTORS, with_age
from eventstreamml_spark.preprocessing.pipeline import (
    NumericPreprocessor,
    NumericPreprocessorModel,
)
from eventstreamml_spark.vocabulary import build_vocabulary


def add_time_dependent_columns(
    events: DataFrame,
    subjects: DataFrame | None,
    config: DatasetConfig,
) -> DataFrame:
    """E2 step 1 (:937-945): attach one column per
    FUNCTIONAL_TIME_DEPENDENT measurement via the functor registry."""
    for name, mc in config.measurement_configs.items():
        if mc.temporality != TemporalityType.FUNCTIONAL_TIME_DEPENDENT:
            continue
        if mc.functor == "time_of_day":
            events = events.withColumn(name, FUNCTORS["time_of_day"](F.col("timestamp")))
        elif mc.functor == "age":
            if subjects is None:
                raise ValueError(f"{name}: age functor requires a subjects relation")
            events = with_age(events, subjects, out_col=name)
        else:
            raise KeyError(f"{name}: unknown functor {mc.functor!r}")
    return events


class EventStreamPreprocessorModel:
    """``numeric_model`` is one NumericPreprocessorModel keyed by
    (measurement, key) over the measurements in
    ``numeric_measurements`` (None when there are none)."""

    def __init__(
        self,
        config: DatasetConfig,
        numeric_model: NumericPreprocessorModel | None,
        numeric_measurements: list[str],
        categorical_model: CategoricalPreprocessorModel,
        static_vocabs: dict[str, DataFrame],
    ) -> None:
        self.config = config
        self.numeric_model = numeric_model
        self.numeric_measurements = numeric_measurements
        self.categorical_model = categorical_model
        self.static_vocabs = static_vocabs

    def vocabs(self) -> dict[str, DataFrame]:
        """Per-measurement vocabularies (element, freq, idx) for
        :func:`tensorize`, in declared-measurement order."""
        v = self.categorical_model.vocab
        out = {}
        for name, mc in self.config.measurement_configs.items():
            if mc.temporality == TemporalityType.STATIC:
                continue
            out[name] = v.filter(F.col("measurement") == name).select("element", "freq", "idx")
        return out

    def transform(self, ds: EventStreamDataset) -> DataFrame:
        """Long observations with all transforms applied."""
        obs = melt_observations(ds, self.config)

        # numeric transforms (value path): one branch over every
        # numeric measurement, keyed by (measurement, key)
        m = self.numeric_model
        if m is not None:
            is_numeric = F.col("measurement").isin(self.numeric_measurements)
            numeric = m.transform(
                obs.filter(is_numeric)
                .withColumnRenamed("element", m.key_col)
                .withColumnRenamed("value", m.value_col)
            ).select(
                "metadata_id",
                "event_id",
                "subject_id",
                "measurement",
                # categorical-subtype keys were rewritten to tokens;
                # numeric keys keep the key as element
                F.coalesce(F.col(f"{m.value_col}_token"), F.col(m.key_col)).alias("element"),
                F.col(m.value_col).alias("value"),
            )
            obs = obs.filter(~is_numeric).unionByName(numeric)

        # vocab membership: OOV → UNK, dropped measurements → null element
        return self.categorical_model.transform(obs)

    # -- persistence: the reference dill-pickles the whole dataset
    #    object (event_stream_dataset.py:42-44, utils.py:95-116); here
    #    every piece of fitted state is an engine-portable parquet
    #    relation plus the config's existing JSON round-trip. ----------
    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        self.config.to_json_file(os.path.join(path, "config.json"))
        if self.numeric_model is not None:
            self.numeric_model.save(os.path.join(path, "numeric"))
        self.categorical_model.save(os.path.join(path, "categorical"))
        for name, v in self.static_vocabs.items():
            v.write.mode("overwrite").parquet(os.path.join(path, "static_vocabs", name))
        manifest = {
            "model": "event_stream_preprocessor",
            "numeric_measurements": self.numeric_measurements,
            "static_vocabs": sorted(self.static_vocabs),
        }
        with open(os.path.join(path, "model.json"), "w") as f:
            json.dump(manifest, f, indent=2)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "EventStreamPreprocessorModel":
        with open(os.path.join(path, "model.json")) as f:
            m = json.load(f)
        config = DatasetConfig.from_json_file(os.path.join(path, "config.json"))
        numeric_measurements = m["numeric_measurements"]
        numeric_model = None
        if numeric_measurements:
            numeric_model = NumericPreprocessorModel.load(spark, os.path.join(path, "numeric"))
        cat_model = CategoricalPreprocessorModel.load(
            spark, os.path.join(path, "categorical")
        )
        static_vocabs = {
            name: spark.read.parquet(os.path.join(path, "static_vocabs", name))
            for name in m["static_vocabs"]
        }
        return cls(config, numeric_model, numeric_measurements, cat_model, static_vocabs)


def melt_observations(ds: EventStreamDataset, config: DatasetConfig) -> DataFrame:
    """Wide sparse metadata + functor event columns → long observations
    ``(metadata_id, event_id, subject_id, measurement, element, value)``.

    - MULTI/SINGLE_LABEL measurements: element = the measurement
      column's value (cast to string), value = null;
    - MULTIVARIATE_REGRESSION: element = the key column's value,
      value = the values_column;
    - FUNCTIONAL_TIME_DEPENDENT: one observation per event from the
      functor column on events (metadata_id = -event_id-1: synthetic,
      collision-free vs real metadata ids which are ≥0).
    """
    pieces: list[DataFrame] = []
    md, ev = ds.metadata, ds.events
    for name, mc in config.measurement_configs.items():
        if mc.temporality == TemporalityType.DYNAMIC:
            if mc.modality == DataModality.MULTIVARIATE_REGRESSION:
                if name not in md.columns:
                    continue
                pieces.append(
                    md.filter(F.col(name).isNotNull()).select(
                        "metadata_id",
                        "event_id",
                        "subject_id",
                        F.lit(name).alias("measurement"),
                        F.col(name).cast("string").alias("element"),
                        F.col(mc.values_column).cast("double").alias("value"),
                    )
                )
            else:
                if name not in md.columns:
                    continue
                pieces.append(
                    md.filter(F.col(name).isNotNull()).select(
                        "metadata_id",
                        "event_id",
                        "subject_id",
                        F.lit(name).alias("measurement"),
                        F.col(name).cast("string").alias("element"),
                        F.lit(None).cast("double").alias("value"),
                    )
                )
        elif mc.temporality == TemporalityType.FUNCTIONAL_TIME_DEPENDENT:
            if name not in ev.columns:
                continue
            is_numeric = dict(ev.dtypes)[name] in ("double", "float", "int", "bigint")
            pieces.append(
                ev.filter(F.col(name).isNotNull()).select(
                    (-F.col("event_id") - 1).alias("metadata_id"),
                    "event_id",
                    "subject_id",
                    F.lit(name).alias("measurement"),
                    (F.lit(name) if is_numeric else F.col(name).cast("string")).alias("element"),
                    (F.col(name).cast("double") if is_numeric else F.lit(None).cast("double")).alias("value"),
                )
            )
    if not pieces:
        raise ValueError("no declared dynamic/time-dependent measurements found")
    obs = pieces[0]
    for p in pieces[1:]:
        obs = obs.unionByName(p)
    return obs


class EventStreamPreprocessor:
    """Estimator over (EventStreamDataset, DatasetConfig)."""

    def __init__(self, config: DatasetConfig) -> None:
        self.config = config

    def fit(self, train_ds: EventStreamDataset, bounds: DataFrame | None = None) -> EventStreamPreprocessorModel:
        cfg = self.config
        pcfg = cfg.preprocessing_config()
        # The melted train observations feed the value-type, outlier and
        # normalizer fits and the categorical fit, each an eager job of
        # its own that would otherwise re-run the melt (source scans,
        # split restriction, functor joins). Pinned once per fit() call,
        # only the columns the fits read (esds 100k events, 4 cores:
        # warm fit 7.0 -> 4.5 s).
        long = (
            melt_observations(train_ds, cfg)
            .select("measurement", "element", "value")
            .localCheckpoint()
        )

        # 2. numeric fit: multivariate-regression measurements (per-key
        #    over their (key, value) pairs) AND functional time-dependent
        #    numeric columns (single key = the measurement name) — the
        #    reference fits both (_fit_dynamic_numerical_metadata_column
        #    and _fit_time_dependent_numerical_metadata_column,
        #    event_stream_dataset.py:1012-1013, :1100-1156), so columns
        #    like Age get bounds/outlier/normalizer state too. One keyed
        #    fit over all of them: the measurement is a grouping key.
        ev_dtypes = dict(train_ds.events.dtypes)
        numeric_measurements = [
            name
            for name, mc in cfg.measurement_configs.items()
            if mc.modality == DataModality.MULTIVARIATE_REGRESSION
            or (
                mc.temporality == TemporalityType.FUNCTIONAL_TIME_DEPENDENT
                and mc.is_numeric
                and ev_dtypes.get(name) in ("double", "float", "int", "bigint")
            )
        ]
        numeric_model = None
        elements = long
        if numeric_measurements:
            part = long.filter(F.col("measurement").isin(numeric_measurements)).select(
                "measurement", F.col("element").alias("key"), "value"
            )
            numeric_model = NumericPreprocessor(
                "key", "value", pcfg, by=["measurement"]
            ).fit(part, bounds)
            # categorical-subtype keys become __EQ_ tokens: one join of
            # all observations to the state on (measurement, element)
            vt = numeric_model.state.select(
                "measurement", F.col("key").alias("element"), F.col("value_type").alias("_vt")
            )
            token = (
                F.when(F.col("_vt") == "categorical_integer",
                       int_token(F.col("element"), F.col("value")))
                .when(F.col("_vt") == "categorical_float",
                      float_token(F.col("element"), F.col("value")))
                .otherwise(F.col("element"))
            )
            elements = long.join(F.broadcast(vt), ["measurement", "element"], "left").withColumn(
                "element", token
            )

        # 3. categorical fit over final elements (tokens for
        #    categorical-subtype regression keys, raw elements otherwise)
        cat_model = CategoricalPreprocessor("measurement", "element", pcfg).fit(
            elements.select("measurement", "element")
        )

        # 4. static vocabularies
        static_vocabs: dict[str, DataFrame] = {}
        if train_ds.subjects is not None:
            for name, mc in cfg.measurement_configs.items():
                if mc.temporality == TemporalityType.STATIC and name in train_ds.subjects.columns:
                    static_vocabs[name] = build_vocabulary(
                        train_ds.subjects.select(name), name
                    )

        return EventStreamPreprocessorModel(
            cfg, numeric_model, numeric_measurements, cat_model, static_vocabs
        )
