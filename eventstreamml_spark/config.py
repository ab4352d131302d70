"""Declared measurement/dataset configuration — SURVEY §1.2.

Spark-side re-expression of the reference's type system
(EventStream/EventStreamData/types.py:37-133) and config objects
(config.py:44-471): three orthogonal enums, a per-measurement
``MeasurementConfig`` with the reference's temporality×modality
validation matrix, and a dataset-level ``DatasetConfig`` holding the
preprocessing thresholds and the measurement dict, with
``from_simple_args`` plain-column-list construction (config.py:404-471)
and JSON round-trips (config.py:250-283, utils.py:95-116).

The *inferred* counterparts (value types, vocabularies, fitted bounds)
live in the fitted model-state DataFrames produced by the
``preprocessing`` estimators — declared config stays a small
driver-side object; inferred state stays data.
"""

from __future__ import annotations

import dataclasses
import enum
import json
from typing import Any


class TemporalityType(str, enum.Enum):
    """How a measure varies w.r.t. time (types.py:37-61)."""

    STATIC = "static"
    DYNAMIC = "dynamic"
    FUNCTIONAL_TIME_DEPENDENT = "functional_time_dependent"


class DataModality(str, enum.Enum):
    """Observation modality (types.py:63-108)."""

    DROPPED = "dropped"
    SINGLE_LABEL_CLASSIFICATION = "single_label_classification"
    MULTI_LABEL_CLASSIFICATION = "multi_label_classification"
    MULTIVARIATE_REGRESSION = "multivariate_regression"
    UNIVARIATE_REGRESSION = "univariate_regression"


NUMERIC_MODALITIES = (
    DataModality.MULTIVARIATE_REGRESSION,
    DataModality.UNIVARIATE_REGRESSION,
)


@dataclasses.dataclass
class MeasurementConfig:
    """One declared measurement (reference config.py:44-283).

    ``functor`` is the *name* of a registered time-dependent functor
    (preprocessing.functors.FUNCTORS) rather than a live object — the
    registry keeps configs JSON-serializable.
    """

    name: str
    temporality: TemporalityType
    modality: DataModality
    values_column: str | None = None
    functor: str | None = None
    present_in_event_types: list[str] | None = None
    extra: dict[str, Any] = dataclasses.field(default_factory=dict)

    @property
    def is_numeric(self) -> bool:
        return self.modality in NUMERIC_MODALITIES

    def __post_init__(self) -> None:
        self.temporality = TemporalityType(self.temporality)
        self.modality = DataModality(self.modality)
        self._validate()

    def _validate(self) -> None:
        """The reference's temporality×modality matrix
        (config.py:158-200), same NotImplementedError edges."""
        t, m = self.temporality, self.modality
        if t == TemporalityType.STATIC:
            if self.present_in_event_types is not None or self.functor is not None:
                raise ValueError(f"{self.name}: static measures take no event types/functor")
            if self.is_numeric:
                raise NotImplementedError(
                    f"{self.name}: numeric modalities not supported on static measures"
                )
        elif t == TemporalityType.DYNAMIC:
            if self.functor is not None:
                raise ValueError(f"{self.name}: dynamic measures take no functor")
            if m == DataModality.UNIVARIATE_REGRESSION:
                raise NotImplementedError(
                    f"{self.name}: dynamic univariate regression not supported"
                )
        elif t == TemporalityType.FUNCTIONAL_TIME_DEPENDENT:
            if self.functor is None:
                raise ValueError(f"{self.name}: time-dependent measures require a functor")
            if self.present_in_event_types is not None:
                raise ValueError(f"{self.name}: time-dependent measures take no event types")

        if m == DataModality.MULTIVARIATE_REGRESSION:
            if self.values_column is None:
                raise ValueError(f"{self.name}: multivariate regression requires values_column")
        elif self.values_column is not None:
            raise ValueError(f"{self.name}: values_column only valid for multivariate regression")

    def drop(self) -> None:
        self.modality = DataModality.DROPPED

    def to_dict(self) -> dict:
        d = dataclasses.asdict(self)
        d["temporality"] = self.temporality.value
        d["modality"] = self.modality.value
        return d

    @classmethod
    def from_dict(cls, d: dict) -> "MeasurementConfig":
        return cls(**d)


@dataclasses.dataclass
class DatasetConfig:
    """Dataset-level config (reference config.py:285-402): measurement
    dict + preprocessing thresholds (the threshold fields mirror
    ``PreprocessingConfig`` and convert via ``preprocessing_config``)."""

    measurement_configs: dict[str, MeasurementConfig] = dataclasses.field(default_factory=dict)
    min_valid_column_observations: int | float | None = None
    min_valid_vocab_element_observations: int | float | None = None
    min_true_float_frequency: float | None = 0.1
    min_unique_numerical_observations: int | float | None = None
    max_numerical_value_frequency: float | None = None
    outlier_detector_config: dict[str, Any] | None = None
    normalizer_config: dict[str, Any] | None = None

    @classmethod
    def from_simple_args(
        cls,
        dynamic_measurement_columns: list | None = None,
        static_measurement_columns: list[str] | None = None,
        time_dependent_measurement_columns: list[tuple[str, str]] | None = None,
        **kwargs,
    ) -> "DatasetConfig":
        """Plain-column-list construction (config.py:404-471): a bare
        string is a dynamic multi-label column; a (key, values) pair is
        dynamic multivariate regression; static columns are single-label
        classification; (name, functor_name) pairs are functional
        time-dependent univariate regressions."""
        mcs: dict[str, MeasurementConfig] = {}
        for col in dynamic_measurement_columns or []:
            if isinstance(col, str):
                mcs[col] = MeasurementConfig(
                    col, TemporalityType.DYNAMIC, DataModality.MULTI_LABEL_CLASSIFICATION
                )
            else:
                key, vals = col
                mcs[key] = MeasurementConfig(
                    key,
                    TemporalityType.DYNAMIC,
                    DataModality.MULTIVARIATE_REGRESSION,
                    values_column=vals,
                )
        for col in static_measurement_columns or []:
            mcs[col] = MeasurementConfig(
                col, TemporalityType.STATIC, DataModality.SINGLE_LABEL_CLASSIFICATION
            )
        for name, functor in time_dependent_measurement_columns or []:
            mcs[name] = MeasurementConfig(
                name,
                TemporalityType.FUNCTIONAL_TIME_DEPENDENT,
                DataModality.UNIVARIATE_REGRESSION,
                functor=functor,
            )
        return cls(measurement_configs=mcs, **kwargs)

    def preprocessing_config(self):
        from eventstreamml_spark.preprocessing.config import PreprocessingConfig

        return PreprocessingConfig(
            min_valid_column_observations=self.min_valid_column_observations,
            min_valid_vocab_element_observations=self.min_valid_vocab_element_observations,
            min_true_float_frequency=self.min_true_float_frequency,
            min_unique_numerical_observations=self.min_unique_numerical_observations,
            max_numerical_value_frequency=self.max_numerical_value_frequency,
            outlier_detector_config=self.outlier_detector_config,
            normalizer_config=self.normalizer_config,
        )

    # -- JSON round-trip (S6) ------------------------------------------
    def to_dict(self) -> dict:
        d = dataclasses.asdict(self)
        d["measurement_configs"] = {k: v.to_dict() for k, v in self.measurement_configs.items()}
        return d

    def to_json(self) -> str:
        return json.dumps(self.to_dict(), indent=2)

    @classmethod
    def from_dict(cls, d: dict) -> "DatasetConfig":
        d = dict(d)
        d["measurement_configs"] = {
            k: MeasurementConfig.from_dict(v) for k, v in d.get("measurement_configs", {}).items()
        }
        return cls(**d)

    @classmethod
    def from_json(cls, s: str) -> "DatasetConfig":
        return cls.from_dict(json.loads(s))

    def to_json_file(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def from_json_file(cls, path: str) -> "DatasetConfig":
        with open(path) as f:
            return cls.from_json(f.read())
