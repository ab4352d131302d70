"""Preprocessing configuration — the engine's analog of the reference's
dataset-level thresholds (config.py:345-351) and pluggable model
configs (config.py:330-342). Plain dataclass with JSON round-trip.
"""

from __future__ import annotations

import dataclasses
import json
from typing import Any


@dataclasses.dataclass
class PreprocessingConfig:
    """Thresholds driving numeric/categorical fit decisions.

    Count-or-proportion semantics (reference utils.py:11-26): an int
    threshold is an absolute count; a float is a proportion of the
    relevant total.
    """

    min_valid_column_observations: int | float | None = None
    min_valid_vocab_element_observations: int | float | None = None
    min_true_float_frequency: float | None = 0.1
    min_unique_numerical_observations: int | float | None = None
    max_numerical_value_frequency: float | None = None
    outlier_detector_config: dict[str, Any] | None = None
    normalizer_config: dict[str, Any] | None = None

    def to_json(self) -> str:
        return json.dumps(dataclasses.asdict(self))

    @classmethod
    def from_json(cls, s: str) -> "PreprocessingConfig":
        return cls(**json.loads(s))
