"""Pluggable metadata-model registry — SURVEY §2.9 U2.

The reference resolves outlier/normalizer classes through the
``METADATA_MODELS`` dict (event_stream_dataset.py:46-54) from configs
shaped ``{'cls': <name>, **kwargs}`` (config.py:330-342). The engine's
analog: each entry pairs a ``fit`` (DataFrame → per-key model-state
DataFrame) with an ``apply`` (data + state → transformed DataFrame).
Both take ``by``: grouping columns in front of the key (e.g. the
measurement name), carried in the state and joined on at apply.
Register additional models by inserting here; configs stay plain JSON.
"""

from __future__ import annotations

from eventstreamml_spark.preprocessing.normalizer import (
    apply_quantile_transformer,
    apply_standard_scaler,
    fit_quantile_transformer,
    fit_standard_scaler,
)
from eventstreamml_spark.preprocessing.outliers import (
    apply_viod,
    fit_stddev_cutoff_per_key,
    fit_viod_per_key,
)

NORMALIZERS = {
    "standard_scaler": {"fit": fit_standard_scaler, "apply": apply_standard_scaler},
    "quantile_transformer": {"fit": fit_quantile_transformer, "apply": apply_quantile_transformer},
}

OUTLIER_DETECTORS = {
    "variance_impact": {"fit": fit_viod_per_key, "apply": apply_viod},
    "stddev_cutoff": {"fit": fit_stddev_cutoff_per_key, "apply": apply_viod},
}
