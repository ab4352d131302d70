"""End-to-end E1→E2→E3 lifecycle: construct dataset → fit preprocessor
on train → transform → tensorize → export (the reference's
construct → preprocess_metadata → pytorch-dataset flow, SURVEY §3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eventstreamml_spark.config import DatasetConfig
from eventstreamml_spark.dataset import EventStreamDataset
from eventstreamml_spark.export import tensorize
from eventstreamml_spark.preprocessing.orchestrate import (
    EventStreamPreprocessor,
    add_time_dependent_columns,
    melt_observations,
)


@pytest.fixture()
def ds(spark):
    """Two subjects, lab multivariate regression + dx multi-label +
    time-of-day functor; hr is numeric, flag is categorical-integer-ish."""
    events = spark.createDataFrame(
        [
            (0, 1, "2020-01-01 04:00:00", "visit"),
            (1, 1, "2020-01-02 13:00:00", "visit"),
            (2, 2, "2020-01-01 22:00:00", "visit"),
        ],
        "event_id long, subject_id long, timestamp string, event_type string",
    )
    rows = []
    mid = 0
    import numpy as np

    rng = np.random.default_rng(0)
    for eid, sid in [(0, 1), (1, 1), (2, 2)]:
        for _ in range(40):
            rows.append((mid, eid, "visit", sid, "hr", float(rng.normal(70, 5)), None))
            mid += 1
            rows.append((mid, eid, "visit", sid, "flag", float(rng.integers(0, 2)), None))
            mid += 1
        rows.append((mid, eid, "visit", sid, None, None, "flu"))
        mid += 1
    metadata = spark.createDataFrame(
        rows,
        "metadata_id long, event_id long, event_type string, subject_id long, "
        "lab string, lab_value double, dx string",
    )
    subjects = spark.createDataFrame([(1, "F"), (2, "M")], "subject_id long, sex string")
    return EventStreamDataset(events, metadata=metadata, subjects=subjects)


@pytest.fixture()
def config():
    return DatasetConfig.from_simple_args(
        dynamic_measurement_columns=["dx", ("lab", "lab_value")],
        static_measurement_columns=["sex"],
        time_dependent_measurement_columns=[("tod", "time_of_day")],
        min_true_float_frequency=0.1,
        min_unique_numerical_observations=5,
    )


def test_melt_observations_shapes(ds, config):
    ds.events = add_time_dependent_columns(ds.events, ds.subjects, config)
    obs = melt_observations(ds, config)
    kinds = {r["measurement"] for r in obs.select("measurement").distinct().collect()}
    assert kinds == {"lab", "dx", "tod"}
    # tod: one per event, synthetic negative metadata ids
    tod = obs.filter(F.col("measurement") == "tod").collect()
    assert len(tod) == 3 and all(r["metadata_id"] < 0 for r in tod)
    assert {r["element"] for r in tod} == {"EARLY_AM", "PM", "LATE_PM"}


def test_full_lifecycle(ds, config):
    ds.events = add_time_dependent_columns(ds.events, ds.subjects, config)
    model = EventStreamPreprocessor(config).fit(ds)

    # numeric fit: hr stays numeric, flag (2 uniques < 5) → categorical_integer
    lab_state = model.numeric_model.state.filter(F.col("measurement") == "lab")
    state = {r["key"]: r["value_type"] for r in lab_state.collect()}
    assert state["hr"] in ("float", "integer") and state["flag"] == "categorical_integer"

    # categorical vocab: flag tokens present, hr key kept as element
    vocab = model.categorical_model.vocab
    lab_elems = {r["element"] for r in vocab.filter(F.col("measurement") == "lab").collect()}
    assert {"flag__EQ_0", "flag__EQ_1", "hr"} <= lab_elems
    dx_elems = {r["element"] for r in vocab.filter(F.col("measurement") == "dx").collect()}
    assert "flu" in dx_elems

    obs = model.transform(ds)
    # hr observations keep normalized numeric values, element 'hr'
    hr = obs.filter(F.col("element") == "hr")
    assert hr.filter(F.col("value").isNotNull()).count() == 120
    # flag observations became tokens with nulled values
    fl = obs.filter(F.col("element").startswith("flag__EQ_"))
    assert fl.count() == 120 and fl.filter(F.col("value").isNotNull()).count() == 0

    # E3: tensorize with the model's vocabs + static vocab
    vocabs = {"event_type": _et_vocab(ds), **model.vocabs()}
    out = tensorize(
        ds.events.select("event_id", "subject_id", "timestamp", "event_type"),
        obs.filter(F.col("element").isNotNull()),
        vocabs,
        static_df=ds.subjects,
        static_vocab=model.static_vocabs["sex"],
        static_col="sex",
    )
    rows = {r["subject_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2}
    s1 = rows[1]
    assert len(s1["time"]) == 2 and s1["time"][0] == 0.0
    # every event carries 1 event_type + 81 lab/dx + 1 tod = 83 entries
    assert all(len(e) == 83 for e in s1["dynamic_indices"])
    assert len(s1["static_indices"]) == 1


def _et_vocab(ds):
    return build_et_vocab(ds)


def build_et_vocab(ds):
    from eventstreamml_spark.vocabulary import build_vocabulary

    return build_vocabulary(ds.events.select("event_type"), "event_type")


def test_time_dependent_numeric_fit(spark):
    """FUNCTIONAL_TIME_DEPENDENT numeric columns (Age) get full numeric
    model state — bounds/outlier/normalizer — like the reference's
    _fit_time_dependent_numerical_metadata_column
    (event_stream_dataset.py:1100-1156)."""
    import numpy as np

    rng = np.random.default_rng(7)
    ev_rows = []
    eid = 0
    for sid in (1, 2, 3):
        for d in sorted(rng.integers(1, 25, size=20).tolist()):
            ev_rows.append((eid, sid, f"2020-03-{d:02d} 12:00:00", "visit"))
            eid += 1
    events = spark.createDataFrame(
        ev_rows, "event_id long, subject_id long, timestamp string, event_type string"
    )
    metadata = spark.createDataFrame(
        [(i, i, "visit", (i % 3) + 1, "flu") for i in range(eid)],
        "metadata_id long, event_id long, event_type string, subject_id long, dx string",
    )
    subjects = spark.createDataFrame(
        [(1, "1980-06-01"), (2, "1990-01-15"), (3, "2001-11-30")],
        "subject_id long, dob string",
    )
    ds = EventStreamDataset(events, metadata=metadata, subjects=subjects)

    config = DatasetConfig.from_simple_args(
        dynamic_measurement_columns=["dx"],
        time_dependent_measurement_columns=[("age", "age")],
        min_true_float_frequency=0.1,
    )
    ds.events = add_time_dependent_columns(ds.events, ds.subjects, config)
    model = EventStreamPreprocessor(config).fit(ds)

    # the age column now has fitted numeric state under its own name
    assert "age" in model.numeric_measurements
    age_state = model.numeric_model.state.filter(F.col("measurement") == "age")
    state = {r["key"]: r for r in age_state.collect()}
    s = state["age"]
    assert s["value_type"] == "float"
    assert s["thresh_small"] is not None and s["thresh_large"] is not None
    assert s["norm_mean"] is not None and s["norm_std"] is not None

    # transform: age observations are normalized (inlier mean ~ 0)
    obs = model.transform(ds)
    age_vals = [
        r["value"]
        for r in obs.filter(F.col("measurement") == "age").collect()
        if r["value"] is not None
    ]
    assert len(age_vals) > 0
    assert abs(float(np.mean(age_vals))) < 0.3
    # age element survives into the categorical vocab as its own token
    vocab_elems = {
        r["element"]
        for r in model.categorical_model.vocab.filter(
            F.col("measurement") == "age"
        ).collect()
    }
    assert "age" in vocab_elems


def test_model_persistence_round_trip(spark, ds, config, tmp_path):
    """fit → save → load → transform must equal direct transform —
    the reference's fit-once/transform-later production contract
    (dill persistence, event_stream_dataset.py:42-44) re-expressed as
    parquet relations + JSON manifests."""
    from eventstreamml_spark.preprocessing.orchestrate import (
        EventStreamPreprocessorModel,
    )

    ds.events = add_time_dependent_columns(ds.events, ds.subjects, config)
    model = EventStreamPreprocessor(config).fit(ds)
    path = str(tmp_path / "model")
    model.save(path)
    loaded = EventStreamPreprocessorModel.load(spark, path)

    assert loaded.numeric_measurements == model.numeric_measurements
    assert set(loaded.static_vocabs) == set(model.static_vocabs)
    assert loaded.config.to_dict() == model.config.to_dict()

    cols = ["metadata_id", "event_id", "subject_id", "measurement", "element", "value"]
    direct = sorted(model.transform(ds).select(*cols).collect())
    via_disk = sorted(loaded.transform(ds).select(*cols).collect())
    assert via_disk == direct

    # sub-model round-trips preserve full state tables, per measurement
    assert loaded.numeric_model.by == model.numeric_model.by == ["measurement"]
    for name in model.numeric_measurements:
        in_name = F.col("measurement") == name
        a = sorted(model.numeric_model.state.filter(in_name).collect())
        b = sorted(loaded.numeric_model.state.filter(in_name).collect())
        assert a and a == b
    assert sorted(model.categorical_model.vocab.collect()) == sorted(
        loaded.categorical_model.vocab.collect()
    )


def _two_regression_ds(spark):
    """Two regression measurements, ``lab`` and ``vit``, sharing the key
    names ``hr``, ``flag`` and ``rare``: ``flag`` is categorical-integer
    in both; ``rare`` has 15 rows in each, which is 7% of ``lab`` but
    under 2% of ``vit``, so a 5% vocab threshold keeps it only when the
    column total is per measurement."""
    import numpy as np

    rng = np.random.default_rng(3)
    events = spark.createDataFrame(
        [(e, e % 3, f"2020-01-{e + 1:02d} 10:00:00", "visit") for e in range(6)],
        "event_id long, subject_id long, timestamp string, event_type string",
    )
    rows = []

    def add(meas, key, val):
        eid = len(rows) % 6
        lab = (key, val, None, None) if meas == "lab" else (None, None, key, val)
        rows.append((len(rows), eid, "visit", eid % 3, *lab))

    for _ in range(100):
        add("lab", "hr", float(rng.normal(70, 5)))
        add("vit", "hr", float(rng.normal(120, 9)))
    for _ in range(80):
        add("lab", "flag", float(rng.integers(0, 2)))
    for _ in range(700):
        add("vit", "flag", float(rng.integers(0, 3)))
    for _ in range(15):
        add("lab", "rare", float(rng.normal(5, 1)))
        add("vit", "rare", float(rng.normal(9, 2)))
    metadata = spark.createDataFrame(
        rows,
        "metadata_id long, event_id long, event_type string, subject_id long, "
        "lab string, lab_value double, vit string, vit_value double",
    )
    return EventStreamDataset(events, metadata=metadata)


@pytest.mark.parametrize(
    "models",
    [
        {},
        {
            "outlier_detector_config": {"cls": "stddev_cutoff", "n_stddevs": 2.0},
            "normalizer_config": {"cls": "quantile_transformer", "n_quantiles": 11},
        },
    ],
    ids=["viod-scaler", "stddev-quantile"],
)
def test_joint_numeric_fit_equals_per_measurement_fits(spark, models):
    """One keyed fit over every numeric measurement gives each
    (measurement, key) exactly the state and transform output of a
    separate NumericPreprocessor fit over that measurement's rows, for
    every registry outlier detector and normalizer."""
    from eventstreamml_spark.preprocessing.pipeline import NumericPreprocessor

    ds = _two_regression_ds(spark)
    config = DatasetConfig.from_simple_args(
        dynamic_measurement_columns=[("lab", "lab_value"), ("vit", "vit_value")],
        min_true_float_frequency=0.1,
        min_unique_numerical_observations=5,
        min_valid_vocab_element_observations=0.05,
        **models,
    )
    bounds = spark.createDataFrame(
        [("hr", 60.0, True, 130.0, False)],
        "key string, drop_lower_bound double, drop_lower_bound_inclusive boolean, "
        "drop_upper_bound double, drop_upper_bound_inclusive boolean",
    )
    model = EventStreamPreprocessor(config).fit(ds, bounds)
    assert model.numeric_measurements == ["lab", "vit"]
    joint = model.numeric_model

    long = melt_observations(ds, config).select(
        "metadata_id", "measurement", F.col("element").alias("key"), "value"
    )
    types = {}
    for name in ("lab", "vit"):
        part = long.filter(F.col("measurement") == name)
        single = NumericPreprocessor("key", "value", config.preprocessing_config()).fit(
            part.drop("measurement"), bounds
        )
        in_name = F.col("measurement") == name
        got = joint.state.filter(in_name).drop("measurement")
        assert sorted(got.collect()) == sorted(single.state.select(*got.columns).collect())
        if single.norm_state is not None:
            got_norm = joint.norm_state.filter(in_name).drop("measurement")
            assert sorted(got_norm.collect()) == sorted(
                single.norm_state.select(*got_norm.columns).collect()
            )
        types[name] = {r["key"]: r["value_type"] for r in got.collect()}

        got_out = joint.transform(part).drop("measurement")
        want_out = single.transform(part.drop("measurement"))
        assert sorted(got_out.collect()) == sorted(want_out.select(*got_out.columns).collect())

    # the per-measurement total decides ``rare``; flag tokens in both
    assert types["lab"]["rare"] != "dropped" and types["vit"]["rare"] == "dropped"
    assert types["lab"]["flag"] == types["vit"]["flag"] == "categorical_integer"
    vocab = {
        (r["measurement"], r["element"]) for r in model.categorical_model.vocab.collect()
    }
    assert {("lab", "flag__EQ_1"), ("vit", "flag__EQ_2")} <= vocab
    assert ("vit", "flag__EQ_1") in vocab and ("lab", "flag__EQ_2") not in vocab


def test_fit_checkpoints_do_not_grow_with_numeric_measurements(spark, monkeypatch):
    """The numeric fit is one keyed pass: a config with three numeric
    measurements runs as many eager localCheckpoints as one with one."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    ds = _two_regression_ds(spark)
    subjects = spark.createDataFrame(
        [(0, "1980-06-01"), (1, "1990-01-15"), (2, "2001-11-30")],
        "subject_id long, dob string",
    )
    ds = EventStreamDataset(ds.events, metadata=ds.metadata, subjects=subjects)

    calls = []
    original = ClassicDataFrame.localCheckpoint

    def counting(self, *args, **kwargs):
        calls.append(1)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", counting)

    def fit_checkpoints(dynamic, time_dependent):
        config = DatasetConfig.from_simple_args(
            dynamic_measurement_columns=dynamic,
            time_dependent_measurement_columns=time_dependent,
            min_true_float_frequency=0.1,
        )
        fit_ds = EventStreamDataset(
            add_time_dependent_columns(ds.events, ds.subjects, config),
            metadata=ds.metadata,
            subjects=ds.subjects,
        )
        calls.clear()
        model = EventStreamPreprocessor(config).fit(fit_ds)
        return len(model.numeric_measurements), len(calls)

    one = fit_checkpoints([("lab", "lab_value")], [])
    three = fit_checkpoints(
        [("lab", "lab_value"), ("vit", "vit_value")], [("age", "age")]
    )
    assert one[0] == 1 and three[0] == 3
    assert one[1] == three[1] > 0
