"""Preprocessing estimators: VIOD statistical contracts (reference
test pattern 4), value-type inference case table (pattern 2),
normalizers, token strings, end-to-end pipeline."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from eventstreamml_spark.functions.tokens import float_token, int_token
from eventstreamml_spark.preprocessing.config import PreprocessingConfig
from eventstreamml_spark.preprocessing.normalizer import (
    apply_quantile_transformer,
    apply_standard_scaler,
    fit_quantile_transformer,
    fit_standard_scaler,
)
from eventstreamml_spark.preprocessing.outliers import (
    VarianceImpactOutlierDetector,
    apply_viod,
    fit_viod_per_key,
)
from eventstreamml_spark.preprocessing.pipeline import NumericPreprocessor
from eventstreamml_spark.preprocessing.types_infer import infer_value_types


# --- VIOD: statistical contracts (reference
# test_variance_impact_outlier_detector.py:12-114 style) ---
@pytest.mark.parametrize(
    "draw",
    [
        lambda rng: rng.normal(10, 3, 5000),
        lambda rng: rng.lognormal(1, 0.5, 5000),
        lambda rng: rng.exponential(2, 5000),
        lambda rng: np.concatenate([rng.normal(0, 1, 2500), rng.normal(50, 1, 2500)]),
    ],
)
def test_viod_keeps_inliers(draw):
    rng = np.random.default_rng(0)
    x = draw(rng)
    det = VarianceImpactOutlierDetector().fit(x)
    kept = (det.predict(x) == 1).mean()
    assert kept >= 0.999, f"kept only {kept:.4f}"


def test_viod_recovers_planted_outliers():
    rng = np.random.default_rng(1)
    inliers = rng.normal(0, 1, 5000)
    outliers = np.array([1e6, -1e6, 5e5])
    x = np.concatenate([inliers, outliers])
    det = VarianceImpactOutlierDetector().fit(x)
    pred = det.predict(outliers)
    assert (pred == -1).all()
    assert (det.predict(inliers) == 1).mean() >= 0.999


def test_viod_constant_values():
    # std=0 ⇒ both bounds collapse to the mean; strict predicate marks
    # everything an outlier — matching the reference (and feeding the
    # "all-outliers ⇒ key DROPPED" edge, event_stream_dataset.py:1204-1206).
    det = VarianceImpactOutlierDetector().fit(np.ones(100))
    assert det.thresh_small_ == det.thresh_large_ == 1.0
    assert (det.predict(np.ones(10)) == -1).all()


def test_viod_per_key_and_apply(spark):
    rng = np.random.default_rng(2)
    rows = [("a", float(v)) for v in rng.normal(5, 1, 2000)] + [
        ("a", 1e9),          # planted outlier on key a
        ("b", 1.0), ("b", 1.0), ("b", 1.0),   # constant key
        ("c", None),
    ]
    df = spark.createDataFrame(rows, "key string, value double")
    model = fit_viod_per_key(df, "key", "value")
    state = {r["key"]: r for r in model.collect()}
    assert state["a"]["n_train"] == 2001 and not state["a"]["all_outliers"]
    out = apply_viod(df, model, "key", "value")
    planted = out.filter(F.col("value").isNull() & F.col("value_is_inlier").isNotNull())
    assert planted.count() >= 1  # the 1e9 got nulled
    # small-N constant key: max-deviation factor is inf ⇒ bounds ±inf ⇒
    # everything is an inlier (reference NaN-bound semantics)
    flags = [r["value_is_inlier"] for r in out.filter(F.col("key") == "b").collect()]
    assert flags and all(v is True for v in flags)


# --- value-type inference case table (reference :1049-1190 pattern) ---
def _infer(spark, rows, **cfg):
    df = spark.createDataFrame(rows, "key string, value double")
    config = PreprocessingConfig(**cfg)
    return {
        r["key"]: r["value_type"]
        for r in infer_value_types(df, "key", "value", config).collect()
    }


def test_infer_float_default(spark):
    out = _infer(spark, [("k", 1.5), ("k", 2.7), ("k", 3.14), ("k", 4.2)])
    assert out["k"] == "float"


def test_infer_integer(spark):
    out = _infer(
        spark,
        [("k", 1.0), ("k", 2.0), ("k", 3.0), ("k", 4.0), ("k", 5.0)],
        min_true_float_frequency=0.1,
    )
    assert out["k"] == "integer"


def test_infer_integer_tolerates_rare_floats(spark):
    # 19 ints + 1 float → int_freq 0.95 > 0.9 ⇒ INTEGER
    rows = [("k", float(i)) for i in range(1, 20)] + [("k", 2.5)]
    out = _infer(spark, rows, min_true_float_frequency=0.1)
    assert out["k"] == "integer"


def test_infer_categorical_few_distinct(spark):
    rows = [("k", v) for v in [1.5, 2.5] * 10]
    out = _infer(
        spark, rows,
        min_unique_numerical_observations=5,
        min_true_float_frequency=0.1,
    )
    assert out["k"] == "categorical_float"


def test_infer_categorical_integer(spark):
    rows = [("k", float(v)) for v in [1, 2] * 10]
    out = _infer(
        spark, rows,
        min_unique_numerical_observations=5,
        min_true_float_frequency=0.1,
    )
    assert out["k"] == "categorical_integer"


def test_infer_modal_heavy(spark):
    rows = [("k", 7.5)] * 95 + [("k", float(i) + 0.5) for i in range(5)]
    out = _infer(spark, rows, max_numerical_value_frequency=0.9)
    assert out["k"] == "categorical_float"


def test_infer_single_value_dropped(spark):
    rows = [("k", 3.5)] * 10
    out = _infer(spark, rows, min_unique_numerical_observations=2)
    assert out["k"] == "dropped"


def test_infer_too_few_obs_dropped(spark):
    rows = [("rare", 1.0)] + [("common", float(i)) for i in range(99)]
    out = _infer(spark, rows, min_valid_vocab_element_observations=0.05)
    assert out["rare"] == "dropped" and out["common"] == "integer"


# --- normalizers ---
def test_standard_scaler(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 5.0), ("b", 5.0), ("x", 9.0)],
        "key string, value double",
    )
    model = fit_standard_scaler(df.filter(F.col("key") != "x"), "key", "value")
    out = {(r["key"], r["value"]) for r in apply_standard_scaler(df, model, "key", "value").collect()}
    sd = np.std([1.0, 2.0, 3.0])  # ddof=0
    assert ("a", (1.0 - 2.0) / sd) in out and ("b", 0.0) in out and ("x", 9.0) in out


def test_quantile_transformer_uniformizes(spark):
    rng = np.random.default_rng(3)
    vals = rng.lognormal(0, 1, 2000)
    df = spark.createDataFrame([("k", float(v)) for v in vals], "key string, value double")
    model = fit_quantile_transformer(df, "key", "value", n_quantiles=101)
    out = np.array(
        [r["value"] for r in apply_quantile_transformer(df, model, "key", "value").collect()]
    )
    assert 0.0 <= out.min() and out.max() <= 1.0
    # roughly uniform: each decile holds ~10%
    hist, _ = np.histogram(out, bins=10, range=(0, 1))
    assert (np.abs(hist / len(out) - 0.1) < 0.03).all()


def test_quantile_transformer_missing_key_passthrough(spark):
    df = spark.createDataFrame([("k", 2.0), ("other", 7.0)], "key string, value double")
    model = fit_quantile_transformer(df.filter(F.col("key") == "k"), "key", "value")
    out = {r["key"]: r["value"] for r in apply_quantile_transformer(df, model, "key", "value").collect()}
    assert out["other"] == 7.0


def test_quantile_transformer_matches_np_interp(spark):
    """The array-expression interpolation must reproduce np.interp over
    the fitted quantile grid exactly (same forward-interpolation math),
    including out-of-range clamps and values landing on grid points."""
    rng = np.random.default_rng(11)
    rows = [("a", float(v)) for v in rng.normal(0, 3, 400)] + [
        ("b", float(v)) for v in rng.exponential(2, 300)
    ]
    df = spark.createDataFrame(rows, "key string, value double")
    model = fit_quantile_transformer(df, "key", "value", n_quantiles=31)
    qtab = {r["key"]: np.asarray(r["quantiles"], dtype=float) for r in model.collect()}

    # probe: training values, grid points themselves, and out-of-range
    probes = [("a", float(v)) for v in rng.normal(0, 3, 50)]
    probes += [("a", float(v)) for v in qtab["a"][::5]]
    probes += [("a", -1e9), ("a", 1e9), ("b", float(qtab["b"][0])), ("b", -5.0)]
    pdf = spark.createDataFrame(probes, "key string, value double")
    out = apply_quantile_transformer(
        pdf.withColumn("orig", F.col("value")), model, "key", "value", out_col="cdf"
    ).collect()
    for r in out:
        k, v = r["key"], r["orig"]
        expect = float(np.interp(v, qtab[k], np.linspace(0.0, 1.0, len(qtab[k]))))
        assert abs(r["cdf"] - expect) < 1e-12, (k, v, r["cdf"], expect)


def test_quantile_transformer_plan_has_no_python(spark):
    """Verdict item: the transform hot path must stay JVM-side — no
    ArrowEval/BatchEval/MapInPandas node anywhere in the plan."""
    df = spark.createDataFrame([("k", float(i)) for i in range(50)], "key string, value double")
    model = fit_quantile_transformer(df, "key", "value", n_quantiles=11)
    q = apply_quantile_transformer(df, model, "key", "value")
    plan = q._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapsInPandas"):
        assert marker not in plan, marker


# --- token strings (golden, reference test :306-326) ---
def test_token_strings(spark):
    df = spark.createDataFrame(
        [("k1", 3.2), ("k2", -1.2), ("k3", 0.001), ("k4", 2.5), ("k5", 3.5)],
        "key string, value double",
    )
    out = {
        r["key"]: (r["it"], r["ft"])
        for r in df.select(
            "key",
            int_token(F.col("key"), F.col("value")).alias("it"),
            float_token(F.col("key"), F.col("value")).alias("ft"),
        ).collect()
    }
    assert out["k1"][0] == "k1__EQ_3"
    assert out["k2"][0] == "k2__EQ_-1"
    assert out["k3"][1] == "k3__EQ_0.001"
    # half-even rounding like np.round
    assert out["k4"][0] == "k4__EQ_2" and out["k5"][0] == "k5__EQ_4"


# --- end-to-end estimator ---
def test_numeric_preprocessor_pipeline(spark):
    rng = np.random.default_rng(4)
    rows = (
        [("hr", float(v)) for v in rng.normal(70, 10, 500)]
        + [("hr", 1e7)]                                  # outlier
        + [("flag", float(v)) for v in rng.integers(0, 2, 200)]  # 2 distinct ints
        + [("pct", 0.5), ("pct", 1.5), ("pct", 0.7), ("pct", 0.6)]  # 1.5 out of unit bounds
    )
    train = spark.createDataFrame(rows, "key string, value double")
    bounds = spark.createDataFrame(
        [("pct", "%"), ("hr", None), ("flag", None)], "key string, unit string"
    )
    config = PreprocessingConfig(
        min_true_float_frequency=0.1, min_unique_numerical_observations=5
    )
    model = NumericPreprocessor("key", "value", config).fit(train, bounds)
    state = {r["key"]: r for r in model.state.collect()}
    assert state["hr"]["value_type"] == "float"
    assert state["flag"]["value_type"] == "categorical_integer"
    assert state["pct"]["drop_upper_bound"] == 1.0

    out = model.transform(train)
    hr = out.filter(F.col("key") == "hr")
    # the 1e7 outlier is nulled with inlier=False
    assert hr.filter(F.col("value").isNull() & (F.col("value_is_inlier") == False)).count() == 1  # noqa: E712
    # normalized inliers ≈ standard
    vals = [r["value"] for r in hr.filter(F.col("value").isNotNull()).collect()]
    assert abs(float(np.mean(vals))) < 0.1
    # categorical-int keys produce tokens, value nulled
    flag = out.filter(F.col("key") == "flag").collect()
    assert all(r["value"] is None for r in flag)
    assert {r["value_token"] for r in flag} == {"flag__EQ_0", "flag__EQ_1"}
    # pct: 1.5 dropped by unit bound (exclusive upper 1.0) BEFORE type
    # inference; the 3 surviving uniques < min_unique ⇒ categorical_float,
    # so every value is nulled and the kept rows carry __EQ_ tokens
    assert state["pct"]["value_type"] == "categorical_float"
    pct = out.filter(F.col("key") == "pct").collect()
    assert all(r["value"] is None for r in pct)
    pct_tokens = {r["value_token"] for r in pct}
    assert "pct__EQ_0.5" in pct_tokens and None in pct_tokens  # dropped 1.5 has no token


def test_numeric_preprocessor_quantile_registry(spark):
    """U2: normalizer resolved from the registry via config
    {'cls': 'quantile_transformer', ...} — hr values uniformize to
    [0,1]; categorical keys and nulls untouched."""
    rng = np.random.default_rng(5)
    rows = (
        [("hr", float(v)) for v in rng.lognormal(4, 0.3, 400)]
        + [("flag", float(v)) for v in rng.integers(0, 2, 100)]
        + [("hr", None)]
    )
    train = spark.createDataFrame(rows, "key string, value double")
    config = PreprocessingConfig(
        min_true_float_frequency=0.1,
        min_unique_numerical_observations=5,
        normalizer_config={"cls": "quantile_transformer", "n_quantiles": 51},
    )
    model = NumericPreprocessor("key", "value", config).fit(train)
    assert model.normalizer_cls == "quantile_transformer"
    out = model.transform(train)
    hr = [r["value"] for r in out.filter((F.col("key") == "hr") & F.col("value").isNotNull()).collect()]
    assert len(hr) >= 390 and min(hr) >= 0.0 and max(hr) <= 1.0
    assert 0.4 < float(np.median(hr)) < 0.6
    # null value stays null (NaN round-trip guarded)
    assert out.filter((F.col("key") == "hr") & F.col("value").isNull()).count() >= 1
    flag = out.filter(F.col("key") == "flag").collect()
    assert all(r["value"] is None for r in flag)  # categorical_integer → tokens
    assert {r["value_token"] for r in flag} == {"flag__EQ_0", "flag__EQ_1"}


def test_quantile_transformer_approx_fit_close_to_exact(spark):
    """The sketch-based fit (the 100 TB path) must produce CDF outputs
    within sketch tolerance of the exact fit on the same data."""
    rng = np.random.default_rng(5)
    df = spark.createDataFrame(
        [("k", float(v)) for v in rng.normal(0, 1, 3000)], "key string, value double"
    )
    exact = fit_quantile_transformer(df, "key", "value", n_quantiles=21, exact=True)
    approx = fit_quantile_transformer(df, "key", "value", n_quantiles=21, exact=False)
    probe = df.withColumn("orig", F.col("value"))
    out_e = apply_quantile_transformer(probe, exact, "key", "value", out_col="c").collect()
    out_a = {
        (r["key"], r["orig"]): r["c"]
        for r in apply_quantile_transformer(probe, approx, "key", "value", out_col="c").collect()
    }
    diffs = [abs(r["c"] - out_a[(r["key"], r["orig"])]) for r in out_e]
    assert max(diffs) < 0.05  # rank error bound at accuracy=10000 on 3k rows


def test_viod_oracle_cte_matches_python():
    """The recursive-CTE oracle (queries._VIOD_ORACLE_SQL) replays the
    iterative fit exactly — pinned on data that actually exercises the
    run-stripping loop (the driver test tables stop at the initial
    bounds), including duplicate-value runs at both tails."""
    import duckdb

    from eventstreamml_spark.queries import _VIOD_ORACLE_SQL

    rng = np.random.default_rng(3)
    cases = {
        "planted": np.concatenate(
            [rng.normal(50, 5, 2000), [500.0, 500.0, 501.0, -400.0]]
        ),
        "dup_tails": np.concatenate(
            [rng.normal(0, 1, 500).round(1), [9.0] * 3, [12.0], [-8.0] * 2]
        ),
        "tiny": np.array([1.0, 1.0, 1.0]),
    }
    for name, vals in cases.items():
        det = VarianceImpactOutlierDetector().fit(vals)
        conn = duckdb.connect()
        conn.execute(
            "CREATE TABLE events AS SELECT 'k' AS event_type, unnest(?::DOUBLE[]) AS value",
            [vals.tolist()],
        )
        (_, lo, hi, n, _all_out) = conn.execute(_VIOD_ORACLE_SQL).fetchall()[0]
        assert n == len(vals), name
        assert lo == pytest.approx(round(det.thresh_small_, 6), abs=1e-6), name
        assert hi == pytest.approx(round(det.thresh_large_, 6), abs=1e-6), name


def test_infer_column_total_is_cross_key_sum_with_nulls(spark):
    """The drop threshold's column total is now a window sum of
    n_key_obs over the per-key stats (no df.count() action): it must
    equal ALL rows across ALL keys, null values included. Total here
    is 100 (2 rare + 97 common + 1 null-valued common row); with
    threshold t=0.0201, t*100 = 2.01 > 2 -> rare dropped, while a
    null-excluding total of 99 would give t*99 = 1.9899 < 2 and keep
    it — so the assertion pins that null-valued rows count. t=0.02
    (t*100 = 2.0, not < 2) keeps rare, pinning the strict-< bound."""
    rows = (
        [("rare", 1.0), ("rare", 2.0)]
        + [("common", float(i)) for i in range(97)]
        + [("common", None)]
    )
    out = _infer(spark, rows, min_valid_vocab_element_observations=0.0201)
    assert out["rare"] == "dropped" and out["common"] == "integer"
    out2 = _infer(spark, rows, min_valid_vocab_element_observations=0.02)
    assert out2["rare"] == "integer"


# --- infer_value_types: full rows pinned ---
_PINNED_ROWS = (
    [("a", "allnull", None)] * 3
    + [("a", "partnull", v) for v in (1.5, None, 2.5, 1.5)]
    + [("a", "round", v) for v in (1.4, 1.6, 2.5, 2.5, 3.0)]
    + [("a", "x", v) for v in (1.0, 2.0, 7.25)]
    + [("b", "x", v) for v in (4.0, 4.0, 4.0, 5.5)]
    + [("b", "rare", 9.0)]
)
_PINNED_CONFIG = PreprocessingConfig(
    min_valid_vocab_element_observations=2,
    min_true_float_frequency=0.9,  # INTEGER iff int_freq > 0.1
    min_unique_numerical_observations=3,
    max_numerical_value_frequency=0.5,
)


@pytest.mark.parametrize("by", [["m"], None])
def test_infer_value_types_rows_pinned(spark, by):
    """Every output column, NULLs included, on: an all-NULL key (NULL
    int_freq/n_distinct/modal_share, typed float); a partly-NULL key;
    a key where INTEGER fires so distinct/modal are taken on rounded
    values (raw 1.4/1.6/2.5/2.5/3.0 has 4 distinct, modal 2; rounded
    1/2/2/2/3 has 3, modal 3); key ``x`` shared by two ``by`` groups
    (5.5 rounds half-even to 6); a key dropped for too few rows."""
    df = spark.createDataFrame(_PINNED_ROWS, "m string, key string, value double")
    if by is None:
        df = df.drop("m")
    out = infer_value_types(df, "key", "value", _PINNED_CONFIG, by=by)
    assert out.dtypes[-6:] == [
        ("value_type", "string"),
        ("n_key_obs", "bigint"),
        ("n_vals", "bigint"),
        ("int_freq", "double"),
        ("n_distinct", "bigint"),
        ("modal_share", "double"),
    ]
    common = [
        ("allnull", "float", 3, 0, None, None, None),
        ("partnull", "categorical_float", 4, 3, 0.0, 2, 2 / 3),
        ("round", "categorical_integer", 5, 5, 1 / 5, 3, 3 / 5),
        ("rare", "dropped", 1, 1, 1.0, 1, 1.0),
    ]
    if by:
        expected = [("a", *r) for r in common[:3]] + [
            ("a", "x", "integer", 3, 3, 2 / 3, 3, 1 / 3),
            ("b", "rare", *common[3][1:]),
            ("b", "x", "categorical_integer", 4, 4, 3 / 4, 2, 3 / 4),
        ]
    else:
        expected = common + [("x", "integer", 7, 7, 5 / 7, 5, 3 / 7)]
    assert sorted(tuple(r) for r in out.collect()) == sorted(expected)


@pytest.mark.parametrize("by", [["m"], None])
def test_infer_value_types_empty_input(spark, by):
    df = spark.createDataFrame([], "m string, key string, value double")
    assert infer_value_types(df, "key", "value", _PINNED_CONFIG, by=by).collect() == []


def test_infer_null_key_is_typed_from_its_values(spark):
    """A NULL key is one group like any other: its distinct and modal
    counts come from its own values (1, 1, 2 → 2 distinct, modal 2/3),
    so it is typed categorical like the non-NULL key with the same
    values."""
    rows = [(k, v) for k in ("k", None) for v in (1.0, 1.0, 2.0)]
    df = spark.createDataFrame(rows, "key string, value double")
    out = infer_value_types(
        df, "key", "value", PreprocessingConfig(min_unique_numerical_observations=3)
    )
    assert {tuple(r) for r in out.collect()} == {
        (k, "categorical_integer", 3, 3, 1.0, 2, 2 / 3) for k in ("k", None)
    }


def test_numeric_preprocessor_null_key_is_a_missing_key(spark):
    """A NULL key counts as a missing key (the reference's per-key
    pandas groupby drops NaN keys; SURVEY P6: missing keys pass
    through). fit keeps no state row for it, transform passes its
    values through raw, and the ``k`` rows beside it are typed and
    tokenized exactly as without the NULL key's rows."""
    rows = [(k, v) for k in ("k", None) for v in (1.0, 1.0, 2.0)]
    df = spark.createDataFrame(rows, "key string, value double")
    config = PreprocessingConfig(min_unique_numerical_observations=3)
    model = NumericPreprocessor("key", "value", config).fit(df)
    state = model.state.collect()
    assert [r["key"] for r in state] == ["k"]
    assert tuple(state[0])[:7] == ("k", "categorical_integer", 3, 3, 1.0, 2, 2 / 3)
    assert all(v is None for v in tuple(state[0])[7:])

    out = model.transform(df).select("key", "value", "value_token").collect()
    assert sorted(
        (r["value"], r["value_token"]) for r in out if r["key"] is None
    ) == [(1.0, None), (1.0, None), (2.0, None)]
    assert sorted(
        (r["value"], r["value_token"]) for r in out if r["key"] == "k"
    ) == [(None, "k__EQ_1"), (None, "k__EQ_1"), (None, "k__EQ_2")]
