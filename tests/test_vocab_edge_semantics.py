"""Edge semantics of vocabulary and categorical state, pinned row by row.

``build_vocabulary`` and ``CategoricalPreprocessor.fit`` both derive
ranked vocabularies through grouped counts and windows; these tests fix
the exact rows (values and column types) they return on the inputs
where a plan rewrite is easiest to get wrong: empty input, groups whose
elements are all null, empty arrays, missing or scalar denominators,
both threshold kinds, and a vocabulary that collapses to ``UNK``.
"""

from __future__ import annotations

import pytest

from eventstreamml_spark.preprocessing.categorical import CategoricalPreprocessor
from eventstreamml_spark.preprocessing.config import PreprocessingConfig
from eventstreamml_spark.vocabulary import build_vocabulary


def _rows(df):
    """Collected rows, sorted with nulls last."""
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda r: [(x is None, x) for x in r]
    )


def _types(df):
    return [t for _, t in df.dtypes]


# -- build_vocabulary ---------------------------------------------------


def test_build_vocabulary_empty_input_keeps_global_unk_row(spark):
    df = spark.createDataFrame([], "e string")
    v = build_vocabulary(df, "e")
    assert _rows(v) == [("UNK", 0.0, 0)]
    assert _types(v) == ["string", "double", "int"]


def test_build_vocabulary_empty_input_with_by_has_no_groups(spark):
    df = spark.createDataFrame([], "g string, e string")
    v = build_vocabulary(df, "e", by=["g"])
    assert v.collect() == []
    assert _types(v) == ["string", "string", "double", "int"]


def test_build_vocabulary_all_null_input_is_unk_only(spark):
    df = spark.createDataFrame([(None,), (None,)], "e string")
    assert _rows(build_vocabulary(df, "e")) == [("UNK", 0.0, 0)]


def test_build_vocabulary_all_null_group_keeps_its_unk_row(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("a", None), ("b", None), ("b", None)],
        "g string, e string",
    )
    assert _rows(build_vocabulary(df, "e", by=["g"])) == [
        ("a", "UNK", 0.0, 0),
        ("a", "x", 0.5, 1),
        ("a", "y", 0.25, 2),
        ("b", "UNK", 0.0, 0),
    ]


def test_build_vocabulary_nulls_count_in_denominator_and_ties_by_element(spark):
    df = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("c",), (None,)], "e string"
    )
    assert _rows(build_vocabulary(df, "e")) == [
        ("UNK", 0.0, 0),
        ("a", 0.2, 2),
        ("b", 0.2, 3),
        ("c", 0.4, 1),
    ]


def test_build_vocabulary_explode_arrays_counts_empty_arrays_as_null(spark):
    df = spark.createDataFrame(
        [(["a", "b"],), ([],), (None,), (["a"],)], "e array<string>"
    )
    # explode_outer: an empty or null array is one null observation
    assert _rows(build_vocabulary(df, "e", explode_arrays=True)) == [
        ("UNK", 0.0, 0),
        ("a", 0.4, 1),
        ("b", 0.2, 2),
    ]


def test_build_vocabulary_explode_arrays_with_by(spark):
    df = spark.createDataFrame(
        [("g1", ["a", "a"]), ("g1", []), ("g2", [])], "g string, e array<string>"
    )
    assert _rows(build_vocabulary(df, "e", by=["g"], explode_arrays=True)) == [
        ("g1", "UNK", 0.0, 0),
        ("g1", "a", 2 / 3, 1),
        ("g2", "UNK", 0.0, 0),
    ]


def test_build_vocabulary_null_by_key_is_its_own_group(spark):
    df = spark.createDataFrame(
        [(None, "x"), (None, "x"), (None, "y"), ("a", "y")], "g string, e string"
    )
    assert _rows(build_vocabulary(df, "e", by=["g"])) == [
        ("a", "UNK", 0.0, 0),
        ("a", "y", 1.0, 1),
        (None, "UNK", 0.0, 0),
        (None, "x", 2 / 3, 1),
        (None, "y", 1 / 3, 2),
    ]


# -- CategoricalPreprocessor.fit ------------------------------------------


def _fit(spark, rows, total=None, **cfg):
    df = spark.createDataFrame(rows, "measurement string, element string")
    return CategoricalPreprocessor(config=PreprocessingConfig(**cfg)).fit(
        df, total_possible=total
    )


_NO_THRESHOLDS = dict(
    min_valid_column_observations=None, min_valid_vocab_element_observations=None
)


def test_categorical_all_null_measurement_is_dropped(spark):
    rows = [("m", "a"), ("m", "a"), ("m", "b"), ("n", None), ("n", None)]
    model = _fit(spark, rows, **_NO_THRESHOLDS)
    assert _rows(model.status) == [
        ("m", 3, 3, 1.0, False),
        ("n", 0, 2, 0.0, True),
    ]
    assert _types(model.status) == ["string", "bigint", "bigint", "double", "boolean"]
    assert _rows(model.vocab) == [
        ("m", "UNK", 0.0, 0),
        ("m", "a", 2 / 3, 1),
        ("m", "b", 1 / 3, 2),
    ]
    assert _types(model.vocab) == ["string", "string", "double", "int"]


def test_categorical_total_possible_int(spark):
    rows = [("m", "a"), ("m", "a"), ("m", None), ("n", "z")]
    model = _fit(spark, rows, total=10, **_NO_THRESHOLDS)
    assert _rows(model.status) == [
        ("m", 2, 10, 0.2, False),
        ("n", 1, 10, 0.1, False),
    ]
    assert _types(model.status) == ["string", "bigint", "int", "double", "boolean"]
    assert _rows(model.vocab) == [
        ("m", "UNK", 0.0, 0),
        ("m", "a", 1.0, 1),
        ("n", "UNK", 0.0, 0),
        ("n", "z", 1.0, 1),
    ]


def test_categorical_total_possible_dataframe(spark):
    rows = [("m", "a"), ("m", "b"), ("n", "z"), ("n", "z")]
    totals = spark.createDataFrame([("m", 8)], "measurement string, total_possible bigint")
    model = _fit(spark, rows, total=totals, **_NO_THRESHOLDS)
    # a measurement missing from the totals has a null denominator
    assert _rows(model.status) == [
        ("m", 2, 8, 0.25, False),
        ("n", 2, None, None, False),
    ]
    # ... and with a proportion threshold it cannot pass, so it drops
    model = _fit(
        spark, rows, total=totals,
        min_valid_column_observations=0.2, min_valid_vocab_element_observations=None,
    )
    assert _rows(model.status) == [
        ("m", 2, 8, 0.25, False),
        ("n", 2, None, None, True),
    ]
    assert _rows(model.vocab) == [
        ("m", "UNK", 0.0, 0),
        ("m", "a", 0.5, 1),
        ("m", "b", 0.5, 2),
    ]


@pytest.mark.parametrize(
    "threshold, dropped",
    [(3, [False, True]), (0.5, [False, True]), (2, [False, False]), (0.25, [False, False])],
)
def test_categorical_column_threshold_count_and_proportion(spark, threshold, dropped):
    # m has 3 of 4 rows observed, n 2 of 8
    rows = [("m", "a")] * 3 + [("m", None)] + [("n", "z")] * 2 + [("n", None)] * 6
    model = _fit(
        spark, rows,
        min_valid_column_observations=threshold, min_valid_vocab_element_observations=None,
    )
    assert [r["dropped"] for r in sorted(model.status.collect())] == dropped


@pytest.mark.parametrize("threshold", [2, 0.2])
def test_categorical_element_threshold_count_and_proportion(spark, threshold):
    # 10 observations: a 5, b 2, c 1, d 1, e 1 — count 2 and proportion
    # 0.2 keep the same elements, and the rest folds into UNK
    rows = [("m", "a")] * 5 + [("m", "b")] * 2 + [("m", x) for x in "cde"]
    model = _fit(
        spark, rows,
        min_valid_column_observations=None, min_valid_vocab_element_observations=threshold,
    )
    assert _rows(model.vocab) == [
        ("m", "UNK", 0.30000000000000004, 0),
        ("m", "a", 0.5, 1),
        ("m", "b", 0.2, 2),
    ]
    assert _rows(model.status) == [("m", 10, 10, 1.0, False)]


def test_categorical_vocab_collapsing_to_unk_drops_only_that_measurement(spark):
    rows = [("rare", x) for x in "abcd"] + [("ok", "k")] * 3 + [("ok", "j")]
    model = _fit(
        spark, rows,
        min_valid_column_observations=None, min_valid_vocab_element_observations=2,
    )
    assert _rows(model.status) == [
        ("ok", 4, 4, 1.0, False),
        ("rare", 4, 4, 1.0, True),
    ]
    assert _rows(model.vocab) == [
        ("ok", "UNK", 0.25, 0),
        ("ok", "k", 0.75, 1),
    ]
