"""Degenerate inputs: both engines agree, and neither throws.

An empty ``events`` table (the sf0.001 schema, no rows) is replayed
through ``dq_profile_events``, whose null rate divides by the row count.

Every oracle-checked query that reads only ``events`` and uses its
``value`` column is replayed against the sf0.001 events with every
value set to one constant. Variances, pooled SDs and ranges are then
exactly 0, so any division by a dispersion, or sqrt of a centred sum,
sits on its edge. That is where the engines part: DuckDB's x/0 is NULL
while ANSI Spark raises DIVIDE_BY_ZERO (fix: ``try_divide``), and a
double-rounded centred sum just below 0 makes DuckDB's sqrt raise
while Spark's gives NaN (fix: clamp at 0 on both sides).

The same events with every ``value`` NULL are replayed through the
value-histogram two-sample tests and the rank tests, where an empty
histogram must still give DuckDB's one row and its zero counts.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from eventstreamml_spark import queries as q
from eventstreamml_spark.sources.testdata import TABLES
from tests.conftest import SF_SMOKE
from tests.oracle import compare


def _tables(sql: str) -> set[str]:
    return {
        t
        for t in re.findall(r"\b(?:FROM|JOIN)\s+([a-z_]+)", sql, re.I)
        if t in TABLES
    }


CONSTANT_VALUE_CASES = sorted(
    name
    for name, sql in q.oracle_sql().items()
    if _tables(sql) == {"events"} and re.search(r"\bvalue\b", sql)
)


@pytest.fixture(scope="module")
def constant_value_dir(tmp_path_factory):
    t = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    t = t.set_column(
        t.schema.get_field_index("value"),
        "value",
        pa.array([5.0] * t.num_rows, pa.float64()),
    )
    d = tmp_path_factory.mktemp("constant_value")
    pq.write_table(t, d / "events.parquet")
    return str(d)


def test_constant_value_cases_include_the_dispersion_divisors():
    """The selection is read off the oracle SQL; pin the queries whose
    constant-input bugs it caught, so a selector change cannot drop
    them silently."""
    assert {
        "ab_welch_ttest",
        "eval_cohens_d_by_arm",
        "higher_moments_by_type",
        "lognormal_fit_ks_by_type",
    } <= set(CONSTANT_VALUE_CASES)


@pytest.mark.parametrize("name", CONSTANT_VALUE_CASES)
def test_constant_value_matches_oracle(spark, constant_value_dir, name):
    compare(spark, constant_value_dir, q.queries()[name], q.oracle_sql()[name])


# Every query built on ``_arm_value_hist``/``_arm_values`` plus the
# three that disagreed with DuckDB on all-NULL values (0 rows vs 1 all-NULL
# row; NULL vs 0 counts).
ALL_NULL_VALUE_CASES = [
    "ansari_bradley_scale_arms",
    "anderson_darling_value_arms",
    "cliffs_delta_value_arms",
    "conover_squared_ranks_arms",
    "cramer_von_mises_value_arms",
    "cucconi_test_arms",
    "distribution_distance_arms",
    "energy_distance_arms",
    "fligner_policello_arms",
    "lepage_test_arms",
    "mood_scale_rank_test_arms",
    "mw_u_test_value_by_arm",
    "value_qq_octiles_arms",
    "wilcoxon_signed_rank_halves",
]


@pytest.fixture(scope="module")
def all_null_value_dir(tmp_path_factory):
    t = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    t = t.set_column(
        t.schema.get_field_index("value"),
        "value",
        pa.nulls(t.num_rows, pa.float64()),
    )
    d = tmp_path_factory.mktemp("all_null_value")
    pq.write_table(t, d / "events.parquet")
    return str(d)


@pytest.mark.parametrize("name", ALL_NULL_VALUE_CASES)
def test_all_null_value_matches_oracle(spark, all_null_value_dir, name):
    compare(spark, all_null_value_dir, q.queries()[name], q.oracle_sql()[name])


@pytest.fixture(scope="module")
def empty_events_dir(tmp_path_factory):
    t = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    d = tmp_path_factory.mktemp("empty_events")
    pq.write_table(t.slice(0, 0), d / "events.parquet")
    return str(d)


def test_empty_events_profile_matches_oracle(spark, empty_events_dir):
    name = "dq_profile_events"
    compare(spark, empty_events_dir, q.queries()[name], q.oracle_sql()[name])
