"""Degenerate inputs: both engines agree, and neither throws.

Every oracle-checked query that reads only ``events`` and uses its
``value`` column is replayed against the sf0.001 events with every
value set to one constant. Variances, pooled SDs and ranges are then
exactly 0, so any division by a dispersion, or sqrt of a centred sum,
sits on its edge. That is where the engines part: DuckDB's x/0 is NULL
while ANSI Spark raises DIVIDE_BY_ZERO (fix: ``try_divide``), and a
double-rounded centred sum just below 0 makes DuckDB's sqrt raise
while Spark's gives NaN (fix: clamp at 0 on both sides).
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
