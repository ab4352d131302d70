"""Generated code stays JIT-compilable on the E2 numeric transform.

A whole-stage codegen method over ``JIT_METHOD_LIMIT`` bytes of
bytecode is never JIT compiled, so every row of that stage runs in the
JVM's interpreter (Spark logs "Generated method too long to be JIT
compiled"). ``NumericPreprocessorModel.transform`` once nested its
intermediates into one expression tree and crossed the limit; these
tests hold its stages under it, both through the registered query and
through a two-measurement keyed fit.
"""

from __future__ import annotations

from eventstreamml_spark import queries as q
from eventstreamml_spark.plans.inspect import JIT_METHOD_LIMIT, max_generated_method_bytes
from eventstreamml_spark.preprocessing.pipeline import NumericPreprocessor
from tests.conftest import SF_SMOKE


def test_age_numeric_preprocess_methods_fit_jit_limit(spark):
    df = q.queries()["age_numeric_preprocess"](spark, SF_SMOKE)
    assert 0 < max_generated_method_bytes(df) <= JIT_METHOD_LIMIT


def test_keyed_numeric_transform_methods_fit_jit_limit(spark):
    rows = [("lab", f"k{i % 3}", float(i % 17)) for i in range(60)] + [
        ("age", "age", 20.0 + i / 7) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "measurement string, key string, value double")
    model = NumericPreprocessor("key", "value", by=["measurement"]).fit(df)
    assert 0 < max_generated_method_bytes(model.transform(df)) <= JIT_METHOD_LIMIT
