"""Generated code stays JIT-compilable, and is compiled once per session.

A whole-stage codegen method over ``JIT_METHOD_LIMIT`` bytes of
bytecode is never JIT compiled, so every row of that stage runs in the
JVM's interpreter (Spark logs "Generated method too long to be JIT
compiled"). ``NumericPreprocessorModel.transform`` once nested its
intermediates into one expression tree and crossed the limit, and
``image_phash_dct`` inlined 64 pixel pipelines into one method; these
tests hold their stages under it.

Spark caches compiled classes by their exact source. The last test
holds a repeated pass over a fixed query list at zero new compiles:
the cache ``session.get_spark`` sizes must hold the list's classes, and
each query must generate the same source on every build.
"""

from __future__ import annotations

from eventstreamml_spark import queries as q
from eventstreamml_spark.plans.inspect import (
    JIT_METHOD_LIMIT,
    codegen_compiles,
    max_generated_method_bytes,
)
from eventstreamml_spark.preprocessing.pipeline import NumericPreprocessor
from tests.conftest import SF_SMOKE


def test_age_numeric_preprocess_methods_fit_jit_limit(spark):
    df = q.queries()["age_numeric_preprocess"](spark, SF_SMOKE)
    assert 0 < max_generated_method_bytes(df) <= JIT_METHOD_LIMIT


def test_image_phash_dct_methods_fit_jit_limit(spark):
    df = q.queries()["image_phash_dct"](spark, SF_SMOKE)
    assert 0 < max_generated_method_bytes(df) <= JIT_METHOD_LIMIT


def test_keyed_numeric_transform_methods_fit_jit_limit(spark):
    rows = [("lab", f"k{i % 3}", float(i % 17)) for i in range(60)] + [
        ("age", "age", 20.0 + i / 7) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "measurement string, key string, value double")
    model = NumericPreprocessor("key", "value", by=["measurement"]).fit(df)
    assert 0 < max_generated_method_bytes(model.transform(df)) <= JIT_METHOD_LIMIT


# The queries of the perfbench ``registry_fixed_cost`` workload, about
# 160 distinct generated classes, more than Spark's default 100-entry
# cache holds: a cyclic pass over them evicts every class before it
# comes round again. dq_profile_events once generated new source on
# every build (a multi-distinct Expand).
REPEATED_PASS = [
    "cdc_latest_snapshot",
    "event_feature_frame",
    "grouping_sets_revenue",
    "json_ingest_parity",
    "order_value_deciles",
    "random_subsequence_windows",
    "seasonal_hourweek_anomaly",
    "sliding_window_type_counts",
    "tpch_q1_pricing_summary",
    "tpch_q7_nation_volume",
    "value_percentiles_by_type",
    "winsorize_value_by_type",
    "dq_profile_events",
]


def test_repeated_pass_compiles_no_new_classes(spark):
    registry = q.queries()

    def one_pass() -> int:
        n0, _ = codegen_compiles(spark)
        for name in REPEATED_PASS:
            registry[name](spark, SF_SMOKE).collect()
        return codegen_compiles(spark)[0] - n0

    one_pass()
    assert one_pass() == 0
