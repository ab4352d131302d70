"""Deterministic synthetic event source — executor-side generation.

``spark.range`` manufactures rows on executors from nothing but
(start, end, partition count), so a billion-row test stream costs zero
driver memory and zero IO: the generator IS the scale-test fixture
(tests/test_scale_smoke.py) and the shape every "will this pipeline
hold at N×?" experiment reuses. All derivations are pure integer
arithmetic on ``id`` — replayable bit-for-bit by any engine with a
series generator, which is what makes the generator itself
oracle-checkable (``synthetic_source_parity``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

EPOCH_START = 1_600_000_000  # 2020-09-13 12:26:40 UTC


def synthetic_events(
    spark: SparkSession,
    n: int,
    n_subjects: int,
) -> DataFrame:
    """``n`` events over ``n_subjects`` subjects: minute spacing per
    subject, deliberate timestamp collisions every 7th row (id % 7)
    so dedup/tiebreak paths stay exercised, value = id % 1000."""
    return spark.range(n).select(
        (F.col("id") % n_subjects).alias("subject_id"),
        F.timestamp_seconds(
            F.lit(EPOCH_START)
            + (F.col("id") / n_subjects).cast("long") * 60
            - F.when(F.col("id") % 7 == 0, 60).otherwise(0)
        ).alias("timestamp"),
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias(
            "event_type"
        ),
        (F.col("id") % 1000).cast("double").alias("value"),
        F.col("id").alias("event_id"),
    )
