"""Categorical token synthesis — SURVEY §2.7 string functions.

The reference rewrites numerics into categorical tokens with the exact
literal syntax ``f"{key}__EQ_{value}"`` (event_stream_dataset.py:288-295;
golden strings in test_event_stream_dataset.py:306-326):

- integer subtype: value is rounded half-even then rendered as an int
  (``3.2 → "k__EQ_3"``, ``-1.2 → "k__EQ_-1"``);
- float subtype: value rendered with Python ``str(float)``
  (``0.001 → "k__EQ_0.001"``).

The float rendering is the portability trap: JVM ``CAST(double AS
STRING)`` matches Python repr for most magnitudes but switches to
scientific notation at different thresholds (|v| < 1e-3 in Java vs
1e-4 in Python, and at 1e7 vs 1e16). ``float_token`` (expression,
fast path) documents that envelope.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def int_token(key: Column, value: Column) -> Column:
    """``{key}__EQ_{int}`` with half-even rounding (numpy ``np.round``
    semantics ⇒ ``bround``)."""
    return F.concat(key, F.lit("__EQ_"), F.bround(value).cast("long").cast("string"))


def float_token(key: Column, value: Column) -> Column:
    """``{key}__EQ_{float}`` via JVM double→string. Matches Python repr
    for values in [1e-3, 1e7) and their negatives plus integral-valued
    doubles ("1.0"); outside that, notation may differ from the
    reference's Python repr."""
    return F.concat(key, F.lit("__EQ_"), value.cast("string"))
