"""Vocabulary induction — SURVEY §2.4 A4-A5, §2.6 O2-O3, §2.3 J9.

A vocabulary is a small DataFrame ``(element string, freq double,
idx int)`` per measurement: idx 0 is always the ``'UNK'`` sentinel,
remaining elements ranked by descending observed frequency
(vocabulary.py:13-82 in the reference). Integer vocabularies are
rejected (vocabulary.py:63) — cast to string upstream.

Determinism note: the reference breaks frequency ties by unstable
``np.argsort`` order; this engine pins ties to ascending element value
so ranks are reproducible across partitionings (SURVEY §7 hard parts:
stable-sort ties).

Scale: vocabularies are aggregation outputs (thousands of rows) —
always broadcast-joinable. Building one takes two shuffles: the
grouped count (``*by``, element) with map-side partial counts, then
one window partition per ``by`` group that totals and ranks it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

UNK = "UNK"


def build_vocabulary(
    df: DataFrame,
    col: str,
    by: list[str] | None = None,
    explode_arrays: bool = False,
) -> DataFrame:
    """A4: frequency-ranked vocabulary of ``col``.

    Reference ``Vocabulary.build_vocab`` (vocabulary.py:114-133):
    frequencies are count / N where N counts *top-level* observations
    including nulls (NaN observations are skipped in the numerator but
    remain in the denominator). The UNK row is prepended with freq 0.

    ``explode_arrays``: flatten an array column first (the reference
    recursively flattens nested sequences); each array element then
    counts as one observation.

    Integer element columns are rejected, mirroring the reference's
    guard (vocabulary.py:63 ``int not in element_types``): an integer
    "vocabulary" is almost always an already-indexed column, and
    silently re-indexing it corrupts the mapping. Cast to string
    explicitly if integer-valued categories are intended.

    Returns ``(*by, element, freq, idx)`` with idx 0 = UNK.
    """
    from pyspark.sql import types as T

    by = by or []
    if explode_arrays:
        df = df.select(*by, F.explode_outer(F.col(col)).alias(col))
    dt = df.schema[col].dataType
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise TypeError(
            f"integer vocabularies are not supported (column {col!r} is "
            f"{dt.simpleString()}); cast to string first if intended"
        )
    # One grouped count keeps the null group, so each group's total is
    # the sum of its counts, taken in the same window partition that
    # ranks the elements (null elements have no freq and rank last).
    counts = df.groupBy(*by, F.col(col).cast("string").alias("element")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w = W.partitionBy(*by)
    ranked = counts.withColumn(
        "freq",
        F.when(F.col("element").isNotNull(), F.col("_cnt") / F.sum("_cnt").over(w)),
    ).withColumn(
        "idx", F.row_number().over(w.orderBy(F.col("freq").desc(), F.col("element").asc()))
    )
    if by:
        # one UNK row per group, all-null groups included
        unk = ranked.filter(F.col("idx") == 1).select(*by)
    else:
        # a global vocabulary has its UNK row even over empty input
        unk = df.sparkSession.range(1).select()
    unk = unk.select(
        *by, F.lit(UNK).alias("element"), F.lit(0.0).alias("freq"), F.lit(0).alias("idx")
    )
    # one partition (no shuffle): a vocabulary is tiny, and each
    # partition is one more task in every plan that reads it
    return unk.unionByName(
        ranked.filter(F.col("element").isNotNull()).select(*by, "element", "freq", "idx")
    ).coalesce(1)


def filter_vocabulary(
    vocab: DataFrame,
    min_valid_element_freq: float | int,
    total_observations: int | None = None,
) -> DataFrame:
    """A5/O3: drop elements below the frequency cutoff, folding their
    mass into UNK, then re-rank (vocabulary.py:84-112).

    An int threshold is a count and is divided by ``total_observations``
    (utils.py:11-26 ``lt_count_or_proportion``); elements with
    ``freq >= τ`` are kept (searchsorted side='right' semantics).
    """
    if isinstance(min_valid_element_freq, int) and not isinstance(min_valid_element_freq, bool):
        if total_observations is None:
            raise ValueError("count threshold requires total_observations")
        tau = min_valid_element_freq / total_observations
    else:
        tau = float(min_valid_element_freq)

    elems = vocab.filter(F.col("element") != UNK)
    kept = elems.filter(F.col("freq") >= tau)
    dropped_mass = elems.filter(F.col("freq") < tau).agg(
        F.sum("freq").alias("_dropped")
    )
    # global agg always yields exactly one row (null sum when empty)
    unk = vocab.filter(F.col("element") == UNK).crossJoin(F.broadcast(dropped_mass))
    unk = unk.withColumn("freq", F.col("freq") + F.coalesce(F.col("_dropped"), F.lit(0.0))).drop("_dropped")

    w = W.orderBy(F.col("freq").desc(), F.col("element").asc())
    kept = kept.withColumn("idx", F.row_number().over(w))
    return unk.select("element", "freq", "idx").unionByName(
        kept.select("element", "freq", "idx")
    )


def apply_vocab_index(
    df: DataFrame,
    vocab: DataFrame,
    col: str,
    out_col: str = "idx",
    offset: int = 0,
) -> DataFrame:
    """J9: element → integer index via broadcast left join; unseen
    elements map to UNK (0). ``offset`` implements the global flattened
    index space (event_stream_pytorch_dataset.py:126-153): each
    measurement's block starts at its offset, and UNK-at-0 maps to the
    global padding sentinel only when offset is 0.
    """
    v = vocab.filter(F.col("element") != UNK).select(
        F.col("element").alias(col), F.col("idx").alias("_vidx")
    )
    joined = df.join(F.broadcast(v), [col], "left")
    return joined.withColumn(
        out_col,
        F.when(F.col("_vidx").isNotNull(), F.col("_vidx") + F.lit(offset)).otherwise(F.lit(0)),
    ).drop("_vidx")


def assign_measurement_offsets(vocab_sizes: dict[str, int]) -> dict[str, int]:
    """Global flattened index space: offset 0 = padding/UNK sentinel,
    then one contiguous block per measurement in insertion order
    (event_stream_pytorch_dataset.py:126-153; golden layout in
    test_event_stream_pytorch_dataset.py:148-165). ``vocab_sizes``
    excludes the UNK row? No — sizes INCLUDE the UNK element, matching
    ``len(Vocabulary)``. Driver-side arithmetic (tiny dict)."""
    offsets: dict[str, int] = {}
    cur = 1
    for name, size in vocab_sizes.items():
        offsets[name] = cur
        cur += size
    return offsets
