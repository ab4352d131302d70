"""Projection / filter / predicate operators — SURVEY §2.2 P1-P10.

Everything here is a pure Column expression or a narrow filter so
Catalyst can push predicates to the parquet scan. Null handling is
explicit: pandas ``NaN < x`` is False while Spark ``null < x`` is null —
the ``when`` chains below are written so both produce the same rows.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

#: the per-key bound columns :func:`drop_or_censor` takes, in its
#: argument order
BOUND_COLS = [
    "drop_lower_bound",
    "drop_lower_bound_inclusive",
    "drop_upper_bound",
    "drop_upper_bound_inclusive",
    "censor_lower_bound",
    "censor_upper_bound",
]

#: unit string → (lower, lower_inclusive, upper, upper_inclusive)
#: reference UNIT_BOUNDS (event_stream_dataset.py:59-62)
UNIT_BOUNDS: dict[str, tuple[float, bool, float, bool]] = {
    "%": (0.0, False, 1.0, False),
    "percent": (0.0, False, 1.0, False),
}


def drop_or_censor(
    val: Column,
    drop_lower_bound: Column | float | None = None,
    drop_lower_bound_inclusive: Column | bool | None = None,
    drop_upper_bound: Column | float | None = None,
    drop_upper_bound_inclusive: Column | bool | None = None,
    censor_lower_bound: Column | float | None = None,
    censor_upper_bound: Column | float | None = None,
) -> Column:
    """P5: drop (→ null) or censor (→ clamp) a value against bounds.

    Exact reference semantics (event_stream_dataset.py:152-211; golden
    truth table test_event_stream_dataset.py:138-179):

    1. below drop_lower (strictly, or equal when inclusive) OR above
       drop_upper (strictly, or equal when inclusive) → NULL;
    2. elif < censor_lower → censor_lower; elif > censor_upper →
       censor_upper;
    3. else pass through. Null bounds are no-ops.

    Drop checks always win over censor checks. Bound arguments may be
    Columns (per-row bounds from a J1 join) or Python literals.
    """
    def lit(x):
        if x is None:
            return F.lit(None).cast("double")
        return x if isinstance(x, Column) else F.lit(x)

    dlb, dub = lit(drop_lower_bound), lit(drop_upper_bound)
    dlb_inc = lit(drop_lower_bound_inclusive)
    dub_inc = lit(drop_upper_bound_inclusive)
    clb, cub = lit(censor_lower_bound), lit(censor_upper_bound)

    # null-safe: a null bound contributes False to the drop predicate
    drop_low = dlb.isNotNull() & (
        (val < dlb) | (F.coalesce(dlb_inc.cast("boolean"), F.lit(False)) & (val == dlb))
    )
    drop_high = dub.isNotNull() & (
        (val > dub) | (F.coalesce(dub_inc.cast("boolean"), F.lit(False)) & (val == dub))
    )
    return (
        F.when(drop_low | drop_high, F.lit(None).cast("double"))
        .when(clb.isNotNull() & (val < clb), clb)
        .when(cub.isNotNull() & (val > cub), cub)
        .otherwise(val.cast("double"))
    )


def drop_oob_and_censor_outliers(
    vals: DataFrame,
    bounds: DataFrame,
    key_col: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """P6/J1: join values to a per-key bounds table (broadcast — bounds
    are measurement metadata, always small) and apply :func:`drop_or_censor`
    rowwise; keys missing from ``bounds`` pass through unchanged
    (event_stream_dataset.py:213-266)."""
    out_col = out_col or value_col
    b = bounds.select(
        key_col,
        *[
            (F.col(c) if c in bounds.columns else F.lit(None)).alias(f"_b_{c}")
            for c in BOUND_COLS
        ],
    )
    joined = vals.join(F.broadcast(b), key_col, "left")
    expr = drop_or_censor(F.col(value_col), *[F.col(f"_b_{c}") for c in BOUND_COLS])
    return joined.withColumn(out_col, expr).drop(*[f"_b_{c}" for c in BOUND_COLS])


def merge_unit_inferred_bounds(bounds: DataFrame) -> DataFrame:
    """Unit-implied bounds merge (event_stream_dataset.py:64-141).

    Tightens ``drop_lower_bound`` to max(existing, unit-implied) and
    ``drop_upper_bound`` to min(existing, unit-implied); on an exact tie
    inclusivity is OR-ed; otherwise the winning bound's inclusivity is
    kept. Implemented as a pure expression over the (small) bounds table.
    """
    entries = [
        F.struct(
            F.lit(u).alias("u"),
            F.lit(lo).alias("lo"),
            F.lit(loi).alias("loi"),
            F.lit(hi).alias("hi"),
            F.lit(hii).alias("hii"),
        )
        for u, (lo, loi, hi, hii) in UNIT_BOUNDS.items()
    ]
    lookup = F.filter(F.array(*entries), lambda e: e["u"] == F.col("unit"))
    inferred = F.get(lookup, 0)  # null struct when unit unknown (ANSI-safe)

    def pick(old_b, old_i, new_b, new_i, minmax):
        # returns (bound, inclusive) struct following the reference's
        # null/tie rules (event_stream_dataset.py:113-141)
        tighter = new_b > old_b if minmax == "max" else new_b < old_b
        bound = F.when(new_b.isNull(), old_b).when(old_b.isNull(), new_b).otherwise(
            F.greatest(old_b, new_b) if minmax == "max" else F.least(old_b, new_b)
        )
        incl = (
            F.when(new_b.isNull(), old_i)
            .when(old_b.isNull(), new_i)
            .when(tighter, new_i)
            .when(old_b == new_b, F.coalesce(old_i, F.lit(False)) | F.coalesce(new_i, F.lit(False)))
            .otherwise(old_i)
        )
        return bound, incl

    old_lo = F.col("drop_lower_bound") if "drop_lower_bound" in bounds.columns else F.lit(None).cast("double")
    old_loi = F.col("drop_lower_bound_inclusive") if "drop_lower_bound_inclusive" in bounds.columns else F.lit(None).cast("boolean")
    old_hi = F.col("drop_upper_bound") if "drop_upper_bound" in bounds.columns else F.lit(None).cast("double")
    old_hii = F.col("drop_upper_bound_inclusive") if "drop_upper_bound_inclusive" in bounds.columns else F.lit(None).cast("boolean")

    lo, loi = pick(old_lo, old_loi, inferred["lo"].cast("double"), inferred["loi"], "max")
    hi, hii = pick(old_hi, old_hii, inferred["hi"].cast("double"), inferred["hii"], "min")
    bound_cols = (
        "drop_lower_bound", "drop_lower_bound_inclusive",
        "drop_upper_bound", "drop_upper_bound_inclusive",
    )
    passthrough = [c for c in bounds.columns if c not in bound_cols]
    return bounds.select(
        *passthrough,
        lo.alias("drop_lower_bound"),
        loi.alias("drop_lower_bound_inclusive"),
        hi.alias("drop_upper_bound"),
        hii.alias("drop_upper_bound_inclusive"),
    )


def restrict_event_types(df: DataFrame, event_types: list[str]) -> DataFrame:
    """P2 (partial): conjunctive event-type membership filter."""
    return df.filter(F.col("event_type").isin(event_types))


def restrict_subjects(df: DataFrame, subject_ids, subject_col: str = "subject_id") -> DataFrame:
    """P2/P3: subject membership filter. ``subject_ids`` may be a list
    (→ pushed-down ``isin``) or a DataFrame (→ broadcast semi-join)."""
    if isinstance(subject_ids, DataFrame):
        return df.join(F.broadcast(subject_ids.select(subject_col).distinct()), subject_col, "left_semi")
    return df.filter(F.col(subject_col).isin(list(subject_ids)))


def restrict_time_range(df: DataFrame, start, end, ts_col: str = "timestamp") -> DataFrame:
    """P4: inclusive-both-ends time range
    (event_stream_pytorch_dataset.py:288-292)."""
    return df.filter(F.col(ts_col).between(start, end))


def column_observation_counts(df: DataFrame, candidates: list[str] | None = None) -> DataFrame:
    """P2 (tail) decision relation: per candidate column, its non-null
    observation count and whether the all-null drop keeps it. ONE
    aggregation pass over only the candidate columns; the single
    wide-agg row is unpivoted to (col_name, n_obs, kept)."""
    candidates = df.columns if candidates is None else candidates
    if not candidates:
        # an empty candidate list is a valid question with an empty
        # answer — df.agg() with zero expressions would raise opaquely
        schema = "col_name string, n_obs long, kept boolean"
        return df.sparkSession.createDataFrame([], schema)
    wide = df.agg(*[F.count(F.col(c)).alias(c) for c in candidates])
    long = wide.unpivot([], candidates, "col_name", "n_obs")
    return long.select("col_name", "n_obs", (F.col("n_obs") > 0).alias("kept"))


def drop_all_null_columns(df: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """P2 (tail): drop columns that are entirely null
    (event_stream_dataset.py:863). Triggers a job (it must — the
    decision is data-dependent), driven by the one-pass
    :func:`column_observation_counts` relation."""
    keep = set(keep or [])
    candidates = [c for c in df.columns if c not in keep]
    if not candidates:
        return df
    counts = column_observation_counts(df, candidates).collect()
    dead = [r["col_name"] for r in counts if not r["kept"]]
    return df.drop(*dead) if dead else df


def nullify_nonfinite(col: Column) -> Column:
    """P8: map NaN and ±Inf to null
    (event_stream_pytorch_dataset.py:370-376,403-405)."""
    return F.when(
        F.isnan(col) | (F.abs(col) == F.lit(float(math.inf))), F.lit(None).cast("double")
    ).otherwise(col)


def filter_min_seq_len(
    df: DataFrame, min_seq_len: int, subject_col: str = "subject_id"
) -> DataFrame:
    """P10: keep subjects with ≥ min_seq_len events
    (event_stream_pytorch_dataset.py:119-122). Aggregate-then-semi-join
    so the big side shuffles once on the subject key."""
    keep = (
        df.groupBy(subject_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_seq_len)
        .select(subject_col)
    )
    return df.join(keep, subject_col, "left_semi")
