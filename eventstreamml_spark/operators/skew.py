"""Skew mitigation — salted two-phase aggregation.

Sums/counts/mins survive hot keys for free (map-side partial
aggregation shrinks every partition before the shuffle). The
aggregations that DON'T are the materializing ones — ``collect_list``
/ ``collect_set`` — where one hot key (a boilerplate document digest, a
mega-subject) funnels its entire value set through a single reduce
task: the task OOMs or straggles while the rest of the stage idles.

``salted_collect_list`` splits each key's rows across ``n_salt``
sub-keys (phase 1: collect per (key, salt)), then concatenates the
n_salt partial lists per key (phase 2: flatten over at most ``n_salt``
rows per key). The hot key's data now crosses the shuffle in n_salt
bounded pieces, and no single task ever holds more than ~1/n_salt of
it until the final (cheap, list-of-lists) concat.

AQE's skew-join handling rebalances *joins*; it cannot split a skewed
*aggregation* group — that is what salting is for. Join-side skew:
prefer AQE (on in session defaults), salt only when a key exceeds what
one executor can hold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _salt(n_salt: int) -> Column:
    # deterministic per-row salt would need a row id; spreading rows
    # round-robin-ish by partition+offset keeps the phases reproducible
    # in count while staying expression-only. The salt VALUE a given row
    # gets varies run to run with partitioning, so per-salt partial
    # sizes are not stable — result multisets are exact regardless;
    # only an unsorted collect_list's element ORDER is affected (and
    # plain collect_list is order-nondeterministic anyway; use
    # sort_result=True for a stable array).
    return F.pmod(F.monotonically_increasing_id(), F.lit(n_salt))


def salted_collect_list(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n_salt: int = 32,
) -> DataFrame:
    """Two-phase ``collect_list`` that survives hot keys.

    Returns one row per key tuple with column ``values`` (array of
    ``value_col``), sorted — ``collect_list`` order is nondeterministic
    anyway, so sorting is the only way to get a stable result.
    """
    phase1 = (
        df.withColumn("_salt", _salt(n_salt))
        .groupBy(*keys, "_salt")
        .agg(F.collect_list(value_col).alias("_part"))
    )
    return (
        phase1.groupBy(*keys)
        .agg(F.flatten(F.collect_list("_part")).alias("values"))
        .withColumn("values", F.array_sort("values"))
    )


def salted_collect_set(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n_salt: int = 32,
) -> DataFrame:
    """Two-phase ``collect_set``: per-salt sets dedupe most of the hot
    key's volume before the second shuffle; the final distinct runs on
    the (much smaller) union. Result array is sorted (sets have no
    order)."""
    phase1 = (
        df.withColumn("_salt", _salt(n_salt))
        .groupBy(*keys, "_salt")
        .agg(F.collect_set(value_col).alias("_part"))
    )
    return (
        phase1.groupBy(*keys)
        .agg(F.array_sort(F.array_distinct(F.flatten(F.collect_list("_part")))).alias("values"))
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salt: int = 8,
) -> DataFrame:
    """Manually salted equi-join for hot keys: the (large) left side
    gets a random salt in ``[0, n_salt)``, the (smaller but
    non-broadcastable) right side is EXPLODED into ``n_salt`` copies
    — one per salt value — and the join runs on ``(key, salt)``, so a
    hot key's left rows spread across n_salt reduce tasks instead of
    funneling into one.

    Result equals the plain join exactly (every left row meets every
    matching right row exactly once: its own salt's copy). Cost: the
    right side shuffles n_salt× — use when AQE skew-splitting is
    unavailable (streaming joins, non-AQE engines) or when a key is so
    hot a single split still exceeds one task; otherwise prefer AQE,
    which pays the replication only for the skewed partitions."""
    l = left.withColumn("_salt", _salt(n_salt))
    r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast(l.schema["_salt"].dataType))
    return l.join(r, [key, "_salt"]).drop("_salt")
