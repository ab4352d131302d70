"""Mergeable frequency sketches (declared-new engine extension).

A count-min sketch is the bounded-memory answer to "how often does X
occur" over a stream or a 100 TB table: d hash rows × w counters,
point estimates overestimate by at most ε·N with probability 1−δ
(w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉). Unlike an exact groupBy the sketch is
FIXED-SIZE — two sketches merge by cell-wise addition, so partial
sketches combine map-side and the shuffle moves d·w counters, not the
key universe.

Hashes are the engine's portable md5 convention (seeded, replayable
in ANSI SQL), so estimates are bit-identical across engines — the
DuckDB oracle replays the whole sketch, not just its contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _bucket(x: Column, i: int, seed: int, width: int) -> Column:
    """Portable row-``i`` hash bucket: first 8 md5 hex chars of
    ``"{x}#{seed}#{i}"`` as an int, mod width. Replayable in DuckDB as
    ``('0x'||substr(md5(x||'#seed#i'),1,8))::BIGINT % width``."""
    h = F.md5(F.concat_ws("#", x.cast("string"), F.lit(str(seed)), F.lit(str(i))))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width).alias("b")


def cms_build(
    df: DataFrame,
    col: str,
    width: int = 256,
    depth: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Build a count-min sketch of ``df[col]`` as a (row:int,
    bucket:long, cnt:long) relation of at most ``depth·width`` rows.

    One groupBy on (row, bucket) — map-side partial aggregation
    collapses every task's contribution to ≤ d·w rows before the
    exchange, so the shuffle is O(d·w·tasks) regardless of input size
    or key skew. Null inputs are skipped (count-min counts
    occurrences of values, not rows).
    """
    x = F.col(col)
    hashed = df.filter(x.isNotNull()).select(
        F.posexplode(
            F.array(*[_bucket(x, i, seed, width) for i in range(depth)])
        ).alias("row", "bucket")
    )
    return hashed.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    cms: DataFrame,
    probes: DataFrame,
    probe_col: str,
    width: int = 256,
    depth: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Point-estimate each probe value against a built sketch:
    est(x) = min_i cnt[i, h_i(x)] (0 when a bucket was never hit).
    Overestimates only: est ≥ true count always, and est ≤ true +
    ε·N with the standard (w, d) guarantees. Broadcast-joins the
    (tiny, fixed-size) sketch to the probe set — no shuffle on the
    probe side."""
    x = F.col(probe_col)
    pb = probes.select(
        x.alias("probe"),
        F.posexplode(
            F.array(*[_bucket(x, i, seed, width) for i in range(depth)])
        ).alias("row", "bucket"),
    )
    return (
        pb.join(F.broadcast(cms), ["row", "bucket"], "left")
        .groupBy("probe")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    by: str,
    probs: list[float] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Log-binned mergeable quantile sketch: per-group quantile
    ESTIMATES with bounded relative error from a fixed-size histogram —
    the cluster-scale alternative to exact percentiles, whose sort (or
    full-value shuffle) is the thing that dies at 100 TB.

    Positive values land in bin ⌊ln(x)·k⌋ (k = 20 bins per
    e-fold, so every estimate is within a factor e^(1/2k) ≈ 2.5% of the
    truth at k=20); the per-group histogram is the sketch — it merges
    by bucket addition (map-side combined), its size is bounded by the
    value range's log-span, and it never holds raw values. Quantile p
    reads off the first bin whose cumulative count reaches ⌈p·n⌉, and
    the estimate is the bin's geometric midpoint e^((bin+0.5)/k).

    Plan shape: one groupBy builds the histograms; the cumulative
    window, the probs fan-out, and the min-bin pick all run on the
    histogram relation (|groups|·|bins| rows), never the data. Zero
    and negative values are counted and reported (n_nonpos) but not
    binned — a log sketch's domain is (0, ∞) and silently folding
    them would corrupt the tails. A group whose values are ALL
    non-positive still emits its (group, p) rows — NULL estimate,
    n_pos=0, its n_nonpos count — rather than vanishing."""
    from pyspark.sql import Window as W

    x = F.col(value_col).cast("double")
    pos = df.select(F.col(by), x.alias("_x")).filter(x.isNotNull())
    binned = pos.select(
        by,
        F.when(
            F.col("_x") > 0, F.floor(F.log(F.col("_x")) * 20)
        ).alias("_bin"),
    )
    hist = binned.groupBy(by, "_bin").agg(F.count(F.lit(1)).alias("_c"))
    n_pos = F.sum(F.when(F.col("_bin").isNotNull(), F.col("_c"))).over(
        W.partitionBy(by)
    )
    n_nonpos = F.sum(F.when(F.col("_bin").isNull(), F.col("_c"))).over(
        W.partitionBy(by)
    )
    cum = F.sum("_c").over(
        W.partitionBy(by).orderBy(F.col("_bin").asc_nulls_last())
    )
    h = hist.select(
        by,
        "_bin",
        F.coalesce(n_pos, F.lit(0)).alias("_n"),
        F.coalesce(n_nonpos, F.lit(0)).alias("n_nonpos"),
        cum.alias("_cum"),
    ).filter(F.col("_bin").isNotNull())
    p = F.explode(
        F.array(*[F.lit(float(q)) for q in sorted(probs)])
    ).alias("p")
    hits = h.select(by, "_bin", "_n", "n_nonpos", "_cum", p).filter(
        F.col("_cum") >= F.ceil(F.col("p") * F.col("_n"))
    )
    main = (
        hits.groupBy(by, "p")
        .agg(
            F.min("_bin").alias("_qbin"),
            F.max("_n").alias("n_pos"),
            F.max("n_nonpos").alias("n_nonpos"),
        )
        .select(
            by,
            "p",
            F.round(
                F.exp((F.col("_qbin") + 0.5) / F.lit(20.0)), 6
            ).alias("estimate"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.col("n_nonpos").cast("long").alias("n_nonpos"),
        )
    )
    # all-nonpos groups: nothing survives the bin filter above, so emit
    # their (group, p) rows from the histogram relation directly
    allnon = (
        hist.groupBy(by)
        .agg(
            F.sum(F.when(F.col("_bin").isNotNull(), F.col("_c"))).alias("_np"),
            F.sum(F.when(F.col("_bin").isNull(), F.col("_c"))).alias("_nn"),
        )
        .filter(F.col("_np").isNull())
        .select(
            by,
            p,
            F.lit(None).cast("double").alias("estimate"),
            F.lit(0).cast("long").alias("n_pos"),
            F.col("_nn").cast("long").alias("n_nonpos"),
        )
    )
    return main.unionByName(allnon)


def hll_distinct_estimate(
    df: DataFrame,
    key_col: str,
    by: str | None = None,
    p: int = 10,
) -> DataFrame:
    """Portable HyperLogLog distinct-count estimate: 2^p registers per
    group, register = max ρ (position of the first 1-bit after the
    bucket bits) over the keys hashing there; the raw estimate is
    α·m²/Σ2^(−Mⱼ) with the standard small-range linear-counting
    correction. Relative error ≈ 1.04/√m (~3.2% at p=10).

    Unlike Spark's built-in approx_count_distinct (whose xxhash64-based
    sketch no other engine can replay), every bit here derives from the
    engine's md5 convention, so the DuckDB oracle reproduces the
    ESTIMATE exactly — the sketch itself is the verified artifact, the
    same bar the engine's count-min sketch meets.

    ρ is extracted from the hex string with STRING ops only (the same
    no-base-conversion lesson the bootstrap hot path measured): leading
    zero HEX DIGITS count 4 bits each via a regexp anchor, and the
    first non-zero hex digit contributes its within-digit leading
    zeros by a 15-way CASE. Plan shape: groupBy(group, bucket) max →
    groupBy(group) harmonic sum — two map-side-combined shuffles, a
    fixed-size mergeable sketch in between."""
    keys = [by] if by else []
    m = 1 << p
    hx = F.md5(F.col(key_col).cast("string"))
    # bucket: first 3 hex digits = 12 bits; take mod m (p <= 12)
    bucket = (
        F.conv(F.substring(hx, 1, 3), 16, 10).cast("long") % m
    ).alias("_bucket")
    # rho over the NEXT 16 hex digits (64 bits): leading zero digits
    # count 4 bits each; the first nonzero digit adds 0-3 bits
    tail = F.substring(hx, 4, 16)
    zeros = F.length(F.regexp_extract(tail, "^(0*)", 1))
    first_nz = F.substring(F.ltrim(tail, F.lit("0")), 1, 1)
    within = (
        F.when(first_nz.isin("8", "9", "a", "b", "c", "d", "e", "f"), 0)
        .when(first_nz.isin("4", "5", "6", "7"), 1)
        .when(first_nz.isin("2", "3"), 2)
        .when(first_nz == "1", 3)
        .otherwise(0)  # unreachable: first_nz is 1-f when tail nonzero
    )
    rho = F.when(F.length(F.ltrim(tail, F.lit("0"))) == 0, F.lit(65)).otherwise(
        zeros * 4 + within + 1
    )
    regs = (
        df.filter(F.col(key_col).isNotNull())
        .select(*keys, bucket, rho.alias("_rho"))
        .groupBy(*keys, "_bucket")
        .agg(F.max("_rho").alias("_r"))
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = regs.groupBy(*keys).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("_r"))).alias("_hsum"),
        F.count(F.lit(1)).alias("_nz"),  # buckets hit at least once
    )
    raw = F.lit(alpha * m * m) / (F.col("_hsum") + (F.lit(m) - F.col("_nz")))
    # linear counting when raw <= 2.5m and empty buckets exist
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - F.col("_nz")))
    est = F.when(
        (raw <= 2.5 * m) & (F.col("_nz") < m), lc
    ).otherwise(raw)
    return agg.select(
        *keys,
        F.round(est, 3).alias("estimate"),
        F.col("_nz").cast("long").alias("buckets_used"),
    )


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_buckets: int = 4096,
) -> DataFrame:
    """Sketch-based equi-join cardinality estimation — the statistic a
    cost-based planner wants BEFORE paying for the join: hash both key
    columns into ``n_buckets`` md5 buckets, and Σ cntₗ(b)·cntᵣ(b) over
    the bucket pairs upper-bounds |A ⋈ B| (exact when no two distinct
    keys share a bucket; collisions only ever overcount). Each side
    pays one map-side-combined groupBy to a fixed-size count vector;
    the product-sum joins two |buckets|-sized relations. The output
    also carries the exact join count and the relative overcount so the
    estimator audits itself."""

    def counts(df: DataFrame, key: str, out: str) -> DataFrame:
        b = (
            F.conv(
                F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10
            ).cast("long")
            % n_buckets
        )
        return (
            df.filter(F.col(key).isNotNull())
            .groupBy(b.alias("b"))
            .agg(F.count(F.lit(1)).alias(out))
        )
    cl = counts(left, left_key, "cl")
    cr = counts(right, right_key, "cr")
    est = cl.join(cr, "b").agg(
        # no overlapping buckets → empty inner join → sum() is NULL,
        # but the correct estimate of a provably-empty join is 0
        F.coalesce(F.sum(F.col("cl") * F.col("cr")), F.lit(0))
        .cast("long")
        .alias("estimate")
    )
    exact = (
        left.select(F.col(left_key).alias("_k"))
        .join(right.select(F.col(right_key).alias("_k")), "_k")
        .agg(F.count(F.lit(1)).cast("long").alias("exact"))
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "estimate",
            "exact",
            F.round(
                F.try_divide(
                    (F.col("estimate") - F.col("exact")).cast("double"),
                    F.col("exact"),
                ),
                6,
            ).alias("rel_overcount"),
        )
    )


def bloom_membership_audit(
    build: DataFrame,
    probe: DataFrame,
    key_col: str = "key",
    m_bits: int = 8192,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter build/probe audit with a PORTABLE bit layout: bit
    positions are md5(key:j) hex prefixes mod ``m_bits`` (any engine
    reproduces the filter bit-for-bit — the same portability contract
    as the HLL and CMS sketches here), membership = all ``k_hashes``
    positions set. Returns one row comparing the filter verdicts to
    the exact semi-join truth: candidate/true/false-positive counts,
    the measured false-positive rate, and the theoretical
    (1−e^{−kn/m})^k — the number that says whether a bloom prefilter
    in front of a 100 TB shuffle join is worth it at this load factor.

    Distributed shape: the bit set is |distinct positions| ≤ m_bits
    rows (broadcast-tiny by construction); probes explode ×k and
    equi-join the bit set — the exact prefilter topology a real
    bloom-join deployment uses, so the audit measures the real thing.
    """
    ks = F.explode(F.array(*[F.lit(j) for j in range(k_hashes)])).alias("_j")

    def pos(key: Column, j: Column) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", key.cast("string"), j.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % m_bits
        )

    # build keys are referenced by the bit set, the truth relation AND
    # the load-factor count; the bit set by the probe semi-join and the
    # bit count — each reference re-expanded the build-side scan+md5
    # chain (12 scan copies in the audit's executed plan). Both are
    # bounded tiny by construction (selective build side; ≤ m_bits).
    bkeys = build.select(F.col(key_col).alias("_k")).distinct().localCheckpoint()
    bits = (
        bkeys.select("_k", ks)
        .select(pos(F.col("_k"), F.col("_j")).alias("_pos"))
        .distinct()
        .localCheckpoint()
    )
    pkeys = probe.select(F.col(key_col).alias("_k")).distinct()
    probes = pkeys.select("_k", ks).select(
        "_k", pos(F.col("_k"), F.col("_j")).alias("_pos")
    )
    hits = (
        probes.join(F.broadcast(bits), "_pos", "left_semi")
        .groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_nhit"))
        .filter(F.col("_nhit") == k_hashes)
        .select("_k", F.lit(1).alias("_cand"))
    )
    truth = bkeys.select("_k", F.lit(1).alias("_member"))
    audit = (
        pkeys.join(hits, "_k", "left")
        .join(truth, "_k", "left")
        .select(
            F.coalesce("_cand", F.lit(0)).alias("_c"),
            F.coalesce("_member", F.lit(0)).alias("_m"),
        )
    )
    n_build = bkeys.groupBy().agg(F.count(F.lit(1)).cast("double").alias("_nb"))
    n_bits = bits.groupBy().agg(F.count(F.lit(1)).cast("long").alias("_nbits"))
    agg = audit.groupBy().agg(
        F.count(F.lit(1)).alias("_np"),
        F.sum("_c").alias("_nc"),
        F.sum(F.col("_c") * F.col("_m")).alias("_tp"),
        F.sum(F.col("_c") * (1 - F.col("_m"))).alias("_fp"),
        F.sum("_m").alias("_nm"),
    )
    fpr_th = (
        1.0
        - F.exp(-F.lit(float(k_hashes)) * F.col("_nb") / F.lit(float(m_bits)))
    ) ** k_hashes
    return (
        agg.crossJoin(F.broadcast(n_build))
        .crossJoin(F.broadcast(n_bits))
        .select(
            F.col("_nb").cast("long").alias("n_build_keys"),
            F.col("_nbits").alias("n_bits_set"),
            F.col("_np").cast("long").alias("n_probes"),
            F.col("_nc").cast("long").alias("n_candidates"),
            F.col("_tp").cast("long").alias("n_true_pos"),
            F.col("_fp").cast("long").alias("n_false_pos"),
            F.round(
                F.try_divide(
                    F.col("_fp").cast("double"),
                    (F.col("_np") - F.col("_nm")).cast("double"),
                ),
                6,
            ).alias("fpr_measured"),
            F.round(fpr_th, 6).alias("fpr_theoretical"),
        )
    )
