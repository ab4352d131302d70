"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design:
- exact dedup is one hash-groupBy (map-side partial) on a digest, not
  on the full text — the shuffle carries 16-byte keys, not documents;
- MinHash/LSH turns O(n²) similarity into band-bucket equi-joins: the
  only shuffles are (doc → shingle → signature) aggregations and the
  bucket join, all key-partitioned;
- candidate pairs are verified with true Jaccard before acting —
  banding only proposes;
- hash functions are md5/xxhash64 (deterministic, seed-parameterized,
  available JVM-side); no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content digest: keeps the minimum id
    as the canonical representative.

    Returns (keep_id, n_dups, content_hash); join back with a semi-join
    on keep_id to materialize the deduplicated corpus.
    """
    return (
        docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("keep_id", "n_dups", "content_hash")
    )


def word_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles per document: (doc_id, shingle).

    Form chosen by measurement (sf0.1, 5000 docs): posexplode once +
    window ``lead`` to assemble grams — ONE shuffle (by doc), all
    stages whole-stage-codegen. The tempting array-HOF form
    (``transform``+``slice`` over ``split``) is 4-5× slower: lambda
    bodies re-evaluate the captured ``split`` per gram and
    higher-order functions run interpreted, outside codegen. k-1
    self-joins on position are 2× slower than the window.
    """
    from eventstreamml_spark.operators.text import words_table

    words = words_table(docs)
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("word")] + [F.lead("word", i).over(w) for i in range(1, k)]
    return (
        words.select(
            F.col("doc_id"),
            F.concat_ws(" ", *parts).alias("shingle"),
            F.lead("word", k - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
        .distinct()
    )


def minhash_signatures(shingles: DataFrame, n_perm: int = 16) -> DataFrame:
    """MinHash signature per document: for permutation i, the minimum
    md5 of ``shingle || ':' || i`` (lexicographic min over hex — a
    uniform hash family, portable across engines).

    WIDE formulation: one groupBy(doc) computing all n_perm minima as
    separate aggregate columns (``mh0..mh{n-1}``) — map-side partial
    min, a single shuffle, and NO n_perm× row explosion (the naive
    explode form shuffles n_perm× the shingle volume; at 100 TB that
    is the difference between one pass and sixteen).

    This is the measured fast path (codegen'd min aggregates): a per-row
    array form runs interpreted (HOFs are outside codegen), ~3× slower.
    """
    aggs = [
        F.min(F.md5(F.concat_ws(":", F.col("shingle"), F.lit(i)))).alias(f"mh{i}")
        for i in range(n_perm)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_perm: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """LSH banding: documents agreeing on ALL rows of any band become
    candidate pairs. Band hash = md5 of the band's concatenated
    minhashes; candidates come from an equi-join on (band, band_hash).

    Skew note: a super-common band hash (e.g. boilerplate docs) would
    hot-spot the join; AQE skew-join handles moderate cases, and an
    optional bucket-size cap can drop degenerate buckets.
    """
    rows_per_band = n_perm // n_bands
    # band hash = md5 of "perm:mh" pairs joined by "|" in perm order —
    # computed directly from the wide signature columns (no shuffle)
    band_rows = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.concat_ws(":", F.lit(p), F.col(f"mh{p}"))
                        for p in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ]
    banded = signatures.select(
        F.col("doc_id"), F.explode(F.array(*band_rows)).alias("_b")
    ).select("doc_id", F.col("_b.band").alias("band"), F.col("_b.band_hash").alias("band_hash"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for pairs sharing ≥1 shingle (optionally
    restricted to LSH ``candidates`` with columns id_a/id_b).

    |A∩B| via self-equi-join on shingle; |A∪B| = |A|+|B|−|A∩B| from a
    broadcast size table. Emits (id_a, id_b, jaccard ≥ threshold).

    When ``candidates`` is given, BOTH self-join inputs are first
    semi-joined down to the candidate doc-id set, so the quadratic
    shingle self-join only ever sees candidate documents — on a
    boilerplate-heavy corpus this is the difference between the LSH
    prefilter bounding the work and merely filtering its output. The
    aggregated intersections are then semi-joined to the exact pair
    list (id-restriction alone would admit cross-pairs between
    unrelated candidates).

    ``max_shingle_df`` is the hot-shingle safety valve for exact-truth
    audits at scale: a shingle appearing in d documents contributes
    d·(d−1)/2 join rows, so one boilerplate 4-gram shared by 10⁶ docs
    is a 5·10¹¹-row blowup. With the cap set, shingles whose document
    frequency exceeds it are dropped BEFORE the self-join (sizes still
    count every shingle, so jaccard is then a lower bound — fine for a
    recall audit, wrong for exact dedup; leave it None there).
    """
    cand_pairs = None
    if candidates is not None:
        # Materialize the (tiny) candidate pair list and the candidate-
        # restricted shingle relation ONCE. Both are referenced several
        # times below (two self-join sides, the size table, the pair
        # semi-join), and Catalyst re-expands the full candidate
        # pipeline — MinHash signatures, band self-join and all — at
        # EVERY reference: the un-materialized dedup_lsh_verified plan
        # carried 44 copies of the shingle scan/window subtree and 80
        # exchanges (measured 1.6x slower end-to-end at sf0.1).
        # localCheckpoint is per-invocation (eager, never reused across
        # calls), so every run still computes from the raw inputs.
        cand_pairs = candidates.select("id_a", "id_b").localCheckpoint()
        cand_ids = (
            cand_pairs.select(F.col("id_a").alias("doc_id"))
            .union(cand_pairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        shingles = shingles.join(cand_ids, "doc_id", "left_semi").localCheckpoint()
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_shingle_df is not None:
        cold = (
            shingles.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        shingles = shingles.join(cold, "shingle", "left_semi")
    a, b = shingles.alias("a"), shingles.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    if cand_pairs is not None:
        inter = inter.join(cand_pairs, ["id_a", "id_b"], "left_semi")
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def simhash(
    shingles: DataFrame,
    bits: int = 64,
    hash_col: Column | None = None,
) -> DataFrame:
    """SimHash: per-document ``bits``-bit signature where bit j is the
    sign of Σ_features (±1 depending on feature-hash bit j).

    Pure relational form: explode bit positions, map each shingle's
    hash bit to ±1, sum per (doc, bit), reassemble the signature as
    a bigint. n_docs × bits intermediate rows, one shuffle.

    ``hash_col`` defaults to ``xxhash64(shingle)`` (fastest, JVM-only).
    Pass an engine-portable hash (e.g. an md5-derived integer) when the
    signature must be reproducible outside Spark — the oracle-checked
    ``dedup_simhash_md5`` query does exactly that.
    """
    h = hash_col if hash_col is not None else F.xxhash64(F.col("shingle"))
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    per_bit = (
        shingles.select(F.col("doc_id"), bit, h.alias("_h"))
        .select(
            F.col("doc_id"), F.col("bit"),
            # shiftright with a *column* shift needs the SQL form
            F.when(F.expr("shiftright(_h, bit) & 1") == 1, 1).otherwise(-1).alias("contrib"),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum("contrib").alias("s"))
    )
    return per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def simhash_near_pairs(sims: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ k, using the
    pigeonhole trick: split the 64-bit signature into (k+1) chunks —
    any pair within distance k agrees exactly on ≥1 chunk → equi-join
    per chunk, then verify with bit_count(xor)."""
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    chunk = F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("chunk")
    chunks = sims.select(F.col("doc_id"), F.col("simhash"), chunk)
    if width >= 64:  # single full-width chunk (max_hamming == 0)
        chunks = chunks.withColumn("chunk_val", F.col("simhash"))
    else:
        mask = (1 << width) - 1
        chunks = chunks.withColumn(
            "chunk_val",
            F.expr(f"shiftright(simhash, CAST(chunk * {width} AS INT)) & {mask}"),
        )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force). Quadratic —
    intended for within-bucket verification after an LSH/IVF prefilter
    (see operators.similarity for the bucketed path)."""
    from eventstreamml_spark.operators.similarity import dot, unit_normalize

    a = emb.select(
        F.col("vec_id").alias("id_a"), unit_normalize(F.col("embedding")).alias("_va")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), unit_normalize(F.col("embedding")).alias("_vb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    # each side unit-normalized once; the quadratic stage pays one dot
    out = pairs.withColumn("cosine", dot(F.col("_va"), F.col("_vb")))
    return out.filter(F.col("cosine") >= threshold).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 12,
    n_bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: banded hyperplane LSH
    proposes candidates, exact cosine verifies — the vector analog of
    MinHash banding (lsh_candidate_pairs). Each vector's ``n_planes``
    sign bits split into ``n_bands`` bands; two vectors become a
    candidate pair iff they agree on EVERY bit of at least one band, so
    the self-join is a (band_idx, band_value) equi-join — never
    all-pairs. Only ids cross the candidate join and the pair-dedup
    shuffle; vectors join back once afterwards for the exact-cosine
    verify (the skinny-shuffle plan test pins this), and candidates per
    band bucket are bounded by bucket size, not corpus size.

    Approximate by design: recall vs the brute-force operator
    (embedding_near_dup_pairs) rises with n_bands and falls with
    band width (n_planes / n_bands), per the standard sign-LSH
    collision model p_bit = 1 - acos(cos) / pi.
    """
    from eventstreamml_spark.operators.similarity import (
        _hyperplanes,
        dot,
        hyperplane_bucket,
        unit_normalize,
    )

    if dim is None:
        from eventstreamml_spark.operators.similarity import embedding_dim

        dim = embedding_dim(emb)
    if n_planes % n_bands != 0:
        raise ValueError("n_bands must divide n_planes evenly")
    width = n_planes // n_bands
    planes = _hyperplanes(dim, n_planes, seed)

    vec = F.col("_v")
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                hyperplane_bucket(vec, planes[b * width : (b + 1) * width]).alias("bval"),
            )
            for b in range(n_bands)
        ]
    )
    # the band join and the pair dedup move ONLY ids — a candidate pair
    # is 3 longs across the shuffle, not 2×dim floats; vectors join
    # back after dedup (one row per surviving pair side)
    sig = (
        emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
        .withColumn("_b", F.explode(bands))
        .select("_id", F.col("_b.band").alias("band"), F.col("_b.bval").alias("bval"))
    )
    a = sig.select(F.col("_id").alias("id_a"), "band", "bval")
    b = sig.select(F.col("_id").alias("id_b"), "band", "bval")
    cand = (
        a.join(b, ["band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        # same pair can collide in several bands — dedup before the
        # vector fetch and cosine verify
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b")
    )
    va = emb.select(
        F.col("vec_id").alias("id_a"), unit_normalize(F.col("embedding")).alias("_va")
    )
    vb = emb.select(
        F.col("vec_id").alias("id_b"), unit_normalize(F.col("embedding")).alias("_vb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", dot(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def near_dup_groups(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs → dedup groups:
    every document gets the MINIMUM reachable doc id as ``group_id``
    (the canonical survivor), so a keep-list is
    ``filter(doc_id == group_id)``. This is the terminal step of a real
    dedup pipeline: MinHash/LSH proposes pairs, exact Jaccard verifies
    them, components collapse transitive chains (a~b, b~c → one group
    even when a~c was never proposed).

    Distributed min-label propagation: labels start as each node's own
    id; each round every node takes the min label over itself and its
    neighbors; stop when no label changes. Rounds = O(component
    diameter) — near-dup clusters are shallow (dup chains, not paths),
    so a handful of rounds suffices at any scale. Each round is one
    shuffle (join on the edge list) + a map-side min; frames are
    persisted per round and released after the convergence check, so
    lineage stays flat. ``pairs`` columns: (id_a, id_b), any extras
    ignored. ``all_ids`` (one ``doc_id`` column) adds isolated
    documents as their own singleton groups.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint()  # truncate lineage: edges re-join every round
    )
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    if all_ids is not None:
        nodes = nodes.unionByName(all_ids.select("doc_id")).distinct()
    # localCheckpoint (eager) per round keeps the logical plan flat —
    # an iterative persist() chain still grows the ANALYZED plan and
    # trips ambiguous-self-join resolution on the convergence check
    labels = nodes.withColumn("group_id", F.col("doc_id")).localCheckpoint()

    for _ in range(25):
        # min over each node's own label and all neighbor labels; the
        # convergence flag rides in the SAME select, so the per-round
        # check is a filter-count over the just-materialized frame —
        # no extra join, no extra shuffle
        nbr = (
            edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("group_id").alias("_nbr_min"))
        )
        new_labels = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("group_id"), F.coalesce(F.col("_nbr_min"), F.col("group_id"))
                ).alias("group_id"),
                (
                    F.coalesce(F.col("_nbr_min"), F.col("group_id"))
                    < F.col("group_id")
                ).alias("_changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break

    return labels.withColumn("is_canonical", F.col("doc_id") == F.col("group_id"))


def containment_pairs(
    shingles: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT |A∩B| / min(|A|,|B|) for pairs
    sharing ≥1 shingle — the near-dup measure for unequal lengths:
    a quote, a boilerplate wrapper, or a superset page scores high on
    containment while its Jaccard stays low (the union is dominated by
    the longer side). The standard second pass after Jaccard in a
    curation pipeline ("drop docs fully contained in another").

    Same scale shape as ``jaccard_pairs``: intersections come from the
    shingle equi-join; sizes broadcast back. Emits
    (id_a, id_b, n_inter, containment) with id_a < id_b."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = shingles.alias("a"), shingles.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "containment", F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b"))
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_inter", F.round("containment", 6).alias("containment"))
    )


def duplicate_passage_stats(
    docs: DataFrame,
    k: int = 4,
) -> DataFrame:
    """Per-document duplicated-passage measure (the word-granular
    analog of ExactSubstr dedup, Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better"): a position's word
    ``k``-gram counts as duplicated iff that exact gram occurs ≥2
    times corpus-wide (any document, including its own). Returns
    (doc_id, n_grams, n_dup, dup_ratio) — the per-doc signal used to
    drop or trim boilerplate-heavy documents.

    Scale shape: grams are assembled with one per-doc window pass
    (same plan as word_shingles, but keeping every position — the
    multiset matters); each gram is immediately digested to its md5
    so the corpus-wide count groupBy and the count join shuffle
    16-byte digests, never gram text. Two keyed shuffles total, both
    map-side combinable; nothing global, nothing collected.
    """
    from eventstreamml_spark.operators.text import words_table

    words = words_table(docs)
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("word")] + [F.lead("word", i).over(w) for i in range(1, k)]
    grams = (
        words.select(
            F.col("doc_id"),
            F.md5(F.concat_ws(" ", *parts)).alias("gh"),
            F.lead("word", k - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    counts = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("cnt"))
    flagged = grams.join(counts, "gh").select(
        F.col("doc_id"), (F.col("cnt") >= 2).cast("int").alias("_dup")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("_dup").alias("n_dup"),
        F.round(F.sum("_dup") / F.count(F.lit(1)), 6).alias("dup_ratio"),
    )
