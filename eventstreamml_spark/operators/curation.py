"""Corpus-curation operators for LLM training-data pipelines: PII
redaction, document chunking, sequence packing, per-stratum quota
sampling, and benchmark-contamination detection.

Engine extensions beyond the reference surface (driver north star's
"operations a large-scale training-data pipeline would need"); the
reference has no text corpus at all, so there is nothing to cite —
semantics here follow standard corpus-curation practice (C4/Dolma-style
cleaning, packed-sequence pretraining inputs, benchmark decontamination
via n-gram overlap).

100 TB design notes, per operator:

- ``redact_pii`` / ``chunk_documents``: pure per-row Column
  expressions — zero shuffle, whole-stage codegen, stream through the
  scan. Chunking multiplies rows by ~n_chars/stride but each output row
  carries only (id, chunk_no, digest), never the chunk text, unless
  asked.
- ``pack_documents``: ONE keyed shuffle (window over the stratum key).
  Packing is inherently order-dependent; a global order would funnel
  100 TB through one partition, so packs are formed *within strata*
  (source/shard) — the same layout a real pretraining pipeline uses
  (packs never span shards, so shards stay independently shufflable).
- ``quota_sample``: one keyed shuffle; rank by a content-free md5 of
  the id, so the sample is deterministic, seedable, and skew-free even
  when ids are assigned monotonically by ingest time.
- ``ngram_contamination``: shingle explode (no shuffle) → distinct
  benchmark shingle set (shuffle on shingle, tiny output — benchmark
  suites are MBs, not TBs) → equi-join candidate shingles to that set
  and count per doc. Never quadratic in corpus size; the benchmark
  side is broadcast when it fits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window as W

#: Java-regex AND RE2 compatible (no backrefs, no lookaround), so the
#: same pattern text runs in Spark and the DuckDB oracle.
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
#: long digit runs — phone/account/SSN-ish identifiers.
DIGIT_RUN_REGEX = r"[0-9]{9,}"

EMAIL_TOKEN = "<EMAIL>"
NUMBER_TOKEN = "<NUMBER>"


def redact_pii(docs: DataFrame) -> DataFrame:
    """Rule-based PII scrub: replace e-mail addresses and long digit
    runs with typed placeholder tokens, and count what was removed.

    Returns (id, n_emails, n_digit_runs, redacted_md5, redacted_len).
    The digest stands in for the redacted text so downstream exact-dedup
    keeps working on scrubbed content; select the full redacted column
    via :func:`redacted_text` when materializing a cleaned corpus.
    """
    text = F.col("text")
    # digit runs are counted AFTER the email pass: digits inside an
    # address belong to the email redaction, not the number count
    no_email = F.regexp_replace(text, EMAIL_REGEX, EMAIL_TOKEN)
    return docs.select(
        F.col("doc_id"),
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_REGEX), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(
            F.regexp_extract_all(no_email, F.lit(DIGIT_RUN_REGEX), F.lit(0))
        ).alias("n_digit_runs"),
        F.md5(redacted_text(text)).alias("redacted_md5"),
        F.length(redacted_text(text)).alias("redacted_len"),
    )


def redacted_text(text: Column) -> Column:
    """The scrubbed text expression (emails first, then digit runs, so
    digits inside an address never leave a partial run behind)."""
    scrubbed = F.regexp_replace(text, EMAIL_REGEX, EMAIL_TOKEN)
    return F.regexp_replace(scrubbed, DIGIT_RUN_REGEX, NUMBER_TOKEN)


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 500,
    stride: int = 400,
    keep_text: bool = False,
) -> DataFrame:
    """Overlapping fixed-width character chunks (RAG/window-attention
    prep): chunk i covers ``[i*stride, i*stride + chunk_chars)``; the
    last chunk starts at the smallest multiple of stride whose window
    reaches the end of the document, so every character lands in ≥1
    chunk and consecutive chunks overlap by ``chunk_chars - stride``.

    Row explosion is ~len/stride per doc; output rows carry only
    (id, chunk_no, chunk_len, chunk_md5) unless ``keep_text``.
    Pure expressions + one ``posexplode`` — zero shuffle.
    """
    if stride <= 0 or chunk_chars <= 0 or stride > chunk_chars:
        raise ValueError("need 0 < stride <= chunk_chars")
    text = F.col("text")
    n = F.length(text)
    n_chunks = F.when(n <= chunk_chars, F.lit(1)).otherwise(
        F.ceil((n - F.lit(chunk_chars)) / F.lit(stride)).cast("long") + 1
    )
    chunk = text.substr(
        F.col("chunk_no").cast("int") * F.lit(stride) + F.lit(1), F.lit(chunk_chars)
    )
    out = docs.select(
        F.col("doc_id"),
        text,
        F.explode(F.sequence(F.lit(0).cast("long"), (n_chunks - 1).cast("long"))).alias(
            "chunk_no"
        ),
    ).select(
        F.col("doc_id"),
        F.col("chunk_no").cast("long").alias("chunk_no"),
        F.length(chunk).alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
        *([chunk.alias("chunk_text")] if keep_text else []),
    )
    return out


def pack_documents(
    docs: DataFrame,
    capacity_tokens: int = 2048,
) -> DataFrame:
    """Sequence-packing plan: assign each document to a fixed-capacity
    pack by the *offset* of its first token in the stratum's
    concatenated token stream (docs in id order). Offset-binning is the
    distributable form of first-fit packing: one prefix-sum window per
    stratum, deterministic, and docs longer than the capacity simply
    span bins (they would be split at tokenization time anyway).

    Packs are formed within strata (``source``) rather than
    globally — a global order funnels everything through one partition;
    per-stratum packing is one keyed shuffle and matches the
    shard-local layout pretraining pipelines want.

    Returns (id, stratum, n_tokens, start_offset, pack_id).
    """
    from eventstreamml_spark.operators.text import token_count

    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    toks = docs.select(
        F.col("doc_id"),
        F.col("source"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return toks.select(
        "doc_id",
        "source",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset"),
    ).withColumn(
        "pack_id", F.floor(F.col("start_offset") / F.lit(capacity_tokens)).cast("long")
    )


def quota_sample(
    docs: DataFrame,
    k: int,
    stratum_col: str = "lang",
) -> DataFrame:
    """Deterministic per-stratum quota: keep the ``k`` docs per stratum
    that rank first by ``md5(id)`` — a seed-free uniform draw that is
    stable across runs/engines and immune to ingest-order skew (domain
    rebalancing / language quotas in mixture construction).

    One keyed shuffle (window by stratum). Ties are impossible: md5 of
    a distinct id is distinct.

    Returns (stratum, id, rk) with rk in 1..k.
    """
    rk = F.row_number().over(
        W.partitionBy(stratum_col).orderBy(F.md5(F.col("doc_id").cast("string")))
    )
    return (
        docs.select(F.col(stratum_col), F.col("doc_id"))
        .withColumn("rk", rk)
        .filter(F.col("rk") <= k)
    )


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 4,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: for every candidate doc, the number
    of distinct word ``k``-gram shingles it shares with ANY benchmark
    doc, and a contamination flag at ``min_shared``.

    The benchmark shingle set is deduplicated *before* the join — real
    benchmark suites are MB-scale, so that side is broadcast-able and
    the probe is a per-shingle equi-join, never a doc×doc comparison.
    Candidate docs appear in the output even at zero overlap (left
    join), so the flag is total.

    Returns (id, n_shared, contaminated).
    """
    from eventstreamml_spark.operators.dedup import word_shingles

    cand_sh = word_shingles(docs, k=k)
    bench_sh = (
        word_shingles(benchmark, k=k)
        .select("shingle")
        .distinct()
    )
    hits = (
        cand_sh.join(bench_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    base = docs.select("doc_id").distinct()
    return (
        base.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
        )
        .withColumn("contaminated", F.col("n_shared") >= min_shared)
    )


def shard_plan(
    docs: DataFrame,
    n_shards: int = 16,
) -> DataFrame:
    """Plan globally-shuffled training shards: every document lands in
    shard ``md5(id) % n_shards``, and the plan reports per-shard volume
    ``(shard, n_docs, total_size, min_hash, max_hash)`` so a pipeline
    can verify the shuffle is balanced BEFORE paying for the write.

    This is the distributable form of "shuffle the corpus once before
    training": a content-free hash gives a uniform pseudo-random
    permutation with no global sort — the writer then does
    ``repartition(n_shards, shard).sortWithinPartitions(doc_hash)``,
    so each shard is internally hash-ordered and shards are mutually
    independent (re-shufflable, resumable, skew-bounded by the hash).
    One keyed shuffle; hash skew is statistically bounded at any SF."""
    h = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_shards
    ).alias("shard")
    return (
        docs.select(shard, F.col("n_chars").alias("_sz"), h.alias("_h"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_sz").alias("total_size"),
            F.min("_h").alias("min_hash"),
            F.max("_h").alias("max_hash"),
        )
    )


def incremental_new_docs(
    incoming: DataFrame,
    reference: DataFrame,
) -> DataFrame:
    """Incremental-ingest exact dedup: keep only incoming documents
    whose content digest does NOT already exist in the reference
    corpus — the daily-crawl-vs-existing-corpus step that runs before
    any expensive near-dup pass.

    A digest anti-join: both sides reduce to 16-byte md5 digests
    before the shuffle (text never crosses the wire), the reference
    side is pre-distincted so the join input is its digest SET, and
    Catalyst/AQE pick broadcast vs shuffled-hash by the (small) digest
    relation's size. Returns ``(doc_id, digest)`` for surviving docs."""
    inc = incoming.select(
        F.col("doc_id"), F.md5(F.col("text")).alias("digest")
    )
    ref = reference.select(F.md5(F.col("text")).alias("digest")).distinct()
    return inc.join(ref, "digest", "left_anti").select("doc_id", "digest")


def dsir_importance(
    docs: DataFrame,
    target_pred: Column,
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023, arXiv:2302.03169): score every
    non-target document by how target-like its hashed-unigram
    distribution is, log w(doc) = Σ_b c_b(doc)·(ln p̂_t(b) − ln p̂_r(b))
    with add-1-smoothed bucket models fitted on the target slice
    (``target_pred`` true) and the raw remainder. Resampling the raw
    pool ∝ exp(log_w) tilts a 100 TB crawl toward a curated target
    domain without training a classifier.

    Scale shape: ONE words explode feeds (a) the two bucket models —
    a single groupBy on the bucket key with conditional sums, emitting
    exactly 1024 rows — and (b) per-doc bucket counts (one
    groupBy on (doc, bucket)). The model relation is buckets-sized,
    so it broadcast-joins onto the per-doc counts; the final score is
    a map-side-combined groupBy on the doc key. Nothing here scales
    with corpus size except the two count shuffles.

    Returns (doc_id, n_tokens, log_w) for raw documents, 6dp.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.lower(F.col("_w"))), 1, 8), 16, 10)
        .cast("long") % 1024
    )
    words = docs.select(
        F.col("doc_id"),
        target_pred.alias("_t"),
        F.explode(F.split(F.col("text"), r"\s+")).alias("_w"),
    ).select("doc_id", "_t", bucket.alias("_b"))
    model = words.groupBy("_b").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("_ct"),
        F.sum(F.when(~F.col("_t"), 1).otherwise(0)).alias("_cr"),
    )
    totals = model.agg(
        F.sum("_ct").alias("_Tt"), F.sum("_cr").alias("_Tr")
    )
    llr = model.crossJoin(F.broadcast(totals)).select(
        "_b",
        (
            F.log((F.col("_ct") + 1.0) / (F.col("_Tt") + 1024.0))
            - F.log((F.col("_cr") + 1.0) / (F.col("_Tr") + 1024.0))
        ).alias("_llr"),
    )
    doc_counts = (
        words.filter(~F.col("_t"))
        .groupBy("doc_id", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        doc_counts.join(F.broadcast(llr), "_b")
        .groupBy("doc_id")
        .agg(
            F.sum("_c").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("_c") * F.col("_llr")), 6).alias("log_w"),
        )
    )


def mixture_weights(
    docs: DataFrame,
    temperature: float = 2.0,
) -> DataFrame:
    """Temperature-scaled sampling weights per stratum (the
    mT5/multilingual mixing rule): p_i ∝ (n_i/N)^(1/τ). τ=1 keeps the
    natural distribution, τ→∞ approaches uniform — the knob that stops
    a dominant source from drowning the tail without discarding it.

    Returns (source, n, nat_share, expected_share, upweight) — feed
    ``upweight`` into a Bernoulli/quota sampler per stratum. One tiny
    keyed groupBy; the power/normalize arithmetic runs on the
    |strata|-row relation."""
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("_tot"))
    shares = counts.crossJoin(F.broadcast(total)).select(
        "source",
        "n",
        (F.col("n") / F.col("_tot")).alias("nat_share"),
        F.pow(F.col("n") / F.col("_tot"), 1.0 / temperature).alias("_w"),
    )
    wtot = shares.agg(F.sum("_w").alias("_wtot"))
    return shares.crossJoin(F.broadcast(wtot)).select(
        "source",
        "n",
        F.round("nat_share", 6).alias("nat_share"),
        F.round(F.col("_w") / F.col("_wtot"), 6).alias("expected_share"),
        F.round((F.col("_w") / F.col("_wtot")) / F.col("nat_share"), 6).alias(
            "upweight"
        ),
    )


def negative_sample_interactions(
    events: DataFrame,
    neg_pct: int = 30,
) -> DataFrame:
    """Deterministic negative sampling for interaction modeling: the
    positives are the observed distinct (subject, type) pairs; the
    negative candidates are the subject × type grid minus the
    positives, thinned to ``neg_pct``% by the engine's portable md5
    hash. Emits (subject, type, label) with label 1/0.

    Scale shape: the grid is subjects × |types| where the type
    dimension is a BROADCAST distinct relation (vocabulary-sized —
    never subjects × subjects); the positives subtraction is one
    anti-join on the pair key; the thinning is a pure expression. On a
    10⁹-subject corpus the output is O(subjects · |types| · pct) with
    exactly two shuffles (the two distincts)."""
    pos = events.select("user_id", "event_type").distinct()
    types = events.select("event_type").distinct()
    grid = pos.select("user_id").distinct().crossJoin(F.broadcast(types))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("user_id").cast("string"),
                        F.col("event_type"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    negs = (
        grid.join(pos, ["user_id", "event_type"], "left_anti")
        .filter(u < neg_pct)
        .select("user_id", "event_type", F.lit(0).alias("label"))
    )
    return pos.select("user_id", "event_type", F.lit(1).alias("label")).unionAll(
        negs
    )


GOPHER_STOPWORDS = ("the", "a", "and", "of", "to", "in")


def gopher_quality_flags(docs: DataFrame) -> DataFrame:
    """Gopher/C4-style document quality rules (Rae et al. 2021 §A1.1,
    Raffel et al. 2020 §2.2 — published heuristics, re-expressed as
    pure Spark expressions), aggregated to per-language rule-violation
    counts plus the surviving-document count.

    Every rule threshold is compared in INTEGER form (chars ≥ 3·words
    instead of mean ≥ 3.0, 5·alpha ≥ 4·words instead of ratio ≥ 0.8),
    so rule outcomes are engine-exact — no float ratio ever crosses an
    engine boundary. One scan, zero shuffle before the final |langs|
    groupBy; at 100 TB this is a mapper-only pass.

    Rules: word count in [50, 100000]; mean word length in
    [3, 10]; ≥80% of words contain an alphabetic character; at least 2
    distinct canonical stopwords; symbol-to-word ratio (#, …) ≤ 0.1;
    no 'lorem ipsum' / '{' boilerplate."""
    text = F.col("text")
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    n = F.size(words)
    chars = F.length(F.regexp_replace(text, r"\s+", ""))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    # 3 × the ellipsis count, kept integral so the symbol rule below
    # compares integers only (3·#hash + 3·ell vs 0.3·words → ×10/×3)
    n_ell3 = F.length(text) - F.length(
        F.regexp_replace(text, r"\.\.\.", "")
    )
    low = F.lower(text)

    flags = docs.select(
        F.col("lang").alias("lang"),
        ((n < 50) | (n > 100_000)).cast("int").alias("bad_word_count"),
        (~((chars >= 3 * n) & (chars <= 10 * n))).cast("int").alias(
            "bad_mean_word_len"
        ),
        (5 * alpha_words < 4 * n).cast("int").alias("low_alpha_ratio"),
        (stop_hits < 2).cast("int").alias("too_few_stopwords"),
        ((3 * n_hash + n_ell3) * 10 > 3 * n).cast("int").alias(
            "symbol_heavy"
        ),
        (
            low.contains("lorem ipsum") | low.contains("{")
        ).cast("int").alias("boilerplate"),
    )
    rule_cols = [
        "bad_word_count",
        "bad_mean_word_len",
        "low_alpha_ratio",
        "too_few_stopwords",
        "symbol_heavy",
        "boilerplate",
    ]
    kept = (
        sum(F.col(c) for c in rule_cols) == 0  # type: ignore[arg-type]
    ).cast("int")
    return flags.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(c).cast("long").alias("n_" + c) for c in rule_cols],
        F.sum(kept).cast("long").alias("n_kept"),
    )
