"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language ID, fingerprinting.

These are engine extensions beyond the reference surface (driver north
star): all hot paths are built-in Column expressions (codegen'd,
shuffle-free per-row transforms); nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

#: BPE-ish pre-tokenizer: word pieces, numbers, punctuation runs —
#: the GPT-2 style contraction/word/number/punct split, simplified to
#: what a regex engine shared by Spark and common tooling supports.
BPE_ISH_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"

#: tiny per-language function-word profiles for the n-gram/stopword
#: language-ID heuristic. Real deployments plug a fastText-style model
#: in via mapInPandas; the heuristic keeps the plumbing testable.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "les", "des", "en"),
    "de": ("der", "die", "und", "das", "von", "ein", "zu", "mit"),
}

DEFAULT_STOPWORDS = LANG_PROFILES["en"]


def whitespace_tokens(text: Column) -> Column:
    """Whitespace tokenization (array<string>)."""
    return F.split(text, r"\s+")


def token_count(text: Column, mode: str = "whitespace") -> Column:
    """Token counting: ``whitespace`` or ``bpe`` (regex pre-tokenizer)."""
    if mode == "whitespace":
        return F.size(whitespace_tokens(text))
    if mode == "bpe":
        return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_REGEX), F.lit(0)))
    raise ValueError(f"unknown mode {mode!r}")


def words_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Normalize to a long (doc_id, pos, word) relation — the substrate
    for shingling, stopword joins, and language ID. One narrow explode,
    no shuffle."""
    return docs.select(
        F.col(id_col),
        F.posexplode(whitespace_tokens(F.col(text_col))).alias("pos", "word"),
    )


def quality_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
) -> DataFrame:
    """Per-document quality features: char/word counts, mean word
    length, punctuation ratio, alpha ratio, stopword ratio.

    All pure expressions over one scan; the stopword ratio uses an
    array intersection against a literal array (no join, no UDF).
    """
    text = F.col(text_col)
    words = whitespace_tokens(text)
    n_chars = F.length(text)
    n_words = F.size(words)
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    sw = F.array(*[F.lit(w) for w in stopwords])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(sw, F.lower(w))))
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        (n_chars.cast("double") / n_words).alias("mean_word_len"),
        (n_punct.cast("double") / n_chars).alias("punct_ratio"),
        (n_alpha.cast("double") / n_chars).alias("alpha_ratio"),
        (n_stop.cast("double") / n_words).alias("stopword_ratio"),
    )


DEFAULT_QUALITY_LOGIT = {
    "bias": -2.0,
    "mean_word_len": 0.35,
    "punct_ratio": -4.0,
    "alpha_ratio": 2.5,
    "stopword_ratio": 6.0,
}


def quality_logit_score(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """FastText-classifier-style quality scoring as a pure expression:
    a fixed-weight logistic over the §2.8b quality features (the
    CCNet/LLaMA-pipeline "probability the page is reference-like"
    gate, with the learned weights supplied as a dict rather than a
    model file). score = σ(b + Σ wᵢ·xᵢ); ``keep`` = score ≥ 0.5.

    Because the features and the dot product are all expressions over
    one scan, the filter costs a projection — no UDF, no model
    broadcast, no shuffle. Swap in real trained weights without
    touching the plan."""
    w = dict(DEFAULT_QUALITY_LOGIT)
    if weights:
        w.update(weights)
    feats = quality_features(docs, id_col=id_col, text_col=text_col)
    z = F.lit(float(w["bias"]))
    for name in ("mean_word_len", "punct_ratio", "alpha_ratio", "stopword_ratio"):
        z = z + F.lit(float(w[name])) * F.col(name)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        id_col,
        F.round(score, 6).alias("q_score"),
        (score >= 0.5).alias("keep"),
    )


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition signals (the RefinedWeb/Gopher-style
    repetitious-text filters): distinct-word ratio, most-frequent-word
    share, and duplicate-bigram ratio.

    Everything is a pure expression over one scan — zero shuffle, no
    per-doc Python. The mode count (top word share) deliberately avoids
    both a words-table groupBy (a shuffle whose key cardinality is
    n_docs × vocab) and the quadratic count-per-distinct-word form: the
    word array is sorted once and the longest equal-run is found with a
    single ``aggregate`` fold over struct state — O(n log n) per doc,
    so a 10k-word document costs ~10⁵ comparisons, not 10⁸.
    """
    text = F.col(text_col)
    words = whitespace_tokens(text)
    n = F.size(words)
    n_distinct = F.size(F.array_distinct(words))

    sorted_w = F.array_sort(words)
    run_state = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    def _step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )
    top_count = F.aggregate(sorted_w, run_state, _step, lambda acc: acc["best"])

    bigrams = F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    n_bi = F.size(bigrams)
    n_bi_distinct = F.size(F.array_distinct(bigrams))

    return docs.select(
        F.col(id_col),
        n.alias("n_words"),
        F.when(n > 0, F.round(n_distinct.cast("double") / n, 6)).alias(
            "distinct_word_ratio"
        ),
        F.when(n > 0, F.round(top_count.cast("double") / n, 6)).alias(
            "top_word_share"
        ),
        F.when(n_bi > 0, F.round(1.0 - n_bi_distinct.cast("double") / n_bi, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_ratio"),
    )


def quality_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Composite [0,1] quality score from :func:`quality_features` —
    heuristic weights in the C4/Gopher-rule style (length, alpha
    density, stopword presence, punctuation sanity)."""
    f = quality_features(docs, id_col, text_col)
    length_ok = F.when((F.col("n_words") >= 10) & (F.col("n_words") <= 100000), 1.0).otherwise(0.0)
    alpha = F.least(F.col("alpha_ratio") / F.lit(0.7), F.lit(1.0))
    stop = F.least(F.col("stopword_ratio") / F.lit(0.05), F.lit(1.0))
    punct_ok = F.when(F.col("punct_ratio") <= 0.2, 1.0).otherwise(0.2)
    return f.select(
        id_col,
        F.round(
            0.25 * length_ok + 0.35 * alpha + 0.25 * stop + 0.15 * punct_ok, 6
        ).alias("quality"),
    )


def language_id(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    profiles: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Heuristic language ID: score = fraction of words hitting each
    language's function-word profile; argmax wins (ties → language name
    asc, 'und' when no profile hits).

    Structure matches a real n-gram LID: per-language profile scoring +
    argmax, as pure expressions. Swap profiles for char-n-gram tables
    without changing the plan shape.
    """
    profiles = profiles or LANG_PROFILES
    words = whitespace_tokens(F.lower(F.col(text_col)))
    scores = []
    for lang, p in sorted(profiles.items()):
        prof = F.array(*[F.lit(x) for x in p])
        hits = F.size(F.filter(words, lambda w: F.array_contains(prof, w)))
        scores.append(
            F.struct(
                (hits.cast("double") / F.size(words)).alias("score"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    return docs.select(
        F.col(id_col),
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
        F.round(best["score"], 6).alias("lang_score"),
    )


def fingerprint(
    docs: DataFrame, k: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document fingerprint: min-hash over the char-k-gram set (md5
    lexicographic min — engine-portable, oracle-checkable). A winnowing
    variant keeps per-window minima instead of the global min; the
    global min-hash is the degenerate single-fingerprint case.

    Pure per-row array expression (transform + array_min): no explode,
    no shuffle — scales as a narrow map over the corpus."""
    text = F.col(text_col)
    fp = F.array_min(
        F.transform(
            F.sequence(F.lit(1), F.length(text) - F.lit(k - 1)),
            lambda i: F.md5(F.substring(text, i, k)),
        )
    )
    return docs.filter(F.length(text) >= k).select(F.col(id_col), fp.alias("fingerprint"))


def hashing_tf(
    docs: DataFrame,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing (hashing-trick) vectorizer in long form: each
    token hashes to one of ``n_buckets`` and the bucket counts are the
    document's sparse feature vector — vocabulary-free featurization
    (no fit pass, no vocab broadcast), the standard trick when the
    term space is unbounded.

    The bucket hash is md5-derived (first 8 hex chars as an int, mod
    n_buckets) so the mapping is engine-portable and stable across
    runs — xxhash64 would be faster but is not replayable in the
    oracle; swap it in where cross-engine replay is not needed. Long
    (doc, bucket, tf) output keeps the row a fixed width regardless of
    n_buckets. One keyed shuffle (the count groupBy)."""
    words = words_table(docs, id_col, text_col)
    bucket = (
        F.conv(F.substring(F.md5(F.lower(F.col("word"))), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    return (
        words.select(F.col(id_col), bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF (smooth idf:
    ln((N+1)/(df+1)) + 1, the sklearn convention), ties broken
    lexicographically so the ranking is total.

    Shuffles: term-count groupBy (map-side combined), the df groupBy
    over the distinct (doc, term) relation, and the per-doc ranking
    window — all keyed, none global. N rides in as a broadcast
    one-row aggregate, never a driver round-trip."""
    words = words_table(docs, id_col, text_col).select(
        F.col(id_col), F.lower(F.col("word")).alias("term")
    )
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            (
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", F.round("tfidf", 6).alias("tfidf"), "rk")
    )


def unigram_lm(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Fit a corpus unigram language model: ``(word, tf, logp)`` with
    MLE log-probabilities ``ln(tf / N)``.

    The SQL-expressible stand-in for the KenLM perplexity filter in
    CCNet-style quality pipelines: one token-keyed groupBy (map-side
    combined), with the corpus total riding in as a broadcast one-row
    aggregate — no driver round-trip, no second scan of the token
    relation (Catalyst reuses the exchange under AQE)."""
    words = words_table(docs, id_col, text_col).filter(F.col("word") != "")
    tf = words.groupBy("word").agg(F.count(F.lit(1)).alias("tf"))
    total = tf.agg(F.sum("tf").alias("n_total"))
    return tf.crossJoin(F.broadcast(total)).select(
        "word", "tf", F.log(F.col("tf") / F.col("n_total")).alias("logp")
    )


def unigram_logprob_score(
    docs: DataFrame,
    lm: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean negative log-likelihood under a unigram LM
    (pseudo-perplexity = exp(nll)): the classic LM-based quality score
    — documents of improbable tokens score high and get filtered.

    ``lm`` defaults to a model fitted on ``docs`` itself (so every
    token is in-vocabulary); pass a model fitted elsewhere to score a
    new corpus against a reference distribution (unseen words are
    dropped from the average, the SQL-friendly OOV convention).

    Shuffles: the LM fit groupBy and the score join are both keyed by
    ``word``; the per-doc average is keyed by ``id_col``. The LM is
    vocabulary-sized — bounded by distinct tokens, not corpus rows —
    so at 100 TB the word-keyed join stays a shuffle join on a relation
    that partial-aggregation already collapsed; AQE broadcasts it when
    the vocabulary is small enough."""
    if lm is None:
        lm = unigram_lm(docs, id_col, text_col)
    words = words_table(docs, id_col, text_col).filter(F.col("word") != "")
    return (
        words.join(lm.select("word", "logp"), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(-F.avg("logp"), 6).alias("nll"),
        )
    )


def bpe_pair_counts(
    docs: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One round of distributed BPE-trainer statistics: the ``k`` most
    frequent ADJACENT symbol pairs over the corpus, weighted by word
    frequency — the argmax the byte-pair-encoding fit loop merges next.
    Symbols here are characters (round 0 of the merge loop); iterating
    merge→recount is the full trainer, and every round is this same
    shape.

    Scale shape: corpus → (word, n) counts FIRST (one shuffle that
    collapses 100 TB of text to a vocabulary-sized relation), then
    pairs explode off distinct words only — pair counting never
    touches the raw corpus again. Ties rank lexicographically so the
    merge choice is deterministic."""
    words = (
        words_table(docs, id_col, text_col)
        .filter(F.col("word") != "")
        .select(F.lower(F.col("word")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    idx = F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i")
    pairs = (
        words.filter(F.length("word") >= 2)
        .select("word", "n", idx)
        .select(
            F.col("word").substr(F.col("i"), F.lit(1)).alias("a"),
            F.col("word").substr(F.col("i") + 1, F.lit(1)).alias("b"),
            "n",
        )
    )
    counts = pairs.groupBy("a", "b").agg(F.sum("n").alias("pair_count"))
    w = W.orderBy(F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("a", "b", "pair_count", "rk")
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_len: int = 32,
) -> DataFrame:
    """Winnowing (MOSS) fingerprints: the distinct set of per-window
    minimum char-k-gram hashes, one window per position sliding over
    the k-gram hash sequence with width ``w``. The guarantee that makes
    it the plagiarism/near-copy detector: any shared substring of
    length ≥ w+k−1 contributes at least one SHARED fingerprint, while
    storage stays ~2/(w+1) of the gram count — between the global
    min-hash (one fingerprint, misses local overlap) and full shingle
    sets (everything, too big to index).

    Shape: explode the k-gram hash sequence once (each md5 computed
    exactly once) and take the per-window minimum with a doc-keyed
    sliding ROWS frame — one shuffle on the doc key, O(n) hash work
    per document. The tempting pure-expression form
    (``transform`` of ``array_min(slice(grams, i, w))``) re-evaluates
    the captured gram array per window position — O(n²) md5 calls per
    doc, measured ~40× slower on 250-char docs; same lesson as
    word_shingles.

    ``hash_len`` < 32 keeps only that md5 hex prefix as the gram hash:
    the exploded relation, the window min, the distinct, and every
    downstream index shuffle carry hash_len-byte strings instead of
    32 — measured 2× end-to-end at hash_len=8 on sf0.1 (6.5→3.3s,
    9.3→4.3s across two interleaved runs). A winnowing index only
    needs collision odds small vs the fingerprint count (32 bits is
    the classic MOSS width); min-over-prefixes is deterministic, so
    any engine reproducing ``substr(md5(gram),1,8)`` agrees exactly.
    """
    text = F.col(text_col)
    n_grams = F.length(text) - F.lit(k - 1)
    gram_hash = (
        (lambda i: F.md5(F.substring(text, i, k)))
        if hash_len >= 32
        else (lambda i: F.substring(F.md5(F.substring(text, i, k)), 1, hash_len))
    )
    grams = F.transform(F.sequence(F.lit(1), n_grams), gram_hash)
    long = docs.filter(F.length(text) >= k + w - 1).select(
        F.col(id_col),
        n_grams.alias("_n"),
        F.posexplode(grams).alias("pos", "h"),
    )
    win = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    return (
        long.select(
            F.col(id_col),
            F.min("h").over(win).alias("fingerprint"),
            "pos",
            "_n",
        )
        .filter(F.col("pos") <= F.col("_n") - w)  # full windows only
        .select(id_col, "fingerprint")
        .distinct()
    )


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The iterative BPE trainer: learn ``n_merges`` merge rules over
    the corpus — each round counts adjacent symbol pairs (weighted by
    word frequency), merges the most frequent pair everywhere, and
    recounts. Returns the merge table (step, a, b, merged, pair_count)
    — the artifact a BPE tokenizer ships.

    Scale shape: the corpus collapses ONCE to a (word, n) vocabulary
    relation (the only corpus-sized shuffle); every round then works
    on vocabulary-sized data — pair explode, argmax, merge-apply are
    all bounded by |vocab|·word_len, independent of corpus size. The
    driver coordinates the loop (one tiny limit-1 collect per round,
    like the VIOD fit and connected components); the merge itself is
    a pure string expression applied distributively.

    Merge application uses the double-space trick so consecutive
    occurrences all merge in one pass (" a b a b " single-space
    replace would skip every other pair): boundaries carry two
    spaces, each match consumes one from each side. Greedy
    left-to-right non-overlapping replace — the standard BPE
    convention, identical in Spark and the oracle's engine."""
    words = (
        words_table(docs, id_col, text_col)
        .filter(F.col("word") != "")
        .select(F.lower(F.col("word")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # symbol string: chars separated by single spaces (split("") can
    # emit empty edge symbols — drop them)
    sym = F.array_join(
        F.filter(F.split(F.col("word"), ""), lambda x: x != ""), " "
    )
    vocab = words.select(sym.alias("sym"), "n").localCheckpoint()

    spark = docs.sparkSession
    merges = []
    for step in range(1, n_merges + 1):
        syms = F.split(F.col("sym"), " ")
        idx = F.explode(F.sequence(F.lit(1), F.size(syms) - 1)).alias("i")
        pairs = (
            vocab.filter(F.size(syms) >= 2)
            .select(syms.alias("s"), "n", idx)
            .select(
                F.get(F.col("s"), F.col("i") - 1).alias("a"),
                F.get(F.col("s"), F.col("i")).alias("b"),
                "n",
            )
        )
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("n").alias("c"))
            .orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((step, a, b, a + b, c))
        padded = F.concat(
            F.lit(" "), F.regexp_replace(F.col("sym"), " ", "  "), F.lit(" ")
        )
        # padded string carries DOUBLE spaces at symbol boundaries; the
        # pattern consumes one space from each side so consecutive
        # occurrences still match (' a  b  a  b ' -> ' ab  ab ')
        replaced = F.expr(
            "replace(_padded, ' {}  {} ', ' {} ')".format(
                a.replace("'", "\\'"), b.replace("'", "\\'"),
                (a + b).replace("'", "\\'"),
            )
        )
        vocab = (
            vocab.withColumn("_padded", padded)
            .withColumn("_r", replaced)
            .select(
                F.trim(F.regexp_replace(F.col("_r"), "  ", " ")).alias("sym"), "n"
            )
            .localCheckpoint()
        )
    return spark.createDataFrame(
        merges, "step int, a string, b string, merged string, pair_count bigint"
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 keyword retrieval: score every document against a bag of
    query terms and return the top-``k`` as (doc_id, score, rk).
    Okapi/Lucene idf = ln(1 + (N − df + 0.5)/(df + 0.5)); per-term
    score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).

    Scale shape: document lengths come from a pure expression over the
    un-exploded text (no shuffle); the exploded words relation is
    filtered to the query terms IMMEDIATELY after the generator, so
    the tf groupBy shuffles only rows mentioning a query term — at
    100 TB that is the inverted-index posting list for the query, not
    the corpus. df and the (N, avgdl) scalars broadcast; the final
    top-k is orderBy+limit (TakeOrderedAndProject, no global sort).
    Ranking is totalized by the (score desc, doc_id asc) tiebreak.
    """
    qt = sorted({t.lower() for t in query_terms})
    dl = docs.select(
        F.col(id_col), F.size(whitespace_tokens(F.col(text_col))).alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    words = words_table(docs, id_col, text_col).select(
        F.col(id_col), F.lower(F.col("word")).alias("term")
    )
    tf = (
        words.filter(F.col("term").isin(qt))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    # try_divide: an all-empty corpus has avgdl 0 — the length norm
    # degrades to NULL scores, not an ANSI DIVIDE_BY_ZERO
    norm = F.col("tf") + k1 * (
        1.0 - b + b * F.try_divide(F.col("dl"), F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(idf * F.col("tf") * (k1 + 1.0) / norm).alias("_s"))
    )
    top = scored.orderBy(F.col("_s").desc(), F.col(id_col).asc()).limit(k)
    w = W.orderBy(F.col("_s").desc(), F.col(id_col).asc())
    return top.select(
        id_col,
        F.round("_s", 6).alias("score"),
        F.row_number().over(w).alias("rk"),
    )


def token_js_divergence(
    docs: DataFrame,
    side_a: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence (natural log) between the unigram
    token distributions of two corpus slices — the standard
    domain-shift / contamination-drift diagnostic for training
    mixtures. ``side_a`` is a boolean Column splitting the corpus;
    returns ONE row (jsd, n_terms, n_tokens_a, n_tokens_b).

    JSD = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2; zero-probability terms
    contribute only their observed side (0·ln 0 := 0). One shuffle:
    the per-term groupBy with conditional counts; totals broadcast
    back as a one-row aggregate; the final sum is a scalar agg.
    """
    words = docs.select(
        side_a.alias("_a"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
    )
    per_term = words.groupBy("term").agg(
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("_a"), 0).otherwise(1)).alias("cb"),
    )
    totals = per_term.agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    p = F.col("ca") / F.col("ta")
    q = F.col("cb") / F.col("tb")
    m = (p + q) / 2.0
    contrib = 0.5 * (
        F.when(p > 0, p * F.log(p / m)).otherwise(0.0)
        + F.when(q > 0, q * F.log(q / m)).otherwise(0.0)
    )
    return (
        per_term.crossJoin(F.broadcast(totals))
        .agg(
            F.round(F.sum(contrib), 6).alias("jsd"),
            F.count(F.lit(1)).alias("n_terms"),
            F.first("ta").alias("n_tokens_a"),
            F.first("tb").alias("n_tokens_b"),
        )
    )


def bigram_pmi(
    docs: DataFrame,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    word pairs, PMI = ln(p(ab)/(p(a)·p(b))) with p(ab) over the bigram
    total and the marginals over the unigram total — the standard
    phrase detector (Mikolov-style word2phrase scoring) for building
    tokenizer merge candidates and stop-phrase lists. Returns every
    bigram with count ≥ ``min_count``: (w1, w2, n_ab, pmi) — a
    threshold, not a top-k, so output membership is not sensitive to
    float rank boundaries.

    One words explode feeds both the unigram counts and (via a
    per-doc lead window) the bigram counts; only the one-row marginal
    totals are force-broadcast. The unigram relation is unbounded on a
    large corpus, so its two joins carry no broadcast hint — AQE picks
    broadcast when the measured size allows and sort-merge otherwise.
    """
    words = words_table(docs, id_col, text_col).select(
        F.col(id_col), "pos", F.lower(F.col("word")).alias("w")
    )
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    t_uni = uni.agg(F.sum("c").cast("double").alias("tu"))
    win = W.partitionBy(id_col).orderBy("pos")
    bi_all = (
        words.select("w", F.lead("w").over(win).alias("w2"))
        .filter(F.col("w2").isNotNull())
        .groupBy(F.col("w").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    t_bi = bi_all.agg(F.sum("n_ab").cast("double").alias("tb"))
    bi = bi_all.filter(F.col("n_ab") >= min_count)
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(t_uni))
        .crossJoin(F.broadcast(t_bi))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") / F.col("tb"))
                    / ((F.col("c1") / F.col("tu")) * (F.col("c2") / F.col("tu")))
                ),
                6,
            ).alias("pmi"),
        )
    )


def bpe_encode_words(
    docs: DataFrame,
    n_merges: int = 6,
    top_words: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge table to the corpus vocabulary — the
    ENCODE half of the tokenizer (``bpe_learn_merges`` is the train
    half): every distinct word is segmented by replaying the merges in
    rank order, and the ``top_words`` most frequent words come back as
    (rk, word, n, tokens, n_tokens).

    Scale shape: encoding happens on the DISTINCT-word relation (the
    corpus collapses once; everything after is vocabulary-sized), and
    the whole merge replay is ONE nested pure-string expression — no
    per-merge shuffle, no UDF. The merge rules are a driver-side list
    (n_merges rows, the same bounded collect the trainer already does),
    folded into the plan as literals. Each merge uses the double-space
    boundary trick from the trainer: pad symbol boundaries to two
    spaces so one greedy left-to-right replace merges consecutive
    occurrences correctly (' a  a  a  a ' -> ' aa  aa '), exactly the
    convention a real BPE tokenizer implements and the oracle's
    replace() reproduces verbatim."""
    rules = [
        (r["a"], r["b"], r["merged"])
        for r in bpe_learn_merges(
            docs, n_merges=n_merges, id_col=id_col, text_col=text_col
        )
        .orderBy("step")
        .collect()
    ]
    words = (
        words_table(docs, id_col, text_col)
        .filter(F.col("word") != "")
        .select(F.lower(F.col("word")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sym = F.array_join(
        F.filter(F.split(F.col("word"), ""), lambda x: x != ""), " "
    )
    for a, b, merged in rules:
        padded = F.concat(
            F.lit(" "), F.regexp_replace(sym, " ", "  "), F.lit(" ")
        )
        replaced = F.replace(
            padded, F.lit(f" {a}  {b} "), F.lit(f" {merged} ")
        )
        sym = F.trim(F.regexp_replace(replaced, "  ", " "))
    # TakeOrdered (orderBy+limit) selects the head distributively —
    # per-partition top-N then a driver-side merge of N-row slices —
    # so the global rank window only ever sees top_words rows.
    top = (
        words.select("word", "n", sym.alias("tokens"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(top_words)
    )
    return top.select(
        F.row_number()
        .over(W.partitionBy().orderBy(F.col("n").desc(), F.col("word").asc()))
        .alias("rk"),
        "word",
        "n",
        "tokens",
        F.size(F.split(F.col("tokens"), " ")).alias("n_tokens"),
    )


def skipgram_pairs(
    docs: DataFrame,
    window: int = 2,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Word2vec-style training-pair extraction: symmetric (center,
    context) co-occurrence counts within ±``window`` token positions,
    thresholded at ``min_count`` — the relation a skip-gram trainer (or
    a PMI embedder) consumes.

    Plan shape: the token relation explodes once; the ±d matches come
    from ONE equi-join on (doc, pos+d) after a bounded ``window``-way
    distance fan-out (never a range join, whose O(len·window) per-doc
    scan Catalyst can't hash-partition), and both directions of each
    match derive from the single join output — so the whole operator
    is one explode, one join, one groupBy regardless of window size."""
    toks = (
        words_table(docs, id_col, text_col)
        .filter(F.col("word") != "")
        .select(id_col, "pos", F.lower(F.col("word")).alias("w"))
    )
    d = F.explode(
        F.array(*[F.lit(i) for i in range(1, window + 1)])
    ).alias("d")
    left = toks.select(id_col, "pos", F.col("w").alias("w1"), d).select(
        id_col, (F.col("pos") + F.col("d")).alias("_tgt"), "w1"
    )
    right = toks.select(
        id_col, F.col("pos").alias("_tgt"), F.col("w").alias("w2")
    )
    m = left.join(right, [id_col, "_tgt"])
    pairs = m.select(
        F.col("w1").alias("center"), F.col("w2").alias("context")
    ).unionAll(
        m.select(F.col("w2").alias("center"), F.col("w1").alias("context"))
    )
    return (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


def zipf_fit(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Zipf's-law fit over the corpus frequency spectrum: OLS of
    ln(freq) on ln(rank) for the ``top_n`` most frequent tokens —
    slope ≈ −1 for natural language, and the deviation is a cheap
    corpus-health fingerprint (template/boilerplate-heavy corpora
    flatten the head, spam steepens it). Returns ONE row
    (slope, intercept, r2, n_ranks, n_tokens_total).

    One shuffle (the token groupBy); the head extracts via
    ``orderBy().limit(top_n)`` — TakeOrderedAndProject, a bounded
    per-partition heap + driverless merge, never a global sort of the
    vocabulary — and ranks assign on the ``top_n``-row result where a
    single-partition window costs nothing. The closed-form OLS is a
    scalar aggregate over those rows. Ties rank deterministically
    (freq desc, token asc)."""
    from pyspark.sql import Window as W

    toks = docs.select(
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    head = counts.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(top_n)
    w = W.orderBy(F.col("n").desc(), F.col("tok").asc())
    top = head.withColumn("rank", F.row_number().over(w))
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("n").cast("double"))
    pts = top.select(lx.alias("_x"), ly.alias("_y"), F.col("n"))
    return pts.groupBy().agg(
        F.round(
            F.covar_samp("_x", "_y") / F.var_samp("_x"), 6
        ).alias("slope"),
        F.round(
            F.avg("_y")
            - (F.covar_samp("_x", "_y") / F.var_samp("_x")) * F.avg("_x"),
            6,
        ).alias("intercept"),
        F.round(F.corr("_x", "_y") ** 2, 6).alias("r2"),
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
        F.sum("n").cast("long").alias("n_tokens_total"),
    )


def ngram_novelty(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty against everything that came before
    it (by ascending ``doc_id_col`` — ingestion order): the fraction
    of a doc's DISTINCT word n-grams whose FIRST appearance in the
    corpus is this doc. The curation signal between exact dedup and
    similarity dedup — boilerplate-heavy near-copies score near 0
    without any pairwise comparison.

    Shape: one shingle explode (posexplode + slide, O(len) per doc),
    dedup to (doc, shingle), then the global first-owner per shingle
    is a min aggregate — the novelty join is shingle-keyed equi, so
    the whole operator is two map-side-combined groupBys and one
    equi-join, never any doc×doc pairing. Returns (doc_id,
    n_shingles, n_novel, novelty)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: t != ""
    )
    ds = docs.select(
        F.col(doc_id_col).alias("_doc"), toks.alias("_t")
    ).filter(F.size("_t") >= n)
    sh = ds.select(
        "_doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - n),
                lambda i: F.concat_ws(
                    " ", *[F.get(F.col("_t"), i + k) for k in range(n)]
                ),
            )
        ).alias("_sh"),
    ).distinct()
    first = sh.groupBy("_sh").agg(F.min("_doc").alias("_first"))
    return (
        sh.join(first, "_sh")
        .groupBy(F.col("_doc").alias(doc_id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("_first") == F.col("_doc"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6),
        )
    )


def rake_keyphrases(
    docs: DataFrame,
    top_k: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free word runs; each word scores
    degree/frequency where degree sums the lengths of every phrase
    containing it; a phrase scores the sum of its word scores. Returns
    the corpus top-``top_k`` phrases by (rounded score desc, phrase) —
    the unsupervised keyword extractor that needs no model artifact.

    Distributed shape: phrase segmentation is a per-doc window cumsum
    of the stopword flag (subject-keyed, bounded); word stats and
    phrase grouping are map-side-combined groupBys; the only ordered
    window is the final top-k over the |distinct phrases| relation
    (vocabulary-sized, the O2 rationale). The tie order is pinned on
    the ROUNDED score so engines with ulp-different word-score sums
    agree on rank."""
    words = words_table(docs, id_col, text_col).select(
        F.col(id_col), "pos", F.lower(F.col("word")).alias("word")
    ).filter(F.col("word") != "")
    is_stop = F.col("word").isin(*stopwords)
    w = W.partitionBy(id_col).orderBy("pos")
    seg = words.select(
        F.col(id_col),
        "pos",
        "word",
        is_stop.alias("_stop"),
        F.sum(is_stop.cast("int"))
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("_ph"),
    ).filter(~F.col("_stop"))
    occ = seg.groupBy(id_col, "_ph").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("word")))
                ),
                lambda s: s["word"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("_len"),
        F.collect_list("word").alias("_words"),
        # phrase-occurrence-sized, referenced by BOTH the word-stat and
        # phrase-score branches — without the checkpoint each branch
        # re-expanded the explode+window segmentation over the corpus
        # (round-12 paired A/B: 6/6 wins, values identical)
    ).localCheckpoint()
    wstat = (
        occ.select(F.explode("_words").alias("word"), "_len")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("double").alias("_freq"),
            F.sum("_len").cast("double").alias("_deg"),
        )
        .select("word", (F.col("_deg") / F.col("_freq")).alias("_wscore"))
    )
    occ_scored = (
        occ.select(F.col(id_col), "_ph", "phrase", F.explode("_words").alias("word"))
        .join(wstat, "word")
        .groupBy(id_col, "_ph", "phrase")
        .agg(F.sum("_wscore").alias("_score"))
    )
    phrases = occ_scored.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.round(F.min("_score"), 6).alias("score"),
    )
    wtop = W.orderBy(F.col("score").desc(), F.col("phrase"))
    return (
        phrases.withColumn("rank", F.row_number().over(wtop))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("rank").cast("long").alias("rank"),
            "phrase",
            "n_occurrences",
            "score",
        )
    )


def heaps_law_fit(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heaps'-law fit V(N) = k·N^b over the corpus growth curve: order
    documents by id, accumulate token count N_d and vocabulary size
    V_d (a word joins the vocabulary at its FIRST document — min doc
    per word, so the cumulative distinct needs no per-prefix rescan),
    then OLS on (ln N_d, ln V_d). Returns one row (n_docs, slope_b,
    log_k, r2) — the growth diagnostic that predicts vocabulary size
    at 100× the corpus.

    Distributed shape: two map-side-combined groupBys (per-word first
    doc, per-doc token count) fold the corpus; the cumulative windows
    and the OLS sums run over the |docs| relation only."""
    words = words_table(docs, id_col, text_col).select(
        F.col(id_col).alias("_d"), F.lower(F.col("word")).alias("word")
    ).filter(F.col("word") != "")
    toks = words.groupBy("_d").agg(F.count(F.lit(1)).cast("double").alias("_nw"))
    first = words.groupBy("word").agg(F.min("_d").alias("_d"))
    news = first.groupBy("_d").agg(F.count(F.lit(1)).cast("double").alias("_nv"))
    per_doc = toks.join(news, "_d", "left").select(
        "_d", "_nw", F.coalesce("_nv", F.lit(0.0)).alias("_nv")
    )
    w = W.orderBy("_d").rowsBetween(W.unboundedPreceding, 0)
    curve = per_doc.select(
        "_d",
        F.sum("_nw").over(w).alias("_N"),
        F.sum("_nv").over(w).alias("_V"),
    ).filter(F.col("_V") > 0)
    pts = curve.select(
        F.log("_N").alias("_x"), F.log("_V").alias("_y")
    )
    a = pts.groupBy().agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("_n")
    sxx_c = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    syy_c = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    sxy_c = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    slope = F.try_divide(sxy_c, sxx_c)
    intercept = (F.col("_sy") - slope * F.col("_sx")) / n
    r2 = F.try_divide(sxy_c * sxy_c, sxx_c * syy_c)
    return a.select(
        n.cast("long").alias("n_docs"),
        F.round(slope, 6).alias("slope_b"),
        F.round(intercept, 6).alias("log_k"),
        F.round(r2, 6).alias("r2"),
    )


def bigram_lm_nll(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_filter: Column | None = None,
) -> DataFrame:
    """Per-document bigram language-model negative log-likelihood with
    add-1 smoothing: train P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V) on the
    ``train_filter`` slice (V = train unigram vocabulary), score every
    held-out document by mean −ln P over its bigrams, and emit
    (doc_id, n_bigrams, avg_nll, ppl) — the LM-quality filter one step
    up from the unigram NLL in ``doc_unigram_nll`` (it catches
    scrambled word ORDER, which unigrams cannot).

    Distributed shape: bigram assembly is the shingling window (one
    doc-keyed shuffle each side); the model is two vocabulary-sized
    count relations joined back to held-out bigrams (broadcastable);
    unseen history backs off to (0+1)/(0+V) — the smoothing, not a
    special case."""
    from pyspark.sql import Window as W

    words = words_table(docs, id_col, text_col).select(
        F.col(id_col), "pos", F.lower(F.col("word")).alias("word")
    ).filter(F.col("word") != "")
    if train_filter is None:
        train_filter = F.col(id_col) % 2 == 0
    w = W.partitionBy(id_col).orderBy("pos")
    big = words.select(
        F.col(id_col),
        F.col("word").alias("w1"),
        F.lead("word").over(w).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    train_b = big.filter(train_filter)
    train_w = words.filter(train_filter)
    pair_c = train_b.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("_cp")
    )
    uni_c = train_w.groupBy(F.col("word").alias("w1")).agg(
        F.count(F.lit(1)).cast("double").alias("_cu")
    )
    vocab = train_w.agg(
        F.count_distinct("word").cast("double").alias("_V")
    )
    test_b = big.filter(~train_filter)
    scored = (
        test_b.join(F.broadcast(pair_c), ["w1", "w2"], "left")
        .join(F.broadcast(uni_c), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            (
                -F.log(
                    (F.coalesce("_cp", F.lit(0.0)) + 1.0)
                    / (F.coalesce("_cu", F.lit(0.0)) + F.col("_V"))
                )
            ).alias("_nll"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_nll"), 6).alias("avg_nll"),
        F.round(F.exp(F.avg("_nll")), 6).alias("ppl"),
    )


def flesch_reading_ease(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading-ease score per document from three pure-regex
    counts — words (non-empty whitespace tokens), sentences
    (non-overlapping [.!?]+ runs, floored at 1), syllables
    (vowel-group runs [aeiouy]+ in the lowercased text, the standard
    cheap approximation): 206.835 − 1.015·(W/S) − 84.6·(Syl/W).
    Everything stays in whole-stage codegen (regexp_count +
    arithmetic, no UDF); the per-doc score is a deterministic function
    of integer counts, so both engines produce bit-identical doubles.
    Zero-word docs NULL the score via try_divide."""
    txt = F.col(text_col)
    words = F.size(F.filter(F.split(txt, " "), lambda x: x != ""))
    sentences = F.greatest(F.regexp_count(txt, F.lit(r"[.!?]+")), F.lit(1))
    syllables = F.regexp_count(F.lower(txt), F.lit("[aeiouy]+"))
    score = (
        F.lit(206.835)
        - F.lit(1.015)
            * F.try_divide(words.cast("double"), sentences.cast("double"))
        - F.lit(84.6)
            * F.try_divide(syllables.cast("double"), words.cast("double"))
    )
    return docs.select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
        syllables.cast("long").alias("n_syllables"),
        F.when(words > 0, score).alias("flesch_score"),
    )


def flesch_band_histogram(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus readability profile: Flesch scores banded into the
    standard difficulty buckets with per-band counts and mean score —
    the corpus-curation readout ("is this crawl slab mostly
    college-level text?") that gates readability-based quality
    filtering. One scan + one tiny groupBy; band edges compare
    bit-identical per-doc doubles against constants, so banding is
    engine-stable."""
    scored = flesch_reading_ease(docs, text_col, id_col)
    s = F.col("flesch_score")
    band = (
        F.when(s.isNull(), F.lit("empty"))
        .when(s < 30, F.lit("00_very_hard"))
        .when(s < 50, F.lit("01_hard"))
        .when(s < 60, F.lit("02_fairly_hard"))
        .when(s < 70, F.lit("03_standard"))
        .when(s < 90, F.lit("04_easy"))
        .otherwise(F.lit("05_very_easy"))
    )
    return (
        scored.select(band.alias("band"), s.alias("_s"), "n_words")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("_s"), 6).alias("avg_score"),
            F.round(F.avg(F.col("n_words").cast("double")), 6).alias(
                "avg_words"
            ),
        )
    )


def nb_lang_train_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    vocab_size: int = 200,
    scale: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Multinomial Naive Bayes language-ID model as INTEGER weight
    relations: ``(lang, word, w)`` over the full lang × top-V vocab
    grid plus ``(lang, prior_w, n_docs)``, with every log-probability
    quantized to micro-units ``floor(ln(p) · scale)``.

    The quantization is the whole point: per-doc scores become exact
    integer sums, so the argmax over languages is engine-exact by
    construction — no libm-vs-JVM ulp can reorder two classes (the
    only cross-engine divergence left is a floor straddle on a
    ~1e-15-wide boundary of a 1e-6 grid at the model level, and a
    single off-by-one micro-unit cannot flip an argmax except on an
    exact integer tie, which tie-breaks by language).

    Model sizes: |langs|·V weights and |langs| priors — broadcast
    relations at any corpus scale; the only corpus-sized shuffles are
    the word-keyed count groupBys."""
    w = words_table(docs, id_col, text_col).filter(F.col("word") != "")
    w = w.select(id_col, F.lower(F.col("word")).alias("word"))
    labeled = w.join(docs.select(id_col, lang_col), id_col)
    from pyspark.sql import Window as W

    # r12 measured revert, do not re-try: pinning vocab (3 refs) and
    # counts (2 refs) read 3.22 -> 3.94 s, B 2/8 interleaved — the
    # tokenizer-explode copies run in parallel inside the one scoring
    # job, while the checkpoints serialize them into staged jobs (the
    # corpus_cross_source verdict again).
    vocab = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "_rk",
            F.row_number().over(
                W.orderBy(F.col("tf").desc(), F.col("word").asc())
            ),
        )
        .filter(F.col("_rk") <= vocab_size)
        .select("word")
    )

    langs = docs.groupBy(lang_col).agg(F.count(F.lit(1)).alias("n_docs"))
    n_total = docs.groupBy().agg(F.count(F.lit(1)).alias("nt"))
    v_actual = vocab.groupBy().agg(F.count(F.lit(1)).alias("v"))
    counts = (
        labeled.join(F.broadcast(vocab), "word")
        .groupBy(lang_col, "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    lang_tok = counts.groupBy(lang_col).agg(F.sum("c").alias("n_l"))
    grid = (
        langs.select(lang_col)
        .crossJoin(F.broadcast(vocab))
        .join(counts, [lang_col, "word"], "left")
        .join(F.broadcast(lang_tok), lang_col, "left")
        .crossJoin(F.broadcast(v_actual))
        .select(
            lang_col,
            "word",
            F.floor(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("n_l"), F.lit(0)) + F.col("v"))
                )
                * scale
            ).cast("long").alias("w"),
        )
    )
    priors = langs.crossJoin(F.broadcast(n_total)).select(
        lang_col,
        F.floor(
            F.log(F.col("n_docs") / F.col("nt")) * scale
        ).cast("long").alias("prior_w"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )
    return grid, priors


def nb_lang_confusion(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    vocab_size: int = 200,
) -> DataFrame:
    """Train-and-apply NB language ID with the integer-weight model,
    emitting the (true lang × predicted lang) confusion counts — the
    trained-classifier counterpart of the n-gram-heuristic
    doc_langid_confusion audit.

    Scoring joins the token stream against the broadcast weight grid
    (every in-vocab token hits all |langs| weights via the dense
    grid), sums exact integers per (doc, lang), adds the prior, and
    takes the argmax with a language tiebreak. Docs with zero
    in-vocab tokens rank on priors alone (the dense doc × lang
    scaffold guarantees |langs| candidate rows per doc)."""
    from pyspark.sql import Window as W

    grid, priors = nb_lang_train_weights(
        docs, id_col, text_col, lang_col, vocab_size
    )
    w = words_table(docs, id_col, text_col).filter(F.col("word") != "")
    w = w.select(id_col, F.lower(F.col("word")).alias("word"))
    # the grid's lang column is the candidate-class key
    cand_col = [c for c in grid.columns if c not in ("word", "w")][0]
    tok_scores = (
        w.join(F.broadcast(grid), "word")
        .groupBy(id_col, cand_col)
        .agg(F.sum("w").alias("s_tok"))
        .withColumnRenamed(cand_col, "_cand")
    )
    scaffold = docs.select(id_col, lang_col).crossJoin(
        F.broadcast(priors.select(F.col(cand_col).alias("_cand"), "prior_w"))
    )
    scored = scaffold.join(
        tok_scores, [id_col, "_cand"], "left"
    ).withColumn(
        "_score", F.coalesce(F.col("s_tok"), F.lit(0)) + F.col("prior_w")
    )
    wbest = W.partitionBy(id_col).orderBy(
        F.col("_score").desc(), F.col("_cand").asc()
    )
    pred = scored.withColumn("_rk", F.row_number().over(wbest)).filter(
        F.col("_rk") == 1
    )
    return (
        pred.groupBy(F.col(lang_col).alias("true_lang"), F.col("_cand").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
