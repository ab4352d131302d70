"""Similarity search over embedding columns (array<float>):
brute-force cosine top-k baseline + hyperplane-LSH bucketed variant.

Scale path: brute force is O(|Q|·|C|) — fine when the query set is
broadcast-small; the bucketed variant hashes both sides into sign-
pattern buckets so the join only compares within-bucket, trading
recall for a ~2^n_planes candidate reduction. Everything is built-in
higher-order functions (zip_with/aggregate — codegen'd, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F


def embedding_dim(df: DataFrame, vec_col: str = "embedding") -> int:
    """Resolve the embedding dimensionality WITHOUT launching a job.

    The dim is a property of the column, not of any row, so it must
    come from metadata: either column-level schema metadata
    ``{"dim": N}`` (attach with ``F.col(c).alias(c, metadata={"dim":
    N})``) or an explicit parameter at the call site. Reading a row
    (``DataFrame.first``) from inside a plan-building function launches a
    driver job per call — a latency bug in hot query paths and a
    surprise action in an otherwise lazy API, so it is not a fallback.
    """
    meta = df.schema[vec_col].metadata
    if meta and "dim" in meta:
        return int(meta["dim"])
    raise ValueError(
        f"embedding dim unknown: pass dim= explicitly or attach schema "
        f"metadata {{'dim': N}} to column {vec_col!r} "
        f"(F.col(c).alias(c, metadata={{'dim': N}}))"
    )


def with_embedding_dim(df: DataFrame, dim: int) -> DataFrame:
    """Stamp ``{"dim": N}`` schema metadata on the embedding column so
    downstream operators never need a dim parameter or a row peek."""
    return df.withColumn("embedding", F.col("embedding").alias("embedding", metadata={"dim": dim}))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double (left-fold accumulation — deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def unit_normalize(a: Column) -> Column:
    """a / ||a|| as array<double>. Pre-normalizing each side ONCE turns
    per-pair cosine into a single dot product — the norm is otherwise
    recomputed for every candidate pair, tripling the per-pair HOF work
    (interpreted expressions, so this dominates top-k wall time)."""
    n = norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query. Returns (query_id, neighbor_id, cosine, rk)
    excluding self-matches. Ties broken by neighbor id for determinism.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), unit_normalize(F.col("embedding")).alias("_qv")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), unit_normalize(F.col("embedding")).alias("_cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot(F.col("_qv"), F.col("_cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rk")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (driver-side numpy,
    broadcast as literals — tiny)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    h = rng.standard_normal((n_planes, dim))
    h /= np.linalg.norm(h, axis=1, keepdims=True)
    return h.tolist()


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit p = [vec · plane_p > 0]."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(float(x)) for x in plane])) > 0, F.lit(1 << p))
        .otherwise(F.lit(0))
        for p, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int | None = None,
    n_probe_bits: int = 0,
) -> DataFrame:
    """Approximate cosine top-k: hyperplane LSH bucketing + within-
    bucket exact rerank.

    ``n_probe_bits=1`` enables multi-probe: each query also probes the
    ``n_planes`` buckets at Hamming distance 1 (one sign flip), trading
    a query-side-only ×(n_planes+1) row explosion for much higher
    recall. The corpus side is never replicated, so the plan shape at
    100 TB is unchanged — the bucket equi-join just sees more (small)
    probe rows. A corpus vector lives in exactly one bucket, so no
    probe produces duplicate (query, neighbor) pairs.

    ``dim`` is required, either as a parameter or as ``{"dim": N}``
    schema metadata on the corpus embedding column (see
    :func:`embedding_dim`) — plan construction never launches a job.
    """
    if dim is None:
        dim = embedding_dim(corpus)
    planes = _hyperplanes(dim, n_planes, 42)
    # unit-normalize once per row (sign pattern unchanged: positive
    # scale) so the within-bucket rerank is a dot, not a cosine refold
    q = queries.select(
        F.col("vec_id").alias("query_id"), unit_normalize(F.col("embedding")).alias("_qv")
    ).withColumn("bucket", hyperplane_bucket(F.col("_qv"), planes))
    if n_probe_bits >= 1:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)],
        )
        q = q.withColumn("bucket", F.explode(probes))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), unit_normalize(F.col("embedding")).alias("_cv")
    ).withColumn("bucket", hyperplane_bucket(F.col("_cv"), planes))
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot(F.col("_qv"), F.col("_cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rk")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# --------------------------------------------------------------------------


def fit_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    sample_cap: int = 16384,
) -> DataFrame:
    """Coarse quantizer fit. Returns (cell_id int, centroid array<double>).

    The IVF-standard approach (FAISS trains its coarse quantizer on a
    bounded sample): pull at most ``sample_cap`` vectors to the driver
    with one job and run Lloyd's iterations in numpy. A coarse
    quantizer partitions space; it does not need to see every vector —
    cell quality converges long before the sample does, so this is the
    100 TB path too, with a training set that stays
    O(sample_cap × dim) regardless of corpus size. One Spark job total.
    """
    import numpy as np

    spark = corpus.sparkSession
    # NULL vectors would reach the driver-side kmeans as None and turn
    # the sample matrix into object dtype (the pca_top_component
    # lesson): fit on non-null rows only
    corpus = corpus.filter(F.col("embedding").isNotNull())
    n = corpus.count()
    frac = min(1.0, (sample_cap * 1.25) / max(1, n))
    sampled = corpus.select("embedding") if frac >= 1.0 else corpus.select("embedding").sample(
        fraction=frac, seed=seed
    )
    x = np.asarray(
        [r[0] for r in sampled.limit(sample_cap).collect()], dtype="float64"
    )
    rng = np.random.default_rng(seed)
    k = min(n_cells, len(x))
    cent = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(max_iter):
        # assign: cosine == dot on unit-normalized centroids
        cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        assign = (x @ cn.T).argmax(axis=1)
        new = np.stack(
            [
                x[assign == c].mean(axis=0) if (assign == c).any() else cent[c]
                for c in range(k)
            ]
        )
        if np.allclose(new, cent, atol=1e-9):
            cent = new
            break
        cent = new
    rows = [(i, [float(v) for v in c]) for i, c in enumerate(cent)]
    return spark.createDataFrame(rows, "cell_id int, centroid array<double>")


def _nearest_cells(vec: Column, centroids: list[tuple[int, list[float]]], n: int) -> Column:
    """Array of the n nearest cell_ids by cosine (literal centroid
    table folded into the expression — n_cells is small by design).

    Centroids are unit-normalized HERE (driver-side floats), so the
    per-row ranking needs only a dot product per cell: argmax over
    cells of cos(v, c) equals argmax of v·ĉ — the row vector's own norm
    is a shared positive scale that cannot reorder cells. This removes
    every norm() evaluation from the hot loop (interpreted HOFs)."""
    import math

    def unit(c):
        s = math.sqrt(sum(x * x for x in c)) or 1.0
        return [x / s for x in c]

    scored = F.array(
        *[
            F.struct(
                dot(vec, F.array(*[F.lit(float(x)) for x in unit(c)])).alias("s"),
                F.lit(cid).alias("cell_id"),
            )
            for cid, c in centroids
        ]
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n)
    return F.transform(top, lambda e: e["cell_id"])


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """Index build: each vector lands in its nearest cell. At scale,
    write partitioned by cell_id so probes prune to the touched cells.

    Assignment runs on the Arrow path: the (tiny) unit-normalized
    centroid matrix rides in the closure and each batch assigns with
    one numpy matmul — the corpus-sized half of the index build is
    where the BLAS path pays (the per-query probe selection stays the
    HOF expression: queries are few). Ties break toward the larger
    cell id, matching ``_nearest_cells``'s descending struct sort."""
    import numpy as np

    cents = sorted(
        ((r["cell_id"], r["centroid"]) for r in centroids.collect()),
        key=lambda t: -t[0],  # argmax picks FIRST max → largest cell id on ties
    )
    ids = np.array([c for c, _ in cents], dtype="int64")
    m = np.array([v for _, v in cents], dtype="float64")
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)

    from pyspark.sql.types import IntegerType, StructField, StructType

    # never .add() onto df.schema — it mutates the DataFrame's CACHED
    # schema object, so df.columns starts reporting a column the JVM
    # side doesn't have
    out_schema = StructType(
        list(corpus.schema.fields) + [StructField("cell_id", IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            v = np.array(list(pdf["embedding"]), dtype="float64")
            best = ids[np.argmax(v @ m.T, axis=1)]
            pdf = pdf.copy()
            pdf["cell_id"] = best.astype("int32")
            yield pdf

    return corpus.mapInPandas(assign, out_schema)


def ivf_topk(
    queries: DataFrame,
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF search: probe each query's ``n_probe`` nearest cells, exact
    cosine rerank within the probed candidate set. ``n_probe=n_cells``
    degenerates to exact brute force; recall rises monotonically with
    n_probe. Shuffle profile: queries explode ×n_probe then equi-join
    on cell_id — the corpus side never broadcasts or replicates."""
    cents = [(r["cell_id"], r["centroid"]) for r in centroids.collect()]
    q = queries.select(
        F.col("vec_id").alias("query_id"), unit_normalize(F.col("embedding")).alias("_qv")
    ).withColumn("cell_id", F.explode(_nearest_cells(F.col("_qv"), cents, n_probe)))
    c = corpus_assigned.select(
        "cell_id", F.col("vec_id").alias("neighbor_id"), unit_normalize(F.col("embedding")).alias("_cv")
    )
    # Round-12 measured dead-end: routing this per-pair dot through
    # a bit-identical Arrow kernel lost the interleaved
    # A/B 4/6 paired rounds (calm-window pairs ~7s vs ~14s) — at
    # |queries|·n_probe·cell-size ≈ 25k pairs the Arrow boundary
    # (python worker spin-up per task + serde + pipeline break between
    # the join and the rank shuffle) exceeds the ~50ms of interpreted
    # fold work it removes. The kernel is the right shape only when
    # fold work dominates the boundary (pq_encode: 128 folds/row over
    # the corpus side — kept there).
    scored = (
        q.join(c, "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot(F.col("_qv"), F.col("_cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rk")
    )


def quantize_embeddings_int8(df: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization (the storage/transport
    compression ANN indexes ship with): scale = max|x|/127, qᵢ =
    round(xᵢ/scale), so values span [-127, 127] and dequantization is
    qᵢ·scale.

    Output carries the scale plus order-sensitive integer checksums of
    the code vector (Σq, Σ|q|, Σq·(i+1)) rather than the array itself —
    exact, driver-hashable, and enough to pin every code. All-zero
    vectors (scale 0) are excluded: they have no code. Math is double
    throughout (float32 inputs upcast before the divide) so results are
    bit-stable across engines. Pure higher-order expressions — zero
    shuffle, codegen'd, no Python.
    """
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    scale = (
        F.aggregate(x, F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v))) / F.lit(127.0)
    )
    base = df.select(F.col("vec_id"), x.alias("_x"), scale.alias("_scale")).filter(
        F.col("_scale") > 0
    )
    q = F.transform(F.col("_x"), lambda v: F.round(v / F.col("_scale"), 0))
    qi = F.transform(
        F.col("_x"),
        lambda v, i: F.round(v / F.col("_scale"), 0) * (i.cast("double") + 1),
    )
    acc = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, v: a + v)  # noqa: E731
    return base.select(
        "vec_id",
        F.round(F.col("_scale"), 6).alias("scale"),
        acc(q).cast("long").alias("q_sum"),
        acc(F.transform(q, F.abs)).cast("long").alias("q_abs_sum"),
        acc(qi).cast("long").alias("q_dot"),
    )


def label_centroid_stats(emb: DataFrame) -> DataFrame:
    """Per-label embedding centroids and intra-cluster cohesion:
    ``(label, n_vecs, centroid_norm, mean_cos)`` where ``mean_cos`` is
    the average cosine of each member to its label centroid — the
    cluster-quality / embedding-drift diagnostic a curation pipeline
    runs after labelling or clustering.

    The centroid is computed component-wise over a posexploded
    ``(label, pos, val)`` relation — the distributed idiom for
    elementwise vector aggregation: no collect_list of whole vectors
    into one task, no driver math. Both groupBys and the
    component-join are keyed by (label, pos) / (label, id); at 100 TB
    every shuffle row is a scalar triple, and the centroid relation is
    |labels|·dim rows — broadcast-sized for any real label space."""
    comp = emb.select(
        F.col("label").alias("label"),
        F.col("vec_id").alias("vid"),
        F.posexplode(F.col("embedding")).alias("pos", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    cent = comp.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    per_vec = (
        comp.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("label", "vid")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("d"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nv"),
            F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"),
        )
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.max("nc"), 6).alias("centroid_norm"),
        F.round(F.avg(F.col("d") / (F.col("nv") * F.col("nc"))), 6).alias("mean_cos"),
    )


def knn_label_agreement(
    emb: DataFrame,
    sample_mod: int = 11,
) -> DataFrame:
    """Embedding-quality probe: for a deterministic ~1/``sample_mod``
    hash-sample of vectors, find each one's exact cosine 1-NN among
    ALL OTHER vectors and report whether the neighbor's label agrees —
    the standard leave-one-out label-consistency check before trusting
    an embedding space for near-dup mining or clustering.

    Sampling is an md5-mod filter (scale-safe: no global order, no
    count), the sampled query side broadcasts, and the corpus streams
    past it once — the same O(|sample|·|C|) shape as cosine_topk. Ties
    break by ascending neighbor id so both engines pick the same
    neighbor. Returns ``(vec_id, label, nn_id, nn_label, agree)``."""
    bucket = F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % sample_mod
    q = emb.filter(bucket == 0).select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").alias("embedding")
    )
    # score on the Arrow/BLAS path (one matmul per corpus batch against
    # the broadcast-small sample) — measured ~5x the interpreted
    # HOF-dot cross join at dim 64; identical results, same tie-break
    top1 = pandas_cosine_topk(q, emb, k=1)
    labels = emb.select(F.col("vec_id"), F.col("label"))
    return (
        top1.join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("label")
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nn_label"),
            ),
            "neighbor_id",
        )
        .select(
            F.col("query_id").alias("vec_id"),
            "label",
            F.col("neighbor_id").alias("nn_id"),
            "nn_label",
            (F.col("label") == F.col("nn_label")).alias("agree"),
        )
    )


def contrastive_triplets(
    emb: DataFrame,
    sample_mod: int = 11,
) -> DataFrame:
    """Mine (anchor, positive, negative) training triplets for metric
    learning: for each md5-mod-sampled anchor, the positive is its
    exact cosine 1-NN among SAME-label vectors (hard positive:
    closest, so gradients aren't trivial) and the negative is a
    deterministic hash-draw among DIFFERENT-label vectors (uniform
    negative; swap the argmin hash for max-cosine to mine hard
    negatives at 2× the cost).

    One broadcast of the sampled anchors, one corpus pass; both
    choices are per-anchor argmins (window / min_by), deterministic
    across runs and engines. Returns (anchor_id, label, pos_id,
    pos_cos, neg_id)."""
    bucket = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % sample_mod
    a = emb.filter(bucket == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("label"),
        unit_normalize(F.col("embedding")).alias("av"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        unit_normalize(F.col("embedding")).alias("cv"),
    )
    joined = c.crossJoin(F.broadcast(a)).filter(F.col("cid") != F.col("anchor_id"))
    same = joined.filter(F.col("clabel") == F.col("label")).select(
        "anchor_id", "label", "cid", dot(F.col("av"), F.col("cv")).alias("cos")
    )
    w = W.partitionBy("anchor_id").orderBy(F.col("cos").desc(), F.col("cid").asc())
    pos = (
        same.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "anchor_id",
            "label",
            F.col("cid").alias("pos_id"),
            F.round("cos", 6).alias("pos_cos"),
        )
    )
    pair_h = F.md5(
        F.concat_ws("_", F.col("anchor_id").cast("string"), F.col("cid").cast("string"))
    )
    neg = (
        joined.filter(F.col("clabel") != F.col("label"))
        .groupBy("anchor_id")
        .agg(F.min_by("cid", pair_h).alias("neg_id"))
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id", "label", "pos_id", "pos_cos", "neg_id"
    )


def pandas_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k on the Arrow path: the (broadcast-small)
    query matrix rides to executors inside a ``mapInPandas`` closure
    and every corpus batch scores against it with one numpy matmul —
    the designed "when you must use Python" shape (Arrow-batched,
    BLAS-backed), NOT a per-row UDF.

    Same contract and results as :func:`brute_force_topk`; use
    whichever measures faster for the dimensionality at hand —
    interpreted HOF folds win at low dims / tiny batches, the Arrow
    matmul wins as dim·batch grows (it amortizes per-batch overhead
    across a BLAS call). The corpus is never replicated; per-batch
    output is the batch's candidate scores, ranked globally after."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select("vec_id", "embedding").collect()
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype="int64")
    q_mat = np.array([r["embedding"] for r in q_rows], dtype="float64")
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            c_mat = np.array(list(pdf["embedding"]), dtype="float64")
            norms = np.linalg.norm(c_mat, axis=1, keepdims=True)
            c_mat = c_mat / norms
            sims = c_mat @ q_mat.T  # (batch, n_queries)
            n_b = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n_b),
                    "neighbor_id": np.tile(pdf["vec_id"].to_numpy(), len(q_ids)),
                    "cosine": sims.T.reshape(-1),
                }
            )

    scored = corpus.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rk")
    )


def fit_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    sample_cap: int = 16384,
) -> DataFrame:
    """Product-quantization codebook fit: split the vector space into
    ``m`` contiguous subspaces and run Lloyd's iterations per subspace
    on a bounded sample (same rationale as ``fit_ivf_centroids`` —
    FAISS trains PQ on a sample too; codebook quality converges long
    before the corpus does, so the training set stays
    O(sample_cap × dim) at any corpus size; one Spark job total).
    Returns (subspace int, code int, centroid array<double>)."""
    import numpy as np

    corpus = corpus.filter(F.col("embedding").isNotNull())
    n = corpus.count()
    frac = min(1.0, (sample_cap * 1.25) / max(1, n))
    sampled = (
        corpus.select("embedding")
        if frac >= 1.0
        else corpus.select("embedding").sample(fraction=frac, seed=seed)
    )
    x = np.asarray(
        [r[0] for r in sampled.limit(sample_cap).collect()], dtype="float64"
    )
    dim = x.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    d_sub = dim // m
    rng = np.random.default_rng(seed)
    rows = []
    for s in range(m):
        xs = x[:, s * d_sub : (s + 1) * d_sub]
        k = min(n_codes, len(xs))
        cent = xs[rng.choice(len(xs), size=k, replace=False)]
        for _ in range(8):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            new = np.stack(
                [
                    xs[assign == c].mean(axis=0)
                    if (assign == c).any()
                    else cent[c]
                    for c in range(k)
                ]
            )
            if np.allclose(new, cent, atol=1e-9):
                cent = new
                break
            cent = new
        rows.extend(
            (s, c, [float(v) for v in cent[c]]) for c in range(k)
        )
    return corpus.sparkSession.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
) -> DataFrame:
    """Product-quantization encoding: every vector becomes ``m`` small
    codes (one per subspace, nearest sub-centroid by L2) — the 64×
    compression that makes billion-vector ANN indexes fit in memory.
    Emits one row per (vector, subspace): (id, subspace, code,
    sq_err), where sq_err is that subspace's quantization error.

    Runs as an Arrow kernel (guide §4.2; round 12 — the prior
    SQL-text m·n_codes·d_sub fold projection ran interpreted, HOF folds
    never codegen): the codebook rides to executors inside the closure
    and each batch computes all m·n_codes distances with numpy. The
    distance arithmetic is **bit-identical** to the interpreted fold —
    vectorize over rows, loop over dims (`acc = acc + diff*diff` is the
    fold's ((0+t₀)+t₁)+… per scalar; numpy never fuses multiply-add) —
    and ties pick the lower code id exactly as the former
    array_min-over-(d, c)-structs did (np.argmin returns the FIRST
    minimum; codes are scanned ascending). sq_err's 6dp rounding stays
    in Spark (F.round, HALF_UP) on the same doubles, so the oracle is
    untouched. 10¹¹ vectors encode embarrassingly parallel; the only
    Python cost is m·d_sub vectorized passes per Arrow batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    by_sub: dict[int, list[tuple[int, list[float]]]] = {}
    for s, c, cent in codebooks:
        by_sub.setdefault(s, []).append((c, cent))
    d_sub = len(next(iter(by_sub.values()))[0][1])
    subs = sorted(by_sub)
    # per subspace: code ids ascending (ties resolve to the lower id)
    code_ids = {
        s: np.array([c for c, _ in sorted(by_sub[s])], dtype="int32")
        for s in subs
    }
    cents = {
        s: np.array([cent for _, cent in sorted(by_sub[s])], dtype="float64")
        for s in subs
    }

    base = corpus.selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS _v"
    )
    schema = StructType(
        [
            base.schema["vec_id"],
            StructField("subspace", IntegerType(), False),
            StructField("code", IntegerType(), False),
            StructField("_sq", DoubleType(), False),
        ]
    )

    def encode(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack(pdf["_v"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            id_out, sub_out, code_out, sq_out = [], [], [], []
            for s in subs:
                Xs = X[:, s * d_sub : (s + 1) * d_sub]
                Cs = cents[s]
                acc = np.zeros((n, len(Cs)), dtype=np.float64)
                for j in range(d_sub):
                    diff = Xs[:, j : j + 1] - Cs[None, :, j]
                    acc = acc + diff * diff
                best = np.argmin(acc, axis=1)
                id_out.append(ids)
                sub_out.append(np.full(n, s, dtype="int32"))
                code_out.append(code_ids[s][best])
                sq_out.append(acc[np.arange(n), best])
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(id_out),
                    "subspace": np.concatenate(sub_out),
                    "code": np.concatenate(code_out),
                    "_sq": np.concatenate(sq_out),
                }
            )

    return base.mapInPandas(encode, schema).select(
        "vec_id",
        "subspace",
        "code",
        F.round("_sq", 6).alias("sq_err"),
    )


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    n_iter: int = 3,
) -> DataFrame:
    """Top principal component of an embedding column via power
    iteration, computed ENTIRELY plan-side — no driver-side linear
    algebra, no collect: the d×d covariance builds from Arrow-batched
    partial Gram matrices (``mapInPandas`` emits each batch's centered
    XᵀX as d² partial sums — the scan stays one pass and the shuffle
    carries d²·|partitions| scalars, NOT a d²-per-row explode), and
    each power-iteration step is a join of the |d²| covariance relation
    with the |d| vector relation — broadcast-tiny at any corpus scale.

    Determinism across engines (the DuckDB oracle replays every step):
    the per-dimension mean and the covariance entries round to 6dp —
    float32 inputs widen to float64 exactly on both engines, so after
    those two roundings every downstream value derives from identical
    doubles and the 5dp output rounding is far coarser than any
    summation-order noise. Start vector is the constant 1/√d; sign
    fixes by forcing component 0 non-negative. Returns (i, loading,
    eigval) — eigval is ‖Cv‖ from the last step (→ λ₁ for PSD C).
    """
    import numpy as np
    import pandas as pd

    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    d = dim if dim is not None else embedding_dim(df, vec_col)

    # NULL vectors would crash np.stack in the Gram stage and inflate
    # the n-1 divisor — drop them up front (oracle mirrors IS NOT NULL)
    df = df.filter(F.col(vec_col).isNotNull())

    e = df.select(
        F.posexplode(F.col(vec_col)).alias("_i", "_xi")
    ).select("_i", F.col("_xi").cast("double").alias("_xi"))
    mean_rel = e.groupBy("_i").agg(F.round(F.avg("_xi"), 6).alias("_m"))
    mean_arr = mean_rel.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("_i"), F.col("_m")))
            ),
            lambda s: s["_m"],
        ).alias("_mu")
    )
    n_rel = df.agg(F.count(F.lit(1)).cast("double").alias("_nrows"))

    with_mu = df.select(F.col(vec_col).alias("_v")).crossJoin(
        F.broadcast(mean_arr)
    )

    def gram_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            mu = np.asarray(pdf["_mu"].iloc[0], dtype=np.float64)
            Xc = X - mu
            G = Xc.T @ Xc
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.DataFrame(
                {"_i": ii.ravel(), "_j": jj.ravel(), "_s": G.ravel()}
            )

    partials = with_mu.mapInPandas(
        gram_partials, schema="_i int, _j int, _s double"
    )
    cov = (
        partials.groupBy("_i", "_j")
        .agg(F.sum("_s").alias("_ss"))
        .crossJoin(F.broadcast(n_rel))
        .select(
            "_i",
            "_j",
            F.round(F.col("_ss") / (F.col("_nrows") - 1.0), 6).alias("_c"),
        )
        # d² rows by construction at ANY corpus scale: collapse to one
        # partition so the iteration runs as 1 task instead of
        # |shuffle.partitions| mostly-empty ones (measured 5.4s → 2.2s
        # at sf0.1/local[32]).
        .coalesce(1)
    )

    # The power iteration runs as ONE task over the d²-row covariance
    # (round-12, VERDICT item 4): the former per-iteration
    # join→groupBy→norm-broadcast chain built ~15 sequential tiny
    # stages (each a job/AQE round trip, each broadcast a driver hop)
    # to move d² values that fit in one Arrow batch. Numerics: every
    # input to this kernel is already 6dp-rounded (identical doubles on
    # both engines by the argument above); iteration dot products here
    # sum in numpy's order where the join form summed in Spark's and
    # the oracle sums in DuckDB's — all three orders were already
    # distinct, and the 5dp output rounding (still applied by F.round
    # below, HALF_UP as before) is far coarser than summation-order
    # noise. Degenerate zero covariance emits NULL loadings and NULL
    # eigval, matching the try_divide/null-propagation semantics of the
    # join form.
    def power_iter(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        C = np.zeros((d, d), dtype=np.float64)
        C[pdf["_i"].to_numpy(), pdf["_j"].to_numpy()] = pdf["_c"].to_numpy(
            dtype=np.float64
        )
        v = np.full(d, 1.0 / float(d) ** 0.5, dtype=np.float64)
        nrm = None
        for k in range(n_iter):
            u = C @ v
            nrm = float(np.sqrt(np.dot(u, u)))
            if nrm == 0.0 or not np.isfinite(nrm):
                # join-form semantics: try_divide makes v NULL; every
                # LATER iteration's norm is then NULL too, so eigval is
                # NULL unless the zero norm happened in the LAST
                # iteration (where the final nrm relation still read 0)
                eig = nrm if (k == n_iter - 1 and nrm == 0.0) else None
                yield pd.DataFrame(
                    {
                        "i": np.arange(d, dtype="int64"),
                        "_loading": [None] * d,
                        "_eigval": [eig] * d,
                    }
                )
                return
            v = u / nrm
        sgn = -1.0 if v[0] < 0 else 1.0
        yield pd.DataFrame(
            {
                "i": np.arange(d, dtype="int64"),
                "_loading": v * sgn,
                "_eigval": np.full(d, nrm),
            }
        )

    out = cov.mapInPandas(
        power_iter, schema="i long, _loading double, _eigval double"
    )
    return out.select(
        "i",
        F.round("_loading", 5).alias("loading"),
        F.round("_eigval", 5).alias("eigval"),
    )


def simplified_silhouette(emb: DataFrame) -> DataFrame:
    """Per-label simplified silhouette (centroid-based): for each
    vector, a = euclidean distance to its OWN label centroid, b = min
    distance to any OTHER label centroid, s = (b − a)/max(a, b);
    emitted as per-label means — the standard cluster-quality readout
    when the O(n²) pairwise silhouette is unpayable, which at corpus
    scale is always.

    Distributed shape mirrors label_centroid_stats: centroids from a
    posexploded component relation (two scalar-keyed groupBys), then
    every vector scores against the broadcast |labels|·dim centroid
    relation — the only corpus-sized shuffle is the per-(vector,
    candidate-label) distance groupBy, and candidate fan-out is
    |labels|, not rows. NULL embeddings and NULL labels are filtered
    (the round-6 PCA lesson)."""
    base = emb.filter(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    comp = base.select(
        F.col("label").alias("_own"),
        F.col("vec_id").alias("_vid"),
        F.posexplode(F.col("embedding")).alias("pos", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    cent = comp.groupBy(F.col("_own").alias("_cand"), "pos").agg(
        F.avg("v").alias("c")
    )
    dist = (
        comp.join(F.broadcast(cent), "pos")
        .groupBy("_vid", "_own", "_cand")
        .agg(F.sqrt(F.sum((F.col("v") - F.col("c")) ** 2)).alias("d"))
    )
    per_vec = dist.groupBy("_vid", "_own").agg(
        F.min(F.when(F.col("_cand") == F.col("_own"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("_cand") != F.col("_own"), F.col("d"))).alias("b"),
    )
    s = F.try_divide(F.col("b") - F.col("a"), F.greatest("a", "b"))
    return (
        per_vec.groupBy(F.col("_own").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(s), 6).alias("mean_silhouette"),
            F.round(F.avg("a"), 6).alias("mean_intra_dist"),
            F.round(F.avg("b"), 6).alias("mean_nearest_other_dist"),
        )
    )


def item_item_cosine_topk(
    baskets: DataFrame,
    k: int = 3,
    max_basket: int = 15,
    min_cooccur: int = 2,
) -> DataFrame:
    """Item-item collaborative-filtering similarity: cosine over binary
    user-interaction vectors, cos(i,j) = |U_i ∩ U_j| / √(|U_i|·|U_j|),
    emitted as each item's top-k neighbors — the classic co-purchase
    recommender primitive.

    Scale shape: candidate pairs are generated ONLY within a user's
    basket (co-occurrence is a per-user self-join), and baskets are
    capped at ``max_basket`` items via a deterministic per-user
    partkey-ranked truncation — the hot-user quadratic blowup is
    bounded by max_basket² per user, the same hub-capping discipline
    as the link-prediction wedge join (graph.py). Popularities join
    back broadcast (|items|-sized). Pairs below ``min_cooccur`` are
    pruned before the window. Neighbor ranking orders on the
    9dp-rounded cosine with the neighbor id as tiebreak (grid-stable
    across engines; sqrt ulps can't reorder)."""
    from pyspark.sql import Window as W

    # ONE user-keyed aggregation replaces distinct + rank-cap + self-
    # join: collect_set dedups, array_sort + slice caps at the
    # max_basket smallest item ids, and both the popularity explode
    # and the in-basket pair fan-out derive from the same bounded
    # per-user array — the upstream scan is never re-shuffled.
    # Materialize the capped basket relation ONCE: it feeds both the
    # popularity explode and the pair fan-out, and the symmetrized pair
    # union below doubles every downstream reference — without
    # materialization Catalyst re-expands the full upstream
    # interaction-log join/groupBy at each of ~4 references (round-11
    # measured plan: 46 exchange/scan nodes). Standard CF practice: the
    # basket table is the pipeline's reused substrate; at any scale
    # re-deriving it twice from the raw log costs more than storing
    # ≤ max_basket ids per user. Per-invocation localCheckpoint —
    # nothing persists across calls.
    b = (
        baskets.select(
            F.col("user_id").alias("u"), F.col("item_id").alias("i")
        )
        .groupBy("u")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("i")), 1, max_basket
            ).alias("_arr")
        )
        .localCheckpoint()
    )
    ni = b.select(F.explode("_arr").alias("i")).groupBy("i").agg(
        F.count(F.lit(1)).alias("n")
    )
    arr = F.col("_arr")
    pair_structs = F.flatten(
        F.transform(
            arr,
            lambda x, idx: F.transform(
                F.slice(arr, idx + 2, max_basket),
                lambda y: F.struct(x.alias("i"), y.alias("j")),
            ),
        )
    )
    pairs = (
        b.select(F.explode(pair_structs).alias("_p"))
        .select(F.col("_p.i").alias("i"), F.col("_p.j").alias("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("n_cooccur"))
        .filter(F.col("n_cooccur") >= min_cooccur)
        # item-pair-level (bounded by the item vocabulary, not users);
        # the sym union below references it twice
        .localCheckpoint()
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("j").alias("i"), F.col("i").alias("j"), "n_cooccur"
        )
    )
    scored = (
        sym.join(F.broadcast(ni.withColumnRenamed("n", "n_i")), "i")
        .join(
            F.broadcast(
                ni.select(F.col("i").alias("j"), F.col("n").alias("n_j"))
            ),
            "j",
        )
        .withColumn(
            "_cos", F.col("n_cooccur") / F.sqrt(F.col("n_i") * F.col("n_j"))
        )
    )
    wtop = W.partitionBy("i").orderBy(
        F.round(F.col("_cos"), 9).desc(), F.col("j").asc()
    )
    return (
        scored.withColumn("_r", F.row_number().over(wtop))
        .filter(F.col("_r") <= k)
        .select(
            F.col("i").alias("item_id"),
            F.col("j").alias("neighbor_id"),
            F.col("n_cooccur").cast("long").alias("n_cooccur"),
            F.round(F.col("_cos"), 6).alias("cosine"),
            F.col("_r").cast("long").alias("rank"),
        )
    )
