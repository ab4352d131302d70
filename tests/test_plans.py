"""Plan-property regression tests: pushdown, pruning, broadcast — the
scale behaviors the engine is designed around (SURVEY §4)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from eventstreamml_spark.plans.inspect import (
    codegen_stage_count,
    node_counts,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
    uses_broadcast_join,
)
from eventstreamml_spark.sources.testdata import load_table

SF = os.path.join(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001")


def test_filter_pushdown_reaches_scan(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey")
    assert any("l_quantity" in f for f in pushed_filters(q))


def test_column_pruning(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    assert set(read_schema_columns(q)) == {"l_orderkey", "l_quantity"}


def test_dimension_join_broadcasts(spark):
    li = load_table(spark, SF, "lineitem")
    part = load_table(spark, SF, "part")
    q = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select("l_orderkey", "p_name")
    assert uses_broadcast_join(q)


def test_histogram_is_single_shuffle(spark):
    from eventstreamml_spark.operators.aggregations import event_type_histogram

    ev = load_table(spark, SF, "events")
    q = event_type_histogram(ev)
    # one exchange for the groupBy (plus possibly one for the tiny
    # global sort of the grouped output)
    assert shuffle_count(q) <= 2
    q.collect()  # AQE: codegen stages exist only after execution
    assert codegen_stage_count(q) >= 1


def test_drop_censor_is_narrow(spark):
    from eventstreamml_spark.operators.filters import drop_or_censor

    ev = load_table(spark, SF, "events")
    q = ev.select(
        "event_id",
        drop_or_censor(
            F.col("value"), drop_lower_bound=5.0, drop_lower_bound_inclusive=False
        ).alias("v"),
    )
    assert shuffle_count(q) == 0  # pure map — no exchange at any scale


def test_dense_ids_auto_gates_global_window(spark):
    """The auto strategy keeps row_number for small frames but must
    switch to the distributed (range-partitioned) numbering above the
    size threshold — no global-window numbering of the main frame.
    The distributed plan's only SinglePartition exchange carries the
    per-partition count aggregate (<= num_partitions rows), never the
    data itself."""
    from eventstreamml_spark.operators.windows import dense_ids
    from eventstreamml_spark.plans.inspect import formatted_plan

    ev = load_table(spark, SF, "events").select("event_id", "user_id", "ts")

    small = dense_ids(ev, ["user_id", "ts", "event_id"], "i")
    assert "row_number" in formatted_plan(small)  # auto -> window here

    big = dense_ids(ev, ["user_id", "ts", "event_id"], "i", auto_threshold_bytes=0)
    plan = formatted_plan(big)
    assert "row_number" not in plan  # auto -> distributed
    # the range-partitioned monotonically_increasing_id numbering is
    # materialized by an eager per-invocation localCheckpoint (pins the
    # sampled range boundaries for both branches), so downstream plans
    # read the checkpointed RDD instead of re-deriving the ids
    assert "ExistingRDD" in plan or "LogicalRDD" in plan

    # both physical strategies number identically
    a = [r["i"] for r in small.orderBy("event_id").collect()]
    b = [r["i"] for r in big.orderBy("event_id").collect()]
    assert a == b


def test_agg_by_time_type_distributed_ids_match(spark):
    """A1 stays correct when the size gate selects the distributed
    numbering (forced via strategy) — same ids as the window path."""
    from eventstreamml_spark.operators.aggregations import agg_by_time_type

    ev = load_table(spark, SF, "events").withColumnRenamed(
        "user_id", "subject_id"
    ).withColumnRenamed("ts", "timestamp")
    w = agg_by_time_type(ev, id_strategy="window")
    d = agg_by_time_type(ev, id_strategy="distributed")
    key = ["subject_id", "timestamp", "event_type"]
    wm = {tuple(r[k] for k in key): r["event_id"] for r in w.collect()}
    dm = {tuple(r[k] for k in key): r["event_id"] for r in d.collect()}
    assert wm == dm


def test_jaccard_candidates_restrict_self_join(spark):
    """With an LSH candidate list, the quadratic shingle self-join runs
    over the MATERIALIZED candidate-restricted shingle relation (the
    semi-join executes once inside the localCheckpoint — round-11
    plan-explosion fix: the un-materialized form re-expanded the full
    shingle window pipeline at every reference, 44 scan copies in
    dedup_lsh_verified), and the aggregated pairs are still semi-joined
    to the exact pair list so id-restriction alone cannot admit
    cross-pairs between unrelated candidates."""
    from eventstreamml_spark.operators.dedup import jaccard_pairs, word_shingles

    docs = load_table(spark, SF, "documents")
    sh = word_shingles(docs, k=4)
    cand = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    q = jaccard_pairs(sh, threshold=0.1, candidates=cand)
    optimized = q._jdf.queryExecution().optimizedPlan().toString()
    # pair-list restriction on the aggregated intersections survives
    assert optimized.count("LeftSemi") >= 1
    # the self-join sides read the checkpointed restricted relation:
    # the shingle window pipeline must NOT be re-expanded in this plan
    assert "Window" not in optimized
    assert optimized.count("LogicalRDD") >= 2
    # and the restriction itself still bounds the work: only candidate
    # docs' shingles survive in the materialized relation
    restricted_rows = q.count()
    assert restricted_rows <= 1  # docs 0 and 1 share no 4-gram at sf0.001


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Catalog bucketing is the co-located-join scale path: two tables
    bucketed on subject_id with the same bucket count must join with
    ZERO Exchange — the plan property that removes the dominant shuffle
    from every per-subject stage at 100 TB."""
    from eventstreamml_spark.sources.sinks import read_table, write_bucketed_table

    ev = load_table(spark, SF, "events").select(
        F.col("user_id").alias("subject_id"), "event_id", "value"
    )
    md = load_table(spark, SF, "events").select(
        F.col("user_id").alias("subject_id"), F.col("event_type")
    )
    # (warehouse dir is a static conf — managed-table files live under
    # the session default and are removed by DROP TABLE below)
    write_bucketed_table(ev, "ev_b", "subject_id", 4, sort_cols=["subject_id"])
    write_bucketed_table(md, "md_b", "subject_id", 4, sort_cols=["subject_id"])
    try:
        a, b = read_table(spark, "ev_b"), read_table(spark, "md_b")
        # disable broadcast so the join would otherwise shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "subject_id")
            assert shuffle_count(joined) == 0, joined._jdf.queryExecution().executedPlan().toString()
            # groupBy on the bucket key also consumes the bucketing
            agg = a.groupBy("subject_id").count()
            assert shuffle_count(agg) == 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    finally:
        spark.sql("DROP TABLE IF EXISTS ev_b")
        spark.sql("DROP TABLE IF EXISTS md_b")


def test_text_pipeline_is_narrow_and_pruned(spark):
    """Text analysis is pure per-row expression work: zero exchanges,
    and the parquet scan reads only the referenced columns."""
    from eventstreamml_spark.operators.text import quality_features, token_count

    docs = load_table(spark, SF, "documents")
    q = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    assert shuffle_count(q) == 0
    cols = set(read_schema_columns(q))
    assert "doc_id" in cols and "text" in cols
    assert "source" not in cols and "lang" not in cols  # pruned
    assert shuffle_count(quality_features(docs)) == 0


def test_embedding_near_dup_shuffles_are_skinny(spark):
    """The banded-LSH near-dup candidate join and pair dedup move only
    (id, band, bval) / (id_a, id_b) — the embedding vectors must not
    ride any Exchange before the pair dedup; they join back afterwards.
    A vector column inside the candidate shuffles multiplies the
    shuffle volume by 2×dim at 100 TB."""
    import re

    from eventstreamml_spark.operators.dedup import embedding_near_dup_lsh
    from eventstreamml_spark.plans.inspect import formatted_plan

    emb = load_table(spark, SF, "embeddings")
    q = embedding_near_dup_lsh(emb, threshold=0.4, n_planes=8, n_bands=4, dim=64)
    plan = formatted_plan(q)
    # every Exchange's input attribute list, from the operator detail
    # sections: "(N) Exchange\nInput [k]: [...]"
    exchanges = re.findall(r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert exchanges, "expected shuffle exchanges in the plan"
    fat = [e for e in exchanges if "_va" in e or "_vb" in e or "embedding" in e]
    assert not fat, f"vector columns crossed a shuffle: {fat}"


def test_partitioned_sink_prunes_scan(spark, tmp_path):
    """Directory-partitioned writes must turn partition-column filters
    into planning-time PartitionFilters with pruned file listings —
    zero IO for non-matching partitions — and row-group sorting keeps
    the non-partition filter pushed down as a data filter."""
    from eventstreamml_spark.plans.inspect import formatted_plan
    from eventstreamml_spark.sources.sinks import write_partitioned

    ev = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "ev_part")
    write_partitioned(
        ev, path, ["event_type"], sort_within=["user_id", "ts"]
    )
    back = spark.read.parquet(path).filter(
        (F.col("event_type") == "click") & (F.col("user_id") < 10)
    )
    plan = formatted_plan(back)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan
    # the data filter still reaches the scan
    assert any("user_id" in f for f in pushed_filters(back))
    # and only the one partition's rows are read
    n_click = back.count()
    assert 0 < n_click < ev.count()


def test_q19_common_factors_push_to_part_scan(spark):
    """The disjunctive-predicate query pre-filters the part side with
    the disjunction's implied common factors (brand IN (...), size
    range) so they reach the parquet scan as PushedFilters — without
    this, every part row survives to the join at any scale."""
    from eventstreamml_spark.queries import q_tpch_q19

    q = q_tpch_q19(spark, SF)
    pushed = " ".join(pushed_filters(q))
    assert "p_brand" in pushed and "p_size" in pushed


def test_q4_exists_is_semi_join(spark):
    """The EXISTS shape must plan as a semi join (orders emitted at
    most once regardless of matching lineitem count) with the non-equi
    lateness condition as a join residual, not a post-join filter over
    an exploded row set."""
    from eventstreamml_spark.queries import q_tpch_q4

    q = q_tpch_q4(spark, SF)
    plan = q._jdf.queryExecution().toString()
    assert "LeftSemi" in plan


def test_curation_rowwise_ops_zero_shuffle(spark):
    """Redaction and chunking are pure per-row expression work: zero
    exchanges, scan pruned to (doc_id, text)."""
    from eventstreamml_spark.operators.curation import chunk_documents, redact_pii

    docs = load_table(spark, SF, "documents")
    for q in (redact_pii(docs), chunk_documents(docs)):
        assert shuffle_count(q) == 0
        cols = set(read_schema_columns(q))
        assert cols == {"doc_id", "text"}


def test_curation_keyed_ops_single_shuffle(spark):
    """Packing and quota sampling are one keyed window each: exactly
    one exchange, on the stratum key — never a global order."""
    from eventstreamml_spark.operators.curation import pack_documents, quota_sample

    docs = load_table(spark, SF, "documents")
    assert shuffle_count(pack_documents(docs)) == 1
    assert shuffle_count(quota_sample(docs, k=10)) == 1


def test_unigram_score_shuffles_bounded(spark):
    """LM fit + score: token groupBy, score join, per-doc agg — keyed
    shuffles only, no global exchange beyond them."""
    from eventstreamml_spark.operators.text import unigram_logprob_score

    docs = load_table(spark, SF, "documents")
    q = unigram_logprob_score(docs)
    assert shuffle_count(q) <= 5


def test_shard_plan_single_shuffle(spark):
    from eventstreamml_spark.operators.curation import shard_plan

    docs = load_table(spark, SF, "documents")
    q = shard_plan(docs, n_shards=8)
    assert shuffle_count(q) <= 1


def test_label_centroids_broadcast_component_join(spark):
    """The |labels|·dim centroid relation must broadcast back to the
    component rows — raw vectors never shuffle for the join."""
    from eventstreamml_spark.operators.similarity import label_centroid_stats

    emb = load_table(spark, SF, "embeddings")
    q = label_centroid_stats(emb)
    assert uses_broadcast_join(q)


def test_salted_join_no_hot_key_funnel(spark):
    """The salted join must join on (key, salt) — the physical join
    keys include the salt, so one key's rows spread across tasks."""
    from eventstreamml_spark.operators.skew import salted_join
    from eventstreamml_spark.plans.inspect import formatted_plan

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    q = salted_join(li, orders, "l_orderkey", n_salt=4)
    assert "_salt" in formatted_plan(q)


def test_incremental_dedup_digests_only_cross_shuffle(spark):
    """The anti-join input carries (id, digest) / (digest) — text is
    projected away before any exchange."""
    from eventstreamml_spark.operators.curation import incremental_new_docs
    from eventstreamml_spark.plans.inspect import executed_plan

    docs = load_table(spark, SF, "documents")
    inc = docs.filter(F.col("doc_id") % 2 == 0)
    ref = docs.filter(F.col("doc_id") % 2 == 1)
    q = incremental_new_docs(inc, ref)
    q.collect()
    plan = executed_plan(q)
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_jaccard_reuses_shingle_exchange(spark):
    """Catalyst exchange reuse: the shingle-size aggregate feeds both
    join sides (sa/sb) and the intersection self-join reads the same
    shuffled shingle relation twice — the executed plan must contain
    ReusedExchange nodes rather than recomputing/reshuffling the
    identical subtree. Declarative plans make this free; an imperative
    rewrite would pay the shingle shuffle twice."""
    from eventstreamml_spark.operators.dedup import jaccard_pairs, word_shingles
    from eventstreamml_spark.plans.inspect import executed_plan

    docs = load_table(spark, SF, "documents")
    q = jaccard_pairs(word_shingles(docs, k=4), threshold=0.1)
    q.collect()
    assert "ReusedExchange" in executed_plan(q)


def test_aqe_splits_skewed_join(spark):
    """The engine's join-skew story is 'let AQE split it' (salting is
    reserved for aggregations and non-AQE contexts, operators/skew.py)
    — so prove AQE actually does: a hot-key join under lowered skew
    thresholds must execute with SortMergeJoin(skew=true) over an
    AQEShuffleRead marked skewed. Thresholds are scoped-set and
    restored; the final adaptive plan is read AFTER executing the
    frame itself (count() executes a different query)."""
    import contextlib
    import io

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(300_000).select(
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 150_250
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain(mode="simple")
        plan = buf.getvalue()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_global_topk_avoids_full_sort(spark):
    """orderBy + limit must plan as TakeOrderedAndProject (per-partition
    top-k + merge of k·partitions rows) — never a global Exchange+Sort.
    This is why bounded top-k is safe at 100 TB while full ORDER BY is
    not."""
    orders = load_table(spark, SF, "orders")
    q = orders.orderBy(F.col("o_totalprice").desc()).limit(10)
    from eventstreamml_spark.plans.inspect import formatted_plan

    plan = formatted_plan(q)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


# Per-operator whole-stage-codegen floors for every generated-SQL
# operator. The janino 64KB method limit makes over-inlined generated
# projections fall out of codegen SILENTLY (a WARN in executor logs, 0
# WholeStageCodegen spans, ~3.7x slower — the round-8 pq/phash bug,
# commit 591fd3c): parity and correctness checks can't see it, only the
# executed plan can. Floors recorded from the fixed plans at sf0.001
# and sf0.01 (identical at both scales); a new literal-codebook op must
# add its name here in the same commit.
CODEGEN_FLOORS = {
    "image_phash_dct": 2,
    "kmeans_elbow_inertia": 3,
    "embedding_jl_distortion": 4,
}

# Round-12: the pq family's fold projections moved to Arrow kernels
# (mapInPandas, bit-identical dim-loop arithmetic — similarity.py
# pq_encode), so their failure mode is no longer "fold
# silently interpreted" but "kernel silently replaced by expression
# work"; pin the kernel's presence in the executed plan instead.
ARROW_KERNEL_FLOORS = {
    "embedding_pq_codes": 1,
    "ann_pq_adc_topk": 1,
    "embedding_pca_top_component": 2,  # Gram partials + power iteration
}


def test_generated_sql_operators_stay_in_codegen(spark):
    """Every generated-SQL operator must compile into at least its
    recorded number of WholeStageCodegen stages after execution. A
    floor of N>=1 fails if any janino compilation falls back to
    interpreted mode (the fallback removes whole stages, it never
    adds them)."""
    from eventstreamml_spark import queries as q

    qs = q.queries()
    got = {}
    for name, floor in CODEGEN_FLOORS.items():
        df = qs[name](spark, SF)
        df.collect()  # AQE: codegen stages exist only after execution
        got[name] = codegen_stage_count(df)
    bad = {n: (c, CODEGEN_FLOORS[n]) for n, c in got.items() if c < CODEGEN_FLOORS[n]}
    assert not bad, f"codegen stages below recorded floor (got, floor): {bad}"


def test_arrow_kernel_operators_keep_their_kernels(spark):
    """The Arrow-kernelized operators must keep their MapInPandas
    nodes in the executed plan (the §4.2 shape: Spark distributes,
    numpy computes the fold bit-identically)."""
    from eventstreamml_spark import queries as q
    from eventstreamml_spark.plans.inspect import executed_plan

    qs = q.queries()
    bad = {}
    for name, floor in ARROW_KERNEL_FLOORS.items():
        df = qs[name](spark, SF)
        df.collect()
        got = executed_plan(df).count("MapInPandas")
        if got < floor:
            bad[name] = (got, floor)
    assert not bad, f"Arrow kernels missing (got, floor): {bad}"


def test_codegen_detector_distinguishes_zero_stages(spark):
    """Detector sanity for the floor test: codegen_stage_count must
    return 0 for a plan with no WholeStageCodegen span (a janino
    fallback looks exactly like this — stages vanish rather than
    erroring) and >=1 for a trivially compilable one. A live janino
    64KB reproducer was deliberately NOT encoded here: chains large
    enough to blow the method limit also risk parser recursion or
    driver heap on this VM (measured), and a flaky guard is worse than
    none — the per-operator floors above are the actual regression
    pin."""
    from eventstreamml_spark.plans.inspect import executed_plan

    no_codegen = spark.createDataFrame([(1,), (2,)], "v int")
    no_codegen.collect()
    assert "WholeStageCodegen" not in executed_plan(no_codegen)
    compiled = spark.range(1000).selectExpr("sum(id * 3 % 7) AS s")
    compiled.collect()
    assert codegen_stage_count(compiled) >= 1


def test_value_type_inference_reads_its_input_once(spark, tmp_path):
    """``infer_value_types`` is one chain of aggregations over one read
    of its input: a second scan or a join means a statistic is computed
    in a pipeline of its own and joined back."""
    from eventstreamml_spark.preprocessing.config import PreprocessingConfig
    from eventstreamml_spark.preprocessing.types_infer import infer_value_types

    path = str(tmp_path / "m")
    spark.createDataFrame(
        [("lab", f"k{i % 3}", float(i % 7)) for i in range(30)],
        "measurement string, key string, value double",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    for by in (None, ["measurement"]):
        counts = node_counts(infer_value_types(df, "key", "value", PreprocessingConfig(), by=by))
        assert counts["Scan"] == 1, counts
        assert not [n for n in counts if "Join" in n], counts


def test_keyed_numeric_transform_joins_state_once(spark):
    """The transform joins the fitted state once: the bounds drop/censor
    reads its bound columns from the same broadcast join as the type,
    outlier and scaler columns."""
    from eventstreamml_spark.preprocessing.pipeline import NumericPreprocessor

    rows = [("lab", f"k{i % 3}", float(i % 17)) for i in range(60)] + [
        ("age", "age", 20.0 + i / 7) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "measurement string, key string, value double")
    model = NumericPreprocessor("key", "value", by=["measurement"]).fit(df)
    assert model.normalizer_cls == "standard_scaler"
    counts = node_counts(model.transform(df))
    assert counts["BroadcastHashJoin"] == 1, counts
    assert not [n for n in counts if "Join" in n and n != "BroadcastHashJoin"], counts
