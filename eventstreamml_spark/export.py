"""Tensorization export — SURVEY §3 E3, §1.3.

The reference's ``EventStreamPytorchDataset`` walks each subject's
events in a Python loop building ragged (indices, values, measurement
ids) triples, then pads in a collate fn
(event_stream_pytorch_dataset.py:250-567). Spark-side this terminal
stage is ONE shuffle: per-event assembly is a grouped aggregation over
metadata, per-subject assembly a grouped aggregation over events —
producing rows

  (subject_id, start_time, static_indices: array<int>,
   time: array<double>,
   dynamic_indices: array<array<int>>,
   dynamic_values:  array<array<double>>,
   dynamic_measurement_indices: array<array<int>>)

written to parquet; padding/tensorification stays in the DataLoader
(W7 is a reader concern).

Global index space (J9, event_stream_pytorch_dataset.py:126-153):
index 0 is the global padding sentinel; ``event_type`` is measurement 1
at offset 1 with NO UNK slot (types indexed 0.. by descending
frequency, ``event_types_idxmap`` at :126); each further measurement
gets a contiguous block that INCLUDES its local UNK at the block start
— out-of-vocab elements map to ``offset + 0``
(``idxmap.get(v, 0) + offset``, :360-363), not to global 0. Within an
event the event_type entry comes first, then metadata entries ordered
by metadata_id, matching the reference's per-event emission order.
±inf values are normalized to missing (P8, :370-376).

Scale: both aggregations shuffle on their natural keys (event_id,
subject_id); vocabularies join broadcast. There is no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from eventstreamml_spark.operators.filters import filter_min_seq_len, nullify_nonfinite
from eventstreamml_spark.vocabulary import UNK, assign_measurement_offsets


def tensorize(
    events: DataFrame,
    metadata: DataFrame,
    vocabs: dict[str, DataFrame],
    measurement_col: str = "measurement",
    element_col: str = "element",
    value_col: str = "value",
    static_df: DataFrame | None = None,
    static_vocab: DataFrame | None = None,
    static_col: str | None = None,
    min_seq_len: int | None = None,
    time_unit_seconds: float = 60.0,
) -> DataFrame:
    """Build the per-subject nested export relation.

    ``metadata`` is long-format: (event_id, measurement, element, value)
    — one row per observation; ``vocabs`` maps measurement name →
    vocabulary DataFrame (element, freq, idx) as produced by
    ``build_vocabulary`` (idx 0 = UNK). ``event_type`` always occupies
    the first offset block (measurement index 1); metadata measurements
    follow in ``vocabs`` insertion order.

    Time is minutes since each subject's first selected event (W3,
    event_stream_pytorch_dataset.py:296-310).
    """
    # Materialize ALL vocabularies in ONE eager job and compute every
    # block size in ONE grouped collect (localCheckpoint, not .cache():
    # a plan-keyed cache would be silently shared with the next
    # identical invocation in-session). Without materialization a
    # build_vocabulary plan (3 scans of its source) executes ~4x per
    # tensorize call; r12 additionally folded the per-vocab
    # localCheckpoint + per-vocab .count() driver actions (4-6 Spark
    # jobs per call, each paying job/AQE scheduling overhead) into a
    # tagged union — the same vocabulary subtrees run once, inside a
    # single job, and one small aggregate yields every size.
    _STATIC_TAG = "\x00__static__"

    def _tag(tag_name: str, v: DataFrame) -> DataFrame:
        freq_col = (
            F.col("freq").cast("double")
            if "freq" in v.columns
            else F.lit(None).cast("double")
        )
        return v.select(
            F.lit(tag_name).alias("_vocab_name"),
            F.col("element").cast("string").alias("element"),
            freq_col.alias("freq"),
            F.col("idx").cast("int").alias("idx"),
        )

    _names = list(vocabs)
    tagged = None
    for name, v in vocabs.items():
        tv = _tag(name, v)
        tagged = tv if tagged is None else tagged.unionByName(tv)
    if static_vocab is not None:
        tagged = tagged.unionByName(_tag(_STATIC_TAG, static_vocab))
    tagged = tagged.localCheckpoint()
    vocabs = {
        name: tagged.filter(F.col("_vocab_name") == name).drop("_vocab_name")
        for name in _names
    }
    if static_vocab is not None:
        static_vocab = tagged.filter(
            F.col("_vocab_name") == _STATIC_TAG
        ).drop("_vocab_name")

    # block sizes: event_type has no UNK slot; metadata vocabs keep it
    _size_rows = (
        tagged.groupBy("_vocab_name")
        .agg(
            F.count(F.lit(1)).alias("_n_all"),
            F.count(F.when(F.col("element") != UNK, F.lit(1))).alias(
                "_n_non_unk"
            ),
        )
        .collect()
    )
    _n_all = {r["_vocab_name"]: r["_n_all"] for r in _size_rows}
    _n_non_unk = {r["_vocab_name"]: r["_n_non_unk"] for r in _size_rows}
    sizes = {"event_type": _n_non_unk.get("event_type", 0)}
    meas_index = {"event_type": 1}
    for i, name in enumerate(n for n in _names if n != "event_type"):
        sizes[name] = _n_all.get(name, 0)
        meas_index[name] = i + 2
    offsets = assign_measurement_offsets(sizes)

    # --- per-event: event_type entry ---------------------------------
    # vocab idx is 1-based for elements; event_type local idx = idx-1
    et_map = vocabs["event_type"].filter(F.col("element") != UNK).select(
        F.col("element").alias("event_type"),
        (F.col("idx") - 1 + F.lit(offsets["event_type"])).alias("_gidx"),
    )
    ev = events.join(F.broadcast(et_map), "event_type", "left").select(
        "event_id",
        "subject_id",
        "timestamp",
        # unseen event type: no UNK slot exists — global padding sentinel
        F.coalesce(F.col("_gidx"), F.lit(0)).alias("_et_idx"),
    )

    # --- per-event: metadata entries ---------------------------------
    md = metadata.select("metadata_id", "event_id", measurement_col, element_col, value_col)
    maps = None
    for name, vocab in vocabs.items():
        if name == "event_type":
            continue
        vm = vocab.filter(F.col("element") != UNK).select(
            F.col("element").alias(element_col),
            (F.col("idx") + F.lit(offsets[name])).alias("_gidx"),
        ).withColumn(measurement_col, F.lit(name))
        maps = vm if maps is None else maps.unionByName(vm)
    if maps is not None:
        md = md.join(F.broadcast(maps), [measurement_col, element_col], "left")
    else:
        md = md.withColumn("_gidx", F.lit(None).cast("int"))

    mi_expr = F.lit(None).cast("int")
    off_expr = F.lit(0)
    for name, mi in meas_index.items():
        if name == "event_type":
            continue
        mi_expr = F.when(F.col(measurement_col) == name, F.lit(mi)).otherwise(mi_expr)
        off_expr = F.when(F.col(measurement_col) == name, F.lit(offsets[name])).otherwise(off_expr)
    md = (
        # OOV element → the measurement's own UNK slot at offset+0
        md.withColumn("_gidx", F.coalesce(F.col("_gidx"), off_expr))
        .withColumn("_mi", mi_expr)
        .withColumn(value_col, nullify_nonfinite(F.col(value_col)))
    )

    per_event_md = md.groupBy("event_id").agg(
        F.sort_array(
            F.collect_list(F.struct("metadata_id", F.col("_gidx"), F.col(value_col), F.col("_mi")))
        ).alias("_entries")
    )

    ev = ev.join(per_event_md, "event_id", "left")
    empty = F.array().cast("array<struct<metadata_id:long,_gidx:int,value:double,_mi:int>>")
    entries = F.coalesce(F.col("_entries"), empty)
    ev = ev.select(
        "event_id",
        "subject_id",
        "timestamp",
        F.concat(
            F.array(F.struct(
                F.lit(-1).cast("long").alias("metadata_id"),
                F.col("_et_idx").cast("int").alias("_gidx"),
                F.lit(None).cast("double").alias("value"),
                F.lit(1).cast("int").alias("_mi"),
            )),
            entries,
        ).alias("_entries"),
    )

    if min_seq_len is not None:
        ev = filter_min_seq_len(ev, min_seq_len)

    # --- per-subject assembly ----------------------------------------
    per_subject = ev.groupBy("subject_id").agg(
        F.min("timestamp").alias("start_time"),
        F.sort_array(
            F.collect_list(F.struct("timestamp", "event_id", F.col("_entries")))
        ).alias("_seq"),
    )
    t0 = F.col("start_time")
    out = per_subject.select(
        "subject_id",
        "start_time",
        F.transform(
            "_seq",
            lambda x: (
                F.unix_micros(x["timestamp"].cast("timestamp"))
                - F.unix_micros(t0.cast("timestamp"))
            ) / F.lit(time_unit_seconds * 1_000_000.0),
        ).alias("time"),
        F.transform(
            "_seq", lambda x: F.transform(x["_entries"], lambda e: e["_gidx"])
        ).alias("dynamic_indices"),
        F.transform(
            "_seq", lambda x: F.transform(x["_entries"], lambda e: e["value"])
        ).alias("dynamic_values"),
        F.transform(
            "_seq", lambda x: F.transform(x["_entries"], lambda e: e["_mi"])
        ).alias("dynamic_measurement_indices"),
    )

    # --- static indices ----------------------------------------------
    if static_df is not None and static_vocab is not None and static_col is not None:
        soff = max(o + sizes[n] for n, o in offsets.items())
        # static measurement index follows the dynamic ones (golden:
        # buzz → 6 after event_type..time_of_day 1..5)
        smi = max(meas_index.values()) + 1
        smap = static_vocab.filter(F.col("element") != UNK).select(
            F.col("element").alias(static_col),
            (F.col("idx") + F.lit(soff)).alias("_gidx"),
        )
        stat = (
            static_df.join(F.broadcast(smap), static_col, "left")
            .groupBy("subject_id")
            .agg(
                F.sort_array(
                    # OOV static value → the static block's UNK slot
                    F.collect_list(F.coalesce(F.col("_gidx"), F.lit(soff)))
                ).alias("static_indices")
            )
        )
        out = out.join(stat, "subject_id", "left").withColumn(
            "static_indices", F.coalesce(F.col("static_indices"), F.array().cast("array<int>"))
        ).withColumn(
            "static_measurement_indices",
            F.transform("static_indices", lambda _: F.lit(smi)),
        )
    return out


def export_tensorized(df: DataFrame, path: str) -> None:
    """Write the export relation for DataLoader consumption."""
    df.write.mode("overwrite").parquet(path)


def pad_sequences(
    df: DataFrame,
    max_seq_len: int,
    side: str = "right",
    nested_cols: tuple[str, ...] = (
        "dynamic_indices",
        "dynamic_values",
        "dynamic_measurement_indices",
    ),
) -> DataFrame:
    """W7: fixed-length sequence padding of the export relation
    (seq_padding_side, config.py:29-41; collate padding,
    event_stream_pytorch_dataset.py:444-567).

    Sequences longer than ``max_seq_len`` are truncated (keep the first
    L events — apply the W6 random window upstream for sampled
    truncation); shorter ones are padded on ``side`` with 0.0 times and
    empty entry arrays. ``event_mask`` marks real positions. The
    within-event entry dimension stays ragged — dense [L×M] padding is
    the DataLoader's concern.
    """
    if side not in ("left", "right"):
        raise ValueError(f"side must be left|right, got {side!r}")
    L = F.lit(max_seq_len)
    n = F.least(F.size(F.col("time")), L)
    pad_n = L - n

    def padded(col: str, fill):
        body = F.slice(F.col(col), 1, max_seq_len)
        pad = F.array_repeat(fill, pad_n.cast("int"))
        return F.concat(pad, body) if side == "left" else F.concat(body, pad)

    mask_body = F.array_repeat(F.lit(True), n.cast("int"))
    mask_pad = F.array_repeat(F.lit(False), pad_n.cast("int"))
    mask = (
        F.concat(mask_pad, mask_body) if side == "left" else F.concat(mask_body, mask_pad)
    )

    # single withColumns: every expression's length terms must resolve
    # against the ORIGINAL time column, not an already-padded one
    new_cols = {"event_mask": mask, "time": padded("time", F.lit(0.0))}
    for c in nested_cols:
        if c in df.columns:
            elem_type = df.schema[c].dataType.elementType
            new_cols[c] = padded(c, F.array().cast(elem_type))
    return df.withColumns(new_cols)


def tensorize_tasks(
    events: DataFrame,
    metadata: DataFrame,
    vocabs: dict[str, DataFrame],
    task_df: DataFrame,
    **tensorize_kwargs,
) -> DataFrame:
    """E3 task path (event_stream_pytorch_dataset.py:239-292): one
    output sequence per TASK ROW — events restricted to the row's
    [start_time, end_time] window (J5, inclusive both ends), sequence
    time measured from the window's first selected event (W3).

    Implemented by re-keying: each task row gets a surrogate id that
    temporarily plays the ``subject_id`` role through :func:`tensorize`
    (events overlapping k windows are legitimately replicated k times);
    the output rejoins the real subject and label columns. Task tables
    are one row per prediction window and can be huge, so the surrogate
    id goes through the size-gated ``dense_ids`` (``auto`` strategy) —
    no global-window numbering on large task tables.
    """
    from eventstreamml_spark.operators.windows import dense_ids

    label_cols = [
        c for c in task_df.columns if c not in ("subject_id", "start_time", "end_time")
    ]
    tasks = dense_ids(
        task_df,
        ["subject_id", "start_time", "end_time", *label_cols],
        "_task_id",
    ).withColumn("_task_id", F.col("_task_id") + F.lit(1))
    t, e = tasks.alias("t"), events.alias("e")
    sel = e.join(
        t,
        (F.col("e.subject_id") == F.col("t.subject_id"))
        & F.col("e.timestamp").between(F.col("t.start_time"), F.col("t.end_time")),
        "inner",
    ).select(
        F.col("e.event_id"),
        F.col("t._task_id").alias("subject_id"),  # surrogate grouping key
        F.col("e.timestamp"),
        F.col("e.event_type"),
    )
    out = tensorize(sel, metadata, vocabs, **tensorize_kwargs)
    back = tasks.select(
        F.col("_task_id").alias("subject_id"),
        F.col("subject_id").alias("task_subject_id"),
        "start_time",
        "end_time",
        *label_cols,
    ).withColumnRenamed("start_time", "window_start").withColumnRenamed(
        "end_time", "window_end"
    )
    return (
        out.withColumnRenamed("start_time", "seq_start_time")
        .join(F.broadcast(back), "subject_id")
        .withColumnRenamed("subject_id", "task_id")
        .withColumnRenamed("task_subject_id", "subject_id")
    )
