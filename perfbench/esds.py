"""``esds_pipeline``: the E1→E3 lifecycle on generated events.

One op is one full pass:

1. ``EventStreamDataset`` from events, metadata (``lab`` = event type
   with the event value, ``dx`` = the digits of ``props``) and subjects
   (``sex``, ``dob``), plus the ``time_of_day`` and ``age`` functor
   columns;
2. ``EventStreamPreprocessor.fit`` on the train split;
3. ``model.save``, then ``EventStreamPreprocessorModel.load``;
4. ``transform`` with the loaded model;
5. ``tensorize``, then ``export_tensorized`` (a parquet write), the
   op's final action.

The pass is checked on the written parquet, not by re-running it:
rows equal subjects, the sequence lengths sum to the events, every
index is below the total vocabulary size, and the loaded model
transforms exactly as the fitted one did.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from datagen import events_table
from spans import catalyst_phases_ms

#: generated input size: 100k events over 1500 subjects
SCALE = 1.0
SPLITS = {"train": 0.8, "tuning": 0.1, "held_out": 0.1}


def write_inputs(data_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Events, metadata and subjects parquet for one seed; returns the
    counts the checks compare against."""
    rng = np.random.default_rng([seed, 7])
    ev = events_table(rng, scale)
    users = int(pc.max(ev["user_id"]).as_py()) + 1
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(pa.table({
        "event_id": ev["event_id"],
        "subject_id": ev["user_id"],
        "timestamp": ev["ts"],
        "event_type": ev["event_type"],
    }), os.path.join(data_dir, "events.parquet"))
    pq.write_table(pa.table({
        "metadata_id": ev["event_id"],
        "event_id": ev["event_id"],
        "event_type": ev["event_type"],
        "subject_id": ev["user_id"],
        "lab": ev["event_type"],
        "lab_value": ev["value"],
        "dx": pc.replace_substring_regex(ev["props"], r"\D", ""),
    }), os.path.join(data_dir, "metadata.parquet"))
    dob = np.datetime64("1940-01-01", "D") + rng.integers(0, 65 * 365, users)
    pq.write_table(pa.table({
        "subject_id": pa.array(np.arange(users, dtype=np.int64)),
        "sex": pa.array(np.asarray(["F", "M"], dtype=object)[rng.integers(0, 2, users)]),
        "dob": pa.array(dob.astype("datetime64[us]")),
    }), os.path.join(data_dir, "subjects.parquet"))
    return {
        "events": ev.num_rows,
        "subjects": len(pc.unique(ev["user_id"])),
        "event_types": len(pc.unique(ev["event_type"])),
    }


def _digest(df):
    """Order-insensitive digest of a relation: row count and the sum of
    per-row hashes."""
    from pyspark.sql import functions as F

    r = df.select(F.count(F.lit(1)), F.sum(F.hash(*df.columns).cast("long"))).first()
    return tuple(r)


class EsdsWorkload:
    name = "esds_pipeline"
    ops = ["pass"]
    warmup_passes = 1
    nominal_pass_s = 20.0  # 4 cores

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        from eventstreamml_spark.config import DatasetConfig

        self.spark = spark
        self.data_dir = os.path.join(work_dir, f"esds-seed{seed}")
        self.pass_root = os.path.join(work_dir, "esds-passes")
        self.expected = write_inputs(self.data_dir, seed, SCALE)
        self.salt = seed % 1000 + 1
        self.config = DatasetConfig.from_simple_args(
            dynamic_measurement_columns=["dx", ("lab", "lab_value")],
            static_measurement_columns=["sex"],
            time_dependent_measurement_columns=[("tod", "time_of_day"), ("age", "age")],
            min_true_float_frequency=0.1,
            min_unique_numerical_observations=5,
        )
        self.oracle_s = 0.0
        self.oracle_passes = 0  # the DuckDB checks run once per pass
        self._builds = 0

    def build(self, op: str) -> dict:
        """Steps 1-5 up to the ``tensorize`` call."""
        from pyspark.sql import functions as F

        from eventstreamml_spark.dataset import EventStreamDataset
        from eventstreamml_spark.export import tensorize
        from eventstreamml_spark.operators.setops import assign_splits
        from eventstreamml_spark.preprocessing.orchestrate import (
            EventStreamPreprocessor,
            EventStreamPreprocessorModel,
            add_time_dependent_columns,
        )
        from eventstreamml_spark.sources.testdata import load_table
        from eventstreamml_spark.vocabulary import build_vocabulary

        spark, d = self.spark, self.data_dir
        self._builds += 1
        pass_dir = os.path.join(self.pass_root, f"pass{self._builds}")
        ds = EventStreamDataset(
            load_table(spark, d, "events"),
            metadata=load_table(spark, d, "metadata"),
            subjects=load_table(spark, d, "subjects"),
        )
        ds.events = add_time_dependent_columns(ds.events, ds.subjects, self.config)
        split = assign_splits(ds.subjects, SPLITS, seed=self.salt)
        train = ds.restrict_subjects(split.filter(F.col("split") == "train"))
        model = EventStreamPreprocessor(self.config).fit(train)
        model_dir = os.path.join(pass_dir, "model")
        model.save(model_dir)
        loaded = EventStreamPreprocessorModel.load(spark, model_dir)
        obs = loaded.transform(ds)
        vocabs = {
            "event_type": build_vocabulary(ds.events.select("event_type"), "event_type"),
            **loaded.vocabs(),
        }
        out = tensorize(
            ds.events.select("event_id", "subject_id", "timestamp", "event_type"),
            obs.filter(F.col("element").isNotNull()),
            vocabs,
            static_df=ds.subjects,
            static_vocab=loaded.static_vocabs["sex"],
            static_col="sex",
        )
        return {"ds": ds, "model": model, "obs": obs, "out": out,
                "model_dir": model_dir, "out_dir": os.path.join(pass_dir, "tensors")}

    def action(self, state: dict) -> None:
        """Step 5's parquet write."""
        from eventstreamml_spark.export import export_tensorized

        export_tensorized(state["out"], state["out_dir"])

    def inspect(self, op: str, state: dict, _, traced: bool) -> dict:
        out_dir = state["out_dir"]
        result = {
            "rows": self.expected["subjects"],
            "bytes_written": sum(
                os.path.getsize(os.path.join(out_dir, f))
                for f in os.listdir(out_dir)
                if f.endswith(".parquet")
            ),
            "round_trip_equal": _digest(state["model"].transform(state["ds"])) == _digest(state["obs"]),
            "checks": self._check_written(state["model_dir"], out_dir),
        }
        if traced:
            # the write planned its own copy of this plan; planning the
            # relation once more here reads the same Catalyst phases
            state["out"]._jdf.queryExecution().executedPlan()
            result["catalyst_ms"] = catalyst_phases_ms(state["out"])
        shutil.rmtree(self.pass_root, ignore_errors=True)
        return result

    def _check_written(self, model_dir: str, out_dir: str) -> dict:
        """Invariants of the written tensors, read back with DuckDB."""
        import duckdb

        t0 = time.perf_counter()
        conn = duckdb.connect()
        try:
            rows, events, max_idx, min_idx = conn.execute(f"""
                SELECT count(*), sum(len(time)),
                       max(greatest(list_max(flatten(dynamic_indices)),
                                    coalesce(list_max(static_indices), 0))),
                       min(least(list_min(flatten(dynamic_indices)),
                                 coalesce(list_min(static_indices), 0)))
                FROM read_parquet('{out_dir}/*.parquet')""").fetchone()
            # index space: padding 0, event types (no UNK slot), then
            # each measurement's vocabulary with its UNK, then static
            vocab_total = 1 + self.expected["event_types"] + conn.execute(f"""
                SELECT (SELECT count(*) FROM read_parquet('{model_dir}/categorical/vocab/*.parquet'))
                     + (SELECT count(*) FROM read_parquet('{model_dir}/static_vocabs/sex/*.parquet'))
                """).fetchone()[0]
        finally:
            conn.close()
        self.oracle_s += time.perf_counter() - t0
        self.oracle_passes += 1
        return {
            "rows_equal_subjects": rows == self.expected["subjects"],
            "seq_len_sum_equals_events": events == self.expected["events"],
            "indices_below_vocab_size": 0 <= min_idx and max_idx < vocab_total,
        }

    def verify(self, results: list[tuple[str, dict]]) -> list[bool]:
        return [r["round_trip_equal"] and all(r["checks"].values()) for _, r in results]
