"""Round-5 behavior pins: the round-4 advice fixes (welch_ttest
arm-count guard, quantile_sketch all-nonpositive groups,
join_size_estimate empty-overlap zero, bucketed_pair source
freshness), the round-5 operator batch (correctness + plan shapes),
and the round-5 review regression fixes (KS grid parity at bench
scale, null-safe multi-pass joins, null-sentinel feature crossing).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestWelchArmGuard:
    def test_three_arms_nulls_statistic(self, spark):
        from eventstreamml_spark.operators.stats import welch_ttest

        rows = [(a, float(v)) for a in (0, 1, 2) for v in range(10)]
        df = spark.createDataFrame(rows, "arm int, x double")
        out = welch_ttest(df, "arm", "x").collect()
        assert len(out) == 1
        r = out[0]
        assert r["n_arms"] == 3
        assert r["t_stat"] is None
        assert r["welch_dof"] is None
        assert r["mean_diff"] is None

    def test_two_arms_reports_n_arms(self, spark):
        from eventstreamml_spark.operators.stats import welch_ttest

        rows = [(0, 1.0), (0, 2.0), (0, 4.0), (1, 2.0), (1, 5.0), (1, 6.0)]
        df = spark.createDataFrame(rows, "arm int, x double")
        r = welch_ttest(df, "arm", "x").collect()[0]
        assert r["n_arms"] == 2
        assert r["t_stat"] is not None

    def test_constant_arms_null_not_throw(self, spark):
        """Both arms constant: both variances are 0, so t and the
        Welch-Satterthwaite dof divide by exactly 0. ANSI Spark must
        return NULL there, as the DuckDB oracle does, not raise."""
        import duckdb

        from eventstreamml_spark.operators.stats import welch_ttest
        from eventstreamml_spark.queries import oracle_sql

        rows = [(u % 2, 5.0) for u in range(20)]
        df = spark.createDataFrame(rows, "arm int, x double")
        r = welch_ttest(df, "arm", "x").collect()[0]
        assert (r["n_arms"], r["mean_diff"]) == (2, 0.0)
        assert r["t_stat"] is None and r["welch_dof"] is None

        conn = duckdb.connect()
        conn.execute(
            "CREATE TABLE events AS SELECT u AS user_id, 5.0::DOUBLE AS value "
            "FROM range(20) t(u)"
        )
        cur = conn.execute(oracle_sql()["ab_welch_ttest"])
        d = dict(zip([c[0] for c in cur.description], cur.fetchall()[0]))
        conn.close()
        assert (d["n_arms"], d["mean_diff"]) == (2, 0.0)
        assert d["t_stat"] is None and d["welch_dof"] is None


class TestQuantileSketchAllNonpos:
    def test_all_nonpos_group_still_emitted(self, spark):
        from eventstreamml_spark.operators.sketches import quantile_sketch

        rows = [("pos", float(v)) for v in range(1, 21)]
        rows += [("nonpos", -1.0), ("nonpos", 0.0), ("nonpos", -7.5)]
        df = spark.createDataFrame(rows, "g string, value double")
        out = quantile_sketch(df, "value", "g", probs=[0.5, 0.9])
        got = {(r["g"], r["p"]): r for r in out.collect()}
        assert ("nonpos", 0.5) in got and ("nonpos", 0.9) in got
        r = got[("nonpos", 0.5)]
        assert r["estimate"] is None
        assert r["n_pos"] == 0
        assert r["n_nonpos"] == 3
        # the positive group is unaffected
        assert got[("pos", 0.5)]["estimate"] is not None
        assert got[("pos", 0.5)]["n_pos"] == 20


class TestJoinSizeEstimateEmpty:
    def test_disjoint_keys_estimate_zero(self, spark):
        from eventstreamml_spark.operators.sketches import join_size_estimate

        left = spark.createDataFrame([("a",), ("b",)], "k string")
        right = spark.createDataFrame([("a",), ("b",)], "j string")
        # force zero bucket overlap by using 1 bucket on an empty side
        empty_right = right.filter(F.lit(False))
        r = join_size_estimate(left, empty_right, "k", "j").collect()[0]
        assert r["estimate"] == 0
        assert r["exact"] == 0


class TestBucketedPairFreshness:
    def test_source_mtime_change_yields_fresh_table(self, spark, tmp_path):
        import os
        import time

        from eventstreamml_spark.operators.storage import bucketed_pair

        src = tmp_path / "src.parquet"
        spark.range(10).select(
            F.col("id").alias("k"), F.lit(1).alias("v")
        ).write.parquet(str(src))
        df1 = spark.read.parquet(str(src))
        l1, _ = bucketed_pair(
            spark, df1, df1, "k", cache_tag="fresh-test", src_paths=(str(src),)
        )
        assert l1.agg(F.sum("v")).collect()[0][0] == 10

        time.sleep(1.1)  # ensure a distinct mtime even on coarse filesystems
        spark.range(10).select(
            F.col("id").alias("k"), F.lit(2).alias("v")
        ).write.mode("overwrite").parquet(str(src))
        os.utime(src)
        df2 = spark.read.parquet(str(src))
        l2, _ = bucketed_pair(
            spark, df2, df2, "k", cache_tag="fresh-test", src_paths=(str(src),)
        )
        # stale-reuse bug would return the v=1 table here
        assert l2.agg(F.sum("v")).collect()[0][0] == 20

    def test_missing_src_paths_still_caches_within_session(self, spark):
        from eventstreamml_spark.operators.storage import bucketed_pair

        df = spark.range(5).select(F.col("id").alias("k"))
        l1, r1 = bucketed_pair(spark, df, df, "k", cache_tag="nosrc-test")
        l2, r2 = bucketed_pair(spark, df, df, "k", cache_tag="nosrc-test")
        assert l1.count() == l2.count() == 5


class TestRound5NewOps:
    def test_zipf_head_is_bounded_take_ordered(self, spark):
        from eventstreamml_spark.operators.text import zipf_fit

        docs = spark.createDataFrame(
            [(1, "a a a b b c"), (2, "a b c d e f")], "doc_id long, text string"
        )
        plan = (
            zipf_fit(docs, top_n=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan  # never a global vocab sort
        row = zipf_fit(docs, top_n=3).collect()[0]
        assert row["n_ranks"] == 3
        assert row["slope"] < 0  # frequency decreases with rank

    def test_pca_matches_numpy(self, spark):
        import numpy as np

        from eventstreamml_spark.operators.similarity import pca_top_component

        rng = np.random.default_rng(7)
        base = rng.normal(size=(60, 6))
        base[:, 0] += 3.0 * base[:, 5]  # plant a dominant direction
        rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = pca_top_component(df, "embedding", dim=6, n_iter=12)
        got = {r["i"]: r["loading"] for r in out.collect()}
        v = np.array([got[i] for i in range(6)])

        X = base - base.mean(axis=0)
        C = X.T @ X / (len(base) - 1)
        w, V = np.linalg.eigh(C)
        top = V[:, -1]
        top = top if top[0] >= 0 else -top
        assert np.allclose(v, top, atol=5e-3), (v, top)

    def test_pca_plan_side_no_collect(self, spark):
        # the operator builds a DataFrame lazily: constructing the plan
        # must not launch any job (no .collect()/.first() inside)
        from eventstreamml_spark.operators.similarity import pca_top_component

        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [2.0, 1.0]), (3, [0.5, 0.7])],
            "vec_id long, embedding array<double>",
        )
        _ = pca_top_component(df, "embedding", dim=2, n_iter=2)
        after = tracker.getJobIdsForGroup(None)
        assert len(after) == len(before)

    def test_ks_two_sample_exact_small(self, spark):
        from eventstreamml_spark.operators.stats import ks_two_sample

        # arm0: {1,2,3,4}, arm1: {3,4,5,6} -> D = 0.5 at x in [2,3)
        rows = [(0, 1.0), (0, 2.0), (0, 3.0), (0, 4.0),
                (1, 3.0), (1, 4.0), (1, 5.0), (1, 6.0)]
        df = spark.createDataFrame(rows, "arm int, value double")
        r = ks_two_sample(df, "value", "arm").collect()[0]
        assert r["n_a"] == 4 and r["n_b"] == 4
        assert r["ks_d"] == 0.5

    def test_churn_labels_small(self, spark):
        from eventstreamml_spark.tasks import churn_labels

        rows = [
            (1, "2024-01-30 12:00:00"),  # horizon anchor, active
            (1, "2024-01-29 12:00:00"),
            (2, "2024-01-01 12:00:00"),  # 29 days inactive -> churned
            (3, "2024-01-20 12:00:00"),  # 10 days -> not churned, not recent
        ]
        df = spark.createDataFrame(rows, "user_id long, ts string").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        got = {r["user_id"]: r for r in churn_labels(df).collect()}
        assert got[1]["churned"] is False and got[1]["n_events_recent"] == 2
        assert got[2]["churned"] is True and got[2]["days_inactive"] == 29
        assert got[3]["churned"] is False and got[3]["n_events_recent"] == 0

    def test_rate_alerts_warmup_never_alerts(self, spark):
        from eventstreamml_spark.streaming.ops import rate_alerts

        rows = [
            ("a", i, 10 if i < 5 else 100) for i in range(6)
        ]
        sink = spark.createDataFrame(
            rows, "event_type string, window_start int, n_events long"
        )
        out = {r["window_start"]: r for r in rate_alerts(sink).collect()}
        for i in range(3):  # no 3-window baseline yet
            assert out[i]["alert"] is False
            assert out[i]["trailing_avg"] is None
        assert out[4]["alert"] is False  # 10 vs trailing avg 10
        assert out[5]["alert"] is True  # 100 > 1.5 * avg(10,10,10)

    def test_l_diversity_flags_homogeneous_class(self, spark):
        from eventstreamml_spark.operators.quality import l_diversity_audit

        rows = [(1, "x")] * 5 + [(2, "x"), (2, "y"), (2, "z")]
        df = spark.createDataFrame(rows, "qi int, s string")
        got = {r["qi"]: r for r in l_diversity_audit(df, ["qi"], "s", l=3).collect()}
        assert got[1]["at_risk"] is True and got[1]["l_distinct"] == 1
        assert got[1]["sensitive_entropy"] == 0.0
        assert got[2]["at_risk"] is False and got[2]["l_distinct"] == 3

    def test_session_markov_rows_sum_to_one(self, spark):
        from eventstreamml_spark.queries import queries

        from tests.conftest import SF_SMOKE

        df = queries()["session_markov_transitions"](spark, SF_SMOKE)
        sums = (
            df.groupBy("cur_type").agg(F.round(F.sum("p"), 3).alias("s"))
        ).collect()
        for r in sums:
            assert abs(r["s"] - 1.0) < 0.01  # rounding of 6dp p's


class TestRound5PlanShapes:
    """Pin the documented shuffle shapes of the round-5 operators — a
    regression that adds an exchange is a scale bug even when results
    stay correct."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def _ev(self, spark):
        return spark.range(1000).select(
            (F.col("id") % 7).alias("user_id"),
            (F.col("id") % 5).cast("string").alias("event_type"),
            (F.col("id") % 100 / 3.0).alias("value"),
        )

    def test_ks_single_data_exchange(self, spark):
        from eventstreamml_spark.operators.stats import ks_two_sample

        df = self._ev(spark).select(
            "value", (F.col("user_id") % 2).alias("arm")
        )
        plan = self._plan(ks_two_sample(df, "value", "arm"))
        # one grid groupBy over the data; the CDF windows run on the
        # bounded grid relation (SinglePartition exchange over |grid|)
        assert plan.count("Exchange hashpartitioning") == 1

    def test_spc_broadcasts_stats_not_shuffle_join(self, spark):
        from eventstreamml_spark.operators.stats import spc_control_limits

        plan = self._plan(
            spc_control_limits(self._ev(spark), "value", "event_type")
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_feature_cross_hashes_distinct_not_rows(self, spark):
        from eventstreamml_spark.operators.aggregations import (
            hashed_feature_cross,
        )

        import contextlib
        import io

        df = hashed_feature_cross(self._ev(spark), ["event_type", "user_id"])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        blocks = buf.getvalue().split("\n\n")
        md5_blocks = [b for b in blocks if "md5" in b]
        # md5 runs once per DISTINCT cross: every occurrence lives in a
        # HashAggregate projection over the cross relation, never in the
        # per-row scan-side Project
        assert md5_blocks
        for b in md5_blocks:
            assert b.lstrip().splitlines()[0].endswith("HashAggregate"), b

    def test_churn_single_subject_shuffle_plus_broadcast(self, spark):
        from eventstreamml_spark.tasks import churn_labels

        ev = self._ev(spark).select(
            "user_id",
            F.timestamp_seconds(F.col("value").cast("long") * 86400).alias(
                "ts"
            ),
        )
        plan = self._plan(churn_labels(ev))
        assert plan.count("Exchange hashpartitioning") == 1
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_freshness_single_group_exchange(self, spark):
        from eventstreamml_spark.operators.quality import freshness_lag

        ev = self._ev(spark).select(
            "event_type",
            F.timestamp_seconds(F.col("value").cast("long") * 3600).alias(
                "ts"
            ),
        )
        plan = self._plan(freshness_lag(ev, "ts", "event_type"))
        # one per-group exchange; the global watermark is a window over
        # the |groups| relation, never a second scan of the data
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("HashAggregate") == 2  # one partial+final pair

    def test_pca_gram_stage_is_arrow_map_in_pandas(self, spark):
        from eventstreamml_spark.operators.similarity import pca_top_component

        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [2.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        plan = self._plan(pca_top_component(df, "embedding", dim=2, n_iter=2))
        # Gram partials AND the collapsed single-task power iteration
        # both run Arrow-batched (round-12: the per-iteration
        # join→groupBy→broadcast chain folded into one MapInPandas over
        # the d²-row covariance — no iteration joins remain)
        assert plan.count("MapInPandas") >= 2
        assert "BroadcastHashJoin" not in plan

    def test_novelty_never_pairs_docs(self, spark):
        from eventstreamml_spark.operators.text import ngram_novelty

        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
            "doc_id long, text string",
        )
        plan = self._plan(ngram_novelty(docs))
        # the novelty join is shingle-keyed equi — a doc×doc pairing
        # would plan as nested-loop/cartesian and explode at scale
        assert "NestedLoop" not in plan and "Cartesian" not in plan
        got = {r["doc_id"]: r["novelty"] for r in ngram_novelty(docs).collect()}
        assert got[1] == 1.0  # first doc: everything novel
        assert got[2] < 1.0  # shares 'a b c' with doc 1
        assert got[3] == 1.0  # disjoint vocabulary

    def test_rolling_active_fans_deduped_relation(self, spark):
        from eventstreamml_spark.operators.windows import (
            rolling_distinct_subjects,
        )

        ev = self._ev(spark).select(
            "user_id",
            F.timestamp_seconds(
                (F.col("value") * 86400).cast("long")
            ).alias("ts"),
        )
        plan = self._plan(rolling_distinct_subjects(ev, "user_id", "ts"))
        # the generator (7x fan) must sit ABOVE the dedup aggregate:
        # below it, the explode would multiply the raw log
        gen_pos = plan.find("Generate")
        assert gen_pos != -1
        assert "HashAggregate" in plan[gen_pos:]


class TestReviewRegressionFixes:
    """Pins for the round-5 review findings: grid parity at bench
    scale, NULL-group survival, null-sentinel crossing, loud cache-key
    failures, and construction-time validation."""

    def test_ks_parity_at_bench_scale(self, spark):
        # round-vs-floor grids agreed at sf0.01 by coincidence and
        # diverged at sf0.1 (0.004487 vs 0.004469) — pin the big SF
        from eventstreamml_spark import queries as q
        from tests.oracle import compare

        compare(
            spark,
            "/root/testdata/sf0.1",
            q.queries()["ks_test_value_by_arm"],
            q.oracle_sql()["ks_test_value_by_arm"],
        )

    def test_ks_one_empty_arm_yields_null_not_crash(self, spark):
        from eventstreamml_spark.operators.stats import ks_two_sample

        df = spark.createDataFrame(
            [(0, 1.0), (0, 2.0)], "arm int, value double"
        )
        r = ks_two_sample(df, "value", "arm").collect()[0]
        assert r["n_b"] == 0
        assert r["ks_d"] is None  # try_divide, not ANSI DIVIDE_BY_ZERO

    def test_bootstrap_null_group_keeps_its_ci_row(self, spark):
        from eventstreamml_spark.operators.stats import bootstrap_mean_ci

        rows = [(i, "a" if i % 2 else None, float(i)) for i in range(40)]
        df = spark.createDataFrame(rows, "id long, g string, x double")
        out = bootstrap_mean_ci(df, "x", "id", "g", n_replicates=48)
        groups = {r["g"] for r in out.collect()}
        assert groups == {"a", None}  # multi-pass join must be null-safe

    def test_feature_cross_null_columns_not_conflated(self, spark):
        from eventstreamml_spark.operators.aggregations import (
            hashed_feature_cross,
        )

        df = spark.createDataFrame(
            [("a", None), (None, "a"), ("a", "x")], "c1 string, c2 string"
        )
        out = hashed_feature_cross(df, ["c1", "c2"], n_buckets=1 << 20)
        crosses = {r["example_cross"] for r in out.collect()}
        assert len(crosses) == 3  # ('a',NULL) != (NULL,'a') != ('a','x')

    def test_bucketed_pair_missing_src_path_raises(self, spark):
        from eventstreamml_spark.operators.storage import bucketed_pair

        df = spark.range(3).select(F.col("id").alias("k"))
        with pytest.raises(FileNotFoundError, match="src_paths"):
            bucketed_pair(
                spark, df, df, "k",
                cache_tag="typo-test",
                src_paths=("/no/such/file.parqet",),
            )

    def test_pca_zero_iterations_rejected(self, spark):
        from eventstreamml_spark.operators.similarity import pca_top_component

        df = spark.createDataFrame(
            [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="n_iter"):
            pca_top_component(df, "embedding", dim=2, n_iter=0)
