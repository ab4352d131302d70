"""Registry hygiene: guards that keep every oracle-checked query
digestible by the driver's correctness harness.

The driver's order-insensitive value hash canonicalizes rows through a
pandas sort, which raises ``TypeError: unhashable type: 'list'`` on any
ArrayType/MapType cell (this broke ``sequence_padding`` and
``salted_collect_distinct`` in round 2, CORRECTNESS_r02.json). Queries
registered WITHOUT an oracle get only a row-count check driver-side and
may return arrays; everything with an oracle must emit scalar cells.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql.types import ArrayType, MapType

from eventstreamml_spark import queries as q
from tests.conftest import SF_SMOKE

# Queries whose oracle comparison is known to tolerate array cells.
# Deliberately empty: additions need a driver-hasher upgrade first.
ARRAY_SAFE: frozenset[str] = frozenset()

ORACLE_CASES = sorted(set(q.oracle_sql()) - ARRAY_SAFE)


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_oracle_query_has_scalar_cells_only(spark, name):
    df = q.queries()[name](spark, SF_SMOKE)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    assert not bad, (
        f"{name} returns array/map columns {bad}; the driver hasher cannot "
        "digest list cells — serialize (to_json/array_join) or explode them"
    )


FORBIDDEN_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def _bad_oracle_columns(conn, sql: str) -> list[tuple[str, str]]:
    rel = conn.sql(sql)
    return [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if any(str(t).upper().startswith(ft) for ft in FORBIDDEN_DUCK_TYPES)
    ]


def test_oracle_output_types_are_driver_hashable():
    """DuckDB promotes integer ``sum()`` (plain and windowed) to
    HUGEINT (int128), which the driver's value-hasher digests
    differently from Spark's bigint — CORRECTNESS_r03 flagged three
    value-identical queries red for exactly this. Every oracle must
    bind to driver-hashable types: no HUGEINT/UHUGEINT/DECIMAL columns
    (fix: ``CAST(sum(...) AS BIGINT)`` / ``AS DOUBLE``). Binding is
    lazy — no oracle actually executes here."""
    from tests.oracle import duckdb_conn

    conn = duckdb_conn(SF_SMOKE)
    offenders = {
        name: bad
        for name, sql in q.oracle_sql().items()
        if (bad := _bad_oracle_columns(conn, sql))
    }
    conn.close()
    assert not offenders, (
        f"oracles with driver-unhashable DuckDB output types: {offenders}"
    )


def test_oracle_type_guard_catches_injected_hugeint():
    import duckdb

    conn = duckdb.connect()
    bad = _bad_oracle_columns(conn, "SELECT sum(1) AS s FROM range(3)")
    conn.close()
    assert bad == [("s", "HUGEINT")]


def _pandas_datetime_roundtrip(cols, rows) -> None:
    """Replicate the driver hasher's pandas conversion: build an object
    DataFrame from raw rows and force every datetime-bearing column
    through ns-precision coercion. ``fetchdf()`` is NOT sufficient —
    DuckDB hands back datetime64[us], which happily holds 9999-12-31;
    the driver converts collected python datetimes via
    ``array_to_datetime`` (ns), which overflows past 2262-04-11
    (CORRECTNESS_r04 ``scd2_signup_intervals``)."""
    import datetime as _dt

    import pandas as pd

    df = pd.DataFrame(rows, columns=cols)
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            sample = next((v for v in col if v is not None), None)
            if isinstance(sample, (_dt.datetime, _dt.date)):
                pd.to_datetime(col)  # raises OutOfBoundsDatetime on overflow
        elif str(col.dtype).startswith("datetime64"):
            col.astype("datetime64[ns]")


def _negative_zero_cells(cols, rows) -> list[str]:
    import math as _math

    bad = set()
    for row in rows:
        for c, v in zip(cols, row):
            if isinstance(v, float) and v == 0.0 and _math.copysign(1.0, v) < 0:
                bad.add(c)
    return sorted(bad)


def test_oracle_outputs_survive_pandas_and_have_no_negative_zero():
    """Executes every oracle once at the oracle SF and applies two
    checks to its rows, each with its own offender map:

    - *pandas round trip*: the values (not just the types) survive the
      driver's DuckDB→pandas conversion. An out-of-range timestamp
      (pandas ns ceiling 2262-04-11) fails here locally instead of
      burning a driver window slot. An oracle that fails to execute is
      reported here too.
    - *no negative zero*: IEEE signed zero is engine-unstable. DuckDB's
      ``round()`` preserves ``-0.0`` where Spark's ``F.round`` returns
      ``+0.0``, and the driver's hasher distinguishes the two (round-7
      red row: ``theil_sen_trend_by_subject``, the only wrong answer to
      reach a driver row since round 4 — it shipped through a green
      local sweep because the old comparator normalized ``v == 0 →
      0.0``). Any oracle that rounds a possibly-tiny-negative float
      (slopes, drifts, correlations, diffs) is exposed; the fix is
      ``+ 0.0`` after the round on BOTH engines."""
    from tests.conftest import SF_ORACLE
    from tests.oracle import duckdb_conn

    conn = duckdb_conn(SF_ORACLE)
    unconvertible, negative_zero = {}, {}
    for name, sql in q.oracle_sql().items():
        try:
            res = conn.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            _pandas_datetime_roundtrip(cols, rows)
        except Exception as exc:  # noqa: BLE001 — any conversion failure is a finding
            unconvertible[name] = f"{type(exc).__name__}: {exc}"
            continue
        if bad := _negative_zero_cells(cols, rows):
            negative_zero[name] = bad
    conn.close()
    assert not unconvertible, (
        f"oracles with pandas-unconvertible values: {unconvertible}"
    )
    assert not negative_zero, (
        f"oracles emitting -0.0 cells (add `+ 0.0` after the round on both "
        f"engines): {negative_zero}"
    )


def test_negative_zero_guard_catches_injected_cell():
    import duckdb

    conn = duckdb.connect()
    res = conn.execute("SELECT round(-1e-9, 6) AS z FROM range(2)")
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    conn.close()
    assert _negative_zero_cells(cols, rows) == ["z"]


def test_pandas_roundtrip_guard_catches_out_of_range_timestamp():
    """The guard must fire on the exact sentinel that broke
    ``scd2_signup_intervals`` driver-side."""
    import duckdb

    conn = duckdb.connect()
    res = conn.execute("SELECT TIMESTAMP '9999-12-31 00:00:00' AS t FROM range(3)")
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    conn.close()
    with pytest.raises(Exception, match="9999-12-31"):
        _pandas_datetime_roundtrip(cols, rows)


def test_every_registry_name_appears_in_survey_2_8c():
    """SURVEY §2's inventory is the judge's coverage checklist; a query
    registered here but absent there silently under-reports coverage
    (it drifted mid-round-3, and 6 names drifted out of the §2.8c list
    in round 4 while still matching elsewhere in the file). Every
    registry name must appear in the §2.8c registry block specifically,
    and the §2.8c header counts must equal the registry's."""
    import pathlib

    survey = (
        pathlib.Path(__file__).resolve().parents[1] / "SURVEY.md"
    ).read_text()
    m = re.search(
        r"### 2\.8c Complete oracle-query registry "
        r"\((\d+) queries, (\d+) DuckDB-oracle-checked\)"
        r"(.*?)(?=\n### )",
        survey,
        re.S,
    )
    assert m, "SURVEY.md §2.8c header not found or malformed"
    n_total, n_oracle, block = int(m.group(1)), int(m.group(2)), m.group(3)
    assert n_total == len(q.queries()), (
        f"§2.8c header says {n_total} queries, registry has {len(q.queries())}"
    )
    assert n_oracle == len(q.oracle_sql()), (
        f"§2.8c header says {n_oracle} oracle-checked, "
        f"registry has {len(q.oracle_sql())}"
    )
    listed = set(re.findall(r"`([a-z0-9_]+)`", block))
    missing = sorted(set(q.queries()) - listed)
    assert not missing, f"registry names missing from SURVEY §2.8c: {missing}"


# Names tracked in SURVEY §2's core tables / README by OPERATOR id (S1,
# P2, dedup rows, ...) rather than by query name — they predate the
# §2.8b-row-per-query rule and appear only in §2.8c. FROZEN as of round
# 8: do not add to this list; every new registry name needs a §2.8b (or
# core-table) row mentioning the query name.
SURVEY_ROW_GRANDFATHERED: frozenset[str] = frozenset({
    "age_functor", "age_numeric_preprocess", "ann_cosine_topk",
    "ann_ivf_fixed_centroids", "ann_ivf_topk", "ann_lsh_topk",
    "approx_distinct_users_by_type", "audio_feature_extraction",
    "categorical_fit_vocab", "categorical_oov_transform",
    "csv_ingest_parity", "cube_type_time_histogram",
    "customers_without_orders", "dedup_embedding_near_dup",
    "dedup_groups_keep_list", "dedup_lsh_verified",
    "dedup_minhash_lsh_candidates", "dedup_ngram_jaccard",
    "dedup_simhash_md5", "dedup_simhash_pairs", "doc_binary_metadata",
    "doc_exact_dedup", "doc_fingerprint", "doc_hashing_tf",
    "doc_lang_id", "doc_quality_features", "doc_repetition_signals",
    "doc_tfidf_top_terms", "doc_token_counts",
    "dq_orphaned_order_customers", "dq_profile_events",
    "drop_censor_per_key_bounds", "drop_censor_values",
    "event_type_histogram", "events_per_subject",
    "funnel_click_to_purchase", "image_feature_extraction",
    "ingest_dense_ids", "ingest_explode_metadata_digest",
    "ingest_to_events_digest", "inter_event_time_stats",
    "json_ingest_parity", "macro_avg_value_per_subject",
    "metadata_allnull_col_drop", "metadata_backfill_join",
    "min_seq_len_filter", "multilabel_event_indices",
    "nested_metadata_view", "norm_log_tte_cumsum", "normalize_by_key",
    "nullify_nonfinite", "preproc_value_types",
    "quantile_transform_cdf", "random_subsequence_windows",
    "running_moments_by_type", "running_order_total",
    "salted_collect_distinct", "sequence_padding",
    "split_restricted_histogram", "sql_interface_q6",
    "stratified_sample_events", "subject_split_assignment",
    "subject_split_exact_sizes", "task_label_normalize",
    "task_semijoin_restriction", "task_window_range_join",
    "tensorize_checksums", "tensorize_tasks_checksums",
    "time_of_day_histogram", "time_since_start",
    "topk_parts_per_brand", "tpch_q10_returned_items",
    "tpch_q12_priority_by_linestatus", "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue", "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue", "tpch_q18_large_orders",
    "tpch_q19_disjunctive_revenue", "tpch_q1_pricing_summary",
    "tpch_q21_waiting_supplier", "tpch_q22_idle_customers",
    "tpch_q3_shipping_priority", "tpch_q4_order_priority",
    "tpch_q5_region_revenue", "tpch_q6_forecast_revenue",
    "tpch_q7_nation_volume", "tpch_q8_market_share",
    "tte_stats_by_type", "tte_target_shift", "union_distinct_events",
    "unit_bounds_merge", "value_histogram_bins", "viod_outlier_bounds",
    "vocab_apply_idx", "vocab_event_type", "vocab_words_filtered",
    "weighted_avg_price_by_flag", "zorder_clustering_key",
})


def test_every_new_registry_name_has_a_survey_row_outside_2_8c():
    """Round-7 drift: 17 extension operators got §2.8c names but no
    §2.8b rows — CLAUDE.md's workflow requires BOTH, and the old guard
    checked §2.8c only. Every registry name outside the frozen
    grandfather set must be mentioned (backticked) somewhere in
    SURVEY §2 OTHER than the §2.8c list — i.e. a §2.8b row or a core
    table row."""
    import pathlib

    survey = (
        pathlib.Path(__file__).resolve().parents[1] / "SURVEY.md"
    ).read_text()
    m = re.search(
        r"### 2\.8c Complete oracle-query registry.*?(?=\n### )",
        survey,
        re.S,
    )
    assert m, "SURVEY.md §2.8c block not found"
    outside = survey[: m.start()] + survey[m.end():]
    mentioned = set(re.findall(r"`([a-z0-9_]+)`", outside))
    missing = sorted(
        set(q.queries()) - SURVEY_ROW_GRANDFATHERED - mentioned
    )
    assert not missing, (
        f"registry names with no SURVEY row outside §2.8c (add a §2.8b "
        f"row): {missing}"
    )
    # the grandfather list must stay frozen: a name in it that gained a
    # row should be removed so the freeze shrinks monotonically
    stale = sorted(SURVEY_ROW_GRANDFATHERED - set(q.queries()))
    assert not stale, f"grandfathered names no longer registered: {stale}"


def test_guard_catches_injected_array_query(spark):
    """The guard itself must fire on an array-typed output."""
    from pyspark.sql import functions as F

    df = spark.range(3).select(F.array(F.col("id")).alias("arr"))
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    assert bad == ["arr"]


def test_no_first_row_peeks_in_engine_source():
    """Plan-building functions must not launch driver jobs: no
    ``.first()`` anywhere in the engine source (dims come from
    parameters or schema metadata — similarity.embedding_dim; the only
    sanctioned driver actions are inside fit stages, which use
    sample-capped ``.collect()``)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "eventstreamml_spark"
    offenders = [
        f"{p.relative_to(root.parent)}:{i + 1}"
        for p in sorted(root.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines())
        if ".first()" in line
    ]
    assert not offenders, f".first() row peeks found: {offenders}"


def test_no_cache_or_persist_in_engine_source():
    """No ``.cache()`` / ``.persist(`` calls in engine code: a cache is
    plan-keyed, so a later identical plan in the same session silently
    reuses it (cross-run result reuse), and nothing unpersists it. Pins
    are per-invocation ``localCheckpoint``s. Comments and strings are
    skipped — only code tokens count."""
    import io
    import pathlib
    import tokenize

    root = pathlib.Path(__file__).resolve().parents[1] / "eventstreamml_spark"
    offenders = []
    for p in sorted(root.rglob("*.py")):
        toks = [
            t
            for t in tokenize.generate_tokens(io.StringIO(p.read_text()).readline)
            if t.type in (tokenize.NAME, tokenize.OP)
        ]
        offenders += [
            f"{p.relative_to(root.parent)}:{b.start[0]}"
            for a, b, c in zip(toks, toks[1:], toks[2:])
            if a.string == "." and b.string in ("cache", "persist") and c.string == "("
        ]
    assert not offenders, f".cache()/.persist( calls found: {offenders}"


# Hand-written zero-filled grids that do not fit ``_zero_filled``'s shape
# (the grid is ``c``'s own distinct keys × its min..max bucket span).
HAND_ZERO_FILL = {
    "q_friedman_test_hour_blocks": "grid is days × spark.range(4) blocks",
    "q_page_trend_test_hour_blocks": "grid is days × spark.range(4) blocks",
    "q_bandit_egreedy_daily_replay": "key domain is the broadcast arms table",
    "q_weekday_weekend_lift_by_type": "counts span days, fills nothing",
    "q_cronbach_alpha_hour_types": "broadcast-hinted grid; the builder's "
    "plan carries no hint",
    "q_cross_correlation_click_purchase": "one grid spans every event's "
    "hour and is shared by two count series, neither of which sets it",
    "q_hourly_seasonal_naive_mae": "grid starts 168 buckets after the "
    "first and is joined to the counts twice, once shifted by a season",
}

# One entry per shared query substrate in queries.py: the builder that
# owns it, a pattern for its hand-written form, and the functions
# allowed to keep a hand-written copy, each with its reason. The
# pattern is matched against each top-level function's source with
# whitespace runs collapsed to one space.
SUBSTRATES = {
    "_zero_filled": (r"F\.sequence\(F\.col\(", HAND_ZERO_FILL),
    "_arm_values": (
        r'"user_id % 2 AS arm", "CAST\(floor\(value \* 1000\) AS BIGINT\) AS vm"',
        {},
    ),
    "_hash_graph_edges": (r'F\.col\("user_id"\) % 997|"user_id % 997', {}),
    "_scored_events": (
        r'F\.md5\(F\.col\("event_id"\)\.cast\("string"\)\), 1, 4\), 16, 10\)',
        {},
    ),
    "_h4": (
        r'F\.md5\(F\.concat\(F\.lit\([^()]*\), F\.col\("event_id"\)'
        r'\.cast\("string"\)\)\), 1, 4,',
        {},
    ),
    "_word_counts": (
        r'F\.explode\(F\.split\(F\.lower\(F\.col\("text"\)\), " "\)\)',
        {},
    ),
    "_sessions": (r'alias\("is_start"\)', {}),
}


@pytest.fixture(scope="module")
def queries_functions():
    """``{name: source}`` of every top-level function in queries.py,
    whitespace runs collapsed to one space."""
    import ast
    import pathlib

    src = pathlib.Path(q.__file__).read_text()
    lines = src.splitlines()
    return {
        n.name: re.sub(r"\s+", " ", "\n".join(lines[n.lineno - 1 : n.end_lineno]))
        for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef)
    }


@pytest.mark.parametrize("builder", sorted(SUBSTRATES))
def test_shared_substrate_goes_through_its_builder(queries_functions, builder):
    """A shared substrate is built by its builder: its hand-written
    form appears in no other function of queries.py but the ones the
    builder's allow-list names, each with the reason it stays
    hand-written."""
    pattern, allowed = SUBSTRATES[builder]
    hits = {fn for fn, body in queries_functions.items() if re.search(pattern, body)}
    offenders = sorted(hits - {builder} - set(allowed))
    assert not offenders, f"hand-copied {builder} substrates: {offenders}"
    assert builder in hits, f"{builder}'s pattern no longer matches the builder"
    stale = sorted(set(allowed) - hits)
    assert not stale, f"{builder}'s allow-list names functions with no copy: {stale}"


# Oracles that still spell out an ``_*_SQL`` twin's text by hand, each
# with the reason it stays hand-written.
HAND_SQL_TWIN = {
    "_SHINGLE_SQL": {
        "q_dedup_minhash_jaccard_estimate": "oracle outside the six "
        "consolidated substrates; its text is kept byte-identical",
    },
}

SQL_TWINS = sorted(
    n
    for n, v in vars(q).items()
    if n.startswith("_") and n.endswith("_SQL") and isinstance(v, str)
)


@pytest.fixture(scope="module")
def queries_literals():
    """``{name: [literal, ...]}``: the string literals of every
    top-level function and assigned constant in queries.py,
    whitespace runs collapsed to one space."""
    import ast
    import pathlib

    out = {}
    for node in ast.parse(pathlib.Path(q.__file__).read_text()).body:
        if isinstance(node, ast.FunctionDef):
            label = node.name
        elif isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
            label = node.targets[0].id
        else:
            continue
        out[label] = [
            re.sub(r"\s+", " ", c.value)
            for c in ast.walk(node)
            if isinstance(c, ast.Constant) and isinstance(c.value, str)
        ]
    return out


@pytest.mark.parametrize("twin", SQL_TWINS)
def test_oracles_use_their_sql_twin(queries_literals, twin):
    """An oracle CTE with an ``_*_SQL`` twin in queries.py is written
    through the constant: no other string literal (whitespace runs
    collapsed) spells out the twin's text, except the ones
    ``HAND_SQL_TWIN`` names with a reason."""
    text = re.sub(r"\s+", " ", getattr(q, twin)).strip()
    hits = {
        label
        for label, lits in queries_literals.items()
        if label != twin and any(text in lit for lit in lits)
    }
    allowed = HAND_SQL_TWIN.get(twin, {})
    offenders = sorted(hits - set(allowed))
    assert not offenders, f"hand-copied {twin} text (use the constant): {offenders}"
    stale = sorted(set(allowed) - hits)
    assert not stale, f"HAND_SQL_TWIN[{twin!r}] names definitions with no copy: {stale}"


def test_no_unreferenced_definitions_in_engine_source():
    """Every top-level ``def``/``class``/module constant in engine code
    is referenced from code somewhere: the engine, tests, scripts,
    perfbench, bench.py or the driver entry. References are AST names,
    attributes and imports (f-string expressions included; comments and
    strings are not). ``@register`` queries and dunders are exempt."""
    import ast
    import collections
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    pkg = repo / "eventstreamml_spark"
    defs = {}
    for p in sorted(pkg.rglob("*.py")):
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if any("register" in ast.unparse(d) for d in node.decorator_list):
                    continue
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            else:
                continue
            for n in names:
                if not (n.startswith("__") and n.endswith("__")):
                    defs.setdefault(n, f"{p.relative_to(repo)}:{node.lineno}")
    sources = [
        *pkg.rglob("*.py"),
        *(repo / "tests").rglob("*.py"),
        *(repo / "scripts").rglob("*.py"),
        *(repo / "perfbench").rglob("*.py"),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]
    refs = collections.Counter()
    for p in sources:
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                refs[node.id] += 1
            elif isinstance(node, ast.Attribute):
                refs[node.attr] += 1
            elif isinstance(node, ast.alias):
                refs[node.name.rsplit(".", 1)[-1]] += 1
    dead = sorted(f"{site} {n}" for n, site in defs.items() if not refs[n])
    assert not dead, f"definitions nothing references: {dead}"


def test_no_unused_imports_in_engine_source():
    """Every name an engine module imports, at module level or inside a
    function, is used somewhere in that module as an AST name. Imports
    marked ``# noqa: F401`` (availability probes) and ``__init__.py``
    re-exports are exempt."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    unused = []
    for p in sorted((repo / "eventstreamml_spark").rglob("*.py")):
        if p.name == "__init__.py":
            continue
        src = p.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if any("noqa: F401" in lines[i - 1] for i in range(node.lineno, node.end_lineno + 1)):
                continue
            for a in node.names:
                name = a.asname or a.name.split(".")[0]
                if name not in used:
                    unused.append(f"{p.relative_to(repo)}:{node.lineno} {name}")
    assert not unused, f"unused imports: {unused}"


def test_driver_window_names_resolve():
    """Every name pinned into the driver's 50-entry window must exist in
    the registry (modulo round-3 entries not yet registered), and the
    window must contain every query that has never been driver-verified
    (registry emission positions 0..49)."""
    emitted = list(q.queries())
    registered = set(emitted)
    missing = [n for n in q._ORDER_FIRST if n not in registered]
    assert not missing, f"_ORDER_FIRST names not in registry: {missing}"
    window = set(emitted[:50])
    must_cover = [n for n in q._ORDER_FIRST if n in registered]
    out_of_window = [n for n in must_cover if n not in window][: 50 - len(must_cover)]
    assert len(must_cover) <= 50, "_ORDER_FIRST exceeds the driver's window"
    assert not out_of_window
    # a rows-only query (no oracle) can NEVER go green in the driver's
    # correctness pass — pinning one into the window burns a slot on a
    # guaranteed `err: no_oracle` row (the round-4 lesson)
    oracles = q.oracle_sql() if hasattr(q, "oracle_sql") else {
        n: sql for n, (_, sql) in q._REGISTRY.items() if sql is not None
    }
    rows_only_in_window = [n for n in q._ORDER_FIRST if n not in oracles]
    assert not rows_only_in_window, (
        f"rows-only names waste driver window slots: {rows_only_in_window}"
    )


def test_registration_order_matches_manifest():
    """The live registry's insertion order must start with the pinned
    manifest (registry_order.REGISTRATION_ORDER), name-for-name.

    Window semantics depend on registration order twice over: the
    driver verifies the first 50 emitted names, and each round's
    rotation convention selects "the round-N additions in registration
    order". Splitting queries.py into modules (the round-12 plan) must
    reproduce this exact sequence via import order x in-file order —
    this prefix assertion fails on any reorder, drop, or interleave of
    the pinned names while letting genuinely new registrations append
    after the manifest (fold them into the manifest in the same
    commit, like the README counts)."""
    from eventstreamml_spark.registry_order import REGISTRATION_ORDER

    live = list(q._REGISTRY.keys())
    assert len(live) >= len(REGISTRATION_ORDER), (
        f"registry shrank: {len(live)} live < {len(REGISTRATION_ORDER)} pinned"
    )
    prefix = live[: len(REGISTRATION_ORDER)]
    if prefix != REGISTRATION_ORDER:
        diffs = [
            (i, want, got)
            for i, (want, got) in enumerate(zip(REGISTRATION_ORDER, prefix))
            if want != got
        ][:5]
        raise AssertionError(
            f"registration order diverges from the pinned manifest at: {diffs}"
        )
    unpinned = live[len(REGISTRATION_ORDER):]
    assert not unpinned, (
        "new registrations must be folded into registry_order.py in the "
        f"same commit: {unpinned}"
    )
