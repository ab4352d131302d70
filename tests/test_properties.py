"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY §5 notes it has none): invariants that must hold for
arbitrary inputs, not just the golden cases.

Spark-backed properties keep ``max_examples`` small (a Spark job per
example); pure-python properties run at full strength.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from eventstreamml_spark.operators.setops import _KNUTH, _MOD
from eventstreamml_spark.preprocessing.outliers import VarianceImpactOutlierDetector

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


# --- VIOD invariants (pure numpy — full strength) ---------------------
@given(st.lists(finite, min_size=2, max_size=300))
@settings(max_examples=200, deadline=None)
def test_viod_bounds_bracket_survivors(xs):
    """After fit, at least one training point lies within the open
    interval OR the detector degenerated (all-outliers edge); bounds
    are always ordered."""
    x = np.asarray(xs)
    det = VarianceImpactOutlierDetector().fit(x)
    assert det.thresh_small_ <= det.thresh_large_
    pred = det.predict(x)
    inl = x[(x > det.thresh_small_) & (x < det.thresh_large_)]
    assert (pred == 1).sum() == len(inl)  # predict ≡ the bound predicate


@given(st.lists(finite, min_size=5, max_size=200), st.integers(0, 10))
@settings(max_examples=100, deadline=None)
def test_viod_fit_is_deterministic(xs, shift):
    """Same data ⇒ same thresholds, regardless of input order."""
    x = np.asarray(xs)
    rng = np.random.default_rng(shift)
    d1 = VarianceImpactOutlierDetector().fit(x)
    d2 = VarianceImpactOutlierDetector().fit(rng.permutation(x))
    assert math.isclose(d1.thresh_small_, d2.thresh_small_, rel_tol=1e-9, abs_tol=1e-9)
    assert math.isclose(d1.thresh_large_, d2.thresh_large_, rel_tol=1e-9, abs_tol=1e-9)


# --- split hash (pure) ------------------------------------------------
@given(st.integers(0, 2**40), st.integers(0, 1000))
@settings(max_examples=500, deadline=None)
def test_split_hash_unit_interval_and_deterministic(sid, seed):
    h = ((sid % _MOD) + seed) * _KNUTH % _MOD
    u = h / _MOD
    assert 0.0 <= u < 1.0
    h2 = ((sid % _MOD) + seed) * _KNUTH % _MOD
    assert h == h2


def test_split_hash_approximately_uniform():
    us = np.array([((i % _MOD) + 7) * _KNUTH % _MOD / _MOD for i in range(20000)])
    hist, _ = np.histogram(us, bins=10, range=(0, 1))
    assert (np.abs(hist / 20000 - 0.1) < 0.02).all()


# --- drop/censor truth property (Spark, small example count) ----------
@given(
    lo=st.none() | st.floats(-50, 0, allow_nan=False),
    hi=st.none() | st.floats(0, 50, allow_nan=False),
    lo_inc=st.booleans(),
    hi_inc=st.booleans(),
    clo=st.none() | st.floats(-30, 0, allow_nan=False),
    chi=st.none() | st.floats(0, 30, allow_nan=False),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_drop_censor_matches_reference_semantics(spark, lo, hi, lo_inc, hi_inc, clo, chi):
    """The when-chain equals the reference's sequential rule
    (event_stream_dataset.py:152-211) for arbitrary bound configs:
    drop checks strictly precede censor checks; null bounds no-op."""
    from eventstreamml_spark.operators.filters import drop_or_censor

    vals = [None] + [float(v) for v in np.linspace(-60, 60, 41)]
    if lo is not None:
        vals += [lo, math.nextafter(lo, -math.inf), math.nextafter(lo, math.inf)]
    if hi is not None:
        vals += [hi, math.nextafter(hi, -math.inf), math.nextafter(hi, math.inf)]

    def ref(v):
        if v is None:
            return None
        if lo is not None and (v < lo or (lo_inc and v == lo)):
            return None
        if hi is not None and (v > hi or (hi_inc and v == hi)):
            return None
        if clo is not None and v < clo:
            return clo
        if chi is not None and v > chi:
            return chi
        return v

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    out = {
        r["i"]: r["res"]
        for r in df.select(
            "i",
            drop_or_censor(
                F.col("v"),
                drop_lower_bound=lo,
                drop_lower_bound_inclusive=lo_inc,
                drop_upper_bound=hi,
                drop_upper_bound_inclusive=hi_inc,
                censor_lower_bound=clo,
                censor_upper_bound=chi,
            ).alias("res"),
        ).collect()
    }
    for i, v in enumerate(vals):
        expected = ref(v)
        got = out[i]
        if expected is None:
            assert got is None, (v, got)
        else:
            assert got == pytest.approx(expected), (v, got, expected)


# --- vocabulary UNK-fold mass conservation (Spark) --------------------
@given(st.lists(st.integers(1, 30), min_size=1, max_size=8), st.floats(0.0, 0.6))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_vocab_fold_conserves_mass(spark, counts, tau):
    """filter_vocabulary: UNK.freq + Σ kept == Σ original element freqs,
    and kept ranks stay dense from 1."""
    from eventstreamml_spark.vocabulary import build_vocabulary, filter_vocabulary

    rows = [(f"e{i}",) for i, c in enumerate(counts) for _ in range(c)]
    df = spark.createDataFrame(rows, "element string")
    vocab = build_vocabulary(df, "element")
    filtered = filter_vocabulary(vocab, tau).collect()
    unk = [r for r in filtered if r["element"] == "UNK"][0]
    kept = [r for r in filtered if r["element"] != "UNK"]
    total = unk["freq"] + sum(r["freq"] for r in kept)
    assert total == pytest.approx(1.0)
    assert sorted(r["idx"] for r in kept) == list(range(1, len(kept) + 1))
    assert all(r["freq"] >= tau for r in kept)


# --- near-dup group collapse ≡ union-find (Spark) ---------------------
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda p: p[0] != p[1]),
        min_size=0,
        max_size=20,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_near_dup_groups_equals_union_find(spark, edges):
    """Distributed min-label propagation must agree with a sequential
    union-find on arbitrary pair graphs (including isolated nodes)."""
    from eventstreamml_spark.operators.dedup import near_dup_groups

    ids = list(range(15))
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: min(j for j in ids if find(j) == find(i)) for i in ids}

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long"
    )
    if not edges:
        pairs = pairs.filter(F.col("id_a") != F.col("id_b"))
    all_ids = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["group_id"]
        for r in near_dup_groups(pairs, all_ids=all_ids).collect()
    }
    assert got == expected


# --- as-of join vs quadratic reference model (Spark) ------------------
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)), min_size=0, max_size=25
    ),
    strict=st.booleans(),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_as_of_join_matches_quadratic_model(spark, left, right, strict):
    """The single-shuffle carry-forward as-of join equals the obvious
    O(L·R) per-row scan for arbitrary key/timestamp multisets: per left
    row, the payload of the latest right row at-or-before (or strictly
    before) its timestamp. Right rows are deduplicated per (key, ts)
    keeping the max payload, matching the operator's tie contract."""
    from eventstreamml_spark.operators.joins import as_of_join

    # dedup right per (k, ts) — the operator's documented precondition
    best: dict[tuple[int, int], int] = {}
    for i, (k, ts) in enumerate(right):
        best[(k, ts)] = max(best.get((k, ts), -1), 1000 + i)
    r_rows = [(k, ts, p) for (k, ts), p in best.items()]
    l_rows = [(i, k, ts) for i, (k, ts) in enumerate(left)]

    def model(k, ts):
        cands = [
            (rts, p)
            for (rk, rts, p) in r_rows
            if rk == k and (rts < ts if strict else rts <= ts)
        ]
        return max(cands)[1] if cands else None

    ldf = spark.createDataFrame(l_rows, "lid long, k long, ts long")
    rdf = spark.createDataFrame(
        r_rows or [(0, 0, 0)], "k long, ts long, payload long"
    )
    if not r_rows:
        rdf = rdf.filter(F.lit(False))
    out = {
        r["lid"]: r["payload"]
        for r in as_of_join(
            ldf, rdf, keys=["k"], left_ts="ts", right_ts="ts", strict=strict
        ).collect()
    }
    assert len(out) == len(l_rows)
    for lid, k, ts in l_rows:
        assert out[lid] == model(k, ts), (lid, k, ts, strict)


# --- forward/tolerance as-of vs quadratic model (Spark) ---------------
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)), min_size=1, max_size=20
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)), min_size=0, max_size=20
    ),
    strict=st.booleans(),
    tol=st.one_of(st.none(), st.integers(0, 15)),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_as_of_join_forward_tolerance_matches_model(spark, left, right, strict, tol):
    """Forward direction + tolerance equals the O(L·R) scan: earliest
    right row at-or-after (strictly after when strict), payload nulled
    beyond the tolerance window."""
    from eventstreamml_spark.operators.joins import as_of_join

    best: dict[tuple[int, int], int] = {}
    for i, (k, ts) in enumerate(right):
        best[(k, ts)] = max(best.get((k, ts), -1), 1000 + i)
    r_rows = [(k, ts, p) for (k, ts), p in best.items()]
    l_rows = [(i, k, ts) for i, (k, ts) in enumerate(left)]

    def model(k, ts):
        cands = [
            (rts, p)
            for (rk, rts, p) in r_rows
            if rk == k and (rts > ts if strict else rts >= ts)
        ]
        if not cands:
            return None
        rts, p = min(cands)
        if tol is not None and abs(rts - ts) > tol:
            return None
        return p

    ldf = spark.createDataFrame(l_rows, "lid long, k long, ts long")
    rdf = spark.createDataFrame(
        r_rows or [(0, 0, 0)], "k long, ts long, payload long"
    )
    if not r_rows:
        rdf = rdf.filter(F.lit(False))
    out = {
        r["lid"]: r["payload"]
        for r in as_of_join(
            ldf, rdf, keys=["k"], left_ts="ts", right_ts="ts",
            strict=strict, direction="forward",
            tolerance_s=float(tol) if tol is not None else None,
        ).collect()
    }
    assert len(out) == len(l_rows)
    for lid, k, ts in l_rows:
        assert out[lid] == model(k, ts), (lid, k, ts, strict, tol)


# --- round-6 final batch: KM / Wasserstein / Kendall invariants -------
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.booleans()),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_kaplan_meier_matches_pure_python(spark, data):
    """KM survival at every event time equals the textbook
    product-limit computed by a direct python loop."""
    from eventstreamml_spark.operators.stats import kaplan_meier

    df = spark.createDataFrame(
        [(t, int(ob)) for t, ob in data], "duration int, observed int"
    )
    got = {r["t"]: r for r in kaplan_meier(df).collect()}

    # reference: iterate distinct times ascending
    from collections import Counter

    exits = Counter(t for t, _ in data)
    events = Counter(t for t, ob in data if ob)
    n_at_risk = len(data)
    s = 1.0
    for t in sorted(exits):
        d = events.get(t, 0)
        if d:
            s *= 1.0 - d / n_at_risk
            row = got[t]
            assert row["n_at_risk"] == n_at_risk
            assert row["n_events"] == d
            assert abs(row["survival"] - round(s, 6)) <= 1e-6
        n_at_risk -= exits[t]
    assert set(got) == {t for t in events if events[t] > 0}


@given(
    st.lists(st.integers(-50, 50), min_size=1, max_size=30),
    st.lists(st.integers(-50, 50), min_size=1, max_size=30),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_wasserstein_grid_matches_sorted_quantile_form(spark, xs, ys):
    """On integer-valued data the grid W1 equals the classic
    sorted-sample form when the samples have equal size, and is always
    symmetric and non-negative."""
    from eventstreamml_spark.operators.stats import wasserstein_grid

    rows = [(float(x), 0) for x in xs] + [(float(y), 1) for y in ys]
    df = spark.createDataFrame(rows, "value double, arm int")
    w1 = wasserstein_grid(df, grid_dp=0).collect()[0]["w1"]
    df2 = spark.createDataFrame(
        [(v, 1 - a) for v, a in rows], "value double, arm int"
    )
    w1_sym = wasserstein_grid(df2, grid_dp=0).collect()[0]["w1"]
    assert w1 == w1_sym and w1 >= 0.0
    if len(xs) == len(ys):
        ref = sum(abs(a - b) for a, b in zip(sorted(xs), sorted(ys))) / len(xs)
        assert abs(w1 - round(ref, 6)) <= 1e-6


@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.integers(0, 1000)),
        min_size=2,
        max_size=15,
        unique_by=lambda p: p,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_kendall_tau_matches_itertools(spark, scores):
    """Per-group tau-a equals the brute-force pair count."""
    from itertools import combinations

    from eventstreamml_spark.operators.evalmetrics import kendall_tau_groups

    rows = [("g", i, sa, sb) for i, (sa, sb) in enumerate(scores)]
    df = spark.createDataFrame(rows, "grp string, item int, sa long, sb long")
    row = kendall_tau_groups(df, "grp", "item", "sa", "sb").collect()[0]
    conc = disc = 0
    for (a1, b1), (a2, b2) in combinations(scores, 2):
        s = (a1 - a2) * (b1 - b2)
        conc += s > 0
        disc += s < 0
    k = len(scores)
    assert (row["n_concordant"], row["n_discordant"]) == (conc, disc)
    assert abs(row["kendall_tau"] - round((conc - disc) / (k * (k - 1) / 2), 6)) <= 1e-6


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2)),
        min_size=4,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_cramers_v_matches_full_grid_reference(spark, pairs):
    """V (with the zero-cell correction) equals the textbook chi-square
    over the FULL r x c grid, and lives in [0, 1]."""
    from collections import Counter

    from eventstreamml_spark.operators.stats import cramers_v

    df = spark.createDataFrame(
        [(str(a), b) for a, b in pairs], "x string, y int"
    )
    row = cramers_v(df, "x", "y").collect()[0]

    n = len(pairs)
    obs = Counter((str(a), b) for a, b in pairs)
    rows_ = Counter(str(a) for a, _ in pairs)
    cols_ = Counter(b for _, b in pairs)
    chi2 = sum(
        (obs.get((r_, c_), 0) - rows_[r_] * cols_[c_] / n) ** 2
        / (rows_[r_] * cols_[c_] / n)
        for r_ in rows_
        for c_ in cols_
    )
    assert abs(row["chi2"] - round(chi2, 6)) <= 1e-6
    if min(len(rows_), len(cols_)) > 1:
        v = (chi2 / (n * (min(len(rows_), len(cols_)) - 1))) ** 0.5
        assert abs(row["cramers_v"] - round(v, 6)) <= 1e-6
        assert -1e-9 <= row["cramers_v"] <= 1.0 + 1e-9
    else:
        assert row["cramers_v"] is None


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2)),
        min_size=2,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_cohens_kappa_matches_reference(spark, pairs):
    """Kappa equals the direct p_o/p_e formula over marginals of
    classes seen in either role; bounded above by 1."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from eventstreamml_spark.operators.evalmetrics import cohens_kappa

    def round6(x):
        # Spark's F.round rounds the double's shortest decimal form half
        # up; Python's round() rounds its binary value half to even, so
        # at a 7th-digit tie (0.4765625) the two land 1e-6 apart.
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "label string, pred string"
    )
    row = cohens_kappa(df).collect()[0]
    n = len(pairs)
    po = sum(1 for a, b in pairs if a == b) / n
    rows_ = Counter(str(a) for a, _ in pairs)
    cols_ = Counter(str(b) for _, b in pairs)
    pe = sum(
        rows_.get(k, 0) * cols_.get(k, 0)
        for k in set(rows_) | set(cols_)
    ) / (n * n)
    assert abs(row["p_observed"] - round6(po)) <= 1e-6
    assert abs(row["p_expected"] - round6(pe)) <= 1e-6
    if abs(1 - pe) > 1e-12:
        kap = (po - pe) / (1 - pe)
        assert abs(row["kappa"] - round6(kap)) <= 1e-6
        assert row["kappa"] <= 1.0 + 1e-9
    else:
        assert row["kappa"] is None


# --- late-batch operator math (pure python — full strength) -----------
#
# These guard the THEOREMS the round-8 late-batch queries rely on, with
# replicas of the exact integer formulas the engine and oracle share.


@given(
    st.lists(
        st.tuples(st.integers(1, 50), st.integers(0, 50)),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=300, deadline=None)
def test_isotonic_minimax_equals_pava(bins):
    """eval_isotonic_calibration computes the isotonic fit as
    iso_i = max_{j<=i} min_{k>=i} mean(y[j..k]) — assert that minimax
    characterization equals classical pool-adjacent-violators for
    arbitrary weighted bins (s <= n enforced)."""
    bins = [(n, min(s, n)) for n, s in bins]
    # stack PAVA
    blocks = [[n, float(s)] for n, s in bins]
    merged: list[list[float]] = []
    for b in blocks:
        merged.append(list(b))
        while len(merged) > 1 and (
            merged[-1][1] * merged[-2][0]
            < merged[-2][1] * merged[-1][0]  # exact cross-multiplied
        ):
            n2, s2 = merged.pop()
            merged[-1][0] += n2
            merged[-1][1] += s2
    pava = []
    for n, s in merged:
        cnt = 0
        while cnt < n:
            # expand one source bin at a time
            take = bins[len(pava)][0]
            pava.append(s / n)
            cnt += take
    # minimax
    m = len(bins)
    pre_n = [0]
    pre_s = [0]
    for n, s in bins:
        pre_n.append(pre_n[-1] + n)
        pre_s.append(pre_s[-1] + s)

    def mean(j, k):  # 1-indexed inclusive
        return (pre_s[k] - pre_s[j - 1]) / (pre_n[k] - pre_n[j - 1])

    for i in range(1, m + 1):
        mini = max(
            min(mean(j, k) for k in range(i, m + 1))
            for j in range(1, i + 1)
        )
        assert math.isclose(mini, pava[i - 1], rel_tol=1e-12, abs_tol=1e-12)


@given(st.lists(st.integers(0, 1000), min_size=8, max_size=120))
@settings(max_examples=200, deadline=None)
def test_integer_centered_acf_equals_classical(xs):
    """ljung_box/pacf center deviations as n*x - T (pure integers);
    the resulting r_k must equal the classical float ACF ratio."""
    n, t = len(xs), sum(xs)
    d = [n * x - t for x in xs]
    s0 = sum(v * v for v in d)
    if s0 == 0:
        return
    mean = t / n
    e = [x - mean for x in xs]
    f0 = sum(v * v for v in e)
    for k in (1, 2, 3):
        sk = sum(d[i] * d[i + k] for i in range(n - k))
        fk = sum(e[i] * e[i + k] for i in range(n - k))
        assert math.isclose(sk / s0, fk / f0, rel_tol=1e-9, abs_tol=1e-9)


@given(st.lists(st.integers(0, 500), min_size=3, max_size=80))
@settings(max_examples=200, deadline=None)
def test_binseg_gain_is_sse_reduction(xs):
    """changepoint_binary_segmentation's prefix-sum gain
    (S_l*n_r - S_r*n_l)^2 / (n_l*n_r*n) must equal
    SSE(all) - SSE(left) - SSE(right) at every split."""

    def sse(seg):
        if not seg:
            return 0.0
        mu = sum(seg) / len(seg)
        return sum((v - mu) ** 2 for v in seg)

    n = len(xs)
    tot = sum(xs)
    pre = 0
    for t in range(1, n):
        pre += xs[t - 1]
        num = pre * (n - t) - (tot - pre) * t
        gain = (float(num) * num) / (float(t) * (n - t) * n)
        direct = sse(xs) - sse(xs[:t]) - sse(xs[t:])
        assert math.isclose(gain, direct, rel_tol=1e-7, abs_tol=1e-6)


@given(st.lists(st.integers(-1000, 1000), min_size=1, max_size=101))
@settings(max_examples=300, deadline=None)
def test_doubled_order_stat_median(xs):
    """The two-middle-rank sum (runs test / Huber / transition waits)
    must equal exactly 2x the statistics.median for integer data."""
    import statistics as pystats

    n = len(xs)
    srt = sorted(xs)
    k1, k2 = (n + 1) // 2, (n + 2) // 2
    m2 = srt[k1 - 1] + srt[k2 - 1]
    assert m2 == pytest.approx(2 * pystats.median(xs), abs=1e-9)


@given(
    st.lists(st.integers(0, 10**6), min_size=3, max_size=60),
    st.integers(1, 10**6),
)
@settings(max_examples=200, deadline=None)
def test_theta_fold_shift_equivariance(ys, c):
    """theta_method: adding a constant c to every daily total shifts
    the SES level and both forecasts by exactly (up to float) c — the
    fold and the OLS trend are both shift-equivariant."""

    def theta(y):
        n = len(y)
        sy = sum(y)
        stt = sum((t + 1) * (t + 1) for t in range(n))
        st_ = n * (n + 1) // 2
        sty = sum((t + 1) * v for t, v in enumerate(y))
        den = n * stt - st_ * st_
        if den == 0:
            return None
        b = (n * sty - st_ * sy) / den
        a = (sy - b * st_) / n
        z = [2 * v - (a + b * (t + 1)) for t, v in enumerate(y)]
        level = z[0]
        for v in z[1:]:
            level = 0.5 * v + 0.5 * level
        return 0.5 * level + 0.5 * (a + b * (n + 1))

    f0 = theta(ys)
    f1 = theta([v + c for v in ys])
    if f0 is None:
        return
    assert math.isclose(f1, f0 + c, rel_tol=1e-9, abs_tol=1e-6 * max(1, c))


@given(st.integers(2, 60), st.integers(1, 6))
@settings(max_examples=200, deadline=None)
def test_hits_integer_iteration_matches_float(n_users, n_types):
    """graph_hits_bipartite runs HITS un-normalized in BIGINT; the
    authority RANKING after 2 half-iterations must match the float
    HITS with L1 normalization (same fixed membership)."""
    edges = {
        (u, u % n_types) for u in range(n_users)
    } | {(u, (u * 7 + 1) % n_types) for u in range(n_users)}
    types = sorted({t for _, t in edges})
    a1 = {t: sum(1 for _, tt in edges if tt == t) for t in types}
    h1 = {
        u: sum(a1[t] for uu, t in edges if uu == u)
        for u in range(n_users)
    }
    a2 = {t: sum(h1[u] for u, tt in edges if tt == t) for t in types}
    # float twin with normalization at each step
    tot1 = sum(a1.values())
    a1f = {t: a1[t] / tot1 for t in types}
    h1f = {u: sum(a1f[t] for uu, t in edges if uu == u) for u in range(n_users)}
    a2f = {t: sum(h1f[u] for u, tt in edges if tt == t) for t in types}
    # hypothesis found the operator's motivating failure mode on its
    # own: exactly-tied integer authorities (458 vs 458) come out of
    # the float twin differing in the last ulp from summation order,
    # silently breaking the tie — which is WHY the query stays in
    # BIGINT. Quantize the float twin before ranking.
    order_int = sorted(types, key=lambda t: (-a2[t], t))
    order_flt = sorted(types, key=lambda t: (-round(a2f[t], 9), t))
    assert order_int == order_flt
