"""Law tests for the exact-integer quality/anomaly signals:
token_entropy_profile (operators/quality.py) and rolling_zscore
(operators/temporal.py).  The differential fuzz twins live in
test_differential_fuzz.py; these pin the CLOSED-FORM cases and the
plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from frames_map_reduce_spark.operators.quality import (
    _ENTROPY_SCALE,
    token_entropy_profile,
)
from frames_map_reduce_spark.operators.temporal import rolling_zscore


def _profile_row(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = token_entropy_profile(df, "text", "doc_id").collect()
    assert len(rows) == 1
    return rows[0]


def test_entropy_constant_doc_is_zero(spark):
    """A document that is one token repeated has zero entropy — the
    degenerate-repetition floor the junk filter cuts on.  Exactly zero:
    Σq = n·round(ln(n)·1e6) and the half-up mean cancels the ln(n) term."""
    r = _profile_row(spark, "spam spam spam spam spam spam")
    assert r.entropy_micro == 0
    assert r.n_types == 1 and r.n_tokens == 6


def test_entropy_all_distinct_is_ln_n(spark):
    """All-distinct tokens: every c=1, ln(1)=0, so H = ln(n) exactly in
    quantized micronats."""
    r = _profile_row(spark, "a b c d e f g h")
    assert r.n_tokens == 8 and r.n_types == 8
    assert r.entropy_micro == round(math.log(8) * _ENTROPY_SCALE)
    assert r.ttr == 1.0


def test_entropy_uniform_two_symbol(spark):
    """k symbols × m repeats: H = ln(k) up to the micronat quantization
    (≤ 1 micro-unit of staging error per term)."""
    r = _profile_row(spark, "x y " * 8)
    assert r.n_tokens == 16 and r.n_types == 2
    assert abs(r.entropy_micro - round(math.log(2) * _ENTROPY_SCALE)) <= 1


def test_entropy_tokenless_doc_absent(spark):
    df = spark.createDataFrame([(1, "   "), (2, "ok ok")],
                               "doc_id long, text string")
    out = token_entropy_profile(df, "text", "doc_id")
    assert [r.doc_id for r in out.collect()] == [2]


def test_entropy_single_exchange_plan(spark):
    """Explode → two aggs on the SAME grouping prefix: the (doc, token)
    agg and the per-doc agg must not interpose extra exchanges beyond
    the two-phase pattern, and no Python stages anywhere."""
    from frames_map_reduce_spark.plans import explain_formatted

    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    plan = explain_formatted(token_entropy_profile(df, "text", "doc_id"))
    # "Python" alone would false-positive on createDataFrame's
    # applySchemaToPythonRDD source line — check execution stages only
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan


def _z_frame(spark, values, key="u"):
    rows = [(key, i, i, float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(
        rows, "user string, ts long, event_id long, value double")


def test_zscore_known_answer(spark):
    """Closed-form check: baseline 1..8, then a spike of 100.
    z = (x·n − s)/sqrt(n·ss − s²) on the milli-quantized integers."""
    df = _z_frame(spark, [1, 2, 3, 4, 5, 6, 7, 8, 100])
    out = rolling_zscore(df, "value", "ts", ["user"], "event_id",
                         window=8, min_periods=8)
    rows = {r.event_id: r for r in out.collect()}
    # first 8 rows: fewer than min_periods trailing rows -> NULL
    for i in range(8):
        assert rows[i].z is None
    v = [x * 1000 for x in range(1, 9)]
    n, s, ss = len(v), sum(v), sum(x * x for x in v)
    expect = (100_000 * n - s) / math.sqrt(n * ss - s * s)
    assert rows[8].z == pytest.approx(expect, abs=0)
    assert rows[8].n_window == 8


def test_zscore_spike_does_not_dilute_its_own_baseline(spark):
    """The window excludes the current row: a spike is judged against
    the CLEAN trailing history, the property that makes the gate usable
    for ingestion monitoring (a 100x spike still scores huge)."""
    df = _z_frame(spark, [10, 11, 9, 10, 11, 9, 10, 11, 1000])
    out = rolling_zscore(df, "value", "ts", ["user"], "event_id",
                         window=8, min_periods=8)
    z = {r.event_id: r.z for r in out.collect()}[8]
    assert z is not None and z > 100


def test_zscore_zero_variance_is_null(spark):
    """Constant history: σ = 0 must gate to NULL, not a division blowup."""
    df = _z_frame(spark, [5, 5, 5, 5, 5, 7])
    out = rolling_zscore(df, "value", "ts", ["user"], "event_id",
                         window=5, min_periods=2)
    assert {r.event_id: r.z for r in out.collect()}[5] is None


def test_zscore_keys_do_not_mix(spark):
    """Two users interleaved: each gets its own trailing window."""
    rows = ([("a", i, i, 1.0 + (i % 3)) for i in range(10)]
            + [("b", i, 100 + i, 500.0 + (i % 5)) for i in range(10)])
    df = spark.createDataFrame(
        rows, "user string, ts long, event_id long, value double")
    out = rolling_zscore(df, "value", "ts", ["user"], "event_id",
                         window=5, min_periods=3)
    got = out.filter(F.col("z").isNotNull()).select("user", "z").collect()
    assert got, "expected some scored rows"
    # a's values are 1..3, b's 500..504: if windows mixed, |z| explodes
    assert all(abs(r.z) < 10 for r in got)


def test_zscore_single_exchange_plan(spark):
    """One shuffle on the key columns, no Python stages — the standard
    Spark window shape."""
    import re

    from frames_map_reduce_spark.plans import explain_formatted

    df = _z_frame(spark, [1, 2, 3])
    plan = explain_formatted(
        rolling_zscore(df, "value", "ts", ["user"], "event_id"))
    assert "EvalPython" not in plan and "InPandas" not in plan
    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1 and "user" in exchanges[0], exchanges


def test_zscore_rejects_bad_params(spark):
    df = _z_frame(spark, [1, 2, 3])
    with pytest.raises(ValueError):
        rolling_zscore(df, "value", "ts", ["user"], "event_id", window=0)
    with pytest.raises(ValueError):
        rolling_zscore(df, "value", "ts", ["user"], "event_id",
                       min_periods=1)


def test_zscore_overflow_guard_at_documented_boundary(spark):
    """The runtime magnitude guard (r10 verdict #5 / ADVICE): the widest
    intermediate is n·Σv² ≤ window²·v_milli², so the safe bound is
    isqrt(2⁶³−1)/window milli.  A value AT the bound scores; one past it
    raises the NAMED error from inside the plan — never an anonymous
    ANSI overflow, never a silent wrap."""
    window = 20
    v_limit = math.isqrt(2**63 - 1) // window   # milli-units
    # just inside the bound (a few thousand milli of slack so the
    # float round-trip through raw units cannot tip past the guard)
    at_bound = (v_limit - 5000) / 1000.0
    ok = _z_frame(spark, [at_bound - 2, at_bound - 1] * 4 + [at_bound])
    out = rolling_zscore(ok, "value", "ts", ["user"], "event_id",
                         window=window, min_periods=8)
    assert out.filter(F.col("z").isNotNull()).count() >= 1
    # past the bound: loud, named error (guard fires before any window
    # aggregate can overflow)
    bad = _z_frame(spark, [1.0, 2.0, (v_limit + 1000) / 1000.0])
    with pytest.raises(Exception, match="overflow-safe bound"):
        rolling_zscore(bad, "value", "ts", ["user"], "event_id",
                       window=window, min_periods=2).collect()
    # the EXTREME band (r11 ADVICE): raw |value| past ~9.2e15 used to
    # hit the anonymous ANSI double→bigint CAST_OVERFLOW inside the
    # quantize cast before the guard could evaluate — the guard now
    # compares in double space first, so the named error covers the
    # full band (including magnitudes past double's own 1.8e308 range,
    # where the multiply saturates to inf)
    for extreme in (1e16, -1e16, 1e308):
        worse = _z_frame(spark, [1.0, 2.0, extreme])
        with pytest.raises(Exception, match="overflow-safe bound"):
            rolling_zscore(worse, "value", "ts", ["user"], "event_id",
                           window=window, min_periods=2).collect()
    # NaN likewise gets the named error, not an anonymous ANSI cast trap
    nan_frame = _z_frame(spark, [1.0, 2.0, float("nan")])
    with pytest.raises(Exception, match="overflow-safe bound"):
        rolling_zscore(nan_frame, "value", "ts", ["user"], "event_id",
                       window=window, min_periods=2).collect()


# ---------------------------------------------------------------------------
# PSI drift monitor
# ---------------------------------------------------------------------------

def _vals_frame(spark, values):
    return spark.createDataFrame([(int(v),) for v in values], "v long")


def test_psi_identical_distributions_is_zero(spark):
    """ref == cur (same counts, same totals): p_b = q_b exactly in
    every bin, so every term is round(0 · ln 1) = 0 — PSI exactly 0,
    not epsilon."""
    from frames_map_reduce_spark.operators.quality import psi_drift

    df = _vals_frame(spark, [10, 20, 30, 40, 50, 60, 70, 80] * 3)
    out = psi_drift(df, df, "v", 0, 100, n_bins=5).collect()
    assert len(out) == 5
    assert all(r.psi_term_micro == 0 and r.psi_micro == 0 for r in out)


def test_psi_planted_shift_alerts(spark):
    """Disjoint distributions must cross the conventional 0.25
    investigate threshold (psi_micro > 250_000) by a wide margin."""
    from frames_map_reduce_spark.operators.quality import psi_drift

    ref = _vals_frame(spark, [5] * 40 + [15] * 40)
    cur = _vals_frame(spark, [85] * 40 + [95] * 40)
    out = psi_drift(ref, cur, "v", 0, 100, n_bins=10).collect()
    assert out[0].psi_micro > 250_000


def test_psi_clamps_out_of_range_into_edge_bins(spark):
    """Binning is total: values below lo land in bin 0, at/above hi in
    the last bin — no dropped rows (row counts conserve)."""
    from frames_map_reduce_spark.operators.quality import psi_drift

    ref = _vals_frame(spark, [-100, -1, 0, 99, 100, 7000])
    out = {r.bin: r for r in psi_drift(ref, ref, "v", 0, 100,
                                       n_bins=4).collect()}
    assert out[0].n_ref == 3        # -100, -1, 0
    assert out[3].n_ref == 3        # 99, 100, 7000
    assert sum(r.n_ref for r in out.values()) == 6


def test_psi_empty_bins_present_and_finite(spark):
    """Every bin row is emitted even when neither side populates it,
    and add-one smoothing keeps empty-vs-populated terms finite."""
    from frames_map_reduce_spark.operators.quality import psi_drift

    ref = _vals_frame(spark, [5] * 10)
    cur = _vals_frame(spark, [95] * 10)
    rows = psi_drift(ref, cur, "v", 0, 100, n_bins=10).collect()
    assert len(rows) == 10
    assert all(r.psi_term_micro is not None for r in rows)


def test_psi_rejects_bad_params(spark):
    from frames_map_reduce_spark.operators.quality import psi_drift

    df = _vals_frame(spark, [1])
    with pytest.raises(ValueError):
        psi_drift(df, df, "v", 10, 10)
    with pytest.raises(ValueError):
        psi_drift(df, df, "v", 0, 100, n_bins=1)


def test_quantile_breakpoints_equal_depth(spark):
    """Edges derived from uniform 0..99 at 10 bins: each bin holds
    exactly 10 values (equal depth is exact when N divides evenly and
    values are distinct)."""
    from frames_map_reduce_spark.operators.quality import (
        quantile_breakpoints,
    )

    df = _vals_frame(spark, range(100))
    bks = quantile_breakpoints(df, "v", n_bins=10)
    assert bks == [9, 19, 29, 39, 49, 59, 69, 79, 89]


def test_quantile_breakpoints_matches_duckdb_replay(spark):
    """The Spark derivation and the SQL twin must agree bit-for-bit —
    this identity is what lets the drift_psi_quantile oracle derive its
    own edges from the fixture."""
    import duckdb

    from frames_map_reduce_spark.operators.quality import (
        quantile_breakpoints,
        quantile_breakpoints_sql,
    )

    vals = [5, 5, 5, 7, 9, 9, 12, 40, 41, 41, 41, 41, 100]
    df = _vals_frame(spark, vals)
    got = quantile_breakpoints(df, "v", n_bins=4)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    want = [b for _, b in con.sql(
        quantile_breakpoints_sql("SELECT v FROM t", "v", n_bins=4)
        + " ORDER BY k").fetchall()]
    assert got == want


def test_psi_breakpoints_mode_identity_is_zero(spark):
    """ref == cur under explicit edges: PSI exactly 0 (same law as
    equal-width — the binning mode must not break it)."""
    from frames_map_reduce_spark.operators.quality import psi_drift

    df = _vals_frame(spark, [1, 5, 9, 20, 50, 90] * 4)
    out = psi_drift(df, df, "v", breakpoints=[5, 20, 60]).collect()
    assert len(out) == 4
    assert all(r.psi_micro == 0 for r in out)


def test_psi_breakpoints_validation(spark):
    from frames_map_reduce_spark.operators.quality import psi_drift

    df = _vals_frame(spark, [1])
    with pytest.raises(ValueError):
        psi_drift(df, df, "v", 0, 100, breakpoints=[5])   # both modes
    with pytest.raises(ValueError):
        psi_drift(df, df, "v", breakpoints=[])            # empty
    with pytest.raises(ValueError):
        psi_drift(df, df, "v", breakpoints=[9, 3])        # unsorted
    with pytest.raises(ValueError):
        psi_drift(df, df, "v")                            # neither mode


def test_psi_against_reference_identity_zero(spark):
    """Scoring the reference against its own frozen constants is
    EXACTLY zero — the monitoring loop's calibration law."""
    from frames_map_reduce_spark.operators.quality import (
        bin_counts,
        psi_against_reference,
        quantile_breakpoints,
    )

    df = _vals_frame(spark, [3, 8, 8, 15, 22, 22, 40, 77] * 5)
    bks = quantile_breakpoints(df, "v", n_bins=4)
    counts = bin_counts(df, "v", bks)
    row = psi_against_reference(df, "v", bks, counts).collect()[0]
    assert row.n_rows == 40 and row.psi_micro == 0


def test_psi_against_reference_empty_current(spark):
    """An empty current side still yields the one summary row (n_rows
    0, finite PSI of smoothed-uniform vs the reference) — a monitor
    must not go silent on an empty batch."""
    from frames_map_reduce_spark.operators.quality import (
        psi_against_reference,
    )

    empty = _vals_frame(spark, [1]).filter("v < 0")
    row = psi_against_reference(empty, "v", [10, 20], [5, 5, 5]).collect()[0]
    assert row.n_rows == 0 and row.psi_micro is not None


def test_psi_against_reference_validation(spark):
    from frames_map_reduce_spark.operators.quality import (
        psi_against_reference,
    )

    df = _vals_frame(spark, [1])
    with pytest.raises(ValueError):
        psi_against_reference(df, "v", [10, 20], [1, 2])      # len != B
    with pytest.raises(ValueError):
        psi_against_reference(df, "v", [20, 10], [1, 2, 3])   # unsorted
    with pytest.raises(ValueError):
        psi_against_reference(df, "v", [10, 20], [1, -1, 3])  # negative


def test_quantile_breakpoints_all_null_raises(spark):
    from frames_map_reduce_spark.operators.quality import (
        quantile_breakpoints,
    )

    df = spark.createDataFrame([(None,), (None,)], "v long")
    with pytest.raises(ValueError, match="no rows"):
        quantile_breakpoints(df, "v", n_bins=4)


def test_psi_lifecycle_planted_drift_crosses_alert(spark):
    """The persisted-reference PSI lifecycle (r10 verdict #6), asserted
    at the DECISION level: the reference population scored against its
    own persisted constants is exactly zero drift (no alert); the
    planted +300 n_chars shift must cross the conventional 0.25 alert
    line; and drift is monotone across the three staged batches."""
    import query_rigs

    from tests.conftest import SF_DIR

    rows = {r.batch_id: r
            for r in query_rigs.q_psi_lifecycle(spark, SF_DIR).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[0].psi_micro == 0 and rows[0].alert is False
    assert rows[2].psi_micro > 250_000 and rows[2].alert is True
    assert rows[0].psi_micro < rows[2].psi_micro
