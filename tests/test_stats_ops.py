"""Unit invariants for operators/stats.py — properties the fixture-bound
oracle queries can't exercise (identical samples, disjoint supports, empty
samples, tie handling)."""

from __future__ import annotations

import pytest

from connected_data_lake_spark.operators.stats import ks_two_sample
from connected_data_lake_spark.sources.tables import release_index


def _ks(spark, rows):
    df = spark.createDataFrame(rows, "value double, label string")
    out = ks_two_sample(df, "value", "label", "a", "b")
    row = out.collect()[0]
    release_index(out)
    return row


def test_identical_samples_give_zero(spark):
    rows = [(float(v), lab) for v in range(50) for lab in ("a", "b")]
    r = _ks(spark, rows)
    assert r["ks_d"] == 0.0
    assert r["n1"] == r["n2"] == 50


def test_disjoint_supports_give_one(spark):
    rows = [(float(v), "a") for v in range(30)] + [
        (float(v + 1000), "b") for v in range(40)
    ]
    r = _ks(spark, rows)
    assert r["ks_d"] == 1.0
    assert (r["n1"], r["n2"]) == (30, 40)


def test_ties_measured_at_group_boundaries(spark):
    # a = {0 x4}, b = {0 x2, 1 x2}: F_a(0)=1, F_b(0)=0.5 -> D = 0.5.
    # A within-tie row-level prefix would overshoot past the true CDF gap.
    rows = [(0.0, "a")] * 4 + [(0.0, "b")] * 2 + [(1.0, "b")] * 2
    r = _ks(spark, rows)
    assert r["ks_d"] == 0.5


def test_empty_sample_raises(spark):
    df = spark.createDataFrame([(1.0, "a")], "value double, label string")
    with pytest.raises(ValueError, match="empty sample"):
        ks_two_sample(df, "value", "label", "a", "b")


def test_other_labels_ignored(spark):
    rows = [(float(v), lab) for v in range(20) for lab in ("a", "b")] + [
        (999.0, "noise")
    ] * 10
    r = _ks(spark, rows)
    assert r["ks_d"] == 0.0
    assert r["n1"] == r["n2"] == 20


def test_ks_matches_sequential_reference_on_random_samples(spark):
    """Property: the distributed prefix-sum KS equals a sequential
    two-pointer reference on arbitrary small samples (hypothesis-driven;
    integer-valued so the comparison is exact after the 6dp round)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    def reference_d(xs, ys):
        pts = sorted(set(xs) | set(ys))
        n1, n2 = len(xs), len(ys)
        best = 0.0
        for p in pts:
            f1 = sum(1 for v in xs if v <= p) / n1
            f2 = sum(1 for v in ys if v <= p) / n2
            best = max(best, abs(f1 - f2))
        return round(best, 6)

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        xs=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=20),
        ys=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=20),
    )
    def check(xs, ys):
        rows = [(float(v), "a") for v in xs] + [(float(v), "b") for v in ys]
        r = _ks(spark, rows)
        assert r["ks_d"] == reference_d(xs, ys)
        assert (r["n1"], r["n2"]) == (len(xs), len(ys))

    check()
